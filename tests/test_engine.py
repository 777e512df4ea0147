"""End-to-end engine facade: the reference's flow-test scenarios
(tests/flow/test_ts_add.py, test_ts_createrule.py, test_ooo.py shapes)
driven through the TS.* command surface."""

import math

import pytest

from tests.conftest import count_jobs

from redistimeseries_spark.engine import (
    TimeSeriesEngine,
    parse_compaction_policy,
    parse_duration_ms,
)


@pytest.fixture
def eng(spark):
    return TimeSeriesEngine(spark, duplicate_policy="last")


def test_duration_parsing():
    assert parse_duration_ms("1500") == 1500
    assert parse_duration_ms("5m") == 5
    assert parse_duration_ms("10s") == 10_000
    assert parse_duration_ms("2M") == 120_000
    assert parse_duration_ms("1h") == 3_600_000
    assert parse_duration_ms("2d") == 172_800_000
    with pytest.raises(ValueError):
        parse_duration_ms("1x")


def test_policy_parsing():
    rules = parse_compaction_policy("max:1M:1h;avg:2h:10d:30s")
    assert (rules[0].agg, rules[0].bucket_ms, rules[0].retention_ms) == ("max", 60_000, 3_600_000)
    assert (rules[1].agg, rules[1].align_ts) == ("avg", 30_000)


def test_create_add_range(eng):
    eng.create("cpu", labels={"host": "h1"})
    eng.madd([("cpu", 1000, 1.0), ("cpu", 2000, 2.0), ("cpu", 3000, 3.0)])
    out = eng.range("cpu", 1000, 2500).collect()
    assert [(r.ts, r.value) for r in out] == [(1000, 1.0), (2000, 2.0)]
    assert eng.get("cpu") == (3000, 3.0)


def test_out_of_order_upsert_last(eng):
    eng.create("s")
    eng.madd([("s", 1000, 1.0), ("s", 3000, 3.0)])
    eng.add("s", 2000, 99.0)  # out-of-order insert (test_ooo.py shape)
    eng.add("s", 1000, 5.0)  # collision -> LAST wins
    out = eng.range("s").collect()
    assert [(r.ts, r.value) for r in out] == [(1000, 5.0), (2000, 99.0), (3000, 3.0)]


def test_block_policy_keeps_first(spark):
    eng = TimeSeriesEngine(spark)  # default block
    eng.create("s")
    eng.add("s", 1000, 1.0)
    eng.add("s", 1000, 2.0)
    assert eng.get("s") == (1000, 1.0)


def test_incrby(eng):
    eng.create("c")
    eng.incrby("c", 5.0, ts=10)
    eng.incrby("c", 2.5, ts=20)
    eng.decrby("c", 1.0, ts=30)
    assert eng.get("c") == (30, 6.5)
    with pytest.raises(ValueError):
        eng.incrby("c", 1.0, ts=5)


def test_incrby_chain_is_o1(eng):
    """After the first scan, a chain of TS.INCRBY calls must run entirely
    on the driver-side lastSample cache — the reference's O(1) incrby,
    not an O(history) scan per call.  Proven by breaking the storage
    DataFrame mid-chain: if any incrby touched it, it would raise."""
    eng.create("c")
    eng.incrby("c", 5.0, ts=10)  # primes the cache (one scan)
    saved = eng._samples
    eng._samples = None  # any storage access now explodes
    try:
        eng.incrby("c", 2.0)
        eng.incrby("c", 3.0)
        eng.decrby("c", 1.0)
    finally:
        eng._samples = saved
    assert eng.get("c") == (13, 9.0)
    # a foreign add invalidates the cache (dup fold decides at flush)
    eng.add("c", 14, 100.0)
    eng.incrby("c", 1.0)
    assert eng.get("c") == (15, 101.0)
    # TS.DEL invalidates too: the cached last may be the deleted row
    eng.delete("c", 15, 15)
    eng.incrby("c", 1.0, ts=40)
    assert eng.get("c") == (40, 101.0)
    # IGNORE-configured series never trust the chain (flush may drop)
    eng.create("ig", ignore_max_time_diff=1000, ignore_max_val_diff=100.0)
    eng.incrby("ig", 5.0, ts=10)
    eng.incrby("ig", 1.0, ts=20)  # ignored: dt<=1000 and dv<=100
    assert eng.get("ig") == (10, 5.0)


def test_ignore_judges_pending_writes_only(spark):
    """IGNORE filters each write once, on arrival, and only under LAST
    (src/module.c:986-1023): an out-of-order write is an upsert and must
    not re-run the kept-chain over stored samples (which dropped the
    stored sample at ts 20), and a `sum` series ignores nothing."""
    eng = TimeSeriesEngine(spark, duplicate_policy="last")
    eng.create("s", ignore_max_time_diff=10, ignore_max_val_diff=1.0)
    eng.add("s", 0, 0.0)
    eng.add("s", 20, 0.5)
    eng.flush()
    eng.add("s", 15, 0.2)
    got = sorted((r.ts, r.value) for r in eng.range("s").collect())
    assert got == [(0, 0.0), (15, 0.2), (20, 0.5)]
    # the chain continues from the stored last sample (20, 0.5)
    eng.add("s", 25, 0.9)  # within both diffs: ignored
    eng.add("s", 40, 0.9)  # dt = 20 > 10: kept
    assert eng.get("s") == (40, 0.9)
    assert 25 not in {r.ts for r in eng.range("s").collect()}

    eng.create(
        "t", duplicate_policy="sum", ignore_max_time_diff=10, ignore_max_val_diff=1.0
    )
    eng.add("t", 0, 0.0)
    eng.add("t", 5, 0.5)
    assert sorted((r.ts, r.value) for r in eng.range("t").collect()) == [
        (0, 0.0),
        (5, 0.5),
    ]


def test_mget_latest_collect_is_dest_bounded(eng):
    """mget(latest)'s only driver materialization is the matched∩dests
    set, computed via a broadcast semi-join against the (catalog-sized)
    dest list — not a collect of every matched key."""
    eng.create("src", labels={"t": "x"})
    eng.create("dst", labels={"t": "x"})
    eng.create_rule("src", "dst", "avg", 1000)
    eng.madd([("src", 0, 1.0), ("src", 500, 3.0), ("src", 1500, 9.0)])
    got = {r.key: (r.ts, r.value) for r in eng.mget(["t=x"], latest=True).collect()}
    assert got["src"] == (1500, 9.0)
    assert got["dst"] == (1000, 9.0)  # open bucket finalized


def test_compaction_rule_and_latest(eng):
    eng.create("src")
    eng.create("dst")
    eng.create_rule("src", "dst", "avg", 1000)
    eng.madd([("src", 0, 1.0), ("src", 500, 3.0), ("src", 1000, 10.0), ("src", 2100, 7.0)])
    closed = eng.range("dst").collect()  # open bucket (2000) excluded
    assert [(r.ts, r.value) for r in closed] == [(0, 2.0), (1000, 10.0)]
    assert eng.get("dst") == (1000, 10.0)
    assert eng.get("dst", latest=True) == (2000, 7.0)
    eng.delete_rule("src", "dst")
    assert not eng.rules


def test_increase_rule_through_engine_facade(eng):
    """TS.CREATERULE with the round-7 `increase` aggregator: the engine's
    dest materialization, LATEST open-bucket finalize, and GET all route
    the counter rollup like any reference aggregator.  Chain: 1, 5, 2
    (reset -> step 2), 9 (step 7), 4 (reset -> step 4)."""
    eng.create("c")
    eng.create("c_inc")
    eng.create_rule("c", "c_inc", "increase", 1000)
    eng.madd([
        ("c", 0, 1.0), ("c", 400, 5.0), ("c", 800, 2.0),
        ("c", 1200, 9.0), ("c", 2100, 4.0),
    ])
    closed = eng.range("c_inc").collect()
    # b0: steps 4 (1->5) + 2 (reset) = 6; b1: 7; open bucket (2000) cut
    assert [(r.ts, r.value) for r in closed] == [(0, 6.0), (1000, 7.0)]
    assert eng.get("c_inc", latest=True) == (2000, 4.0)  # reset: new value
    # rate rule = increase / bucket-seconds, same machinery
    eng.create("c_r")
    eng.create_rule("c", "c_r", "rate", 2000)
    got = {r.ts: r.value for r in eng.range("c_r", latest=True).collect()}
    assert got == {0: (6.0 + 7.0) / 2.0, 2000: 4.0 / 2.0}


def test_retention_clamps_range(eng):
    eng.create("r", retention=5000)
    eng.madd([("r", 0, 1.0), ("r", 4000, 2.0), ("r", 10_000, 3.0)])
    out = eng.range("r").collect()
    # horizon = last(10000) - retention(5000): only ts >= 5000 survive
    assert [r.ts for r in out] == [10_000]


def _too_old(reply) -> bool:
    return isinstance(reply, ValueError) and str(reply) == (
        "TSDB: Timestamp is older than retention"
    )


def test_write_older_than_retention_rejected(eng):
    """A write older than the series' last ts - retention is rejected
    (src/module.c:1006-1012): MADD replies the reference's error for it,
    and it reaches neither the series nor its compaction dest; deleting
    the newer samples does not uncover it.  Within one call the horizon
    follows the writes accepted before.  `flush` keeps the same check for
    writes queued before the series had retention."""
    eng.create("s", retention=1000)
    eng.create("d")
    eng.create_rule("s", "d", "count", 10_000)
    eng.add("s", 5000, 1.0)
    eng.flush()
    (reply,) = eng.madd([("s", 100, 7.0)])
    assert _too_old(reply)
    with pytest.raises(ValueError, match="older than retention"):
        eng.add("s", 3999, 7.0)
    assert [(r.ts, r.value) for r in eng.range("d", latest=True).collect()] == [
        (0, 1.0)
    ]
    assert eng.delete("s", 5000, 5000) == 1
    assert eng.range("s").collect() == []
    # empty series: 9000 is accepted and moves the horizon to 8000, so
    # 7500 is rejected and 8500 accepted
    out = eng.madd([("s", 9000, 1.0), ("s", 7500, 2.0), ("s", 8500, 3.0)])
    assert out[0] == 9000 and _too_old(out[1]) and out[2] == 8500
    assert [(r.ts, r.value) for r in eng.range("d", latest=True).collect()] == [
        (0, 2.0)
    ]
    # queued while "t" had no retention: only flush can judge 100
    eng.create("t")
    assert eng.madd([("t", 5000, 1.0), ("t", 100, 2.0)]) == [5000, 100]
    eng.alter("t", retention=1000)
    assert [r.ts for r in eng.range("t").collect()] == [5000]


def test_madd_retention_check_job_budget(spark, eng):
    """The add-time horizon costs at most one aggregate query per MADD
    call (seeded for every retention series in the call at once, then
    advanced on the driver) — two Spark jobs under AQE, its shuffle stage
    and its result — and no job when no series in the call has
    retention."""
    for k in ("r1", "r2", "r3"):
        eng.create(k, retention=1000)
    eng.create("plain")
    eng.madd([(k, 5000, 1.0) for k in ("r1", "r2", "r3", "plain")])
    eng.flush()
    for k in ("r1", "r2", "r3"):
        eng.delete(k, 0, 0)  # forgets the horizon: the next call seeds it
    triples = [(k, ts, 1.0) for ts in (6000, 100, 7000) for k in ("r1", "r2", "r3")]
    out, jobs = count_jobs(spark, lambda: eng.madd(triples))
    assert jobs <= 2, jobs
    assert [_too_old(r) for r in out] == [False] * 3 + [True] * 3 + [False] * 3
    out, jobs = count_jobs(spark, lambda: eng.madd([("plain", 1, 1.0), ("new", 2, 2.0)]))
    assert (out, jobs) == ([1, 2], 0)


def test_get_mget_from_last_sample(spark, eng):
    """TS.GET and TS.MGET of plain series answer from the catalog's last
    sample: the first read fills it for every plain series with one
    aggregate query, the reads after it run no Spark job, and every
    write, DEL, rename and drop shows in the next answer."""
    eng.create("a", labels={"t": "x"})
    eng.create("b", labels={"t": "x"})
    eng.create("empty", labels={"t": "x"})
    eng.madd([("a", 1000, 1.0), ("a", 3000, float("nan")), ("b", 2000, 5.0), ("b", 500, 6.0)])
    eng.flush()

    def mget():
        return {r.key: (r.ts, r.value) for r in eng.mget(["t=x"]).collect()}

    assert count_jobs(spark, lambda: eng.get("a"))[1] > 0
    got, jobs = count_jobs(spark, lambda: (eng.get("a"), eng.get("b"), mget()))
    assert jobs == 0, jobs
    assert got[0][0] == 3000 and math.isnan(got[0][1])
    assert got[1] == (2000, 5.0)
    assert set(got[2]) == {"a", "b"} and got[2]["b"] == (2000, 5.0)
    assert count_jobs(spark, lambda: eng.get("empty")) == (None, 0)
    eng.add("b", 4000, 7.0)
    assert eng.get("b") == (4000, 7.0)
    assert eng.delete("b", 3500, 4500) == 1
    assert eng.get("b") == (2000, 5.0)
    assert mget()["b"] == (2000, 5.0)
    eng.rename("b", "c")
    assert eng.get("c") == (2000, 5.0)
    assert set(mget()) == {"a", "c"}
    eng.drop("a")
    assert count_jobs(spark, mget) == ({"c": (2000, 5.0)}, 0)
    labelled = eng.mget(["t=x"], with_labels_flag=True).collect()
    assert [(r.key, r.t) for r in labelled] == [("c", "x")]


def test_del_and_info(eng):
    eng.create("d", labels={"a": "b"})
    eng.madd([("d", i * 1000, float(i)) for i in range(10)])
    assert eng.delete("d", 2000, 4000) == 3
    info = eng.info("d")
    assert info["total_samples"] == 7
    assert info["labels"] == {"a": "b"}


def test_auto_rules_from_policy(spark):
    eng = TimeSeriesEngine(spark, compaction_policy="max:1s:1h", duplicate_policy="last")
    eng.create("m")
    assert any(r.src_key == "m" and r.agg == "max" for r in eng.rules)
    eng.madd([("m", 0, 5.0), ("m", 200, 9.0), ("m", 1500, 2.0)])
    dest = eng.rules[0].dest_key
    out = eng.range(dest).collect()
    assert [(r.ts, r.value) for r in out] == [(0, 9.0)]


def test_read_cursor(eng):
    eng.create("t")
    eng.madd([("t", i * 100, float(i)) for i in range(5)])
    rows, cur = eng.read("t", cursor=200)
    assert rows == [(200, 2.0), (300, 3.0), (400, 4.0)]
    rows2, cur2 = eng.read("t", cursor=cur)
    assert rows2 == [] and cur2 == cur
    eng.add("t", 600, 6.0)
    rows3, _ = eng.read("t", cursor=cur)
    assert rows3 == [(600, 6.0)]
    # min_count gate: not enough rows -> empty
    rows4, _ = eng.read("t", cursor="$", min_count=2)
    assert rows4 == []


def test_read_pages_without_max_count(eng, monkeypatch):
    """No max_count never means an unbounded collect: reads page at
    DEFAULT_READ_CAP and the cursor drains the rest."""
    import redistimeseries_spark.streaming.ingest as ingest

    monkeypatch.setattr(ingest, "DEFAULT_READ_CAP", 3)
    eng.create("pg")
    eng.madd([("pg", i * 10, float(i)) for i in range(7)])
    rows, cur = eng.read("pg")
    assert [t for t, _ in rows] == [0, 10, 20]  # one page, not the suffix
    rows2, cur2 = eng.read("pg", cursor=cur)
    assert [t for t, _ in rows2] == [30, 40, 50]
    rows3, _ = eng.read("pg", cursor=cur2)
    assert [t for t, _ in rows3] == [60]


def test_del_cascades_into_rule_dest(eng):
    # ContinuousDeletion (src/tsdb.c:772-793): deleting src samples must be
    # reflected in the rule destination. Dest materializes from src on read,
    # so consistency is structural — prove it.
    eng.create("src")
    eng.create("dst")
    eng.create_rule("src", "dst", "sum", 1000)
    eng.madd([("src", 0, 1.0), ("src", 500, 3.0), ("src", 1500, 10.0), ("src", 2500, 1.0)])
    assert [(r.ts, r.value) for r in eng.range("dst").collect()] == [(0, 4.0), (1000, 10.0)]
    eng.delete("src", 400, 600)  # removes the 500 sample
    assert [(r.ts, r.value) for r in eng.range("dst").collect()] == [(0, 1.0), (1000, 10.0)]


def test_alter_relabel_reindexes(eng):
    eng.create("x", labels={"env": "dev"})
    assert eng.queryindex(["env=dev"]) == ["x"]
    eng.alter("x", labels={"env": "prod", "team": "a"})
    assert eng.queryindex(["env=dev"]) == []
    assert eng.queryindex(["env=prod", "team=a"]) == ["x"]


def test_mget_latest_on_compaction_dest(eng):
    eng.create("src", labels={"kind": "raw"})
    eng.create("dst", labels={"kind": "agg"})
    eng.create_rule("src", "dst", "avg", 1000)
    eng.madd([("src", 0, 1.0), ("src", 500, 3.0), ("src", 1500, 10.0)])
    closed = {r.key: (r.ts, r.value) for r in eng.mget(["kind=agg"]).collect()}
    assert closed["dst"] == (0, 2.0)  # open bucket 1000 excluded
    latest = {r.key: (r.ts, r.value) for r in eng.mget(["kind=agg"], latest=True).collect()}
    assert latest["dst"] == (1000, 10.0)


def test_mrange_latest_on_compaction_dest(eng):
    """MRANGE sees dest series (src/module.c:624-688); LATEST finalizes the
    open bucket (src/tsdb.c:1468-1501)."""
    eng.create("src", labels={"kind": "raw"})
    eng.create("dst", labels={"kind": "agg"})
    eng.create_rule("src", "dst", "avg", 1000)
    eng.madd([("src", 0, 1.0), ("src", 500, 3.0), ("src", 1500, 10.0)])
    closed = [(r.ts, r.value) for r in eng.mrange(["kind=agg"]).collect()]
    assert closed == [(0, 2.0)]  # open bucket 1000 excluded by default
    latest = [(r.ts, r.value) for r in eng.mrange(["kind=agg"], latest=True).collect()]
    assert latest == [(0, 2.0), (1000, 10.0)]


def test_nrange_latest_on_compaction_dest(eng):
    """NRANGE addresses dest keys like any series and LATEST finalizes the
    open bucket (commands.json TS.NRANGE/TS.NREVRANGE carry LATEST)."""
    eng.create("nsrc", labels={"kind": "nraw"})
    eng.create("ndst", labels={"kind": "nagg"})
    eng.create_rule("nsrc", "ndst", "sum", 1000)
    eng.madd([("nsrc", 0, 1.0), ("nsrc", 500, 3.0), ("nsrc", 1500, 10.0)])
    closed = [(r.ts, r.ndst) for r in
              eng.nrange(["ndst"]).orderBy("ts").collect()]
    assert closed == [(0, 4.0)]
    latest = [(r.ts, r.ndst) for r in
              eng.nrange(["ndst"], latest=True).orderBy("ts").collect()]
    assert latest == [(0, 4.0), (1000, 10.0)]


def test_queryindex_querylabels(eng):
    eng.create("a", labels={"t": "x", "r": "eu"})
    eng.create("b", labels={"t": "y", "r": "eu"})
    assert eng.queryindex(["r=eu"]) == ["a", "b"]
    assert eng.queryindex(["r=eu", "t!=x"]) == ["b"]
    assert eng.querylabels("labels") == ["r", "t"]
    assert eng.querylabels("values", "t") == ["x", "y"]


def test_madd_per_triple_results(eng):
    eng.create("pt")
    res = eng.madd([("pt", 1000, 1.0), ("pt", -5, 2.0), ("pt", 2000, 3.0)])
    # success -> resolved ts; failure -> the error; failed triple not ingested
    assert res[0] == 1000 and res[2] == 2000
    assert isinstance(res[1], ValueError)
    eng.flush()
    assert sorted(r.ts for r in eng.range("pt").collect()) == [1000, 2000]


def test_info_debug_chunks(eng):
    eng.create("dk")
    day = 86_400_000
    eng.madd([("dk", 100, 1.0), ("dk", 200, 2.0), ("dk", day + 300, 3.0)])
    eng.flush()
    info = eng.info("dk", debug=True)
    assert info["total_samples"] == 3
    chunks = info["chunks"]
    assert [(c["chunk"], c["samples"]) for c in chunks] == [(0, 2), (1, 1)]
    assert chunks[0]["first_timestamp"] == 100 and chunks[0]["last_timestamp"] == 200


def test_mrange_applies_per_series_retention(eng):
    """Per-series retention clamps every range query (src/tsdb.c:1367-1374),
    including the multi-series pipeline; series without retention pass."""
    eng.create("ra", retention=1000, labels={"grp": "g"})
    eng.create("rb", labels={"grp": "g"})  # unlimited
    eng.madd([("ra", 0, 1.0), ("ra", 500, 2.0), ("ra", 5000, 3.0),
              ("rb", 0, 7.0), ("rb", 5000, 8.0)])
    got = {(r.key, r.ts) for r in eng.mrange(["grp=g"]).collect()}
    # ra horizon = 5000 - 1000 = 4000: ts 0/500 clamped; rb keeps everything
    assert got == {("ra", 5000), ("rb", 0), ("rb", 5000)}


def test_madd_status_distributed_matches_sequential(spark):
    """madd_status's two-window formulation equals a literal sequential
    replay of the reference's per-triple accept/reject chain
    (src/module.c:1115-1161, src/tsdb.c:676-705)."""
    from redistimeseries_spark.write.mutate import madd_status

    triples = [  # (key, ts, seq) — crafted dups + late arrivals
        ("a", 100, 1), ("a", 200, 2), ("a", 100, 3),  # dup of accepted
        ("a", 1000, 4), ("a", 50, 5),  # late: 50 < 1000 - 500
        ("a", 50, 6),  # late again (same ts as a rejected triple)
        ("b", 10, 7), ("b", 10, 8), ("b", 20, 9),
    ]
    retention = 500
    df = spark.createDataFrame(
        [(k, t, float(t), s) for k, t, s in triples],
        "key string, ts long, value double, seq long",
    )
    got = {r.seq: r.status for r in madd_status(df, retention_ms=retention).collect()}

    # sequential oracle
    last, seen, want = {}, set(), {}
    for k, t, s in sorted(triples, key=lambda x: x[2]):
        if k in last and t < last[k] - retention:
            want[s] = "LATE"
        elif (k, t) in seen:
            want[s] = "DUPLICATE"
        else:
            want[s] = "OK"
            seen.add((k, t))
            last[k] = max(last.get(k, 0), t)
    assert got == want


def test_engine_range_rollup_routes_and_matches(spark):
    from redistimeseries_spark.engine import TimeSeriesEngine

    eng = TimeSeriesEngine(spark)
    eng.create("src")
    eng.create("src_max_100")
    eng.create_rule("src", "src_max_100", "max", 100)
    for t, v in [(0, 5.0), (40, 2.0), (120, 7.0), (980, 1.0), (1010, 4.0), (1900, 9.0)]:
        eng.add("src", t, v)
    routed = {(r.ts): r.max for r in eng.range_rollup("src", "max", 1000).collect()}
    direct = {(r.ts): r.max for r in eng.range("src", aggregations=["max"], bucket_dur=1000).collect()}
    assert routed == direct and routed  # exact rewrite
    # no compatible rule (avg not composable) -> falls back to raw samples
    fb = {(r.ts): r.avg for r in eng.range_rollup("src", "avg", 1000).collect()}
    want = {(r.ts): r.avg for r in eng.range("src", aggregations=["avg"], bucket_dur=1000).collect()}
    assert fb == want


def test_engine_asof_join(spark):
    from redistimeseries_spark.engine import TimeSeriesEngine

    eng = TimeSeriesEngine(spark)
    eng.create("trades")
    eng.create("quotes")
    for t, v in [(100, 1.0), (300, 2.0)]:
        eng.add("trades", t, v)
    eng.add("quotes", 90, 10.0)
    eng.add("quotes", 250, 20.0)
    got = {r.ts: (r.right_ts, r.right_value) for r in eng.asof_join("trades", "quotes").collect()}
    assert got == {100: (90, 10.0), 300: (250, 20.0)}


def test_range_rollup_falls_back_on_unaligned_range(spark):
    """A from/to not covering whole fine buckets must NOT route: the fine
    bucket straddling the edge has folded samples the raw plan excludes."""
    from redistimeseries_spark.engine import TimeSeriesEngine

    eng = TimeSeriesEngine(spark)
    eng.create("src")
    eng.create("d")
    eng.create_rule("src", "d", "max", 100)
    eng.add("src", 900, 7.0)
    eng.add("src", 980, 100.0)
    # raw plan over [0, 920] excludes ts=980 -> bucket 0 max 7.0
    got = {r.ts: r.max for r in eng.range_rollup("src", "max", 1000, 0, 920).collect()}
    assert got == {0: 7.0}
    # aligned range still routes and agrees
    routed = {r.ts: r.max for r in eng.range_rollup("src", "max", 1000, 0, 999).collect()}
    assert routed == {0: 100.0}


def test_range_rollup_falls_back_when_src_has_retention(spark):
    """The dest materializes from unclamped samples; src retention makes
    the rewrite inexact, so it must take the raw path."""
    from redistimeseries_spark.engine import TimeSeriesEngine

    eng = TimeSeriesEngine(spark)
    eng.create("src", retention=1000)
    eng.create("d")
    eng.create_rule("src", "d", "max", 100)
    eng.add("src", 0, 99.0)
    eng.add("src", 5000, 1.0)
    got = {r.ts: r.max for r in eng.range_rollup("src", "max", 1000).collect()}
    want = {r.ts: r.max for r in eng.range("src", aggregations=["max"], bucket_dur=1000).collect()}
    assert got == want and 0 not in got  # ts=0 clamped out on both paths


def test_range_rollup_falls_back_when_dest_has_retention(spark):
    """A retention-bearing dest clamps its materialized fine buckets; the
    raw plan does not — such a rule must not route."""
    from redistimeseries_spark.engine import TimeSeriesEngine

    eng = TimeSeriesEngine(spark)
    eng.create("src")
    eng.create("d", retention=1000)
    eng.create_rule("src", "d", "max", 100)
    eng.add("src", 0, 99.0)
    eng.add("src", 5000, 1.0)
    got = {r.ts: r.max for r in eng.range_rollup("src", "max", 1000).collect()}
    want = {r.ts: r.max for r in eng.range("src", aggregations=["max"], bucket_dur=1000).collect()}
    assert got == want and got[0] == 99.0  # raw semantics kept


def test_mget_many_dests_single_pass(spark):
    """MGET over N matched compaction destinations must run a Spark job
    count INDEPENDENT of N (one dest-materialization pass), not one
    .take(1) job per dest key (round-3 verdict: engine.py mget loop)."""

    def run(n, group):
        eng = TimeSeriesEngine(spark, duplicate_policy="last")
        for i in range(n):
            eng.create(f"src{i}", labels={"kind": "raw"})
            eng.create(f"dst{i}", labels={"kind": "agg"})
            eng.create_rule(f"src{i}", f"dst{i}", "avg", 1000)
            eng.madd([(f"src{i}", 0, float(i)), (f"src{i}", 500, float(i) + 2.0),
                      (f"src{i}", 1500, 10.0)])
        eng.flush()
        sc = eng.spark.sparkContext
        sc.setJobGroup(group, "count jobs")
        got = {r.key: (r.ts, r.value)
               for r in eng.mget(["kind=agg"], latest=True).collect()}
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        sc.setJobGroup(None, None)
        assert len(got) == n
        for i in range(n):
            assert got[f"dst{i}"] == (1000, 10.0)
        return len(jobs)

    j_small, j_big = run(3, "mget_small"), run(12, "mget_big")
    # with the old per-key loop this would grow by >= 9 extra jobs
    assert j_big <= j_small + 2, (j_small, j_big)


def test_dest_plan_flat_for_shared_rule_config(eng):
    """50 rules sharing one (agg, bucket, align) config must materialize as
    ONE aggregation + broadcast rename, not 50 union branches."""
    for i in range(50):
        eng.create(f"s{i}")
        eng.create(f"d{i}")
        eng.create_rule(f"s{i}", f"d{i}", "avg", 1000)
    eng.madd([(f"s{i}", t, 1.0) for i in range(50) for t in (0, 1500)])
    eng.flush()
    plan = eng._samples_with_dests(False)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") <= 3, plan.count("Aggregate")
    # and a spot dest still materializes the right closed bucket
    assert [(r.ts, r.value) for r in eng.range("d7").collect()] == [(0, 1.0)]


def test_rename_src_dst_and_index(eng):
    """Generic RENAME semantics (tests/flow/test_rename.py): renaming a
    rule SOURCE updates the dest's source_key; renaming a rule DEST updates
    the source's rules list; the label index follows so MGET finds the new
    key; samples follow; RENAME onto an existing series overwrites it."""
    eng.create("a1", labels={"area": "32"})
    eng.create("b")
    eng.add("a1", 100, 200.0)
    eng.rename("a1", "a2")
    assert "a1" not in eng.series and eng.info("a2")["source_key"] is None

    eng.create_rule("a2", "b", "avg", 5000)
    assert eng.info("b")["source_key"] == "a2"

    # rename the source again: dest's source_key follows
    eng.rename("a2", "a3")
    assert eng.info("b")["source_key"] == "a3"
    assert [r.src_key for r in eng.rules] == ["a3"]

    # rename the dest: the rule's dest reference follows
    eng.rename("b", "b1")
    assert [(r.src_key, r.dest_key) for r in eng.rules] == [("a3", "b1")]
    assert eng.info("b1")["source_key"] == "a3"

    # label index + samples followed through every rename
    got = {r.key: (r.ts, r.value) for r in eng.mget(["area=32"]).collect()}
    assert got == {"a3": (100, 200.0)}
    assert eng.queryindex(["area=32"]) == ["a3"]

    # RENAME onto an existing key overwrites it (Redis semantics)
    eng.create("c", labels={"area": "64"})
    eng.add("c", 5, 1.0)
    eng.rename("a3", "c")
    assert eng.queryindex(["area=32"]) == ["c"] and eng.queryindex(["area=64"]) == []
    assert eng.get("c") == (100, 200.0)
    # the clobbered dest's rule went with it
    assert all("c" != r.dest_key or r.src_key != "a3" for r in eng.rules)


def test_del_key_lazy_rule_cleanup(eng):
    """DEL of a series key (tests/flow/test_lazy_del.py): deleting the
    SOURCE removes its rules and clears the dest's source_key while the
    dest KEEPS already-compacted buckets; deleting the DEST removes the
    source's rule."""
    eng.create("src")
    eng.create("dst")
    eng.create_rule("src", "dst", "avg", 1000)
    eng.madd([("src", 0, 1.0), ("src", 500, 3.0), ("src", 1500, 10.0)])
    # bucket 0 is closed (sample at 1500 opened bucket 1000)
    eng.drop("src")
    assert "src" not in eng.series and not eng.rules
    assert eng.info("dst")["source_key"] is None
    # dest kept its compacted closed bucket
    assert [(r.ts, r.value) for r in eng.range("dst").collect()] == [(0, 2.0)]

    eng.create("s2")
    eng.create("d2")
    eng.create_rule("s2", "d2", "avg", 1000)
    eng.drop("d2")
    assert not eng.rules and eng.info("s2")["source_key"] is None


def test_deleterule_keeps_compacted_dest(eng):
    """TS.DELETERULE leaves the dest as a plain series holding the buckets
    its rule had written (the open bucket's context is discarded)."""
    eng.create("src")
    eng.create("dst")
    eng.create_rule("src", "dst", "sum", 1000)
    eng.madd([("src", 0, 1.0), ("src", 500, 3.0), ("src", 1500, 10.0)])
    eng.delete_rule("src", "dst")
    assert not eng.rules
    assert [(r.ts, r.value) for r in eng.range("dst").collect()] == [(0, 4.0)]
    # and new src writes no longer flow into it
    eng.madd([("src", 2500, 7.0)])
    assert [(r.ts, r.value) for r in eng.range("dst").collect()] == [(0, 4.0)]


def test_drop_discards_buffered_writes(eng):
    """DEL must also kill buffered (unflushed) samples for the key — a
    recreated key must not resurrect them on the next flush."""
    eng.create("x")
    eng.add("x", 1, 1.0)  # buffered, not yet flushed
    eng.drop("x")
    eng.create("x")
    eng.add("x", 2, 2.0)
    assert [(r.ts, r.value) for r in eng.range("x").collect()] == [(2, 2.0)]


def test_rename_to_self_is_noop(eng):
    eng.create("a", labels={"t": "1"})
    eng.add("a", 1, 1.0)
    eng.rename("a", "a")
    assert eng.get("a") == (1, 1.0) and eng.queryindex(["t=1"]) == ["a"]


def test_recreate_rule_on_frozen_dest_merges(eng):
    """Re-creating a rule on a dest that kept frozen buckets from a deleted
    rule: the new rule's buckets upsert OVER the frozen ones at their ts
    (reference DP_LAST upsert into a non-empty dest); stored-only buckets
    survive; no duplicate (key, ts) rows anywhere."""
    eng.create("src")
    eng.create("dst")
    eng.create_rule("src", "dst", "sum", 1000)
    eng.madd([("src", 0, 1.0), ("src", 500, 3.0), ("src", 1500, 10.0)])
    eng.delete_rule("src", "dst")  # freezes (dst, 0, 4.0)
    eng.delete("src", 0, 999)      # rewrite history under the new rule
    eng.create_rule("src", "dst", "avg", 1000)
    eng.madd([("src", 2500, 7.0)])  # closes bucket 1000 under avg
    got = sorted((r.ts, r.value) for r in eng.range("dst").collect())
    # frozen bucket 0 (sum=4.0) survives; bucket 1000 comes from the NEW
    # avg rule (10.0); open bucket 2000 excluded
    assert got == [(0, 4.0), (1000, 10.0)]
    rows = eng.mrange(["__nolabel__!="], from_ts="-", to_ts="+").collect()
    # no duplicate (key, ts) anywhere in the multi-series view
    seen = [(r.key, r.ts) for r in eng._samples_with_dests(False).collect()]
    assert len(seen) == len(set(seen))


def test_double_freeze_no_duplicate_rows(eng):
    """Re-freezing an already-frozen dest (DELETERULE -> CREATERULE ->
    DELETERULE) must upsert — not append — into the stored dest rows:
    the second freeze's buckets REPLACE the first freeze's rows at the
    same ts (reference DP_LAST upsert, src/tsdb.c:622-660), leaving one
    row per (key, ts)."""
    eng.create("src")
    eng.create("dst")
    eng.create_rule("src", "dst", "sum", 1000)
    eng.madd([("src", 0, 1.0), ("src", 500, 3.0), ("src", 1500, 10.0)])
    eng.delete_rule("src", "dst")  # freeze #1: (dst, 0, 4.0)
    eng.create_rule("src", "dst", "avg", 1000)
    eng.delete_rule("src", "dst")  # freeze #2: avg -> (dst, 0, 2.0); open bucket discarded
    got = sorted((r.ts, r.value) for r in eng.range("dst").collect())
    assert got == [(0, 2.0)]
    seen = [(r.key, r.ts) for r in eng._samples.collect()]
    assert len(seen) == len(set(seen))

    # DEL of the src after a prior freeze is the same re-freeze path
    eng.create("s2")
    eng.create("d2")
    eng.create_rule("s2", "d2", "sum", 1000)
    eng.madd([("s2", 0, 1.0), ("s2", 1500, 2.0)])
    eng.delete_rule("s2", "d2")
    eng.create_rule("s2", "d2", "max", 1000)
    eng.drop("s2")  # re-freezes d2 via the drop path
    got = sorted((r.ts, r.value) for r in eng.range("d2").collect())
    assert got == [(0, 1.0)]
    seen = [(r.key, r.ts) for r in eng._samples.collect()]
    assert len(seen) == len(set(seen))


def test_engine_counter_and_smoothing_facade(eng):
    """The beyond-reference companions ride the facade: increase/rate
    follow the key's samples with resets handled; ewma smooths them."""
    import math

    eng.create("c")
    eng.madd([("c", 0, 10.0), ("c", 500, 25.0), ("c", 700, 3.0), ("c", 1200, 9.0)])
    inc = {r.ts: r.increase for r in eng.increase("c", 1000).collect()}
    assert inc == {0: 15.0 + 3.0, 1000: 6.0}
    rate = {r.ts: r.rate for r in eng.rate("c", 1000).collect()}
    assert math.isclose(rate[0], 18.0)
    sm = {r.ts: r.ewma for r in eng.ewma("c", 0.5).collect()}
    assert sm[0] == 10.0 and math.isclose(sm[500], 17.5)
    # holt: level_0 = 10, trend_0 = 25 - 10 = 15
    hl = {r.ts: (r.level, r.trend) for r in eng.holt("c", 0.5, 0.5).collect()}
    assert hl[0] == (10.0, 15.0)
    lv = 0.5 * 25.0 + 0.5 * (10.0 + 15.0)
    tr = 0.5 * (lv - 10.0) + 0.5 * 15.0
    assert math.isclose(hl[500][0], lv) and math.isclose(hl[500][1], tr)


def test_engine_anomalies_fast_passthrough(eng):
    """VERDICT r10 #6: the facade forwards `fast=True` (the hot-series
    steering path) and both formulations agree on the same series."""
    import random as _random

    rng = _random.Random(0xFA57)
    eng.create("a")
    vals = [50.0 + rng.uniform(-1, 1) for _ in range(40)]
    vals[30] = 90.0
    eng.madd([("a", i * 100, v) for i, v in enumerate(vals)])
    slow = {r.ts: r for r in eng.anomalies("a", window_n=10).collect()}
    fast = {r.ts: r for r in eng.anomalies(
        "a", window_n=10, fast=True
    ).collect()}
    assert slow.keys() == fast.keys()
    assert slow[3000].anomaly and fast[3000].anomaly
    for t in slow:
        assert slow[t].anomaly == fast[t].anomaly, t
        if slow[t].zscore is not None:
            assert abs(slow[t].zscore - fast[t].zscore) < 1e-6, t


def test_engine_resample_and_gaps_facade(eng):
    eng.create("g")
    eng.madd([("g", 0, 0.0), ("g", 200, 20.0), ("g", 5200, 70.0)])
    lin = {r.ts: r.value for r in eng.resample("g", 100, "linear").collect()}
    assert lin[100] == 10.0 and lin[200] == 20.0 and lin[5200] == 70.0
    assert abs(lin[2700] - (20.0 + 50.0 * 2500 / 5000)) < 1e-9
    gaps = [(r.gap_start, r.gap_end) for r in eng.gaps("g", 1000).collect()]
    assert gaps == [(200, 5200)]


def test_engine_deriv_and_histogram_facade(eng):
    """deriv slopes the key's samples per bucket (value-units/second);
    value_histogram bins them half-open from lo."""
    import math

    eng.create("t")
    eng.madd([("t", 0, 0.0), ("t", 250, 0.5), ("t", 750, 1.5),
              ("t", 1000, 30.0), ("t", 1500, 40.0)])
    sl = {r.ts: r.slope for r in eng.deriv("t", 1000).collect()}
    assert math.isclose(sl[0], 2.0) and math.isclose(sl[1000], 20.0)
    h = {r.bin_lo: r.n for r in eng.value_histogram("t", 10.0).collect()}
    assert h == {0.0: 3, 30.0: 1, 40.0: 1}


def test_engine_changes_resets_predict_facade(eng):
    """changes/resets count events against each sample's previous valid
    value; predict_linear extrapolates the bucket fit past its end."""
    import math

    eng.create("p")
    eng.madd([("p", 0, 0.0), ("p", 250, 0.5), ("p", 500, 0.5),
              ("p", 750, 0.2), ("p", 1000, 2.0)])
    ch = {r.ts: r.changes for r in eng.changes("p", 1000).collect()}
    assert ch == {0: 2, 1000: 1}  # 0->0.5, 0.5->0.2; 0.2->2.0
    rs = {r.ts: r.resets for r in eng.resets("p", 1000).collect()}
    assert rs == {0: 1, 1000: 0}
    # bucket 0 fit over (0s,0), (0.25s,0.5), (0.5s,0.5), (0.75s,0.2):
    # predicted at bucket end + 1s = intercept + slope * 2.0
    pr = {r.ts: r.predicted for r in eng.predict_linear("p", 1000, 1000).collect()}
    xs, ys = [0.0, 0.25, 0.5, 0.75], [0.0, 0.5, 0.5, 0.2]
    mx, my = sum(xs) / 4, sum(ys) / 4
    m = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    assert math.isclose(pr[0], (my - m * mx) + m * 2.0, rel_tol=1e-9)
    assert 1000 not in pr  # single-sample bucket defines no line


def test_on_duplicate_override_beats_series_policy(spark):
    """TS.ADD ... ON_DUPLICATE overrides the series policy for THAT write
    (src/module.c ON_DUPLICATE -> handleDuplicateSample), including the
    INCRBY ts==last upsert, which is a LAST-policy write under any series
    policy — and a same-batch chain of overridden writes folds
    sequentially in arrival order."""
    eng = TimeSeriesEngine(spark)
    eng.create("m", duplicate_policy="min")
    eng.add("m", 5, 10.0)
    eng.flush()
    eng.incrby("m", 5.0, ts=5)  # would be rejected by MIN; LAST override lands
    assert [(r.ts, r.value) for r in eng.range("m").collect()] == [(5, 15.0)]
    assert eng.get("m") == (5, 15.0)  # _last_cache agrees with the store
    eng.incrby("m", 1.0, ts=5)  # chained through the (now-correct) cache
    assert eng.get("m") == (5, 16.0)

    eng.create("f", duplicate_policy="first")
    eng.add("f", 1, 1.0)
    eng.flush()
    eng.add("f", 1, 99.0, on_duplicate="last")
    assert [(r.ts, r.value) for r in eng.range("f").collect()] == [(1, 99.0)]

    eng.create("b")  # default block: collisions rejected...
    eng.add("b", 2, 1.0)
    eng.add("b", 2, 5.0, on_duplicate="sum")  # ...but each override merges
    eng.add("b", 2, 2.0, on_duplicate="sum")
    eng.add("b", 2, 50.0)  # no override -> series BLOCK rejects it
    assert [(r.ts, r.value) for r in eng.range("b").collect()] == [(2, 8.0)]


def test_engine_delta_idelta_facade(eng):
    """delta/idelta facade: per-bucket gauge difference (signed) and
    spot last-two movement, both over the engine's time-sentinel API."""
    eng.create("g")
    eng.madd([("g", 100, 10.0), ("g", 900, 4.0), ("g", 1200, 7.0),
              ("g", 2100, 5.0), ("g", 2900, 9.0)])
    d = {r.ts: r.delta for r in eng.delta("g", 1000).collect()}
    assert d == {0: -6.0, 2000: 4.0}  # single-valid bucket 1000 absent
    ts, v = eng.idelta("g").collect()[0][0:2]
    assert (ts, v) == (2900, 4.0)
    cut = eng.idelta("g", to_ts=1500).collect()[0]
    assert (cut.ts, cut.idelta) == (1200, 3.0)


def test_engine_topk_facade(eng):
    """topk ranks the label-filtered population per bucket."""
    eng.create("h1", labels={"role": "web"})
    eng.create("h2", labels={"role": "web"})
    eng.create("h3", labels={"role": "db"})
    eng.madd([("h1", 0, 10.0), ("h2", 100, 30.0), ("h3", 200, 99.0),
              ("h1", 1100, 7.0), ("h2", 1200, 3.0)])
    top = [(r.ts, r.key, r.rnk)
           for r in eng.topk(1000, 1, filters=["role=web"]).collect()]
    assert top == [(0, "h2", 1), (1000, "h1", 1)]  # h3 filtered out
    allk = [(r.ts, r.key) for r in eng.topk(1000, 1).collect()]
    assert allk == [(0, "h3"), (1000, "h1")]
