"""TS.MRANGE over a cached store: the scan skips cached batches holding
none of the matched keys, the prune-only key runs never change an
answer, and a bounded aggregated answer keeps its (key, ts) order
without a global sort."""

import random

import pyarrow as pa
import pytest

from redistimeseries_spark import MAX_TS
from redistimeseries_spark.functions.filters import key_in, key_runs_sql, key_sql
from redistimeseries_spark.operators.labels import key_runs
from redistimeseries_spark.operators import multi
from redistimeseries_spark.operators.multi import ts_mrange
from redistimeseries_spark.operators.range_query import ts_range
from tests.conftest import count_jobs, plan_nodes, scan_output_rows

M, H = 60_000, 3_600_000
HOSTS = 52  # 4 regions of 13 hosts
METRICS = ["cpu", "disk", "mem", "net", "swap"]
SAMPLES = 400  # per series, one a minute


def _value(i: int, t: int) -> float:
    return float((i * 7 + t) % 13)


KEYS = [f"h{h:03d}.{m}" for h in range(HOSTS) for m in METRICS]


@pytest.fixture(scope="module")
def store(spark):
    """260 series cached (key, ts)-sorted in batches of 1,000 rows, so a
    batch holds two or three series, and their labels."""
    rows = pa.table(
        {
            "key": [k for k in KEYS for _ in range(SAMPLES)],
            "ts": [t * M for _ in KEYS for t in range(SAMPLES)],
            "value": [_value(i, t) for i in range(len(KEYS)) for t in range(SAMPLES)],
        }
    )
    conf = "spark.sql.inMemoryColumnarStorage.batchSize"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "1000")
    try:
        samples = spark.createDataFrame(rows).orderBy("key", "ts").cache()
        samples.count()
    finally:
        spark.conf.set(conf, before)
    labels = spark.createDataFrame(
        [
            (f"h{h:03d}.{m}", lbl, v)
            for h in range(HOSTS)
            for m in METRICS
            for lbl, v in (("hostname", f"h{h:03d}"), ("region", f"r{h // 13}"), ("metric", m))
        ],
        "key string, label string, value string",
    ).cache()
    labels.count()
    yield samples, labels
    samples.unpersist()
    labels.unpersist()


def test_mrange_scan_skips_cached_batches(spark, store):
    """13 matched keys of 260: the `key IN` is an InSet, which the
    in-memory scan cannot prune on, so the key runs ANDed with it are
    what skip the batches holding none of the keys."""
    samples, labels = store
    filters = ["region=r1", "metric=cpu"]
    out = ts_mrange(samples, labels, filters, 0, SAMPLES * M, aggregations=["max"], bucket_dur=H)
    got = [tuple(r) for r in out.collect()]
    scanned = scan_output_rows(out)
    keys = sorted({r[0] for r in got})
    assert keys == [f"h{h:03d}.cpu" for h in range(13, 26)]
    # the same answer from a bare `key IN`, which reads every batch
    bare = ts_range(
        samples.filter(key_in(keys)), 0, SAMPLES * M, aggregations=["max"], bucket_dur=H
    )
    assert [tuple(r) for r in bare.collect()] == got
    total = len(KEYS) * SAMPLES
    assert scan_output_rows(bare) == total
    assert 13 * SAMPLES <= scanned <= total // 5, scanned


def test_key_runs_never_change_the_answer(spark):
    """Over random universes and key sets — keys holding `'`, `\\` or `$`
    (the hex literal path), non-ASCII keys, and matched keys absent from
    the universe — `key IN` and `key IN` AND the runs select the same
    rows, and every run is within the run budget."""
    rng = random.Random(11)
    alphabet = ["a", "b", "z", "0", ".", "'", "\\", "$", "é", "日", "😀"]
    pool = sorted({"".join(rng.choices(alphabet, k=rng.randint(1, 4))) for _ in range(500)})
    frame = spark.createDataFrame(pa.table({"key": pool}))
    emitted = 0
    for _ in range(16):
        universe = sorted(rng.sample(pool, rng.randint(40, 200)))
        keys = rng.sample(universe, rng.randint(11, 25)) + rng.sample(pool, 3)
        max_runs = rng.randint(1, 10)
        runs = key_runs(universe, keys, max_runs)
        if runs is None:
            continue
        emitted += 1
        assert len(runs) <= max_runs
        bare, pruned = key_sql(keys), f"({key_sql(keys)}) AND ({key_runs_sql(runs)})"
        got = frame.selectExpr("key", f"{bare} AS bare", f"{pruned} AS pruned").collect()
        assert [r.key for r in got if r.bare] == sorted(set(keys))
        assert all(r.bare == r.pruned for r in got)
    assert emitted >= 8, emitted


def test_key_runs_gate():
    universe = [f"k{i:03d}" for i in range(100)]
    # 12 neighbours: one run covering 12 of 100
    assert key_runs(universe, universe[40:52], 10) == [("k040", "k051")]
    # every other key: 10 runs cover more than half of the universe
    assert key_runs(universe, universe[::2], 10) is None
    # the largest gaps are cut first
    keys = ["k000", "k001", "k010", "k011", "k050"]
    assert key_runs(universe, keys, 2) == [("k000", "k011"), ("k050", "k050")]
    assert key_runs(universe, keys, 3) == [("k000", "k001"), ("k010", "k011"), ("k050", "k050")]


def _expected(keys, start, end, rev=False, count=None):
    out = []
    for k in keys:
        i = KEYS.index(k)
        buckets = {}
        for t in range(SAMPLES):
            if start <= t * M <= end:
                b = t * M - t * M % H
                buckets[b] = max(buckets.get(b, float("-inf")), _value(i, t))
        rows = sorted(buckets.items(), reverse=rev)[:count]
        out += [(k, b, v) for b, v in rows]
    return out


def _sorts_globally(df) -> bool:
    return any(
        n.getClass().getSimpleName() == "SortExec" and getattr(n, "global")()
        for n in plan_nodes(df._jdf.queryExecution().executedPlan())
    )


def test_bounded_mrange_order(spark, store):
    """A bounded 12-key aggregated MRANGE comes back in (key, ts) order —
    ts descending under REV, COUNT per key — sorted in one partition
    (no range-partition sampling, at most 2 Spark jobs); an unbounded
    range keeps the global sort."""
    samples, labels = store
    filters = ["region=r1", "metric=cpu", "hostname!=h013"]
    keys = [f"h{h:03d}.cpu" for h in range(14, 26)]
    start, end = 30 * M, 330 * M
    kw = dict(aggregations=["max"], bucket_dur=H)
    for extra in ({}, {"rev": True}, {"count": 2}, {"rev": True, "count": 3}):
        out = ts_mrange(samples, labels, filters, start, end, **kw, **extra)
        got, jobs = count_jobs(spark, lambda: [tuple(r) for r in out.collect()])
        assert got == _expected(keys, start, end, extra.get("rev", False), extra.get("count")), extra
        assert not _sorts_globally(out), extra
        assert jobs <= 2, (extra, jobs)
    unbounded = ts_mrange(samples, labels, filters, start, MAX_TS, **kw)
    assert _sorts_globally(unbounded)
    assert [tuple(r) for r in unbounded.collect()] == _expected(keys, start, MAX_TS)
    # the same bounded read whose bound outgrows one advisory partition
    conf = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "1k")
    try:
        big = ts_mrange(samples, labels, filters, start, end, **kw)
    finally:
        spark.conf.set(conf, before)
    assert _sorts_globally(big)


@pytest.mark.parametrize(
    "groupby, max_pairs", [("region", None), ("hostname", None), ("region", 51)]
)
def test_groupby_two_stage_group_map(monkeypatch, store, groupby, max_pairs):
    """The two-stage GROUPBY (avg of per-series avgs) maps keys to groups
    with a literal within `_LITERAL_GROUPS` groups and `_LITERAL_PAIRS`
    (key, group) pairs (4 regions of 52 keys), and with a broadcast
    group frame beyond either (52 hostnames; or the pair cap set below
    52): every path gives the reference's answer."""
    if max_pairs is not None:
        monkeypatch.setattr(multi, "_LITERAL_PAIRS", max_pairs)
    samples, labels = store
    start, end, dur = 0, 200 * M, 15 * M
    out = ts_mrange(
        samples, labels, ["metric=cpu"], start, end,
        aggregations=["avg"], bucket_dur=dur, groupby=groupby, reduce="avg",
    )
    per_key = {}
    for h in range(HOSTS):
        i = KEYS.index(f"h{h:03d}.cpu")
        group = f"{groupby}=" + (f"r{h // 13}" if groupby == "region" else f"h{h:03d}")
        for t in range(SAMPLES):
            if start <= t * M <= end:
                per_key.setdefault((group, h, t * M - t * M % dur), []).append(_value(i, t))
    groups = {}
    for (group, _, b), vs in per_key.items():
        groups.setdefault((group, b), []).append(sum(vs) / len(vs))
    want = {k: sum(vs) / len(vs) for k, vs in groups.items()}
    got = {(r.key, r.ts): r.avg for r in out.collect()}
    assert got.keys() == want.keys()
    assert all(got[k] == pytest.approx(want[k]) for k in want)
