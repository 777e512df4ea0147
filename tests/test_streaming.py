"""Structured Streaming ingest: micro-batched TS.ADD stream through
foreachBatch with dup-policy fold, latest-table maintenance, incremental
compaction-rule repair (incl. out-of-order bucket recompute), and the
TS.READ tail with timeout semantics."""

import os
import threading
import time

import pytest

from redistimeseries_spark.streaming.compaction import CompactionRule
from redistimeseries_spark.streaming.ingest import StreamingStore, start_ingest, tail_read

SCHEMA = "key string, ts long, value double"


def write_input(spark, d, rows, name, sub="in"):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(
        os.path.join(d, sub)
    )


def append_log(store, rows):
    """External append in the store's day-partitioned log layout."""
    from pyspark.sql import functions as F

    from redistimeseries_spark.streaming.ingest import DAY_MS

    b = store.spark.createDataFrame(rows, SCHEMA + ", seq long")
    (
        b.withColumn("__day", F.expr(f"ts div {DAY_MS}").cast("int"))
        .write.mode("append")
        .partitionBy("__day")
        .parquet(store.log_dir)
    )


@pytest.fixture
def dirs(tmp_path):
    return str(tmp_path)


def drain(spark, d, store, sub="in"):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")  # force multiple micro-batches
        .parquet(os.path.join(d, sub))
    )
    q = start_ingest(stream, store, availableNow=True)
    q.awaitTermination(120)


def test_ingest_batches_and_rules(spark, dirs):
    rule = CompactionRule(None, "_avg_1s", "avg", 1000)
    store = StreamingStore(spark, os.path.join(dirs, "store"), "last", [rule])
    write_input(spark, dirs, [("k", 0, 1.0), ("k", 500, 3.0), ("k", 1200, 5.0)], "b1")
    write_input(spark, dirs, [("k", 1300, 7.0), ("k", 400, 9.0)], "b2")  # ooo upsert
    drain(spark, dirs, store)

    got = sorted((r.ts, r.value) for r in store.samples().collect())
    # 400 arrives later; ts distinct so it's an out-of-order insert
    assert got == [(0, 1.0), (400, 9.0), (500, 3.0), (1200, 5.0), (1300, 7.0)]

    latest = {r.key: (r.ts, r.value) for r in store.latest().collect()}
    assert latest["k"] == (1300, 7.0)

    # closed bucket 0 recomputed after the late 400 arrival: avg(1,9,3)
    closed = {r.ts: r.value for r in store.rule_table(rule).collect()}
    assert closed == {0: (1.0 + 9.0 + 3.0) / 3}
    # open bucket visible in the LATEST view
    full = {r.ts: r.value for r in store.rule_table(rule, include_open=True).collect()}
    assert full[1000] == 6.0


def test_percentile_rule_incremental(spark, dirs):
    """A p50 compaction rule flows through the streaming incremental
    recompute (agg_expr is shared with the batch path), including
    out-of-order repair of a closed bucket."""
    rule = CompactionRule(None, "_p50_1s", "p50", 1000)
    store = StreamingStore(spark, os.path.join(dirs, "store"), "last", [rule])
    write_input(spark, dirs, [("k", 0, 1.0), ("k", 500, 9.0), ("k", 1200, 5.0)], "b1")
    write_input(spark, dirs, [("k", 400, 5.0), ("k", 2500, 7.0)], "b2")  # ooo repair
    drain(spark, dirs, store)
    closed = {r.ts: r.value for r in store.rule_table(rule).collect()}
    # bucket 0 after repair holds {1, 9, 5} -> p50 = 5; bucket 1000 -> 5
    assert closed == {0: 5.0, 1000: 5.0}


def test_all_nan_bucket_follows_agg_validity(spark, dirs):
    """Incremental recompute applies the same per-agg emission rule as
    the batch path: an avg rule's all-NaN bucket must NOT appear in the
    dest (and a later NaN upsert into a previously-valid bucket deletes
    its dest row); a count_nan rule keeps it with the real NaN count."""
    import math

    nan = float("nan")
    rule_avg = CompactionRule(None, "_avg_1s", "avg", 1000)
    rule_cn = CompactionRule(None, "_cn_1s", "count_nan", 1000)
    store = StreamingStore(
        spark, os.path.join(dirs, "store"), "last", [rule_avg, rule_cn]
    )
    # bucket 0: all NaN; bucket 1000: valid; bucket 2000: closes them
    write_input(
        spark, dirs,
        [("k", 0, nan), ("k", 500, nan), ("k", 1200, 4.0), ("k", 2500, 1.0)],
        "b1",
    )
    drain(spark, dirs, store)
    avg_rows = {r.ts: r.value for r in store.rule_table(rule_avg).collect()}
    assert avg_rows == {1200 - 200: 4.0}  # only the valid bucket
    cn_rows = {r.ts: r.value for r in store.rule_table(rule_cn).collect()}
    # count_nan emits only buckets that saw NaNs (nn > 0), same as the
    # range path's per-agg validity: bucket 1000 (valid-only) is absent
    assert cn_rows == {0: 2.0}
    # a later batch delivers a fresh ALL-NaN bucket (3000) and closes it:
    # the avg dest must not gain a NaN row; count_nan must gain the count.
    # NaN upserts onto existing ts can't create this case — valid samples
    # win over NaN under every dup policy — so a new bucket is the shape.
    write_input(spark, dirs, [("k", 3100, nan), ("k", 4500, 2.0)], "b2")
    drain(spark, dirs, store)
    avg_rows = {r.ts: r.value for r in store.rule_table(rule_avg).collect()}
    assert 3000 not in avg_rows and avg_rows[1000] == 4.0
    cn_rows = {r.ts: r.value for r in store.rule_table(rule_cn).collect()}
    assert cn_rows[3000] == 1.0
    # the NaN sample itself IS stored — only dest emission filters it
    assert math.isnan(
        {r.ts: r.value for r in store.samples().collect()}[3100]
    )


@pytest.mark.parametrize("uri", [False, True], ids=["path", "file_uri"])
def test_vanished_bucket_clears_sole_day_partition(spark, dirs, uri):
    """Dynamic partitionOverwriteMode only rewrites day partitions present
    in the written frame — if a touched bucket's emission vanishes and it
    was the ONLY dest row in its __day partition, the stale row must
    still be deleted (the overwrite set derives from the touched days,
    not the written rows).  Reached here by pre-seeding a dest row whose
    bucket the log's samples no longer justify (an all-NaN bucket).  The
    store root is a plain path or a `file://` URI: the partition clear
    goes through the Hadoop FS, so a URI root clears too."""
    import math

    from pyspark.sql import functions as F

    from redistimeseries_spark.streaming.ingest import DAY_MS

    nan = float("nan")
    rule = CompactionRule(None, "_avg_1s", "avg", 1000)
    root = os.path.join(dirs, "store")
    store = StreamingStore(spark, "file://" + root if uri else root, "last", [rule])
    # stale dest row: bucket 0 of day 0, the only row in that partition
    (
        spark.createDataFrame([("k", 0, 99.0)], SCHEMA)
        .withColumn("__day", F.expr(f"ts div {DAY_MS}").cast("int"))
        .write.mode("append")
        .partitionBy("__day")
        .parquet(store.rule_dir(rule))
    )
    # the batch touches bucket 0 with an all-NaN sample; a valid sample a
    # day later keeps the stream non-trivial and closes the bucket
    write_input(
        spark, dirs, [("k", 100, nan), ("k", DAY_MS + 500, 2.0)], "b1"
    )
    drain(spark, dirs, store)
    rows = {r.ts: r.value for r in store.rule_table(rule).collect()}
    assert 0 not in rows, f"stale vanished-bucket row survived: {rows}"
    # the day-1 valid bucket is intact
    day1_bucket = (DAY_MS + 500) - ((DAY_MS + 500) % 1000)
    open_rows = {
        r.ts: r.value
        for r in store.rule_table(rule, include_open=True).collect()
    }
    assert open_rows == {day1_bucket: 2.0}
    assert math.isnan({r.ts: r.value for r in store.samples().collect()}[100])


def test_dup_policy_across_batches(spark, dirs):
    store = StreamingStore(spark, os.path.join(dirs, "store"), "sum", [])
    write_input(spark, dirs, [("k", 100, 1.0)], "b1")
    write_input(spark, dirs, [("k", 100, 2.5)], "b2")
    drain(spark, dirs, store)
    assert [(r.ts, r.value) for r in store.samples().collect()] == [(100, 3.5)]
    store.compact()
    assert [(r.ts, r.value) for r in store.samples().collect()] == [(100, 3.5)]


def test_ingest_log_auto_compaction_bounds_files(spark, dirs):
    """compact_every=N (round 9): the ingest log's parquet file count is
    BOUNDED across many micro-batches instead of growing one fragment
    set per batch — and the merge-on-read view, the latest table and a
    compaction rule's dest are unchanged by the rewrites (compaction
    changes file count, never visible content).  Includes a
    dup-overwrite and an all-batches drain through the same store."""
    rule = CompactionRule(None, "_avg_1s", "avg", 1000)
    store = StreamingStore(
        spark, os.path.join(dirs, "store"), "last", [rule], compact_every=3
    )
    n_batches = 7
    for i in range(n_batches):
        # one day partition per batch + a shared hot key (dup overwrite)
        write_input(
            spark,
            dirs,
            [("k", i * 100, float(i)), ("hot", 50, float(i))],
            f"b{i}",
        )
    drain(spark, dirs, store)
    # the log was compacted after batches 3 and 6: 1 file per touched
    # day partition + at most compact_every uncompacted fragment sets
    n_files = store.log_file_count()
    assert n_files <= (1 + 1) + (store.compact_every - 1) * 2, n_files
    got = {(r.key, r.ts): r.value for r in store.samples().collect()}
    want = {("k", i * 100): float(i) for i in range(n_batches)}
    want[("hot", 50)] = float(n_batches - 1)  # DP_LAST keeps the newest
    assert got == want
    latest = {r.key: (r.ts, r.value) for r in store.latest().collect()}
    assert latest == {
        "k": ((n_batches - 1) * 100, float(n_batches - 1)),
        "hot": (50, float(n_batches - 1)),
    }
    dest = {
        (r.key, r.ts): r.value
        for r in store.rule_table(rule, include_open=True).collect()
    }
    assert dest[("hot", 0)] == float(n_batches - 1)

    # an uncompacted control store accumulates strictly more files
    ctrl = StreamingStore(spark, os.path.join(dirs, "ctrl"), "last", [])
    for i in range(n_batches):
        spark.createDataFrame(
            [("k", i * 100, float(i)), ("hot", 50, float(i))], SCHEMA
        ).coalesce(1).write.mode("append").parquet(os.path.join(dirs, "cin"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(dirs, "cin"))
    )
    q = start_ingest(stream, ctrl, availableNow=True)
    q.awaitTermination(120)
    assert ctrl.log_file_count() > n_files


def test_ingest_log_size_based_compaction(spark, dirs):
    """compact_max_files=N (round 10): the log compacts only when its
    data-file count exceeds N — bounded files with correct content, and
    a generous threshold performs no rewrite at all."""
    store = StreamingStore(
        spark, os.path.join(dirs, "store"), "last", [], compact_max_files=4
    )
    n_batches = 8
    for i in range(n_batches):
        write_input(spark, dirs, [("k", i * 100, float(i))], f"b{i}")
    drain(spark, dirs, store)
    n_files = store.log_file_count()
    # each compaction folds the log to 1 file/day; at most the threshold
    # plus one batch's fragments can accumulate before the next fires
    assert n_files <= 4 + 2, n_files
    got = {(r.key, r.ts): r.value for r in store.samples().collect()}
    assert got == {("k", i * 100): float(i) for i in range(n_batches)}

    lofty = StreamingStore(
        spark, os.path.join(dirs, "lofty"), "last", [],
        compact_max_files=10_000,
    )
    for i in range(n_batches):
        write_input(
            spark, dirs, [("k", i * 100, float(i))], f"l{i}", sub="lin"
        )
    drain(spark, dirs, lofty, sub="lin")
    # never tripped: one fragment set per batch survives
    assert lofty.log_file_count() >= n_batches


def test_size_trigger_floor_guard_prevents_thrash(spark, dirs):
    """Round-10 review fix: when the COMPACTED log's own file count
    exceeds compact_max_files (one file per day across many days), a
    bare threshold would rewrite the whole log on EVERY batch — the
    floor guard requires fragmentation to double past the last
    compacted state, so the rewrite count stays logarithmic-ish, not
    per-batch."""
    store = StreamingStore(
        spark, os.path.join(dirs, "store"), "last", [], compact_max_files=2
    )
    calls = {"n": 0}
    inner = store.compact

    def counting():
        calls["n"] += 1
        inner()

    store.compact = counting
    n_batches = 8
    for i in range(n_batches):
        # one NEW day partition per batch: the compacted floor itself
        # grows past the threshold
        write_input(
            spark, dirs, [("k", i * 86_400_000, float(i))], f"b{i}"
        )
    drain(spark, dirs, store)
    # without the guard this would be ~6 compactions (every batch once
    # count exceeded 2); with it: once at count 3 (floor 3), once past
    # 2*3 (floor ~7) — bounded, and the data is intact
    assert calls["n"] <= 3, calls
    assert calls["n"] >= 1
    got = {(r.key, r.ts): r.value for r in store.samples().collect()}
    assert got == {("k", i * 86_400_000): float(i) for i in range(n_batches)}


def test_ingest_log_compacting_marker(spark, dirs):
    """A read racing compact()'s rename-swap must raise the typed
    retryable StoreCompactingError, NOT silently answer from an "empty"
    log (the _read no-state-yet rescue).  And a normal compact()
    leaves no marker behind."""
    import shutil

    import pytest

    from redistimeseries_spark.streaming.ingest import StoreCompactingError

    store = StreamingStore(spark, os.path.join(dirs, "store"), "last", [])
    write_input(spark, dirs, [("k", 100, 1.0)], "b1")
    drain(spark, dirs, store)
    store.compact()
    assert not os.path.exists(store._compacting_marker)
    assert [(r.ts, r.value) for r in store.samples().collect()] == [(100, 1.0)]

    # simulate the mid-swap window: marker up, log dir momentarily gone
    shutil.rmtree(store.log_dir)
    with open(store._compacting_marker, "w"):
        pass
    with pytest.raises(StoreCompactingError, match="mid-compaction"):
        store.samples().collect()
    # compact() swaps the folded `latest` under the same marker
    shutil.rmtree(store.latest_dir)
    with pytest.raises(StoreCompactingError, match="mid-compaction"):
        store.latest().collect()
    # marker down -> the same missing path is a genuine "no state yet"
    os.remove(store._compacting_marker)
    assert store.samples().count() == 0
    assert store.latest().count() == 0


def test_tail_read_block_and_timeout(spark, dirs):
    store = StreamingStore(spark, os.path.join(dirs, "store"), "last", [])
    write_input(spark, dirs, [("k", 0, 1.0), ("k", 10, 2.0)], "b1")
    drain(spark, dirs, store)

    rows, cur = tail_read(store, "k", cursor=0, min_count=1, timeout_s=2)
    assert rows == [(0, 1.0), (10, 2.0)] and cur == 11

    # timeout flush: nothing beyond cursor yet -> empty after deadline
    t0 = time.monotonic()
    rows2, cur2 = tail_read(store, "k", cursor=cur, min_count=1, timeout_s=1.0)
    assert rows2 == [] and cur2 == cur and time.monotonic() - t0 >= 0.9

    # blocked reader woken by a new append from another thread
    def later():
        time.sleep(1.0)
        append_log(store, [("k", 20, 9.0, 10**12)])

    th = threading.Thread(target=later)
    th.start()
    rows3, _ = tail_read(store, "k", cursor=cur, min_count=1, timeout_s=10)
    th.join()
    assert rows3 == [(20, 9.0)]


def test_tail_read_min_count_parks_until_satisfied(spark, dirs):
    """min_count > 1 parks past the first qualifying sample; max_count
    truncates the reply (src/module.c:1889-2130 min/max batch bounds)."""
    store = StreamingStore(spark, os.path.join(dirs, "store"), "last", [])
    write_input(spark, dirs, [("k", 0, 1.0)], "b1")
    drain(spark, dirs, store)

    def later():
        time.sleep(1.0)
        append_log(store, [("k", 5, 2.0, 10**12), ("k", 9, 3.0, 10**12 + 1)])

    th = threading.Thread(target=later)
    th.start()
    t0 = time.monotonic()
    # one sample is already readable, but min_count=3 must keep us parked
    # until the background append lands
    rows, cur = tail_read(store, "k", cursor=0, min_count=3, timeout_s=10)
    th.join()
    assert time.monotonic() - t0 >= 0.9
    assert rows == [(0, 1.0), (5, 2.0), (9, 3.0)] and cur == 10

    # max_count truncation: reply capped, cursor advances only past the
    # returned prefix so the remainder is readable next call
    rows2, cur2 = tail_read(store, "k", cursor=0, min_count=1, max_count=2, timeout_s=2)
    assert rows2 == [(0, 1.0), (5, 2.0)] and cur2 == 6
    rows3, _ = tail_read(store, "k", cursor=cur2, min_count=1, timeout_s=2)
    assert rows3 == [(9, 3.0)]


def test_ignore_filter_chains_across_batches(spark, dirs):
    """IGNORE dedup (src/module.c:986-998): near-identical consecutive
    samples dropped at ingest, with the kept-chain seeded from the stored
    last sample so it continues across micro-batches."""
    store = StreamingStore(
        spark,
        os.path.join(dirs, "store"),
        "last",
        ignore_max_time_diff=100,
        ignore_max_val_diff=0.5,
    )
    # batch 1: 0 kept; 50 dropped (dt=50<=100, dv=0.2<=0.5); 120 kept
    # (dt vs last-kept 0 is 120>100); 200 kept (dv=1.0>0.5)
    write_input(
        spark, dirs,
        [("k", 0, 1.0), ("k", 50, 1.2), ("k", 120, 1.3), ("k", 200, 2.3)], "b1",
    )
    # batch 2 chains on stored last (200, 2.3): 250 dropped (dt=50, dv=0.1);
    # 260 kept only if chain seeds from 200 -> dt=60<=100 but dv vs 2.3 is
    # 0.6>0.5 -> kept; 1000 kept
    write_input(
        spark, dirs,
        [("k", 250, 2.4), ("k", 260, 2.9), ("k", 1000, 5.0)], "b2",
    )
    drain(spark, dirs, store)
    got = sorted((r.ts, r.value) for r in store.samples().collect())
    assert got == [(0, 1.0), (120, 1.3), (200, 2.3), (260, 2.9), (1000, 5.0)]
    latest = {r.key: (r.ts, r.value) for r in store.latest().collect()}
    assert latest["k"] == (1000, 5.0)


def test_twa_rule_incremental_matches_batch(spark, dirs):
    """TWA rule repair must widen to neighbor buckets (a sample in B moves
    the boundary interpolation of B-1/B+1): after multi-batch + out-of-order
    ingest, the incrementally-maintained dest equals a from-scratch batch
    materialization over the final samples."""
    from redistimeseries_spark.streaming.compaction import materialize_rule

    rule = CompactionRule(None, "_twa_1s", "twa", 1000)
    store = StreamingStore(spark, os.path.join(dirs, "store"), "last", [rule])
    write_input(spark, dirs, [("k", 100, 1.0), ("k", 900, 3.0), ("k", 1400, 5.0)], "b1")
    # second batch: appends into bucket 2 AND an ooo insert into bucket 0,
    # which changes the twa of buckets 0 (interior), and 1 (left boundary)
    write_input(spark, dirs, [("k", 2100, 7.0), ("k", 600, 9.0)], "b2")
    drain(spark, dirs, store)

    got = {
        r.ts: r.value
        for r in store.rule_table(rule, include_open=True).collect()
    }
    exp = {
        r.ts: r.value
        for r in materialize_rule(store.samples(), rule, include_open=True).collect()
    }
    assert got.keys() == exp.keys()
    for b in exp:
        assert abs(got[b] - exp[b]) < 1e-9, (b, got[b], exp[b])


def test_increase_rule_incremental_matches_batch(spark, dirs):
    """increase rules (round-7 counter rollup): after multi-batch +
    out-of-order ingest with a counter reset and a NaN sample, the
    incrementally maintained dest equals a from-scratch batch
    materialization over the final samples, and both equal the
    hand-computed reset-aware sums."""
    from redistimeseries_spark.streaming.compaction import materialize_rule

    rule = CompactionRule(None, "_inc_1s", "increase", 1000)
    store = StreamingStore(spark, os.path.join(dirs, "store"), "last", [rule])
    write_input(spark, dirs, [("k", 100, 1.0), ("k", 900, 3.0), ("k", 1400, 5.0)], "b1")
    # b2: a RESET in bucket 2 (5.0 -> 2.0), an ooo insert into bucket 0
    # (which changes the step at ts=900 too), and a NaN the valid chain
    # must skip
    write_input(
        spark, dirs,
        [("k", 2100, 2.0), ("k", 600, 9.0), ("k", 1700, float("nan"))],
        "b2",
    )
    drain(spark, dirs, store)
    got = {
        r.ts: r.value
        for r in store.rule_table(rule, include_open=True).collect()
    }
    exp = {
        r.ts: r.value
        for r in materialize_rule(store.samples(), rule, include_open=True).collect()
    }
    assert got.keys() == exp.keys()
    for b in exp:
        assert abs(got[b] - exp[b]) < 1e-9, (b, got[b], exp[b])
    # hand check: valid chain 1,9,3,5,2 -> steps 8(@600), reset 3(@900),
    # 2(@1400), reset 2(@2100); ts=100 has no predecessor
    assert got == {0: 11.0, 1000: 2.0, 2000: 2.0}


def test_increase_rule_fuzz_incremental_vs_batch(spark, dirs):
    """Seeded fuzzer for the counter-rule incremental repair: random
    multi-batch ingest (out-of-order across DAYS, sparse gaps, NaNs,
    duplicate timestamps folded by dup policy, resets) must leave the
    incrementally maintained dest identical to a from-scratch batch
    materialization — the sample-adjacent neighbor extension across
    sparse gaps is the code path arithmetic ±1 widening misses."""
    import random as _random

    from redistimeseries_spark.streaming.compaction import materialize_rule
    from redistimeseries_spark.streaming.ingest import DAY_MS

    rng = _random.Random(0x1C7)
    for trial in range(3):
        rule = CompactionRule(
            None, "_inc", "increase" if trial % 2 == 0 else "rate",
            rng.choice([1000, 2500])
        )
        d = os.path.join(dirs, f"f{trial}")
        os.makedirs(os.path.join(d, "in"), exist_ok=True)
        store = StreamingStore(spark, os.path.join(d, "store"), "last", [rule])
        keys = ["a", "b"]
        for b in range(3):
            rows = []
            for _ in range(rng.randint(3, 10)):
                k = rng.choice(keys)
                # cluster most samples near day 0-1, some far out (sparse
                # gap across day partitions)
                ts = rng.choice(
                    [rng.randint(0, 5000),
                     rng.randint(0, 5000),
                     2 * DAY_MS + rng.randint(0, 3000)]
                )
                v = rng.choice(
                    [float(rng.randint(0, 20)), float("nan")]
                )
                rows.append((k, ts, v))
            write_input(spark, d, rows, f"b{b}")
        drain(spark, d, store)
        # rule_table keeps source keys; materialize_rule appends the suffix
        got = sorted(
            (r.key + rule.dest_suffix, r.ts, round(r.value, 9))
            for r in store.rule_table(rule, include_open=True).collect()
        )
        exp = sorted(
            (r.key, r.ts, round(r.value, 9))
            for r in materialize_rule(
                store.samples(), rule, include_open=True
            ).collect()
        )
        assert got == exp, (trial, rule.agg, rule.bucket_ms)


def test_rate_rule_matches_increase_per_second(spark, dirs):
    """A rate rule is the increase rule divided by the bucket span in
    seconds (batch materialization check on a 2s bucket)."""
    from redistimeseries_spark.streaming.compaction import materialize_rule

    inc = CompactionRule(None, "_i", "increase", 2000)
    rate = CompactionRule(None, "_r", "rate", 2000)
    store = StreamingStore(spark, os.path.join(dirs, "store"), "last", [])
    write_input(
        spark, dirs,
        [("k", 100, 1.0), ("k", 900, 3.0), ("k", 2400, 9.0), ("k", 4100, 4.0)],
        "b1",
    )
    drain(spark, dirs, store)
    i = {r.ts: r.value for r in materialize_rule(store.samples(), inc, include_open=True).collect()}
    r_ = {r.ts: r.value for r in materialize_rule(store.samples(), rate, include_open=True).collect()}
    assert set(i) == set(r_) and all(abs(r_[b] - i[b] / 2.0) < 1e-12 for b in i)


def test_partition_scoped_maintenance(spark, dirs):
    """A micro-batch must rewrite ONLY the dest day-partitions it touches
    — untouched partition files stay byte-identical on disk (the 100M-key
    scale requirement) — and must never rewrite `latest`: it appends one
    delta, so no `latest/` file that existed before the batch is modified
    or removed (bar the `_SUCCESS` commit marker every write replaces)."""
    from redistimeseries_spark.streaming.ingest import DAY_MS

    rule = CompactionRule(None, "_avg_1s", "avg", 1000)
    store = StreamingStore(spark, os.path.join(dirs, "store"), "last", [rule])
    day1 = 5 * DAY_MS
    write_input(spark, dirs, [("a", 100, 1.0), ("b", day1 + 100, 2.0)], "b1")
    drain(spark, dirs, store)

    def snapshot(root):
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                if f in ("_SUCCESS", "._SUCCESS.crc"):
                    continue
                p = os.path.join(dirpath, f)
                out[p] = os.path.getmtime(p)
        return out

    before_latest = snapshot(store.latest_dir)
    before_dest = snapshot(os.path.join(store.rule_dir(rule), "__day=5"))
    assert before_latest and before_dest  # something to compare

    # second stream touching only key a / day 0
    write_input(spark, dirs, [("a", 200, 3.0)], "b2")
    drain(spark, dirs, store)

    after_latest = snapshot(store.latest_dir)
    assert {p: after_latest.get(p) for p in before_latest} == before_latest
    assert len(after_latest) > len(before_latest)  # the batch's delta
    assert snapshot(os.path.join(store.rule_dir(rule), "__day=5")) == before_dest
    # and the touched side did advance
    latest = {r.key: (r.ts, r.value) for r in store.latest().collect()}
    assert latest["a"] == (200, 3.0) and latest["b"] == (day1 + 100, 2.0)


def test_latest_follows_duplicate_policy(spark, dirs):
    """Under every duplicate policy `latest()` holds each key's newest row
    of `samples()` — including when a batch re-sends a key's newest
    timestamp (a NaN re-send under `last` keeps the valid value) and when
    one batch carries two values for it."""
    import math

    from redistimeseries_spark.write.dup_policy import POLICIES

    nan = float("nan")
    batches = [
        [("a", 100, 9.0), ("a", 500, 2.0), ("b", 1000, 1.0), ("c", 300, nan)],
        [("a", 500, 3.0), ("b", 1000, nan), ("c", 300, 4.0),
         ("d", 700, 1.0), ("d", 700, 6.0)],
        [("b", 900, 8.0), ("d", 700, nan)],
    ]

    def norm(rows):
        return {
            r.key: (r.ts, "nan" if math.isnan(r.value) else r.value)
            for r in rows
        }

    for policy in POLICIES:
        store = StreamingStore(spark, os.path.join(dirs, policy), policy, [])
        for i, rows in enumerate(batches):
            store.process_batch(spark.createDataFrame(rows, SCHEMA), i)
        newest = {}
        for r in store.samples().collect():
            if r.key not in newest or r.ts > newest[r.key].ts:
                newest[r.key] = r
        got = store.latest().collect()
        assert len(got) == 4, (policy, got)
        assert norm(got) == norm(newest.values()), policy
        if policy == "last":
            assert norm(got)["b"] == (1000, 1.0)


def test_compact_folds_latest_deltas(spark, dirs):
    """compact() folds the per-batch `latest` deltas into one data file
    without changing `latest()`, and the folded rows keep their `seq`, so
    a later re-send of a newest timestamp still merges by the policy."""
    store = StreamingStore(spark, os.path.join(dirs, "store"), "sum", [])
    batches = [
        [("a", 100, 1.0), ("b", 50, 2.0)],
        [("a", 100, 2.5), ("b", 60, 1.0)],
        [("a", 90, 7.0), ("c", 5, 3.0)],
    ]
    for i, rows in enumerate(batches):
        store.process_batch(spark.createDataFrame(rows, SCHEMA), i)

    def files():
        return [f for f in os.listdir(store.latest_dir) if f.endswith(".parquet")]

    def latest():
        return sorted(tuple(r) for r in store.latest().collect())

    assert len(files()) == len(batches)
    want = [("a", 100, 3.5), ("b", 60, 1.0), ("c", 5, 3.0)]
    assert latest() == want
    store.compact()
    assert len(files()) == 1
    assert latest() == want
    store.process_batch(spark.createDataFrame([("a", 100, 0.5)], SCHEMA), 3)
    assert latest() == [("a", 100, 4.0), ("b", 60, 1.0), ("c", 5, 3.0)]


def test_process_batch_job_budget(spark, dirs):
    """One warm micro-batch into a store with an `avg` 1m rule runs at
    most 6 Spark jobs (counted through a job group): the log append, one
    collect of the touched buckets, the `latest` delta — a plain append,
    no read of the stored table, no partition rewrite, no hash-bucket
    (`pk=`) directories — and the dest rewrite.  No touched (key, bucket)
    frame is materialized, and no checkpoint runs before the dest
    overwrite."""
    rule = CompactionRule(None, "_avg_1m", "avg", 60_000)
    store = StreamingStore(spark, os.path.join(dirs, "store"), "last", [rule])
    keys = [f"k{i}" for i in range(20)]

    def batch(b):
        rows = [(k, (b * 12 + j) * 10_000, float(j)) for k in keys for j in range(12)]
        if b:  # late samples into buckets an earlier batch wrote
            rows += [(k, (b * 12 - 3) * 10_000 + 1, 1.5) for k in keys[:3]]
        return spark.createDataFrame(rows, SCHEMA)

    for b in range(2):
        store.process_batch(batch(b), b)
    sc = spark.sparkContext
    group = "test_process_batch_job_budget"
    sc.setJobGroup(group, group)
    try:
        store.process_batch(batch(2), 2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 6, len(jobs)
    assert not [n for n in os.listdir(store.latest_dir) if n.startswith("pk=")]



def test_bucket_local_rules_match_batch_materialization(spark, dirs):
    """Incremental maintenance of bucket-local rules equals the batch
    materialization after every micro-batch.  A batch recomputes every
    key's row in the buckets it touches, so the batches carry late
    samples into stored buckets, duplicate timestamps within and across
    batches, NaN re-sends and an all-NaN bucket, one rule has a
    `src_key_pattern`, and key c is silent in a batch that touches its
    stored bucket through key a.  The aggregators and the duplicate
    policy come from a seeded RNG; count_nan, count_all and a p-name
    always run.  The buckets straddle a day boundary, so the dest
    rewrite spans two day partitions."""
    import math
    import random
    from dataclasses import replace

    from redistimeseries_spark.streaming.compaction import materialize_rule
    from redistimeseries_spark.streaming.ingest import DAY_MS

    rng = random.Random(20261021)
    nan = float("nan")
    policy = rng.choice(["last", "first", "block", "min", "max", "sum"])
    B = 1000
    base = DAY_MS - 3 * B
    aggs = ["avg", "sum", "min", "max", "range", "count", "first", "last",
            "std.s", "var.p", "count_nan", "count_all", "p50", "p99.9"]
    rules = [
        CompactionRule(None, "_r", rng.choice(aggs), B),
        CompactionRule(None, "_cn", "count_nan", B),
        CompactionRule(None, "_ca", "count_all", B, align_ts=250),
        CompactionRule("^[ab]$", "_p", rng.choice(["p50", "p90", "p99.9"]), B),
    ]

    def val():
        return nan if rng.random() < 0.15 else round(rng.uniform(-10, 10), 3)

    def ts(bucket):
        return base + bucket * B + rng.randrange(B)

    first = [(k, ts(b), val()) for k in "abc" for b in range(6) for _ in range(2)]
    first += [("c", base + B + 7, 4.0)]  # c's stored row in bucket 1
    dup = first[0]
    c_b1 = [r for r in first if r[0] == "c" and base + B <= r[1] < base + 2 * B]
    batches = [
        first,
        # late into stored buckets, a cross-batch re-send and an in-batch
        # duplicate; c is silent while a touches c's bucket 1
        [(dup[0], dup[1], 7.5), ("a", base + B + 11, 1.0),
         ("a", base + B + 11, 2.0), ("a", ts(0), val()), ("b", ts(6), val())],
        # NaN re-sends of c's bucket-1 samples, and an all-NaN bucket
        [(k, t, nan) for k, t, _ in c_b1]
        + [("c", base + 8 * B + 5, nan), ("c", base + 8 * B + 500, nan)],
        # a valid re-send over the all-NaN bucket, more late samples
        [("c", base + 8 * B + 5, 3.0), ("b", ts(2), val()), ("a", ts(7), val())],
    ]
    batches += [
        [(rng.choice("abc"), ts(rng.randrange(9)), val()) for _ in range(6)]
        for _ in range(rng.randint(0, 2))
    ]
    store = StreamingStore(spark, os.path.join(dirs, "store"), policy, rules)

    def rows(df):
        out = [((r.key, r.ts), float(r.value)) for r in df.collect()]
        assert len(dict(out)) == len(out), out  # one row per (key, bucket)
        return dict(out)

    def same(x, y):
        return (math.isnan(x) and math.isnan(y)) or math.isclose(
            x, y, rel_tol=1e-9, abs_tol=1e-9
        )

    for i, b in enumerate(batches):
        store.process_batch(spark.createDataFrame(b, SCHEMA), i)
        samples = store.samples().localCheckpoint()
        for rule in rules:
            got = rows(store.rule_table(rule, include_open=True))
            want = rows(
                materialize_rule(
                    samples, replace(rule, dest_suffix=""), include_open=True
                )
            )
            ctx = (policy, rule.agg, i)
            assert got.keys() == want.keys(), (ctx, got, want)
            bad = {k: (got[k], want[k]) for k in want if not same(got[k], want[k])}
            assert not bad, (ctx, bad)


def test_recompute_scan_is_partition_pruned(spark, dirs):
    """The per-batch maintenance read (`_pruned`) must prune the log scan
    at the file-source level (PartitionFilters on __day) — per-batch cost
    independent of log length, the 100 TB requirement."""
    from redistimeseries_spark.streaming.ingest import DAY_MS

    store = StreamingStore(spark, os.path.join(dirs, "store"), "last", [])
    write_input(spark, dirs, [("k", 100, 1.0)], "b1")
    write_input(spark, dirs, [("k", 500 * DAY_MS + 100, 2.0)], "b2")
    drain(spark, dirs, store)

    assert store._log_days() == [0, 500]
    df = store._pruned([500])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__day" in plan
    assert [(r.ts, r.value) for r in df.collect()] == [(500 * DAY_MS + 100, 2.0)]


def test_twa_sparse_gap_incremental_matches_batch(spark, dirs):
    """A batch landing far from a key's older samples must still repair the
    buckets whose boundary interpolation it changed: the bucket holding the
    nearest stored sample on each side (found by the beyond-span day probe),
    not just the arithmetic ±1 neighbors.  Mirrors the reference's
    re-finalize-with-next-bucket-first-sample (src/tsdb.c:1276-1306)."""
    from redistimeseries_spark.streaming.compaction import materialize_rule
    from redistimeseries_spark.streaming.ingest import DAY_MS

    rule = CompactionRule(None, "_twa_1s", "twa", 1000)
    store = StreamingStore(spark, os.path.join(dirs, "store"), "last", [rule])
    # day 0: two samples -> closed bucket 0 materialized with NO next sample
    write_input(spark, dirs, [("k", 100, 1.0), ("k", 900, 3.0)], "b1")
    # 400 days later: the new samples become bucket 0's next-boundary
    # interpolation target -> bucket 0's twa changes and must be repaired
    far = 400 * DAY_MS
    write_input(spark, dirs, [("k", far + 100, 5.0), ("k", far + 600, 7.0)], "b2")
    # and an out-of-order insert BETWEEN them, changing both sides' interp
    write_input(spark, dirs, [("k", 200 * DAY_MS + 50, 4.0)], "b3")
    drain(spark, dirs, store)

    got = {
        r.ts: r.value for r in store.rule_table(rule, include_open=True).collect()
    }
    exp = {
        r.ts: r.value
        for r in materialize_rule(store.samples(), rule, include_open=True).collect()
    }
    assert got.keys() == exp.keys()
    for b in exp:
        assert abs(got[b] - exp[b]) < 1e-9, (b, got[b], exp[b])


def test_fully_rejected_batch_with_twa_rule_is_noop(spark, dirs):
    """A micro-batch whose samples are ALL rejected (beyond retention)
    must not crash the twa repair (empty touched set) nor disturb the
    dest."""
    from redistimeseries_spark.streaming.compaction import materialize_rule

    rule = CompactionRule(None, "_twa_1s", "twa", 1000)
    avg_rule = CompactionRule(None, "_avg_1s", "avg", 1000)
    store = StreamingStore(
        spark, os.path.join(dirs, "store"), "last", [rule, avg_rule],
        retention_ms=1000,
    )
    write_input(spark, dirs, [("k", 100_000, 1.0), ("k", 100_500, 3.0)], "b1")
    write_input(spark, dirs, [("k", 10, 9.0)], "b2")  # far beyond retention
    drain(spark, dirs, store)

    got = sorted((r.ts, r.value) for r in store.samples().collect())
    assert got == [(100_000, 1.0), (100_500, 3.0)]
    exp = {r.ts: r.value
           for r in materialize_rule(store.samples(), rule, include_open=True).collect()}
    have = {r.ts: r.value
            for r in store.rule_table(rule, include_open=True).collect()}
    assert have.keys() == exp.keys()
    for t in exp:
        assert abs(have[t] - exp[t]) < 1e-9


def test_rule_src_key_pattern_limits_dest_keys(spark, dirs):
    """Rules with a source-key pattern maintain buckets for matching keys
    only — the incremental dest equals `materialize_rule` over the store,
    for a bucket-local rule and for an EWM rule (its own repair path)."""
    from redistimeseries_spark.streaming.compaction import materialize_rule

    rules = [
        CompactionRule("^a", "_s", "avg", 1000),
        CompactionRule("^a", "_e", "ewma_0.5", 1000),
    ]
    store = StreamingStore(spark, os.path.join(dirs, "store"), "last", rules)
    write_input(
        spark, dirs, [("a1", 100, 1.0), ("b1", 200, 2.0), ("a1", 1100, 3.0)], "b1"
    )
    write_input(
        spark, dirs,
        [("a1", 600, 5.0), ("b1", 1200, 4.0), ("b1", 2500, 6.0), ("a1", 2100, 7.0)],
        "b2",
    )
    drain(spark, dirs, store)

    for rule in rules:
        got = sorted(
            (r.key + rule.dest_suffix, r.ts, round(r.value, 9))
            for r in store.rule_table(rule).collect()
        )
        exp = sorted(
            (r.key, r.ts, round(r.value, 9))
            for r in materialize_rule(store.samples(), rule).collect()
        )
        assert got == exp and {k for k, _, _ in got} == {"a1" + rule.dest_suffix}
    assert {(r.ts, r.value) for r in store.rule_table(rules[0]).collect()} == {
        (0, 3.0),
        (1000, 3.0),
    }


def test_last_policy_across_batches_partitioned_writer(spark, dirs):
    """'last' duplicate resolution must follow BATCH order even when an
    earlier batch ran with many partitions (the old seq formula let a
    high-partition-id row from batch N outrank batch N+1)."""
    store = StreamingStore(spark, os.path.join(dirs, "store"), "last", [])
    # batch 1: many partitions so rows land in high spark partition ids
    b1 = spark.createDataFrame(
        [("k", 100, float(i)) for i in range(64)], SCHEMA
    ).repartition(32)
    store.process_batch(b1, 0)
    b2 = spark.createDataFrame([("k", 100, -1.0)], SCHEMA).coalesce(1)
    store.process_batch(b2, 1)
    assert [(r.ts, r.value) for r in store.samples().collect()] == [(100, -1.0)]


def test_replayed_batch_is_noop(spark, dirs):
    """foreachBatch re-delivers a batch after a restart: a batch id the
    store already committed is a no-op (under `sum` a second apply would
    double every sample, `latest` and the rule bucket), also for a new
    store object on the same root; an id below the committed one is a new
    checkpoint on an old root and raises."""
    rule = CompactionRule(None, "_sum_1m", "sum", 60_000)
    root = os.path.join(dirs, "store")
    store = StreamingStore(spark, root, "sum", [rule])

    def batch():
        return spark.createDataFrame([("a", 1000, 1.0), ("a", 2000, 2.0)], SCHEMA)

    def state(st):
        return (
            sorted((r.ts, r.value) for r in st.samples().collect()),
            [(r.ts, r.value) for r in st.latest().collect()],
            [(r.ts, r.value) for r in st.rule_table(rule, include_open=True).collect()],
        )

    store.process_batch(batch(), 0)
    want = ([(1000, 1.0), (2000, 2.0)], [(2000, 2.0)], [(0, 3.0)])
    assert state(store) == want
    store.process_batch(batch(), 0)
    assert state(store) == want
    restarted = StreamingStore(spark, root, "sum", [rule])
    restarted.process_batch(batch(), 0)
    assert state(restarted) == want
    restarted.process_batch(batch(), 1)  # a new id applies
    assert state(restarted)[0] == [(1000, 2.0), (2000, 4.0)]
    from redistimeseries_spark.streaming.ingest import StaleBatchError

    with pytest.raises(StaleBatchError, match="older than"):
        restarted.process_batch(batch(), 0)


@pytest.mark.parametrize(
    "crash", ["partial_compact", "between_renames", "marker_after_swap"]
)
def test_compact_crash_recovery(spark, dirs, crash):
    """compact() swaps each table by renames under the `_compacting`
    marker: `<t>__compact` written, `<t>` -> `<t>__old`, `<t>__compact`
    -> `<t>`, `<t>__old` deleted, marker down.  Each crash point leaves
    an on-disk state; a fresh store on the root recovers it in its next
    process_batch, which then holds the pre-crash rows plus the new ones
    with no read raising.  (Between the renames the log lives only in
    `samples_log__old`: without recovery the next batch starts a fresh
    log and the history is lost.)"""
    import shutil

    root = os.path.join(dirs, "store")
    rule = CompactionRule(None, "_avg_1m", "avg", 60_000)
    store = StreamingStore(spark, root, "last", [rule])
    store.process_batch(
        spark.createDataFrame([("a", 1000, 1.0), ("b", 90_000, 2.0)], SCHEMA), 0
    )
    store.process_batch(spark.createDataFrame([("a", 2000, 3.0)], SCHEMA), 1)
    before = sorted(tuple(r) for r in store.samples().collect())

    def partial(table):
        # a half-written compaction output: one data file of the live table
        src = next(
            os.path.join(d, f)
            for d, _, fs in os.walk(table)
            for f in fs
            if f.endswith(".parquet")
        )
        os.makedirs(table + "__compact")
        shutil.copy(src, table + "__compact")

    if crash == "partial_compact":
        partial(store.log_dir)
    elif crash == "between_renames":
        partial(store.log_dir)
        os.rename(store.log_dir, store.log_dir + "__old")
    else:
        store.compact()
        shutil.copytree(store.latest_dir, store.latest_dir + "__old")
    with open(store._compacting_marker, "w"):
        pass

    fresh = StreamingStore(spark, root, "last", [rule])
    fresh.process_batch(spark.createDataFrame([("c", 5000, 4.0)], SCHEMA), 2)
    got = sorted(tuple(r) for r in fresh.samples().collect())
    assert got == sorted(before + [("c", 5000, 4.0)])
    assert sorted((r.key, r.ts) for r in fresh.latest().collect()) == [
        ("a", 2000), ("b", 90_000), ("c", 5000)
    ]
    assert fresh.rule_table(rule, include_open=True).count() == 3
    assert not os.path.exists(fresh._compacting_marker)
    assert not [n for n in os.listdir(root) if n.endswith(("__old", "__compact"))]
    fresh.compact()
    assert sorted(tuple(r) for r in fresh.samples().collect()) == got
