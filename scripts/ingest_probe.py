"""Streaming-ingest scale probe: per-micro-batch maintenance cost must be
independent of total log length (round-4 fix — day-partitioned log +
touched-day-pruned rule recompute, streaming/ingest.py).

Seeds a StreamingStore log with H days of history (same per-day density),
then times ONE process_batch of fresh same-day samples with an avg rule and
a twa rule attached, and counts its Spark jobs through a job group.  Before the fix the recompute re-read + dup-resolved
the WHOLE log every batch (O(history)); after it, wall should be flat in H.

Run: python scripts/ingest_probe.py [--days 10 100] [--keys 50] [--per-day 20000]
The session comes from `get_spark()`, sized by SPARK_GRAFT_CPUS and
SPARK_GRAFT_DRIVER_MEM like the test suite.
"""

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from redistimeseries_spark import get_spark
from redistimeseries_spark.streaming.compaction import CompactionRule
from redistimeseries_spark.streaming.ingest import DAY_MS, StreamingStore


def seed(spark, store, days, keys, per_day):
    """History: per_day samples/day spread over `keys` series, appended in
    the store's own day-partitioned layout."""
    n = days * per_day
    # key decorrelated from day: every key writes every day (the realistic
    # shape — a correlated seed would force the twa prev-sample probe into
    # genuine multi-day history walks for keys silent on the batch day)
    df = (
        spark.range(n)
        .select(
            F.concat(F.lit("k"), ((F.col("id") / days).cast("long") % keys)).alias("key"),
            (
                (F.col("id") % days) * DAY_MS
                + (F.col("id") * 104729) % DAY_MS
            ).alias("ts"),
            (F.col("id") % 1000).cast("double").alias("value"),
            F.col("id").alias("seq"),
        )
    )
    store._append_log(df)
    # latest table must exist for the maintenance paths that seed from it:
    # one delta through the store's own writer
    store._append_latest(df)


def one_batch(spark, store, days, keys, batch_rows, batch_id):
    base = (days - 1) * DAY_MS + DAY_MS // 2
    batch = spark.range(batch_rows).select(
        F.concat(F.lit("k"), (F.col("id") % keys)).alias("key"),
        (base + F.col("id") * 7).alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    # the batch's Spark jobs, counted through a job group
    sc = spark.sparkContext
    group = f"ingest_probe_{batch_id}"
    sc.setJobGroup(group, group)
    t0 = time.monotonic()
    try:
        store.process_batch(batch, batch_id=batch_id)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return time.monotonic() - t0, len(sc.statusTracker().getJobIdsForGroup(group))


def auto_compact_probe(spark, keys, batch_rows, n_batches, every):
    """Round-9 arm (verdict r8 ask #3): N same-day micro-batches through
    one store WITH compact_every vs one WITHOUT — per-batch wall must
    stay flat at high batch counts with the compactions amortized, and
    the compacted store's log file count bounded."""
    import tempfile as _tf

    out = {}
    # round-10 arm: compact_max_files thresholds on the quantity the
    # read-side floor actually depends on (log data-file count), firing
    # only when fragmentation accumulated.  This probe's batches write
    # ~32 fragment files each (range-parallel appends), so 64*every
    # (=640 at the default) trips about every 2*every batches — half
    # the rewrites of compact_every=N for a still-bounded read floor
    arms = (
        ("auto", {"compact_every": every}),
        ("maxfiles", {"compact_max_files": 64 * every}),
        ("none", {}),
    )
    # untimed warmup into a throwaway store: the first batches in a
    # fresh JVM pay JIT/heap expansion (~7 s/batch extra), which would
    # otherwise land entirely on the first arm and dominate its total
    warm_root = _tf.mkdtemp(prefix="ingest_probe_ac_warm_")
    try:
        warm = StreamingStore(
            spark, os.path.join(warm_root, "store"), "last",
            [CompactionRule(None, "_avg_1h", "avg", 3_600_000)],
        )
        for i in range(3):
            warm.process_batch(
                spark.range(batch_rows).select(
                    F.concat(F.lit("k"), (F.col("id") % keys)).alias("key"),
                    (F.col("id") * 7 + i).alias("ts"),
                    F.col("id").cast("double").alias("value"),
                ),
                batch_id=i,
            )
    finally:
        shutil.rmtree(warm_root, ignore_errors=True)
    for label, kw in arms:
        root = _tf.mkdtemp(prefix=f"ingest_probe_ac_{label}_")
        try:
            store = StreamingStore(
                spark, os.path.join(root, "store"), "last",
                [CompactionRule(None, "_avg_1h", "avg", 3_600_000)],
                **kw,
            )
            walls = []
            for i in range(n_batches):
                batch = spark.range(batch_rows).select(
                    F.concat(F.lit("k"), (F.col("id") % keys)).alias("key"),
                    (F.col("id") * 7 + i).alias("ts"),
                    F.col("id").cast("double").alias("value"),
                )
                t0 = time.monotonic()
                store.process_batch(batch, batch_id=i)
                walls.append(time.monotonic() - t0)
            q = max(1, n_batches // 4)
            out[label] = {
                "first_quarter_avg_sec": round(sum(walls[:q]) / q, 3),
                "last_quarter_avg_sec": round(sum(walls[-q:]) / q, 3),
                "total_sec": round(sum(walls), 1),
                "log_files": store.log_file_count(),
            }
            print(f"auto_compact[{label}]: {out[label]}", flush=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--days", type=int, nargs="+", default=[10, 100])
    ap.add_argument("--keys", type=int, default=50)
    ap.add_argument("--per-day", type=int, default=20_000)
    ap.add_argument("--batch-rows", type=int, default=5_000)
    ap.add_argument("--auto-compact", action="store_true",
                    help="run the round-9 compact_every probe instead")
    ap.add_argument("--ewm", action="store_true",
                    help="attach the round-11 EWM smoothing rules "
                    "(ewma_0.3 + ewm_band_0.3_2.0) instead of avg/twa — "
                    "the warm batch builds the carried moment-state "
                    "table via the no-seed full-history path; the "
                    "measured batch must then be FLAT in history "
                    "length (seeded forward repair reads only the "
                    "touched days + the keys' pk state partitions)")
    ap.add_argument("--batches", type=int, default=40)
    ap.add_argument("--every", type=int, default=10)
    a = ap.parse_args()

    spark = get_spark("ingest_probe")
    spark.sparkContext.setLogLevel("ERROR")

    if a.auto_compact:
        auto_compact_probe(spark, a.keys, a.batch_rows, a.batches, a.every)
        return

    results = {}
    for days in a.days:
        root = tempfile.mkdtemp(prefix=f"ingest_probe_{days}d_")
        try:
            if a.ewm:
                rules = [
                    CompactionRule(None, "_ewma_1h", "ewma_0.3", 3_600_000),
                    CompactionRule(
                        None, "_band_1h", "ewm_band_0.3_2.0", 3_600_000
                    ),
                ]
            else:
                rules = [
                    CompactionRule(None, "_avg_1h", "avg", 3_600_000),
                    CompactionRule(None, "_twa_1h", "twa", 3_600_000),
                ]
            store = StreamingStore(spark, os.path.join(root, "store"), "last", rules)
            seed(spark, store, days, a.keys, a.per_day)
            # warm once (JIT/scheduler), measure the second batch; ids
            # above the seeded seqs, and distinct (a re-sent id is a no-op)
            one_batch(spark, store, days, a.keys, a.batch_rows, 10_000)
            wall, jobs = one_batch(spark, store, days, a.keys, a.batch_rows, 10_001)
            results[days] = wall
            print(
                f"history={days}d ({days * a.per_day:,} rows) "
                f"one-batch wall = {wall:.2f}s, {jobs} Spark jobs",
                flush=True,
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)

    ds = sorted(results)
    if len(ds) >= 2:
        ratio = results[ds[-1]] / results[ds[0]]
        print(
            f"wall ratio {ds[-1]}d/{ds[0]}d = {ratio:.2f}x "
            f"(history grew {ds[-1] // ds[0]}x; flat == pruned recompute)"
        )


if __name__ == "__main__":
    main()
