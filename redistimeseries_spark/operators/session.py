"""Gap-based sessionization of per-key sample streams.

Not in the reference surface (its closest notion is the bucket), but the
first event-stream question users ask after range aggregation: split each
series into sessions separated by silence > gap, then aggregate per
session.

Batch shape, SKEW-SAFE (late round 9 — the `rate._chain` discipline):
session starts are a lag predicate and session ids a running sum of
starts, both LINEAR in the per-key scan — so each (key, ~4.7h
time-chunk) computes its starts locally (the chunk's first row reads
the previous chunk's last ts from one lag over the per-chunk aggregated
frame), a cumulative sum over that tiny frame hands every chunk the
number of sessions opened before it, and the in-chunk running sum adds
the local offsets.  A pathologically hot series parallelizes across its
time span instead of sorting in one task; the bare-key plan is kept as
`_sessionize_key_window`, the fuzz-pinned differential twin.  The
streaming analogue is Spark's native `F.session_window(ts, gap)`
watermark aggregation; this module is the batch/backfill path that
matches it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# the rate/smooth/resample chunking constant (~4.7 h of millis)
SESSION_CHUNK_MS = 1 << 24


def sessionize(
    samples: DataFrame, gap_ms: int, chunk_ms: int = SESSION_CHUNK_MS
) -> DataFrame:
    """(key, ts, value, session_id) — session_id numbers sessions per key
    from 1 in time order; a new session starts when the gap from the
    previous sample exceeds `gap_ms` (strict).  Requires unique (key, ts)
    (resolve duplicates first — write/dup_policy)."""
    if chunk_ms <= 0:
        raise ValueError("chunk_ms must be positive")
    c = (F.col("ts") - F.pmod(F.col("ts"), F.lit(chunk_ms))).alias("__c")
    d = samples.select("key", "ts", "value", c)
    wloc = Window.partitionBy("key", "__c").orderBy("ts")
    d = d.withColumn("__pts", F.lag("ts").over(wloc))
    # a start among rows with an IN-CHUNK predecessor; the chunk's first
    # row is decided against the previous chunk's last ts below
    tail_start = F.col("ts") - F.col("__pts") > gap_ms
    per_chunk = d.groupBy("key", "__c").agg(
        F.min("ts").alias("__fts"),
        F.max("ts").alias("__lts"),
        F.sum(
            F.when(F.col("__pts").isNotNull(), tail_start.cast("long"))
        ).alias("__ntail"),
    )
    wk = Window.partitionBy("key").orderBy("__c")
    pf = per_chunk.withColumn("__plts", F.lag("__lts").over(wk))
    first_start = F.col("__plts").isNull() | (
        F.col("__fts") - F.col("__plts") > gap_ms
    )
    pf = pf.withColumn(
        "__nstarts",
        F.coalesce(F.col("__ntail"), F.lit(0)) + first_start.cast("long"),
    )
    # sessions opened BEFORE this chunk + whether this chunk's first row
    # opens one — everything each chunk needs, on a #chunks-sized frame
    ctx = pf.select(
        "key",
        "__c",
        first_start.alias("__fstart"),
        F.coalesce(
            F.sum("__nstarts").over(
                wk.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__base"),
    )
    run = wloc.rowsBetween(Window.unboundedPreceding, 0)
    start = F.when(
        F.col("__pts").isNull(), F.col("__fstart")
    ).otherwise(tail_start)
    return (
        d.join(ctx, ["key", "__c"])
        .select(
            "key",
            "ts",
            "value",
            (F.col("__base") + F.sum(start.cast("long")).over(run)).alias(
                "session_id"
            ),
        )
    )


def _sessionize_key_window(samples: DataFrame, gap_ms: int) -> DataFrame:
    """The pre-chunking plan — one bare-key window (a hot series sorts
    its whole history in one task).  Kept as the DIFFERENTIAL REFERENCE
    for the chunk-local `sessionize` and the comparison arm of the
    hot-series probe."""
    w = Window.partitionBy("key").orderBy("ts")
    prev = F.lag("ts").over(w)
    starts = prev.isNull() | (F.col("ts") - prev > gap_ms)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return samples.select(
        "key",
        "ts",
        "value",
        F.sum(starts.cast("long")).over(run).alias("session_id"),
    )


def session_stats(samples: DataFrame, gap_ms: int) -> DataFrame:
    """(key, session_id, start_ts, end_ts, n_samples, sum_value) — one row
    per session."""
    return (
        sessionize(samples, gap_ms)
        .groupBy("key", "session_id")
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("value").alias("sum_value"),
        )
    )
