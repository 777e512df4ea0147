"""TS.INCRBY / TS.DECRBY, TS.DEL, and the IGNORE ingest dedup filter.

INCRBY (src/module.c:1469-1564): each increment reads lastValue and writes
lastValue + delta at ts — over a batch of increments this is exactly a
running cumulative sum per key, i.e. one window scan (no driver loop).

DEL (src/module.c:2306-2339): delete samples in [from, to]; on a Delta
layout this is `DELETE WHERE key = ? AND ts BETWEEN`; here the batch
builder returns the surviving rows plus the deleted ones, from which a
caller can derive the rule buckets to recompute (ContinuousDeletion
cascade, src/tsdb.c:772-793).

IGNORE (src/module.c:986-1023): at ingest, with DP_LAST, drop a sample if
ts - prev_ts <= ignoreMaxTimeDiff AND |value - prev_value| <=
ignoreMaxValDiff where prev is the previously *kept* sample.  The kept-set
dependence makes it a sequential scan per key — vectorized numpy inside
applyInPandas, same scale shape as TWA (parallel across keys).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# seq-chunk width for the incrby running sum (power of two; the
# rate/smooth time-chunk discipline applied to the ARRIVAL axis)
INCRBY_CHUNK = 1 << 20


def incrby(
    increments: DataFrame, seq_col: str = "seq", chunk: int = INCRBY_CHUNK
) -> DataFrame:
    """increments: (key, ts, value=delta, seq).  Returns the resulting
    samples: running sum of deltas per key in arrival order.

    SKEW-SAFE (late round 9): the cumulative sum is associative, so each
    (key, seq-chunk) folds its deltas locally, a cumulative sum over the
    one-row-per-chunk frame hands every chunk the sum of everything
    before it, and the in-chunk running sum adds the local prefix — a
    single hot counter key replayed over a large backfill batch
    parallelizes across its arrival order instead of one task.  The
    bare-key plan is kept as `_incrby_key_window`, the differential
    twin.  (The streaming path — stateful.py — carries state across
    micro-batches and is unaffected.)"""
    if chunk <= 0:
        raise ValueError("chunk must be positive")
    d = increments.withColumn(
        "__c", F.col(seq_col) - F.pmod(F.col(seq_col), F.lit(chunk))
    )
    wloc = (
        Window.partitionBy("key", "__c")
        .orderBy(seq_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wk = Window.partitionBy("key").orderBy("__c")
    csum = d.groupBy("key", "__c").agg(F.sum("value").alias("__csum"))
    # the coalesce zero must carry sum(value)'s OWN type — a 0.0 double
    # literal would widen integer deltas to double, diverging from the
    # bare-key twin's schema (round-9 ADVICE finding)
    zero = F.lit(0).cast(csum.schema["__csum"].dataType)
    base = csum.select(
        "key",
        "__c",
        F.coalesce(
            F.sum("__csum").over(
                wk.rowsBetween(Window.unboundedPreceding, -1)
            ),
            zero,
        ).alias("__base"),
    )
    return (
        d.join(base, ["key", "__c"])
        .select(
            "key",
            "ts",
            (F.col("__base") + F.sum("value").over(wloc)).alias("value"),
        )
    )


def _incrby_key_window(increments: DataFrame, seq_col: str = "seq") -> DataFrame:
    """The pre-chunking plan — one bare-key running sum (a hot counter
    replays its whole batch in one task).  Kept as the DIFFERENTIAL
    REFERENCE for the chunk-local `incrby`."""
    w = (
        Window.partitionBy("key")
        .orderBy(seq_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return increments.select(
        "key", "ts", F.sum("value").over(w).alias("value")
    )


def ts_del(
    samples: DataFrame, key: str, from_ts: int, to_ts: int
) -> tuple[DataFrame, DataFrame]:
    """Returns (surviving samples, deleted rows' bucket spine seed) —
    the deleted rows, so rule destinations can recompute affected buckets."""
    hit = (F.col("key") == key) & F.col("ts").between(from_ts, to_ts)
    return samples.filter(~hit), samples.filter(hit)


def _kept_chain(
    t: np.ndarray,
    v: np.ndarray,
    max_time_diff: int,
    max_val_diff: float,
    anchor_t: int | None = None,
    anchor_v: float | None = None,
    upsert_passthrough: bool = False,
) -> np.ndarray:
    """Boolean keep-mask of the reference kept-chain (src/module.c:986-998):
    a sample is dropped iff it is within BOTH diffs of the previously KEPT
    sample.  anchor_t/anchor_v seed the chain (streaming continuation across
    micro-batches); with upsert_passthrough, rows at ts <= current anchor
    pass through kept without becoming the anchor (the upsert path is not
    guarded by IGNORE, src/module.c:1000-1023).

    The chain is sequential in its anchors, but between two anchors every
    comparison is against the SAME anchor — so the scan from each anchor is
    a vectorized numpy window, grown geometrically until the next
    breakpoint appears.  Work is ~O(n) with a 64-wide constant instead of
    per-row Python."""
    n = len(t)
    keep = np.zeros(n, dtype=bool)
    i = 0
    have = anchor_t is not None
    at = int(anchor_t) if have else 0
    av = float(anchor_v) if have else 0.0
    while i < n:
        if not have:
            keep[i] = True
            at, av, have = int(t[i]), float(v[i]), True
            i += 1
            continue
        j, step, nxt = i, 64, -1
        while j < n:
            hi = min(n, j + step)
            seg_t = t[j:hi]
            # the reference's `<=` test negated, so a NaN value (or
            # anchor) is never within max_val_diff: it is kept
            brk = (seg_t - at > max_time_diff) | ~(np.abs(v[j:hi] - av) <= max_val_diff)
            if upsert_passthrough:
                newer = seg_t > at
                brk &= newer
                passthrough = ~newer
            else:
                passthrough = np.zeros(hi - j, dtype=bool)
            if brk.any():
                w = int(np.argmax(brk))
                keep[j : j + w][passthrough[:w]] = True
                nxt = j + w
                break
            keep[j:hi][passthrough] = True
            j = hi
            step *= 2
        if nxt < 0:
            break
        keep[nxt] = True
        at, av = int(t[nxt]), float(v[nxt])
        i = nxt + 1
    return keep


def ignore_filter(
    samples: DataFrame, max_time_diff: int, max_val_diff: float
) -> DataFrame:
    """Sequentially drop near-identical consecutive samples per key
    (kept-sample semantics, src/module.c:986-998)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts")
        t = pdf["ts"].to_numpy(np.int64)
        v = pdf["value"].to_numpy(np.float64)
        return pdf[_kept_chain(t, v, max_time_diff, max_val_diff)]

    return samples.groupBy("key").applyInPandas(
        fn, samples.schema
    )


def ignore_filter_seeded(
    batch: DataFrame,
    seed: DataFrame,
    max_time_diff: int,
    max_val_diff: float,
) -> DataFrame:
    """Streaming-ingest IGNORE: like ignore_filter, but the per-key chain is
    seeded with the last *stored* sample (src/module.c:986-998 compares the
    incoming sample against series->lastTimestamp/lastValue), so the filter
    is continuous across micro-batches.  seed: (key, ts, value) one row per
    key; seed rows are not emitted."""
    b = batch.withColumn("__seed", F.lit(False))
    extra = [c for c in batch.columns if c not in ("key", "ts", "value")]
    s = seed.select(
        "key",
        "ts",
        "value",
        *[F.lit(None).cast(batch.schema[c].dataType).alias(c) for c in extra],
    ).withColumn("__seed", F.lit(True))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts")
        seeded = pdf["__seed"].to_numpy(bool)
        sd, body = pdf[seeded], pdf[~seeded]
        t = body["ts"].to_numpy(np.int64)
        v = body["value"].to_numpy(np.float64)
        at = int(sd["ts"].iloc[0]) if len(sd) else None
        av = float(sd["value"].iloc[0]) if len(sd) else None
        return body[
            _kept_chain(
                t, v, max_time_diff, max_val_diff, at, av, upsert_passthrough=True
            )
        ]

    return (
        b.unionByName(s)
        .groupBy("key")
        .applyInPandas(fn, b.schema)
        .drop("__seed")
    )


def madd_status(raw: DataFrame, retention_ms: int | None = None) -> DataFrame:
    """(key, ts, seq, status) — TS.MADD's per-triple reply array, computed
    distributedly: the reference walks the batch and answers each triple
    with its resolved timestamp or its error (src/module.c:1115-1161,
    failed triples never ingested/replicated).  With DUPLICATE_POLICY
    BLOCK the two rejection classes are

      LATE       ts older than (max accepted ts so far) - retention
                 (src/tsdb.c:676-686 retention check precedes the
                 duplicate path)
      DUPLICATE  a same-(key, ts) triple was already accepted earlier in
                 arrival (seq) order (upsert blocked, src/tsdb.c:688-705)

    Sequential semantics collapse to two per-key windows because rejected
    triples never advance lastTimestamp: a LATE triple is <= the running
    max by definition, and a DUPLICATE equals an earlier accepted ts — so
    the running max over ALL triples equals the running max over accepted
    ones, and 'first arrival per (key, ts)' identifies the accepted
    upsert.  Both windows are key-partitioned — no corpus-wide sort, and
    the bucketed (key, ts)-sorted layout satisfies them without an
    exchange."""
    w_prev = (
        Window.partitionBy("key")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_dup = Window.partitionBy("key", "ts").orderBy("seq")
    out = raw.withColumn("__rn", F.row_number().over(w_dup))
    late = F.lit(False)
    if retention_ms is not None:
        out = out.withColumn("__runmax", F.max("ts").over(w_prev))
        late = F.col("ts") < F.col("__runmax") - F.lit(retention_ms)
    return out.select(
        "key",
        "ts",
        "seq",
        F.when(late, F.lit("LATE"))
        .when(F.col("__rn") > 1, F.lit("DUPLICATE"))
        .otherwise(F.lit("OK"))
        .alias("status"),
    )
