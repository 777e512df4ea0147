"""Per-series smoothing — EWMA, Holt double-exponential, LTTB, anomalies.

Beyond-reference operator (the reference has no smoothing aggregator;
EWMA is the standard dashboard/alerting smoother).  The recurrence

    y_0 = x_0;   y_t = alpha * x_t + (1 - alpha) * y_{t-1}

is sequential per key — but it is a LINEAR recurrence, so it is NOT a
single-task funnel (round 9, the `_bucket_chain` discipline applied to
state machines): every chunk of a series folds, independently and in
parallel, to the AFFINE MAP it applies to whatever state enters it
(exit = A * entry + B with A = (1-alpha)^n), a tiny per-key scan over
the one-row-per-chunk frame composes the entry states, and the per-row
values come back as pure expressions (pow * entry + local).  Holt is
the same idea one dimension up: state' = M state + c x with a constant
2x2 M, per-chunk M^n by squaring and the local folds by a vectorized
doubling scan (Hillis-Steele over affine maps), so a pathologically hot
series parallelizes across its TIME SPAN instead of serializing its
history into one task.  NaN samples are invalid everywhere
(isValueValid) and are dropped before smoothing — the chain links valid
samples.  Duplicate (key, ts) rows order deterministically by
(ts, value) — the rate._last_pair rule.

The EWM math lives here once, for every Python path: `ewm_recurrence`
(the seeded recurrence), `_ewm_chunked` (the summarize/stitch/replay
pipeline over a list of moment columns — ts_ewma's [value],
ts_ewm_band's centered [y, y^2]), and `ewm_band_columns` with its
`EWM_SNAP` variance snap.  streaming/stateful.ewm_band_stream and
streaming/ingest's EWM rules call the same functions; the sql.py
`ewm_band` TVF, which cannot call Python, takes the snap from
`EWM_SNAP`.

Float note: the chunked composition is mathematically exact but not
bit-identical to the sequential loop (power/scan vs multiply-add
order).  Drift is bounded by ulps of the final few chunks — the decay
factor (1-alpha)^n of any real chunk annihilates upstream error — and
the sequential kernels are retained (`_ts_ewma_sequential`,
`_ts_holt_sequential`) as differential twins, fuzz-pinned within 1e-9;
the oracle gates compare at 6dp rounding on both engines.

Scale shape: one exchange to (key, chunk), chunk-bounded Arrow kernels
(pandas' C `ewm` for EWMA; O(n) numpy + O(log n) scan passes for
Holt), one #chunks-sized per-key stitch, one co-partitioned join back.
The DuckDB oracle replays the recurrence with a recursive CTE, so the
operator is hash-gated despite being non-relational.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from redistimeseries_spark.materialize import materialize

from redistimeseries_spark import MAX_TS, MIN_TS
from redistimeseries_spark.functions.filters import filter_valid_range

EWMA_SCHEMA = "key string, ts long, ewma double"
EWM_BAND_SCHEMA = (
    "key string, ts long, value double, ewma double, std double,"
    " upper double, lower double, breakout boolean"
)
LTTB_SCHEMA = "key string, ts long, value double"
HOLT_SCHEMA = "key string, ts long, level double, trend double"

# per-(key, time-chunk) partitioning for the linear-recurrence family
# (~4.7 h of millis, the rate._last_pair constant): parallelism grows
# with a hot series' time span — the axis a time series grows along
SMOOTH_CHUNK_MS = 1 << 24

# density-adaptive chunking target for the PANDAS-backed chunk-affine
# pipelines (ewma/holt/moments): ~128k rows per Arrow group — big enough
# to amortize the per-group Python/Arrow overhead, small enough that a
# 1B-row hot series still spreads over ~8k tasks
ADAPTIVE_TARGET_ROWS = 1 << 17


def _assign_chunks(df, chunk_ms, extra_stats=None):
    """df + `__c` (+ any `extra_stats` per-key aggregate columns) — the
    chunk column the chunk-affine pipelines group on.

    `chunk_ms=None` (the operator default since round 11) uses the
    DENSITY-ADAPTIVE per-key grid: each key splits into
    ceil(n_k / ADAPTIVE_TARGET_ROWS) equal time slices of its OWN span,
    so a hot series parallelizes across ~n/128k Arrow-sized groups
    while a balanced fleet keeps ONE group per key.  A fixed time grid
    cannot do both: round 9's 1<<24 ms grid splintered a balanced
    10M-rows/500k-series layout (20 samples per key across a 28-day
    span) into ~1-row groups, and the per-group Python/Arrow overhead
    took ts_ewma from the sequential kernel's 1.7 s to 30+ s — while a
    coarser grid would re-serialize the hot series.  Chunk indices are
    time-monotone, so the stitch's `__c` ordering is unchanged.  The
    stats aggregation is one map-side-combining hash agg on key; its
    join lands on the same key axis the pipeline's own (key, __c)
    exchange uses.  Expression-only chunk consumers (anomalies, cusum,
    resample, sessionize) keep the fixed grid — JVM window state has no
    per-group setup cost, and tiny partitions are free there.

    `chunk_ms=<int>` keeps the fixed time grid (tests force tiny chunks
    to pin the stitch math; probes compare grids).

    In adaptive mode the result also carries `__ck` (the key's chunk
    count): single-chunk keys (`__ck == 1` — the entire balanced fleet)
    take the SINGLE-PASS sequential kernel instead of the three-stage
    summarize/stitch/replay pipeline, which pays two extra full-data
    exchanges and folds every value twice for nothing when there is no
    state to stitch."""
    aggs = dict(extra_stats or {})
    if chunk_ms is None:
        aggs["__n"] = F.count(F.lit(1))
        aggs["__t0"] = F.min("ts")
        aggs["__t1"] = F.max("ts")
    if not aggs:
        return df.withColumn(
            "__c", F.col("ts") - F.pmod(F.col("ts"), F.lit(chunk_ms))
        )
    stats = df.groupBy("key").agg(
        *[v.alias(k) for k, v in aggs.items()]
    )
    j = df.join(stats, "key")
    if chunk_ms is None:
        ck = F.ceil(F.col("__n") / F.lit(ADAPTIVE_TARGET_ROWS))
        # exact in doubles: (ts - t0) * ck <= span * n/128k < 2^53 for
        # any realistic (span_ms, rows); floor of a ts-monotone ratio
        # keeps chunk indices sorted by time
        span1 = F.col("__t1") - F.col("__t0") + F.lit(1)
        j = (
            j.withColumn("__ck", ck.cast("long"))
            .withColumn(
                "__c",
                F.floor(
                    ((F.col("ts") - F.col("__t0")) * F.col("__ck"))
                    / span1
                ).cast("long"),
            )
            .drop("__n", "__t0", "__t1")
        )
    else:
        j = j.withColumn(
            "__c", F.col("ts") - F.pmod(F.col("ts"), F.lit(chunk_ms))
        )
    return j


def _split_cold(d, chunk_ms):
    """(cold, hot) halves of an adaptive-chunked frame: cold = keys that
    fit one chunk (sequential kernel), hot = the rest (chunk-affine
    pipeline).  Fixed-grid mode sends everything through the pipeline
    (the tests' forced-tiny-chunks contract).

    The chunked frame is MATERIALIZED here (eager localCheckpoint): the
    three-stage pipeline consumes it three times (the cold kernel, the
    summarize aggregation, and the replay join), and neither compile-time
    exchange reuse nor AQE's runtime stage cache deduplicates the
    subtrees — the Arrow group kernels between them defeat canonical
    matching (the same failure plan-verified on the minhash LSH band
    table) — so without this the scan, the per-key stats aggregation and
    the stats join all execute three times per query.  Measured at 1 key
    x 10M rows: ts_ewma 82 s -> 12 s; balanced 5k-key fleets are
    unchanged within noise.  The materialized volume is the filtered
    input plus two small columns — the same order as one shuffle of the
    data, which the pipeline's own (key, chunk) exchange already pays.
    DISK_ONLY: a corpus-scale block in the default MEMORY_AND_DISK level
    squeezes execution memory for every LATER query in the session
    (py4j releases the driver-side reference lazily, so blocks linger) —
    measured ts_holt 5.5 s isolated but 15.9 s after two prior ts_ewma
    calls; DISK_ONLY holds it at 6.2 s regardless of session history."""
    d = materialize(d)
    if chunk_ms is not None or "__ck" not in d.columns:
        return None, d
    return d.filter(F.col("__ck") == 1), d.filter(F.col("__ck") > 1)


# the EWM variance snap threshold (ewm_credible_std) — also spliced into
# the sql.py ewm_band TVF text
EWM_SNAP = 1e-10


def ewm_recurrence(x: np.ndarray, alpha: float, entry=None) -> np.ndarray:
    """y_i = alpha * x_i + (1 - alpha) * y_{i-1} over `x` (pandas' C
    `ewm(adjust=False)`) — THE EWM recurrence of every Python path.
    `entry` is the state before x_0 (a chunk's stitched entry, a
    stream's or a rule's carried state); None is the plain y_0 = x_0
    seed.  A prepended entry equal to x_0 reproduces that seed bit for
    bit (pandas skips the update when state == sample), which is why a
    chunk pipeline can seed its first chunk with its own first value."""
    seeded = entry is not None
    s = pd.Series(np.concatenate(([entry], x)) if seeded else x)
    y = s.ewm(alpha=alpha, adjust=False).mean().to_numpy()
    return y[1:] if seeded else y


def ewm_credible_std(var, ref):
    """sqrt(var), with var snapped to 0 at or below EWM_SNAP * ref.

    q - m^2 is a difference of q-magnitude terms, so a residue below
    EWM_SNAP of the second moment is float cancellation, not variance —
    sqrt would amplify it to a spurious band width that differs between
    any two arithmetic orders (it broke 6dp oracle matching on every
    key's second sample before the snap).  With CENTERED moments q is
    variance-scaled (not offset^2-scaled), so the relative threshold
    only ever removes true float residue — a mean-1e6/std-10 series
    keeps its genuine variance (uncentered, q was ~1e12 there and the
    snap deleted var=100, collapsing the band)."""
    return np.sqrt(np.where(var > EWM_SNAP * ref, var, 0.0))


def ewm_band_columns(c0, y, m, q, alpha: float, band_k: float) -> dict:
    """The adaptive band of samples y (centered: y = value - c0) from
    their post-update EWM moments m = ewm(y), q = ewm(y^2) — the
    ts_ewm_band output columns ewma/std/upper/lower/breakout.

    upper/lower are the ONE-STEP-AHEAD band each sample was tested
    against: the pre-update state, recovered from the recurrence as
    m_prev = (m - a*y) / (1-a) (same for q; for a series' first sample
    it is the sample itself — a zero-width band).  BOTH snaps reference
    the POST-update q: at a key's second sample the pre-update pq is
    itself a pure cancellation residue (the centered first sample is
    exactly 0), so a threshold relative to pq would keep it.  A
    zero-width band (one-sample or constant history) never breaks out."""
    pm = (m - alpha * y) / (1.0 - alpha)
    pq = (q - alpha * y * y) / (1.0 - alpha)
    psd = ewm_credible_std(pq - pm * pm, q)
    half = band_k * psd
    return {
        "ewma": c0 + m,
        "std": ewm_credible_std(q - m * m, q),
        "upper": c0 + (pm + half),
        "lower": c0 + (pm - half),
        "breakout": (psd > 0) & ((y > pm + half) | (y < pm - half)),
    }


def last_wins(pdf: pd.DataFrame) -> pd.DataFrame:
    """`pdf` in (ts, value) order with duplicate ts folded to the
    last-wins effective sample (the max value) — the one sample per ts
    the EWM moment pair consumes."""
    return (
        pdf.sort_values(["ts", "value"])
        .drop_duplicates(subset=["ts"], keep="last")
        .reset_index(drop=True)
    )


def _holt_seq_kernel(alpha, beta):
    """The single-pass per-key Holt kernel — shared by the cold-key
    fast path and the `_ts_holt_sequential` twin."""

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "value"]).reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"key": [], "ts": [], "level": [], "trend": []}
            ).astype(
                {"key": str, "ts": "int64", "level": float, "trend": float}
            )
        x = pdf["value"].to_numpy(dtype=np.float64)
        level = np.empty(n)
        trend = np.empty(n)
        level[0], trend[0] = x[0], x[1] - x[0]
        for i in range(1, n):
            level[i] = (
                alpha * x[i] + (1 - alpha) * (level[i - 1] + trend[i - 1])
            )
            trend[i] = (
                beta * (level[i] - level[i - 1]) + (1 - beta) * trend[i - 1]
            )
        return pd.DataFrame(
            {"key": pdf["key"], "ts": pdf["ts"],
             "level": level, "trend": trend}
        )

    return smooth


def _chunk_context(d, n: int):
    """The BOUNDED-WINDOW chunk-context union (round 9's ts_anomalies
    machinery, extracted in round 11 for every trailing-window
    operator): given a frame with (key, ts, value, __c), return it
    unioned with CONTEXT ROWS — each (key, chunk) gains the last `n`
    samples of the key's preceding chunks, flagged `__is_ctx = 1` — so
    a (key, __c)-partitioned trailing frame of up to `n` preceding
    rows sees exactly the multiset the bare-key plan would.  Context
    ts always precedes the chunk (chunk ids are time-monotone), so the
    (ts, value) ordering needs no special casing; consumers drop
    `__is_ctx = 1` rows after their window aggregates.

    Cost: one (key, __c) hash agg folding each chunk to its <= n-sample
    tail, one tiny per-key scan over the one-row-per-chunk frame (the
    running concatenation, exact even when chunks hold fewer than n
    samples), one explode + union — all bounded by n x #chunks, never
    by the series length."""
    wdesc = Window.partitionBy("key", "__c").orderBy(
        F.col("ts").desc(), F.col("value").desc()
    )
    tails = (
        d.select(
            "key", "__c", "ts", "value",
            F.row_number().over(wdesc).alias("__rd"),
        )
        .groupBy("key", "__c")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("__rd") <= n, F.struct("ts", "value"))
                )
            ).alias("__tail")
        )
    )

    ctx_schema = (
        "key string, __c long, __ctx array<struct<ts: bigint, value: double>>"
    )

    def stitch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__c").reset_index(drop=True)
        ctxs, run = [], []
        for tail in pdf["__tail"]:
            ctxs.append(list(run))
            run = (run + list(tail))[-n:]
        return pd.DataFrame(
            {"key": pdf["key"], "__c": pdf["__c"], "__ctx": ctxs}
        )

    ctx = tails.groupBy("key").applyInPandas(stitch, ctx_schema)
    ctx_rows = ctx.select(
        "key", "__c", F.explode("__ctx").alias("__e")
    ).select(
        "key",
        "__c",
        F.col("__e.ts").alias("ts"),
        F.col("__e.value").alias("value"),
        F.lit(1).alias("__is_ctx"),
    )
    return d.withColumn("__is_ctx", F.lit(0)).unionByName(ctx_rows)


def ts_anomalies(
    samples: DataFrame,
    window_n: int = 20,
    z: float = 3.0,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    flag_only: bool = False,
    chunk_ms: int = SMOOTH_CHUNK_MS,
    fast: bool = False,
) -> DataFrame:
    """(key, ts, value, mean, std, zscore, anomaly) — rolling z-score
    outlier detection per series: each sample is compared against the
    mean/stddev of its `window_n` PRECEDING valid samples (the sample
    itself excluded, so an outlier cannot vote itself normal).  The first
    window_n samples of a series and samples whose window has zero
    variance get zscore NULL / anomaly false — there is no baseline to
    deviate from.

    SKEW-SAFE plan (round 9 — the `_bucket_chain` discipline generalized
    to BOUNDED-WINDOW state): the rolling frame partitions by (key,
    chunk_ms time-chunk), and each chunk's first rows get their missing
    predecessors as CONTEXT ROWS — every chunk folds to the array of its
    last <=window_n samples (one conditional aggregate), a tiny per-key
    scan over the one-row-per-chunk frame computes each chunk's incoming
    context (last n of the running concatenation — exact even when
    chunks hold fewer than n samples), and the exploded context unions
    with the real rows ahead of the same (key, chunk) window (context ts
    always precedes the chunk, so ordering is natural; context rows are
    dropped after the aggregates).  Every real row sees EXACTLY the same
    preceding-sample multiset as the bare-key plan, retained as
    `_ts_anomalies_key_window`, the fuzz-pinned differential twin.  NaN
    samples are invalid everywhere and dropped first; duplicate
    (key, ts) rows order deterministically by (ts, value).
    `flag_only=True` keeps just the anomalous rows (the alerting
    consumer's shape).

    `fast=True` (round 10): swap the rolling aggregation for the
    centered cumulative-sum formulation — Spark re-aggregates a SLIDING
    frame per row (O(window_n)/row; measured 67.6 of the 72.2 s total
    at 1 key x 100M), while GROWING frames evaluate incrementally, so
    rolling sum/sumsq become two cumsums plus lag differences
    (23.2 s measured, ~3x).  Values are centered by the partition mean
    first (one evaluate-once unbounded frame), which keeps the
    two-pass variance formula exact-in-practice; the documented
    tradeoff is pathological data whose rolling variance sits MANY
    orders below the partition's value spread (a plateau after a huge
    in-chunk ramp), where the subtraction cancels — the default plan
    uses Spark's numerically stable central-moment sliding aggregate
    and stays the oracle-gated path.  Fuzz-pinned to the default
    within 1e-6 (test_fuzz_anomalies_fast).

    STEERING: for hot-series monitoring workloads (few keys x many
    samples — continuous anomaly sweeps over high-frequency metrics),
    pass `fast=True`: measured 33.2 vs 72.2 s at 1 key x 100M in the
    same run, 4.9 s at 10M, up to 37x in the round-10 hot-series probe.
    Keep the default for offline/oracle-exact audits or data with
    extreme in-window dynamic range (the two-pass contract above).
    The engine facade forwards it: `engine.anomalies(key, fast=True)`."""
    if window_n < 2:
        raise ValueError("window_n must be >= 2")
    if z <= 0:
        raise ValueError("z must be positive")
    if chunk_ms <= 0:
        raise ValueError("chunk_ms must be positive")
    df = _filter_range(samples, keys, start, end)
    d = df.select(
        "key",
        "ts",
        "value",
        (F.col("ts") - F.pmod(F.col("ts"), F.lit(chunk_ms))).alias("__c"),
    )
    unioned = _chunk_context(d, window_n)
    if fast:
        wo = Window.partitionBy("key", "__c").orderBy("ts", "value")
        # partition mean: an UNBOUNDED frame evaluates once per
        # partition; centering on it keeps the two-pass formula sane
        cm = F.avg("value").over(Window.partitionBy("key", "__c"))
        b = unioned.withColumn("__cm", cm).withColumn(
            "__vc", F.col("value") - F.col("__cm")
        )
        wg = wo.rowsBetween(Window.unboundedPreceding, 0)
        rn = F.row_number().over(wo)
        cs = F.sum("__vc").over(wg)
        cq = F.sum(F.col("__vc") * F.col("__vc")).over(wg)
        e = b.select(
            "key", "ts", "value", "__is_ctx", "__cm", "__c",
            rn.alias("__rn"), cs.alias("__cs"), cq.alias("__cq"),
        )
        wl = Window.partitionBy("key", "__c").orderBy("__rn")
        s_w = F.lag("__cs", 1).over(wl) - F.coalesce(
            F.lag("__cs", window_n + 1).over(wl), F.lit(0.0)
        )
        q_w = F.lag("__cq", 1).over(wl) - F.coalesce(
            F.lag("__cq", window_n + 1).over(wl), F.lit(0.0)
        )
        n_prev = F.least(F.col("__rn") - 1, F.lit(window_n))
        mean = F.col("__cm") + s_w / n_prev
        var = (q_w - s_w * s_w / n_prev) / (n_prev - 1)
        std = F.sqrt(F.greatest(var, F.lit(0.0)))
        # credibility guard: the two-pass variance is a difference of
        # ~q_w-magnitude terms, so a residue below ~1e-10 of the mean
        # centered square is cancellation noise, not signal — without
        # this, a tiny positive residue on a flat-after-ramp window
        # yields std ~ 0+ and an exploding zscore that FLIPS the anomaly
        # boolean (the default plan's stable aggregate has no such zone)
        credible = var > F.lit(1e-10) * (q_w / n_prev)
        zscore = F.when(
            (n_prev >= window_n) & (std > 0) & credible,
            (F.col("value") - mean) / std,
        )
        out = e.select(
            "key",
            "ts",
            "value",
            "__is_ctx",
            F.when(n_prev >= window_n, mean).alias("mean"),
            F.when(n_prev >= window_n, std).alias("std"),
            zscore.alias("zscore"),
            F.coalesce(F.abs(zscore) > z, F.lit(False)).alias("anomaly"),
        ).filter(F.col("__is_ctx") == 0).drop("__is_ctx")
        return out.filter("anomaly") if flag_only else out
    w = (
        Window.partitionBy("key", "__c")
        .orderBy("ts", "value")
        .rowsBetween(-window_n, -1)
    )
    n_prev = F.count("value").over(w)
    mean = F.avg("value").over(w)
    std = F.stddev_samp("value").over(w)
    zscore = F.when(
        (n_prev >= window_n) & (std > 0),
        (F.col("value") - mean) / std,
    )
    out = unioned.select(
        "key",
        "ts",
        "value",
        "__is_ctx",
        F.when(n_prev >= window_n, mean).alias("mean"),
        F.when(n_prev >= window_n, std).alias("std"),
        zscore.alias("zscore"),
        F.coalesce(F.abs(zscore) > z, F.lit(False)).alias("anomaly"),
    ).filter(F.col("__is_ctx") == 0).drop("__is_ctx")
    return out.filter("anomaly") if flag_only else out


def _ts_anomalies_key_window(
    samples: DataFrame,
    window_n: int = 20,
    z: float = 3.0,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    flag_only: bool = False,
) -> DataFrame:
    """The pre-round-9 plan — one bare-key rolling window (a hot series
    sorts its whole history in one task).  Kept as the DIFFERENTIAL
    REFERENCE for the chunk-context `ts_anomalies` and the comparison
    arm of the hot-series probe."""
    if window_n < 2:
        raise ValueError("window_n must be >= 2")
    if z <= 0:
        raise ValueError("z must be positive")
    from pyspark.sql import Window

    df = _filter_range(samples, keys, start, end)
    w = (
        Window.partitionBy("key")
        .orderBy("ts", "value")
        .rowsBetween(-window_n, -1)
    )
    n_prev = F.count("value").over(w)
    mean = F.avg("value").over(w)
    std = F.stddev_samp("value").over(w)
    zscore = F.when(
        (n_prev >= window_n) & (std > 0),
        (F.col("value") - mean) / std,
    )
    out = df.select(
        "key",
        "ts",
        "value",
        F.when(n_prev >= window_n, mean).alias("mean"),
        F.when(n_prev >= window_n, std).alias("std"),
        zscore.alias("zscore"),
        F.coalesce(F.abs(zscore) > z, F.lit(False)).alias("anomaly"),
    )
    return out.filter("anomaly") if flag_only else out


def ts_lttb(
    samples: DataFrame,
    threshold: int,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
) -> DataFrame:
    """(key, ts, value) — largest-triangle-three-buckets downsampling to
    at most `threshold` points per series (Steinarsson's LTTB, the
    standard visualization decimator: picks, per bucket, the point that
    maximizes the triangle area with the previously kept point and the
    next bucket's centroid; first/last points always kept).

    Sequential per key (each pick depends on the previous) — the
    bare-key Arrow applyInPandas route; the per-bucket area computation
    is vectorized numpy, the Python loop is O(threshold) per series.  NaN
    samples are dropped first (a NaN coordinate would poison every area).
    No SQL oracle exists for this pick order — covered by a pure-Python
    reference implementation in tests instead (the persisted-IVF
    precedent for non-relational operators).

    SCALE POSITION (round 9, deliberate): unlike ts_ewma/ts_holt — whose
    linear recurrences admit the chunk-affine stitch — LTTB's pick chain
    is genuinely sequential AND it is a VISUALIZATION DOWNSAMPLER: its
    output is bounded by rendered points (`threshold`, typically a few
    thousand), so the right way to run it on a pathologically hot series
    is to PRE-AGGREGATE first (TS.RANGE avg per bucket — one chart pixel
    cannot show more than one bucket anyway) and LTTB the bucketed
    series.  The bare-key kernel is therefore kept as the exact
    algorithm on purpose; it is not a hidden funnel, it is the
    documented contract."""
    import numpy as np

    if threshold < 3:
        raise ValueError("threshold must be >= 3 (first + last + 1 bucket)")
    df = samples.filter(~F.isnan("value"))
    if keys is not None:
        klist = [keys] if isinstance(keys, str) else list(keys)
        df = df.filter(F.col("key").isin(klist))
    if start > MIN_TS:
        df = df.filter(F.col("ts") >= F.lit(start))
    if end < MAX_TS:
        df = df.filter(F.col("ts") <= F.lit(end))

    def decimate(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts").reset_index(drop=True)
        n = len(pdf)
        if n <= threshold:
            return pdf[["key", "ts", "value"]]
        t = pdf["ts"].to_numpy(dtype=np.float64)
        v = pdf["value"].to_numpy(dtype=np.float64)
        # bucket boundaries over the middle n-2 points
        edges = np.linspace(1, n - 1, threshold - 1).astype(np.int64)
        keep = [0]
        a = 0  # index of the previously kept point
        for i in range(threshold - 2):
            lo, hi = edges[i], edges[i + 1]
            nlo, nhi = (hi, edges[i + 2]) if i + 2 < len(edges) else (hi, n)
            cx, cy = t[nlo:nhi].mean() if nhi > nlo else t[-1], (
                v[nlo:nhi].mean() if nhi > nlo else v[-1]
            )
            # area of triangle (a, candidate, next-bucket centroid)
            area = np.abs(
                (t[a] - cx) * (v[lo:hi] - v[a]) - (t[a] - t[lo:hi]) * (cy - v[a])
            )
            a = lo + int(np.argmax(area))
            keep.append(a)
        keep.append(n - 1)
        out = pdf.iloc[keep]
        return out[["key", "ts", "value"]]

    return (
        df.select("key", "ts", "value")
        .groupBy("key")
        .applyInPandas(decimate, LTTB_SCHEMA)
    )


# shared validity/key/range pre-filter (functions/filters since round 10)
_filter_range = filter_valid_range


def _holt_mats(alpha: float, beta: float):
    """The constant transition of the Holt recurrence written as
    state' = M state + c x over state = [level, trend]:

        level' = (1-a) level + (1-a) trend + a x
        trend' = -ab  level + (b(1-a)+(1-b)) trend + ab x
    """
    M = np.array(
        [
            [1 - alpha, 1 - alpha],
            [-alpha * beta, beta * (1 - alpha) + (1 - beta)],
        ]
    )
    c = np.array([alpha, alpha * beta])
    return M, c


def _mat_pow(M: np.ndarray, n: int) -> np.ndarray:
    """M^n by binary exponentiation (2x2)."""
    R = np.eye(2)
    P = M.copy()
    while n:
        if n & 1:
            R = P @ R
        P = P @ P
        n >>= 1
    return R


def _affine_scan(M: np.ndarray, U: np.ndarray) -> np.ndarray:
    """Inclusive scan of the first-order vector recurrence
    S_j = M S_{j-1} + U_j (S_0 = 0): returns S with
    S_j = sum_{i<=j} M^(j-i) U_i.  Hillis-Steele doubling — log2(n)
    vectorized numpy passes, no per-row Python — S[o:] += S[:-o] M^o
    with M^o squared each pass."""
    S = U.astype(np.float64).copy()
    n = len(U)
    Mp = M.copy()
    o = 1
    while o < n:
        S[o:] = S[o:] + S[:-o] @ Mp.T
        Mp = Mp @ Mp
        o <<= 1
    return S


def ts_holt(
    samples: DataFrame,
    alpha: float,
    beta: float,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    chunk_ms: int | None = None,
) -> DataFrame:
    """(key, ts, level, trend) — Holt double-exponential smoothing per
    series: EWMA that tracks a TREND, so ramping series are smoothed
    without the systematic lag single EWMA has (the form PromQL
    standardized as holt_winters / double_exponential_smoothing):

        level_0 = x_0            trend_0 = x_1 - x_0
        level_t = alpha * x_t + (1 - alpha) * (level_{t-1} + trend_{t-1})
        trend_t = beta * (level_t - level_{t-1}) + (1 - beta) * trend_{t-1}

    One row per valid sample; `level + trend` is the one-step forecast.
    The trend seed needs two points, so series with fewer than two valid
    samples in range emit nothing (PromQL's two-point minimum).  NaN
    samples are invalid everywhere and are dropped first; the time cut
    applies BEFORE smoothing (the caller's window restarts the fit),
    both matching ts_ewma and the oracle.

    SKEW-SAFE plan (round 9; see module docstring): the recurrence is
    state' = M state + c x with a CONSTANT 2x2 M, so each (key,
    chunk_ms time-chunk) folds independently to the affine map it
    applies to its entry state (M^n by squaring; the additive part by a
    vectorized doubling scan), a per-key stitch over the
    one-row-per-chunk frame composes entry states (the global two-point
    seed handled there, including a first chunk holding only one
    sample), and a second chunk-local kernel replays each chunk seeded
    with its entry — a hot series parallelizes across its time span.
    `_ts_holt_sequential` is the retained differential twin.
    chunk_ms=None (default) uses the density-adaptive per-key grid —
    see `_assign_chunks`."""
    if not 0 < alpha <= 1:
        raise ValueError("alpha must be in (0, 1]")
    if not 0 < beta <= 1:
        raise ValueError("beta must be in (0, 1]")
    if chunk_ms is not None and chunk_ms <= 0:
        raise ValueError("chunk_ms must be positive")
    df = _filter_range(samples, keys, start, end)
    M, c = _holt_mats(alpha, beta)
    d = _assign_chunks(df.select("key", "ts", "value"), chunk_ms)
    cold, d = _split_cold(d, chunk_ms)

    sum_schema = (
        "key string, __c long, n long, a11 double, a12 double, a21 double,"
        " a22 double, b1 double, b2 double, fv1 double, fv2 double,"
        " exf_l double, exf_t double"
    )

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "value"]).reset_index(drop=True)
        x = pdf["value"].to_numpy(np.float64)
        n = len(x)
        A = _mat_pow(M, n)
        b = _affine_scan(M, np.outer(x, c))[-1]
        fv2 = exf = None
        if n >= 2:
            fv2 = x[1]
            # exit state if this chunk opens the series: rows 2..n seeded
            # with [x0, x1-x0] folded into the first scan input
            seed = np.array([x[0], x[1] - x[0]])
            U = np.outer(x[1:], c)
            U[0] = M @ seed + c * x[1]
            exf = _affine_scan(M, U)[-1]
        return pd.DataFrame(
            {
                "key": [pdf["key"].iloc[0]],
                "__c": [pdf["__c"].iloc[0]],
                "n": [n],
                "a11": [A[0, 0]], "a12": [A[0, 1]],
                "a21": [A[1, 0]], "a22": [A[1, 1]],
                "b1": [b[0]], "b2": [b[1]],
                "fv1": [x[0]],
                "fv2": [fv2],
                "exf_l": [None if exf is None else exf[0]],
                "exf_t": [None if exf is None else exf[1]],
            }
        )

    summaries = d.groupBy("key", "__c").applyInPandas(summarize, sum_schema)

    state_schema = "key string, __c long, sl double, st double, mode string"

    def stitch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__c").reset_index(drop=True)
        n = pdf["n"].to_numpy(np.int64)
        if len(pdf) == 1 and n[0] < 2:
            return pd.DataFrame(
                {"key": [], "__c": [], "sl": [], "st": [], "mode": []}
            ).astype(
                {"key": str, "__c": "int64", "sl": float, "st": float,
                 "mode": str}
            )
        fv1 = pdf["fv1"].to_numpy(np.float64)
        # global two-point seed: second value lives in the first chunk,
        # or — when the first chunk holds one sample — in the second
        x1 = pdf["fv2"].iloc[0] if n[0] >= 2 else fv1[1]
        seed = np.array([fv1[0], x1 - fv1[0]])
        rows = {"__c": [pdf["__c"].iloc[0]], "sl": [seed[0]],
                "st": [seed[1]], "mode": ["F"]}
        if n[0] >= 2:
            state = np.array([pdf["exf_l"].iloc[0], pdf["exf_t"].iloc[0]])
        else:
            state = seed
        for i in range(1, len(pdf)):
            rows["__c"].append(pdf["__c"].iloc[i])
            rows["sl"].append(state[0])
            rows["st"].append(state[1])
            rows["mode"].append("R")
            A = np.array(
                [[pdf["a11"].iloc[i], pdf["a12"].iloc[i]],
                 [pdf["a21"].iloc[i], pdf["a22"].iloc[i]]]
            )
            b = np.array([pdf["b1"].iloc[i], pdf["b2"].iloc[i]])
            state = A @ state + b
        rows["key"] = [pdf["key"].iloc[0]] * len(rows["__c"])
        return pd.DataFrame(rows)

    states = summaries.groupBy("key").applyInPandas(stitch, state_schema)

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "value"]).reset_index(drop=True)
        x = pdf["value"].to_numpy(np.float64)
        n = len(x)
        s = np.array([pdf["sl"].iloc[0], pdf["st"].iloc[0]])
        out = np.empty((n, 2))
        if pdf["mode"].iloc[0] == "F":
            out[0] = s
            if n >= 2:
                U = np.outer(x[1:], c)
                U[0] = M @ s + c * x[1]
                out[1:] = _affine_scan(M, U)
        else:
            U = np.outer(x, c)
            U[0] = M @ s + c * x[0]
            out = _affine_scan(M, U)
        return pd.DataFrame(
            {"key": pdf["key"], "ts": pdf["ts"],
             "level": out[:, 0], "trend": out[:, 1]}
        )

    out = (
        d.join(states, ["key", "__c"])
        .groupBy("key", "__c")
        .applyInPandas(replay, HOLT_SCHEMA)
    )
    if cold is not None:
        out = out.unionByName(
            cold.groupBy("key").applyInPandas(
                _holt_seq_kernel(alpha, beta), HOLT_SCHEMA
            )
        )
    return out


def _ts_holt_sequential(
    samples: DataFrame,
    alpha: float,
    beta: float,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
) -> DataFrame:
    """The pre-round-9 plan — one applyInPandas per BARE key, an
    O(1)-per-row scalar loop over the whole series.  Kept as the
    DIFFERENTIAL REFERENCE for the chunked `ts_holt` (fuzz-pinned within
    1e-9) and the comparison arm of the hot-series probe: semantically
    identical, but one hot series serializes its history into one task."""
    if not 0 < alpha <= 1:
        raise ValueError("alpha must be in (0, 1]")
    if not 0 < beta <= 1:
        raise ValueError("beta must be in (0, 1]")
    df = _filter_range(samples, keys, start, end)
    return (
        df.select("key", "ts", "value")
        .groupBy("key")
        .applyInPandas(_holt_seq_kernel(alpha, beta), HOLT_SCHEMA)
    )


def _ewm_chunked(d, alpha, chunk_ms, moments, emit, schema, fold):
    """THE EWM chunk-affine pipeline (module docstring) over the moment
    inputs `moments` — one callable per recurrence, mapping an ordered
    chunk frame to its input array — of a chunked frame `d`
    (`_assign_chunks` output).  The recurrences share their decay
    A = (1-alpha)^n, so each (key, chunk) folds to A plus, per
    recurrence, its zero-entry fold's exit B_i and first input; one
    per-key stitch over the one-row-per-chunk frame composes every
    entry state (the first
    chunk's virtual entry is its own first value: bit-equal to the
    plain seed, see `ewm_recurrence`), and one replay runs every
    recurrence seeded with its entry and hands the per-row outputs to
    `emit(pdf, inputs, outputs) -> frame` of `schema`.  Cold keys
    (`_split_cold`) take the same replay unseeded, grouped by key.

    `fold` is the operator's duplicate (key, ts) rule: False keeps
    every raw row in (ts, value) order (ts_ewma), True folds them to
    the `last_wins` effective sample INSIDE the chunk kernels
    (ts_ewm_band — duplicates share a ts, so they always land in one
    chunk; a groupBy(key, ts) pre-fold would cost a full-data exchange
    + hash agg upstream of the `_split_cold` checkpoint, measured
    24.3 -> ~16 s at 1 key x 10M parquet-backed)."""
    cold, d = _split_cold(d, chunk_ms)
    k = len(moments)

    def ordered(pdf: pd.DataFrame) -> pd.DataFrame:
        if fold:
            return last_wins(pdf)
        return pdf.sort_values(["ts", "value"]).reset_index(drop=True)

    sum_schema = "key string, __c long, A double" + "".join(
        f", B{i} double, F{i} double" for i in range(k)
    )

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = ordered(pdf)
        row = {
            "key": [pdf["key"].iloc[0]],
            "__c": [pdf["__c"].iloc[0]],
            "A": [float(np.cumprod(np.full(len(pdf), 1.0 - alpha))[-1])],
        }
        for i, f in enumerate(moments):
            x = f(pdf)
            row[f"B{i}"] = [float(ewm_recurrence(x, alpha, 0.0)[-1])]
            row[f"F{i}"] = [float(x[0])]
        return pd.DataFrame(row)

    summaries = d.groupBy("key", "__c").applyInPandas(summarize, sum_schema)

    state_schema = "key string, __c long" + "".join(
        f", S{i} double" for i in range(k)
    )

    def stitch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__c").reset_index(drop=True)
        A = pdf["A"].to_numpy(np.float64)
        out = {"key": pdf["key"], "__c": pdf["__c"]}
        for i in range(k):
            B = pdf[f"B{i}"].to_numpy(np.float64)
            s = np.empty(len(pdf))
            s[0] = pdf[f"F{i}"].iloc[0]
            for j in range(1, len(s)):
                s[j] = A[j - 1] * s[j - 1] + B[j - 1]
            out[f"S{i}"] = s
        return pd.DataFrame(out)

    states = summaries.groupBy("key").applyInPandas(stitch, state_schema)

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = ordered(pdf)
        seeded = "S0" in pdf.columns
        xs = [f(pdf) for f in moments]
        ys = [
            ewm_recurrence(x, alpha, pdf[f"S{i}"].iloc[0] if seeded else None)
            for i, x in enumerate(xs)
        ]
        return emit(pdf, xs, ys)

    out = (
        d.join(states, ["key", "__c"])
        .groupBy("key", "__c")
        .applyInPandas(replay, schema)
    )
    if cold is not None:
        out = out.unionByName(cold.groupBy("key").applyInPandas(replay, schema))
    return out


def ts_ewma(
    samples: DataFrame,
    alpha: float,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    chunk_ms: int | None = None,
) -> DataFrame:
    """(key, ts, ewma) — one smoothed row per valid sample.  The time cut
    applies BEFORE smoothing (the smoothed series restarts at the range
    start — the window the caller asked to smooth), matching the oracle.
    Duplicate (key, ts) rows are all kept, each smoothed in (ts, value)
    order.

    SKEW-SAFE plan (round 9; see module docstring): `_ewm_chunked` over
    the one recurrence of `value` — in-chunk arithmetic is EXACTLY the
    sequential `ewm` recurrence, so drift enters only through the
    stitched entries.  `_ts_ewma_sequential` is the retained
    differential twin.  chunk_ms=None (default) uses the
    density-adaptive per-key grid — see `_assign_chunks` (round 11: the
    fixed grid splintered balanced fleets into per-row Arrow groups)."""
    if not 0 < alpha <= 1:
        raise ValueError("alpha must be in (0, 1]")
    if chunk_ms is not None and chunk_ms <= 0:
        raise ValueError("chunk_ms must be positive")
    df = _filter_range(samples, keys, start, end)
    d = _assign_chunks(df.select("key", "ts", "value"), chunk_ms)

    def values(pdf):
        return pdf["value"].to_numpy(np.float64)

    def emit(pdf, xs, ys):
        return pd.DataFrame({"key": pdf["key"], "ts": pdf["ts"], "ewma": ys[0]})

    return _ewm_chunked(
        d, alpha, chunk_ms, (values,), emit, EWMA_SCHEMA, fold=False
    )


def ts_ewm_band(
    samples: DataFrame,
    alpha: float,
    band_k: float = 2.0,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    chunk_ms: int | None = None,
) -> DataFrame:
    """(key, ts, value, ewma, std, upper, lower, breakout) — adaptive
    Bollinger band per series: EWM mean +- band_k * EWM standard
    deviation, with `breakout` flagging samples outside the band (the
    self-tuning alerting envelope dashboards reach for after plain
    EWMA; a fixed-window Bollinger is the same idea with worse decay).

    The EWM variance uses the same-weights biased form — for
    adjust=False the weighted variance IS ewm(x^2) - ewm(x)^2 (pandas'
    ewm.var(bias=True)) — so the operator is `_ewm_chunked` over BOTH
    moments (the two recurrences share their decay, so one
    summarize/stitch/replay pass carries both states — the same
    exchange count as a single ewma), and the replay kernel finishes
    each row with `ewm_band_columns`: the ONE-STEP-AHEAD band
    `upper`/`lower` each sample was tested against (an outlier cannot
    inflate its own envelope — the ts_anomalies exclude-self
    discipline) and the post-update `ewma`/`std` users chart.
    alpha=1 keeps no history (the band would be undefined) and is
    rejected.

    The moments are CENTERED on the key's first effective sample c0
    (the variance-credibility discipline, `ewm_credible_std`; variance
    is shift-invariant, ewma/upper/lower add c0 back).  c0 rides the
    per-key stats aggregation the adaptive chunk grid already runs:
    max_by(value, struct(-ts, value)) — the effective sample at the
    minimum ts.  Duplicate (key, ts) rows fold to the (ts, value)
    last-wins EFFECTIVE sample before smoothing — the y and y^2
    recurrences must consume duplicates in the SAME order, and value
    order under squaring flips for negative pairs, so the fold
    (ts_corr's rule) removes the ambiguity.  NaN samples are invalid
    everywhere and are dropped first."""
    if band_k <= 0:
        raise ValueError("band_k must be positive")
    if not 0 < alpha < 1:
        raise ValueError(
            "alpha must be in (0, 1) — alpha=1 keeps no history, so the"
            " one-step-ahead band is undefined"
        )
    df = _filter_range(samples, keys, start, end)
    d = _assign_chunks(
        df.select("key", "ts", "value"),
        chunk_ms,
        extra_stats={
            "__c0": F.max_by(
                "value",
                F.struct(
                    (-F.col("ts")).alias("nts"), F.col("value").alias("v")
                ),
            )
        },
    )
    kf = float(band_k)

    def centered(pdf):
        return pdf["value"].to_numpy(np.float64) - pdf["__c0"].to_numpy(
            np.float64
        )

    def centered_sq(pdf):
        y = centered(pdf)
        return y * y

    def emit(pdf, xs, ys):
        band = ewm_band_columns(
            pdf["__c0"].to_numpy(np.float64), xs[0], ys[0], ys[1], alpha, kf
        )
        return pd.DataFrame(
            {"key": pdf["key"], "ts": pdf["ts"], "value": pdf["value"], **band}
        )

    return _ewm_chunked(
        d, alpha, chunk_ms, (centered, centered_sq), emit, EWM_BAND_SCHEMA,
        fold=True,
    )


def _ts_ewma_sequential(
    samples: DataFrame,
    alpha: float,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
) -> DataFrame:
    """The pre-round-9 plan — pandas `ewm` per BARE key, written out
    here rather than through `ewm_recurrence`, so the twin stays an
    independent reference.  The DIFFERENTIAL REFERENCE for the chunked
    `ts_ewma` (fuzz-pinned within 1e-9) and the comparison arm of the
    hot-series probe."""
    if not 0 < alpha <= 1:
        raise ValueError("alpha must be in (0, 1]")
    df = _filter_range(samples, keys, start, end)

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "value"])
        return pd.DataFrame(
            {
                "key": pdf["key"],
                "ts": pdf["ts"],
                "ewma": pdf["value"].ewm(alpha=alpha, adjust=False).mean(),
            }
        )

    return (
        df.select("key", "ts", "value")
        .groupBy("key")
        .applyInPandas(smooth, EWMA_SCHEMA)
    )
