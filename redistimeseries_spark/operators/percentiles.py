"""Bucketed percentiles per series — p50/p95/p99 over time buckets.

Beyond-reference operator (RedisTimeSeries' aggregator set,
src/compaction.c, has no percentile — TimescaleDB ships percentile_agg
for exactly this): the canonical observability query "p99 latency per
key per 5 minutes".

Spark shape: one (key, bucket) hash aggregation computing every requested
percentile in a single pass — `percentile(value, array(...))` returns all
quantiles from one sorted buffer, so N percentiles cost one sort of the
bucket's samples, not N.  NaN samples are excluded the way every other
aggregator treats them (isValueValid).  Exact interpolation matches
DuckDB's quantile_cont (the dl_quality_summary precedent), which is what
makes the oracle gate possible.

Scale note: exact percentiles buffer each group's values; bucketed series
groups are naturally small (samples-per-key-per-bucket), so this scales
with bucket width, not corpus size.  For pathological buckets switch
`exact=False` — approx_percentile's t-digest bounds memory at the cost of
oracle-exactness (its error is documented, its results engine-specific).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redistimeseries_spark import MAX_TS, MIN_TS
from redistimeseries_spark.functions.buckets import bucket_start, resolve_align
from redistimeseries_spark.functions.filters import filter_key_range, filter_valid_range


def ts_rolling_quantile(
    samples: DataFrame,
    q: float,
    window_n: int,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    min_n: int | None = None,
    chunk_ms: int | None = None,
) -> DataFrame:
    """(key, ts, value, n, rq) — rolling q-quantile per series: each
    sample's `rq` is the exact linearly-interpolated quantile of the
    TRAILING window holding the sample itself and its `window_n - 1`
    preceding valid samples (the moving-median family — robust
    smoothing that, unlike the mean family, ignores outliers entirely
    instead of averaging them down; q=0.5 is the classic despiking
    filter, q=0.95 a continuous SLO tracker).  `n` counts the window's
    actual samples; `rq` is NULL until `min_n` (default: the full
    `window_n`) samples have accumulated — pass min_n=1 for the
    emit-from-the-first-sample pandas `min_periods=1` convention.  NaN
    samples are invalid everywhere and dropped first; duplicate
    (key, ts) rows order deterministically by (ts, value).

    SKEW-SAFE plan (the ts_anomalies bounded-window discipline,
    smooth._chunk_context): the rolling frame partitions by (key,
    time-chunk) with each chunk's leading rows fed the previous
    chunks' <= window_n - 1 tail samples as context rows, so a hot
    series parallelizes across its time span while every row sees
    exactly the bare-key window.  The quantile itself is Spark's
    `percentile` evaluated over the sliding frame — one sorted buffer
    per frame, O(window_n log window_n) per row, window-bounded memory
    (the documented sliding-aggregate cost class of the ts_anomalies
    default; there is no growing-frame closed form for order
    statistics).  Interpolation matches DuckDB's windowed
    quantile_cont exactly, which is what makes the oracle gate
    possible.

    `chunk_ms=None` uses the smoothing family's fixed
    SMOOTH_CHUNK_MS grid (expression-only consumer — tiny JVM window
    partitions are free, the adaptive-grid rationale in
    smooth._assign_chunks)."""
    from redistimeseries_spark.operators.smooth import (
        SMOOTH_CHUNK_MS,
        _chunk_context,
    )
    from pyspark.sql import Window

    if not 0 <= q <= 1:
        raise ValueError("q must lie in [0, 1]")
    if window_n < 1:
        raise ValueError("window_n must be >= 1")
    min_n = window_n if min_n is None else min_n
    if not 1 <= min_n <= window_n:
        raise ValueError("min_n must lie in [1, window_n]")
    chunk_ms = SMOOTH_CHUNK_MS if chunk_ms is None else chunk_ms
    if chunk_ms <= 0:
        raise ValueError("chunk_ms must be positive")
    d = filter_valid_range(samples, keys, start, end).select(
        "key",
        "ts",
        "value",
        (F.col("ts") - F.pmod(F.col("ts"), F.lit(chunk_ms))).alias("__c"),
    )
    unioned = _chunk_context(d, window_n - 1) if window_n > 1 else (
        d.withColumn("__is_ctx", F.lit(0))
    )
    w = (
        Window.partitionBy("key", "__c")
        .orderBy("ts", "value")
        .rowsBetween(-(window_n - 1), 0)
    )
    n_in = F.count("value").over(w)
    rq = F.percentile("value", F.lit(float(q))).over(w)
    return (
        unioned.select(
            "key",
            "ts",
            "value",
            "__is_ctx",
            n_in.alias("n"),
            F.when(n_in >= min_n, rq).alias("rq"),
        )
        .filter(F.col("__is_ctx") == 0)
        .drop("__is_ctx")
    )


def _pname(p: float) -> str:
    s = f"{p * 100:g}".replace(".", "_")
    return f"p{s}"


def ts_bucket_percentiles(
    samples: DataFrame,
    bucket_dur: int,
    ps: list[float] | None = None,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    align="0",
    exact: bool = True,
) -> DataFrame:
    """(key, ts, p50, p95, ...) — one row per (key, bucket) holding every
    requested percentile of the bucket's valid (non-NaN) samples; buckets
    with no valid samples are not emitted (the nv > 0 rule every
    aggregator follows).  ts is the bucket start."""
    ps = ps or [0.5, 0.95, 0.99]
    if not ps or any(not 0 <= p <= 1 for p in ps):
        raise ValueError("percentiles must lie in [0, 1]")
    df = filter_key_range(samples, keys, start, end)
    align_ts = resolve_align(align, start, end)
    valid = F.when(~F.isnan("value"), F.col("value"))
    fn = "percentile" if exact else "approx_percentile"
    parr = ", ".join(repr(p) for p in ps)
    qs = F.expr(f"{fn}(__v, array({parr}))")
    agg = (
        df.select(
            "key",
            bucket_start(F.col("ts"), bucket_dur, align_ts).alias("__b"),
            valid.alias("__v"),
        )
        .groupBy("key", "__b")
        .agg(qs.alias("__q"), F.count("__v").alias("__nv"))
        .filter(F.col("__nv") > 0)
    )
    return agg.select(
        "key",
        F.col("__b").alias("ts"),
        *[F.col("__q").getItem(i).alias(_pname(p)) for i, p in enumerate(ps)],
    ).orderBy("key", "ts")


def ts_mad(
    samples: DataFrame,
    bucket_dur: int,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    align="0",
    exact: bool = True,
) -> DataFrame:
    """(key, ts, med, mad) — per-(key, bucket) MEDIAN and MEDIAN ABSOLUTE
    DEVIATION of the valid samples; ts is the bucket start.  The robust
    dispersion pair (Hampel's estimator family): unlike avg/std.p it
    shrugs off the heavy-tailed latency outliers that dominate ops data,
    which is why robust dashboards alert on MAD, not sigma.  Both
    medians are EXACT with linear interpolation — Spark percentile(0.5)
    == DuckDB quantile_cont(0.5)/mad(), which is what makes the oracle
    gate possible.  NaN samples are invalid everywhere (isValueValid)
    and are dropped; buckets with no valid samples are not emitted
    (the nv > 0 rule).

    Spark shape: ONE (key, bucket) hash aggregation — the bucket's
    sorted value array yields the median by interpolation, the sorted
    absolute deviations yield the MAD, all inside a single expression
    (nested reduce lambdas bind the array/median/deviation stages, the
    dl_word_ngrams trick), so MAD's "inherent second pass" touches the
    bucket-bounded buffer, never the corpus: no join, no second
    shuffle.  The two-pass join formulation measured 691 s at 1B rows —
    the re-join of 1B deviation rows WAS the cost; this shape stays in
    the percentile plan class (BASELINE.md round 8).

    The buffer is BUCKET-BOUNDED by design (samples-per-key-per-bucket),
    but a pathological bucket — one key at ms cadence under a 1-day
    bucket is 86M doubles in one aggregation buffer — has the
    `exact=False` escape hatch (round 9; ts_bucket_percentiles'
    convention): approx_percentile's t-digest bounds memory per group at
    the cost of oracle-exactness (its error is documented, its results
    engine-specific) via two bucket-keyed aggregations and one
    co-partitioned join — ONE clustering end to end, never the 1B-row
    deviation re-shuffle of the rejected exact two-pass."""
    if bucket_dur <= 0:
        raise ValueError("bucket_dur must be positive")
    df = filter_key_range(samples, keys, start, end, valid=True)
    align_ts = resolve_align(align, start, end)
    d = df.select(
        "key",
        bucket_start(F.col("ts"), bucket_dur, align_ts).alias("__b"),
        "value",
    )
    if not exact:
        med = d.groupBy("key", "__b").agg(
            F.expr("approx_percentile(value, 0.5)").alias("med")
        )
        return (
            d.join(med, ["key", "__b"])
            .groupBy("key", "__b")
            .agg(
                F.first("med").alias("med"),
                F.expr("approx_percentile(abs(value - med), 0.5)").alias("mad"),
            )
            .select("key", F.col("__b").alias("ts"), "med", "mad")
            .orderBy("key", "ts")
        )
    # q = 0.5*(n-1); med = a[floor(q)] + frac * (a[ceil(q)] - a[floor(q)])
    # — exactly Spark percentile()'s interpolation, on the same doubles
    interp = (
        "element_at({a}, CAST(floor((size({a}) - 1) * 0.5) AS INT) + 1)"
        " + ((size({a}) - 1) * 0.5 - floor((size({a}) - 1) * 0.5))"
        " * (element_at({a}, CAST(ceil((size({a}) - 1) * 0.5) AS INT) + 1)"
        "    - element_at({a}, CAST(floor((size({a}) - 1) * 0.5) AS INT) + 1))"
    )
    mm = F.expr(
        "reduce(array(sort_array(collect_list(value))),"
        " CAST(NULL AS STRUCT<med: DOUBLE, mad: DOUBLE>),"
        " (z, a) -> reduce(array(" + interp.format(a="a") + "),"
        "   CAST(NULL AS STRUCT<med: DOUBLE, mad: DOUBLE>),"
        "   (z2, med) -> reduce("
        "     array(sort_array(transform(a, x -> abs(x - med)))),"
        "     CAST(NULL AS STRUCT<med: DOUBLE, mad: DOUBLE>),"
        "     (z3, dv) -> struct(med AS med, "
        + interp.format(a="dv")
        + " AS mad))))"
    )
    return (
        d.groupBy("key", "__b")
        .agg(mm.alias("__m"))
        .select(
            "key",
            F.col("__b").alias("ts"),
            F.col("__m.med").alias("med"),
            F.col("__m.mad").alias("mad"),
        )
        .orderBy("key", "ts")
    )


# scale factor making MAD a consistent sigma estimator under normality
# (1 / Phi^-1(3/4)); the standard robust-z convention (Hampel filter)
MAD_SIGMA = 1.4826


def ts_outlier_mad(
    samples: DataFrame,
    bucket_dur: int,
    k: float = 3.0,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    align="0",
) -> DataFrame:
    """(key, ts, value, score, is_outlier) — robust per-sample outlier
    flags: score = |value - bucket_med| / (MAD_SIGMA * bucket_mad), the
    Hampel robust z-score, and is_outlier = score > k.  The robust twin
    of smooth.ts_anomalies' rolling z-score: a latency spike cannot
    inflate the very dispersion used to judge it, so bursts of outliers
    still flag (masked under sigma-based rules).

    Degenerate buckets (mad = 0: over half the samples share one value)
    emit score NULL and is_outlier false — documented convention; the
    oracle decides the flag from the 6dp-ROUNDED score on both engines
    so the boundary never flips on float noise.

    Spark shape: ts_mad's two aggregations + one more co-partitioned
    join back to the samples — all (key, bucket)-keyed, one clustering
    end to end, no window."""
    if k <= 0:
        raise ValueError("k must be positive")
    stats = ts_mad(samples, bucket_dur, keys, start, end, align).select(
        "key", F.col("ts").alias("__b"), "med", "mad"
    )
    df = filter_key_range(samples, keys, start, end, valid=True)
    align_ts = resolve_align(align, start, end)
    d = df.select(
        "key",
        "ts",
        "value",
        bucket_start(F.col("ts"), bucket_dur, align_ts).alias("__b"),
    )
    score = F.round(
        F.abs(F.col("value") - F.col("med"))
        / (F.lit(MAD_SIGMA) * F.nullif(F.col("mad"), F.lit(0.0))),
        6,
    )
    return (
        d.join(stats, ["key", "__b"])
        .select(
            "key",
            "ts",
            "value",
            score.alias("score"),
            (score > F.lit(float(k))).alias("is_outlier"),
        )
        .na.fill({"is_outlier": False})
        .orderBy("key", "ts")
    )


def ts_histogram_quantile(
    hist: DataFrame,
    q: float,
    bin_width: float,
) -> DataFrame:
    """(key, qv) — quantile ESTIMATE per key from a `ts_value_histogram`
    frame (key, bin_lo, n): PromQL's histogram_quantile rule — rank
    r = q * total, walk the cumulative counts to the first bin holding
    r, interpolate uniformly inside it:

        qv = bin_lo + bin_width * (r - cum_before) / n_bin

    The estimator every Prometheus latency dashboard runs; it consumes
    the HISTOGRAM (bin-bounded, collectable at any corpus scale), never
    the samples — the point of pre-bucketing at 100 TB.  q=1 lands on
    the last occupied bin's upper edge; empty keys emit nothing.

    Spark shape: one per-key total (window over the bin-bounded frame),
    one cumulative-sum window (same clustering), one first-crossing
    min-aggregation — every structure is bin-bounded, not
    sample-bounded."""
    from pyspark.sql import Window

    if not 0.0 <= q <= 1.0:
        raise ValueError("q must lie in [0, 1]")
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    wk = Window.partitionBy("key")
    wc = (
        Window.partitionBy("key")
        .orderBy("bin_lo")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = hist.select(
        "key",
        "bin_lo",
        "n",
        F.sum("n").over(wk).alias("__tot"),
        F.sum("n").over(wc).alias("__cum"),
    ).withColumn("__r", F.lit(float(q)) * F.col("__tot"))
    crossing = d.filter(F.col("__cum") >= F.col("__r"))
    first = crossing.groupBy("key").agg(
        F.min(F.struct("bin_lo", "n", "__cum", "__r")).alias("__c")
    )
    c = F.col("__c")
    qv = c.getField("bin_lo") + F.lit(float(bin_width)) * (
        c.getField("__r") - (c.getField("__cum") - c.getField("n"))
    ) / c.getField("n")
    return first.select("key", qv.alias("qv")).orderBy("key")


def ts_value_histogram(
    samples: DataFrame,
    bin_width: float,
    lo: float = 0.0,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
) -> DataFrame:
    """(key, bin_lo, n) — fixed-width value-distribution histogram per
    series: n valid samples with bin_lo <= value < bin_lo + bin_width,
    empty bins not emitted.  The percentile family's other standard
    consumer question ("what does this series' value distribution look
    like"), and the batch analogue of a Prometheus histogram series.

    Spark shape: one projection (floor((value - lo) / width), pure JVM
    double arithmetic — identical in any engine, which is what makes the
    oracle gate exact) + one (key, bin) hash aggregation with map-side
    partial counts.  Output is bin-count-bounded per key, never
    sample-bounded — safe to collect at any corpus scale.  NaN samples
    are invalid everywhere (isValueValid) and are dropped first."""
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    df = filter_key_range(samples, keys, start, end, valid=True)
    bin_ix = F.floor((F.col("value") - F.lit(float(lo))) / F.lit(float(bin_width)))
    return (
        df.select("key", (F.lit(float(lo)) + bin_ix * F.lit(float(bin_width))).alias("bin_lo"))
        .groupBy("key", "bin_lo")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("key", "bin_lo")
    )
