"""Cross-series analytics — pairwise correlation and CUSUM change
detection.

Beyond-reference operators (the reference's aggregator vocabulary,
src/compaction.c, is strictly per-series): the two standard questions a
metrics fleet asks ACROSS samples that no per-series aggregator answers —
"do these two series move together?" (`ts_corr`) and "has this series
drifted from its baseline?" (`ts_cusum`, the classical tabular CUSUM of
Page's sequential test, the textbook change-point detector).

Spark shapes:

- `ts_corr` is the bucketed-aggregation class (ts_deriv's): one tiny
  broadcast of the requested pairs, one co-partitioned (key, ts)
  equi-join to align the two legs, one (pair, bucket) hash aggregation
  (partial/final `corr`).  Pairs are EXPLICIT by design — all-pairs
  discovery over a fleet is quadratic and belongs to the LSH/ANN family
  (pipeline/similarity), not a relational aggregate.
- `ts_cusum`'s recurrence s_i = max(0, s_{i-1} + d_i) looks sequential
  but closes over prefix sums: s_i = S_i - min(0, min_{j<=i} S_j) with
  S = cumsum(d), so it is two GROWING-frame window aggregates (Spark
  evaluates growing frames incrementally) — and the cumsum/running-min
  pair composes across (key, time-chunk) exactly like batch incrby
  (write/mutate.py): per-chunk totals and prefix minima fold on the
  one-row-per-chunk frame, so a pathologically hot series parallelizes
  across its time span.  `_ts_cusum_sequential` retains the literal
  max(0, prev + d) pandas replay as the differential twin (fuzz-pinned
  at 1e-9); the DuckDB oracle replays the recurrence with a recursive
  CTE, so the gate checks an INDEPENDENT formulation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from redistimeseries_spark.materialize import materialize

from redistimeseries_spark import MAX_TS, MIN_TS
from redistimeseries_spark.functions.buckets import bucket_start, resolve_align
from redistimeseries_spark.functions.filters import (
    bigint_sql,
    filter_valid_range,
    run_sql,
)

# the rate/smooth/incrby time-chunk constant (~4.7 h of millis)
CUSUM_CHUNK_MS = 1 << 24

CUSUM_SCHEMA = (
    "key string, ts long, value double, s_pos double, s_neg double,"
    " alarm boolean"
)


# shared validity/key/range pre-filter (functions/filters since round 10)
_filtered = filter_valid_range


def ts_corr(
    samples: DataFrame,
    bucket_dur: int,
    pairs: list[tuple[str, str]],
    start: int = MIN_TS,
    end: int = MAX_TS,
    align="0",
    tolerance_ms: int | None = None,
) -> DataFrame:
    """(key_a, key_b, ts, corr, n) — per-bucket Pearson correlation
    between each requested (key_a, key_b) pair.  By default samples
    match at IDENTICAL timestamps (the aligned-cadence convention;
    resample irregular series onto a grid first — operators/resample);
    `tolerance_ms` switches to AS-OF matching for irregular cadences:
    each a-sample pairs with b's latest sample at-or-before it and at
    most tolerance_ms older (asof.ts_asof_join's union-window — one
    sort per pair, no range-join explosion; note the direction is
    asymmetric, a leads).  `ts` is the bucket start; `n` counts the
    matched sample pairs.  Buckets where the correlation is undefined —
    fewer than two matched pairs, or zero variance on either leg — are
    not emitted.  NaN samples are invalid everywhere and are dropped
    first; duplicate (key, ts) rows fold to the (ts, value) last-wins
    effective sample BEFORE matching (a raw join would cross-product
    them)."""
    if bucket_dur <= 0:
        raise ValueError("bucket_dur must be positive")
    if not pairs:
        raise ValueError("pairs must be a non-empty list of (key_a, key_b)")
    if tolerance_ms is not None and tolerance_ms < 0:
        raise ValueError("tolerance_ms must be >= 0")
    spark = samples.sparkSession
    # dedupe the request: a duplicated (key_a, key_b) entry would join
    # every a-sample twice, doubling the reported n per bucket
    # (round-10 ADVICE finding; corr itself is ratio-invariant)
    pdf = spark.createDataFrame(
        sorted({(a, b) for a, b in pairs}), "key_a string, key_b string"
    )
    all_keys = sorted({k for p in pairs for k in p})
    d = (
        _filtered(samples, all_keys, start, end)
        .groupBy("key", "ts")
        .agg(F.max("value").alias("value"))
        # materialized once: the a-leg and the b-leg (equi-join or as-of
        # union) both read this frame — without the checkpoint each leg
        # re-executes the scan + dedup aggregation (re-aliased subtrees
        # defeat exchange reuse; the ts_xcorr treatment)
        .transform(materialize)
    )
    align_ts = resolve_align(align, start, end)
    a = d.join(
        F.broadcast(pdf), d["key"] == pdf["key_a"]
    ).select("key_a", "key_b", "ts", F.col("value").alias("__va"))
    if tolerance_ms is None:
        m = a.join(
            d.select(
                F.col("key").alias("key_b"), "ts",
                F.col("value").alias("__vb"),
            ),
            ["key_b", "ts"],
        )
    else:
        # as-of matching: union both legs per pair, carry b's latest
        # (ts, value) forward under one (pair)-partitioned window — b
        # sorts before a at equal ts, so a coinciding sample matches
        b_side = d.join(
            F.broadcast(pdf), d["key"] == pdf["key_b"]
        ).select(
            "key_a", "key_b", "ts",
            F.lit(None).cast("double").alias("__va"),
            F.lit(0).alias("__side"),
            F.col("ts").alias("__bt"),
            F.col("value").alias("__bv"),
        )
        a_side = a.select(
            "key_a", "key_b", "ts", "__va",
            F.lit(1).alias("__side"),
            F.lit(None).cast("long").alias("__bt"),
            F.lit(None).cast("double").alias("__bv"),
        )
        w = (
            Window.partitionBy("key_a", "key_b")
            .orderBy("ts", "__side")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        m = (
            a_side.unionByName(b_side)
            .select(
                "key_a", "key_b", "ts", "__va", "__side",
                F.last("__bt", ignorenulls=True).over(w).alias("__mt"),
                F.last("__bv", ignorenulls=True).over(w).alias("__vb"),
            )
            .filter(
                (F.col("__side") == 1)
                & F.col("__mt").isNotNull()
                & (F.col("ts") - F.col("__mt") <= tolerance_ms)
            )
        )
    # Pearson from guarded moment components (covar / stddev product)
    # instead of corr(): a zero-variance leg raises DIVIDE_BY_ZERO under
    # ANSI mode inside the aggregate; here the F.when guard skips the
    # division and the undefined bucket is filtered, matching the
    # corr-IS-NULL convention of the SQL oracles
    corr = F.when(
        (F.col("__sa") > 0) & (F.col("__sb") > 0),
        F.col("__cov") / (F.col("__sa") * F.col("__sb")),
    )
    out = (
        m.groupBy(
            "key_a",
            "key_b",
            bucket_start(F.col("ts"), bucket_dur, align_ts).alias("__b"),
        )
        .agg(
            F.covar_samp("__va", "__vb").alias("__cov"),
            F.stddev_samp("__va").alias("__sa"),
            F.stddev_samp("__vb").alias("__sb"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "key_a", "key_b", F.col("__b").alias("ts"),
            corr.alias("corr"), "n",
        )
        .filter(F.col("corr").isNotNull() & ~F.isnan("corr"))
        .orderBy("key_a", "key_b", "ts")
    )
    return out


def ts_xcorr(
    samples: DataFrame,
    pairs: list[tuple[str, str]],
    lags: list[int],
    start: int = MIN_TS,
    end: int = MAX_TS,
) -> DataFrame:
    """(key_a, key_b, lag, corr, n) — sample cross-correlation of each
    requested (key_a, key_b) pair at each requested lag (ms):

        r(L) = corr( a(t), b(t + L) )     over matched timestamps t

    so a POSITIVE lag measures how well `a` LEADS `b` by L ms (b's
    sample L ms later), a negative lag how well it trails.  Samples
    match at exact shifted timestamps — the aligned-cadence convention
    of `ts_corr` (resample irregular series onto a grid first); `lag`
    values should be multiples of that grid step or nothing matches.
    One row per (pair, lag) whose correlation is defined (>= 2 matched
    sample pairs with variance on both legs); undefined lags are not
    emitted.  Both legs are range-filtered to [start, end] BEFORE
    shifting, so the matched support at lag L is the overlap of a's
    range with b's range shifted by -L.  NaN samples are invalid
    everywhere and dropped first; duplicate (key, ts) rows fold to the
    (ts, value) last-wins effective sample before matching.

    The standard lead/lag discovery sweep on top is `ts_lead_lag`.

    Spark shape (the ts_corr bucketed-aggregation class, with the lag
    axis in place of the bucket axis): one broadcast of pairs, one
    broadcast-explode of the lag vector over the b leg only (|b| x
    |lags| rows, lags capped at 128 — the FILTER_BY_TS bound), one
    co-partitioned (key_a, key_b, ts) equi-join, one hash aggregation
    of guarded Pearson moment components per (pair, lag).  No windows,
    no Python."""
    if not pairs:
        raise ValueError("pairs must be a non-empty list of (key_a, key_b)")
    if not lags:
        raise ValueError("lags must be a non-empty list of millisecond offsets")
    lag_list = sorted({int(x) for x in lags})
    if len(lag_list) > 128:
        raise ValueError("at most 128 distinct lags per call")
    spark = samples.sparkSession
    pdf = spark.createDataFrame(
        sorted({(a, b) for a, b in pairs}), "key_a string, key_b string"
    )
    all_keys = sorted({k for p in pairs for k in p})
    d = (
        _filtered(samples, all_keys, start, end)
        .groupBy("key", "ts")
        .agg(F.max("value").alias("value"))
        # materialized once: BOTH legs read this frame, and without the
        # checkpoint each leg re-executes the scan + dedup aggregation
        # (re-aliased subtrees defeat exchange reuse — the LSH band-table
        # failure).  One pass of the involved keys' effective samples
        # instead of two.  DISK_ONLY: corpus-scale blocks in memory
        # squeeze execution memory for later queries in the session.
        .transform(materialize)
    )
    a = d.join(
        F.broadcast(pdf), d["key"] == pdf["key_a"]
    ).select("key_a", "key_b", "ts", F.col("value").alias("__va"))
    # b leg replicated per lag, timestamps shifted BACK by the lag so
    # the match is a plain equi-join on (pair, ts): b(t + L) sits at t
    lag_col = F.explode(
        F.array(*[F.lit(x).cast("long") for x in lag_list])
    ).alias("lag")
    b = (
        d.join(F.broadcast(pdf), d["key"] == pdf["key_b"])
        .select(
            "key_a", "key_b", "ts", F.col("value").alias("__vb"), lag_col
        )
        .withColumn("ts", F.col("ts") - F.col("lag"))
    )
    m = a.join(b, ["key_a", "key_b", "ts"])
    corr = F.when(
        (F.col("__sa") > 0) & (F.col("__sb") > 0),
        F.col("__cov") / (F.col("__sa") * F.col("__sb")),
    )
    return (
        m.groupBy("key_a", "key_b", "lag")
        .agg(
            F.covar_samp("__va", "__vb").alias("__cov"),
            F.stddev_samp("__va").alias("__sa"),
            F.stddev_samp("__vb").alias("__sb"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("key_a", "key_b", "lag", corr.alias("corr"), "n")
        .filter(F.col("corr").isNotNull() & ~F.isnan("corr"))
        .orderBy("key_a", "key_b", "lag")
    )


def ts_lead_lag(
    samples: DataFrame,
    pairs: list[tuple[str, str]],
    lags: list[int],
    start: int = MIN_TS,
    end: int = MAX_TS,
    min_n: int = 2,
) -> DataFrame:
    """(key_a, key_b, lag, corr, n) — the STRONGEST lag per pair from a
    `ts_xcorr` sweep: the lag maximizing |corr| (sign-agnostic — a
    strong anticorrelation is as much of a lead/lag relationship as a
    positive one), ties broken toward the smaller |lag| then the
    smaller lag (prefer the most parsimonious shift, deterministic).
    Strengths compare at 9dp: a perfectly collinear pair reads
    |corr| = 1 at EVERY lag up to float noise in the moment
    arithmetic, and without the tolerance the argmax lands on
    whichever lag's last ulp came out largest — an artifact, not a
    lead (the emitted corr stays full precision).
    `min_n` drops thin lags (few matched pairs correlate spuriously)
    before the argmax; pairs with no qualifying lag are not emitted.

    One `max_by` over a struct ordering on top of the xcorr hash
    aggregate — no extra shuffle beyond xcorr's own (the pair axis is
    already the grouping key)."""
    if min_n < 2:
        raise ValueError("min_n must be >= 2 (corr is undefined below)")
    x = ts_xcorr(samples, pairs, lags, start, end).filter(
        F.col("n") >= min_n
    )
    best = F.max_by(
        F.struct("lag", "corr", "n"),
        F.struct(
            F.round(F.abs("corr"), 9).alias("s"),
            (-F.abs("lag")).alias("al"),
            (-F.col("lag")).alias("l"),
        ),
    ).alias("__b")
    return (
        x.groupBy("key_a", "key_b")
        .agg(best)
        .select(
            "key_a",
            "key_b",
            F.col("__b.lag").alias("lag"),
            F.col("__b.corr").alias("corr"),
            F.col("__b.n").alias("n"),
        )
        .orderBy("key_a", "key_b")
    )


def ts_acf(
    samples: DataFrame,
    bucket_dur: int,
    max_lag_n: int = 64,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    align="0",
) -> DataFrame:
    """(key, lag_n, lag_ms, acf, n) — sample autocorrelation of each
    series on a regular bucket grid, at every lag from 1 to
    `max_lag_n` buckets:

        acf(m) = corr( x(t), x(t + m * bucket_dur) )

    over the OBSERVED buckets t (x is the per-bucket average; empty
    buckets are absent, not zero — gaps shrink `n`, they do not inject
    fake samples).  The grid exists because autocorrelation at a raw-
    timestamp lag almost never matches anything (the ts_xcorr aligned-
    cadence convention, with the bucketing built in).  One row per
    (key, lag) whose correlation is defined (>= 2 matched buckets with
    variance on both legs).  `ts_detect_period` turns the sweep into a
    seasonality estimate.

    Spark shape (ts_xcorr's, minus the pair broadcast — the pair is
    the key itself, so NO driver-side pair list exists and the fleet
    case needs no 500k-row broadcast): one (key, bucket) hash agg is
    the only per-sample stage, then the b leg explodes the 1..max_lag_n
    lag vector with bucket timestamps shifted back, one co-partitioned
    (key, bucket) self equi-join (volume = #buckets x max_lag_n per
    key, buckets-bounded), one guarded-moment hash agg per (key, lag).
    No windows, no Python, no per-sample sort."""
    if bucket_dur <= 0:
        raise ValueError("bucket_dur must be positive")
    if not 1 <= max_lag_n <= 128:
        raise ValueError("max_lag_n must be in [1, 128]")
    g = _acf_grid(samples, bucket_dur, keys, start, end, align)
    return _acf_sweep(g, bucket_dur, max_lag_n)


def _acf_grid(samples, bucket_dur, keys, start, end, align):
    """Shared ACF prep: valid in-range rows averaged onto the regular
    bucket grid -> (key, __b, __v)."""
    # MATERIALIZED (eager localCheckpoint): the grid is bucket-bounded
    # (#keys x #buckets rows — catalog scale, never sample scale) but its
    # consumers re-execute the whole per-sample scan + hash agg otherwise:
    # the acf sweep reads it twice (a/b legs of the lag self-join) and
    # ts_detect_period's detrend adds three more reads (min-bucket, OLS
    # moments, residual join) — plan-verified 16 base-table scans in one
    # detect_period plan, i.e. up to ~6 full corpus aggregations per query
    # at scale.  Subtree reuse does not deduplicate them (the re-aliased
    # self-join sides fail canonical matching, as with the LSH band table).
    return run_sql(
        ACF_GRID_SQL,
        _filtered(samples, keys, start, end),
        dur=bigint_sql(bucket_dur),
        align=bigint_sql(resolve_align(align, start, end)),
    ).localCheckpoint()


ACF_GRID_SQL = """
SELECT key, ts - pmod(ts - {align}, {dur}) AS __b, avg(value) AS __v
FROM {src} GROUP BY key, __b
"""


def _acf_sweep(g, bucket_dur, max_lag_n):
    """The lag sweep over a gridded (key, __b, __v) frame — the
    ts_xcorr join/aggregate shape with the key as its own pair."""
    return run_sql(
        ACF_SWEEP_SQL, g, dur=bigint_sql(bucket_dur), max_lag=str(int(max_lag_n))
    ).orderBy("key", "lag_n")


# the b leg explodes the 1..max_lag lag vector with its bucket timestamps
# shifted back, so the match is a plain (key, bucket) equi-join
ACF_SWEEP_SQL = """
SELECT * FROM (
  SELECT key, lag_n, CAST(lag_n AS BIGINT) * {dur} AS lag_ms,
         CASE WHEN __sa > 0 AND __sb > 0 THEN __cov / (__sa * __sb) END AS acf,
         n
  FROM (
    SELECT key, lag_n, covar_samp(__va, __vb) AS __cov,
           stddev_samp(__va) AS __sa, stddev_samp(__vb) AS __sb,
           count(1) AS n
    FROM (SELECT key, __b, __v AS __va FROM {src})
    JOIN (SELECT key, __b - CAST(lag_n AS BIGINT) * {dur} AS __b, __vb, lag_n
          FROM (SELECT key, __b, __v AS __vb,
                       explode(sequence(1, {max_lag})) AS lag_n
                FROM {src}))
    USING (key, __b)
    GROUP BY key, lag_n))
WHERE acf IS NOT NULL AND NOT isnan(acf)
"""


def ts_detect_period(
    samples: DataFrame,
    bucket_dur: int,
    max_period_n: int = 64,
    min_strength: float = 0.3,
    min_n: int = 4,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    align="0",
    detrend: bool = True,
    harmonic_tol: float = 0.1,
) -> DataFrame:
    """(key, period_n, period_ms, acf, n) — the dominant seasonal
    period of each series, estimated as the strongest LOCAL PEAK of
    the DETRENDED acf sweep: the lag m maximizing acf(m) among lags
    where acf rises then falls (acf(m) > acf(m-1) and
    acf(m) >= acf(m+1) — both neighbors must EXIST, so candidate
    periods live in [2, max_period_n - 1]; size max_period_n past the
    longest period you care about).

    Trend is the classical failure mode of ACF period detection, and
    it fails BOTH ways: a strongly trending series' autocorrelation
    reads ~1 at every lag (the trend dominates both legs' variance),
    so small noise ripples form genuine-but-meaningless local peaks no
    strength floor can separate, while a seasonal series riding a
    trend has its true peak damped toward the trend's plateau.  So by
    default each key's per-bucket OLS line (fit on the bucket INDEX —
    exact small integers, not epoch millis, so the normal equations
    don't cancel at 1e12) is subtracted before the sweep; the
    residual of a pure ramp is noise (acf ~ 0, nothing emitted) and
    the residual of trend + season is the season.  `detrend=False`
    restores the raw `ts_acf` sweep for pre-whitened inputs.  The
    local-peak rule then separates the remaining shapes: season peaks
    rise-and-fall, white residuals peak nowhere.  Neighbor comparisons
    AND ties run at 9dp (the ts_lead_lag rounded-strength convention,
    for the same reason: a perfectly collinear series reads acf = 1
    at EVERY lag up to moment-arithmetic ulps, and full-precision
    comparisons would crown whichever lag's last ulp poked highest a
    "peak").  A seasonal signal peaks at EVERY multiple of its
    period with only finite-sample differences between them (the
    thinner overlap at longer lags typically nudges harmonics
    HIGHER — by ~1e-3 on clean signals and ~1/sqrt(#buckets) under
    noise — so a bare argmax picks 2p or 3p, not p).  The
    fundamental-finding rule exploits that harmonics are exact
    MULTIPLES: take the strongest peak, then descend to the smallest
    peak lag that DIVIDES it and sits within `harmonic_tol` of its
    strength.  Restricting the descent to divisors is what lets the
    tolerance be generous (default 0.1): an unrelated noise ripple at
    some small lag cannot steal the argmax unless it divides it AND
    formed a rise-and-fall peak AND cleared `min_strength` — while a
    genuinely stronger non-multiple peak keeps the argmax outright.
    `min_n` drops thin-support lags BEFORE peak detection (on a
    regular grid support shrinks with lag, so this trims a suffix of
    the lag axis — neighbors stay adjacent).  Keys with no qualifying
    peak are not emitted.  NOTE: the emitted `acf` is the detrended-series
    autocorrelation — the seasonality's strength, not the raw
    series' (which conflates trend with season).

    Feed the result into `ts_decompose` / `ts_holt_winters` as their
    `period_n` — the auto-seasonality front end of that family (kept a
    separate composable step: periods are per-key, and silently fitting
    a different period per key inside decompose would hide the single
    most important modeling decision).

    Cost: ts_acf's plan plus, for the detrend, two catalog-bounded
    hash aggs + broadcast-joins on the bucket grid (min-bucket, then
    the OLS moments — buckets-bounded, never sample-bounded), one
    window over the per-key lag axis (<= max_period_n rows per key:
    the neighbor comparison), and the argmax-agg + divisor-join +
    min_by-agg of the fundamental descent on the peak frame."""
    if not 3 <= max_period_n <= 128:
        raise ValueError("max_period_n must be in [3, 128]")
    if min_n < 2:
        raise ValueError("min_n must be >= 2 (corr is undefined below)")
    g = _acf_grid(samples, bucket_dur, keys, start, end, align)
    if detrend:
        # per-key OLS on the bucket index: x = (__b - min __b) / dur —
        # exact small integers in double, so slope * x round-trips
        first = g.groupBy("key").agg(F.min("__b").alias("__b0"))
        gx = g.join(first, "key").withColumn(
            "__x",
            ((F.col("__b") - F.col("__b0")) / F.lit(bucket_dur)).cast(
                "double"
            ),
        )
        fit = gx.groupBy("key").agg(
            F.regr_slope("__v", "__x").alias("__sl"),
            F.regr_intercept("__v", "__x").alias("__ic"),
        )
        g = (
            gx.join(fit, "key")
            .select(
                "key",
                "__b",
                # a single-bucket key has no defined line; keep the
                # raw value (it can never form a peak anyway)
                (
                    F.col("__v")
                    - F.coalesce(
                        F.col("__ic") + F.col("__sl") * F.col("__x"),
                        F.lit(0.0),
                    )
                ).alias("__v"),
            )
        )
    a = _acf_sweep(g, bucket_dur, max_period_n).filter(
        F.col("n") >= min_n
    )
    w = Window.partitionBy("key").orderBy("lag_n")
    s9 = F.round("acf", 9)
    peaks = (
        a.select(
            "key",
            "lag_n",
            "lag_ms",
            "acf",
            "n",
            s9.alias("__s"),
            F.lag(s9, 1).over(w).alias("__prev"),
            F.lead(s9, 1).over(w).alias("__next"),
        )
        .filter(
            F.col("__prev").isNotNull()
            & F.col("__next").isNotNull()
            & (F.col("__s") > F.col("__prev"))
            & (F.col("__s") >= F.col("__next"))
            & (F.col("acf") >= float(min_strength))
        )
    )
    # fundamental-vs-harmonic pick: argmax peak per key (strongest at
    # 9dp, smaller lag on exact ties), then descend to the smallest
    # DIVISOR peak within harmonic_tol of it.  Both stages are aggs /
    # joins over the <= max_period_n-rows-per-key peak frame —
    # catalog-bounded, never sample-bounded.
    am = peaks.groupBy("key").agg(
        F.max_by(
            F.struct(F.col("lag_n").alias("alag"), F.col("__s")),
            F.struct(F.col("__s"), (-F.col("lag_n")).alias("l")),
        ).alias("__a")
    ).select("key", "__a.alag", F.col("__a.__s").alias("__as"))
    best = F.min_by(
        F.struct("lag_n", "lag_ms", "acf", "n"), F.col("lag_n")
    ).alias("__b")
    return (
        peaks.join(am, "key")
        .filter(
            (F.col("alag") % F.col("lag_n") == 0)
            & (F.col("__s") >= F.col("__as") - float(harmonic_tol))
        )
        .groupBy("key")
        .agg(best)
        .select(
            "key",
            F.col("__b.lag_n").alias("period_n"),
            F.col("__b.lag_ms").alias("period_ms"),
            F.col("__b.acf").alias("acf"),
            F.col("__b.n").alias("n"),
        )
        .orderBy("key")
    )


def _cusum_input(samples, k, keys, start, end, target):
    """Shared ts_cusum prep: valid in-range rows with the per-key (or
    literal) target joined and both drift increments projected."""
    df = _filtered(samples, keys, start, end)
    if target is None:
        mu = df.groupBy("key").agg(F.avg("value").alias("__mu"))
        df = df.join(mu, "key")
    else:
        df = df.withColumn("__mu", F.lit(float(target)))
    return df.select(
        "key",
        "ts",
        "value",
        (F.col("value") - F.col("__mu") - F.lit(k)).alias("__dp"),
        (F.col("__mu") - F.col("value") - F.lit(k)).alias("__dn"),
    )


def ts_cusum(
    samples: DataFrame,
    k: float,
    h: float,
    target: float | None = None,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    chunk_ms: int = CUSUM_CHUNK_MS,
) -> DataFrame:
    """(key, ts, value, s_pos, s_neg, alarm) — two-sided tabular CUSUM
    per series: with drift increments d+ = (x - target) - k and
    d- = (target - x) - k (k = the slack, in value units),

        s+_i = max(0, s+_{i-1} + d+_i)      (upward drift)
        s-_i = max(0, s-_{i-1} + d-_i)      (downward drift)

    and `alarm` when either statistic exceeds the threshold `h` (no
    post-alarm reset — the pure accumulating form; slice the input at a
    confirmed change to restart).  `target=None` uses each key's mean
    of the valid in-range samples (the self-baselining form); pass the
    process target for the control-chart form.  NaN samples are invalid
    everywhere and are dropped first; duplicate (key, ts) rows order
    deterministically by (ts, value).

    SKEW-SAFE plan (see module docstring): the max-recurrence closes to
    S - min(0, running_min(S)) over prefix sums, computed chunk-locally
    with per-chunk (total, prefix-min) folds stitched on the per-key
    chunk frame — the incrby/sessionize discipline; no Python, no
    sliding frames, all growing windows."""
    if k < 0:
        raise ValueError("k (slack) must be >= 0")
    if h <= 0:
        raise ValueError("h (threshold) must be positive")
    if chunk_ms <= 0:
        raise ValueError("chunk_ms must be positive")
    d = _cusum_input(samples, k, keys, start, end, target).withColumn(
        "__c", F.col("ts") - F.pmod(F.col("ts"), F.lit(chunk_ms))
    )
    wo = Window.partitionBy("key", "__c").orderBy("ts", "value")
    wg = wo.rowsBetween(Window.unboundedPreceding, 0)
    # in-chunk prefix sums and their running minima (growing frames —
    # incremental evaluation)
    e = d.select(
        "key", "ts", "value", "__c", "__dp", "__dn",
        F.sum("__dp").over(wg).alias("__lsp"),
        F.sum("__dn").over(wg).alias("__lsn"),
    ).select(
        "key", "ts", "value", "__c", "__dp", "__dn", "__lsp", "__lsn",
        F.min("__lsp").over(wg).alias("__lmp"),
        F.min("__lsn").over(wg).alias("__lmn"),
    )
    # per-chunk folds: total drift and in-chunk prefix minimum
    pc = e.groupBy("key", "__c").agg(
        F.sum("__dp").alias("__tp"),
        F.sum("__dn").alias("__tn"),
        F.min("__lsp").alias("__mp"),
        F.min("__lsn").alias("__mn"),
    )
    wk = Window.partitionBy("key").orderBy("__c")
    prev = wk.rowsBetween(Window.unboundedPreceding, -1)
    base_p = F.coalesce(F.sum("__tp").over(prev), F.lit(0.0))
    base_n = F.coalesce(F.sum("__tn").over(prev), F.lit(0.0))
    ctx = pc.select(
        "key", "__c", "__mp", "__mn",
        base_p.alias("__bp"),
        base_n.alias("__bn"),
    ).select(
        "key", "__c", "__bp", "__bn",
        # running min of the GLOBAL prefix sums over previous chunks:
        # chunk j's in-chunk minimum shifted by its entry base (NULL for
        # a key's first chunk — least() below skips nulls)
        F.min(F.col("__bp") + F.col("__mp")).over(prev).alias("__gp"),
        F.min(F.col("__bn") + F.col("__mn")).over(prev).alias("__gn"),
    )
    j = e.join(ctx, ["key", "__c"])
    # global prefix sum S_i = base + local prefix; global running min =
    # min(previous chunks' min, base + in-chunk running min); then the
    # closed form s_i = S_i - min(0, runmin_i)
    s_pos = (F.col("__bp") + F.col("__lsp")) - F.least(
        F.lit(0.0), F.col("__gp"), F.col("__bp") + F.col("__lmp")
    )
    s_neg = (F.col("__bn") + F.col("__lsn")) - F.least(
        F.lit(0.0), F.col("__gn"), F.col("__bn") + F.col("__lmn")
    )
    return j.select(
        "key",
        "ts",
        "value",
        s_pos.alias("s_pos"),
        s_neg.alias("s_neg"),
        ((s_pos > h) | (s_neg > h)).alias("alarm"),
    ).orderBy("key", "ts")


def _ts_cusum_sequential(
    samples: DataFrame,
    k: float,
    h: float,
    target: float | None = None,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
) -> DataFrame:
    """The literal max(0, prev + d) replay — one applyInPandas per BARE
    key.  Kept as the DIFFERENTIAL REFERENCE for the chunk-local
    `ts_cusum` (fuzz-pinned within 1e-9) and the comparison arm of the
    hot-series probe."""
    if k < 0:
        raise ValueError("k (slack) must be >= 0")
    if h <= 0:
        raise ValueError("h (threshold) must be positive")
    d = _cusum_input(samples, k, keys, start, end, target)

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "value"]).reset_index(drop=True)
        dp = pdf["__dp"].to_numpy(np.float64)
        dn = pdf["__dn"].to_numpy(np.float64)
        sp = np.empty(len(pdf))
        sn = np.empty(len(pdf))
        p = n = 0.0
        for i in range(len(pdf)):
            p = max(0.0, p + dp[i])
            n = max(0.0, n + dn[i])
            sp[i], sn[i] = p, n
        return pd.DataFrame(
            {
                "key": pdf["key"],
                "ts": pdf["ts"],
                "value": pdf["value"],
                "s_pos": sp,
                "s_neg": sn,
                "alarm": (sp > h) | (sn > h),
            }
        )

    return d.groupBy("key").applyInPandas(replay, CUSUM_SCHEMA)
