"""Classical additive seasonal decomposition over a bucketed grid.

Beyond-reference operator (the reference has no seasonal primitive; this
is the `seasonal_decompose` every monitoring stack reaches for after
EWMA/Holt): split each series into

    value = trend + seasonal + resid

with a known period of `period_n` grid steps — trend by centered moving
average (the classical 2x-MA when period_n is even), seasonal as the
phase means of the detrended series re-centered to sum to zero, resid
as the leftover.

Spark-first scale shape: the ONLY per-sample stage is the grid
aggregation — one (key, bucket) groupBy (map-side partials, skew-safe,
the same exchange every bucketed aggregator uses).  Everything after
runs on the per-key BUCKET SPINE (one row per grid step of the key's
observed span, missing buckets present with NULL value — the EMPTY-
spine discipline), so every window is #buckets-bounded: the centered-MA
frame is a literal +-half-period ROWS frame, the phase means are a
(key, phase) groupBy, and the re-centering is a window over the
period_n-row phase frame.  A pathologically hot series costs one
bucket exchange, never a per-sample key sort.

Semantics notes (statsmodels-compatible):
- trend is emitted only where the full centered window is present AND
  valid (period_n rows for odd, period_n + 1 for even) — edge buckets
  and windows touching a data gap report NULL trend, like the NaN edges
  statsmodels leaves.
- seasonal is the phase's mean detrended value minus the mean of the
  phase means (so one period sums to ~0), emitted for EVERY spine row
  of a phase that has at least one detrended observation.
- resid = value - trend - seasonal, NULL wherever either part is.
- NaN samples are invalid everywhere (isValueValid) and are dropped
  before bucketing; a bucket with no valid samples is a NULL spine row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from redistimeseries_spark.materialize import materialize

from redistimeseries_spark import MAX_TS, MIN_TS
from redistimeseries_spark.functions.filters import filter_key_range


MODES = ("additive", "multiplicative")


def ts_decompose(
    samples: DataFrame,
    step_ms: int,
    period_n: int,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    mode: str = "additive",
) -> DataFrame:
    """(key, ts, value, trend, seasonal, resid) — one row per grid step
    (`ts` = bucket start, align 0) of each key's observed span; `value`
    is the bucket's mean.  mode="multiplicative" decomposes
    value = trend * seasonal * resid instead (detrend by ratio, phase
    means re-centered to mean 1, residual by division; zero trend yields
    NULL ratios — the statsmodels convention of requiring positive
    series holds in spirit: feed it positive data)."""
    if step_ms <= 0:
        raise ValueError("step_ms must be positive")
    if period_n < 2:
        raise ValueError("period_n must be >= 2")
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}")
    df = filter_key_range(samples, keys, start, end, valid=True)
    # MATERIALIZED (eager localCheckpoint): the gridded aggregate is
    # bucket-bounded (#keys x #buckets rows) but is consumed twice here
    # (the spine min/max aggregate + the grid join) and the whole
    # decomposition is consumed twice more by ts_forecast (seasonal-index
    # and trend-fit aggregates) — without this each consumer re-executes
    # the per-sample scan + hash aggregation (4 base-table scans in one
    # ts_decompose plan, plan-verified; re-aliased subtrees defeat
    # exchange reuse).  After the checkpoint every re-read is
    # bucket-bounded.
    g = df.groupBy(
        "key",
        (F.col("ts") - F.pmod(F.col("ts"), F.lit(step_ms))).alias("__b"),
    ).agg(F.avg("value").alias("value")).transform(materialize, disk=False)
    spine = (
        g.groupBy("key")
        .agg(F.min("__b").alias("__lo"), F.max("__b").alias("__hi"))
        .select(
            "key",
            F.explode(
                F.sequence(F.col("__lo"), F.col("__hi"), F.lit(int(step_ms)))
            ).alias("__b"),
        )
    )
    grid = spine.join(g, ["key", "__b"], "left")
    w = Window.partitionBy("key").orderBy("__b")
    if period_n % 2 == 1:
        h = (period_n - 1) // 2
        frame = w.rowsBetween(-h, h)
        full = F.count("value").over(frame) == period_n
        trend = F.when(full, F.avg("value").over(frame))
    else:
        # classical 2x-MA: the +-half window spans period_n + 1 rows with
        # half weight on both extremes
        h = period_n // 2
        frame = w.rowsBetween(-h, h)
        full = F.count("value").over(frame) == period_n + 1
        trend = F.when(
            full,
            (
                F.sum("value").over(frame)
                - (F.lag("value", h).over(w) + F.lead("value", h).over(w)) / 2.0
            )
            / period_n,
        )
    mult = mode == "multiplicative"
    det = (
        F.when(F.col("trend") != 0, F.col("value") / F.col("trend"))
        if mult
        else F.col("value") - F.col("trend")
    )
    t = grid.select(
        "key",
        "__b",
        "value",
        trend.alias("trend"),
        F.pmod(F.expr(f"__b div {int(step_ms)}"), F.lit(period_n)).alias(
            "__phase"
        ),
    ).withColumn("__det", det)
    ph = t.groupBy("key", "__phase").agg(F.avg("__det").alias("__pmean"))
    wk = Window.partitionBy("key")
    center = F.avg("__pmean").over(wk)
    seas = ph.select(
        "key",
        "__phase",
        (
            F.when(center != 0, F.col("__pmean") / center)
            if mult
            else F.col("__pmean") - center
        ).alias("seasonal"),
    )
    out = t.join(seas, ["key", "__phase"], "left")
    resid = (
        F.when(
            (F.col("trend") != 0) & (F.col("seasonal") != 0),
            F.col("value") / F.col("trend") / F.col("seasonal"),
        )
        if mult
        else F.col("value") - F.col("trend") - F.col("seasonal")
    )
    return out.select(
        "key",
        F.col("__b").alias("ts"),
        "value",
        "trend",
        "seasonal",
        resid.alias("resid"),
    )


def ts_forecast(
    samples: DataFrame,
    step_ms: int,
    period_n: int,
    horizon_n: int,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    mode: str = "additive",
) -> DataFrame:
    """(key, ts, forecast) — `horizon_n` grid steps past each key's last
    observed bucket: the decompose-then-extrapolate baseline every
    capacity dashboard starts from.  The trend line is the per-key OLS
    fit (regr_slope/intercept) of the decomposition's TREND component —
    season-free by construction, unlike a fit of the raw series, where
    even a mean-zero season biases the slope (it is not orthogonal to
    the linear term) — and the season is `ts_decompose`'s re-centered
    phase component, repeated forward: forecast = line + seasonal
    (additive) or line * seasonal (multiplicative).  Phases whose
    seasonal is undefined fall back to the bare line.  Same scale shape
    as ts_decompose: one (key, bucket) exchange, then per-key-bounded
    frames; the horizon explode is horizon_n rows/key.  A key too short
    for any full centered-MA window (no trend rows at all) emits
    nothing; a key with exactly ONE trend row (regr_slope undefined)
    forecasts the flat line through that constant trend."""
    if horizon_n < 1:
        raise ValueError("horizon_n must be >= 1")
    dec = ts_decompose(
        samples, step_ms, period_n, keys=keys, start=start, end=end,
        mode=mode,
    )
    phase = F.pmod(F.expr(f"ts div {int(step_ms)}"), F.lit(period_n))
    seas = (
        dec.select("key", phase.alias("__phase"), "seasonal")
        .groupBy("key", "__phase")
        .agg(F.min("seasonal").alias("seasonal"))
    )
    # regr_slope is NULL when fewer than two trend rows exist (the spine's
    # ts values are always distinct, so zero x-variance can't occur): a
    # single-trend-row key is a CONSTANT trend — exactly forecastable —
    # so fall back to the flat line (slope 0 through the trend mean)
    # instead of dropping the key; only trend-free keys emit nothing
    fit = (
        dec.groupBy("key")
        .agg(
            F.expr("regr_slope(trend, CAST(ts AS DOUBLE))").alias("__m0"),
            F.expr("regr_intercept(trend, CAST(ts AS DOUBLE))").alias("__c0"),
            F.avg("trend").alias("__mu"),
            F.max("ts").alias("__last"),
        )
        .filter(F.col("__mu").isNotNull())
        .select(
            "key",
            F.coalesce(F.col("__m0"), F.lit(0.0)).alias("__m"),
            F.coalesce(F.col("__c0"), F.col("__mu")).alias("__c"),
            "__last",
        )
    )
    horizon = fit.select(
        "key",
        "__m",
        "__c",
        F.explode(
            F.sequence(
                F.col("__last") + F.lit(int(step_ms)),
                F.col("__last") + F.lit(int(step_ms) * horizon_n),
                F.lit(int(step_ms)),
            )
        ).alias("ts"),
    )
    line = F.col("__m") * F.col("ts").cast("double") + F.col("__c")
    mult = mode == "multiplicative"
    fc = (
        line * F.coalesce(F.col("seasonal"), F.lit(1.0))
        if mult
        else line + F.coalesce(F.col("seasonal"), F.lit(0.0))
    )
    return (
        horizon.withColumn("__phase", phase)
        .join(seas, ["key", "__phase"], "left")
        .select("key", "ts", fc.alias("forecast"))
    )


def ts_seasonal_strength(
    samples: DataFrame,
    step_ms: int,
    period_n: int,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    mode: str = "additive",
) -> DataFrame:
    """(key, n_est, strength_trend, strength_seasonal) — the
    decomposition-based strength measures of Wang/Smith/Hyndman (the
    `feat_stl` features of the fpp3/feasts tradition; public method):

        strength_trend    = max(0, 1 - Var(R) / Var(T + R))
        strength_seasonal = max(0, 1 - Var(R) / Var(S + R))

    computed over the buckets where the classical decomposition is
    estimable (resid defined — the centered-MA edge buckets drop).
    Values near 1 mean the component dominates the residual; near 0,
    indistinguishable from noise.  `mode="multiplicative"` composes the
    mixed terms by product (S*R, T*R) on the multiplicative components,
    the same analogy the decomposition itself uses.  NULL when the
    mixed variance is 0 (constant/degenerate span) or under 2 estimable
    buckets.

    Spark shape: `ts_decompose`'s plan (one per-sample hash agg, then
    #buckets-bounded windows and the phase-mean join) plus ONE final
    per-key hash aggregation — the triage companion to `ts_features`:
    run `ts_detect_period` to find the period, this to decide whether
    the seasonality is worth modeling, `decompose`/`holt_winters` only
    on the keys where it is."""
    d = ts_decompose(samples, step_ms, period_n, keys, start, end, mode)
    est = d.filter(F.col("resid").isNotNull())
    if mode == "multiplicative":
        sr = F.col("seasonal") * F.col("resid")
        tr = F.col("trend") * F.col("resid")
    else:
        sr = F.col("seasonal") + F.col("resid")
        tr = F.col("trend") + F.col("resid")
    a = est.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_est"),
        F.var_samp("resid").alias("__vr"),
        F.var_samp(sr).alias("__vsr"),
        F.var_samp(tr).alias("__vtr"),
    )

    def strength(mixed):
        return F.when(
            mixed > 0,
            F.greatest(F.lit(0.0), F.lit(1.0) - F.col("__vr") / mixed),
        )

    return a.select(
        "key",
        "n_est",
        strength(F.col("__vtr")).alias("strength_trend"),
        strength(F.col("__vsr")).alias("strength_seasonal"),
    ).orderBy("key")
