"""Holt-Winters triple exponential smoothing over a bucketed grid.

Beyond-reference operator (the reference has no seasonal primitive;
src/compaction.c's aggregator set is memoryless): the classical
additive/multiplicative Holt-Winters recurrences — the seasonal
completion of the smoothing ladder EWMA (level) -> Holt (level +
trend) -> Holt-Winters (level + trend + season), and the live
counterpart of the decompose-then-extrapolate `ts_forecast`: HW
re-estimates its seasonal state as data arrives instead of fitting
phase means once.

    yhat_i = (l + b) (+|*) s[i mod p]          (one-step-ahead, state
                                                BEFORE seeing y_i)
    l'     = alpha * (y_i (-|/) s[i mod p]) + (1 - alpha) * (l + b)
    b'     = beta * (l' - l) + (1 - beta) * b
    s'[i mod p] = gamma * (y_i (-|/) l') + (1 - gamma) * s[i mod p]

with the deterministic textbook initialization (Hyndman & Athanasopoulos
fpp3 ch. 8): l0 = mean of the first season, b0 = (mean of season 2 -
mean of season 1) / period_n, s0_j = y_j - l0 (additive) or y_j / l0
(multiplicative); the recurrences start at sequence index period_n, so
keys with fewer than 2 * period_n observed buckets are not emitted (no
second season, no trend init).

SEASONALITY AXIS: the sequence of OBSERVED buckets — bucket rank, not
wall clock.  HW is defined over a regular series; gaps in the grid
would otherwise silently shift every later phase.  Feed gapless data,
or resample/gap-fill first (operators/resample) when wall-clock phase
matters — the ts_ewma sample-sequence convention, documented rather
than guessed around.

Spark-first scale shape (the ts_decompose class): the ONLY per-sample
stage is the grid aggregation — one (key, bucket) groupBy with map-side
partials.  The recurrences then run per key over its BUCKET sequence
(one Arrow group per key, #buckets-bounded — a year of hourly buckets
is 8.8k rows).  The seasonal state is a period_n-vector, so the
chunk-affine program that parallelizes EWMA/Holt across a hot key's
time span does NOT pay here: each sample's update is an affine map of
dimension period_n + 2 and composing two of them is O(period_n^3) —
thousands of flops per sample to save a per-key scan that is already
bucket-bounded.  Documented trade, same as decompose's.

The DuckDB oracle replays the identical recurrences with a recursive
CTE carrying the seasonal vector as a LIST (list_transform with the
(x, i) index lambda updates one slot per step), so the gate checks an
independent formulation of the same arithmetic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from redistimeseries_spark.materialize import materialize

from redistimeseries_spark import MAX_TS, MIN_TS
from redistimeseries_spark.functions.filters import filter_key_range

MODES = ("additive", "multiplicative")

HW_SCHEMA = (
    "key string, ts long, value double, level double, trend double,"
    " seasonal double, yhat double"
)


def ts_holt_winters(
    samples: DataFrame,
    step_ms: int,
    period_n: int,
    alpha: float,
    beta: float,
    gamma: float,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    horizon_n: int = 0,
    mode: str = "additive",
) -> DataFrame:
    """(key, ts, value, level, trend, seasonal, yhat) — one row per
    observed grid bucket from sequence index period_n on (`ts` = bucket
    start, `value` = bucket mean, state AFTER absorbing the bucket,
    `yhat` = the one-step-ahead prediction made BEFORE it — so yhat is
    an honest backtest column, never contaminated by its own target),
    plus `horizon_n` forecast rows per key (value NULL,
    yhat = l + h * b (+|*) the wrapped seasonal, ts continuing the
    grid).  Keys with fewer than 2 * period_n observed buckets emit
    nothing.  NaN samples are invalid everywhere and dropped before
    bucketing."""
    if step_ms <= 0:
        raise ValueError("step_ms must be positive")
    if period_n < 2:
        raise ValueError("period_n must be >= 2")
    for name, v in (("alpha", alpha), ("beta", beta), ("gamma", gamma)):
        if not 0 < v < 1:
            raise ValueError(f"{name} must be in (0, 1)")
    if horizon_n < 0:
        raise ValueError("horizon_n must be >= 0")
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}")
    df = filter_key_range(samples, keys, start, end, valid=True)
    # MATERIALIZED (eager localCheckpoint): the gridded aggregate is
    # bucket-bounded but consumed twice (the short-key count aggregate and
    # the semi-join probe side) — without this both consumers re-execute
    # the per-sample scan + hash aggregation (re-aliased subtrees defeat
    # exchange reuse, the LSH band-table failure).
    g = df.groupBy(
        "key",
        (F.col("ts") - F.pmod(F.col("ts"), F.lit(step_ms))).alias("ts"),
    ).agg(F.avg("value").alias("value")).transform(materialize, disk=False)
    # drop short keys BEFORE the per-key kernel: one #buckets-bounded
    # hash agg + co-partitioned semi-join (no Arrow group ever sees a
    # key it will discard)
    enough = (
        g.groupBy("key")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2 * period_n)
        .select("key")
    )
    g = g.join(enough, "key", "left_semi")
    p, mult = period_n, mode == "multiplicative"
    a_, b_, c_ = float(alpha), float(beta), float(gamma)
    hn, step = int(horizon_n), int(step_ms)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts").reset_index(drop=True)
        y = pdf["value"].to_numpy(np.float64)
        n = len(y)
        l = float(np.mean(y[:p]))
        b = (float(np.mean(y[p : 2 * p])) - l) / p
        s = (y[:p] / l) if mult else (y[:p] - l)
        s = s.astype(np.float64).copy()
        out_n = n - p
        level = np.empty(out_n)
        trend = np.empty(out_n)
        seas = np.empty(out_n)
        yhat = np.empty(out_n)
        for i in range(p, n):
            j = i % p
            if mult:
                yhat[i - p] = (l + b) * s[j]
                l_new = a_ * (y[i] / s[j]) + (1 - a_) * (l + b)
            else:
                yhat[i - p] = (l + b) + s[j]
                l_new = a_ * (y[i] - s[j]) + (1 - a_) * (l + b)
            b_new = b_ * (l_new - l) + (1 - b_) * b
            s[j] = (
                c_ * (y[i] / l_new) + (1 - c_) * s[j]
                if mult
                else c_ * (y[i] - l_new) + (1 - c_) * s[j]
            )
            l, b = l_new, b_new
            level[i - p], trend[i - p], seas[i - p] = l, b, s[j]
        key = pdf["key"].iloc[0]
        rows = {
            "key": [key] * out_n,
            "ts": list(pdf["ts"].iloc[p:]),
            "value": list(y[p:]),
            "level": list(level),
            "trend": list(trend),
            "seasonal": list(seas),
            "yhat": list(yhat),
        }
        last_ts = int(pdf["ts"].iloc[-1])
        for h in range(1, hn + 1):
            j = (n + h - 1) % p
            f = (l + h * b) * s[j] if mult else (l + h * b) + s[j]
            rows["key"].append(key)
            rows["ts"].append(last_ts + h * step)
            rows["value"].append(np.nan)
            rows["level"].append(np.nan)
            rows["trend"].append(np.nan)
            rows["seasonal"].append(s[j])
            rows["yhat"].append(f)
        out = pd.DataFrame(rows)
        # horizon rows carry NULL (not NaN) value/state — NaN means
        # "invalid sample" everywhere else in the engine
        for col in ("value", "level", "trend"):
            out[col] = out[col].astype(object).where(out[col].notna(), None)
        return out

    return g.groupBy("key").applyInPandas(fit, HW_SCHEMA).orderBy("key", "ts")
