"""Hot-series skew probe (BASELINE.md round 8; verdict r7 next #1).

ONE series, N rows (default 100M): the pathological shape for the
full-history chain family — under the pre-round-8 plan
(`_key_window_chain`: lag window partitioned by bare key) the entire
history sorts and lags inside a single task; the round-8 bucket-local
plan (`rate._chain`, which runs `rate.chain_sql`) parallelizes across
(key, bucket) and touches the bare-key axis only on the per-bucket
aggregated frame (#buckets rows).

Synthetic counter: ts = i*1000 ms, value = i mod 100_000 (a reset every
100k samples), 1h buckets -> ~27.8k buckets at 100M rows.  Both arms
compute ts_increase semantics to a noop sink; results are
count-compared for the equivalence sanity check.

Usage:
    python scripts/hot_series_probe.py [N_ROWS] [skip_old]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from redistimeseries_spark import MAX_TS, MIN_TS, get_spark

H = 3_600_000


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    skip_old = len(sys.argv) > 2 and sys.argv[2] == "skip_old"
    spark = get_spark("hot_series_probe")
    spark.sparkContext.setLogLevel("ERROR")

    from redistimeseries_spark.operators.rate import (
        _increase_step,
        _key_window_chain,
        ts_increase,
    )

    df = spark.range(n).select(
        F.lit("hot").alias("key"),
        (F.col("id") * 1000).alias("ts"),
        (F.col("id") % 100_000).cast("double").alias("value"),
    )
    # `parquet` arg (round-11 optimization protocol): back the probe with
    # a real parquet store instead of the in-memory range.  The range
    # source made re-executed subtrees look nearly free (re-running
    # `range` costs no I/O), which masked the multiply-consumed-subtree
    # class of defect entirely — ts_ewma read 3.3 s from range but
    # 82-112 s from parquet before the materialization fix.  Every real
    # deployment reads a store, so the parquet mode is the
    # representative one; the range mode stays for comparability with
    # the earlier rounds' tables.
    if "parquet" in sys.argv[2:]:
        import tempfile

        path = tempfile.mkdtemp(prefix="hot_probe_") + "/hot"
        df.write.mode("overwrite").parquet(path)
        df = spark.read.parquet(path)

    def timed(build):
        # steady-state protocol: each arm executes TWICE and reports the
        # second run.  The first 100M-scale execution in a fresh JVM pays
        # heap expansion + JIT + page-in (isolated A/B: 35.2 s first vs
        # 8.1 s second for the SAME plan), and that tax lands on whichever
        # arm happens to run first — second-run numbers are the
        # plan-attributable cost the table compares.
        build().write.mode("overwrite").format("noop").save()
        t0 = time.time()
        build().write.mode("overwrite").format("noop").save()
        return round(time.time() - t0, 1)

    new_s = timed(lambda: ts_increase(df, H))
    out = {"n_rows": n, "bucket_local_sec": new_s}

    # TWA arms: the heavy trapezoid operator on the same shapes, through
    # the one bucket stage TS.RANGE runs (bucket-local lag, per-bucket
    # neighbour gathers); the twins below take the bucketed frame `bdf`
    from redistimeseries_spark.functions.buckets import bucket_start
    from redistimeseries_spark.operators.range_query import bucket_aggregate
    from redistimeseries_spark.operators.twa import _twa_key_window_expr

    bdf = df.withColumn("__bucket", bucket_start(F.col("ts"), H, 0))
    out["twa_bucket_local_sec"] = timed(
        lambda: bucket_aggregate(df, ["twa"], H, 0, 0, 10**15)
    )

    # round-9 arms: EMPTY-path TWA (spine + neighbor gathers) and the
    # chunk-affine smoothers vs their retained sequential twins
    from redistimeseries_spark.operators.smooth import (
        _ts_anomalies_key_window,
        _ts_ewma_sequential,
        _ts_holt_sequential,
        ts_anomalies,
        ts_ewma,
        ts_holt,
    )
    from redistimeseries_spark.operators.twa import _twa_buckets_kernel

    out["twa_empty_expr_sec"] = timed(
        lambda: bucket_aggregate(df, ["twa"], H, 0, 0, 10**15, empty=True)
    )
    out["ewma_chunked_sec"] = timed(lambda: ts_ewma(df, 0.3))
    out["holt_chunked_sec"] = timed(lambda: ts_holt(df, 0.4, 0.2))
    out["anomalies_chunked_sec"] = timed(lambda: ts_anomalies(df, 20, 3.0))
    # round-10: the centered-cumsum rolling formulation (fast=True) —
    # growing frames evaluate incrementally where sliding frames
    # re-aggregate per row
    out["anomalies_fast_sec"] = timed(
        lambda: ts_anomalies(df, 20, 3.0, fast=True)
    )
    from redistimeseries_spark.operators.resample import (
        _ts_resample_key_window,
        ts_resample,
    )

    out["resample_chunked_sec"] = timed(
        lambda: ts_resample(df, 60_000, "linear")
    )
    from redistimeseries_spark.operators.session import (
        _sessionize_key_window,
        sessionize,
    )

    out["sessionize_chunked_sec"] = timed(lambda: sessionize(df, 500))
    # round-10 arms (verdict r9 next #2): the decompose/forecast
    # newcomers — one (key, bucket) hash aggregation is the only
    # per-sample stage, every later window is #buckets-bounded, so the
    # expected line is the bucketed-aggregation class (ts_increase's)
    from redistimeseries_spark.operators.decompose import (
        ts_decompose,
        ts_forecast,
    )

    out["decompose_sec"] = timed(lambda: ts_decompose(df, H, 24))
    out["forecast_sec"] = timed(lambda: ts_forecast(df, H, 24, 48))
    # round-10: adaptive Bollinger envelope (fused EWM moment pair)
    from redistimeseries_spark.operators.smooth import ts_ewm_band

    out["ewm_band_sec"] = timed(lambda: ts_ewm_band(df, 0.3, band_k=3.0))
    # round-10: CUSUM closed form (chunk-local prefix-sum/running-min
    # folds) vs the literal sequential replay twin
    from redistimeseries_spark.operators.correlate import (
        _ts_cusum_sequential,
        ts_cusum,
    )

    out["cusum_chunked_sec"] = timed(
        lambda: ts_cusum(df, 1.0, 1e6, target=50_000.0)
    )
    # round-11: hot-PAIR correlation — BOTH legs one key (the
    # pathological pair shape; verdict r10 next #1).  The b-leg is an
    # affine copy on the same ts grid, so every a-sample matches and the
    # full volume flows through the co-partitioned (key_b, ts) equi-join
    # — composite join key, so one hot pair still spreads across the ts
    # axis (the skew-safety claim this arm verifies)
    from redistimeseries_spark.operators.correlate import ts_corr

    pair_df = df.unionByName(
        df.select(
            F.lit("hot2").alias("key"),
            "ts",
            (F.col("value") * 2.0 + 1.0).alias("value"),
        )
    )
    out["corr_hot_pair_sec"] = timed(
        lambda: ts_corr(pair_df, H, [("hot", "hot2")])
    )
    # round-11 second wave: the rolling quantile (sliding-percentile
    # chunk-context plan — the anomalies-default cost class, expected
    # higher: each frame sorts its window_n buffer), the lagged xcorr
    # sweep on the hot pair (corr's join volume x |lags|), and
    # Holt-Winters (bucket-bounded by construction, the decompose line)
    from redistimeseries_spark.operators.correlate import ts_xcorr
    from redistimeseries_spark.operators.holtwinters import ts_holt_winters
    from redistimeseries_spark.operators.percentiles import (
        ts_rolling_quantile,
    )

    out["rolling_quantile_sec"] = timed(
        lambda: ts_rolling_quantile(df, 0.5, 20)
    )
    out["xcorr_hot_pair_sec"] = timed(
        lambda: ts_xcorr(
            pair_df, [("hot", "hot2")], [-2000, -1000, 0, 1000, 2000]
        )
    )
    out["holt_winters_sec"] = timed(
        lambda: ts_holt_winters(df, H, 24, 0.3, 0.1, 0.2, horizon_n=48)
    )
    # round-11 fourth wave: the ACF sweep and seasonality detection on
    # the hot key — both bucket-bounded after the one (key, bucket)
    # hash agg (the decompose line; the sweep joins the grid to itself
    # x 24 lags, still #buckets-bounded)
    from redistimeseries_spark.operators.correlate import (
        ts_acf,
        ts_detect_period,
    )

    out["acf_sec"] = timed(lambda: ts_acf(df, H, 24))
    out["detect_period_sec"] = timed(
        lambda: ts_detect_period(df, H, 36, min_strength=0.1)
    )
    # round-11 fifth wave: the fleet feature vector on the hot key
    # (grid agg + one window pass — the decompose cost class)
    from redistimeseries_spark.operators.features import ts_features

    out["features_sec"] = timed(lambda: ts_features(df, H))
    from redistimeseries_spark.operators.decompose import (
        ts_seasonal_strength,
    )

    out["seasonal_strength_sec"] = timed(
        lambda: ts_seasonal_strength(df, H, 24)
    )
    if not skip_old:
        out["cusum_key_sec"] = timed(
            lambda: _ts_cusum_sequential(df, 1.0, 1e6, target=50_000.0)
        )
    if not skip_old:
        out["key_window_sec"] = timed(
            lambda: _key_window_chain(
                df, H, _increase_step, None, MIN_TS, MAX_TS, "0"
            )
        )
        out["twa_key_window_sec"] = timed(
            lambda: _twa_key_window_expr(bdf, H, 0, 10**15)
        )
        out["twa_empty_kernel_sec"] = timed(
            lambda: _twa_buckets_kernel(bdf, H, 0, 10**15)
        )
        out["ewma_key_sec"] = timed(lambda: _ts_ewma_sequential(df, 0.3))
        out["holt_key_sec"] = timed(lambda: _ts_holt_sequential(df, 0.4, 0.2))
        out["anomalies_key_sec"] = timed(
            lambda: _ts_anomalies_key_window(df, 20, 3.0)
        )
        out["resample_key_sec"] = timed(
            lambda: _ts_resample_key_window(df, 60_000, "linear")
        )
        out["sessionize_key_sec"] = timed(
            lambda: _sessionize_key_window(df, 500)
        )
    # sanity: same bucket count both ways (cheap recompute at n/100)
    small = spark.range(n // 100).select(
        F.lit("hot").alias("key"),
        (F.col("id") * 1000).alias("ts"),
        (F.col("id") % 100_000).cast("double").alias("value"),
    )
    a = ts_increase(small, H).count()
    b = _key_window_chain(
        small, H, _increase_step, None, MIN_TS, MAX_TS, "0"
    ).count()
    out["equiv_buckets"] = (a, b, a == b)
    e1 = ts_ewma(small, 0.3).count()
    e2 = _ts_ewma_sequential(small, 0.3).count()
    out["equiv_ewma_rows"] = (e1, e2, e1 == e2)
    a1 = ts_anomalies(small, 20, 3.0, flag_only=True).count()
    a2 = _ts_anomalies_key_window(small, 20, 3.0, flag_only=True).count()
    out["equiv_anomaly_flags"] = (a1, a2, a1 == a2)
    r1 = ts_resample(small, 60_000, "linear").count()
    r2 = _ts_resample_key_window(small, 60_000, "linear").count()
    out["equiv_resample_rows"] = (r1, r2, r1 == r2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
