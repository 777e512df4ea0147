"""Compaction rules (TS.CREATERULE) — continuous downsampling.

Reference: per-rule running agg context; when a sample lands in a newer
bucket the previous bucket is finalized into the dest series with a
DP_LAST upsert (src/module.c:915-984).  The bucket containing the source's
last sample is therefore OPEN — not yet in dest; LATEST materializes it on
the fly by finalizing a clone of the live context (src/tsdb.c:1468-1501).

Batch shape: dest = bucketed aggregation of src restricted to closed
buckets — one shuffle on (key, bucket).  Incremental maintenance = re-run
restricted to the (key, bucket) pairs a micro-batch touched and upsert
them into the dest table; the recompute set is tiny so the join is
broadcast.  The engine facade materializes its dests from the source
at read time (`TimeSeriesEngine._dest_samples`), so a TS.DEL cascades by
construction.
`materialize_rule` is the one rule aggregation: the engine facade calls it
over whole series, `streaming/ingest.StreamingStore` over the pruned slice
behind a micro-batch's touched buckets.  Its per-bucket and twa rules
run TS.RANGE's bucket stage (`operators/range_query.bucket_aggregate`).
The Structured Streaming window-aggregation variant lives in
streaming/window_rules.py.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redistimeseries_spark import MAX_TS, MIN_TS
from redistimeseries_spark.functions.aggs import sanitize
from redistimeseries_spark.functions.buckets import bucket_start
from redistimeseries_spark.operators.range_query import bucket_aggregate

# EWM rule aggregators (beyond-reference; the Prometheus recording-rule
# shape increase/rate got in round 7, for continuous SMOOTHING): the agg
# string carries the parameters, the p-name precedent ("p99.9").
#   ewma_<alpha>            -> bucket-end EWM level
#   ewm_band_<alpha>_<k>    -> bucket-end adaptive envelope level + k*std
#                              (k < 0 selects the lower band)
_EWMA_RULE_RE = re.compile(r"^ewma_(\d*\.?\d+)$")
_EWM_BAND_RULE_RE = re.compile(r"^ewm_band_(\d*\.?\d+)_(-?\d*\.?\d+)$")

# rule aggregators whose bucket value reads samples OUTSIDE the bucket (twa:
# boundary interpolation, twaAddBucketParams src/module.c:943-958;
# increase/rate: the step from the previous valid sample) — an incremental
# recompute must widen its repair set and fetch neighbor samples
CROSS_BUCKET_AGGS = ("twa", "increase", "rate")


def parse_ewm_rule(agg: str):
    """(kind, alpha, k) for an EWM rule agg string, else None.  kind is
    'ewma' (k is None) or 'ewm_band'.  alpha must land in (0, 1) —
    alpha=1 keeps no history, so the band is undefined and the level
    rule degenerates to plain `last`."""
    m = _EWMA_RULE_RE.match(agg)
    if m:
        alpha = float(m.group(1))
        if not 0 < alpha < 1:
            raise ValueError(f"{agg}: alpha must be in (0, 1)")
        return "ewma", alpha, None
    m = _EWM_BAND_RULE_RE.match(agg)
    if m:
        alpha, k = float(m.group(1)), float(m.group(2))
        if not 0 < alpha < 1:
            raise ValueError(f"{agg}: alpha must be in (0, 1)")
        if k == 0:
            raise ValueError(
                f"{agg}: k must be nonzero (positive = upper envelope,"
                " negative = lower)"
            )
        return "ewm_band", alpha, k
    return None


@dataclass
class CompactionRule:
    src_key_pattern: str | None  # None = all keys
    dest_suffix: str  # dest key = src key + dest_suffix
    agg: str
    bucket_ms: int
    align_ts: int = 0


def closed_buckets(
    samples: DataFrame, bucket_ms: int, align_ts: int = 0
) -> DataFrame:
    """Aggregatable (key, bucket) pairs strictly before the open bucket."""
    last = samples.groupBy("key").agg(F.max("ts").alias("__last_ts"))
    return last.select(
        "key", bucket_start(F.col("__last_ts"), bucket_ms, align_ts).alias("__open")
    )


def materialize_rule(
    samples: DataFrame,
    rule: CompactionRule,
    include_open: bool = False,
) -> DataFrame:
    """Dest-series samples for a rule: (key, ts, value) where ts is the
    UNCLAMPED bucket start (reference compaction always reports bucket
    start; `StreamingStore` keys its touched buckets by it) and key is
    the dest key.  include_open=False replicates the closed-bucket-only
    dest content; True = the LATEST view (open bucket finalized on the fly).

    Per-bucket aggregators and twa are `bucket_aggregate` over the whole
    series, TS.RANGE's stage: a bucket emits by the aggregator's own
    validity rule (count_nan when it saw a NaN, count_all whenever it
    holds a sample, the rest on a valid sample), and twa takes the
    boundary samples of the neighbouring buckets.  increase/rate route to
    `operators/rate.ts_increase` and the EWM rules to the smooth
    operators, each with its own emission rule.
    """
    df = samples
    if rule.src_key_pattern is not None:
        df = df.filter(F.col("key").rlike(rule.src_key_pattern))
    if rule.agg in ("increase", "rate"):
        # counter rules (beyond-reference; the Prometheus recording-rule
        # shape): continuous reset-aware per-bucket counter rollup.  The
        # aggregator is cross-bucket (each sample's step links to the
        # key's previous valid sample, wherever it lives), so it routes
        # to the operator (operators/rate.ts_increase); emission = >=1
        # sample with a predecessor (the operator's own rule).
        from redistimeseries_spark.operators.rate import ts_increase

        agg = (
            ts_increase(
                df,
                rule.bucket_ms,
                align=rule.align_ts,
                per_second=rule.agg == "rate",
            )
            .withColumnRenamed("rate" if rule.agg == "rate" else "increase",
                               "value")
            .withColumnRenamed("ts", "__bucket")
        )
    elif parse_ewm_rule(rule.agg) is not None:
        # EWM smoothing rules (beyond-reference): the dest sample for a
        # bucket is the running EWM statistic AFTER the bucket's last
        # valid sample — cross-bucket with UNBOUNDED lookback (the level
        # folds over the key's whole history), so it routes to the
        # chunk-affine smooth operators (the ts_ewma/ts_ewm_band scale
        # path), then takes each bucket's last smoothed row.  Rules run
        # on the EFFECTIVE series: NaN samples dropped, duplicate
        # (key, ts) rows folded last-wins by (ts, value) first — the
        # x/x^2 recurrences must consume duplicates identically, and a
        # store-resolved view makes the fold a no-op.  Emission: >=1
        # valid sample in the bucket (the level persists across silent
        # buckets but the rule only materializes observed ones — `last`
        # semantics, matching the reference's sample-driven finalize).
        kind, alpha, band_k = parse_ewm_rule(rule.agg)
        eff = (
            df.filter(~F.isnan("value"))
            .groupBy("key", "ts")
            .agg(F.max("value").alias("value"))
        )
        if kind == "ewma":
            from redistimeseries_spark.operators.smooth import ts_ewma

            sm = ts_ewma(eff, alpha).select(
                "key", "ts", F.col("ewma").alias("__metric")
            )
        else:
            from redistimeseries_spark.operators.smooth import ts_ewm_band

            # band_k only scales the operator's upper/lower/breakout
            # outputs, which this rule recombines itself (k's SIGN
            # selects the envelope side); pass a positive placeholder
            sm = ts_ewm_band(eff, alpha, band_k=abs(band_k)).select(
                "key",
                "ts",
                (F.col("ewma") + F.lit(band_k) * F.col("std")).alias(
                    "__metric"
                ),
            )
        agg = (
            sm.withColumn(
                "__bucket",
                bucket_start(F.col("ts"), rule.bucket_ms, rule.align_ts),
            )
            .groupBy("key", "__bucket")
            .agg(F.max_by("__metric", "ts").alias("value"))
        )
    else:
        # every per-bucket aggregator, and twa (whose boundary terms reach
        # into the neighbouring buckets — twaAddBucketParams,
        # src/module.c:943-958 — over the full, unclamped series): the
        # TS.RANGE bucket stage, emission rule and finalizers included
        agg = bucket_aggregate(
            df, [rule.agg], rule.bucket_ms, rule.align_ts, MIN_TS, MAX_TS
        ).withColumnRenamed(sanitize(rule.agg), "value")
    if not include_open:
        opens = closed_buckets(df, rule.bucket_ms, rule.align_ts)
        agg = agg.join(F.broadcast(opens), "key", "left").filter(
            F.col("__bucket") < F.col("__open")
        )
    return agg.select(
        F.concat(F.col("key"), F.lit(rule.dest_suffix)).alias("key"),
        F.col("__bucket").alias("ts"),
        "value",
    )


def latest_value(
    samples: DataFrame, rule: CompactionRule
) -> DataFrame:
    """TS.GET/MGET ... LATEST on a compaction destination: last closed
    bucket unioned with the finalized open bucket, then max_by(ts)."""
    full = materialize_rule(samples, rule, include_open=True)
    return full.groupBy("key").agg(
        F.max("ts").alias("ts"), F.max_by("value", "ts").alias("value")
    )
