"""EMPTY bucket generation (AGGREGATION ... EMPTY).

Reference (src/filter_iterator.c:389-443, 686-799):
  * gap buckets between the first and last sample-containing bucket are
    emitted; edge gaps (before the first / after the last sample in range)
    are NOT (src/filter_iterator.c:723-746);
  * a bucket whose samples are all NaN is treated as empty but still
    emitted in EMPTY mode with per-agg finalizeEmpty values
    (src/filter_iterator.c:394-401);
  * finalizeEmpty: 0 for sum / count / count_nan / count_all, NaN for the
    rest, except `last` = LOCF from the chronologically previous kept
    sample (src/filter_iterator.c:473-506) and `twa` = neighbor
    interpolation (operators/twa.py).

Spark shape: the spine comes from the aggregated rows themselves — each
bucket row explodes into itself and the gap up to the key's next bucket
(`sequence(__bucket, lead(__bucket) - dur, dur)`), so generated rows ≈
range/dur per key and the source is read once, by the aggregation.
NaN-only buckets are aggregated rows too, so they bound the span.  A
window LOCF fills `last`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from redistimeseries_spark.functions.aggs import empty_value, sanitize


def empty_spine(agg_df: DataFrame, dur: int) -> DataFrame:
    """agg_df (one row per (key, __bucket) holding a sample) with a row
    for every gap bucket between a key's first and last bucket; a gap
    row is NULL in every column but key and __bucket."""
    w = Window.partitionBy("key").orderBy("__bucket")
    step = F.lit(dur).cast("long")
    cols = [c for c in agg_df.columns if c not in ("key", "__bucket")]
    return (
        agg_df.withColumn("__next", F.lead("__bucket").over(w))
        .select(
            "*",
            F.posexplode(
                F.sequence(
                    F.col("__bucket"),
                    F.coalesce(F.col("__next") - step, F.col("__bucket")),
                    step,
                )
            ).alias("__pos", "__gap"),
        )
        .select(
            "key",
            F.col("__gap").alias("__bucket"),
            *[F.when(F.col("__pos") == 0, F.col(c)).alias(c) for c in cols],
        )
    )


def fill_empty_buckets(spine: DataFrame, aggs: list[str]) -> DataFrame:
    """The per-aggregator finalizeEmpty over `empty_spine` rows:
    `__n_valid` is 0 for a NaN-only bucket and NULL for a gap."""
    valid = F.col("__n_valid") > 0
    cols = []
    w = Window.partitionBy("key").orderBy("__bucket").rowsBetween(Window.unboundedPreceding, 0)
    for a in aggs:
        name = sanitize(a)
        if a == "twa":
            # operators/twa.with_twa fills every row of the spine
            cols.append(F.col(name))
        elif a == "last":
            locf = F.last(F.when(valid, F.col(name)), ignorenulls=True).over(w)
            cols.append(F.coalesce(locf, F.lit(float("nan"))).alias(name))
        elif a in ("count_nan", "count_all"):
            # these validate NaN samples (nanValueValid / allValueValid,
            # src/compaction.c:944-978): an only-NaN bucket reports its real
            # count, not finalizeEmpty 0 — only true gap rows fold to 0.
            cols.append(F.coalesce(F.col(name), F.lit(0.0)).alias(name))
        else:
            cols.append(
                F.when(valid, F.col(name)).otherwise(F.lit(empty_value(a))).alias(name)
            )
    return spine.select("key", "__bucket", *cols)
