"""TS.RANGE / TS.REVRANGE / the per-series core of TS.MRANGE.

Reference lifecycle (SURVEY §3.1): SeriesIterator -> [FilterTS] ->
[FilterValue] -> [AggregationIterator] -> COUNT limit
(src/tsdb.c:1363-1426, src/reply.c:175-213).

Spark translation: one declarative plan —
  filter(key and ts between) . [isin] . [value between]
  . [groupBy(key, bucket).agg(...)] . [per-key row_number limit] . sort
Catalyst pushes the key/ts filters into the parquet scan (row-group
pruning = the reference's chunk seek) and runs the bucketed aggregation as
partial+final hash aggregate — a single shuffle keyed by (key, bucket),
which is the plan that survives a 1000-executor / 100 TB scale-up.

COUNT semantics: the reference applies COUNT per series (reply loop,
src/reply.c:180-192), so the limit here is a per-key row_number, evaluated
after filters and aggregation.

Ordering contract: rows come back in (key, ts) order, ts descending under
REV.  A one-key query, and an aggregated query over a finite range whose
row bound fits one `spark.sql.adaptive.advisoryPartitionSizeInBytes`
partition, sorts its answer in one partition after the last exchange
(`ts_range` says why that holds at scale); raw multi-key reads and
unbounded ranges sort globally.  The key/ts pre-filter is one Filter
node parsed from one SQL text (`functions/filters.filter_key_range`).

Everything up to the (key, bucket) aggregated frame — the pre-filters,
the per-bucket emission rule and the finalizers — is `bucket_aggregate`,
the one bucket-aggregation stage: TS.NRANGE (operators/nrange.py) and
the compaction rules (streaming/compaction.py) run it too, so the rule
for which bucket emits, and with what value, is written once.  Like the
reference's single AggregationIterator pass, it computes every
aggregator of a bucket, twa's partials included, in one (key, bucket)
aggregation, and derives twa (operators/twa.py) and the EMPTY spine
(operators/empty.py) from those rows: the source is read once.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from redistimeseries_spark import MAX_TS, MIN_TS
from redistimeseries_spark.functions.aggs import (
    agg_expr,
    empty_value,
    is_valid_agg,
    sanitize,
)
from redistimeseries_spark.functions.buckets import bucket_start, report_ts, resolve_align
from redistimeseries_spark.functions.filters import filter_key_range
from redistimeseries_spark.operators.empty import empty_spine, fill_empty_buckets
from redistimeseries_spark.operators.twa import twa_partials, with_twa

# src/query_language.h:53
MAX_TS_VALUES_FILTER = 128

# aggregators with their own isValueValid (nanValueValid / allValueValid,
# src/compaction.c:944-978): they accept NaN samples
COUNT_CLASSES = ("count_nan", "count_all")


def _as_list(x):
    if x is None:
        return None
    return [x] if isinstance(x, str) else list(x)


def _prefiltered(samples, start, end, keys, filter_by_ts, filter_by_value):
    """The FilterTS / FilterValue stages ahead of any aggregation."""
    df = filter_key_range(samples, keys, start, end)
    if filter_by_ts is not None:
        # reference stops parsing after 128 values (MAX_TS_VALUES_FILTER,
        # src/query_language.h:53, parse loop src/query_language.c:620) —
        # replicate the silent truncation; negatives are a parse error there
        # (src/query_language.c:30-38).  isin over a literal list stays a
        # scan-level predicate, no join needed.
        wanted = [int(t) for t in filter_by_ts][:MAX_TS_VALUES_FILTER]
        if any(t < 0 for t in wanted):
            raise ValueError("FILTER_BY_TS timestamps must be >= 0")
        df = df.filter(F.col("ts").isin(wanted))
    if filter_by_value is not None:
        lo, hi = filter_by_value
        # NaN never passes (src/filter_iterator.c:18-24): Spark orders NaN
        # above all doubles so `<= hi` already rejects it; keep explicit guard.
        df = df.filter(~F.isnan("value") & (F.col("value") >= lo) & (F.col("value") <= hi))
    return df


def emission_rule(aggs, n_valid: Column) -> Column | None:
    """validSamplesInBucket (src/filter_iterator.c:389-401, 1286-1292): a
    bucket emits iff ANY of `aggs` saw a sample its own isValueValid
    accepts (src/compaction.c:944-978) — `n_valid` > 0 for the plain
    aggregators, a NaN for count_nan, anything for count_all (None: no
    filter at all)."""
    if "count_all" in aggs:
        return None
    conds = []
    if set(aggs) - set(COUNT_CLASSES):
        conds.append(n_valid > 0)
    if "count_nan" in aggs:
        # count_nan's own column IS the per-bucket NaN count
        conds.append(F.col("count_nan") > 0)
    return reduce(lambda a, b: a | b, conds)


def bucket_aggregate(
    samples: DataFrame,
    aggs: list[str],
    bucket_dur: int | None,
    align=0,
    start: int = MIN_TS,
    end: int = MAX_TS,
    keys=None,
    *,
    filter_by_ts=None,
    filter_by_value=None,
    empty: bool = False,
) -> DataFrame:
    """The bucketed-aggregation stage of TS.RANGE: unordered
    (key, __bucket, <sanitized aggs>) rows, one per emitted bucket, with
    `__bucket` the UNCLAMPED bucket start.  It decides which buckets emit
    (`emission_rule`) and with what values (EMPTY fill, LOCF `last`,
    finalizeEmpty); `ts_range`, `ts_nrange` and the compaction rules all
    run it."""
    df = _prefiltered(samples, start, end, keys, filter_by_ts, filter_by_value)
    unknown = [a for a in aggs if not is_valid_agg(a)]
    if unknown:
        # "TSDB: Unknown aggregation type" (src/query_language.c);
        # beyond-reference p-names (p50/p99/p99.9) are valid here too
        raise ValueError(f"unknown aggregation type(s): {unknown}")
    if bucket_dur is None or bucket_dur <= 0:
        raise ValueError("aggregation requires bucket_dur > 0")
    align_ts = resolve_align(align, start, end)
    bucket = bucket_start(F.col("ts"), bucket_dur, align_ts)
    df = df.withColumn("__bucket", bucket)

    exprs = [agg_expr(a, F.col("value"), F.col("ts")) for a in aggs if a != "twa"]
    # validSamplesInBucket (src/filter_iterator.c:389-401): a bucket
    # whose samples are all NaN is treated as empty and not emitted.
    exprs.append(
        F.count(
            F.when(F.col("value").isNotNull() & ~F.isnan("value"), 1)
        ).alias("__n_valid")
    )
    if "twa" in aggs:
        df, partials = twa_partials(df)
        exprs += partials
    out = df.groupBy("key", "__bucket").agg(*exprs)
    if empty:
        out = empty_spine(out, bucket_dur)
    if "twa" in aggs:
        out = with_twa(out, bucket_dur, start, end)

    if empty:
        out = fill_empty_buckets(out, aggs)
    else:
        # count_nan / count_all have their own isValueValid, so their
        # presence widens the bucket-emit rule (`emission_rule`)
        has_count_class = bool(set(COUNT_CLASSES) & set(aggs))
        if has_count_class and "last" in aggs:
            # aggLast.finalizeEmpty returns the LOCF-carried context
            # value (finalize_empty_last_value + LastValueReset keeping
            # value across buckets, src/compaction.c:81-84,115-121):
            # an emitted only-NaN bucket reports the previous bucket's
            # last valid sample, NaN if unseeded.  Chronological window
            # regardless of rev — the reference seeds reverse iteration
            # to agree with forward (src/filter_iterator.c:473-506).
            w = (
                Window.partitionBy("key")
                .orderBy("__bucket")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            invalid = F.col("__n_valid") == 0
            locf = F.last(
                F.when(~invalid, F.col("last")), ignorenulls=True
            ).over(w)
            out = out.withColumn("last", locf)
        pred = emission_rule(aggs, F.col("__n_valid"))
        if pred is not None:
            out = out.filter(pred)
        if has_count_class:
            # per-agg finalizeEmpty for aggregators whose own valid set
            # is empty in an emitted bucket (finalize_empty_with_NAN /
            # _ZERO; sum/count already fold to 0 in their builders; twa
            # carries its gap interpolation, NULL where there is none)
            out = out.withColumns(
                {
                    sanitize(a): F.coalesce(
                        F.col(sanitize(a)), F.lit(empty_value(a))
                    )
                    for a in aggs
                    if a not in COUNT_CLASSES
                }
            )
    return out.select("key", "__bucket", *[sanitize(a) for a in aggs])


def _fits_one_partition(spark, keys, aggs, bucket_dur, start, end) -> bool:
    """Whether the answer for `keys` (a list, or None for every key) fits
    one partition: one key always (one reply), several keys when the
    answer is aggregated and its row bound — `len(keys)` x the buckets
    [start, end] can touch — fits one advisory partition of the
    (UnsafeRow-sized) output, where AQE would coalesce it to anyway."""
    if keys is None or (len(keys) > 1 and not aggs):
        return False
    if len(keys) <= 1:
        return True
    rows = len(keys) * ((end - start) // bucket_dur + 2)
    row_bytes = 8 * (3 + len(aggs)) + max(len(k.encode()) for k in keys)
    advisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    # Spark's own parser of its byte-size strings: one JVM call
    limit = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(advisory)
    return rows * row_bytes <= limit


def ts_range(
    samples: DataFrame,
    start: int = MIN_TS,
    end: int = MAX_TS,
    keys=None,
    *,
    filter_by_ts=None,
    filter_by_value: tuple[float, float] | None = None,
    aggregations: list[str] | str | None = None,
    bucket_dur: int | None = None,
    align="0",
    bucket_ts: str = "-",
    empty: bool = False,
    rev: bool = False,
    count: int | None = None,
) -> DataFrame:
    """Build the TS.RANGE plan.  Returns (key, ts, value) for raw scans or
    (key, ts, <agg...>) for aggregated queries, ordered by (key, ts), ts
    descending if rev.

    A one-key `keys` (a str or a one-element list) answers in ONE
    partition sorted within it, like the reference's walk of one series'
    chunks into one reply (src/reply.c:175-213).  So does an aggregated
    read of several `keys` over a finite [start, end] whose answer is
    bounded on the driver by len(keys) x the buckets of the range and
    fits one `spark.sql.adaptive.advisoryPartitionSizeInBytes` partition
    (`_fits_one_partition`).  Any other read sorts globally (`orderBy`: a
    range-partition sampling job and a sort shuffle, which buy nothing
    for an answer of one partition).  The single partition holds at
    scale: it starts after the aggregation's exchange, so it carries at
    most the bounded rows, while the scan and partial aggregation keep
    every core.  A one-key raw answer, that series' samples, reaches the
    client as one reply anyway; it moves through one single-partition
    exchange, so its scan is not coalesced into one task.
    """
    aggs = _as_list(aggregations)
    if aggs:
        df = bucket_aggregate(
            samples, aggs, bucket_dur, align, start, end, keys,
            filter_by_ts=filter_by_ts, filter_by_value=filter_by_value,
            empty=empty,
        ).select(
            "key",
            report_ts(F.col("__bucket"), bucket_dur, bucket_ts).alias("ts"),
            *[sanitize(a) for a in aggs],
        )
    else:
        df = _prefiltered(
            samples, start, end, keys, filter_by_ts, filter_by_value
        ).select("key", "ts", "value")

    order = F.col("ts").desc() if rev else F.col("ts").asc()
    one = _fits_one_partition(samples.sparkSession, _as_list(keys), aggs, bucket_dur, start, end)
    if one:
        # coalesce behind the aggregation's exchange, so COUNT's window
        # needs none of its own; a raw scan has none, and coalescing it
        # would read the source in one task
        df = df.coalesce(1) if aggs else df.repartition(1)
    if count is not None:
        w = Window.partitionBy("key").orderBy(order)
        df = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= count)
            .drop("__rn")
        )
    return df.sortWithinPartitions("key", order) if one else df.orderBy("key", order)
