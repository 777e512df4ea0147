"""Multi-series queries: TS.MGET, TS.MRANGE/TS.MREVRANGE, GROUPBY...REDUCE.

Reference: src/module.c:2132-2265 (mget), 624-688 (mrange),
src/resultset.c:156-242 + src/multiseries_*.c (groupby/reduce).

Spark shapes (all one- or two-shuffle plans that hold at 100 TB):
  * mget     — groupBy(key).agg(max_by) with map-side partial aggregation;
               the reference's O(1) lastSample becomes a partial-agg scan,
               or a maintained `latest` table at ingest time (see
               streaming/compaction.py).
  * mrange   — label match on the driver (operators/labels.LabelIndex,
               the reference's in-memory index) into a literal
               `key IN (...)` scan filter, ANDed with prune-only key runs
               (`labels.key_runs`) that let a cached scan skip batches,
               then the per-series ts_range pipeline over the matched
               keys; per-series grouping is the shuffle key so series
               parallelize across executors exactly like the reference's
               shard fan-out (src/libmr_commands.c).  An aggregated
               answer over a finite range is bounded by the matched keys,
               so ts_range sorts it in one partition.
  * groupby  — the reference's k-way heap merge + per-ts reduce
               (src/multiseries_sample_iterator.c:47-87) is just a second
               groupBy((label_value, ts)) — Spark's shuffle IS the merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redistimeseries_spark import MAX_TS, MIN_TS
from redistimeseries_spark.functions.aggs import AGGREGATORS, sanitize
from redistimeseries_spark.functions.filters import (
    filter_key_range,
    key_in,
    key_runs_sql,
    key_sql,
    sql_str,
)
from redistimeseries_spark.operators.labels import (
    LabelIndex,
    arrow_frame,
    key_runs,
    label_index,
    with_labels,
)
from redistimeseries_spark.operators.range_query import ts_range

# (bucket aggregator, GROUPBY reducer) pairs that commute: the two-stage
# per-series-agg -> cross-series-reduce pipeline equals a single direct
# aggregation over the merged group, enabling the one-shuffle fused plan.
_FUSABLE = {("sum", "sum"), ("min", "min"), ("max", "max")}

# The two-stage GROUPBY maps keys to groups with a literal up to these
# many groups and (key, group) pairs, else with a broadcast frame: the
# crossover scripts/groupby_map_probe.py measured (its docstring has the
# table; beyond it the broadcast's one job costs less than the literal).
_LITERAL_GROUPS = 10
_LITERAL_PAIRS = 500


def _pruned_scan(
    samples: DataFrame, index: LabelIndex, keys: list[str], threshold: int
) -> DataFrame:
    """`samples` under the prune-only companion of the `key IN (keys)` row
    filter: above the InSet `threshold`, the key runs over the index's
    universe (`labels.key_runs`) when they cover at most half of it.
    Every matched key lies in a run, so ANDed with the `IN` it never
    changes an answer; alone it lets a cached scan skip batches."""
    if len(keys) > threshold:
        runs = key_runs(index.universe, keys, threshold)
        if runs:
            return samples.filter(key_runs_sql(runs))
    return samples


def ts_mget(
    samples: DataFrame,
    labels: DataFrame | LabelIndex,
    filters: list[str],
    selected_labels: list[str] | None = None,
    with_labels_flag: bool = False,
    latest_table: DataFrame | None = None,
) -> DataFrame:
    """Last sample of every matching series: (key, ts, value [, labels...]).

    Reference replies the last *raw* sample (src/module.c:2132-2265);
    NaN values are legal last samples, so no NaN filtering here.

    latest_table: an ingest-maintained (key, ts, value) last-sample table
    (streaming/ingest.StreamingStore maintains one per micro-batch); when
    given, MGET is a key filter over |keys| rows — the analogue of the
    reference's O(1) series->lastSample read — instead of a full samples
    scan (7-23 s vs 1.0 s at 100M rows, BASELINE.md)."""
    index = label_index(labels)
    matched = key_in(index.match(filters))
    if latest_table is not None:
        out = latest_table.select("key", "ts", "value").filter(matched)
    else:
        out = samples.filter(matched).groupBy("key").agg(
            F.max("ts").alias("ts"),
            F.max_by("value", "ts").alias("value"),
        )
    if with_labels_flag or selected_labels is not None:
        out = with_labels(out, index, selected_labels)
    return out


def _pair_frame(spark, pairs: list[tuple[str, str | None]]) -> DataFrame:
    """The (key, __grpval) group map as a driver-built frame."""
    return arrow_frame(spark, key=[k for k, _ in pairs], __grpval=[v for _, v in pairs])


def ts_mrange(
    samples: DataFrame,
    labels: DataFrame | LabelIndex,
    filters: list[str],
    start: int = MIN_TS,
    end: int = MAX_TS,
    *,
    groupby: str | None = None,
    reduce: str | None = None,
    selected_labels: list[str] | None = None,
    with_labels_flag: bool = False,
    exclude_empty: bool = True,
    fuse: bool = True,
    **range_kwargs,
) -> DataFrame:
    """TS.MRANGE: per-series range pipeline over label-matched series,
    optionally GROUPBY label REDUCE reducer.

    exclude_empty=True is the EXCLUDEEMPTY flag (SeriesQueryIfNonEmpty,
    src/reply.c:159-173).  The reference's default reply lists every
    matched series even when its range is empty; with exclude_empty=False
    such series surface as one marker row (key, ts=NULL, value=NULL) —
    the row-relational stand-in for the reference's empty array.

    GROUPBY semantics (src/resultset.c:156-242): series are partitioned by
    the value of `groupby`; per distinct timestamp the reducer merges that
    timestamp's values across the group's series.  Output series name is
    "label=value" (src/resultset.c:226-242).  A timestamp where every
    series' value is NaN reduces to NaN (count reducers: 0)
    (src/multiseries_agg_dup_sample_iterator.c:46-59).
    """
    index = label_index(labels)
    keys = index.match(filters)
    spark = samples.sparkSession
    threshold = int(spark.conf.get("spark.sql.optimizer.inSetConversionThreshold"))
    # the `key IN` row filter is ts_range's pre-filter (the fused GROUPBY
    # path applies it itself)
    df = _pruned_scan(samples, index, keys, threshold)

    if groupby is None:
        out = ts_range(df, start, end, keys, **range_kwargs)
        if not exclude_empty:
            out = F.broadcast(arrow_frame(spark, key=keys)).join(out, "key", "left")
        if with_labels_flag or selected_labels is not None:
            out = with_labels(out, index, selected_labels)
        return out

    if reduce is None:
        raise ValueError("GROUPBY requires REDUCE")
    # value column of the per-series stage: 'value' for raw, the (single)
    # aggregator column otherwise (multi-agg + groupby is not in the
    # reference surface either).
    aggs = range_kwargs.get("aggregations")
    vcol = "value" if not aggs else sanitize(aggs if isinstance(aggs, str) else aggs[0])

    # the group map: one (key, group value) pair per matched key and value
    # of the GROUPBY label; keys without it join no group
    pairs = [(k, v) for k in keys for v in index.by_key[k].get(groupby, ())]
    groups: dict[str | None, list[str]] = {}
    for k, v in pairs:
        groups.setdefault(v, []).append(k)
    builder, _ = AGGREGATORS[reduce]
    if builder is None:
        raise ValueError(f"reducer {reduce} not supported")

    agg_single = (
        aggs if isinstance(aggs, str) else (aggs[0] if aggs and len(aggs) == 1 else None)
    )
    if (
        fuse
        and not with_labels_flag
        and (agg_single, reduce) in _FUSABLE
        and range_kwargs.get("count") is None
        and not range_kwargs.get("empty")
    ):
        # The bucket aggregator and the cross-series reducer commute (both
        # sum / both min / both max), so per-series-agg-then-reduce
        # collapses into ONE aggregation keyed by (group name, bucket):
        # relabel each sample's key to its group's output name and run the
        # ordinary range plan.  One shuffle instead of two — at 100M rows
        # this halves the GROUPBY wall (see BASELINE.md) — and ts_range's
        # only-NaN-bucket drop (__n_valid) is exactly the reducer's
        # all-NaN rule lifted to the group level, since a per-series
        # only-NaN bucket never reaches the reducer either.
        grp_lbl = F.broadcast(_pair_frame(spark, pairs))
        relabeled = filter_key_range(df, keys).join(grp_lbl, "key").select(
            F.concat(F.lit(groupby + "="), F.col("__grpval")).alias("key"),
            "ts",
            "value",
        )
        return ts_range(relabeled, start, end, **range_kwargs)

    out = ts_range(df, start, end, keys, **range_kwargs)
    if 0 < len(groups) <= _LITERAL_GROUPS and len(pairs) <= _LITERAL_PAIRS:
        # each aggregated row probes one hashed `key IN` per group: a
        # literal that runs no Spark job where broadcasting the group
        # frame runs one, but whose plan grows with the pairs and whose
        # per-row work grows with the groups (`_LITERAL_GROUPS`).  A key
        # holding several values joins each group.
        grpvals = ", ".join(
            f"IF({key_sql(ks)}, array({sql_str(v)}), array())" for v, ks in groups.items()
        )
        joined = out.withColumn("__grpval", F.expr(f"explode(concat({grpvals}))"))
    else:
        joined = out.join(F.broadcast(_pair_frame(spark, pairs)), "key", "inner")
    # all-NaN timestamp reduces to NaN, not absent
    # (src/multiseries_agg_dup_sample_iterator.c:46-59); count-family already
    # yields 0 there.
    if reduce == "sum":
        # bucket-agg sum has finalizeEmpty 0, but the cross-series reducer
        # yields NaN for an all-NaN timestamp (SURVEY §2.5)
        rexpr = F.sum(F.when(~F.isnan(vcol), F.col(vcol)))
    else:
        rexpr = builder(F.col(vcol), F.col("ts"))
    if not reduce.startswith("count"):
        rexpr = F.coalesce(rexpr, F.lit(float("nan")))
    red = joined.groupBy("__grpval", "ts").agg(rexpr.alias(vcol))
    name = F.concat(F.lit(groupby + "="), F.col("__grpval")).alias("key")
    if not with_labels_flag:
        return red.select(name, "ts", vcol)
    # synthetic-series labels (createReducedSeriesLabels,
    # src/resultset.c:125-143 + 200-215): __reducer__ is the reducer name,
    # __source__ the comma-joined keys of ALL group members (the whole
    # matched group, not per-timestamp contributors); sorted here for
    # determinism where the reference follows index iteration order.  The
    # membership table is one row per group, built on the driver.
    members = arrow_frame(
        spark, __grpval=list(groups), __source__=[",".join(ks) for ks in groups.values()]
    )
    return red.join(F.broadcast(members), "__grpval").select(
        name, "ts", vcol, F.lit(reduce).alias("__reducer__"), "__source__"
    )


def series_stats(samples: DataFrame, labels: DataFrame) -> DataFrame:
    """(key, total_samples, first_timestamp, last_timestamp, n_labels) —
    the data-derived TS.INFO fields for EVERY series in one partial-agg
    scan (the reference answers per key from Series struct fields,
    src/module.c:156-280; the fleet-wide variant is what an operator
    dashboard actually queries).  Config-derived INFO fields (retention,
    dup policy, rules) live in the engine catalog, not the data."""
    # spine = union of both key sets: a created-but-empty series (labels,
    # zero samples) still answers INFO in the reference
    keys = samples.select("key").union(labels.select("key")).distinct()
    agg = samples.groupBy("key").agg(
        F.count(F.lit(1)).alias("total_samples"),
        F.min("ts").alias("first_timestamp"),
        F.max("ts").alias("last_timestamp"),
    )
    nl = labels.groupBy("key").agg(F.count(F.lit(1)).alias("n_labels"))
    return keys.join(agg, "key", "left").join(nl, "key", "left").select(
        "key",
        F.coalesce("total_samples", F.lit(0)).alias("total_samples"),
        "first_timestamp",
        "last_timestamp",
        F.coalesce("n_labels", F.lit(0)).alias("n_labels"),
    )


def ts_topk(
    samples: DataFrame,
    bucket_dur: int,
    n: int,
    agg: str = "avg",
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    align="0",
    bottom: bool = False,
) -> DataFrame:
    """(ts, key, value, rnk) — the `n` series with the LARGEST (or, with
    `bottom=True`, smallest) per-bucket aggregate, per bucket (PromQL's
    topk()/bottomk(), the "which hosts are hottest right now" dashboard
    primitive; ts is the bucket start).  `agg` is any groupBy-expressible
    aggregator from the reference set (functions/aggs.py), p-names
    included.  Series whose bucket aggregate is NULL (no valid samples)
    or NaN are absent from that bucket's ranking.

    Selection ranks the aggregate ROUNDED TO 6 DECIMALS with the key as
    the tiebreak — the bm25_topk convention, which makes the picked set
    independent of distributed float-summation order (and of the oracle
    engine's).  `value` is reported at the same rounding.

    Spark shape: ONE (key, bucket) partial/final hash aggregate, then a
    bucket-partitioned row_number that InferWindowGroupLimit rewrites
    into per-partition top-n heaps before the shuffle — no bucket's full
    series list is ever sorted in one task."""
    from pyspark.sql import Window

    from redistimeseries_spark.functions.aggs import agg_expr
    from redistimeseries_spark.functions.buckets import (
        bucket_start,
        resolve_align,
    )

    if bucket_dur <= 0:
        raise ValueError("bucket_dur must be positive")
    if n <= 0:
        raise ValueError("n must be positive")
    df = filter_key_range(samples, keys, start, end)
    align_ts = resolve_align(align, start, end)
    b = bucket_start(F.col("ts"), bucket_dur, align_ts)
    agged = (
        df.select("key", b.alias("__b"), "ts", "value")
        .groupBy("key", "__b")
        .agg(F.round(agg_expr(agg, F.col("value"), F.col("ts")), 6).alias("__v"))
        .filter(F.col("__v").isNotNull() & ~F.isnan("__v"))
    )
    order = [
        F.col("__v").asc() if bottom else F.col("__v").desc(),
        F.col("key").asc(),
    ]
    w = Window.partitionBy("__b").orderBy(*order)
    return (
        agged.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= n)
        .select(
            F.col("__b").alias("ts"), "key", F.col("__v").alias("value"), "rnk"
        )
        .orderBy("ts", "rnk")
    )
