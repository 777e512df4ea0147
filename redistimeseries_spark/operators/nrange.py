"""TS.NRANGE / TS.NREVRANGE — multi-key pivoted range query.

Reference: src/module.c:724-906, merge+pivot src/reply.c:381-473.
Explicit key list; optional per-key (multi-)aggregation specs sharing one
bucket duration; output is one row per distinct timestamp with one value
column per (key, aggregator), NaN-filled where a key lacks that timestamp
(src/reply.c:414-460).

Spark shape — one pass: `range_query.bucket_aggregate`, the stage
TS.RANGE runs, over the key list and the UNION of all keys' aggregators
(one scan, one (key, bucket) aggregation, whatever the number of keys or
distinct specs — twa and EMPTY included), then each key's own emission
rule, each key's COUNT, a map-side explode to (ts, column, value) pairs
restricted to each key's requested aggregators, and groupBy(ts).pivot
with the known column list (no pivot-value inference job).

Per-key emission: the union's rule is the widest of the keys' rules
(`range_query.emission_rule`), and on a row a key's own rule keeps, the
widened finalizers are identities — LOCF `last` is the bucket's own last
valid value whenever it holds a valid sample, and finalizeEmpty never
fires.  So only the emission PREDICATE varies per key: `emission_rule`
over the key's own aggregators, with a `count` column (added to the
union when it holds a count class) standing in for the valid-sample
count.  Under EMPTY every key emits every bucket of its span, so no
per-key filter runs and no `count` is added.  Parity with a per-key `ts_range` is pinned in
tests/test_nrange_shared_stage.py and against DuckDB in
tests/test_fuzz_nrange_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from redistimeseries_spark import MAX_TS, MIN_TS
from redistimeseries_spark.functions.aggs import sanitize
from redistimeseries_spark.functions.buckets import report_ts
from redistimeseries_spark.functions.filters import key_in
from redistimeseries_spark.operators.range_query import (
    COUNT_CLASSES,
    bucket_aggregate,
    emission_rule,
    ts_range,
)


def ts_nrange(
    samples: DataFrame,
    keys: list[str],
    start: int = MIN_TS,
    end: int = MAX_TS,
    *,
    agg_specs: dict[str, list[str]] | None = None,
    bucket_dur: int | None = None,
    rev: bool = False,
    **range_kwargs,
) -> DataFrame:
    """agg_specs: per-key aggregator lists, e.g. {"k1": ["min","max"],
    "k2": ["avg"]} (reference: one comma-list per key, shared bucket —
    src/query_language.c:347-373).  None = raw samples.

    Returns (ts, <key>_<agg>... | <key>...) with NaN fill.
    """
    if agg_specs is None:
        out = ts_range(samples, start, end, keys=keys, rev=rev, **range_kwargs)
        wide = (
            out.groupBy("ts")
            .pivot("key", keys)
            .agg(F.first("value"))
        )
        value_cols = keys
    else:
        if bucket_dur is None:
            raise ValueError("agg_specs requires bucket_dur")
        value_cols = [
            f"{k}_{sanitize(a)}" for k in keys for a in agg_specs[k]
        ]
        long_df = _stacked(
            samples, keys, start, end, agg_specs, bucket_dur, rev,
            **range_kwargs,
        )
        wide = (
            long_df.groupBy("ts").pivot("__col", value_cols).agg(F.first("__v"))
        )

    nan = F.lit(float("nan"))
    wide = wide.select(
        "ts", *[F.coalesce(F.col(f"`{c}`"), nan).alias(c) for c in value_cols]
    )
    return wide.orderBy(F.col("ts").desc() if rev else F.col("ts").asc())


def _stacked(
    samples, keys, start, end, agg_specs, bucket_dur, rev,
    align="0", bucket_ts="-", count=None, empty=False, **filters,
) -> DataFrame:
    """(ts, __col, __v) long rows: one `bucket_aggregate` over the union
    of the keys' aggregators, then each key's emission rule and COUNT."""
    union = list(dict.fromkeys(a for k in keys for a in agg_specs[k]))
    # under EMPTY every key emits its whole bucket span: no per-key rule
    per_key = bool(set(COUNT_CLASSES) & set(union)) and not empty
    if per_key and "count" not in union:
        union.append("count")  # the valid-sample count of emission_rule
    out = bucket_aggregate(
        samples, union, bucket_dur, align, start, end, keys,
        empty=empty, **filters,
    )
    if per_key:
        by_spec: dict[frozenset, list[str]] = {}
        for k in keys:
            by_spec.setdefault(frozenset(agg_specs[k]), []).append(k)
        pred = F.lit(False)
        for spec, spec_keys in by_spec.items():
            own = emission_rule(spec, F.col("count"))
            pred = F.when(
                key_in(spec_keys),
                F.lit(True) if own is None else own,
            ).otherwise(pred)
        out = out.filter(pred)

    out = out.withColumn("ts", report_ts(F.col("__bucket"), bucket_dur, bucket_ts))
    if count is not None:
        order = F.col("ts").desc() if rev else F.col("ts").asc()
        wc = Window.partitionBy("key").orderBy(order)
        out = (
            out.withColumn("__rn", F.row_number().over(wc))
            .filter(F.col("__rn") <= count)
            .drop("__rn")
        )

    # stack only each key's requested (agg -> column) pairs, map-side
    branch = None
    for k in keys:
        arr = F.array(
            *[
                F.struct(
                    F.lit(f"{k}_{sanitize(a)}").alias("c"),
                    F.col(sanitize(a)).alias("v"),
                )
                for a in agg_specs[k]
            ]
        )
        branch = (
            F.when(F.col("key") == k, arr)
            if branch is None
            else branch.when(F.col("key") == k, arr)
        )
    return out.select("ts", F.explode(branch).alias("__p")).select(
        "ts", F.col("__p.c").alias("__col"), F.col("__p.v").alias("__v")
    )
