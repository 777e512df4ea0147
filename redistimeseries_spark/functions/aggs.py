"""The reference's 15 bucketed aggregators as Spark expressions.

Reference: src/compaction.c class tables (571-979).  Semantics replicated:
  * NaN samples never contribute except to count_nan / count_all
    (isValueValid, src/compaction.c:559-569).
  * Per-aggregator "finalizeEmpty" value, used when a bucket kept for other
    aggregators has no valid sample for this one (e.g. count_nan over a
    NaN-free bucket): 0 for sum/count-family, NaN otherwise
    (src/compaction.c agg class tables .finalizeEmpty).
  * var.s / std.s with n == 1 return 0, not NULL (src/compaction.c:503-516).
  * first/last = value at min/max timestamp among valid samples,
    direction-independent (src/compaction.c:787-808).
  * twa has no single-column builder: its per-bucket partials ride the
    same groupBy (operators/twa.twa_partials) and its value reads the
    neighbouring buckets (operators/twa.with_twa).

All outputs are double (the reference's only value type).  Everything here
is a built-in JVM expression, so bucketed aggregation runs inside
whole-stage codegen with map-side partial aggregation — the Spark-native
equivalent of the reference's SIMD kernels (src/compactions/*).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _valid(v: Column) -> Column:
    return v.isNotNull() & ~F.isnan(v)


def _vv(v: Column) -> Column:
    return F.when(_valid(v), v)


def _first(v, t):
    return F.min_by(v, F.when(_valid(v), t))


def _last(v, t):
    return F.max_by(v, F.when(_valid(v), t))


# name -> (spark_builder(value_col, ts_col) -> Column, finalize_empty_value)
AGGREGATORS: dict[str, tuple] = {
    "min": (lambda v, t: F.min(_vv(v)), float("nan")),
    "max": (lambda v, t: F.max(_vv(v)), float("nan")),
    "range": (lambda v, t: F.max(_vv(v)) - F.min(_vv(v)), float("nan")),
    "sum": (lambda v, t: F.coalesce(F.sum(_vv(v)), F.lit(0.0)), 0.0),
    "avg": (lambda v, t: F.avg(_vv(v)), float("nan")),
    "count": (lambda v, t: F.count(_vv(v)).cast("double"), 0.0),
    "count_nan": (
        lambda v, t: F.count(F.when(v.isNotNull() & F.isnan(v), 1)).cast("double"),
        0.0,
    ),
    "count_all": (lambda v, t: F.count(F.lit(1)).cast("double"), 0.0),
    "first": (_first, float("nan")),
    "last": (_last, float("nan")),
    "std.p": (lambda v, t: F.coalesce(F.stddev_pop(_vv(v)), F.lit(float("nan"))), float("nan")),
    "std.s": (lambda v, t: _samp(F.stddev_samp, v), float("nan")),
    "var.p": (lambda v, t: F.coalesce(F.var_pop(_vv(v)), F.lit(float("nan"))), float("nan")),
    "var.s": (lambda v, t: _samp(F.var_samp, v), float("nan")),
    "twa": (None, float("nan")),  # operators/twa.py
}


def _samp(fn, v):
    # n==1 -> 0 per reference (src/compaction.c:503-516); Spark returns NULL.
    # n==0 can't reach finalize (bucket dropped / finalizeEmpty applies).
    return F.when(F.count(_vv(v)) >= 1, F.coalesce(fn(_vv(v)), F.lit(0.0)))


def sanitize(agg: str) -> str:
    """Column-name-safe aggregator label ('std.p' -> 'std_p')."""
    return agg.replace(".", "_")


def percentile_frac(agg: str) -> float | None:
    """`p<number>` aggregator names ('p50', 'p99', 'p99.9') -> fraction in
    [0, 1], else None.  Beyond-reference extension: the reference's
    aggregator set (src/compaction.c) has no percentile; accepting the
    p-names everywhere aggregators are accepted gives range queries AND
    compaction rules continuous p99 downsampling for free (exact
    interpolation, quantile_cont parity — the oracle convention
    ts_bucket_percentiles established)."""
    import re

    m = re.fullmatch(r"p(\d+(?:\.\d+)?)", agg)
    if not m:
        return None
    pct = float(m.group(1))
    if not 0 <= pct <= 100:
        raise ValueError(f"percentile out of range: {agg}")
    return pct / 100.0


def is_valid_agg(agg: str) -> bool:
    return agg in AGGREGATORS or percentile_frac(agg) is not None


def agg_expr(agg: str, v: Column, t: Column, alias: str | None = None) -> Column:
    frac = percentile_frac(agg) if agg not in AGGREGATORS else None
    if frac is not None:
        return F.percentile(_vv(v), F.lit(frac)).alias(alias or sanitize(agg))
    builder, _ = AGGREGATORS[agg]
    if builder is None:
        raise ValueError(f"{agg} is not expressible as a groupBy aggregate")
    return builder(v, t).alias(alias or sanitize(agg))


def empty_value(agg: str) -> float:
    if agg not in AGGREGATORS and percentile_frac(agg) is not None:
        return float("nan")
    return AGGREGATORS[agg][1]


# ---- DuckDB oracle fragments (differential testing, SURVEY §5.2) ----------
# Same semantics expressed in ANSI-ish SQL DuckDB runs; value/ts column
# names are injected.  NaN-validity guards are kept even though the driver
# fixture has no NaNs, so these stay a faithful oracle for NaN tests.

def agg_sql(agg: str, v: str = "value", t: str = "ts") -> str:
    vv = f"CASE WHEN NOT isnan({v}) THEN {v} END"
    table = {
        "min": f"min({vv})",
        "max": f"max({vv})",
        "range": f"max({vv}) - min({vv})",
        "sum": f"coalesce(sum({vv}), 0.0)",
        "avg": f"avg({vv})",
        "count": f"CAST(count({vv}) AS DOUBLE)",
        "count_nan": f"CAST(count(CASE WHEN isnan({v}) THEN 1 END) AS DOUBLE)",
        "count_all": f"CAST(count(*) AS DOUBLE)",
        "first": f"min_by({v}, CASE WHEN NOT isnan({v}) THEN {t} END)",
        "last": f"max_by({v}, CASE WHEN NOT isnan({v}) THEN {t} END)",
        "std.p": f"stddev_pop({vv})",
        "std.s": f"CASE WHEN count({vv}) >= 1 THEN coalesce(stddev_samp({vv}), 0.0) END",
        "var.p": f"var_pop({vv})",
        "var.s": f"CASE WHEN count({vv}) >= 1 THEN coalesce(var_samp({vv}), 0.0) END",
    }
    if agg not in table:
        frac = percentile_frac(agg)
        if frac is not None:
            # Spark percentile == DuckDB quantile_cont (exact interpolation)
            return f"quantile_cont({vv}, {frac!r})"
    return table[agg]
