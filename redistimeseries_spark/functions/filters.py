"""Shared sample-validity + key/range pre-filter.

One definition of the rule every analytics operator applies before its
plan (NaN samples are invalid everywhere — isValueValid,
src/tsdb.c:380-386; key subset; inclusive [start, end] range) — was
verbatim-copied across smooth/resample/correlate until round 10."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from redistimeseries_spark import MAX_TS, MIN_TS


def _sql_str(s: str) -> str:
    # a quote, backslash or `$` (variable substitution) goes as UTF-8 hex,
    # which no parser setting reinterprets
    if any(c in s for c in "'\\$"):
        return f"CAST(X'{s.encode().hex()}' AS STRING)"
    return f"'{s}'"


def key_in(keys: list[str]) -> Column:
    """`key IN (<keys>)` as one SQL literal list, parsed once on the JVM
    (`Column.isin` costs one py4j round trip per key: 0.5 ms each)."""
    if not keys:
        return F.lit(False)
    return F.expr("key IN (" + ",".join(map(_sql_str, keys)) + ")")


def filter_valid_range(
    samples: DataFrame,
    keys: list[str] | str | None,
    start: int,
    end: int,
) -> DataFrame:
    df = samples.filter(~F.isnan("value"))
    if keys is not None:
        klist = [keys] if isinstance(keys, str) else list(keys)
        df = df.filter(key_in(klist))
    if start > MIN_TS:
        df = df.filter(F.col("ts") >= F.lit(start))
    if end < MAX_TS:
        df = df.filter(F.col("ts") <= F.lit(end))
    return df
