"""Shared sample-validity + key/range pre-filter.

One definition of the rule every analytics operator applies before its
plan (NaN samples are invalid everywhere — isValueValid,
src/tsdb.c:380-386; key subset; inclusive [start, end] range): the
TS.RANGE pre-filter and every operator's copy run `filter_key_range`."""

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


def _key_sql(keys: list[str]) -> str:
    if not keys:
        return "false"
    if len(keys) == 1:
        return "key = " + _sql_str(keys[0])
    return "key IN (" + ",".join(map(_sql_str, keys)) + ")"


def key_in(keys: list[str]) -> Column:
    """`key IN (<keys>)` (`key = k` for one key) as one SQL text, parsed
    once on the JVM (`Column.isin` costs one py4j round trip per key:
    0.5 ms each)."""
    return F.expr(_key_sql(keys))


def filter_key_range(
    samples: DataFrame,
    keys: list[str] | str | None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    *,
    valid: bool = False,
) -> DataFrame:
    """`samples` restricted to `keys` (None: all), the inclusive
    [start, end] range and, with `valid`, non-NaN values — as ONE Filter
    node parsed from one SQL text: a Column per conjunct costs a py4j
    round trip each, and every extra `.filter` is analysed eagerly."""
    conds = []
    if keys is not None:
        conds.append(_key_sql([keys] if isinstance(keys, str) else list(keys)))
    if start > MIN_TS:
        conds.append(f"ts >= {int(start)}")
    if end < MAX_TS:
        conds.append(f"ts <= {int(end)}")
    if valid:
        conds.append("NOT isnan(value)")
    return samples.filter(" AND ".join(conds)) if conds else samples


def filter_valid_range(
    samples: DataFrame,
    keys: list[str] | str | None,
    start: int,
    end: int,
) -> DataFrame:
    return filter_key_range(samples, keys, start, end, valid=True)
