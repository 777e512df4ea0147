"""Shared sample-validity + key/range pre-filter.

One definition of the rule every analytics operator applies before its
plan (NaN samples are invalid everywhere — isValueValid,
src/tsdb.c:380-386; key subset; inclusive [start, end] range): the
TS.RANGE pre-filter and every operator's copy run `filter_key_range`."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from redistimeseries_spark import MAX_TS, MIN_TS


def sql_str(s: str | None) -> str:
    """A string literal in SQL text.  A quote, backslash or `$` (variable
    substitution) goes as UTF-8 hex, which no parser setting
    reinterprets."""
    if s is None:
        return "CAST(NULL AS STRING)"
    if any(c in s for c in "'\\$"):
        return f"CAST(X'{s.encode().hex()}' AS STRING)"
    return f"'{s}'"


def bigint_sql(v: int) -> str:
    """A BIGINT literal: the type of the table functions' integer
    parameters, so the operator's plan and the function's fold alike."""
    return f"{int(v)}L"


def double_sql(v: float) -> str:
    """A DOUBLE literal (a bare `1.5` is a DECIMAL in Spark SQL)."""
    return f"{float(v)!r}D"


def run_sql(text: str, src: DataFrame, **frags: str) -> DataFrame:
    """`text` over `src`: the `{src}` field names the frame, every other
    field takes its SQL fragment from `frags` (literals from `bigint_sql`
    / `double_sql`)."""
    return src.sparkSession.sql(text.format(src="{src}", **frags), src=src)


def key_sql(keys: list[str]) -> str:
    if not keys:
        return "false"
    if len(keys) == 1:
        return "key = " + sql_str(keys[0])
    return "key IN (" + ",".join(map(sql_str, keys)) + ")"


def key_runs_sql(runs: list[tuple[str, str]]) -> str:
    """The inclusive key runs (`operators/labels.key_runs`) as an OR of
    `key = k` / `key >= a AND key <= b`: forms the in-memory columnar
    scan prunes cached batches on, where it cannot on an `InSet`."""
    return " OR ".join(
        f"key = {sql_str(a)}" if a == b else f"(key >= {sql_str(a)} AND key <= {sql_str(b)})"
        for a, b in runs
    )


def key_in(keys: list[str]) -> Column:
    """`key IN (<keys>)` (`key = k` for one key) as one SQL text, parsed
    once on the JVM (`Column.isin` costs one py4j round trip per key:
    0.5 ms each)."""
    return F.expr(key_sql(keys))


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
        conds.append(key_sql([keys] if isinstance(keys, str) else list(keys)))
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
