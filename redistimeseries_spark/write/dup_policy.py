"""Duplicate-policy resolution — the write-path "merge" operator.

Reference: handleDuplicateSample (src/generic_chunk.c:62-93):
  on (key, ts) collision — BLOCK -> error; FIRST -> keep old; LAST -> new;
  MIN/MAX -> extremum; SUM -> old+new.
  NaN rules: with exactly one NaN and policy MIN/MAX/SUM the *write is
  rejected* (stored value unchanged); for FIRST/LAST the non-NaN side wins
  regardless of policy; both-NaN keeps NaN.

Batch shape: the reference applies the policy pairwise at arrival order
(seq column, e.g. event_id — a distributed batch has no implicit order).
The pairwise fold collapses to one aggregate per group:
  FIRST / LAST  -> first/last NON-NaN arrival (NaN only if all are NaN)
  MIN/MAX/SUM   -> NaN if the FIRST arrival is NaN (every later mixed
                   merge is rejected, so the NaN sticks); otherwise the
                   aggregate over the non-NaN values (NaN arrivals after a
                   valid first are each rejected).

This is a single groupBy (one shuffle) with map-side partial aggregation;
at ingest scale it runs inside foreachBatch before a MERGE INTO the samples
table (SURVEY §2.8), so the expensive part — the upsert join — happens once
per micro-batch, not per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

POLICIES = ("block", "first", "last", "min", "max", "sum")


def resolve_duplicates(
    raw: DataFrame, policy: str = "last", seq_col: str = "seq"
) -> DataFrame:
    """Fold duplicate (key, ts) rows to one row per the policy.
    raw: (key, ts, value, <seq_col>).  Returns (key, ts, value).

    `block` rejects the colliding write in the reference; here the group
    folds to its first arrival and the later writes are dropped — the
    streaming store routes no error for them; `mutate.madd_status`
    classifies them as DUPLICATE where a per-write reply is needed.
    """
    policy = policy.lower()
    if policy not in POLICIES:
        raise ValueError(f"bad duplicate policy {policy!r}")
    g = raw.groupBy("key", "ts")
    v, s = F.col("value"), F.col(seq_col)
    valid_seq = F.when(~F.isnan(v), s)  # seq of non-NaN arrivals only
    nn = F.when(~F.isnan(v), v)
    nan = F.lit(float("nan"))
    first_is_nan = F.isnan(F.min_by(v, s))
    if policy == "first":
        out = g.agg(F.coalesce(F.min_by(v, valid_seq), nan).alias("value"))
    elif policy == "block":
        # collisions are rejected at ingest: the stored value is the first
        # arrival
        out = g.agg(F.min_by(v, s).alias("value"))
    elif policy == "last":
        out = g.agg(F.coalesce(F.max_by(v, valid_seq), nan).alias("value"))
    elif policy == "min":
        out = g.agg(F.when(first_is_nan, nan).otherwise(F.min(nn)).alias("value"))
    elif policy == "max":
        out = g.agg(F.when(first_is_nan, nan).otherwise(F.max(nn)).alias("value"))
    else:  # sum
        out = g.agg(F.when(first_is_nan, nan).otherwise(F.sum(nn)).alias("value"))
    return out.select("key", "ts", "value")


def merge_sample(old: float, new: float, policy: str) -> float:
    """ONE pairwise merge of a colliding write into the stored value —
    handleDuplicateSample (src/generic_chunk.c:62-93) verbatim, for the
    sequential fold of collision groups whose writes carry per-write
    ON_DUPLICATE overrides (src/module.c parses ON_DUPLICATE per TS.ADD;
    the override binds to the MERGING write, so a mixed-policy group is
    inherently arrival-ordered and cannot be a single aggregate).

    Folding a uniform-policy group with this function is equivalent to
    resolve_duplicates' aggregates (the docstring derivation above)."""
    import math

    policy = policy.lower()
    if policy not in POLICIES:
        raise ValueError(f"bad duplicate policy {policy!r}")
    onan, nnan = math.isnan(old), math.isnan(new)
    if policy == "block":
        return old  # the colliding write is rejected
    if policy == "first":
        return new if (onan and not nnan) else old
    if policy == "last":
        return old if (nnan and not onan) else new
    if onan or nnan:
        return old  # one-NaN merge rejected; both-NaN keeps NaN
    if policy == "min":
        return min(old, new)
    if policy == "max":
        return max(old, new)
    return old + new
