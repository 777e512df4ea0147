"""Counter rate / increase per time bucket — PromQL-style semantics.

Beyond-reference operator: the reference's aggregator set has nothing for
MONOTONE COUNTERS (request totals, bytes sent), where the meaningful
signal is the per-bucket increase with counter RESETS handled — a
restarted process restarts its counter at ~0, and a naive max-min or
last-first bucket aggregate reports a huge negative (or meaningless)
value at every restart.  Prometheus' rate()/increase() made the
reset-aware definition standard; this is the deterministic core of that
definition (no edge extrapolation — Prometheus' boundary heuristics are
estimation, not aggregation, and would break oracle exactness):

    increase(bucket) = sum over samples s in the bucket of
        s.value - prev.value   if s.value >= prev.value   (normal step)
        s.value                otherwise                  (reset: counter
                                                           restarted below
                                                           the previous
                                                           sample; the new
                                                           value is the
                                                           increase since)
    where prev is the key's immediately preceding valid sample
    (possibly in an earlier bucket); the key's first-ever sample has no
    prev and contributes nothing.

    rate(bucket) = increase(bucket) / (bucket_dur / 1000)   per second

Spark shape (skew-hardened, round 8): the bucketed members
(increase/rate/changes/resets) run their lag window BUCKET-LOCALLY —
partitioned by (key, bucket) instead of bare key — so ONE pathologically
hot series (billions of samples) parallelizes across its buckets instead
of serializing its entire history into a single task.  The cross-bucket
chain is restored WITHOUT a stitch join: the same (key, bucket) hash
aggregation that folds the local steps also keeps each bucket's LAST
valid value, and a second lag window over that aggregated frame — one
row per (key, bucket), orders of magnitude smaller than the samples —
hands every bucket its predecessor bucket's last value, which is exactly
the true previous sample of the bucket's first sample.  Semantics are
unchanged because only the one sample crossing each bucket edge matters
to the chain (the reference's per-bucket state machine,
src/filter_iterator.c:1489+, is inherently bucket-local for the same
reason).  Pure JVM expressions, no Python, and over the key-bucketed
layout (store.write_bucketed_layout) NEITHER window needs an exchange
(hash clustering on key satisfies both partition specs).  NaN samples
are invalid everywhere (isValueValid) and are skipped entirely: the
delta chain links the valid samples around them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from redistimeseries_spark import MAX_TS, MIN_TS
from redistimeseries_spark.functions.filters import (
    bigint_sql,
    filter_key_range,
    run_sql,
)
from redistimeseries_spark.functions.buckets import bucket_start, resolve_align


# The full-history chain of increase / rate / changes / resets (module
# docstring: bucket-local lag, aggregated-frame stitch), one text for the
# operators and their table functions.  `{src}` is the key- and
# NaN-filtered samples, `{dur}` / `{align}` the bucket grid and `{in_rng}`
# the range test; `_CHAIN` fills each member's step, sum type and output.
# The range cut happens INSIDE the aggregation, never before the local
# lag, so a range boundary mid-bucket still hands the first in-range
# sample its true same-bucket predecessor, and out-of-range buckets still
# carry their last value into the chain.  (ts, value) ordering resolves
# duplicate (key, ts) rows deterministically (the _last_pair / TWA rule).
# A bucket emits when an in-range sample has a predecessor: the rule of
# `_key_window_chain`, the differential reference.
_CHAIN_SQL = """
SELECT key, ts, {out} FROM (
  SELECT key, __b AS ts,
         coalesce(CAST(__s AS {typ}), CAST(0 AS {typ}))
         + coalesce(CAST(CASE WHEN __hf = 1 AND __pv IS NOT NULL
                              THEN {edge_step} END AS {typ}),
                    CAST(0 AS {typ})) AS __v
  FROM (
    SELECT key, __b, __s, __nl, __fv, __hf, __nin,
           lag(__lv) OVER (PARTITION BY key ORDER BY __b) AS __pv
    FROM (
      SELECT key, __b,
             sum(CASE WHEN __in AND __pl IS NOT NULL THEN {local_step} END)
               AS __s,
             count(CASE WHEN __in AND __pl IS NOT NULL THEN 1 END) AS __nl,
             max(CASE WHEN __in AND __pl IS NULL THEN value END) AS __fv,
             max(CAST(__in AND __pl IS NULL AS INT)) AS __hf,
             max_by(value, struct(ts, value)) AS __lv,
             sum(CAST(__in AS INT)) AS __nin
      FROM (
        SELECT key, __b, ts, value,
               lag(value) OVER (PARTITION BY key, __b ORDER BY ts, value)
                 AS __pl,
               {in_rng} AS __in
        FROM (SELECT key, ts, value, ts - pmod(ts - {align}, {dur}) AS __b
              FROM {src}))
      GROUP BY key, __b))
  WHERE __nin > 0
    AND __nl + CASE WHEN __hf = 1 AND __pv IS NOT NULL THEN 1 ELSE 0 END > 0)
"""

_INCREASE_STEP = "CASE WHEN {v} >= {p} THEN {v} - {p} ELSE {v} END"
# member: (step(v, p) against the previous valid sample, sum type, output)
_CHAIN = {
    "increase": (_INCREASE_STEP, "DOUBLE", "__v AS increase"),
    "rate": (_INCREASE_STEP, "DOUBLE", "__v / ({dur} / 1000.0D) AS rate"),
    "changes": ("CAST({v} <> {p} AS INT)", "BIGINT", "__v AS changes"),
    "resets": ("CAST({v} < {p} AS INT)", "BIGINT", "__v AS resets"),
}


def chain_sql(member: str) -> str:
    """The `_CHAIN_SQL` text of one family member; `{src}`, `{dur}`,
    `{align}` and `{in_rng}` stay fields."""
    step, typ, out = _CHAIN[member]
    frags = {
        "local_step": step.format(v="value", p="__pl"),
        "edge_step": step.format(v="__fv", p="__pv"),
        "typ": typ,
        "out": out,
    }
    text = _CHAIN_SQL
    for name, frag in frags.items():
        text = text.replace("{" + name + "}", frag)
    return text


def _chain(samples, member, bucket_dur, keys, start, end, align):
    if bucket_dur <= 0:
        raise ValueError("bucket_dur must be positive")
    in_rng = ["true"]
    if start > MIN_TS:
        in_rng.append(f"ts >= {bigint_sql(start)}")
    if end < MAX_TS:
        in_rng.append(f"ts <= {bigint_sql(end)}")
    return run_sql(
        chain_sql(member),
        filter_key_range(samples, keys, valid=True),
        dur=bigint_sql(bucket_dur),
        align=bigint_sql(resolve_align(align, start, end)),
        in_rng=" AND ".join(in_rng),
    ).orderBy("key", "ts")


def _increase_step(v, p):
    """Reset-aware counter step: normal delta, or the new value itself
    after a reset (counter restarted below the previous sample)."""
    return F.when(v >= p, v - p).otherwise(v)


def ts_increase(
    samples: DataFrame,
    bucket_dur: int,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    align="0",
    per_second: bool = False,
) -> DataFrame:
    """(key, ts, increase | rate) — reset-aware counter increase per
    (key, bucket); ts is the bucket start.  Buckets whose samples are all
    first-in-series (no prev) or all-NaN are not emitted.

    The chain runs over the FULL per-key history before the time-range
    cut, so a bucket boundary never fabricates a reset: the first sample
    in the range still sees its true predecessor.  Skew-safe plan: see
    `_CHAIN_SQL` (bucket-local lag + aggregated-frame stitch; no task
    ever holds more than one bucket of one series)."""
    member = "rate" if per_second else "increase"
    return _chain(samples, member, bucket_dur, keys, start, end, align)


def _key_window_chain(
    samples: DataFrame,
    bucket_dur: int,
    step_fn,
    keys: list[str] | str | None,
    start: int,
    end: int,
    align,
) -> DataFrame:
    """The pre-round-8 plan — ONE lag window over bare (key, ts) then one
    (key, bucket) aggregation.  Kept as the DIFFERENTIAL REFERENCE for
    the skew-safe `_CHAIN_SQL` plan (fuzz-pinned equal to ts_increase,
    ts_changes and ts_resets in tests/test_aggs_nan.py) and as the comparison arm of the hot-series
    probe (scripts/hot_series_probe.py; BASELINE.md): semantically
    identical, but a single hot series serializes its full history into
    one task here."""
    if bucket_dur <= 0:
        raise ValueError("bucket_dur must be positive")
    df = filter_key_range(samples, keys, valid=True)
    w = Window.partitionBy("key").orderBy("ts")
    prev = F.lag("value").over(w)
    step = F.when(prev.isNull(), F.lit(None)).otherwise(
        step_fn(F.col("value"), prev)
    )
    align_ts = resolve_align(align, start, end)
    d = df.select(
        "key",
        "ts",
        step.alias("__step"),
        bucket_start(F.col("ts"), bucket_dur, align_ts).alias("__b"),
    )
    d = filter_key_range(d, None, start, end)
    return (
        d.groupBy("key", "__b")
        .agg(F.sum("__step").alias("__v"), F.count("__step").alias("__n"))
        .filter(F.col("__n") > 0)
        .select("key", F.col("__b").alias("ts"), "__v")
    )


def ts_rate(
    samples: DataFrame,
    bucket_dur: int,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    align="0",
) -> DataFrame:
    """(key, ts, rate) — per-second reset-aware counter rate per bucket."""
    return ts_increase(
        samples, bucket_dur, keys, start, end, align, per_second=True
    )


def ts_deriv(
    samples: DataFrame,
    bucket_dur: int,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    align="0",
) -> DataFrame:
    """(key, ts, slope) — per-(key, bucket) least-squares slope of value
    over time, in value-units per SECOND; ts is the bucket start.  The
    gauge-trend companion to ts_increase (PromQL's deriv() made
    per-window simple linear regression the standard trend signal; the
    reference's aggregator set, src/compaction.c, has nothing for it).

    Buckets that cannot define a slope — fewer than two valid samples,
    or all samples at one timestamp — are not emitted (regr_slope is
    NULL there; the nv-rule analogue).  NaN samples are invalid
    everywhere (isValueValid) and are dropped first.

    Spark shape: ONE projection + ONE (key, bucket) hash aggregation
    (partial/final regr_slope), no window, no Python — cheaper than the
    TWA plan.  The regression abscissa is centered per bucket
    ((ts - bucket_start) / 1000) so the moment sums stay at
    bucket-width magnitude instead of epoch-millisecond magnitude —
    slope is shift-invariant, the floating-point moments are not."""
    if bucket_dur <= 0:
        raise ValueError("bucket_dur must be positive")
    return _bucketed(
        DERIV_SQL, samples, bucket_dur, keys, start, end, align
    ).orderBy("key", "ts")


# per-(key, bucket) least squares on the bucket-centered abscissa; ts_deriv
# keeps the slope, ts_predict_linear the line's value past the bucket end
DERIV_SQL = """
SELECT key, __b AS ts, slope FROM (
  SELECT key, __b, regr_slope(value, __x) AS slope
  FROM (SELECT key, ts - pmod(ts - {align}, {dur}) AS __b,
               (ts - (ts - pmod(ts - {align}, {dur}))) / 1000.0D AS __x, value
        FROM {src})
  GROUP BY key, __b)
WHERE slope IS NOT NULL
"""

PREDICT_LINEAR_SQL = """
SELECT key, __b AS ts, __c + __m * (({dur} + {horizon}) / 1000.0D) AS predicted
FROM (
  SELECT key, __b, regr_slope(value, __x) AS __m,
         regr_intercept(value, __x) AS __c
  FROM (SELECT key, ts - pmod(ts - {align}, {dur}) AS __b,
               (ts - (ts - pmod(ts - {align}, {dur}))) / 1000.0D AS __x, value
        FROM {src})
  GROUP BY key, __b)
WHERE __m IS NOT NULL
"""


def _bucketed(text, samples, bucket_dur, keys, start, end, align, **frags):
    """`text` over the valid in-range samples on the (dur, align) grid."""
    return run_sql(
        text,
        filter_key_range(samples, keys, start, end, valid=True),
        dur=bigint_sql(bucket_dur),
        align=bigint_sql(resolve_align(align, start, end)),
        **frags,
    )


def ts_changes(
    samples: DataFrame,
    bucket_dur: int,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    align="0",
) -> DataFrame:
    """(key, ts, changes) — how many times the value CHANGED between
    consecutive valid samples, per (key, bucket); ts is the bucket start
    (the deterministic per-bucket form of PromQL changes(), the
    liveness/flappiness signal for gauges that encode state).  A sample
    counts as a change when its value differs from the key's immediately
    preceding valid sample (possibly in an earlier bucket — the chain is
    full-history, so bucket boundaries never fabricate or swallow a
    change).  NaN samples are invalid everywhere (isValueValid,
    src/tsdb.c) and are skipped; first-ever samples have no predecessor
    and contribute nothing.  Buckets where no sample has a predecessor
    are not emitted; buckets whose samples all repeat the previous value
    emit changes = 0."""
    return _chain(samples, "changes", bucket_dur, keys, start, end, align)


def ts_resets(
    samples: DataFrame,
    bucket_dur: int,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    align="0",
) -> DataFrame:
    """(key, ts, resets) — counter-reset count per (key, bucket): samples
    whose value DROPPED below the key's previous valid sample (PromQL
    resets(); the restart/crash counter for monotone counters, and the
    audit companion to ts_increase's reset-aware sum).  Chain, NaN, and
    emission semantics are exactly ts_changes' (full-history lag; emit
    when any sample has a predecessor, count may be 0)."""
    return _chain(samples, "resets", bucket_dur, keys, start, end, align)


def ts_predict_linear(
    samples: DataFrame,
    bucket_dur: int,
    horizon_ms: int,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    align="0",
) -> DataFrame:
    """(key, ts, predicted) — least-squares extrapolation per
    (key, bucket): the fitted line's value `horizon_ms` AFTER THE BUCKET
    END (PromQL predict_linear(), the disk-full/quota-breach
    forecasting primitive; ts is the bucket start).  Exactly ts_deriv's
    fit — same centered abscissa ((ts - bucket_start)/1000 seconds, so
    the float moment sums stay at bucket-width magnitude) with the
    intercept kept:

        predicted = intercept + slope * (bucket_dur + horizon_ms)/1000

    Buckets that cannot define a line (fewer than two valid samples, or
    all samples at one timestamp) are not emitted, the ts_deriv rule.
    NaN samples are invalid everywhere and are dropped first.

    Spark shape: ONE projection + ONE (key, bucket) hash aggregation
    (partial/final regr_slope + regr_intercept) — no window, no Python,
    no second pass for the intercept."""
    if bucket_dur <= 0:
        raise ValueError("bucket_dur must be positive")
    if horizon_ms < 0:
        raise ValueError("horizon_ms must be non-negative")
    return _bucketed(
        PREDICT_LINEAR_SQL, samples, bucket_dur, keys, start, end, align,
        horizon=bigint_sql(horizon_ms),
    ).orderBy("key", "ts")


def ts_gaps(
    samples: DataFrame,
    min_gap_ms: int,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
) -> DataFrame:
    """(key, gap_start, gap_end, gap_ms) — sampling gaps longer than
    `min_gap_ms` per series: every consecutive-sample interval whose
    span exceeds the threshold (gap_start/gap_end are the bracketing
    sample timestamps).  The missing-data report an SLO/ops review runs;
    the reference's INFO exposes only totalSamples, not where the holes
    are.

    Skew-safe plan (the _CHAIN_SQL discipline on a ROW-LEVEL output):
    the lag runs chunk-locally — partitioned by (key, ~4.7h time chunk)
    — and the one consecutive pair that crosses each chunk edge is
    recovered from a per-(key, chunk) min/max aggregation stitched by a
    lag over the tiny aggregated frame; the two branches union.  Pure
    JVM, no Python.  NaN samples still COUNT as samples here (the
    device reported, the value was bad — that is not a collection
    gap)."""
    if min_gap_ms <= 0:
        raise ValueError("min_gap_ms must be positive")
    df = filter_key_range(samples, keys, start, end)
    chunk = (F.col("ts") - F.pmod(F.col("ts"), F.lit(_LAST_PAIR_CHUNK_MS)))
    wloc = Window.partitionBy("key", chunk).orderBy("ts")
    local = df.select(
        "key",
        F.lag("ts").over(wloc).alias("gap_start"),
        F.col("ts").alias("gap_end"),
    ).filter(F.col("gap_start").isNotNull())
    edges = (
        df.select("key", chunk.alias("__c"), "ts")
        .groupBy("key", "__c")
        .agg(F.min("ts").alias("__first"), F.max("ts").alias("__last"))
    )
    wk = Window.partitionBy("key").orderBy("__c")
    boundary = (
        edges.select(
            "key",
            F.lag("__last").over(wk).alias("gap_start"),
            F.col("__first").alias("gap_end"),
        )
        .filter(F.col("gap_start").isNotNull())
    )
    return (
        local.unionByName(boundary)
        .filter(F.col("gap_end") - F.col("gap_start") > min_gap_ms)
        .select(
            "key",
            "gap_start",
            "gap_end",
            (F.col("gap_end") - F.col("gap_start")).alias("gap_ms"),
        )
        .orderBy("key", "gap_start")
    )


def ts_delta(
    samples: DataFrame,
    bucket_dur: int,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    align="0",
) -> DataFrame:
    """(key, ts, delta) — last valid value minus first valid value per
    (key, bucket); ts is the bucket start (the deterministic per-bucket
    core of PromQL delta(), the gauge-difference companion to
    ts_increase — NOT reset-aware: gauges go down legitimately.  PromQL's
    boundary extrapolation is estimation and would break oracle
    exactness, the ts_increase precedent).  Buckets with fewer than two
    valid samples are not emitted (no difference is defined — PromQL's
    two-point minimum); NaN samples are invalid everywhere and are
    dropped first.

    Spark shape: ONE projection + ONE (key, bucket) hash aggregation
    (max_by/min_by partial/final) — no window at all, the cheapest plan
    class in the family (value_hist's)."""
    if bucket_dur <= 0:
        raise ValueError("bucket_dur must be positive")
    return _bucketed(
        DELTA_SQL, samples, bucket_dur, keys, start, end, align
    ).orderBy("key", "ts")


# Deterministic on duplicate-(key, ts) rows: the (ts, value) last-wins rule
# makes the MAX-value duplicate the effective sample at any ts, so both
# endpoints order by (ts, value desc-for-first / asc-for-last) instead of
# bare ts; the two-sample minimum counts EFFECTIVE samples (distinct ts).
DELTA_SQL = """
SELECT key, __b AS ts, delta FROM (
  SELECT key, __b,
         max_by(value, struct(ts, value))
           - min_by(value, struct(ts, -value AS v)) AS delta,
         count(DISTINCT ts) AS __n
  FROM (SELECT key, ts - pmod(ts - {align}, {dur}) AS __b, ts, value
        FROM {src})
  GROUP BY key, __b)
WHERE __n >= 2
"""


def ts_idelta(
    samples: DataFrame,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
) -> DataFrame:
    """(key, ts, idelta) — difference between the LAST TWO valid samples
    of the range per key, reported at the last sample's ts (PromQL
    idelta: the spot gauge movement; ts_irate's non-reset-aware gauge
    sibling).  Keys with fewer than two valid samples emit nothing.
    Same plan as ts_irate: one lag window + one per-key keep-last
    filter, exchange-free over the bucketed layout.

    Duplicate (key, ts) rows — legal in the RAW sample table; the
    dup-policy operators exist to resolve them before analysis — are
    ordered deterministically by (ts, value), and exactly ONE row per
    key is emitted (the largest value at the max ts; its predecessor is
    the prior row in the same order).  Unique-(key, ts) inputs (the
    engine store's invariant) are unaffected."""
    return _last_pair(samples, "idelta", keys, start, end)


# internal chunk for the keep-last-two prune (~4.7 h of millis): any
# fixed chunk works — parallelism grows with a hot series' time span,
# the axis a time series actually grows along
_LAST_PAIR_CHUNK_MS = 1 << 24


def last_pair_sql(member: str) -> str:
    """The ts_idelta / ts_irate text: per key, the single deterministic
    LAST valid in-range sample and its predecessor (`__pv` value, `__pt`
    ts) under `{src}`, mapped to the member's output.

    Skew-safe in two stages (the _CHAIN_SQL discipline applied to a
    keep-last-two): a (key, time-chunk)-partitioned top-2 prune first —
    the global last two samples ALWAYS survive it, because the global #1
    is its chunk's #1 and the global #2 is either the same chunk's #2 or
    an earlier chunk's #1 — then the exact lag + keep-last runs on the
    surviving <=2 rows per (key, chunk), a frame orders of magnitude
    smaller than the samples.  A hot series therefore parallelizes
    across its time span instead of sorting its whole history in one
    task.  Ordering is (ts, value) everywhere — the deterministic
    duplicate-timestamp rule both TVF and oracle share.  Keys with <2
    valid samples drop out via the __pv null filter."""
    cond, out = _LAST_PAIR[member]
    return _LAST_PAIR_SQL.replace("{cond}", cond).replace("{out}", out)


_LAST_PAIR_SQL = f"""
SELECT key, ts, {{out}} FROM (
  SELECT key, ts, value,
         lag(value) OVER (PARTITION BY key ORDER BY ts, value) AS __pv,
         lag(ts) OVER (PARTITION BY key ORDER BY ts, value) AS __pt,
         row_number() OVER (PARTITION BY key ORDER BY ts, value) AS __rn,
         count(1) OVER (PARTITION BY key ORDER BY ts, value ROWS BETWEEN
                        UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS __n
  FROM (
    SELECT key, ts, value FROM (
      SELECT key, ts, value,
             row_number() OVER (
               PARTITION BY key, ts - pmod(ts, {_LAST_PAIR_CHUNK_MS})
               ORDER BY ts DESC, value DESC) AS __cr
      FROM {{src}})
    WHERE __cr <= 2))
WHERE __rn = __n AND __pv IS NOT NULL{{cond}}
"""

# member: (extra keep condition, output column); a last pair with zero
# time span defines no rate
_LAST_PAIR = {
    "idelta": ("", "value - __pv AS idelta"),
    "irate": (
        " AND ts > __pt",
        f"{_INCREASE_STEP.format(v='value', p='__pv')}"
        " / ((ts - __pt) / 1000.0D) AS irate",
    ),
}


def _last_pair(samples, member, keys, start, end):
    return run_sql(
        last_pair_sql(member),
        filter_key_range(samples, keys, start, end, valid=True),
    ).orderBy("key")


def ts_irate(
    samples: DataFrame,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
) -> DataFrame:
    """(key, ts, irate) — instantaneous per-second rate from the LAST TWO
    valid samples of the range per key (PromQL irate: the spot rate a
    dashboard's "current QPS" tile wants, where ts_rate would average the
    whole bucket).  Reset-aware like ts_increase: a drop means the
    counter restarted and the new value IS the increase.  Keys with
    fewer than two valid samples in range emit nothing.

    One lag window + one per-key keep-last filter, pure JVM — and over
    the bucketed layout the window needs no exchange, like every
    operator in this family.  Duplicate (key, ts) rows order
    deterministically by (ts, value) — ts_idelta's rule — and a
    last-pair with ZERO time span (both samples at the max ts) defines
    no rate and is not emitted."""
    return _last_pair(samples, "irate", keys, start, end)
