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
from redistimeseries_spark.functions.filters import filter_key_range
from redistimeseries_spark.functions.buckets import bucket_start, resolve_align


def _bucket_chain(
    samples: DataFrame,
    bucket_dur: int,
    step_fn,
    keys: list[str] | str | None,
    start: int,
    end: int,
    align,
    sum_type: str,
) -> DataFrame:
    """Shared skew-safe core of the full-history chain family
    (increase/rate/changes/resets): `step_fn(value, prev) -> Column` maps
    a valid sample and its previous valid sample to the per-step
    contribution (a double step for increase, a 0/1 event indicator for
    changes/resets).  Returns (key, ts=bucket_start, __v) where __v sums
    the in-range steps whose predecessor exists, cast to `sum_type`;
    buckets with no in-range sample, or where no in-range sample has a
    predecessor, are not emitted — exactly the key-window twin's rule
    (`_key_window_chain`, the differential reference these plans are
    fuzz-pinned against).

    The time-range cut happens INSIDE the aggregation (conditional
    aggregates over the unfiltered bucket rows), never before the local
    lag, so a range boundary mid-bucket still hands the first in-range
    sample its true same-bucket predecessor, and out-of-range buckets
    still carry their last value into the cross-bucket chain — the
    "lag runs over the FULL per-key history" contract."""
    if bucket_dur <= 0:
        raise ValueError("bucket_dur must be positive")
    df = filter_key_range(samples, keys, valid=True)
    align_ts = resolve_align(align, start, end)
    b = bucket_start(F.col("ts"), bucket_dur, align_ts)
    # (ts, value) ordering: duplicate (key, ts) rows — legal in the RAW
    # sample table — resolve deterministically (the _last_pair / TWA
    # rule), so the local lag, the bucket-first pick and the
    # cross-bucket carry below all agree across retries and engines
    wloc = Window.partitionBy("key", "__b").orderBy("ts", "value")
    in_rng = F.lit(True)
    if start > MIN_TS:
        in_rng = in_rng & (F.col("ts") >= F.lit(start))
    if end < MAX_TS:
        in_rng = in_rng & (F.col("ts") <= F.lit(end))
    d = (
        df.select("key", "ts", "value", b.alias("__b"))
        .select(
            "key",
            "__b",
            "ts",
            "value",
            F.lag("value").over(wloc).alias("__pl"),
            in_rng.alias("__in"),
        )
    )
    has_local = F.col("__in") & F.col("__pl").isNotNull()
    is_first = F.col("__in") & F.col("__pl").isNull()
    agg = d.groupBy("key", "__b").agg(
        # in-range samples with a same-bucket predecessor: fold locally
        F.sum(F.when(has_local, step_fn(F.col("value"), F.col("__pl")))).alias(
            "__s"
        ),
        F.count(F.when(has_local, F.lit(1))).alias("__nl"),
        # the bucket's (unique) first sample, if it is in range — its
        # predecessor lives in an earlier bucket and is patched below
        F.max(F.when(is_first, F.col("value"))).alias("__fv"),
        F.max(is_first.cast("int")).alias("__hf"),
        # the bucket's last valid value: what the NEXT bucket chains to
        # (max over the (ts, value) struct = the window order's last row,
        # deterministic under duplicate timestamps)
        F.max_by("value", F.struct("ts", "value")).alias("__lv"),
        F.sum(F.col("__in").cast("int")).alias("__nin"),
    )
    # tiny frame: one row per (key, bucket).  lag hands each bucket the
    # previous NON-EMPTY bucket's last value = the true predecessor of
    # this bucket's first sample.
    wk = Window.partitionBy("key").orderBy("__b")
    stitched = agg.select(
        "key", "__b", "__s", "__nl", "__fv", "__hf", "__nin",
        F.lag("__lv").over(wk).alias("__pv"),
    )
    edge = (F.col("__hf") == 1) & F.col("__pv").isNotNull()
    zero = F.lit(0).cast(sum_type)
    total = (
        F.coalesce(F.col("__s").cast(sum_type), zero)
        + F.coalesce(
            F.when(edge, step_fn(F.col("__fv"), F.col("__pv"))).cast(sum_type),
            zero,
        )
    )
    n_steps = F.col("__nl") + F.when(edge, F.lit(1)).otherwise(F.lit(0))
    return (
        stitched.filter((F.col("__nin") > 0) & (n_steps > 0))
        .select("key", F.col("__b").alias("ts"), total.alias("__v"))
    )


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
    `_bucket_chain` (bucket-local lag + aggregated-frame stitch; no task
    ever holds more than one bucket of one series)."""
    out = _bucket_chain(
        samples, bucket_dur, _increase_step, keys, start, end, align, "double"
    )
    val = (
        (F.col("__v") / F.lit(bucket_dur / 1000.0)).alias("rate")
        if per_second
        else F.col("__v").alias("increase")
    )
    return out.select("key", "ts", val).orderBy("key", "ts")


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
    the skew-safe `_bucket_chain` (fuzz-pinned equal in
    tests/test_aggs_nan.py) and as the comparison arm of the hot-series
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
    df = filter_key_range(samples, keys, start, end, valid=True)
    align_ts = resolve_align(align, start, end)
    b = bucket_start(F.col("ts"), bucket_dur, align_ts)
    d = df.select(
        "key",
        b.alias("__b"),
        ((F.col("ts") - b) / F.lit(1000.0)).alias("__x"),
        "value",
    )
    return (
        d.groupBy("key", "__b")
        .agg(F.regr_slope("value", "__x").alias("slope"))
        .filter(F.col("slope").isNotNull())
        .select("key", F.col("__b").alias("ts"), "slope")
        .orderBy("key", "ts")
    )


def _event_counts(
    samples: DataFrame,
    bucket_dur: int,
    event,
    keys: list[str] | str | None,
    start: int,
    end: int,
    align,
    out_col: str,
) -> DataFrame:
    """Shared core for ts_changes / ts_resets: an event indicator against
    the previous valid sample, folded per (key, bucket) — the ts_increase
    chain exactly, on the same skew-safe bucket-local plan
    (`_bucket_chain`).  `event` maps (value, prev) -> boolean Column.
    Buckets emit when at least one in-range sample HAS a predecessor (the
    event count may then be 0); first-ever samples contribute nothing,
    mirroring ts_increase."""
    out = _bucket_chain(
        samples,
        bucket_dur,
        lambda v, p: event(v, p).cast("int"),
        keys,
        start,
        end,
        align,
        "bigint",
    )
    return out.select("key", "ts", F.col("__v").alias(out_col)).orderBy(
        "key", "ts"
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
    return _event_counts(
        samples,
        bucket_dur,
        lambda v, p: v != p,
        keys,
        start,
        end,
        align,
        "changes",
    )


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
    return _event_counts(
        samples,
        bucket_dur,
        lambda v, p: v < p,
        keys,
        start,
        end,
        align,
        "resets",
    )


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
    df = filter_key_range(samples, keys, start, end, valid=True)
    align_ts = resolve_align(align, start, end)
    b = bucket_start(F.col("ts"), bucket_dur, align_ts)
    d = df.select(
        "key",
        b.alias("__b"),
        ((F.col("ts") - b) / F.lit(1000.0)).alias("__x"),
        "value",
    )
    xp = F.lit((bucket_dur + horizon_ms) / 1000.0)
    return (
        d.groupBy("key", "__b")
        .agg(
            F.regr_slope("value", "__x").alias("__m"),
            F.regr_intercept("value", "__x").alias("__c"),
        )
        .filter(F.col("__m").isNotNull())
        .select(
            "key",
            F.col("__b").alias("ts"),
            (F.col("__c") + F.col("__m") * xp).alias("predicted"),
        )
        .orderBy("key", "ts")
    )


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

    Skew-safe plan (the _bucket_chain discipline on a ROW-LEVEL output):
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
    df = filter_key_range(samples, keys, start, end, valid=True)
    align_ts = resolve_align(align, start, end)
    b = bucket_start(F.col("ts"), bucket_dur, align_ts)
    return (
        df.select("key", b.alias("__b"), "ts", "value")
        .groupBy("key", "__b")
        .agg(
            # deterministic on duplicate-(key, ts) rows: the (ts, value)
            # last-wins rule makes the MAX-value duplicate the effective
            # sample at any ts, so both endpoints order by (ts, value
            # desc-for-first / asc-for-last) instead of bare ts
            (
                F.max_by("value", F.struct("ts", "value"))
                - F.min_by(
                    "value", F.struct(F.col("ts"), (-F.col("value")).alias("v"))
                )
            ).alias("delta"),
            # the two-sample minimum counts EFFECTIVE samples: a bucket
            # holding only duplicates of one ts is one sample under the
            # last-wins rule, so no difference is defined there either
            F.countDistinct("ts").alias("__n"),
        )
        .filter(F.col("__n") >= 2)
        .select("key", F.col("__b").alias("ts"), "delta")
        .orderBy("key", "ts")
    )


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
    return _last_pair(samples, keys, start, end).select(
        "key",
        "ts",
        (F.col("value") - F.col("__pv")).alias("idelta"),
    ).orderBy("key")


# internal chunk for the keep-last-two prune (~4.7 h of millis): any
# fixed chunk works — parallelism grows with a hot series' time span,
# the axis a time series actually grows along
_LAST_PAIR_CHUNK_MS = 1 << 24


def _last_pair(
    samples: DataFrame,
    keys: list[str] | str | None,
    start: int,
    end: int,
) -> DataFrame:
    """Shared ts_idelta / ts_irate core: per key, the single
    deterministic LAST valid in-range sample and its predecessor —
    (key, ts, value, __pv, __pt).

    Skew-safe in two stages (the _bucket_chain discipline applied to a
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
    df = filter_key_range(samples, keys, start, end, valid=True)
    wc = Window.partitionBy(
        "key", (F.col("ts") - F.pmod(F.col("ts"), F.lit(_LAST_PAIR_CHUNK_MS)))
    ).orderBy(F.col("ts").desc(), F.col("value").desc())
    pruned = (
        df.select(
            "key", "ts", "value", F.row_number().over(wc).alias("__cr")
        )
        .filter(F.col("__cr") <= 2)
        .drop("__cr")
    )
    w = Window.partitionBy("key").orderBy("ts", "value")
    wn = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    d = pruned.select(
        "key",
        "ts",
        "value",
        F.lag("value").over(w).alias("__pv"),
        F.lag("ts").over(w).alias("__pt"),
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    return d.filter(
        (F.col("__rn") == F.col("__n")) & F.col("__pv").isNotNull()
    )


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
    step = F.when(
        F.col("value") >= F.col("__pv"), F.col("value") - F.col("__pv")
    ).otherwise(F.col("value"))
    return (
        _last_pair(samples, keys, start, end)
        .filter(F.col("ts") > F.col("__pt"))
        .select(
            "key",
            "ts",
            (step / ((F.col("ts") - F.col("__pt")) / F.lit(1000.0))).alias(
                "irate"
            ),
        )
        .orderBy("key")
    )
