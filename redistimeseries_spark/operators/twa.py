"""Time-weighted average (TWA) bucketed aggregator.

Reference semantics (src/compaction.c:302-459, forward direction):
  For each bucket [ta, tb) with ta = max(bucket_start, range_start),
  tb = min(bucket_start + dur, range_end):
    * consecutive in-bucket samples add trapezoid (v1+v2)(t2-t1)/2;
    * if a previous sample exists in the iterated range (last sample of an
      earlier bucket) the bucket is extended to ta: interpolate
      vab = v1 + (ta-t1)(v2-v1)/(t2-t1) and add (vab+v2)(t2-ta)/2, with
      first_ts = ta; otherwise first_ts = first in-bucket sample ts;
    * symmetrically a following sample extends to tb with
      (vab+v1)(tb-t1)/2 and last_ts = tb;
    * finalize = res / |last_ts - first_ts|, or the single sample's value
      when last_ts == first_ts (src/compaction.c:408-419 TwaFinalize).
  NaN samples are excluded entirely (nonNaNValueValid).

Empty / NaN-only buckets under EMPTY (src/filter_iterator.c:307-386):
  neighbors = nearest non-NaN filtered samples left of ta / right of tb
  (twa_get_samples_from_left/right); with both sides present the value is
  the average of the line through them evaluated at ta and tb; one-sided
  values use a sample-spacing heuristic to decide NaN vs nearest value.

Spark shape: twa rides the one (key, __bucket) aggregation of
`range_query.bucket_aggregate`, as the reference computes every
aggregator of a bucket in one AggregationIterator pass.  `twa_partials`
adds a valid-only lag and lead over a (key, __bucket) window
(bucket-local, so a hot series parallelizes across its buckets) and the
per-bucket partials — the in-bucket trapezoid area, the first and last
valid samples and the ts of the second and second-to-last — as scalar
conditional aggregates next to the plain ones, so the aggregation stays
a hash aggregate.
`with_twa` then reads each bucket's neighbours on that per-bucket frame
(#buckets rows, never #samples) and computes the value of a bucket with
valid samples and of an empty / NaN-only one in one column.

`_twa_kernel` + `_empty_bucket_vals` (numpy, via `_twa_buckets_kernel`)
and `_twa_key_window_expr` (a bare-key window plan) are independent
formulations kept as differential twins for the tests and the hot-series
probe.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from redistimeseries_spark import MAX_TS


def _twa_kernel(
    t: np.ndarray,  # int64 sorted ts of valid (non-NaN) samples
    v: np.ndarray,  # float64 values
    b: np.ndarray,  # int64 bucket start per sample
    dur: int,
    range_start: int,
    range_end: int,
):
    """Return (buckets, twa_values) for buckets containing >=1 valid sample."""
    ub, inv = np.unique(b, return_inverse=True)
    fi = np.searchsorted(b, ub, "left")
    li = np.searchsorted(b, ub, "right") - 1
    first_ts = t[fi].astype(np.float64)
    last_ts = t[li].astype(np.float64)
    res = np.zeros(len(ub))
    if len(t) >= 2:
        t1, t2 = t[:-1].astype(np.float64), t[1:].astype(np.float64)
        v1, v2 = v[:-1], v[1:]
        same = b[:-1] == b[1:]
        np.add.at(res, inv[1:], np.where(same, (v1 + v2) * (t2 - t1) / 2.0, 0.0))
        cross = np.nonzero(~same)[0]
        if len(cross) > 0:
            dv = v2 - v1
            dt = t2 - t1
            # close previous bucket at tb
            tb = np.minimum(b[:-1].astype(np.float64) + dur, float(range_end))
            vab_prev = v1 + (tb - t1) * dv / dt
            np.add.at(res, inv[:-1][cross], ((vab_prev + v1) * (tb - t1) / 2.0)[cross])
            last_ts[inv[:-1][cross]] = tb[cross]
            # open next bucket at ta
            ta = np.maximum(b[1:].astype(np.float64), float(range_start))
            vab_cur = v1 + (ta - t1) * dv / dt
            np.add.at(res, inv[1:][cross], ((vab_cur + v2) * (t2 - ta) / 2.0)[cross])
            first_ts[inv[1:][cross]] = ta[cross]
    span = last_ts - first_ts
    twa = np.where(span == 0, v[li], np.divide(res, np.abs(span), where=span != 0))
    return ub, twa


def _empty_bucket_vals(
    b: np.ndarray, dur: int, t: np.ndarray, v: np.ndarray, range_start: int, range_end: int
) -> np.ndarray:
    """twa_calc_empty_bucket_val (src/filter_iterator.c:307-386) over the
    in-range valid samples, VECTORIZED over all empty buckets at once —
    searchsorted + guarded gathers + masks, no per-bucket Python (see
    module docstring for the edge-case note)."""
    n = len(t)
    if n == 0 or len(b) == 0:
        return np.full(len(b), np.nan)
    ta = np.maximum(b.astype(np.float64), float(range_start))
    tb = np.minimum(b.astype(np.float64) + float(dur), float(range_end))
    left = np.searchsorted(t, ta, "left")  # samples with ts < ta: t[:left]
    right = np.searchsorted(t, tb, "left")  # samples with ts >= tb: t[right:]
    nb = np.minimum(left, 2)
    na = np.minimum(n - right, 2)
    clip = lambda i: np.clip(i, 0, n - 1)  # guarded gather; masks gate use
    tl1, tl2 = t[clip(left - 1)], t[clip(left - 2)]
    tr0, tr1 = t[clip(right)], t[clip(right + 1)]
    vl1, vr0 = v[clip(left - 1)], v[clip(right)]

    is_empty = np.ones(len(b), dtype=bool)
    is_empty[(nb > 1) & (tl1 + (tl1 - tl2) > ta)] = False
    is_empty[(na > 1) & (tb + (tr1 - tr0) > tr0)] = False
    both = (nb != 0) & (na != 0)
    is_empty[both] = False

    out = np.full(len(b), np.nan)
    dv, dt = vr0 - vl1, (tr0 - tl1).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        va = vl1 + (ta - tl1) * dv / dt
        vb = vl1 + (tb - tl1) * dv / dt
    out[both] = ((va + vb) / 2.0)[both]
    right_only = ~is_empty & ~both & (na > 1)
    keep = right_only & ~(tb + (tr1 - tr0) // 2 <= tr0)
    out[keep] = vr0[keep]
    left_only = ~is_empty & ~both & ~(na > 1)
    keep = left_only & ~(tl1 + (tl1 - tl2) // 2 <= ta)
    out[keep] = vl1[keep]
    return out




def twa_partials(df: DataFrame) -> tuple[DataFrame, list[Column]]:
    """`df` (samples with `__bucket`, NaN rows kept) with a valid-only
    lag and lead, and the twa partials to aggregate per (key, __bucket):
    `__larea` (the in-bucket trapezoids, TwaAddValue
    src/compaction.c:348-390), the ts and value of the bucket's first and
    last valid samples `__fts`, `__fv`, `__lts`, `__lv`, and the ts of its
    second and second-to-last valid samples `__f2ts`, `__l2ts` (the
    empty-bucket heuristic reads only their spacing).

    The window orders NaN rows after the valid ones, so `lag` over a
    valid row is the previous valid sample of its bucket: the first valid
    row is the one without a predecessor, the last the one whose `lead`
    is not valid.  Each partial is a scalar over at most one row, so the
    aggregation stays a hash aggregate.  NaN rows stay in the frame for
    count_nan and the EMPTY spine.  (ts, value) order everywhere:
    duplicate (key, ts) rows, legal in the raw sample table, resolve
    deterministically (the rate._last_pair rule)."""
    valid = ~F.isnan("value")
    w = Window.partitionBy("key", "__bucket").orderBy(F.isnan("value"), "ts", "value")
    df = df.withColumns(
        {
            "__pts": F.lag("ts").over(w),
            "__pv": F.lag("value").over(w),
            "__next_valid": F.lead(valid).over(w),
        }
    )
    # a valid row with a valid predecessor: every valid row but the first
    inner = valid & F.col("__pts").isNotNull()
    first = valid & F.col("__pts").isNull()
    last = valid & ~F.coalesce(F.col("__next_valid"), F.lit(False))
    ts, v = F.col("ts").cast("double"), F.col("value")
    pts, pv = F.col("__pts").cast("double"), F.col("__pv")
    return df, [
        F.sum(F.when(inner, (pv + v) * (ts - pts) / 2.0)).alias("__larea"),
        F.max(F.when(first, F.col("ts"))).alias("__fts"),
        F.max(F.when(first, v)).alias("__fv"),
        F.max(F.when(last, F.col("ts"))).alias("__lts"),
        F.max(F.when(last, v)).alias("__lv"),
        F.min(F.when(inner, F.col("ts"))).alias("__f2ts"),
        # the predecessor of the last valid row
        F.max(F.when(inner, F.col("__pts"))).alias("__l2ts"),
    ]


def with_twa(perb: DataFrame, dur: int, start: int, end: int) -> DataFrame:
    """`perb` (one row per (key, __bucket), the `twa_partials` columns
    NULL where the bucket holds no valid sample) with the `twa` column
    and without the partials.

    A bucket with valid samples takes the boundary terms of
    TwaAddNextBucketFirstSample (src/compaction.c:392-419): the last
    valid sample of the nearest earlier bucket holding one (`__L1`) and
    the first of the nearest later one (`__R0`).  A bucket without
    takes twa_calc_empty_bucket_val (src/filter_iterator.c:307-386,
    the numpy twin `_empty_bucket_vals`) over its nearest valid sample
    on each side (`__L1`, `__R0`) and the ts of the second-nearest
    (`__L2`, `__R1`): NULL where it cannot interpolate (the kernel's NaN
    crosses Arrow as null, the contract downstream).  So one value
    serves TS.RANGE, its count-class finalizeEmpty and EMPTY.

    Every gather is a growing frame (unboundedPreceding .. -1), which
    Spark evaluates incrementally, where a shrinking unboundedFollowing
    frame is recomputed per row (O(#buckets^2) per key: 52 s on a
    27.8k-bucket spine against <1 s).  The first valid sample to the
    right is the last one seen scanning in descending order."""
    before = (
        Window.partitionBy("key")
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    after_rev = (
        Window.partitionBy("key")
        .orderBy(F.col("__bucket").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    has = F.col("__fts").isNotNull()
    # one sort per direction: each pair shares its window order.  The
    # second of a pair gathers the ts just above a bucket's first (below
    # its last): in-bucket when it holds two samples, else the
    # neighbouring bucket's.  A (ts, value) struct gathers a sample whole
    # (its value may be NULL)
    def sample(p: str) -> Column:
        return F.when(has, F.struct(F.col(p + "ts").alias("ts"), F.col(p + "v").alias("value")))

    g = (
        perb.withColumns({"__f": sample("__f"), "__l": sample("__l")})
        .withColumn("__R0", F.last("__f", ignorenulls=True).over(after_rev))
        .withColumn(
            "__R1",
            F.last(F.when(has, F.coalesce("__f2ts", "__R0.ts")), ignorenulls=True).over(after_rev),
        )
        .withColumn("__L1", F.last("__l", ignorenulls=True).over(before))
        .withColumn(
            "__L2",
            F.last(F.when(has, F.coalesce("__l2ts", "__L1.ts")), ignorenulls=True).over(before),
        )
    )
    b = F.col("__bucket").cast("double")
    ta = F.greatest(b, F.lit(float(start)))
    tb = F.least(b + F.lit(float(dur)), F.lit(float(min(end, MAX_TS))))
    fts, fv = F.col("__fts").cast("double"), F.col("__fv")
    lts, lv = F.col("__lts").cast("double"), F.col("__lv")
    tl1, vl1 = F.col("__L1.ts").cast("double"), F.col("__L1.value")
    tl2 = F.col("__L2").cast("double")
    tr0, vr0 = F.col("__R0.ts").cast("double"), F.col("__R0.value")
    tr1 = F.col("__R1").cast("double")

    opens, closes = tl1.isNotNull(), tr0.isNotNull()
    vab_open = vl1 + (ta - tl1) * (fv - vl1) / (fts - tl1)
    vab_close = lv + (tb - lts) * (vr0 - lv) / (tr0 - lts)
    res = (
        F.coalesce(F.col("__larea"), F.lit(0.0))
        + F.when(opens, (vab_open + fv) * (fts - ta) / 2.0).otherwise(0.0)
        + F.when(closes, (vab_close + lv) * (tb - lts) / 2.0).otherwise(0.0)
    )
    first_ts = F.when(opens, ta).otherwise(fts)
    last_ts = F.when(closes, tb).otherwise(lts)
    value = F.when(last_ts == first_ts, lv).otherwise(res / F.abs(last_ts - first_ts))

    # twa_calc_empty_bucket_val's decision tree: both sides -> average of
    # the through-line at ta/tb; one-sided needs TWO samples on that
    # side, the extrapolated next-sample instant to cross into the
    # bucket, and the half-spacing keep heuristic
    dv, dt = vr0 - vl1, tr0 - tl1
    va = vl1 + (ta - tl1) * dv / dt
    vb = vl1 + (tb - tl1) * dv / dt
    near_r = tb + (tr1 - tr0) > tr0
    keep_r = ~(tb + F.floor((tr1 - tr0) / 2) <= tr0)
    near_l = tl1 + (tl1 - tl2) > ta
    keep_l = ~(tl1 + F.floor((tl1 - tl2) / 2) <= ta)
    fill = (
        F.when(opens & closes, (va + vb) / 2.0)
        .when(~opens & tr1.isNotNull() & near_r & keep_r, vr0)
        .when(~closes & tl2.isNotNull() & near_l & keep_l, vl1)
    )
    return g.withColumn("twa", F.when(has, value).otherwise(fill)).drop(
        "__larea", "__fts", "__fv", "__lts", "__lv", "__f", "__l", "__f2ts", "__l2ts",
        "__L1", "__L2", "__R0", "__R1",
    )


def _twa_key_window_expr(
    df: DataFrame, dur: int, start: int, end: int
) -> DataFrame:
    """The pre-round-8 plan — per-sample lag AND lead over bare
    (key, ts).  Kept as the DIFFERENTIAL REFERENCE for the skew-safe
    twa of `range_query.bucket_aggregate` (fuzz-pinned equal in tests)
    and the comparison arm of the hot-series probe: semantically
    identical, but one hot series serializes its full history into a
    single window task."""
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy("ts")
    rng_end = float(min(end, MAX_TS))
    d = (
        df.filter(~F.isnan("value"))
        .select("key", "ts", "value", "__bucket")
        .withColumn("pts", F.lag("ts").over(w))
        .withColumn("pv", F.lag("value").over(w))
        .withColumn("pb", F.lag("__bucket").over(w))
        .withColumn("nts", F.lead("ts").over(w))
        .withColumn("nv", F.lead("value").over(w))
        .withColumn("nb", F.lead("__bucket").over(w))
    )
    ts, v, b = F.col("ts").cast("double"), F.col("value"), F.col("__bucket")
    pts, pv, pb = F.col("pts").cast("double"), F.col("pv"), F.col("pb")
    nts, nv, nb = F.col("nts").cast("double"), F.col("nv"), F.col("nb")
    # each sample contributes every term touching its own bucket, so one
    # window pass + one (key, bucket) aggregation covers the whole operator:
    #   * in-bucket trapezoid with the previous sample (same bucket);
    #   * bucket-open term when the previous sample lies in an older bucket
    #     (interpolate at ta, extends first_ts to ta);
    #   * bucket-close term when the next sample lies in a newer bucket —
    #     computed here from the *lead* row instead of exploding it from the
    #     crossing row (interpolate at tb, extends last_ts to tb).
    ta = F.greatest(b.cast("double"), F.lit(float(start)))
    tb = F.least(b.cast("double") + F.lit(float(dur)), F.lit(rng_end))
    opens = pb.isNotNull() & (pb != b)
    closes = nb.isNotNull() & (nb != b)
    vab_open = pv + (ta - pts) * (v - pv) / (ts - pts)
    vab_close = v + (tb - ts) * (nv - v) / (nts - ts)
    area = (
        F.when(pb == b, (pv + v) * (ts - pts) / 2.0).otherwise(0.0)
        + F.when(opens, (vab_open + v) * (ts - ta) / 2.0).otherwise(0.0)
        + F.when(closes, (vab_close + v) * (tb - ts) / 2.0).otherwise(0.0)
    )
    terms = (
        d.select(
            "key",
            F.col("__bucket").alias("bucket"),
            "ts",
            "value",
            area.alias("area"),
            F.when(opens, ta).alias("sf"),
            F.when(closes, tb).alias("sl"),
        )
        .groupBy("key", "bucket")
        .agg(
            F.sum("area").alias("res"),
            F.max("sf").alias("sf"),
            F.max("sl").alias("sl"),
            F.min("ts").cast("double").alias("fts"),
            F.max("ts").cast("double").alias("lts"),
            F.max_by("value", "ts").alias("lastv"),
        )
    )
    first_ts = F.coalesce(F.col("sf"), F.col("fts"))
    last_ts = F.coalesce(F.col("sl"), F.col("lts"))
    return terms.select(
        "key",
        F.col("bucket").alias("__bucket"),
        F.when(last_ts == first_ts, F.col("lastv"))
        .otherwise(F.coalesce(F.col("res"), F.lit(0.0)) / F.abs(last_ts - first_ts))
        .alias("twa"),
    )



def _twa_buckets_kernel(
    df: DataFrame,
    dur: int,
    start: int,
    end: int,
) -> DataFrame:
    """The pre-round-9 EMPTY-path plan — the numpy kernel
    (`_twa_kernel` + `_empty_bucket_vals`) via applyInPandas per BARE
    key.  Kept as the DIFFERENTIAL REFERENCE for the EMPTY twa of
    `range_query.bucket_aggregate` (fuzz-pinned equal in tests) and the
    comparison arm of the hot-series probe: one hot series serializes
    its full history into a single task here."""
    empty = True
    range_end = min(end, MAX_TS)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts")
        key = pdf["key"].iloc[0]
        valid = ~pdf["value"].isna() & ~np.isnan(pdf["value"].to_numpy())
        t = pdf.loc[valid, "ts"].to_numpy(np.int64)
        v = pdf.loc[valid, "value"].to_numpy(np.float64)
        b = pdf.loc[valid, "__bucket"].to_numpy(np.int64)
        if len(t) == 0:
            ub = np.empty(0, np.int64)
            twa = np.empty(0, np.float64)
        else:
            ub, twa = _twa_kernel(t, v, b, dur, start, range_end)
        if empty:
            ball = pdf["__bucket"].to_numpy(np.int64)
            lo, hi = ball.min(), ball.max()
            spine = np.arange(lo, hi + 1, dur, dtype=np.int64)
            vals = np.full(len(spine), np.nan)
            filled = np.zeros(len(spine), dtype=bool)
            if len(ub):
                pos = ((ub - lo) // dur).astype(np.int64)
                vals[pos] = twa
                filled[pos] = True
            gaps = ~filled
            if gaps.any():
                vals[gaps] = _empty_bucket_vals(
                    spine[gaps], dur, t, v, start, range_end
                )
            ub, twa = spine, vals
        return pd.DataFrame({"key": key, "__bucket": ub, "twa": twa})

    return df.select("key", "ts", "value", "__bucket").groupBy("key").applyInPandas(
        fn, "key string, __bucket long, twa double"
    )
