"""F4 fixture: clustered samples with multi-bucket interior gaps.

Oracle: a literal sequential transcription of the reference's
AggregationIterator + TwaAddValue/TwaAddNextBucketFirstSample model
(src/compaction.c:302-459, src/filter_iterator.c:307-506) — structurally
independent from the vectorized numpy kernel under test."""

import math

from tests.conftest import NAN, rows_match

from redistimeseries_spark.operators.range_query import ts_range

# samples: two clusters with a 3-bucket gap, irregular spacing
T = [0, 800, 1500, 2200, 9500, 10200, 11000, 11900]
V = [10.0, 12.0, 8.0, 9.0, 30.0, 34.0, 31.0, 29.0]
DUR = 2000
START, END = 0, 2**62


def py_twa_buckets(ts, vs, dur, start, end):
    """Forward iteration exactly as the C context does."""
    out = {}
    bucket_of = lambda t: t - t % dur
    n = len(ts)
    i = 0
    prev = None  # last sample of previous bucket
    while i < n:
        b = bucket_of(ts[i])
        j = i
        while j < n and bucket_of(ts[j]) == b:
            j += 1
        res = 0.0
        ta, tb = max(b, start), min(b + dur, end)
        # first sample: left boundary
        if prev is not None:
            t1, v1 = prev
            t2, v2 = ts[i], vs[i]
            vab = v1 + (ta - t1) * (v2 - v1) / (t2 - t1)
            res += (vab + v2) * (t2 - ta) / 2.0
            first_ts = ta
        else:
            first_ts = ts[i]
        for k in range(i + 1, j):
            res += (vs[k - 1] + vs[k]) * (ts[k] - ts[k - 1]) / 2.0
        if j < n:  # next bucket's first sample: right boundary
            t1, v1 = ts[j - 1], vs[j - 1]
            t2, v2 = ts[j], vs[j]
            vab = v1 + (tb - t1) * (v2 - v1) / (t2 - t1)
            res += (vab + v1) * (tb - t1) / 2.0
            last_ts = tb
        else:
            last_ts = ts[j - 1]
        out[b] = vs[j - 1] if last_ts == first_ts else res / abs(last_ts - first_ts)
        prev = (ts[j - 1], vs[j - 1])
        i = j
    return out


def py_twa_empty(b, dur, ts, vs, start, end):
    """twa_calc_empty_bucket_val transcription (interior gaps)."""
    ta, tb = max(b, start), min(b + dur, end)
    before = [(t, v) for t, v in zip(ts, vs) if t < ta][-2:]
    after = [(t, v) for t, v in zip(ts, vs) if t >= tb][:2]
    if before and after:
        (tl, vl), (tr, vr) = before[-1], after[0]
        va = vl + (ta - tl) * (vr - vl) / (tr - tl)
        vb = vl + (tb - tl) * (vr - vl) / (tr - tl)
        return (va + vb) / 2.0
    return NAN  # not exercised by this fixture


def test_twa_values(samples_df):
    df = samples_df([("k", t, v) for t, v in zip(T, V)])
    out = {
        r.ts: r.twa
        for r in ts_range(df, aggregations=["twa"], bucket_dur=DUR).collect()
    }
    exp = py_twa_buckets(T, V, DUR, START, END)
    assert set(out) == set(exp)
    for b in exp:
        assert math.isclose(out[b], exp[b], rel_tol=1e-9), (b, out[b], exp[b])


def test_empty_spine_locf_and_twa(samples_df):
    df = samples_df([("k", t, v) for t, v in zip(T, V)])
    out = ts_range(
        df, aggregations=["sum", "count", "last", "twa"], bucket_dur=DUR, empty=True
    ).collect()
    buckets = [r.ts for r in out]
    # spine covers first..last bucket inclusive, no edge gaps beyond data
    assert buckets == list(range(0, 10001, DUR))
    by_b = {r.ts: r for r in out}
    nonempty = py_twa_buckets(T, V, DUR, START, END)
    for b in range(0, 10001, DUR):
        r = by_b[b]
        in_bucket = [(t, v) for t, v in zip(T, V) if b <= t < b + DUR]
        if in_bucket:
            assert r.sum == sum(v for _, v in in_bucket)
            assert r["count"] == len(in_bucket)
            assert r.last == in_bucket[-1][1]
            assert math.isclose(r.twa, nonempty[b], rel_tol=1e-9)
        else:
            assert r.sum == 0.0 and r["count"] == 0.0
            # LOCF from the previous kept sample
            prior = [v for t, v in zip(T, V) if t < b]
            assert r.last == prior[-1]
            exp_twa = py_twa_empty(b, DUR, T, V, START, END)
            assert math.isclose(r.twa, exp_twa, rel_tol=1e-9), (b, r.twa, exp_twa)


def test_empty_rev_same_values_desc_order(samples_df):
    # reverse iteration emits the same bucket values in descending order;
    # LOCF still inherits from the chronologically OLDER neighbor
    # (src/filter_iterator.c:473-506 reverse note)
    df = samples_df([("k", t, v) for t, v in zip(T, V)])
    fwd = ts_range(df, aggregations=["sum", "last"], bucket_dur=DUR, empty=True).collect()
    rev = ts_range(
        df, aggregations=["sum", "last"], bucket_dur=DUR, empty=True, rev=True
    ).collect()
    assert [r.ts for r in rev] == [r.ts for r in fwd][::-1]
    assert {(r.ts, r.sum, r.last) for r in rev} == {(r.ts, r.sum, r.last) for r in fwd}


def test_empty_edge_gaps_not_emitted(samples_df):
    # query range extends far beyond data: no buckets before/after data
    df = samples_df([("k", t, v) for t, v in zip(T, V)])
    out = ts_range(
        df, 0, 10**9, aggregations=["sum"], bucket_dur=DUR, empty=True
    ).collect()
    assert min(r.ts for r in out) == 0
    assert max(r.ts for r in out) == 10000


def test_twa_bucket_local_vs_key_window_differential(samples_df):
    """The skew-safe TWA of the one bucket stage (bucket-local lag +
    per-bucket neighbour gathers) is pinned equal to the bare-key-window
    twin across random series: NaNs, duplicate-bucket edges, sparse and
    dense buckets, and range cuts landing mid-bucket."""
    import math
    import random as _random

    from pyspark.sql import functions as F

    from redistimeseries_spark.functions.buckets import bucket_start
    from redistimeseries_spark.operators.range_query import bucket_aggregate
    from redistimeseries_spark.operators.twa import _twa_key_window_expr

    rng = _random.Random(0x7A7A)
    for trial in range(8):
        rows = []
        for k in ("a", "b", "c"):
            pts = sorted(rng.sample(range(0, 60_000), rng.randint(2, 60)))
            for t in pts:
                v = float("nan") if rng.random() < 0.1 else rng.uniform(-5, 9)
                rows.append((k, t, v))
        dur = rng.choice([700, 1000, 9000])
        lo = rng.choice([0, rng.randrange(0, 30_000)])
        hi = rng.choice([10**15, rng.randrange(lo + 1, 70_000)])
        raw = samples_df(rows)
        df = raw.filter(
            (F.col("ts") >= lo) & (F.col("ts") <= hi)
        ).withColumn("__bucket", bucket_start(F.col("ts"), dur, 0))
        got = {
            (r.key, r["__bucket"]): r.twa
            for r in bucket_aggregate(raw, ["twa"], dur, 0, lo, hi).collect()
        }
        want = {
            (r.key, r["__bucket"]): r.twa
            for r in _twa_key_window_expr(df, dur, lo, hi).collect()
        }
        assert set(got) == set(want), (trial, dur, lo, hi)
        for kk in got:
            assert math.isclose(
                got[kk], want[kk], rel_tol=1e-9, abs_tol=1e-9
            ), (trial, kk, got[kk], want[kk])


def test_twa_plan_is_bucket_local(samples_df):
    """The sample-level lag window partitions by (key, __bucket) — the
    hot-series funnel is gone from the TWA hot path (and from the EMPTY
    path; see test_twa_empty_plan_is_bucket_local)."""
    from redistimeseries_spark.operators.range_query import bucket_aggregate

    df = samples_df([("k", t, float(t)) for t in range(0, 5000, 100)])
    plan = (
        bucket_aggregate(df, ["twa"], 1000, 0, 0, 10**15)
        ._jdf.queryExecution().executedPlan().toString()
    )
    lag_lines = [
        ln for ln in plan.splitlines() if "lag(" in ln and "Window" in ln
    ]
    assert lag_lines
    sample_lags = [ln for ln in lag_lines if "lag(value" in ln or "lag(ts" in ln]
    assert sample_lags and all("__bucket" in ln for ln in sample_lags), plan


def test_twa_duplicate_ts_deterministic(samples_df):
    """Duplicate (key, ts) rows at bucket edges resolve by (ts, value) —
    the result is identical across repeated executions (the raw table
    permits dup rows; the rate-family determinism rule, round 8)."""
    from redistimeseries_spark.operators.range_query import bucket_aggregate

    rows = [
        ("k", 0, 5.0), ("k", 900, 1.0), ("k", 900, 9.0),   # dup at bucket end
        ("k", 1000, 2.0), ("k", 1000, 7.0),                 # dup at bucket start
        ("k", 1800, 4.0),
    ]
    df = samples_df(rows)
    first = sorted(
        (r.key, r["__bucket"], round(r.twa, 12))
        for r in bucket_aggregate(df, ["twa"], 1000, 0, 0, 10**15).collect()
    )
    for _ in range(3):
        again = sorted(
            (r.key, r["__bucket"], round(r.twa, 12))
            for r in bucket_aggregate(df, ["twa"], 1000, 0, 0, 10**15).collect()
        )
        assert again == first


def test_twa_empty_plan_is_bucket_local(samples_df):
    """The EMPTY path's sample-level lag window partitions by
    (key, __bucket): no applyInPandas / Arrow eval appears in the plan
    at all, and every per-sample window is bucket-local (the per-key
    windows that remain run over the #buckets-bounded aggregated
    frame and its spine)."""
    from redistimeseries_spark.operators.range_query import bucket_aggregate

    df = samples_df([("k", t, float(t)) for t in range(0, 5000, 100)])
    plan = (
        bucket_aggregate(df, ["twa"], 1000, 0, 0, 10**15, empty=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan
    sample_lags = [
        ln
        for ln in plan.splitlines()
        if "Window" in ln and ("lag(value" in ln or "lag(ts" in ln)
    ]
    assert sample_lags and all("__bucket" in ln for ln in sample_lags), plan


def test_twa_empty_expr_vs_kernel_differential(samples_df):
    """The bucket-local EMPTY-path plan (bucket_aggregate with EMPTY:
    spine + aggregated-frame neighbor gathers) is pinned equal to the
    retained numpy kernel twin across random series — NaN-only buckets
    extending the spine, multi-bucket gaps (both one-sided heuristics
    and the both-sides interpolation), single-sample buckets feeding
    the pen/nxt fallbacks, and range cuts landing mid-bucket.
    Uninterpolatable buckets are NULL in both plans (the kernel's NaN
    crosses the Arrow boundary as null — the established contract)."""
    import math
    import random as _random

    from pyspark.sql import functions as F

    from redistimeseries_spark.functions.buckets import bucket_start
    from redistimeseries_spark.operators.range_query import bucket_aggregate
    from redistimeseries_spark.operators.twa import _twa_buckets_kernel

    rng = _random.Random(0xE119)
    for trial in range(8):
        rows = []
        for k in ("a", "b", "gappy", "allnan"):
            if k == "gappy":
                # sparse: big interior gaps so every empty branch fires
                pts = sorted(rng.sample(range(0, 200_000), rng.randint(2, 8)))
            else:
                pts = sorted(rng.sample(range(0, 60_000), rng.randint(1, 50)))
            for t in pts:
                p_nan = 1.0 if k == "allnan" else 0.15
                v = float("nan") if rng.random() < p_nan else rng.uniform(-5, 9)
                rows.append((k, t, v))
        dur = rng.choice([700, 1000, 9000])
        lo = rng.choice([0, rng.randrange(0, 30_000)])
        hi = rng.choice([10**15, rng.randrange(lo + 1, 200_000)])
        raw = samples_df(rows)
        df = raw.filter(
            (F.col("ts") >= lo) & (F.col("ts") <= hi)
        ).withColumn("__bucket", bucket_start(F.col("ts"), dur, 0))

        def key_map(res):
            return {(r.key, r["__bucket"]): r.twa for r in res}

        got = key_map(
            bucket_aggregate(raw, ["twa"], dur, 0, lo, hi, empty=True).collect()
        )
        want = key_map(_twa_buckets_kernel(df, dur, lo, hi).collect())
        assert set(got) == set(want), (trial, dur, lo, hi)
        for kk in got:
            g, w = got[kk], want[kk]
            if w is None or math.isnan(w):
                assert g is None or math.isnan(g), (trial, kk, g, w)
            else:
                assert g is not None and math.isclose(
                    g, w, rel_tol=1e-9, abs_tol=1e-9
                ), (trial, kk, g, w)
