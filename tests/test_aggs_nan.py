"""F3 fixture (FIXTURES.md): NaN-mix series; all 14 groupable aggregators
vs a direct Python oracle implementing src/compaction.c semantics."""

import math

import pytest

from tests.conftest import NAN, rows_match

from redistimeseries_spark.operators.range_query import ts_range

AGGS = [
    "min", "max", "range", "sum", "avg", "count", "count_nan", "count_all",
    "first", "last", "std.p", "std.s", "var.p", "var.s",
]


def py_agg(agg, pairs):  # pairs: [(ts, value)] within one bucket
    valid = [(t, v) for t, v in pairs if not math.isnan(v)]
    nans = [v for _, v in pairs if math.isnan(v)]
    vs = [v for _, v in valid]
    if agg == "count":
        return float(len(vs))
    if agg == "count_nan":
        return float(len(nans))
    if agg == "count_all":
        return float(len(pairs))
    if agg == "sum":
        return sum(vs) if vs else 0.0
    if not vs:
        return NAN
    if agg == "min":
        return min(vs)
    if agg == "max":
        return max(vs)
    if agg == "range":
        return max(vs) - min(vs)
    if agg == "avg":
        return sum(vs) / len(vs)
    if agg == "first":
        return min(valid)[1]
    if agg == "last":
        return max(valid)[1]
    n, mean = len(vs), sum(vs) / len(vs)
    var_p = sum((v - mean) ** 2 for v in vs) / n
    if agg == "var.p":
        return var_p
    if agg == "std.p":
        return math.sqrt(var_p)
    var_s = 0.0 if n <= 1 else var_p * n / (n - 1)
    if agg == "var.s":
        return var_s
    if agg == "std.s":
        return math.sqrt(var_s)
    raise ValueError(agg)


def test_all14_with_nans(samples_df):
    rows = []
    for i in range(100):
        v = NAN if i % 7 == 0 else float((-1) ** i * i)
        rows.append(("k", 1000 * i, v))
    # one bucket entirely NaN: ts 200000..200900 every 7th.. make explicit
    for i in range(5):
        rows.append(("k", 200_000 + i * 100, NAN))
    df = samples_df(rows)
    dur = 10_000
    out = ts_range(df, aggregations=AGGS, bucket_dur=dur).collect()

    buckets = {}
    for _, ts, v in rows:
        buckets.setdefault(ts - ts % dur, []).append((ts, v))
    # count_all is among the aggregators, so EVERY sample-bearing bucket
    # emits (allValueValid sets validSamplesInBucket,
    # src/filter_iterator.c:1286-1292); aggregators that saw nothing valid
    # take finalizeEmpty, and `last` LOCF-carries the previous bucket's
    # value (finalize_empty_last_value, src/compaction.c:81-84,115-121).
    expected = []
    locf = NAN
    for b, pairs in sorted(buckets.items()):
        vals = [py_agg(a, pairs) for a in AGGS]
        i_last = AGGS.index("last")
        if math.isnan(vals[i_last]):
            vals[i_last] = locf
        else:
            locf = vals[i_last]
        expected.append(("k", b, *vals))
    rows_match([tuple(r) for r in out], expected)


def test_all_nan_bucket_suppressed(samples_df):
    df = samples_df([("k", 0, 1.0), ("k", 10_000, NAN), ("k", 10_500, NAN)])
    out = ts_range(df, aggregations=["min"], bucket_dur=10_000).collect()
    assert [r.ts for r in out] == [0]


def test_only_nan_bucket_emits_with_count_classes(samples_df):
    """count_all / count_nan validate NaN samples (allValueValid /
    nanValueValid, src/compaction.c:944-978), so their presence makes
    only-NaN buckets emit, with finalizeEmpty for the other aggregators."""
    df = samples_df(
        [("k", 0, 1.0), ("k", 10_000, NAN), ("k", 10_500, NAN), ("k", 20_100, 7.0)]
    )
    out = {
        r.ts: r
        for r in ts_range(
            df, aggregations=["count_all", "min", "last"], bucket_dur=10_000
        ).collect()
    }
    assert set(out) == {0, 10_000, 20_000}
    mid = out[10_000]
    assert mid.count_all == 2.0
    assert math.isnan(mid.min)  # finalizeEmpty NaN
    assert mid.last == 1.0  # LOCF carry from bucket 0
    assert out[0].last == 1.0 and out[20_000].last == 7.0


def test_count_nan_only_emits_nan_buckets(samples_df):
    """AGGREGATION count_nan alone: a NaN-free bucket validates no sample
    for any requested aggregator -> not emitted."""
    df = samples_df([("k", 0, 1.0), ("k", 10_000, NAN), ("k", 20_100, 3.0)])
    out = ts_range(df, aggregations=["count_nan"], bucket_dur=10_000).collect()
    assert [(r.ts, r.count_nan) for r in out] == [(10_000, 1.0)]


def test_empty_mode_count_all_reports_real_count(samples_df):
    """EMPTY: an only-NaN bucket reports count_all = its sample count (the
    bucket is NOT shouldBucketIgnored when count_all validated samples);
    true gap buckets report finalizeEmpty 0."""
    df = samples_df(
        [("k", 0, 1.0), ("k", 10_000, NAN), ("k", 30_000, 2.0)]
    )
    out = {
        r.ts: r
        for r in ts_range(
            df, aggregations=["count_all", "sum"], bucket_dur=10_000, empty=True
        ).collect()
    }
    assert set(out) == {0, 10_000, 20_000, 30_000}
    assert out[10_000].count_all == 1.0  # only-NaN bucket: real count
    assert out[20_000].count_all == 0.0  # gap bucket: finalizeEmpty
    assert out[10_000].sum == 0.0 and out[20_000].sum == 0.0


def test_bucket_percentiles(spark):
    """Beyond-reference bucketed percentiles: exact interpolation
    (quantile_cont convention), NaN exclusion, all-NaN buckets not
    emitted, multi-percentile single pass, ordering."""
    import math

    from redistimeseries_spark.operators.percentiles import (
        ts_bucket_percentiles,
    )

    nan = float("nan")
    rows = [
        # bucket 0: values 1..5 -> p50=3, p95=4.8, p0=1, p100=5
        *[("k", t * 10, float(v)) for t, v in enumerate([1, 2, 3, 4, 5])],
        ("k", 60, nan),            # NaN excluded from the same bucket
        ("k", 1000, 7.0),          # bucket 1000: single value
        ("k", 2000, nan),          # bucket 2000: all-NaN -> not emitted
        ("j", 0, 10.0), ("j", 1, 20.0),  # second key, p50 interpolates
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = {
        (r.key, r.ts): r
        for r in ts_bucket_percentiles(
            sdf, 1000, [0.0, 0.5, 0.95, 1.0]
        ).collect()
    }
    assert set(got) == {("k", 0), ("k", 1000), ("j", 0)}
    k0 = got[("k", 0)]
    assert (k0.p0, k0.p50, k0.p100) == (1.0, 3.0, 5.0)
    assert math.isclose(k0.p95, 4.8)          # (n-1)*p interpolation
    assert got[("j", 0)].p50 == 15.0
    assert got[("k", 1000)].p50 == 7.0 == got[("k", 1000)].p100
    # approx path smoke: same schema, plausible values
    ap = ts_bucket_percentiles(sdf, 1000, [0.5], exact=False).collect()
    assert {(r.key, r.ts) for r in ap} == set(got)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        ts_bucket_percentiles(sdf, 1000, [1.5])


def test_percentile_agg_names(spark):
    """p-name aggregators flow through the standard surfaces: ts_range
    (mixed with reference aggs), compaction rules (continuous p95), and
    unknown/invalid names still reject."""
    import pytest as _pytest

    from redistimeseries_spark.operators.range_query import ts_range
    from redistimeseries_spark.streaming.compaction import (
        CompactionRule, materialize_rule,
    )

    nan = float("nan")
    rows = [
        ("k", 0, 1.0), ("k", 10, 2.0), ("k", 20, 3.0), ("k", 30, nan),
        ("k", 1000, 10.0), ("k", 2000, 99.0),  # 2000 = open bucket
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = {
        r.ts: r
        for r in ts_range(
            sdf, aggregations=["p50", "p100", "count"], bucket_dur=1000
        ).collect()
    }
    assert got[0].p50 == 2.0 and got[0].p100 == 3.0 and got[0]["count"] == 3.0
    assert got[1000].p50 == 10.0
    # fractional percentile name sanitizes to a legal column
    cols = ts_range(sdf, aggregations=["p99.9"], bucket_dur=1000).columns
    assert "p99_9" in cols
    # compaction rule: closed buckets only, exact percentile
    rule = CompactionRule(None, "_p50", "p50", 1000)
    dest = {r.ts: r.value for r in materialize_rule(sdf, rule).collect()}
    assert dest == {0: 2.0, 1000: 10.0}
    with _pytest.raises(ValueError):
        ts_range(sdf, aggregations=["p101"], bucket_dur=1000)
    with _pytest.raises(ValueError):
        ts_range(sdf, aggregations=["pxx"], bucket_dur=1000)


def test_counter_increase_resets_and_boundaries(spark):
    """Reset-aware counter increase: resets contribute the new value,
    bucket boundaries see the true predecessor (no fabricated reset),
    NaNs are skipped in the delta chain, first sample contributes
    nothing, rate divides by bucket seconds."""
    import math

    from redistimeseries_spark.operators.rate import ts_increase, ts_rate

    nan = float("nan")
    rows = [
        # k: 10 -> 25 (+15), NaN (skip), 30 (+5 vs 25), RESET to 4 (+4),
        #    next bucket: 10 (+6 across the boundary)
        ("k", 0, 10.0), ("k", 100, 25.0), ("k", 200, nan),
        ("k", 300, 30.0), ("k", 400, 4.0), ("k", 1100, 10.0),
        # solo: single sample -> no prev -> bucket not emitted
        ("solo", 500, 99.0),
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = {
        (r.key, r.ts): r.increase for r in ts_increase(sdf, 1000).collect()
    }
    assert got == {("k", 0): 15.0 + 5.0 + 4.0, ("k", 1000): 6.0}
    # range cut AFTER the lag: the first in-range sample still sees its
    # true predecessor instead of becoming a fake series start
    cut = {
        (r.key, r.ts): r.increase
        for r in ts_increase(sdf, 1000, start=1000).collect()
    }
    assert cut == {("k", 1000): 6.0}
    rate = {r.ts: r.rate for r in ts_rate(sdf, 1000, keys="k").collect()}
    assert math.isclose(rate[0], 24.0 / 1.0) and math.isclose(rate[1000], 6.0)


def test_changes_and_resets_counts(spark):
    """ts_changes / ts_resets: event counts against the previous VALID
    sample over the full-history chain — NaNs skipped, first sample
    contributes nothing, boundary samples see their true predecessor,
    all-repeat buckets emit 0, no-predecessor buckets not emitted."""
    import pytest as _pytest

    from redistimeseries_spark.operators.rate import ts_changes, ts_resets

    nan = float("nan")
    rows = [
        # k bucket 0: 10 (first, no prev), 10 (no change), NaN (skip),
        #             12 (change), 4 (change + reset)
        ("k", 0, 10.0), ("k", 100, 10.0), ("k", 200, nan),
        ("k", 300, 12.0), ("k", 400, 4.0),
        # k bucket 1000: 4 repeats across the boundary (prev is 4 at 400)
        ("k", 1100, 4.0), ("k", 1200, 9.0),
        # solo: single sample -> no prev -> nothing emitted
        ("solo", 500, 1.0),
        # flat: two equal samples -> emitted with 0 changes / 0 resets
        ("flat", 0, 7.0), ("flat", 100, 7.0),
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    ch = {(r.key, r.ts): r.changes for r in ts_changes(sdf, 1000).collect()}
    assert ch == {("k", 0): 2, ("k", 1000): 1, ("flat", 0): 0}
    rs = {(r.key, r.ts): r.resets for r in ts_resets(sdf, 1000).collect()}
    assert rs == {("k", 0): 1, ("k", 1000): 0, ("flat", 0): 0}
    # range cut AFTER the lag: first in-range sample keeps its true prev
    cut = {
        (r.key, r.ts): r.changes
        for r in ts_changes(sdf, 1000, start=1000).collect()
    }
    assert cut == {("k", 1000): 1}
    with _pytest.raises(ValueError):
        ts_changes(sdf, 0)


def test_predict_linear_extrapolation(spark):
    """ts_predict_linear: exact extrapolation on a synthetic line
    (slope in value/second, predicted at bucket end + horizon), NaNs
    dropped, <2-sample and single-timestamp buckets not emitted."""
    import math

    import pytest as _pytest

    from redistimeseries_spark.operators.rate import ts_predict_linear

    nan = float("nan")
    epoch = 1_700_000_000_000
    # value = 2.0 per second starting at 100 -> at bucket-relative x
    # seconds, value = 100 + 2x; bucket [epoch, epoch+1000)
    rows = [
        ("lin", epoch + 0, 100.0),
        ("lin", epoch + 250, 100.5),
        ("lin", epoch + 500, 101.0),
        ("lin", epoch + 750, nan),      # dropped
        # deg: both samples at one ts -> zero x-variance -> not emitted
        ("deg", epoch + 100, 5.0), ("deg", epoch + 100, 9.0),
        # one: single sample -> not emitted
        ("one", epoch + 10, 3.0),
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    out = {
        (r.key, r.ts): r.predicted
        for r in ts_predict_linear(sdf, 1000, 2000).collect()
    }
    # slope 2.0/s, intercept 100 at bucket start; predict at (1000+2000)ms
    assert set(out) == {("lin", epoch)}
    assert math.isclose(out[("lin", epoch)], 100.0 + 2.0 * 3.0)
    # horizon 0 predicts at the bucket end itself
    at_end = ts_predict_linear(sdf, 1000, 0, keys="lin").collect()[0]
    assert math.isclose(at_end.predicted, 100.0 + 2.0 * 1.0)
    with _pytest.raises(ValueError):
        ts_predict_linear(sdf, 0, 100)
    with _pytest.raises(ValueError):
        ts_predict_linear(sdf, 1000, -1)


def test_ewma_recurrence(spark):
    """EWMA: exact recurrence vs a hand loop, NaN links skipped,
    alpha=1 is identity, invalid alpha rejected."""
    import math

    import pytest as _pytest

    from redistimeseries_spark.operators.smooth import ts_ewma

    nan = float("nan")
    rows = [("k", 0, 10.0), ("k", 1, 4.0), ("k", 2, nan), ("k", 3, 7.0),
            ("j", 0, 5.0)]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = {(r.key, r.ts): r.ewma for r in ts_ewma(sdf, 0.5).collect()}
    y = 10.0
    want = {("k", 0): 10.0}
    for t, x in ((1, 4.0), (3, 7.0)):  # NaN at ts=2 skipped from the chain
        y = 0.5 * x + 0.5 * y
        want[("k", t)] = y
    want[("j", 0)] = 5.0
    assert set(got) == set(want)
    for kk in want:
        assert math.isclose(got[kk], want[kk]), (kk, got[kk], want[kk])
    ident = {r.ts: r.ewma for r in ts_ewma(sdf, 1.0, keys="k").collect()}
    assert ident == {0: 10.0, 1: 4.0, 3: 7.0}
    with _pytest.raises(ValueError):
        ts_ewma(sdf, 0.0)


def test_holt_recurrence(spark):
    """ts_holt: exact coupled (level, trend) recurrence vs a hand loop,
    trend seeded from the first two valid samples, NaN links skipped,
    <2-sample series emit nothing, invalid factors rejected."""
    import math

    import pytest as _pytest

    from redistimeseries_spark.operators.smooth import ts_holt

    nan = float("nan")
    rows = [("k", 0, 10.0), ("k", 1, 4.0), ("k", 2, nan), ("k", 3, 7.0),
            ("k", 4, 11.0), ("solo", 0, 5.0)]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    a, b = 0.5, 0.3
    got = {
        (r.key, r.ts): (r.level, r.trend)
        for r in ts_holt(sdf, a, b).collect()
    }
    xs = [(0, 10.0), (1, 4.0), (3, 7.0), (4, 11.0)]  # NaN at ts=2 skipped
    lv, tr = xs[0][1], xs[1][1] - xs[0][1]
    want = {("k", 0): (lv, tr)}
    for t, x in xs[1:]:
        nl = a * x + (1 - a) * (lv + tr)
        tr = b * (nl - lv) + (1 - b) * tr
        lv = nl
        want[("k", t)] = (lv, tr)
    assert set(got) == set(want)  # solo emits nothing
    for kk in want:
        assert math.isclose(got[kk][0], want[kk][0]) and math.isclose(
            got[kk][1], want[kk][1]
        ), (kk, got[kk], want[kk])
    with _pytest.raises(ValueError):
        ts_holt(sdf, 0.0, 0.5)
    with _pytest.raises(ValueError):
        ts_holt(sdf, 0.5, 1.5)


def _lttb_reference(points, threshold):
    """Straightforward sequential LTTB (Steinarsson's published pseudocode,
    independent of the numpy kernel)."""
    n = len(points)
    if n <= threshold:
        return list(points)
    import math as _math

    edges = []
    # same integer boundary grid as the operator
    for i in range(threshold - 1):
        edges.append(int(1 + (n - 2) * i / (threshold - 2)))
    out = [points[0]]
    a = 0
    for i in range(threshold - 2):
        lo, hi = edges[i], edges[i + 1]
        if i + 2 < len(edges):
            nlo, nhi = hi, edges[i + 2]
        else:
            nlo, nhi = hi, n
        if nhi > nlo:
            cx = sum(p[0] for p in points[nlo:nhi]) / (nhi - nlo)
            cy = sum(p[1] for p in points[nlo:nhi]) / (nhi - nlo)
        else:
            cx, cy = points[-1]
        best, best_area = lo, -1.0
        for j in range(lo, hi):
            ax, ay = points[a]
            jx, jy = points[j]
            area = abs((ax - cx) * (jy - ay) - (ax - jx) * (cy - ay))
            if area > best_area:
                best, best_area = j, area
        out.append(points[best])
        a = best
    out.append(points[-1])
    return out


def test_lttb_downsampling(spark):
    """LTTB: endpoints kept, exact count, matches the independent
    sequential reference on random series, small series pass through."""
    import random as _random

    import pytest as _pytest

    from redistimeseries_spark.operators.smooth import ts_lttb

    rng = _random.Random(42)
    pts = sorted(
        (t, rng.uniform(-100, 100))
        for t in rng.sample(range(0, 100_000), 500)
    )
    rows = [("k", t, v) for t, v in pts] + [("tiny", 0, 1.0), ("tiny", 10, 2.0)]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = sorted(
        (r.ts, r.value) for r in ts_lttb(sdf, 50, keys="k").collect()
    )
    assert len(got) == 50
    assert got[0] == pts[0] and got[-1] == pts[-1]
    want = sorted(_lttb_reference(pts, 50))
    assert got == want
    # series smaller than the threshold pass through untouched
    tiny = sorted((r.ts, r.value) for r in ts_lttb(sdf, 50, keys="tiny").collect())
    assert tiny == [(0, 1.0), (10, 2.0)]
    with _pytest.raises(ValueError):
        ts_lttb(sdf, 2)


def test_rolling_zscore_anomalies(spark):
    """Rolling z-score: a planted spike after a stable window flags; the
    warm-up window and zero-variance windows never flag (NULL zscore);
    the sample itself is excluded from its own baseline."""
    import pytest as _pytest

    from redistimeseries_spark.operators.smooth import ts_anomalies

    rows = [("k", t * 10, 5.0 + (0.1 if t % 2 else -0.1)) for t in range(20)]
    rows.append(("k", 200, 50.0))   # spike vs a tight baseline
    rows.append(("k", 210, 5.0))    # normal again (spike inflates std but
                                    # window still catches nothing here)
    # a flat series: zero variance -> no flags ever
    rows += [("flat", t * 10, 7.0) for t in range(25)]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = {
        (r.key, r.ts): r
        for r in ts_anomalies(sdf, window_n=20, z=3.0).collect()
    }
    spike = got[("k", 200)]
    assert spike.anomaly and spike.zscore > 3.0
    assert not got[("k", 210)].anomaly
    # warm-up rows: no baseline
    assert got[("k", 0)].zscore is None and not got[("k", 0)].anomaly
    assert got[("k", 190)].zscore is None  # only 19 preceding
    # zero-variance window: never flags, zscore NULL
    assert all(
        not v.anomaly and v.zscore is None
        for (k, _), v in got.items()
        if k == "flat"
    )
    # flag_only returns exactly the anomalous rows
    flags = ts_anomalies(sdf, window_n=20, z=3.0, flag_only=True).collect()
    assert [(r.key, r.ts) for r in flags] == [("k", 200)]
    with _pytest.raises(ValueError):
        ts_anomalies(sdf, window_n=1)


def test_counter_increase_random_vs_sequential(spark):
    """ts_increase vs a literal sequential simulation on random series
    (NaNs, resets, range cuts) — 6 seeded trials."""
    import math
    import random as _random

    from redistimeseries_spark.operators.rate import ts_increase

    rng = _random.Random(0xC0FE)
    for trial in range(6):
        rows = []
        series = {}
        for k in ("a", "b", "c"):
            pts = sorted(rng.sample(range(0, 50_000), rng.randint(5, 40)))
            vals = []
            cur = 0.0
            for t in pts:
                if rng.random() < 0.12:
                    vals.append(float("nan"))
                    continue
                if rng.random() < 0.15:
                    cur = rng.uniform(0, 5)  # reset
                else:
                    cur += rng.uniform(0, 10)
                vals.append(cur)
            series[k] = [(t, v) for t, v in zip(pts, vals)]
            rows += [(k, t, v) for t, v in series[k]]
        dur = rng.choice([700, 1000, 5000])
        lo = rng.choice([0, rng.randrange(0, 30_000)])
        sdf = spark.createDataFrame(rows, "key string, ts long, value double")
        got = {
            (r.key, r.ts): r.increase
            for r in ts_increase(sdf, dur, start=lo).collect()
        }
        want = {}
        for k, pts in series.items():
            prev = None
            for t, v in pts:
                if math.isnan(v):
                    continue
                if prev is not None and t >= lo:
                    step = v - prev if v >= prev else v
                    b = t - t % dur
                    want[(k, b)] = want.get((k, b), 0.0) + step
                prev = v
        assert set(got) == set(want), (trial, dur, lo)
        for kk in got:
            assert math.isclose(got[kk], want[kk], abs_tol=1e-9), (trial, kk)


def test_gap_detection(spark):
    """ts_gaps: only intervals above the threshold report, NaN samples
    count as samples (bad value != collection gap), per-key isolation."""
    import pytest as _pytest

    from redistimeseries_spark.operators.rate import ts_gaps

    nan = float("nan")
    rows = [
        ("k", 0, 1.0), ("k", 100, 2.0), ("k", 5000, 3.0),  # 4900ms gap
        ("k", 5100, nan), ("k", 5200, 4.0),  # NaN bridges: no gap here
        ("j", 0, 1.0), ("j", 10_000, 1.0),   # second key's own gap
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = [(r.key, r.gap_start, r.gap_end, r.gap_ms)
           for r in ts_gaps(sdf, 1000).collect()]
    assert got == [("j", 0, 10_000, 10_000), ("k", 100, 5000, 4900)]
    with _pytest.raises(ValueError):
        ts_gaps(sdf, 0)


def test_ewma_random_vs_sequential(spark):
    """ts_ewma vs a literal Python recurrence on random series with NaNs
    and random alphas — 5 seeded trials."""
    import math
    import random as _random

    from redistimeseries_spark.operators.smooth import ts_ewma

    rng = _random.Random(0xE3A)
    for trial in range(5):
        alpha = rng.choice([0.1, 0.3, 0.5, 0.9])
        rows, want = [], {}
        for k in ("a", "b"):
            y = None
            for t in sorted(rng.sample(range(0, 10_000), rng.randint(3, 30))):
                v = float("nan") if rng.random() < 0.15 else rng.uniform(-10, 10)
                rows.append((k, t, v))
                if math.isnan(v):
                    continue
                y = v if y is None else alpha * v + (1 - alpha) * y
                want[(k, t)] = y
        sdf = spark.createDataFrame(rows, "key string, ts long, value double")
        got = {(r.key, r.ts): r.ewma for r in ts_ewma(sdf, alpha).collect()}
        assert set(got) == set(want), (trial, alpha)
        for kk in got:
            assert math.isclose(got[kk], want[kk], rel_tol=1e-12), (trial, kk)


def test_holt_random_vs_sequential(spark):
    """ts_holt vs a literal Python two-state recurrence on random series
    with NaNs and random smoothing factors — 5 seeded trials."""
    import math
    import random as _random

    from redistimeseries_spark.operators.smooth import ts_holt

    rng = _random.Random(0x407C)
    for trial in range(5):
        a = rng.choice([0.2, 0.4, 0.7, 1.0])
        b = rng.choice([0.1, 0.3, 0.8])
        rows, want = [], {}
        for k in ("a", "b"):
            xs = []
            for t in sorted(rng.sample(range(0, 10_000), rng.randint(2, 30))):
                v = float("nan") if rng.random() < 0.15 else rng.uniform(-10, 10)
                rows.append((k, t, v))
                if not math.isnan(v):
                    xs.append((t, v))
            if len(xs) < 2:
                continue
            lv, tr = xs[0][1], xs[1][1] - xs[0][1]
            want[(k, xs[0][0])] = (lv, tr)
            for t, x in xs[1:]:
                nl = a * x + (1 - a) * (lv + tr)
                tr = b * (nl - lv) + (1 - b) * tr
                lv = nl
                want[(k, t)] = (lv, tr)
        sdf = spark.createDataFrame(rows, "key string, ts long, value double")
        got = {
            (r.key, r.ts): (r.level, r.trend)
            for r in ts_holt(sdf, a, b).collect()
        }
        assert set(got) == set(want), (trial, a, b)
        for kk in got:
            assert math.isclose(got[kk][0], want[kk][0], rel_tol=1e-12) and (
                math.isclose(got[kk][1], want[kk][1], rel_tol=1e-12)
                or abs(got[kk][1] - want[kk][1]) < 1e-12
            ), (trial, kk)


def test_ewma_chunked_vs_sequential_differential(spark):
    """The round-9 skew-safe chunked ts_ewma vs the retained bare-key
    sequential twin, with chunk_ms forced TINY (2000 ms over a 0..60000
    ts domain -> up to ~30 chunks/key) so the affine stitch, the
    first-chunk virtual entry and single-sample chunks are all
    exercised.  10 seeded trials with NaNs, duplicate timestamps and
    random alphas; pinned within 1e-9 (the chunked composition is
    mathematically exact, float order differs — module docstring)."""
    import math
    import random as _random

    from redistimeseries_spark.operators.smooth import (
        _ts_ewma_sequential,
        ts_ewma,
    )

    rng = _random.Random(0x9E3A)
    for trial in range(10):
        alpha = rng.choice([0.05, 0.3, 0.5, 0.9, 1.0])
        rows = []
        for k in ("a", "b", "solo1"):
            n = 1 if k == "solo1" else rng.randint(2, 60)
            for t in sorted(rng.sample(range(0, 60_000), n)):
                v = float("nan") if rng.random() < 0.15 else rng.uniform(-10, 10)
                rows.append((k, t, v))
                if rng.random() < 0.1:  # duplicate timestamp
                    rows.append((k, t, rng.uniform(-10, 10)))
        sdf = spark.createDataFrame(rows, "key string, ts long, value double")

        def by_key(res):  # dup-ts rows emit >1 value per (key, ts)
            out = {}
            for r in res:
                out.setdefault((r.key, r.ts), []).append(r.ewma)
            return {k: sorted(v) for k, v in out.items()}

        got = by_key(ts_ewma(sdf, alpha, chunk_ms=2000).collect())
        want = by_key(_ts_ewma_sequential(sdf, alpha).collect())
        assert set(got) == set(want), (trial, alpha)
        for kk in got:
            assert len(got[kk]) == len(want[kk]), (trial, kk)
            for g, w in zip(got[kk], want[kk]):
                assert math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-9), (
                    trial, alpha, kk, got[kk], want[kk],
                )


def test_holt_chunked_vs_sequential_differential(spark):
    """The round-9 chunked ts_holt vs the sequential twin under forced
    tiny chunks — covers the two-point seed split across chunks (a
    first chunk holding ONE sample), single-sample interior chunks,
    NaNs, duplicate timestamps.  Pinned within 1e-9."""
    import math
    import random as _random

    from redistimeseries_spark.operators.smooth import (
        _ts_holt_sequential,
        ts_holt,
    )

    rng = _random.Random(0xB017)
    for trial in range(10):
        a = rng.choice([0.2, 0.4, 0.7, 1.0])
        b = rng.choice([0.1, 0.3, 0.8, 1.0])
        rows = [
            # pinned shape: first chunk (chunk_ms=2000) holds exactly one
            # sample, so the trend seed spans the chunk boundary
            ("seedsplit", 100, 3.0),
            ("seedsplit", 2100, 7.0),
            ("seedsplit", 2200, 1.0),
            ("seedsplit", 9100, 4.0),
            ("solo1", 50, 5.0),
        ]
        for k in ("a", "b"):
            for t in sorted(rng.sample(range(0, 60_000), rng.randint(2, 60))):
                v = float("nan") if rng.random() < 0.15 else rng.uniform(-10, 10)
                rows.append((k, t, v))
                if rng.random() < 0.1:
                    rows.append((k, t, rng.uniform(-10, 10)))
        sdf = spark.createDataFrame(rows, "key string, ts long, value double")

        def by_key(res):  # dup-ts rows emit >1 (level, trend) per (key, ts)
            out = {}
            for r in res:
                out.setdefault((r.key, r.ts), []).append((r.level, r.trend))
            return {k: sorted(v) for k, v in out.items()}

        got = by_key(ts_holt(sdf, a, b, chunk_ms=2000).collect())
        want = by_key(_ts_holt_sequential(sdf, a, b).collect())
        assert set(got) == set(want), (trial, a, b)
        assert ("solo1", 50) not in got  # <2 samples emits nothing
        for kk in got:
            assert len(got[kk]) == len(want[kk]), (trial, kk)
            for g, w in zip(got[kk], want[kk]):
                for i in (0, 1):
                    assert math.isclose(
                        g[i], w[i], rel_tol=1e-9, abs_tol=1e-9
                    ), (trial, a, b, kk, got[kk], want[kk])


def test_anomalies_chunked_vs_key_window_differential(spark):
    """The round-9 chunk-context ts_anomalies (bounded-window state
    carried as <=window_n-sample context arrays over the chunk frame) vs
    the retained bare-key-window twin, under forced tiny chunks — sparse
    chunks holding fewer than window_n samples (context spans MULTIPLE
    previous chunks), NaNs, duplicate timestamps, flag_only.  Every real
    row must see the identical preceding multiset, so values pin at
    1e-9."""
    import math
    import random as _random

    from redistimeseries_spark.operators.smooth import (
        _ts_anomalies_key_window,
        ts_anomalies,
    )

    rng = _random.Random(0xA404)
    for trial in range(6):
        n_w = rng.choice([3, 5, 20])
        rows = []
        for k in ("dense", "sparse"):
            n = rng.randint(40, 80) if k == "dense" else rng.randint(5, 15)
            for t in sorted(rng.sample(range(0, 60_000), n)):
                v = float("nan") if rng.random() < 0.1 else rng.uniform(-5, 9)
                rows.append((k, t, v))
                if rng.random() < 0.08:
                    rows.append((k, t, rng.uniform(-5, 9)))
        sdf = spark.createDataFrame(rows, "key string, ts long, value double")

        def by_key(res):
            out = {}
            for r in res:
                out.setdefault((r.key, r.ts), []).append(
                    (r.value, r.mean, r.std, r.zscore, r.anomaly)
                )
            return {
                k: sorted(v, key=lambda x: (x[0], x[1] is None))
                for k, v in out.items()
            }

        got = by_key(ts_anomalies(sdf, n_w, 2.0, chunk_ms=2000).collect())
        want = by_key(_ts_anomalies_key_window(sdf, n_w, 2.0).collect())
        assert set(got) == set(want), (trial, n_w)
        for kk in got:
            assert len(got[kk]) == len(want[kk]), (trial, kk)
            for g, w in zip(got[kk], want[kk]):
                assert g[4] == w[4], (trial, kk, g, w)  # anomaly flag
                for i in range(4):
                    if g[i] is None or w[i] is None:
                        assert g[i] == w[i], (trial, kk, g, w)
                    else:
                        assert math.isclose(
                            g[i], w[i], rel_tol=1e-9, abs_tol=1e-9
                        ), (trial, n_w, kk, g, w)
        fg = sorted(
            (r.key, r.ts)
            for r in ts_anomalies(
                sdf, n_w, 2.0, chunk_ms=2000, flag_only=True
            ).collect()
        )
        fw = sorted(
            (r.key, r.ts)
            for r in _ts_anomalies_key_window(
                sdf, n_w, 2.0, flag_only=True
            ).collect()
        )
        assert fg == fw, (trial, n_w)


def test_fuzz_anomalies_fast(spark):
    """ts_anomalies(fast=True) — the round-10 centered-cumsum rolling
    formulation (growing frames, O(1)/row) vs the stable sliding-frame
    default, under forced tiny chunks: same rows, same anomaly flags,
    mean/std/zscore within 1e-6 (the two-pass formula's documented
    contract; the default stays the oracle-gated plan)."""
    import math
    import random as _random

    from redistimeseries_spark.operators.smooth import ts_anomalies

    rng = _random.Random(0xFA57)
    for trial in range(4):
        n_w = rng.choice([3, 5, 20])
        rows = []
        for k in ("dense", "sparse", "offset"):
            n = rng.randint(40, 80) if k == "dense" else rng.randint(5, 25)
            base = 10_000.0 if k == "offset" else 0.0  # exercise centering
            for t in sorted(rng.sample(range(0, 60_000), n)):
                v = (
                    float("nan") if rng.random() < 0.1
                    else base + rng.uniform(-5, 9)
                )
                rows.append((k, t, v))
                if rng.random() < 0.08:
                    rows.append((k, t, base + rng.uniform(-5, 9)))
        sdf = spark.createDataFrame(rows, "key string, ts long, value double")

        def by_key(res):
            out = {}
            for r in res:
                out.setdefault((r.key, r.ts), []).append(
                    (r.value, r.mean, r.std, r.zscore, r.anomaly)
                )
            return {
                k: sorted(v, key=lambda x: (x[0], x[1] is None))
                for k, v in out.items()
            }

        got = by_key(
            ts_anomalies(sdf, n_w, 2.0, chunk_ms=2000, fast=True).collect()
        )
        want = by_key(ts_anomalies(sdf, n_w, 2.0, chunk_ms=2000).collect())
        assert set(got) == set(want), (trial, n_w)
        for kk in got:
            assert len(got[kk]) == len(want[kk]), (trial, kk)
            for g, w in zip(got[kk], want[kk]):
                assert g[4] == w[4], (trial, kk, g, w)
                for i in range(4):
                    if g[i] is None or w[i] is None:
                        assert g[i] == w[i], (trial, kk, g, w)
                    else:
                        assert math.isclose(
                            g[i], w[i], rel_tol=1e-6, abs_tol=1e-6
                        ), (trial, n_w, kk, g, w)


def test_ewm_band(spark):
    """ts_ewm_band (round 10): EWM mean +- k * EWM std — constant series
    collapse the band (no breakouts), a spike breaks out, values match
    pandas ewm mean/var(bias=True) through forced tiny chunks, and
    duplicate (key, ts) rows fold to the effective sample first."""
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from redistimeseries_spark.operators.smooth import ts_ewm_band

    # constant series: ewma == value, std == 0, never a breakout
    rows = [("c", i * 1000, 5.0) for i in range(10)]
    got = ts_ewm_band(
        spark.createDataFrame(rows, "key string, ts long, value double"),
        0.3,
    ).collect()
    assert all(
        r.ewma == 5.0 and r.std == _pytest.approx(0.0) and not r.breakout
        for r in got
    )

    # noisy-flat series with one spike: exactly the spike breaks out
    import random as _random

    rng = _random.Random(0xB011)
    vals = [10.0 + rng.uniform(-0.5, 0.5) for _ in range(40)]
    vals[25] = 30.0
    rows = [("s", i * 1000, v) for i, v in enumerate(vals)]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    out = {r.ts: r for r in ts_ewm_band(sdf, 0.2, band_k=4.0).collect()}
    assert out[25_000].breakout
    assert sum(1 for r in out.values() if r.breakout) == 1

    # pandas differential (bias=True variance), through tiny chunks;
    # the band is the ONE-STEP-AHEAD (previous-state) envelope
    s = pd.Series(vals)
    m = s.ewm(alpha=0.2, adjust=False).mean()
    v = s.ewm(alpha=0.2, adjust=False).var(bias=True)
    chunked = {
        r.ts: r for r in ts_ewm_band(sdf, 0.2, band_k=4.0,
                                     chunk_ms=4096).collect()
    }
    for i in range(40):
        r = chunked[i * 1000]
        assert r.ewma == _pytest.approx(m.iloc[i], abs=1e-9)
        assert r.std == _pytest.approx(
            float(np.sqrt(max(v.iloc[i], 0.0))), abs=1e-9
        )
        pm = m.iloc[i - 1] if i else vals[0]
        pv = max(v.iloc[i - 1], 0.0) if i else 0.0
        assert r.upper == _pytest.approx(
            pm + 4.0 * float(np.sqrt(pv)), abs=1e-8
        ), i
        assert r.lower == _pytest.approx(
            pm - 4.0 * float(np.sqrt(pv)), abs=1e-8
        ), i

    # duplicate fold: a negative dup pair (value-order flips under
    # squaring) — band equals the band of the pre-folded input
    dup_rows = [("d", 0, -3.0), ("d", 0, 2.0), ("d", 1000, 1.0)]
    fold_rows = [("d", 0, 2.0), ("d", 1000, 1.0)]
    a = sorted(
        map(
            tuple,
            ts_ewm_band(
                spark.createDataFrame(
                    dup_rows, "key string, ts long, value double"
                ),
                0.4,
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            ts_ewm_band(
                spark.createDataFrame(
                    fold_rows, "key string, ts long, value double"
                ),
                0.4,
            ).collect(),
        )
    )
    assert a == b

    with _pytest.raises(ValueError, match="band_k"):
        ts_ewm_band(sdf, 0.2, band_k=0.0)


def test_adaptive_chunk_grid_smoothers(spark, monkeypatch):
    """Round 11: the pandas-backed smoothers default to the
    density-adaptive per-key chunk grid — a balanced fleet keeps ONE
    group per key (single-pass kernel), a hot key splits into
    ~target-row chunks — and every grid agrees with the sequential
    twins at 1e-9 (the fixed 1<<24 ms grid had splintered 20-sample
    keys into per-row Arrow groups: 1.7 -> 30+ s at 10M/balanced)."""
    import random as _random

    import pytest as _pytest

    import redistimeseries_spark.operators.smooth as S

    rng = _random.Random(0xADA7)
    rows = [
        (f"k{i}", t * 977, rng.uniform(-5, 5))
        for i in range(6)
        for t in range(50)
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")

    def pin(got, want, cols):
        g = {(r.key, r.ts): r for r in got.collect()}
        w = {(r.key, r.ts): r for r in want.collect()}
        assert g.keys() == w.keys()
        for k in g:
            for c in cols:
                assert g[k][c] == _pytest.approx(w[k][c], abs=1e-9), (k, c)

    seq_e = S._ts_ewma_sequential(sdf, 0.3)
    seq_h = S._ts_holt_sequential(sdf, 0.4, 0.2)
    # cold path (50 rows/key, one chunk each) and forced-hot path
    # (target=8 rows -> ~7 chunks/key) both pin to the twins
    pin(S.ts_ewma(sdf, 0.3), seq_e, ["ewma"])
    pin(S.ts_holt(sdf, 0.4, 0.2), seq_h, ["level", "trend"])
    band_cold = S.ts_ewm_band(sdf, 0.3, band_k=2.0)
    monkeypatch.setattr(S, "ADAPTIVE_TARGET_ROWS", 8)
    pin(S.ts_ewma(sdf, 0.3), seq_e, ["ewma"])
    pin(S.ts_holt(sdf, 0.4, 0.2), seq_h, ["level", "trend"])
    pin(
        S.ts_ewm_band(sdf, 0.3, band_k=2.0),
        band_cold,
        ["ewma", "std", "upper", "lower"],
    )


def test_ewm_band_large_offset(spark):
    """Round-10 ADVICE (medium): with UNCENTERED moments a mean-1e6 /
    std<=10 series has q ~ 1e12, so genuine variance (~100) fell below
    the 1e-10*q credibility snap — band collapsed, every breakout
    suppressed.  Centered on the key's first sample, q is
    variance-scaled: the band stays open and the injected spike flags;
    values still match pandas ewm mean/var(bias=True) through forced
    tiny chunks."""
    import random as _random

    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from redistimeseries_spark.operators.smooth import ts_ewm_band

    rng = _random.Random(0x0FF5E7)
    base = 1_000_000.0
    vals = [base + rng.gauss(0.0, 5.0) for _ in range(60)]
    vals[40] = base + 200.0  # 40-sigma spike
    rows = [("k", i * 1000, v) for i, v in enumerate(vals)]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    out = {
        r.ts: r
        for r in ts_ewm_band(sdf, 0.2, band_k=4.0, chunk_ms=8192).collect()
    }
    # the spike breaks out and the band never collapses after warm-up
    assert out[40_000].breakout
    assert all(out[i * 1000].std > 1.0 for i in range(5, 40))
    # values match pandas on the RAW (uncentered) series — centering is
    # an internal numerical device, not a semantics change
    s = pd.Series(vals)
    m = s.ewm(alpha=0.2, adjust=False).mean()
    v = s.ewm(alpha=0.2, adjust=False).var(bias=True)
    for i in range(60):
        r = out[i * 1000]
        assert r.ewma == _pytest.approx(m.iloc[i], rel=1e-12)
        assert r.std == _pytest.approx(
            float(np.sqrt(max(v.iloc[i], 0.0))), rel=1e-6, abs=1e-9
        )


def test_resample_linear_and_locf(spark):
    """ts_resample: hand-computed linear interpolation and LOCF on a
    regular grid, coinciding samples returned exactly, NaN samples
    skipped, short series between grid lines emit nothing."""
    import math

    import pytest as _pytest

    from redistimeseries_spark.operators.resample import ts_resample

    nan = float("nan")
    rows = [
        ("k", 50, 10.0), ("k", 150, nan), ("k", 250, 30.0), ("k", 300, 40.0),
        ("short", 120, 5.0), ("short", 180, 6.0),  # no grid point inside
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    lin = {(r.key, r.ts): r.value for r in ts_resample(sdf, 100, "linear").collect()}
    # grid for k: 100, 200, 300; NaN at 150 ignored ->
    # t=100: between (50,10) and (250,30): 10 + 20*(50/200) = 15
    # t=200: 10 + 20*(150/200) = 25;  t=300: coincides with sample -> 40
    assert set(lin) == {("k", 100), ("k", 200), ("k", 300)}
    assert math.isclose(lin[("k", 100)], 15.0)
    assert math.isclose(lin[("k", 200)], 25.0)
    assert lin[("k", 300)] == 40.0
    locf = {(r.key, r.ts): r.value for r in ts_resample(sdf, 100, "locf").collect()}
    assert locf == {("k", 100): 10.0, ("k", 200): 10.0, ("k", 300): 40.0}
    with _pytest.raises(ValueError):
        ts_resample(sdf, 0)
    with _pytest.raises(ValueError):
        ts_resample(sdf, 100, "cubic")


def test_deriv_slope(spark):
    """ts_deriv: exact slope on a synthetic line, per-second units,
    NaNs excluded, <2-valid-sample buckets not emitted, centered
    abscissa at epoch-ms magnitudes stays exact."""
    import math

    import pytest as _pytest

    from redistimeseries_spark.operators.rate import ts_deriv

    nan = float("nan")
    epoch = 1_705_000_000_000 - 1_705_000_000_000 % 1000
    rows = [
        # lin: value = 2.0 * seconds -> slope exactly 2.0/s, NaN ignored
        ("lin", epoch + 0, 0.0), ("lin", epoch + 250, 0.5),
        ("lin", epoch + 500, nan), ("lin", epoch + 750, 1.5),
        # flat: slope exactly 0
        ("flat", epoch + 0, 7.0), ("flat", epoch + 900, 7.0),
        # solo / nans-only: no slope definable -> not emitted
        ("solo", epoch + 100, 3.0),
        ("nans", epoch + 100, nan), ("nans", epoch + 200, nan),
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = {(r.key, r.ts): r.slope for r in ts_deriv(sdf, 1000).collect()}
    assert set(got) == {("lin", epoch), ("flat", epoch)}
    assert math.isclose(got[("lin", epoch)], 2.0)
    assert got[("flat", epoch)] == 0.0
    # range cut drops the line's last point -> slope still 2.0 on the rest
    cut = ts_deriv(sdf, 1000, keys="lin", end=epoch + 500).collect()
    assert math.isclose(cut[0].slope, 2.0)
    with _pytest.raises(ValueError):
        ts_deriv(sdf, 0)


def test_value_histogram(spark):
    """ts_value_histogram: half-open bins [lo, lo+w), negative values,
    exact-boundary values land in the upper bin, NaN excluded, empty
    bins absent, lo offset applied."""
    import pytest as _pytest

    from redistimeseries_spark.operators.percentiles import ts_value_histogram

    nan = float("nan")
    rows = [
        ("k", 0, 0.0), ("k", 1, 24.9), ("k", 2, 25.0),   # boundary -> bin 25
        ("k", 3, -0.1), ("k", 4, -25.0),                 # both in bin -25
        ("k", 5, nan),
        ("j", 0, 100.0),
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = {(r.key, r.bin_lo): r.n
           for r in ts_value_histogram(sdf, 25.0).collect()}
    assert got == {("k", 0.0): 2, ("k", 25.0): 1, ("k", -25.0): 2,
                   ("j", 100.0): 1}
    # lo shifts the grid: bins start at -12.5
    shifted = {r.bin_lo: r.n
               for r in ts_value_histogram(sdf, 25.0, lo=-12.5,
                                           keys="k").collect()}
    assert shifted == {-12.5: 2, 12.5: 2, -37.5: 1}
    with _pytest.raises(ValueError):
        ts_value_histogram(sdf, 0.0)


def test_delta_last_minus_first_per_bucket(spark):
    """ts_delta: last valid minus first valid value per bucket, NOT
    reset-aware (a drop is a negative delta), NaN dropped, <2-valid
    buckets not emitted, alignment shifts the lattice."""
    import math

    from redistimeseries_spark.operators.rate import ts_delta

    nan = float("nan")
    rows = [
        ("k", 100, 10.0), ("k", 500, nan), ("k", 900, 4.0),   # b0: 4-10
        ("k", 1200, 7.0),                                     # b1: 1 valid
        ("k", 2100, 5.0), ("k", 2900, 9.0),                   # b2: 9-5
        ("n", 300, nan), ("n", 700, nan),                     # all-NaN
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = {(r.key, r.ts): r.delta for r in ts_delta(sdf, 1000).collect()}
    assert got == {("k", 0): -6.0, ("k", 2000): 4.0}
    # alignment 500: k's bucket [500,1500) holds 900(4.0)+1200(7.0) -> 3.0
    al = {(r.key, r.ts): r.delta for r in ts_delta(sdf, 1000, align=500).collect()}
    assert al[("k", 500)] == 3.0
    # same-ts first/last are by ts, so a single-valid bucket never emits
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ts_delta(sdf, 0)


def test_idelta_last_two_samples(spark):
    """ts_idelta: last-two-sample difference (signed — no reset
    handling), NaN tail skipped, <2-sample keys not emitted, range cut
    changes which pair is 'last'."""
    from redistimeseries_spark.operators.rate import ts_idelta

    nan = float("nan")
    rows = [
        ("k", 0, 10.0), ("k", 1000, 20.0), ("k", 3000, 26.0),
        ("k", 3500, nan),                      # NaN tail: pair is (1000, 3000)
        ("r", 0, 100.0), ("r", 2000, 4.0),     # drop: idelta = -96 (signed)
        ("solo", 500, 7.0),
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = {r.key: (r.ts, r.idelta) for r in ts_idelta(sdf).collect()}
    assert got == {"k": (3000, 6.0), "r": (2000, -96.0)}
    cut = {r.key: (r.ts, r.idelta) for r in ts_idelta(sdf, end=1500).collect()}
    assert cut["k"] == (1000, 10.0)


def test_irate_last_two_samples(spark):
    """ts_irate: spot rate from the last two valid in-range samples,
    reset-aware, NaN tail skipped, <2-sample keys not emitted, range cut
    changes which pair is 'last'."""
    import math

    from redistimeseries_spark.operators.rate import ts_irate

    nan = float("nan")
    rows = [
        ("k", 0, 10.0), ("k", 1000, 20.0), ("k", 3000, 26.0),
        ("k", 3500, nan),                      # NaN tail: pair is (1000, 3000)
        ("r", 0, 100.0), ("r", 2000, 4.0),     # reset: irate = 4 / 2s
        ("solo", 500, 7.0),
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = {r.key: (r.ts, r.irate) for r in ts_irate(sdf).collect()}
    assert set(got) == {"k", "r"}
    assert got["k"][0] == 3000 and math.isclose(got["k"][1], 6.0 / 2.0)
    assert got["r"] == (2000, 2.0)
    cut = {r.key: (r.ts, r.irate) for r in ts_irate(sdf, end=1500).collect()}
    assert cut["k"][0] == 1000 and math.isclose(cut["k"][1], 10.0 / 1.0)


def test_bucket_chain_vs_key_window_differential(spark):
    """The skew-safe bucket-local chain (`rate._CHAIN_SQL`) is pinned
    equal to its pre-round-8 key-window twin (`_key_window_chain`) across
    the whole family (ts_increase / ts_changes / ts_resets), random NaNs,
    resets, duplicate-bucket boundaries, and BOTH range cuts + align —
    the rewrite's semantics contract."""
    import math
    import random as _random

    from redistimeseries_spark.operators.rate import (
        _increase_step,
        _key_window_chain,
        ts_changes,
        ts_increase,
        ts_resets,
    )

    # member: (operator, its output column, the key-window step)
    steps = {
        "increase": (ts_increase, "increase", _increase_step),
        "changes": (ts_changes, "changes", lambda v, p: (v != p).cast("int")),
        "resets": (ts_resets, "resets", lambda v, p: (v < p).cast("int")),
    }
    rng = _random.Random(0xB00C)
    for trial in range(8):
        rows = []
        for k in ("a", "b", "c", "d"):
            pts = sorted(rng.sample(range(0, 40_000), rng.randint(3, 50)))
            cur = 0.0
            for t in pts:
                if rng.random() < 0.1:
                    rows.append((k, t, float("nan")))
                    continue
                cur = (
                    rng.uniform(0, 4)
                    if rng.random() < 0.2
                    else cur + rng.choice([0.0, rng.uniform(0, 8)])
                )
                rows.append((k, t, cur))
        sdf = spark.createDataFrame(rows, "key string, ts long, value double")
        dur = rng.choice([900, 1000, 7000])
        lo = rng.choice([0, rng.randrange(0, 25_000)])
        hi = rng.choice([2**63 - 1, rng.randrange(lo + 1, 60_000)])
        align = rng.choice(["0", "137"])
        name, (op, col, fn) = rng.choice(sorted(steps.items()))
        got = {
            (r["key"], r["ts"]): r[col]
            for r in op(sdf, dur, None, lo, hi, align).collect()
        }
        want = {
            (r["key"], r["ts"]): r["__v"]
            for r in _key_window_chain(
                sdf, dur, fn, None, lo, hi, align
            ).collect()
        }
        assert set(got) == set(want), (trial, name, dur, lo, hi, align)
        for kk in got:
            assert math.isclose(
                float(got[kk]), float(want[kk]), abs_tol=1e-9
            ), (trial, name, kk)


def test_bucket_chain_plan_is_bucket_local(spark):
    """The full-data lag window partitions by (key, bucket) — never bare
    key — so one hot series can't serialize its history into one task;
    the only bare-key window in the plan is over the per-bucket
    aggregated frame."""
    from redistimeseries_spark.operators.rate import ts_increase

    sdf = spark.createDataFrame(
        [("k", t, float(t)) for t in range(50)],
        "key string, ts long, value double",
    )
    plan = ts_increase(sdf, 1000)._jdf.queryExecution().executedPlan().toString()
    # the sample-level window (lag(value)) carries both partition keys
    import re

    lag_windows = [
        ln for ln in plan.splitlines() if "lag(value" in ln and "Window" in ln
    ]
    assert lag_windows, plan
    assert all("__b" in ln for ln in lag_windows), plan


def test_idelta_irate_duplicate_ts_deterministic(spark):
    """Duplicate (key, ts) rows at the range boundary: exactly ONE row
    per key, deterministically the largest value at the max ts (ADVICE
    r7) — and a zero-span last pair defines no rate for ts_irate."""
    import math

    from redistimeseries_spark.operators.rate import ts_idelta, ts_irate

    rows = [
        ("k", 0, 1.0), ("k", 1000, 5.0),
        ("k", 2000, 9.0), ("k", 2000, 3.0),   # dup at max ts
        ("z", 500, 2.0), ("z", 500, 8.0),     # ONLY dup rows: zero span
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    for _ in range(3):  # stable across shuffles/retries
        got = {r.key: (r.ts, r.idelta) for r in ts_idelta(sdf).collect()}
        # k: last = (2000, 9.0), prev in (ts, value) order = (2000, 3.0)
        assert got["k"] == (2000, 6.0)
        # z: pair exists (8.0 - 2.0) — idelta is time-free, so it emits
        assert got["z"] == (500, 6.0)
        ir = {r.key: (r.ts, r.irate) for r in ts_irate(sdf).collect()}
        # k's last pair spans 0 ms -> no rate; z likewise
        assert "k" not in ir and "z" not in ir

    rows2 = [("k", 0, 10.0), ("k", 2000, 4.0), ("k", 2000, 6.0)]
    sdf2 = spark.createDataFrame(rows2, "key string, ts long, value double")
    ir2 = {r.key: (r.ts, r.irate) for r in ts_irate(sdf2).collect()}
    assert "k" not in ir2  # last pair is the two ts=2000 rows: zero span
    id2 = {r.key: (r.ts, r.idelta) for r in ts_idelta(sdf2).collect()}
    assert id2["k"] == (2000, 2.0)


def test_gaps_across_chunk_boundaries(spark):
    """The skew-safe ts_gaps recovers the consecutive pair that crosses
    the internal time-chunk edge — including multi-chunk-spanning gaps
    (intervening chunks are EMPTY, so the boundary lag still pairs the
    true neighbors)."""
    from redistimeseries_spark.operators.rate import (
        _LAST_PAIR_CHUNK_MS as C,
    )
    from redistimeseries_spark.operators.rate import ts_gaps

    rows = [
        ("k", 100, 1.0),
        ("k", C - 50, 1.0),        # same chunk: local gap C-150
        ("k", C + 200, 1.0),       # crosses one edge: gap 250
        ("k", 5 * C + 7, 1.0),     # spans 4 empty chunks: gap 4C-193
        ("q", 10, 1.0),            # single-sample key: no gaps
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = sorted(
        (r.key, r.gap_start, r.gap_end, r.gap_ms)
        for r in ts_gaps(sdf, min_gap_ms=200).collect()
    )
    assert got == [
        ("k", 100, C - 50, C - 150),
        ("k", C - 50, C + 200, 250),
        ("k", C + 200, 5 * C + 7, 4 * C - 193),
    ]


def test_mad_and_outliers(spark):
    """ts_mad: exact interpolated median/MAD per bucket, NaN dropped,
    empty buckets absent; ts_outlier_mad: Hampel flags from the rounded
    score, mad=0 buckets flag nothing."""
    import math

    from redistimeseries_spark.operators.percentiles import (
        ts_mad,
        ts_outlier_mad,
    )

    nan = float("nan")
    rows = [
        # bucket 0: values 1,2,4,9 -> med 3.0, deviations (2,1,1,6) -> mad 1.5
        ("k", 0, 1.0), ("k", 100, 2.0), ("k", 200, 4.0), ("k", 300, 9.0),
        ("k", 400, nan),
        # bucket 1000: constant -> med 5, mad 0 (degenerate)
        ("k", 1000, 5.0), ("k", 1100, 5.0), ("k", 1200, 5.0),
        # bucket 2000: one wild outlier among tight values
        ("q", 2000, 10.0), ("q", 2100, 10.5), ("q", 2200, 9.5),
        ("q", 2300, 10.2), ("q", 2400, 100.0),
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = {
        (r.key, r.ts): (r.med, r.mad) for r in ts_mad(sdf, 1000).collect()
    }
    assert math.isclose(got[("k", 0)][0], 3.0)
    assert math.isclose(got[("k", 0)][1], 1.5)
    assert got[("k", 1000)] == (5.0, 0.0)

    out = {
        (r.key, r.ts): (r.score, r.is_outlier)
        for r in ts_outlier_mad(sdf, 1000, k=3.0).collect()
    }
    # q bucket: med 10.2, mad = median(|dev|) of (0.2, 0.3, 0.7, 0.0, 89.8) = 0.3
    assert out[("q", 2400)][1] is True
    assert all(not out[("q", t)][1] for t in (2000, 2100, 2200, 2300))
    # degenerate bucket: score NULL, never an outlier
    assert out[("k", 1000)] == (None, False)
    # NaN sample absent entirely
    assert ("k", 400) not in out


def test_histogram_quantile(spark):
    """ts_histogram_quantile: PromQL rank + first-crossing-bin uniform
    interpolation; q=1 hits the last occupied bin's upper edge; q=0
    lands at the first bin's floor; validation errors."""
    import math

    import pytest as _pytest

    from redistimeseries_spark.operators.percentiles import (
        ts_histogram_quantile,
    )

    # key h: bins 0.0 (n=2), 10.0 (n=6), 30.0 (n=2) -> total 10
    hist = spark.createDataFrame(
        [("h", 0.0, 2), ("h", 10.0, 6), ("h", 30.0, 2), ("solo", 50.0, 4)],
        "key string, bin_lo double, n long",
    )
    got = {r.key: r.qv for r in ts_histogram_quantile(hist, 0.5, 10.0).collect()}
    # rank 5 -> second bin (cum 8), inside: 10 + 10*(5-2)/6 = 15.0
    assert math.isclose(got["h"], 15.0)
    assert math.isclose(got["solo"], 55.0)  # rank 2 of 4 in one bin
    q1 = {r.key: r.qv for r in ts_histogram_quantile(hist, 1.0, 10.0).collect()}
    assert math.isclose(q1["h"], 40.0) and math.isclose(q1["solo"], 60.0)
    q0 = {r.key: r.qv for r in ts_histogram_quantile(hist, 0.0, 10.0).collect()}
    assert math.isclose(q0["h"], 0.0)
    with _pytest.raises(ValueError):
        ts_histogram_quantile(hist, 1.5, 10.0)
    with _pytest.raises(ValueError):
        ts_histogram_quantile(hist, 0.5, 0.0)


def test_mad_random_vs_numpy(spark):
    """ts_mad vs numpy's interpolated percentile on random series —
    6 seeded trials (the exactness claim behind the DuckDB oracle)."""
    import math
    import random as _random

    import numpy as np

    from redistimeseries_spark.operators.percentiles import ts_mad

    rng = _random.Random(0x3AD)
    for trial in range(6):
        rows = []
        want = {}
        for k in ("a", "b"):
            for bstart in range(0, 5000, 1000):
                n = rng.randint(0, 7)
                vals = [rng.uniform(-10, 10) for _ in range(n)]
                for i, v in enumerate(vals):
                    rows.append((k, bstart + i * 97, v))
                if vals:
                    med = float(np.percentile(vals, 50))
                    mad = float(
                        np.percentile([abs(v - med) for v in vals], 50)
                    )
                    want[(k, bstart)] = (med, mad)
        if not rows:
            continue
        sdf = spark.createDataFrame(rows, "key string, ts long, value double")
        got = {
            (r.key, r.ts): (r.med, r.mad)
            for r in ts_mad(sdf, 1000).collect()
        }
        assert set(got) == set(want), trial
        for kk in got:
            assert math.isclose(got[kk][0], want[kk][0], abs_tol=1e-9), kk
            assert math.isclose(got[kk][1], want[kk][1], abs_tol=1e-9), kk


def test_mad_approx_escape_hatch(spark):
    """ts_mad(exact=False) — the round-9 t-digest escape hatch for
    pathological buckets: same (key, bucket) emission set as the exact
    path, med/mad within approx_percentile's documented accuracy on
    random buckets (loose tolerance: the approx path is documented
    non-oracle-exact), and the plan carries NO collect_list buffer."""
    import random as _random

    from redistimeseries_spark.operators.percentiles import ts_mad

    rng = _random.Random(0x3AD)
    rows = []
    for k in ("a", "b"):
        for t in sorted(rng.sample(range(0, 10_000), 400)):
            v = float("nan") if rng.random() < 0.1 else rng.uniform(0, 100)
            rows.append((k, t, v))
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    exact = {
        (r.key, r.ts): (r.med, r.mad) for r in ts_mad(sdf, 1000).collect()
    }
    approx = {
        (r.key, r.ts): (r.med, r.mad)
        for r in ts_mad(sdf, 1000, exact=False).collect()
    }
    assert set(exact) == set(approx)
    for kk in exact:
        # ~40 uniform samples per bucket on [0, 100]: the t-digest at
        # default accuracy lands within a few value-units of the exact
        # interpolated median — a sanity band, not an exactness claim
        assert abs(exact[kk][0] - approx[kk][0]) < 10.0, (kk, exact[kk], approx[kk])
        assert abs(exact[kk][1] - approx[kk][1]) < 10.0, (kk, exact[kk], approx[kk])
    plan = (
        ts_mad(sdf, 1000, exact=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "collect_list" not in plan and "approx_percentile" in plan


def test_gaps_random_vs_sequential(spark):
    """ts_gaps (chunk-local + boundary-stitch) vs a literal sequential
    simulation on random series — 6 seeded trials with ts ranges far
    wider than the internal chunk, NaN samples counted as samples, and
    range cuts."""
    import random as _random

    from redistimeseries_spark.operators.rate import (
        _LAST_PAIR_CHUNK_MS as C,
    )
    from redistimeseries_spark.operators.rate import ts_gaps

    rng = _random.Random(0x6A75)
    for trial in range(6):
        rows = []
        series = {}
        for k in ("a", "b"):
            pts = sorted(rng.sample(range(0, 6 * C), rng.randint(2, 40)))
            series[k] = pts
            for t in pts:
                v = float("nan") if rng.random() < 0.2 else rng.random()
                rows.append((k, t, v))
        thr = rng.choice([C // 2, C, 2 * C, 1000])
        lo = rng.choice([0, rng.randrange(0, 3 * C)])
        sdf = spark.createDataFrame(rows, "key string, ts long, value double")
        got = sorted(
            (r.key, r.gap_start, r.gap_end, r.gap_ms)
            for r in ts_gaps(sdf, thr, start=lo).collect()
        )
        want = []
        for k, pts in series.items():
            inr = [t for t in pts if t >= lo]
            for t0, t1 in zip(inr, inr[1:]):
                if t1 - t0 > thr:
                    want.append((k, t0, t1, t1 - t0))
        assert got == sorted(want), (trial, thr, lo)


# --------------------------------------------------------------------------
# ts_rolling_quantile (round 11) — moving median / rolling robust stats
# --------------------------------------------------------------------------

def test_rolling_quantile_vs_pandas(spark):
    """Random series vs pandas' rolling(...).quantile(interpolation=
    'linear') — an independent implementation of the same exact
    quantile_cont semantics — at three q values, full and partial
    (min_n=1) warm-up conventions."""
    import pandas as pd
    import random as _random

    from redistimeseries_spark.operators.percentiles import (
        ts_rolling_quantile,
    )

    rng = _random.Random(31)
    rows = [("rk", i * 1000, rng.uniform(-100, 100)) for i in range(150)]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    ser = pd.Series([v for _, _, v in rows])
    for q in (0.5, 0.25, 0.9):
        got = {
            r.ts: (r.n, r.rq)
            for r in ts_rolling_quantile(sdf, q, 10).collect()
        }
        want = ser.rolling(10).quantile(q, interpolation="linear")
        assert len(got) == 150
        for i in range(150):
            n, rq = got[i * 1000]
            assert n == min(i + 1, 10)
            if i < 9:
                assert rq is None
            else:
                assert rq == pytest.approx(want.iloc[i], abs=1e-9)
    # min_n=1: emit from the first sample (pandas min_periods=1)
    got = {
        r.ts: r.rq
        for r in ts_rolling_quantile(sdf, 0.5, 10, min_n=1).collect()
    }
    want = ser.rolling(10, min_periods=1).median()
    for i in range(150):
        assert got[i * 1000] == pytest.approx(want.iloc[i], abs=1e-9)


def test_rolling_quantile_chunk_equivalence_fuzz(spark):
    """Forced tiny chunks (context rows cross every boundary) ==
    one-chunk plan == bare computation, under gaps, NaNs and
    duplicate timestamps."""
    import random as _random

    from redistimeseries_spark.operators.percentiles import (
        ts_rolling_quantile,
    )

    rng = _random.Random(47)
    rows = []
    for key in ("f1", "f2", "f3"):
        t = 0
        for _ in range(rng.randint(40, 120)):
            t += rng.randint(1, 5000)
            v = float("nan") if rng.random() < 0.1 else rng.uniform(0, 50)
            rows.append((key, t, v))
            if rng.random() < 0.08:  # duplicate ts, distinct value
                rows.append((key, t, rng.uniform(0, 50)))
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    big = sorted(
        (r.key, r.ts, r.value, r.n, None if r.rq is None else round(r.rq, 9))
        for r in ts_rolling_quantile(sdf, 0.5, 7, chunk_ms=1 << 40).collect()
    )
    tiny = sorted(
        (r.key, r.ts, r.value, r.n, None if r.rq is None else round(r.rq, 9))
        for r in ts_rolling_quantile(sdf, 0.5, 7, chunk_ms=3000).collect()
    )
    default = sorted(
        (r.key, r.ts, r.value, r.n, None if r.rq is None else round(r.rq, 9))
        for r in ts_rolling_quantile(sdf, 0.5, 7).collect()
    )
    assert big == tiny == default
    # NaN rows are dropped entirely, not emitted with NULL rq
    n_valid = sum(1 for _, _, v in rows if not math.isnan(v))
    assert len(big) == n_valid


def test_rolling_quantile_validation_and_edges(spark):
    from redistimeseries_spark.operators.percentiles import (
        ts_rolling_quantile,
    )

    sdf = spark.createDataFrame(
        [("e", 0, 5.0), ("e", 1000, 7.0)], "key string, ts long, value double"
    )
    # window_n=1: rq == value everywhere (quantile of a single sample)
    got = {r.ts: r.rq for r in ts_rolling_quantile(sdf, 0.9, 1).collect()}
    assert got == {0: 5.0, 1000: 7.0}
    for bad in (-0.1, 1.5):
        with pytest.raises(ValueError, match="q must"):
            ts_rolling_quantile(sdf, bad, 5)
    with pytest.raises(ValueError, match="window_n"):
        ts_rolling_quantile(sdf, 0.5, 0)
    with pytest.raises(ValueError, match="min_n"):
        ts_rolling_quantile(sdf, 0.5, 5, min_n=6)
    with pytest.raises(ValueError, match="chunk_ms"):
        ts_rolling_quantile(sdf, 0.5, 5, chunk_ms=0)
