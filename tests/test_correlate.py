"""ts_corr / ts_cusum (round 10, operators/correlate) — hand-computed
cases, DuckDB oracles, and the chunk-local-vs-sequential CUSUM twin."""

from __future__ import annotations

import math
import random

import duckdb
import pytest

from redistimeseries_spark.operators.correlate import (
    _ts_cusum_sequential,
    ts_corr,
    ts_cusum,
)

NAN = float("nan")


def test_corr_hand_cases(spark):
    rows = []
    for i in range(10):
        rows.append(("a", i * 1000, float(i)))
        rows.append(("b", i * 1000, 2.0 * i + 3.0))   # corr +1 with a
        rows.append(("c", i * 1000, -float(i)))       # corr -1 with a
        rows.append(("d", i * 1000, 5.0))             # zero variance
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = {
        (r.key_a, r.key_b): (round(r.corr, 9), r.n)
        for r in ts_corr(
            sdf, 1_000_000, [("a", "b"), ("a", "c"), ("a", "d")]
        ).collect()
    }
    assert got == {("a", "b"): (1.0, 10), ("a", "c"): (-1.0, 10)}
    # ("a", "d") dropped: zero variance on the d leg


def test_corr_alignment_nan_and_dups(spark):
    rows = [
        ("a", 0, 1.0), ("a", 1000, 2.0), ("a", 2000, NAN), ("a", 3000, 4.0),
        # b misses ts=3000; has a NaN at 1000 and a dup pair at 0
        ("b", 0, 9.0), ("b", 0, 5.0), ("b", 1000, NAN), ("b", 2000, 1.0),
        ("b", 4000, 7.0),
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    # matched pairs: only ts=0 (b's dup folds to max value 9.0) — a
    # single pair defines no correlation, so nothing is emitted
    assert ts_corr(sdf, 1_000_000, [("a", "b")]).count() == 0
    # add one more matched ts -> one bucket row with n=2
    rows += [("a", 5000, 8.0), ("b", 5000, 3.0)]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    out = ts_corr(sdf, 1_000_000, [("a", "b")]).collect()
    assert len(out) == 1 and out[0].n == 2


def test_corr_duplicate_pairs_deduped(spark):
    """A duplicated (key_a, key_b) request entry must not double-join
    the a-leg (round-10 ADVICE: n doubled per bucket; corr itself is
    ratio-invariant so the gate could not see it)."""
    rows = [("a", i * 1000, float(i)) for i in range(6)]
    rows += [("b", i * 1000, 2.0 * i + 1.0) for i in range(6)]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    once = ts_corr(sdf, 1_000_000, [("a", "b")]).collect()
    duped = ts_corr(sdf, 1_000_000, [("a", "b"), ("a", "b")]).collect()
    assert len(once) == len(duped) == 1
    assert once[0].n == duped[0].n == 6
    assert once[0].corr == duped[0].corr


def test_corr_vs_duckdb(spark):
    rng = random.Random(0xC0BB)
    rows = []
    for k in ("x", "y", "z"):
        for t in range(0, 40_000, 500):  # shared cadence
            v = NAN if rng.random() < 0.05 else rng.uniform(-10, 10)
            rows.append((k, t, v))
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(key VARCHAR, ts BIGINT, value DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    for dur in (7000, 10_000):
        got = sorted(
            (r.key_a, r.key_b, r.ts, round(r.corr, 9), r.n)
            for r in ts_corr(
                sdf, dur, [("x", "y"), ("y", "z"), ("x", "x")]
            ).collect()
        )
        exp = sorted(
            map(
                tuple,
                con.sql(f"""
            WITH v AS (SELECT key, ts, max(value) AS value FROM t
                       WHERE NOT isnan(value) GROUP BY key, ts),
            p(ka, kb) AS (VALUES ('x','y'), ('y','z'), ('x','x')),
            m AS (SELECT p.ka, p.kb, a.ts, a.value AS va, b.value AS vb
                  FROM p JOIN v a ON a.key = p.ka
                         JOIN v b ON b.key = p.kb AND b.ts = a.ts)
            SELECT ka, kb, ts - ts % {dur} AS b,
                   round(corr(va, vb), 9) AS c, count(*) AS n
            FROM m GROUP BY 1, 2, 3
            HAVING corr(va, vb) IS NOT NULL AND NOT isnan(corr(va, vb))
            """).fetchall(),
            )
        )
        assert got == exp, dur


def test_corr_tolerance_asof_matching(spark):
    """tolerance_ms (round 10): irregular cadences match as-of — each
    a-sample takes b's latest at-or-before sample within tolerance;
    exact-coinciding samples still match; stale matches drop."""
    rows = [
        # a at 0/1000/2000/3000; b offset by ~100ms except one gap
        ("a", 0, 1.0), ("a", 1000, 2.0), ("a", 2000, 3.0), ("a", 3000, 4.0),
        ("b", 0, 2.0), ("b", 900, 4.0), ("b", 2900, 8.0),
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    # exact matching: only ts=0 pairs -> no corr row
    assert ts_corr(sdf, 1_000_000, [("a", "b")]).count() == 0
    # tolerance 200: a@0->b@0, a@1000->b@900, a@3000->b@2900; a@2000's
    # latest b (900) is 1100ms stale -> dropped.  matched va/vb are
    # perfectly linear (vb = 2*va) -> corr 1, n 3
    out = ts_corr(sdf, 1_000_000, [("a", "b")], tolerance_ms=200).collect()
    assert len(out) == 1
    assert out[0].n == 3 and out[0].corr == pytest.approx(1.0)
    with pytest.raises(ValueError, match="tolerance_ms"):
        ts_corr(sdf, 1000, [("a", "b")], tolerance_ms=-1)


def test_corr_tolerance_vs_duckdb_asof(spark):
    """tolerance matching vs DuckDB's native ASOF JOIN — an independent
    formulation of the same at-or-before-within-tolerance rule."""
    rng = random.Random(0xA50F)
    rows = []
    for k in ("x", "y"):
        for t in sorted(rng.sample(range(0, 40_000), 60)):
            v = NAN if rng.random() < 0.05 else rng.uniform(-10, 10)
            rows.append((k, t, v))
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(key VARCHAR, ts BIGINT, value DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    for tol, dur in ((500, 8000), (3000, 10_000)):
        got = sorted(
            (r.key_a, r.key_b, r.ts, round(r.corr, 9), r.n)
            for r in ts_corr(
                sdf, dur, [("x", "y")], tolerance_ms=tol
            ).collect()
        )
        exp = sorted(
            map(
                tuple,
                con.sql(f"""
            WITH v AS (SELECT key, ts, max(value) AS value FROM t
                       WHERE NOT isnan(value) GROUP BY key, ts),
            a AS (SELECT ts, value AS va FROM v WHERE key = 'x'),
            b AS (SELECT ts AS bts, value AS vb FROM v WHERE key = 'y'),
            m AS (SELECT a.ts, a.va, b.vb
                  FROM a ASOF JOIN b ON b.bts <= a.ts
                  WHERE a.ts - b.bts <= {tol})
            SELECT 'x' AS ka, 'y' AS kb, ts - ts % {dur} AS b,
                   round(corr(va, vb), 9) AS c, count(*) AS n
            FROM m GROUP BY 3
            HAVING corr(va, vb) IS NOT NULL AND NOT isnan(corr(va, vb))
            """).fetchall(),
            )
        )
        assert got == exp, (tol, dur)


def test_corr_validation(spark):
    sdf = spark.createDataFrame([("a", 0, 1.0)], "key string, ts long, value double")
    with pytest.raises(ValueError, match="bucket_dur"):
        ts_corr(sdf, 0, [("a", "b")])
    with pytest.raises(ValueError, match="pairs"):
        ts_corr(sdf, 1000, [])


def test_cusum_hand_step_change(spark):
    # flat at 10 for 10 samples, then a +5 step: with explicit
    # target=10, k=1, h=6 the upward statistic accumulates 4/sample
    # after the step and alarms on the 2nd shifted sample
    rows = [("s", i * 1000, 10.0) for i in range(10)]
    rows += [("s", (10 + i) * 1000, 15.0) for i in range(4)]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = {r.ts: r for r in ts_cusum(sdf, 1.0, 6.0, target=10.0).collect()}
    assert len(got) == 14
    for i in range(10):  # pre-step: s_pos pinned at 0 by the max clamp
        assert got[i * 1000].s_pos == pytest.approx(0.0)
        assert not got[i * 1000].alarm
    assert got[10_000].s_pos == pytest.approx(4.0) and not got[10_000].alarm
    assert got[11_000].s_pos == pytest.approx(8.0) and got[11_000].alarm
    assert got[13_000].s_pos == pytest.approx(16.0)
    # downward statistic never rises: s_neg stays 0 throughout
    assert all(r.s_neg == pytest.approx(0.0) for r in got.values())


def test_cusum_self_baseline_and_validation(spark):
    rows = [("s", i * 1000, float(i % 2)) for i in range(20)]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    # alternating 0/1 around mean 0.5 with k=0.5: every increment is
    # exactly 0 -> both statistics stay 0, no alarms
    out = ts_cusum(sdf, 0.5, 1.0).collect()
    assert len(out) == 20
    assert all(
        r.s_pos == pytest.approx(0.0) and r.s_neg == pytest.approx(0.0)
        and not r.alarm
        for r in out
    )
    with pytest.raises(ValueError, match="slack"):
        ts_cusum(sdf, -0.1, 1.0)
    with pytest.raises(ValueError, match="threshold"):
        ts_cusum(sdf, 0.5, 0.0)


def test_cusum_chunked_vs_sequential_fuzz(spark):
    """Chunk-local closed form == the literal max(0, prev + d) replay
    under FORCED TINY CHUNKS — drifting data, NaNs, duplicate ts,
    sample-free chunk runs; pinned at 1e-9."""
    rng = random.Random(0xC5C5)
    for trial in range(4):
        rows = []
        for kname in ("u", "v"):
            drift = rng.uniform(-0.3, 0.3)
            ts_pool = sorted(rng.sample(range(0, 50_000), rng.randint(20, 60)))
            val = 0.0
            for t in ts_pool:
                val += drift + rng.uniform(-1, 1)
                v = NAN if rng.random() < 0.08 else val
                rows.append((kname, t, v))
                if rng.random() < 0.08:
                    rows.append((kname, t, val + rng.uniform(-1, 1)))
        # a key with long sample-free chunk runs under chunk_ms=2048
        rows += [("w", 0, 1.0), ("w", 30_000, 9.0), ("w", 30_500, -4.0)]
        sdf = spark.createDataFrame(rows, "key string, ts long, value double")
        for target in (None, 0.0):
            got = {
                (r.key, r.ts, r.value): (r.s_pos, r.s_neg, r.alarm)
                for r in ts_cusum(
                    sdf, 0.25, 2.0, target=target, chunk_ms=2048
                ).collect()
            }
            want = {
                (r.key, r.ts, r.value): (r.s_pos, r.s_neg, r.alarm)
                for r in _ts_cusum_sequential(
                    sdf, 0.25, 2.0, target=target
                ).collect()
            }
            assert got.keys() == want.keys(), (trial, target)
            for kk in got:
                assert got[kk][2] == want[kk][2], (trial, target, kk)
                for i in (0, 1):
                    assert math.isclose(
                        got[kk][i], want[kk][i], rel_tol=1e-9, abs_tol=1e-9
                    ), (trial, target, kk, got[kk], want[kk])


def test_engine_facade_corr_cusum(spark):
    from redistimeseries_spark.engine import TimeSeriesEngine

    eng = TimeSeriesEngine(spark, duplicate_policy="last")
    eng.create("m1"), eng.create("m2")
    for i in range(12):
        eng.add("m1", i * 1000, float(i))
        eng.add("m2", i * 1000, 3.0 * i + 1.0)
    c = eng.corr("m1", "m2", 1_000_000).collect()
    assert len(c) == 1 and c[0].corr == pytest.approx(1.0) and c[0].n == 12
    cs = eng.cusum("m1", 0.5, 2.0, target=0.0).collect()
    assert len(cs) == 12 and cs[-1].alarm  # monotone ramp drifts up
    # review fix: corr goes through _series_df — retention clamps apply
    # (an expired sample is invisible to corr like to range), and '$'
    # is rejected as ambiguous across two series
    eng.create("m3", retention=3000)
    for i in range(12):
        eng.add("m3", i * 1000, float(i))
    n_kept = eng.corr("m1", "m3", 1_000_000).collect()[0].n
    assert n_kept == eng.range("m3").count() == 4  # last 3 s + the tip
    with pytest.raises(ValueError, match="ambiguous"):
        eng.corr("m1", "m2", 1_000_000, from_ts="$")


def test_cusum_vs_duckdb_recursive(spark):
    """ts_cusum vs an INDEPENDENT DuckDB recursive-CTE replay of the
    max(0, prev + d) recurrence (explicit target so both sides share
    the exact baseline)."""
    rng = random.Random(0xD0C5)
    rows = []
    for kname in ("a", "b"):
        for i, t in enumerate(sorted(rng.sample(range(0, 30_000), 40))):
            rows.append((kname, t, rng.uniform(-3, 8) + (2.0 if i > 25 else 0.0)))
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(key VARCHAR, ts BIGINT, value DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    k, h, target = 0.5, 5.0, 2.0
    exp = {
        (r[0], r[1]): (round(r[2], 9), round(r[3], 9), r[4])
        for r in con.sql(f"""
        WITH RECURSIVE v AS (
          SELECT key, ts, value,
                 row_number() OVER (PARTITION BY key ORDER BY ts) AS rn
          FROM t),
        r AS (
          SELECT key, ts, rn,
                 greatest(0, value - {target} - {k}) AS sp,
                 greatest(0, {target} - value - {k}) AS sn
          FROM v WHERE rn = 1
          UNION ALL
          SELECT v.key, v.ts, v.rn,
                 greatest(0, r.sp + v.value - {target} - {k}),
                 greatest(0, r.sn + {target} - v.value - {k})
          FROM v JOIN r ON v.key = r.key AND v.rn = r.rn + 1)
        SELECT key, ts, round(sp, 9), round(sn, 9), sp > {h} OR sn > {h}
        FROM r
        """).fetchall()
    }
    got = {
        (r.key, r.ts): (round(r.s_pos, 9), round(r.s_neg, 9), r.alarm)
        for r in ts_cusum(sdf, k, h, target=target).collect()
    }
    assert got == exp


# --------------------------------------------------------------------------
# ts_xcorr / ts_lead_lag (round 11)
# --------------------------------------------------------------------------

def test_xcorr_recovers_known_shift(spark):
    """b is a scaled copy of a delayed by exactly 2 steps: the sweep
    must read r ~ +1 at lag +2000 (a LEADS b) and weaker everywhere
    else; ts_lead_lag must select that lag."""
    from redistimeseries_spark.operators.correlate import (
        ts_lead_lag,
        ts_xcorr,
    )

    rng = random.Random(11)
    base = [rng.uniform(0, 100) for _ in range(200)]
    rows = []
    for i, v in enumerate(base):
        rows.append(("a", i * 1000, v))
        if i >= 2:
            rows.append(("b", i * 1000, 3.0 * base[i - 2] + 7.0))
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    lags = [k * 1000 for k in range(-3, 4)]
    got = {
        r.lag: (round(r.corr, 9), r.n)
        for r in ts_xcorr(sdf, [("a", "b")], lags).collect()
    }
    assert got[2000][0] == pytest.approx(1.0, abs=1e-9)
    assert got[2000][1] == 198  # a's ts 0..197000 match b's 2000..199000
    assert all(abs(c) < 0.5 for lag, (c, _) in got.items() if lag != 2000)
    best = ts_lead_lag(sdf, [("a", "b")], lags).collect()
    assert len(best) == 1 and best[0].lag == 2000


def test_xcorr_nan_dups_and_validation(spark):
    from redistimeseries_spark.operators.correlate import ts_xcorr

    rows = [
        ("a", 0, 1.0), ("a", 1000, 2.0), ("a", 2000, 3.0), ("a", 3000, NAN),
        # dup at ts=1000 folds to 9.0 (max = last-wins effective sample)
        ("b", 0, 4.0), ("b", 1000, 2.0), ("b", 1000, 9.0), ("b", 2000, 8.0),
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    got = {
        r.lag: (round(r.corr, 9), r.n)
        for r in ts_xcorr(sdf, [("a", "b")], [0]).collect()
    }
    # matched at lag 0: (1,4), (2,9), (3,8) — a's NaN row never matches
    con = duckdb.connect()
    want = con.execute(
        "SELECT corr(x, y) FROM (VALUES (1.0, 4.0), (2.0, 9.0),"
        " (3.0, 8.0)) t(x, y)"
    ).fetchone()[0]
    assert got[0][0] == pytest.approx(want, abs=1e-9) and got[0][1] == 3
    with pytest.raises(ValueError, match="pairs"):
        ts_xcorr(sdf, [], [0])
    with pytest.raises(ValueError, match="lags"):
        ts_xcorr(sdf, [("a", "b")], [])
    with pytest.raises(ValueError, match="128"):
        ts_xcorr(sdf, [("a", "b")], list(range(200)))
    # duplicated pair entries and duplicated lags dedupe (n unchanged)
    dup = ts_xcorr(
        sdf, [("a", "b"), ("a", "b")], [0, 0]
    ).collect()
    assert len(dup) == 1 and dup[0].n == 3


def test_lead_lag_tiebreaks_and_min_n(spark):
    from redistimeseries_spark.operators.correlate import ts_lead_lag

    # a perfectly linear ramp correlates +-1.0 with itself at EVERY
    # lag: the tie must break toward |lag| = 0
    rows = []
    for i in range(50):
        rows.append(("r", i * 1000, float(i)))
        rows.append(("s", i * 1000, 2.0 * i))
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    lags = [k * 1000 for k in range(-2, 3)]
    best = ts_lead_lag(sdf, [("r", "s")], lags).collect()
    assert len(best) == 1 and best[0].lag == 0
    # min_n above every lag's matched count -> pair not emitted
    assert ts_lead_lag(sdf, [("r", "s")], lags, min_n=51).count() == 0
    with pytest.raises(ValueError, match="min_n"):
        ts_lead_lag(sdf, [("r", "s")], lags, min_n=1)


def test_xcorr_vs_duckdb(spark):
    """Random irregular data, full sweep vs an independent DuckDB
    formulation (shifted self-join + corr)."""
    from redistimeseries_spark.operators.correlate import ts_xcorr

    rng = random.Random(23)
    rows = []
    for key in ("u", "v"):
        for i in range(300):
            if rng.random() < 0.85:  # gaps
                rows.append((key, i * 500, rng.uniform(-50, 50)))
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    lags = [-1500, -500, 0, 500, 1000]
    got = sorted(
        (r.lag, round(r.corr, 9), r.n)
        for r in ts_xcorr(sdf, [("u", "v")], lags).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES %s) AS v(key, ts, value)"
        % ", ".join(f"('{k}', {t}, CAST({v!r} AS DOUBLE))" for k, t, v in rows)
    )
    want = sorted(
        (lag, round(c, 9), n)
        for lag, c, n in con.execute(
            f"""WITH l(lag) AS (VALUES {", ".join(f"({x})" for x in lags)})
            SELECT l.lag, corr(a.value, b.value), count(*)
            FROM t a CROSS JOIN l
            JOIN t b ON b.key = 'v' AND b.ts = a.ts + l.lag
            WHERE a.key = 'u'
            GROUP BY 1
            HAVING corr(a.value, b.value) IS NOT NULL"""
        ).fetchall()
    )
    assert got == want


def test_engine_facade_xcorr_lead_lag_rolling_quantile(spark):
    from redistimeseries_spark.engine import TimeSeriesEngine

    eng = TimeSeriesEngine(spark, duplicate_policy="last")
    eng.create("x1"), eng.create("x2")
    for i in range(30):
        eng.add("x1", i * 1000, float(i % 5) + 0.1 * i)
        if i >= 1:  # x2 echoes x1 one step later
            eng.add("x2", i * 1000, 2.0 * (float((i - 1) % 5) + 0.1 * (i - 1)))
    lags = [-2000, -1000, 0, 1000, 2000]
    xc = {r.lag: r.corr for r in eng.xcorr("x1", "x2", lags).collect()}
    assert xc[1000] == pytest.approx(1.0, abs=1e-9)
    best = eng.lead_lag("x1", "x2", lags).collect()
    assert len(best) == 1 and best[0].lag == 1000
    with pytest.raises(ValueError, match="ambiguous"):
        eng.xcorr("x1", "x2", lags, from_ts="$")
    rq = {r.ts: r.rq for r in eng.rolling_quantile("x1", 0.5, 3).collect()}
    assert rq[0] is None and rq[1000] is None
    # window at ts=2000: values of ts 0..2000
    vals = sorted(float(i % 5) + 0.1 * i for i in range(3))
    assert rq[2000] == pytest.approx(vals[1], abs=1e-9)


def test_acf_recovers_known_period(spark):
    """A noisy sine with period 12 buckets: acf peaks at lag 12, dips
    negative at the half period, and ts_detect_period reports 12."""
    from redistimeseries_spark.operators.correlate import (
        ts_acf,
        ts_detect_period,
    )

    rng = random.Random(0xACF)
    rows = [
        ("s", t * 1000, math.sin(2 * math.pi * t / 12) + rng.gauss(0, 0.1))
        for t in range(240)
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    a = {r.lag_n: r.acf for r in ts_acf(sdf, 1000, 20).collect()}
    assert a[12] > 0.8 and a[6] < -0.8
    assert a[12] > a[11] and a[12] > a[13]
    p = ts_detect_period(sdf, 1000, 20).collect()
    assert len(p) == 1
    assert p[0].period_n == 12 and p[0].period_ms == 12_000
    # the emitted strength is the DETRENDED acf (slope ~ 0 here, so it
    # stays near the raw sweep's peak without being identical)
    assert p[0].acf == pytest.approx(a[12], abs=0.05)
    # detrend=False restores the raw sweep exactly
    praw = ts_detect_period(sdf, 1000, 20, detrend=False).collect()
    assert praw[0].period_n == 12
    assert praw[0].acf == pytest.approx(a[12], abs=1e-12)



def test_detect_period_sorts_only_its_answer(spark):
    """ts_detect_period consumes the acf sweep through a per-key window,
    so the sweep stays unsorted there: the optimized plan holds one Sort,
    the answer's `key` order (ts_acf alone sorts its sweep)."""
    from redistimeseries_spark.operators.correlate import (
        ts_acf,
        ts_detect_period,
    )

    rows = [
        (k, t * 1000, math.sin(2 * math.pi * t / per) + 0.01 * t)
        for k, per in (("s12", 12), ("s7", 7))
        for t in range(200)
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")

    def sorts(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return sum(1 for ln in plan.splitlines() if ln.lstrip(" :+-").startswith("Sort "))

    for detrend in (True, False):
        p = ts_detect_period(sdf, 1000, 20, detrend=detrend)
        assert sorts(p) == 1
        assert [(r.key, r.period_n) for r in p.collect()] == [("s12", 12), ("s7", 7)]
    a = ts_acf(sdf, 1000, 16)
    assert sorts(a) == 1
    got = [(r.key, r.lag_n) for r in a.collect()]
    assert got == sorted(got)

def test_acf_buckets_gaps_nan_dups(spark):
    """Bucketing averages within the bucket; NaN rows drop first; empty
    buckets are ABSENT (gaps shrink n, never inject samples)."""
    from redistimeseries_spark.operators.correlate import ts_acf

    rows = [
        ("g", 0, 1.0), ("g", 500, 3.0),     # bucket 0 -> avg 2.0
        ("g", 1000, NAN), ("g", 1500, 4.0),  # bucket 1 -> 4.0 (NaN out)
        # bucket 2 empty
        ("g", 3000, 6.0),                    # bucket 3
        ("g", 4000, 8.0),                    # bucket 4
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    out = {r.lag_n: (r.acf, r.n) for r in ts_acf(sdf, 1000, 3).collect()}
    # lag 1 matches (b0,b1), (b3,b4) -> n=2; lag 3 matches (b0,b3),
    # (b1,b4) -> n=2; lag 2 matches only (b1,b3) -> single pair, dropped
    assert set(out) == {1, 3}
    assert out[1][1] == 2 and out[3][1] == 2
    # exact corr on two points is +-1; both ascending here
    assert out[1][0] == pytest.approx(1.0, abs=1e-9)
    assert out[3][0] == pytest.approx(1.0, abs=1e-9)


def test_acf_vs_duckdb(spark):
    rng = random.Random(0xACFD)
    rows = []
    for k in ("u", "v"):
        for t in range(0, 30_000, 250):
            if rng.random() < 0.15:
                continue  # irregular support
            v = NAN if rng.random() < 0.05 else rng.uniform(-5, 5)
            rows.append((k, t, v))
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(key VARCHAR, ts BIGINT, value DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    from redistimeseries_spark.operators.correlate import ts_acf

    for dur in (1000, 1700):
        got = sorted(
            (r.key, r.lag_n, r.lag_ms, round(r.acf, 9), r.n)
            for r in ts_acf(sdf, dur, 10).collect()
        )
        exp = sorted(
            map(
                tuple,
                con.sql(f"""
            WITH g AS (SELECT key, ts - ts % {dur} AS b, avg(value) AS v
                       FROM t WHERE NOT isnan(value) GROUP BY 1, 2),
            l(lag_n) AS (SELECT * FROM range(1, 11)),
            m AS (SELECT g.key, l.lag_n, g.v AS va, b.v AS vb
                  FROM g CROSS JOIN l
                  JOIN g b ON b.key = g.key
                          AND b.b = g.b + l.lag_n * {dur})
            SELECT key, CAST(lag_n AS INT), CAST(lag_n * {dur} AS BIGINT),
                   round(corr(va, vb), 9), count(*)
            FROM m GROUP BY 1, 2, 3
            HAVING corr(va, vb) IS NOT NULL AND NOT isnan(corr(va, vb))
            """).fetchall(),
            )
        )
        assert got == exp, dur


def test_detect_period_trend_emits_nothing(spark):
    """The classical ACF-detection failure mode, both shapes: an EXACT
    linear ramp detrends to (numerical) zero and the 9dp-rounded
    neighbor comparison refuses ulp-scale fake peaks; a NOISY trend —
    whose RAW acf reads ~0.997 at every lag with genuine little local
    peaks no strength floor could separate — detrends to white noise,
    whose acf hovers near 0 far below the default min_strength."""
    from redistimeseries_spark.operators.correlate import ts_detect_period

    rows = [("r", t * 1000, 2.0 * t + 1.0) for t in range(120)]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    assert ts_detect_period(sdf, 1000, 24).count() == 0
    rng = random.Random(0x7E2D)
    rows = [
        ("r", t * 1000, 2.0 * t + rng.gauss(0, 3.0)) for t in range(120)
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    assert ts_detect_period(sdf, 1000, 24).count() == 0
    # ... and WITHOUT the detrend the raw ripples would have produced
    # peaks above any floor below ~0.997 — pin the failure mode the
    # default guards against
    raw = ts_detect_period(
        sdf, 1000, 24, min_strength=0.9, detrend=False
    ).collect()
    assert len(raw) == 1


def test_detect_period_season_riding_trend(spark):
    """Season + strong trend: the raw acf is trend-plateaued (damped
    peak), the detrended acf recovers the planted period."""
    from redistimeseries_spark.operators.correlate import ts_detect_period

    rng = random.Random(0x5EA5)
    rows = [
        (
            "st",
            t * 1000,
            5.0 * t + 40.0 * math.sin(2 * math.pi * t / 10)
            + rng.gauss(0, 2.0),
        )
        for t in range(200)
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    p = ts_detect_period(sdf, 1000, 30).collect()
    assert len(p) == 1 and p[0].period_n == 10
    assert p[0].acf > 0.8


def test_detect_period_harmonic_tiebreak_and_min_strength(spark):
    """A pure sine reads acf ~= 1 at the fundamental AND its harmonics;
    the 9dp-rounded argmax with the smaller-lag tiebreak picks the
    fundamental.  min_strength above the peak suppresses the key."""
    from redistimeseries_spark.operators.correlate import ts_detect_period

    rows = [
        ("h", t * 1000, math.sin(2 * math.pi * t / 8)) for t in range(160)
    ]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    p = ts_detect_period(sdf, 1000, 20).collect()
    assert len(p) == 1 and p[0].period_n == 8  # not the harmonic at 16
    assert (
        ts_detect_period(sdf, 1000, 20, min_strength=1.5).count() == 0
    )


def test_detect_period_vs_duckdb(spark):
    """QUALIFY-mirrored oracle: acf sweep + neighbor comparison + the
    rounded-strength argmax, replayed independently in DuckDB."""
    from redistimeseries_spark.operators.correlate import ts_detect_period

    rng = random.Random(0xDEC)
    rows = []
    for ki, k in enumerate(("p1", "p2", "p3")):
        per = 6 + 4 * ki
        for t in range(200):
            v = math.sin(2 * math.pi * t / per) + rng.gauss(0, 0.3)
            rows.append((k, t * 1000, v))
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(key VARCHAR, ts BIGINT, value DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    got = sorted(
        (r.key, r.period_n, r.period_ms, round(r.acf, 9), r.n)
        for r in ts_detect_period(
            sdf, 1000, 24, min_strength=0.2, min_n=4
        ).collect()
    )
    exp = sorted(
        map(
            tuple,
            con.sql("""
        WITH g0 AS (SELECT key, ts - ts % 1000 AS b, avg(value) AS v
                    FROM t WHERE NOT isnan(value) GROUP BY 1, 2),
        gx AS (SELECT *, CAST(b - min(b) OVER (PARTITION BY key)
                              AS DOUBLE) / 1000 AS x FROM g0),
        fit AS (SELECT key, regr_slope(v, x) AS sl,
                       regr_intercept(v, x) AS ic
                FROM gx GROUP BY 1),
        g AS (SELECT gx.key, gx.b,
                     gx.v - coalesce(fit.ic + fit.sl * gx.x, 0) AS v
              FROM gx JOIN fit USING (key)),
        l(lag_n) AS (SELECT * FROM range(1, 25)),
        acf AS (
          SELECT g.key AS key, CAST(lag_n AS INT) AS lag_n,
                 CAST(lag_n * 1000 AS BIGINT) AS lag_ms,
                 corr(g.v, b.v) AS acf, count(*) AS n
          FROM g CROSS JOIN l
          JOIN g b ON b.key = g.key AND b.b = g.b + l.lag_n * 1000
          GROUP BY 1, 2, 3
          HAVING corr(g.v, b.v) IS NOT NULL
             AND NOT isnan(corr(g.v, b.v)) AND count(*) >= 4),
        w AS (
          SELECT *, round(acf, 9) AS s,
                 lag(round(acf, 9)) OVER (PARTITION BY key
                                          ORDER BY lag_n) AS p,
                 lead(round(acf, 9)) OVER (PARTITION BY key
                                           ORDER BY lag_n) AS x
          FROM acf),
        pk AS (
          SELECT key, lag_n, lag_ms, acf, n, s FROM w
          WHERE p IS NOT NULL AND x IS NOT NULL
            AND s > p AND s >= x AND acf >= 0.2),
        am AS (
          SELECT key, lag_n AS alag, s AS asr FROM pk
          QUALIFY row_number() OVER (PARTITION BY key
                                     ORDER BY s DESC, lag_n) = 1)
        SELECT pk.key, lag_n, lag_ms, round(acf, 9), n
        FROM pk JOIN am USING (key)
        WHERE am.alag % pk.lag_n = 0 AND pk.s >= am.asr - 0.1
        QUALIFY row_number() OVER (PARTITION BY pk.key
                                   ORDER BY lag_n) = 1
        """).fetchall(),
        )
    )
    assert got == exp
    # every planted period recovered
    assert [r[1] for r in got] == [6, 10, 14]


def test_acf_validation_and_engine_facade(spark):
    from redistimeseries_spark.engine import TimeSeriesEngine
    from redistimeseries_spark.operators.correlate import (
        ts_acf,
        ts_detect_period,
    )

    sdf = spark.createDataFrame(
        [("a", 0, 1.0)], "key string, ts long, value double"
    )
    with pytest.raises(ValueError, match="bucket_dur"):
        ts_acf(sdf, 0, 10)
    with pytest.raises(ValueError, match="max_lag_n"):
        ts_acf(sdf, 1000, 0)
    with pytest.raises(ValueError, match="max_lag_n"):
        ts_acf(sdf, 1000, 129)
    with pytest.raises(ValueError, match="max_period_n"):
        ts_detect_period(sdf, 1000, 2)
    with pytest.raises(ValueError, match="min_n"):
        ts_detect_period(sdf, 1000, 24, min_n=1)

    eng = TimeSeriesEngine(spark, duplicate_policy="last")
    eng.create("sea")
    for t in range(96):
        eng.add("sea", t * 1000, math.sin(2 * math.pi * t / 12))
    a = {r.lag_n: r.acf for r in eng.acf("sea", 1000, 16).collect()}
    assert a[12] == pytest.approx(1.0, abs=1e-6)
    p = eng.detect_period("sea", 1000, 16).collect()
    assert len(p) == 1 and p[0].period_n == 12
