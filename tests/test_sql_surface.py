"""The SQL surface (register_sql) answers the same queries as the Python
API — the views + inlined SQL UDFs are a complete alternate front-end."""

from pyspark.sql import functions as F

from redistimeseries_spark.operators.range_query import ts_range
from redistimeseries_spark.sql import register_sql
from redistimeseries_spark.store import TSStore


def test_sql_matches_api(spark, samples_df):
    rows = [("a", t * 1000, float(t % 7)) for t in range(100)] + [
        ("b", t * 1000 + 3, float(t)) for t in range(50)
    ]
    st = TSStore.from_dataframes(samples_df(rows))
    register_sql(spark, st)

    got = {
        (r.key, r.ts): r.avg
        for r in spark.sql(
            """SELECT key, ts_bucket(ts, 10000, 0) AS ts, avg(value) AS avg
               FROM ts_samples GROUP BY key, ts_bucket(ts, 10000, 0)"""
        ).collect()
    }
    exp = {
        (r.key, r.ts): r.avg
        for r in ts_range(st.samples, aggregations=["avg"], bucket_dur=10_000).collect()
    }
    assert got == exp


def test_sql_bucket_udf_is_inlined(spark, samples_df):
    st = TSStore.from_dataframes(samples_df([("a", 1000, 1.0)]))
    register_sql(spark, st)
    plan = (
        spark.sql("SELECT ts_bucket(ts, 7000, 123) AS b FROM ts_samples")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # declarative SQL UDF: inlined pmod arithmetic, no PythonUDF node
    assert "pmod" in plan and "PythonUDF" not in plan
    r = spark.sql("SELECT ts_bucket(15000, 7000, 123) AS b").collect()[0]
    assert r.b == 15000 - (15000 - 123) % 7000


def test_sql_report_modes(spark, samples_df):
    st = TSStore.from_dataframes(samples_df([("a", 1000, 1.0)]))
    register_sql(spark, st)
    r = spark.sql(
        "SELECT ts_bucket_report(100, 60, '-') AS s, "
        "ts_bucket_report(100, 60, '~') AS m, ts_bucket_report(100, 60, '+') AS e"
    ).collect()[0]
    assert (r.s, r.m, r.e) == (100, 130, 160)


def test_pipeline_sql_functions_match_dataframe_ops(spark):
    from redistimeseries_spark.pipeline.curation import hash_split
    from redistimeseries_spark.pipeline.text import fingerprints, token_counts
    from redistimeseries_spark.sql import register_pipeline_sql

    docs = spark.createDataFrame(
        [(1, "The quick  Brown fox"), (2, "one\ntwo three\tfour")],
        "doc_id long, text string",
    )
    register_pipeline_sql(spark, docs=docs)
    got = {
        r.doc_id: r
        for r in spark.sql(
            "SELECT doc_id, dl_ws_tokens(text) AS ws, dl_bpe_tokens_est(text) AS bpe, "
            "dl_exact_fp(text) AS fp, dl_hash_bucket(doc_id) AS bucket, "
            "size(dl_shingles(text, 5)) AS nsh FROM documents"
        ).collect()
    }
    tk = {r.doc_id: r for r in token_counts(docs).collect()}
    fp = {r.doc_id: r for r in fingerprints(docs).collect()}
    hs = {r.doc_id: r for r in hash_split(docs).collect()}
    for i in (1, 2):
        assert got[i].ws == tk[i].ws_tokens
        assert got[i].bpe == tk[i].bpe_tokens_est
        assert got[i].fp == fp[i].exact_fp
        assert got[i].bucket == hs[i].bucket
        assert got[i].nsh > 0


def test_pipeline_sql_functions_stay_jvm_side(spark):
    from redistimeseries_spark.sql import register_pipeline_sql

    docs = spark.createDataFrame([(1, "abc def")], "doc_id long, text string")
    register_pipeline_sql(spark, docs=docs)
    plan = (
        spark.sql("SELECT dl_exact_fp(text), dl_ws_tokens(text) FROM documents")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PythonUDF" not in plan and "md5" in plan


def test_sql_table_functions_match_operators(spark, samples_df):
    """The TS-companion TABLE functions (round-7 `_ts_tvf_sql`) answer
    identically to the Python operators they twin, over series with
    NaN samples, value repeats, and counter resets — the SQL surface is
    a complete alternate front-end for the facade family."""
    from redistimeseries_spark.operators.multi import ts_topk
    from redistimeseries_spark.operators.percentiles import (
        ts_value_histogram,
    )
    from redistimeseries_spark.operators.rate import (
        ts_changes,
        ts_delta,
        ts_deriv,
        ts_idelta,
        ts_increase,
        ts_predict_linear,
        ts_rate,
        ts_resets,
    )
    from redistimeseries_spark.operators.resample import ts_resample
    from redistimeseries_spark.operators.smooth import ts_holt

    rows = []
    vals_a = [1.0, 1.0, 2.0, float("nan"), 2.0, 5.0, 3.0, 3.0]
    for i, v in enumerate(vals_a):
        rows.append(("a", 10_000 * i + 500, v))
    vals_b = [0.0, 10.0, 3.0, 8.0, 1.0, 2.0]  # counter with resets
    for i, v in enumerate(vals_b):
        rows.append(("b", 15_000 * i + 100, v))
    st = TSStore.from_dataframes(samples_df(rows))
    register_sql(spark, st)
    dur = 30_000

    def key_rows(df):
        return sorted(
            tuple(
                round(x, 9) if isinstance(x, float) else x for x in r
            )
            for r in df.collect()
        )

    cases = [
        (f"SELECT * FROM ts_topk({dur}, 1, 'avg', false)",
         ts_topk(st.samples, dur, 1, "avg")),
        (f"SELECT * FROM ts_topk({dur}, 2, 'max', true)",
         ts_topk(st.samples, dur, 2, "max", bottom=True)),
        # round-8 parity: p-name exact percentiles dispatch in SQL too
        (f"SELECT * FROM ts_topk({dur}, 1, 'p50', false)",
         ts_topk(st.samples, dur, 1, "p50")),
        (f"SELECT * FROM ts_topk({dur}, 2, 'p99.9', false)",
         ts_topk(st.samples, dur, 2, "p99.9")),
        (f"SELECT * FROM ts_deriv({dur})", ts_deriv(st.samples, dur)),
        (f"SELECT * FROM ts_delta({dur})", ts_delta(st.samples, dur)),
        ("SELECT * FROM ts_idelta()", ts_idelta(st.samples)),
        (f"SELECT * FROM ts_changes({dur})", ts_changes(st.samples, dur)),
        (f"SELECT * FROM ts_increase({dur})", ts_increase(st.samples, dur)),
        (f"SELECT * FROM ts_rate({dur})",
         ts_rate(st.samples, dur)),
        (f"SELECT * FROM ts_resets({dur})", ts_resets(st.samples, dur)),
        (f"SELECT * FROM ts_predict_linear({dur}, 60000)",
         ts_predict_linear(st.samples, dur, 60_000)),
        ("SELECT * FROM ts_value_hist(2.0, 0.0)",
         ts_value_histogram(st.samples, 2.0, 0.0)),
        (f"SELECT * FROM ts_mad({dur})",
         __import__(
             "redistimeseries_spark.operators.percentiles",
             fromlist=["ts_mad"],
         ).ts_mad(st.samples, dur)),
        (f"SELECT * FROM ts_outlier_mad({dur}, 2.0)",
         __import__(
             "redistimeseries_spark.operators.percentiles",
             fromlist=["ts_outlier_mad"],
         ).ts_outlier_mad(st.samples, dur, k=2.0)),
        ("SELECT * FROM ts_hist_quantile(2.0, 0.9)",
         __import__(
             "redistimeseries_spark.operators.percentiles",
             fromlist=["ts_histogram_quantile", "ts_value_histogram"],
         ).ts_histogram_quantile(
             ts_value_histogram(st.samples, 2.0, 0.0), 0.9, 2.0
         )),
        ("SELECT * FROM ts_resample(20000, 'locf')",
         ts_resample(st.samples, 20_000, "locf")),
        ("SELECT * FROM ts_resample(20000, 'linear')",
         ts_resample(st.samples, 20_000, "linear")),
        ("SELECT * FROM ts_holt(0.5, 0.3)",
         ts_holt(st.samples, 0.5, 0.3)),
        ("SELECT * FROM ts_ewma(0.4)",
         __import__(
             "redistimeseries_spark.operators.smooth", fromlist=["ts_ewma"]
         ).ts_ewma(st.samples, 0.4)),
        # round-9: rolling z-score anomalies TVF twin (running-collect +
        # slice — a frame bound cannot be a TVF parameter)
        ("SELECT * FROM ts_anomalies(3, 1.0)",
         __import__(
             "redistimeseries_spark.operators.smooth",
             fromlist=["ts_anomalies"],
         ).ts_anomalies(st.samples, 3, 1.0)),
        ("SELECT * FROM ts_anomalies(2, 0.5)",
         __import__(
             "redistimeseries_spark.operators.smooth",
             fromlist=["ts_anomalies"],
         ).ts_anomalies(st.samples, 2, 0.5)),
        # round-10: adaptive Bollinger envelope TVF twin
        ("SELECT * FROM ts_ewm_band(0.3, 3.0)",
         __import__(
             "redistimeseries_spark.operators.smooth",
             fromlist=["ts_ewm_band"],
         ).ts_ewm_band(st.samples, 0.3, band_k=3.0)),
        # round-10: decompose/forecast TVF twins, both modes
        (f"SELECT * FROM ts_decompose({dur}, 3, 'additive')",
         __import__(
             "redistimeseries_spark.operators.decompose",
             fromlist=["ts_decompose"],
         ).ts_decompose(st.samples, dur, 3)),
        (f"SELECT * FROM ts_decompose({dur}, 2, 'multiplicative')",
         __import__(
             "redistimeseries_spark.operators.decompose",
             fromlist=["ts_decompose"],
         ).ts_decompose(st.samples, dur, 2, mode="multiplicative")),
        (f"SELECT * FROM ts_forecast({dur}, 3, 4, 'additive')",
         __import__(
             "redistimeseries_spark.operators.decompose",
             fromlist=["ts_forecast"],
         ).ts_forecast(st.samples, dur, 3, 4)),
        (f"SELECT * FROM ts_forecast({dur}, 2, 2, 'multiplicative')",
         __import__(
             "redistimeseries_spark.operators.decompose",
             fromlist=["ts_forecast"],
         ).ts_forecast(st.samples, dur, 2, 2, mode="multiplicative")),
    ]
    for sql_q, op_df in cases:
        assert key_rows(spark.sql(sql_q)) == key_rows(op_df), sql_q
    # key/time filtering composes in the surrounding query
    got = spark.sql(
        f"SELECT * FROM ts_changes({dur}) WHERE key = 'b'"
    ).collect()
    want = ts_changes(st.samples, dur, keys="b").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # declarative: the TVF body inlines — no PythonUDF node anywhere
    plan = (
        spark.sql(f"SELECT * FROM ts_deriv({dur})")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PythonUDF" not in plan
    # unsupported dispatch strings ERROR (matching the Python facade's
    # ValueError) instead of silently returning zero rows
    import pytest as _pytest

    with _pytest.raises(Exception, match="unsupported agg"):
        spark.sql(f"SELECT * FROM ts_topk({dur}, 1, 'twa', false)").collect()
    # out-of-range percentiles error like the facade's ValueError,
    # instead of silently interpolating past the array
    with _pytest.raises(Exception, match="unsupported agg"):
        spark.sql(f"SELECT * FROM ts_topk({dur}, 1, 'p200', false)").collect()
    # anomalies arg guards mirror the facade's ValueErrors
    with _pytest.raises(Exception, match="window_n must be >= 2"):
        spark.sql("SELECT * FROM ts_anomalies(1, 1.0)").collect()
    with _pytest.raises(Exception, match="z must be positive"):
        spark.sql("SELECT * FROM ts_anomalies(3, 0.0)").collect()
    # dead-branch elimination: a core-five call must never build the
    # percentile arm's O(bucket) collect_list buffer (the two UNION arms
    # carry constant-foldable HAVING predicates; PropagateEmptyRelation
    # deletes the inactive aggregate at the call site)
    avg_plan = (
        spark.sql(f"SELECT * FROM ts_topk({dur}, 1, 'avg', false)")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "collect_list" not in avg_plan and "Union" not in avg_plan
    p_plan = (
        spark.sql(f"SELECT * FROM ts_topk({dur}, 1, 'p50', false)")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "collect_list" in p_plan and "Union" not in p_plan
    # hist_quantile validates q like the facade's ValueError (round 9,
    # ADVICE r8): q > 1 used to return silently-empty (no bin crosses
    # q*total), q < 0 the first bin
    for bad_q in ("1.5", "-0.1"):
        with _pytest.raises(Exception, match="q must lie"):
            spark.sql(
                f"SELECT * FROM ts_hist_quantile(2.0, {bad_q})"
            ).collect()
    # the outlier_mad TVF computes the median/MAD struct ONCE per group
    # (ADVICE r8: the nested-reduce expression used to expand twice)
    om_plan = (
        spark.sql(f"SELECT * FROM ts_outlier_mad({dur}, 2.0)")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert om_plan.count("sort_array(collect_list") <= 2  # med arr + dev arr
    with _pytest.raises(Exception, match="locf or linear"):
        spark.sql("SELECT * FROM ts_resample(20000, 'cubic')").collect()


def test_operator_table_functions_run_the_operator_plan(spark, samples_df):
    """Each table function built from its operator's SQL text optimizes
    to the operator's own plan below its final sort (expression ids
    normalized) and gives its rows, here with duplicate timestamps in
    series `c`: a key-window `lag` ordered by ts alone gave increase 8.0
    and resets 1 on it, where the operator's (ts, value) order gives 13.0
    and 2."""
    import re

    from redistimeseries_spark.operators import (
        correlate,
        features,
        percentiles,
        rate,
    )

    rows = [("a", 10_000 * i + 500, v) for i, v in enumerate(
        [1.0, 1.0, 2.0, float("nan"), 2.0, 5.0, 3.0, 3.0])]
    rows += [("b", 15_000 * i + 100, v) for i, v in enumerate(
        [0.0, 10.0, 3.0, 8.0, 1.0, 2.0])]
    rows += [("c", 1000, 5.0), ("c", 2000, 9.0), ("c", 2000, 3.0),
             ("c", 3000, 4.0), ("c", 4000, 4.0)]
    st = TSStore.from_dataframes(samples_df(rows))
    register_sql(spark, st, prefix="op_")
    s, dur = st.samples, 10_000
    cases = [
        (f"op_deriv({dur})", rate.ts_deriv(s, dur)),
        (f"op_predict_linear({dur}, 60000)",
         rate.ts_predict_linear(s, dur, 60_000)),
        (f"op_delta({dur})", rate.ts_delta(s, dur)),
        (f"op_increase({dur})", rate.ts_increase(s, dur)),
        (f"op_rate({dur})", rate.ts_rate(s, dur)),
        (f"op_changes({dur})", rate.ts_changes(s, dur)),
        (f"op_resets({dur})", rate.ts_resets(s, dur)),
        ("op_idelta()", rate.ts_idelta(s)),
        ("op_irate()", rate.ts_irate(s)),
        ("op_value_hist(2.0, 0.5)", percentiles.ts_value_histogram(s, 2.0, 0.5)),
        ("op_hist_quantile(2.0, 0.9)", percentiles.ts_histogram_quantile(
            spark.sql("SELECT * FROM op_value_hist(2.0, 0.0)"), 0.9, 2.0)),
        (f"op_mad({dur})", percentiles.ts_mad(s, dur)),
        (f"op_outlier_mad({dur}, 2.0)",
         percentiles.ts_outlier_mad(s, dur, k=2.0)),
        ("op_features(2000)", features.ts_features(s, 2000)),
    ]

    def plan(df):
        p = df._jdf.queryExecution().optimizedPlan()
        return re.sub(r"@[0-9a-f]+|#\d+", "#", p.toString())

    def below_sort(df):
        p = df._jdf.queryExecution().optimizedPlan()
        assert p.getClass().getSimpleName() == "Sort"
        return re.sub(r"@[0-9a-f]+|#\d+", "#", p.child().toString())

    def rnd(df):
        return sorted(
            tuple(round(x, 9) if isinstance(x, float) else x for x in r)
            for r in df.collect()
        )

    for q, op_df in cases:
        tvf = spark.sql("SELECT * FROM " + q)
        assert plan(tvf) == below_sort(op_df), q
        assert rnd(tvf) == rnd(op_df), q
    # the acf operator checkpoints its grid between its two texts, where
    # the function reads the grid text inline: same rows, another plan
    acf = spark.sql("SELECT * FROM op_acf(2000, 5)")
    assert rnd(acf) == rnd(correlate.ts_acf(s, 2000, 5))
    c = {r.ts: r for r in rate.ts_increase(s, dur, keys="c").collect()}
    assert c[0].increase == 13.0
    assert rate.ts_resets(s, dur, keys="c").collect()[0].resets == 2


def test_sql_corr_cusum_tvfs(spark, samples_df):
    """Round-10 TVFs: {p}corr / {p}cusum answer identically to the
    correlate operators — aligned cadence for corr (the documented
    input shape), self-baselined and explicit-target cusum."""
    from redistimeseries_spark.operators.correlate import ts_corr, ts_cusum

    rows = []
    for i in range(24):
        rows.append(("ca", i * 1000, float(i % 7) + 0.25 * i))
        rows.append(("cb", i * 1000, 10.0 - 0.5 * i + float(i % 3)))
        rows.append(("cc", i * 1000, 5.0))  # zero variance leg
    st = TSStore.from_dataframes(samples_df(rows))
    register_sql(spark, st, prefix="cx_")

    def rnd(df):
        return sorted(
            tuple(round(x, 9) if isinstance(x, float) else x for x in r)
            for r in df.collect()
        )

    got = rnd(spark.sql("SELECT * FROM cx_corr(8000, 'ca', 'cb')"))
    want = rnd(ts_corr(st.samples, 8000, [("ca", "cb")]))
    assert got and got == want
    # zero-variance leg: no rows from either surface
    assert spark.sql("SELECT * FROM cx_corr(8000, 'ca', 'cc')").count() == 0
    assert ts_corr(st.samples, 8000, [("ca", "cc")]).count() == 0
    for tgt_sql, tgt in (("CAST(NULL AS DOUBLE)", None), ("4.0", 4.0)):
        got = rnd(spark.sql(f"SELECT * FROM cx_cusum(0.5, 3.0, {tgt_sql})"))
        want = rnd(ts_cusum(st.samples, 0.5, 3.0, target=tgt))
        assert got and got == want, tgt
    # the dur guard must fire even when the pair matches ZERO rows
    # (round-10 ADVICE: guard inside the aggregate projection never
    # evaluated on an empty group-by, silently returning empty) — it
    # now lives in the source CTE's WHERE, folded at plan time
    import pytest as _pytest

    for ka, kb in (("ca", "cb"), ("no_such", "keys")):
        with _pytest.raises(Exception, match="dur must be positive"):
            spark.sql(f"SELECT * FROM cx_corr(0, '{ka}', '{kb}')").collect()


def test_sql_xcorr_rolling_quantile_tvfs(spark, samples_df):
    """Round-11 TVFs: {p}xcorr's symmetric sweep == ts_xcorr over the
    sequence(-max_lag, max_lag, step) grid; {p}rolling_quantile's
    exploded-contribution window (no quadratic band join) == the
    chunk-context operator, including the warm-up NULLs and the exact
    quantile_cont interpolation."""
    import pytest as _pytest

    from redistimeseries_spark.operators.correlate import ts_xcorr
    from redistimeseries_spark.operators.percentiles import (
        ts_rolling_quantile,
    )

    rows = []
    for i in range(40):
        rows.append(("xa", i * 1000, float(i % 7) + 0.3 * i))
        # xb echoes xa two steps later with noise-free scaling: the
        # sweep must peak at lag = +2000 on both surfaces
        rows.append(("xb", i * 1000, 2.0 * (float((i - 2) % 7) + 0.3 * (i - 2))))
    st = TSStore.from_dataframes(samples_df(rows))
    register_sql(spark, st, prefix="xc_")

    def rnd(df):
        return sorted(
            tuple(round(x, 9) if isinstance(x, float) else x for x in r)
            for r in df.collect()
        )

    got = rnd(spark.sql("SELECT * FROM xc_xcorr('xa', 'xb', 3000, 1000)"))
    want = rnd(
        ts_xcorr(st.samples, [("xa", "xb")], [-3000, -2000, -1000, 0,
                                              1000, 2000, 3000])
    )
    assert got and got == want
    # the invalid-argument guard fires even on a zero-row pair
    for ka, kb in (("xa", "xb"), ("no_such", "keys")):
        with _pytest.raises(Exception, match="need step > 0"):
            spark.sql(
                f"SELECT * FROM xc_xcorr('{ka}', '{kb}', 3000, 0)"
            ).collect()
    # lead_lag TVF: the inlined xcorr composition picks the same lag
    # under the same rounded-strength ordering; empty when no lag
    # qualifies (not a NULL row)
    from redistimeseries_spark.operators.correlate import ts_lead_lag

    got = rnd(spark.sql("SELECT * FROM xc_lead_lag('xa', 'xb', 3000, 1000, 2)"))
    want = rnd(
        ts_lead_lag(st.samples, [("xa", "xb")],
                    [-3000, -2000, -1000, 0, 1000, 2000, 3000])
    )
    assert len(got) == len(want) == 1 and got == want
    assert spark.sql(
        "SELECT * FROM xc_lead_lag('xa', 'xb', 3000, 1000, 999)"
    ).count() == 0
    got = rnd(spark.sql("SELECT * FROM xc_rolling_quantile(0.5, 7)"))
    want = rnd(ts_rolling_quantile(st.samples, 0.5, 7))
    assert got and got == want
    # generic-q interpolation (not just the median)
    got = rnd(spark.sql("SELECT * FROM xc_rolling_quantile(0.9, 5)"))
    want = rnd(ts_rolling_quantile(st.samples, 0.9, 5))
    assert got and got == want
    with _pytest.raises(Exception, match="need q in"):
        spark.sql("SELECT * FROM xc_rolling_quantile(1.5, 7)").collect()
    # declarative twins: no PythonUDF node in either inlined plan
    for q in ("SELECT * FROM xc_xcorr('xa', 'xb', 3000, 1000)",
              "SELECT * FROM xc_rolling_quantile(0.5, 7)"):
        plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
        assert "PythonUDF" not in plan


def test_sql_holt_winters_tvf(spark, samples_df):
    """Round-11 TVF: {p}holt_winters' aggregate() fold (seasonal vector
    updated by the transform index lambda) == the facade operator,
    in-sample rows AND horizon rows; additive mode (multiplicative is
    facade-only, the twa convention); argument guard; declarative."""
    import math
    import random as _random

    import pytest as _pytest

    from redistimeseries_spark.operators.holtwinters import ts_holt_winters

    rng = _random.Random(3)
    rows = []
    for key in ("w1", "w2"):
        for i in range(40):
            rows.append(
                (
                    key,
                    i * 1000 + rng.randint(0, 400),
                    30 + 0.3 * i
                    + 5 * math.sin(2 * math.pi * (i % 5) / 5)
                    + rng.uniform(-0.5, 0.5),
                )
            )
    st = TSStore.from_dataframes(samples_df(rows))
    register_sql(spark, st, prefix="hw_")

    def rnd(df):
        return sorted(
            tuple(
                None if x is None
                else (round(x, 9) if isinstance(x, float) else x)
                for x in r
            )
            for r in df.collect()
        )

    got = rnd(spark.sql("SELECT * FROM hw_holt_winters(1000, 5, 0.4, 0.2, 0.3, 6)"))
    want = rnd(ts_holt_winters(st.samples, 1000, 5, 0.4, 0.2, 0.3, horizon_n=6))
    assert got and got == want
    # horizon 0: in-sample rows only (sequence(1, 0) must NOT produce
    # the descending [1, 0] range)
    n0 = spark.sql(
        "SELECT count(*) c FROM hw_holt_winters(1000, 5, 0.4, 0.2, 0.3, 0)"
    ).collect()[0].c
    assert n0 == len(want) - 12  # two keys x 6 horizon rows dropped
    with _pytest.raises(Exception, match="need step"):
        spark.sql(
            "SELECT * FROM hw_holt_winters(0, 5, 0.4, 0.2, 0.3, 0)"
        ).collect()
    plan = (
        spark.sql("SELECT * FROM hw_holt_winters(1000, 5, 0.4, 0.2, 0.3, 6)")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PythonUDF" not in plan


def test_sql_resample_tvf_dup_ts_tiebreak(spark, samples_df):
    """The {p}resample TVF resolves duplicate-(key, ts) samples by the
    (ts, value) last-wins rule — matching the facade twin (round-9
    ADVICE: the TVF window orderings lacked the value tiebreak)."""
    from redistimeseries_spark.operators.resample import (
        _ts_resample_key_window,
    )

    rows = [("d", 0, 1.0), ("d", 5000, 1.0), ("d", 5000, 9.0),
            ("d", 9000, 3.0), ("d", 9000, 0.5)]
    st = TSStore.from_dataframes(samples_df(rows))
    register_sql(spark, st, prefix="dup_")

    def rnd(df):
        return sorted(
            tuple(round(x, 9) if isinstance(x, float) else x for x in r)
            for r in df.collect()
        )

    for method in ("locf", "linear"):
        got = rnd(spark.sql(f"SELECT * FROM dup_resample(1000, '{method}')"))
        want = rnd(_ts_resample_key_window(st.samples, 1000, method))
        assert got == want, method


def test_sql_table_functions_respect_prefix(spark, samples_df):
    """Two stores registered under different prefixes keep INDEPENDENT
    function sets: <p><op> reads <p>samples (previously the last
    register_sql silently rebound every TVF to its store)."""
    from redistimeseries_spark.operators.rate import ts_delta

    sa = TSStore.from_dataframes(
        samples_df([("x", 100, 1.0), ("x", 900, 5.0)])
    )
    sb = TSStore.from_dataframes(
        samples_df([("y", 100, 10.0), ("y", 900, 2.0)])
    )
    register_sql(spark, sa, prefix="a_")
    register_sql(spark, sb, prefix="b_")
    ga = [(r.key, r.ts, r.delta) for r in spark.sql("SELECT * FROM a_delta(1000)").collect()]
    gb = [(r.key, r.ts, r.delta) for r in spark.sql("SELECT * FROM b_delta(1000)").collect()]
    assert ga == [(r.key, r.ts, r.delta) for r in ts_delta(sa.samples, 1000).collect()]
    assert gb == [(r.key, r.ts, r.delta) for r in ts_delta(sb.samples, 1000).collect()]
    assert ga == [("x", 0, 4.0)] and gb == [("y", 0, -8.0)]


def test_round5_sql_functions(spark):
    """dl_word_ngrams matches the DataFrame gram sets; dl_bm25_weight
    matches the hand formula; both stay JVM-side."""
    import math

    from redistimeseries_spark.pipeline.dedup import word_ngram_sets
    from redistimeseries_spark.sql import register_pipeline_sql

    docs = spark.createDataFrame(
        [(1, "The quick brown fox jumps"), (2, "a b")],
        "doc_id long, text string",
    )
    register_pipeline_sql(spark, docs=docs)
    got = {
        r.doc_id: sorted(r.g)
        for r in spark.sql(
            "SELECT doc_id, dl_word_ngrams(text, 3) AS g FROM documents"
        ).collect()
    }
    want = {
        r.doc_id: sorted(r.gs) for r in word_ngram_sets(docs, 3).collect()
    }
    assert got == want
    w = spark.sql(
        "SELECT dl_bm25_weight(3, 2, 100, 50, 40.0, 1.2, 0.75) AS w"
    ).collect()[0].w
    hand = math.log(1 + (100 - 2 + 0.5) / 2.5) * (3 * 2.2) / (
        3 + 1.2 * (1 - 0.75 + 0.75 * 50 / 40.0)
    )
    assert abs(w - hand) < 1e-12
    plan = (
        spark.sql("SELECT dl_word_ngrams(text, 2) FROM documents")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PythonUDF" not in plan


def test_canonical_url_sql_matches_dataframe_op(spark):
    """dl_canonical_url (the reduce-bound SQL UDF) equals
    curation.canonical_url on the crawl-variant zoo, and inlines
    (no Python in the plan)."""
    from pyspark.sql import functions as F

    from redistimeseries_spark.pipeline.curation import canonical_url
    from redistimeseries_spark.sql import register_pipeline_sql

    urls = spark.createDataFrame(
        [
            (1, "HTTP://Example.COM:80/Path/?utm_source=x&id=3#frag"),
            (2, "http://example.com/Path?id=3"),
            (3, "https://Example.com:443/"),
            (4, "http://example.com:8080/a/"),
            (5, "ftp://Mixed.Case/keep"),
            (6, "http://h/p?utm_a=1&utm_b=2&q=z"),
        ],
        "doc_id long, url string",
    )
    register_pipeline_sql(spark)
    urls.createOrReplaceTempView("urls")
    got = {
        r.doc_id: r.c
        for r in spark.sql(
            "SELECT doc_id, dl_canonical_url(url) AS c FROM urls"
        ).collect()
    }
    want = {
        r.doc_id: r.c
        for r in urls.select(
            "doc_id", canonical_url(F.col("url")).alias("c")
        ).collect()
    }
    assert got == want
    plan = (
        spark.sql("SELECT dl_canonical_url(url) AS c FROM urls")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sql_acf_detect_period_tvfs(spark, samples_df):
    """Round-11 TVFs: {p}acf's pair-free self-sweep == ts_acf on the
    dur grid; {p}detect_period's detrend + local-peak + divisor-descent
    chain == the facade's default path; guards fire on empty matches;
    both plans stay declarative (no PythonUDF)."""
    import math as _math
    import random as _random

    import pytest as _pytest

    from redistimeseries_spark.operators.correlate import (
        ts_acf,
        ts_detect_period,
    )

    rng = _random.Random(0xACF2)
    rows = []
    for t in range(180):
        rows.append((
            "pa", t * 1000,
            0.8 * t + 30.0 * _math.sin(2 * _math.pi * t / 9)
            + rng.gauss(0, 1.0),
        ))
        if t % 3 != 2:  # irregular support on the second key
            rows.append((
                "pb", t * 1000,
                _math.sin(2 * _math.pi * t / 15) + rng.gauss(0, 0.2),
            ))
    st = TSStore.from_dataframes(samples_df(rows))
    register_sql(spark, st, prefix="af_")

    def rnd(df):
        return sorted(
            tuple(round(x, 9) if isinstance(x, float) else x for x in r)
            for r in df.collect()
        )

    got = rnd(spark.sql("SELECT * FROM af_acf(2000, 20)"))
    want = rnd(ts_acf(st.samples, 2000, 20))
    assert got and got == want
    got = rnd(
        spark.sql("SELECT * FROM af_detect_period(1000, 24, 0.3, 4, 0.1)")
    )
    want = rnd(ts_detect_period(st.samples, 1000, 24))
    assert len(want) == 2 and got == want
    # planted periods recovered through the SQL surface too
    periods = {r[0]: r[1] for r in got}
    assert periods == {"pa": 9, "pb": 15}
    # guards fire even when nothing matches (source-CTE placement)
    with _pytest.raises(Exception, match="max_lag in"):
        spark.sql("SELECT * FROM af_acf(2000, 0)").collect()
    with _pytest.raises(Exception, match="need dur > 0"):
        spark.sql(
            "SELECT * FROM af_detect_period(0, 24, 0.3, 4, 0.1)"
        ).collect()
    for q in ("SELECT * FROM af_acf(2000, 20)",
              "SELECT * FROM af_detect_period(1000, 24, 0.3, 4, 0.1)"):
        plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
        assert "PythonUDF" not in plan


def test_sql_features_tvf(spark, samples_df):
    """{p}features == ts_features on the dur grid (whole feature
    vector, NULL edges included); dur guard fires even on an empty
    match (source-CTE literal folding); plan stays declarative."""
    import random as _random

    import pytest as _pytest

    from redistimeseries_spark.operators.features import ts_features

    rng = _random.Random(0xFEA8)
    rows = [("cf", t * 1000, 5.0) for t in range(6)]  # constant key
    rows += [
        ("fa", t * 700, 0.3 * t + rng.uniform(-4, 4))
        for t in range(300)
        if rng.random() > 0.12
    ]
    rows += [("fb", 10, 1.0), ("fb", 20, 3.0)]  # single-bucket key
    st = TSStore.from_dataframes(samples_df(rows))
    register_sql(spark, st, prefix="ft_")

    def rnd(df):
        return sorted(
            tuple(round(x, 9) if isinstance(x, float) else x for x in r)
            for r in df.collect()
        )

    for dur in (2000, 5000):
        got = rnd(spark.sql(f"SELECT * FROM ft_features({dur})"))
        want = rnd(ts_features(st.samples, dur))
        assert len(want) == 3 and got == want
    with _pytest.raises(Exception, match="dur must be positive"):
        spark.sql(
            "SELECT * FROM ft_features(0) WHERE key = 'nomatch'"
        ).collect()
    plan = (
        spark.sql("SELECT * FROM ft_features(2000)")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PythonUDF" not in plan


def test_sql_seasonal_strength_tvf(spark, samples_df):
    """{p}seasonal_strength composes over the {p}decompose TVF — parity
    with the facade operator in both modes, guards inherited from the
    decompose body, declarative plan."""
    import math as _math

    import pytest as _pytest

    from redistimeseries_spark.operators.decompose import (
        ts_seasonal_strength,
    )

    rows = [
        ("sa", t * 1000,
         6.0 * _math.sin(2 * _math.pi * t / 8) + 0.05 * t)
        for t in range(64)
    ]
    rows += [("sb", t * 1000, 3.0 + 1.5 * t) for t in range(40)]
    st = TSStore.from_dataframes(samples_df(rows))
    register_sql(spark, st, prefix="ssx_")

    def rnd(df):
        return sorted(
            tuple(round(x, 9) if isinstance(x, float) else x for x in r)
            for r in df.collect()
        )

    for mode in ("additive", "multiplicative"):
        got = rnd(spark.sql(
            f"SELECT * FROM ssx_seasonal_strength(1000, 8, '{mode}')"
        ))
        want = rnd(ts_seasonal_strength(st.samples, 1000, 8, mode=mode))
        assert got and got == want, mode
    with _pytest.raises(Exception, match="step must be positive"):
        spark.sql(
            "SELECT * FROM ssx_seasonal_strength(0, 8, 'additive')"
        ).collect()
    plan = (
        spark.sql("SELECT * FROM ssx_seasonal_strength(1000, 8, 'additive')")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PythonUDF" not in plan
