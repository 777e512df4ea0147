"""Plan-shape assertions for the storage layouts: the scale design claims
in README/PLANS.md are executable, not prose."""

import pytest
from pyspark.sql import functions as F

from redistimeseries_spark.operators.range_query import ts_range
from redistimeseries_spark.store import TSStore, read_bucketed_layout, read_layout


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("layouts")
    rows = [
        (f"k{i}", t * 60_000 + i, float(t + i))
        for i in range(8)
        for t in range(200)
    ]
    samples = spark.createDataFrame(rows, "key string, ts long, value double")
    st = TSStore.from_dataframes(samples)
    day_path = str(d / "day")
    bk_path = str(d / "bucketed")
    st.write_layout(day_path)
    spark.sql("DROP TABLE IF EXISTS t_bucketed")
    st.write_bucketed_layout("t_bucketed", bk_path, n_buckets=4)
    return day_path, bk_path


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_day_layout_prunes_and_pushes(spark, stores):
    day_path, _ = stores
    df = read_layout(spark, day_path, start=600_000, end=1_200_000).filter(
        F.col("key") == "k3"
    )
    plan = _plan(df)
    # partition pruning on the derived day column + key/ts pushed to the scan
    assert "PushedFilters" in plan and "k3" in plan
    # k3 rows are ts = t*60000 + 3: t in [10, 19] land inside the range
    assert df.count() == 10


def test_bucketed_layout_removes_agg_exchange(spark, stores):
    _, bk_path = stores
    bt = read_bucketed_layout(spark, "t_bucketed", bk_path, n_buckets=4)
    agg = bt.groupBy("key").agg(F.avg("value"))
    # pre-clustered by key: partial agg IS final — no hash exchange
    assert "Exchange hashpartitioning" not in _plan(agg)
    # same query on a non-bucketed source shuffles
    plain = spark.read.parquet(bk_path).groupBy("key").agg(F.avg("value"))
    assert "Exchange hashpartitioning" in _plan(plain)


def test_bucketed_layout_matches_day_results(spark, stores):
    day_path, bk_path = stores
    bt = read_bucketed_layout(spark, "t_bucketed", bk_path, n_buckets=4)
    day = read_layout(spark, day_path)
    q = lambda src: {
        (r.key, r.ts): r.avg
        for r in ts_range(src, aggregations=["avg"], bucket_dur=600_000).collect()
    }
    assert q(bt) == q(day)


def test_bucketed_reregistration_fresh_catalog(spark, stores):
    _, bk_path = stores
    spark.sql("DROP TABLE IF EXISTS t_bucketed2")
    # register the same files under a new name — the CREATE TABLE ... CLUSTERED
    # BY path a fresh session takes; bucketing must still be exploited
    bt = read_bucketed_layout(spark, "t_bucketed2", bk_path, n_buckets=4)
    agg = bt.groupBy("key").agg(F.count("*"))
    assert "Exchange hashpartitioning" not in _plan(agg)
    assert agg.count() == 8


def test_evict_drops_whole_partitions_and_trims_boundary(spark, tmp_path):
    """SeriesTrim analogue (src/tsdb.c:207-239): whole partitions older
    than the horizon's day are directory-dropped; only the boundary
    partition is rewritten; results equal a ts >= horizon filter."""
    import os

    from redistimeseries_spark.write.retention import evict

    day = 1000  # small time_bucket for the test
    rows = [("k", t, float(t)) for t in range(0, 5000, 100)]
    samples = spark.createDataFrame(rows, "key string, ts long, value double")
    path = str(tmp_path / "store")
    TSStore.from_dataframes(samples).write_layout(path, time_bucket_ms=day)
    assert sorted(e for e in os.listdir(path) if e.startswith("day=")) == [
        f"day={i}" for i in range(5)
    ]

    # max ts = 4900; retention 2000 -> horizon 2900, horizon day 2
    out = evict(spark, path, retention_ms=2000, time_bucket_ms=day)
    assert out == {"dropped": ["day=0", "day=1"], "horizon": 2900}
    left = sorted(e for e in os.listdir(path) if e.startswith("day="))
    assert left == ["day=2", "day=3", "day=4"]
    got = sorted(r.ts for r in spark.read.parquet(path).collect())
    assert got == list(range(2900, 5000, 100))

    # idempotent when nothing is older than the horizon day
    again = evict(spark, path, retention_ms=2000, time_bucket_ms=day)
    assert again["dropped"] == []


def test_asof_join_plan_has_no_join(spark):
    """The as-of join's 'zero-join' claim, asserted: one union + one
    per-key window, no join operator, exactly one hash exchange."""
    from redistimeseries_spark.operators.asof import ts_asof_join

    l = spark.createDataFrame([("k", 10, 1.0)], "key string, ts long, value double")
    r = spark.createDataFrame([("k", 5, 9.0)], "key string, ts long, value double")
    plan = _plan(ts_asof_join(l, r))
    assert "Join" not in plan  # no SortMergeJoin/BroadcastHashJoin/NestedLoop
    assert plan.count("Exchange hashpartitioning") == 1


def test_nrange_multiagg_single_scan(spark, tmp_path):
    """TS.NRANGE with per-key multi-agg specs reads the fact table ONCE
    regardless of key count: the former shape unioned one ts_range branch
    per key (10 keys = 10 scan subtrees = 10 passes over 100 TB); the
    single-pass plan has exactly one scan and one (key, bucket) hash
    aggregation, plus the pivot's.  twa and EMPTY specs run the same one
    stage, so their scan count does not grow with the distinct specs."""
    from redistimeseries_spark.operators.nrange import ts_nrange

    path = str(tmp_path / "facts")
    keys = [f"k{i}" for i in range(10)]
    spark.createDataFrame(
        [(k, t * 100, float(i + t)) for i, k in enumerate(keys) for t in range(50)],
        "key string, ts long, value double",
    ).write.parquet(path)
    facts = spark.read.parquet(path)
    specs = {
        k: [["min", "max"], ["avg"], ["sum", "count"], ["count_nan", "last"]][i % 4]
        for i, k in enumerate(keys)
    }
    df = ts_nrange(facts, keys, agg_specs=specs, bucket_dur=1000)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    # and the result is still per-key correct on a spot value
    row = {r.ts: r for r in df.collect()}[0]
    assert row.k0_min == 0.0 and row.k0_max == 9.0  # k0: values t+0, t in 0..9
    assert row.k1_avg == sum(1 + t for t in range(10)) / 10

    # twa and EMPTY specs take the same single stage: the scan count is
    # that of ONE key spec holding the union, however many distinct
    # specs the keys carry (a per-spec branch would add scans per spec)
    twa_specs = {
        k: [["twa"], ["twa", "min"], ["avg", "twa"], ["count_nan", "twa"]][i % 4]
        for i, k in enumerate(keys)
    }
    union = ["twa", "min", "avg", "count_nan"]
    for kw in ({}, {"empty": True}):
        one = _plan(ts_nrange(
            facts, keys, agg_specs={k: union for k in keys}, bucket_dur=1000, **kw
        )).count("Scan parquet")
        many = _plan(ts_nrange(
            facts, keys, agg_specs=twa_specs, bucket_dur=1000, **kw
        )).count("Scan parquet")
        assert many == one == 1, (kw, many, one)
    empty_specs = {
        k: [["min"], ["sum", "last"], ["count_all"]][i % 3]
        for i, k in enumerate(keys)
    }
    plan = _plan(ts_nrange(
        facts, keys, agg_specs=empty_specs, bucket_dur=1000, empty=True
    ))
    # the EMPTY spine comes from the aggregated rows: one read of the facts
    assert plan.count("Scan parquet") == 1, plan


@pytest.mark.parametrize(
    "aggs,empty",
    [
        (["avg"], False),
        (["twa"], False),
        (["twa", "avg"], False),
        (["twa", "count_nan"], False),
        (["avg"], True),
        (["twa"], True),
        (["twa", "avg", "last"], True),
    ],
)
def test_range_single_scan(spark, tmp_path, aggs, empty):
    """Every aggregator of a bucket, twa included, comes from one
    (key, bucket) frame, and the EMPTY spine from its rows: TS.RANGE
    reads the source once in the plan it executes."""
    path = str(tmp_path / "facts")
    spark.createDataFrame(
        [
            (k, t * 300 + 7 * i, float("nan") if t % 11 == 3 else float(t % 17))
            for i, k in enumerate(["a", "b", "c", "d"])
            for t in range(200)
            if not 60 <= t % 100 < 80  # 6 s gaps for the EMPTY spine
        ],
        "key string, ts long, value double",
    ).write.parquet(path)
    df = ts_range(
        spark.read.parquet(path), aggregations=aggs, bucket_dur=1000, empty=empty
    )
    df.collect()
    # the executed AQE plan prints the final plan, then the initial one
    final = _plan(df).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final and final.count("Scan parquet") == 1, final


def test_session_stats_chunk_local_plan(spark):
    """Late round 9: the per-SAMPLE window partitions by (key, chunk) —
    never bare key — so a hot series parallelizes across its time span;
    the bare-key axis survives only on the one-row-per-chunk context
    frame.  (The pre-r9 plan ran ONE key-hash exchange end-to-end, and
    with it one task per hot series.)"""
    import re

    from redistimeseries_spark.operators.session import session_stats

    s = spark.createDataFrame(
        [("k", t, 1.0) for t in range(10)], "key string, ts long, value double"
    )
    plan = _plan(session_stats(s, 1000))
    # every sample-level window sort carries BOTH partition keys: no
    # bare "windowspecdefinition(key#..., ts#... ASC" over the samples
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0]
        if "__c" not in spec and "key" in head:
            # the only bare-key windows allowed are over the per-chunk
            # frame (ordered by __c), never over per-sample ts
            assert "ts#" not in spec.split("ASC")[0], spec


def test_cusum_chunk_local_plan(spark):
    """Round 10: ts_cusum's per-SAMPLE windows partition by (key, chunk)
    and use only GROWING frames (no sliding re-aggregation, no
    shrinking-frame quadratic, no Python) — the bare-key axis survives
    only on the one-row-per-chunk stitch frame."""
    import re

    from redistimeseries_spark.operators.correlate import ts_cusum

    s = spark.createDataFrame(
        [("k", t, float(t)) for t in range(10)],
        "key string, ts long, value double",
    )
    plan = _plan(ts_cusum(s, 1.0, 5.0, target=0.0))
    assert "PythonUDF" not in plan and "FlatMapGroupsInPandas" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0]
        if "__c" not in spec and "key" in head:
            assert "ts#" not in spec.split("ASC")[0], spec
        # growing frames only: every frame ends at currentrow$() or a
        # fixed offset below it — no unboundedfollowing anywhere
        assert "unboundedfollowing" not in spec, spec


def test_stratified_sample_no_full_window_over_corpus(spark):
    """The hash cut must reach the window input: the plan filters on the
    u32-hash threshold BEFORE the row_number sort, so a giant stratum
    never funnels its full population through one task."""
    from redistimeseries_spark.pipeline.curation import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en") for i in range(2000)], "doc_id long, lang string"
    )
    plan = _plan(stratified_sample(docs, "lang", 5))
    assert "conv(substring" in plan and "row_number" in plan


def test_rate_family_bucketed_plans(spark, stores):
    """The counter/trend family over the key-bucketed layout: ts_deriv's
    (key, bucket) aggregation and ts_increase/ts_irate's key-ordered lag
    window are both satisfied by the bucketed clustering — no hash
    exchange anywhere in either plan; the histogram's (key, bin) agg
    likewise."""
    from redistimeseries_spark.operators.percentiles import ts_value_histogram
    from redistimeseries_spark.operators.rate import (
        ts_changes,
        ts_deriv,
        ts_increase,
        ts_irate,
        ts_predict_linear,
        ts_resets,
    )

    _, bk_path = stores
    bt = read_bucketed_layout(spark, "t_bucketed", bk_path, n_buckets=4)
    for df in (
        ts_deriv(bt, 60_000),
        ts_increase(bt, 60_000),
        ts_irate(bt),
        ts_value_histogram(bt, 10.0),
        ts_changes(bt, 60_000),
        ts_resets(bt, 60_000),
        ts_predict_linear(bt, 60_000, 60_000),
    ):
        assert "Exchange hashpartitioning" not in _plan(df)


def test_range_count_uses_window_group_limit(spark):
    """The per-series COUNT path's row_number <= k filter rewrites into
    WindowGroupLimit (partial per-partition heaps BEFORE the shuffle,
    then a final limit) — so a hot series ships at most
    count x #input-partitions rows into its window task, never its full
    history.  The rate/TWA family needed an explicit bucket-local
    rewrite for this property; COUNT gets it from the optimizer, pinned
    here so a regression (e.g. an expression change hiding the rank
    pattern) is caught."""
    from redistimeseries_spark.operators.range_query import ts_range

    df = spark.createDataFrame(
        [("k", t, 1.0) for t in range(100)],
        "key string, ts long, value double",
    )
    for kwargs in ({"count": 5}, {"count": 5, "rev": True}):
        plan = _plan(ts_range(df, **kwargs))
        assert plan.count("WindowGroupLimit") == 2, (kwargs, plan)
