"""The driver-side label index (operators/labels.LabelIndex): answers
equal to the Spark semi-/anti-join formulation it replaced, its cache
semantics, the engine's rebuild on relabel, and the Spark-job budget of
each dashboard-shaped label query."""

import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import count_jobs

from pyspark.sql import functions as F

from redistimeseries_spark.engine import TimeSeriesEngine
from redistimeseries_spark.operators.labels import (
    LabelIndex,
    LabelPredicate,
    label_index,
    matched_keys,
    query_labels,
)
from redistimeseries_spark.operators.multi import ts_mget, ts_mrange

SCHEMA = "key string, label string, value string"
OPS = ("eq", "ne", "in", "notin", "exists", "notexists")


def semijoin_keys(labels, preds):
    """The independent twin: matched keys as Spark semi-/anti-joins of the
    key universe against the labels table, one join per predicate."""
    if not any(p.inclusive for p in preds):
        raise ValueError("label filter needs at least one inclusive predicate")
    keys = labels.select("key").distinct()
    for p in preds:
        lbl = labels.filter(F.col("label") == p.label)
        if p.op in ("eq", "in"):
            keys = keys.join(lbl.filter(F.col("value").isin(p.values)), "key", "left_semi")
        elif p.op in ("ne", "notin"):
            keys = keys.join(lbl.filter(F.col("value").isin(p.values)), "key", "left_anti")
        elif p.op == "exists":
            keys = keys.join(lbl, "key", "left_semi")
        else:
            keys = keys.join(lbl, "key", "left_anti")
    return keys


def _random_labels(rng):
    """Keys k0..k11 over labels a/b/c: a label may be missing, held once,
    or duplicated (several rows for one (key, label)); values include
    NULL and the empty string; a few rows have a NULL label or key."""
    rows = []
    for i in range(12):
        for lbl in "abc":
            for _ in range(rng.choice([0, 1, 1, 2, 3])):
                rows.append((f"k{i}", lbl, rng.choice(["x", "y", "z", "", None])))
    rows += [("k12", None, "x"), (None, "a", "x")]
    return rows


def _random_preds(rng):
    preds = []
    for _ in range(rng.randint(1, 3)):
        op = rng.choice(OPS)
        vals = {
            "eq": 1, "ne": 1, "in": rng.randint(0, 3), "notin": rng.randint(1, 3),
        }.get(op, 0)
        preds.append(
            LabelPredicate(rng.choice("abcd"), op, rng.sample(["x", "y", "z", ""], vals))
        )
    return preds


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_index_matches_semijoin_twin(spark, seed):
    """All six predicate forms over random label tables with duplicate
    (key, label) rows, NULL and empty-string values and keys lacking a
    label: the index answers exactly what the semi-join twin answers,
    including the inclusive-predicate error, and QUERYLABELS answers the
    twin's distinct labels/values over the matched keys."""
    rng = random.Random(seed)
    rows = _random_labels(rng)
    labels = spark.createDataFrame(rows, SCHEMA).cache()
    index = LabelIndex(rows)
    cases = 0
    while cases < 12:
        preds = _random_preds(rng)
        if not any(p.inclusive for p in preds):
            with pytest.raises(ValueError, match="inclusive"):
                index.match(preds)
            with pytest.raises(ValueError, match="inclusive"):
                semijoin_keys(labels, preds)
            continue
        cases += 1
        twin = semijoin_keys(labels, preds)
        want = sorted(r.key for r in twin.collect())
        assert index.match(preds) == want, preds
        assert sorted(matched_keys(labels, preds).toPandas().key) == want, preds
        if cases % 4 == 0:
            matched = labels.join(twin, "key", "left_semi")
            assert index.query_labels("labels", filters=preds) == sorted(
                r.label for r in matched.select("label").distinct().collect()
            )
            got = index.query_labels("values", "a", filters=preds)
            vals = [r.value for r in matched.filter("label = 'a'").select("value").distinct().collect()]
            assert got == sorted(vals, key=lambda v: (v is not None, v or ""))
    labels.unpersist()


def test_string_filters_and_quoting(spark):
    """Parsed FILTER strings, and keys holding quotes, backslashes and
    `${...}`, which travel to the samples scan inside a SQL literal list."""
    keys = ["plain", "it's", "back\\slash", "both\\'", "${spark:spark.app.name}"]
    rows = [(k, "t", "v") for k in keys] + [("other", "t", "w")]
    labels = spark.createDataFrame(rows, SCHEMA)
    samples = spark.createDataFrame(
        [(k, 1, float(i)) for i, k in enumerate(keys + ["other"])],
        "key string, ts long, value double",
    )
    assert label_index(labels).match(["t=v"]) == sorted(keys)
    got = {r.key: r.value for r in ts_mget(samples, labels, ["t=v"]).collect()}
    assert got == {k: float(i) for i, k in enumerate(keys)}
    assert sorted(r.key for r in ts_mrange(samples, labels, ["t=(v,w)"]).collect()) == sorted(
        keys + ["other"]
    )
    assert ts_mget(samples, labels, ["t=nothing"]).collect() == []


def test_cached_frame_keeps_its_index_uncached_rereads(spark, tmp_path):
    """A cached labels frame is read once and answers from its index for
    as long as Spark serves it from that cache entry, even when its source
    changes behind the cache; an uncached frame is re-read on every call.
    A write through Spark that re-caches the source, or an unpersist,
    drops the cached frame's index."""
    path = str(tmp_path / "labels.parquet")
    spark.createDataFrame([("a", "r", "x")], SCHEMA).write.parquet(path)
    cached = spark.read.parquet(path).cache()
    cached.count()
    plain = spark.read.parquet(path)

    def match(df):
        return count_jobs(spark, lambda: label_index(df).match(["r=x"]))

    def read(df):
        # what a query over the frame reads: a derived plan takes Spark's
        # current cache entry (the frame's own collect keeps the entry its
        # first execution planned against)
        return sorted(r.key for r in df.select("key").collect())

    assert match(cached) == (["a"], 1)
    assert match(cached) == (["a"], 0)
    # a file the cache manager never hears of: the snapshot stands
    pq.write_table(
        pa.table({"key": ["c"], "label": ["r"], "value": ["x"]}), f"{path}/late.parquet"
    )
    assert match(cached) == (["a"], 0)
    assert read(cached) == ["a"]
    assert match(plain) == (read(plain), 1)
    assert match(plain) == (read(plain), 1)

    spark.createDataFrame([("b", "r", "x")], SCHEMA).write.mode("append").parquet(path)
    assert "b" in read(cached)  # Spark re-cached the source
    assert match(cached) == (read(cached), 1)
    cached.unpersist()
    assert match(cached) == (read(cached), 1)
    assert match(cached) == (read(cached), 1)
    shutil.rmtree(path)


def test_engine_relabel_seen_by_next_query(spark):
    """The engine's index follows its catalog: `alter(labels=...)`,
    `create`, `drop` and `rename` are seen by the next QUERYINDEX, MRANGE
    and MGET, and a label query runs no Spark job."""
    eng = TimeSeriesEngine(spark)
    eng.create("a", labels={"env": "dev"})
    eng.create("b", labels={"env": "prod"})
    eng.madd([("a", 1000, 1.0), ("b", 1000, 2.0)])
    assert eng.queryindex(["env=dev"]) == ["a"]
    eng.alter("b", labels={"env": "dev", "team": "t"})
    assert count_jobs(spark, lambda: eng.queryindex(["env=dev"])) == (["a", "b"], 0)
    assert sorted(r.key for r in eng.mrange(["env=dev"]).collect()) == ["a", "b"]
    eng.alter("a", labels={"env": "prod"})
    assert {r.key for r in eng.mget(["env=dev"]).collect()} == {"b"}
    assert eng.querylabels("labels", filters=["env=dev"]) == ["env", "team"]
    eng.rename("b", "c")
    eng.create("d", labels={"team": "t"})
    assert eng.queryindex(["team=t"]) == ["c", "d"]
    eng.drop("c")
    assert eng.queryindex(["team=t"]) == ["d"]


M, H = 60_000, 3_600_000


@pytest.fixture(scope="module")
def fleet(spark):
    """32 series (8 hosts x 4 metrics, labels hostname/region/service/
    metric) at 1 min cadence over 6 h, cached, plus its latest table."""
    hosts = [(f"h{i}", f"r{i % 3}", str(i % 2)) for i in range(8)]
    metrics = ["cpu", "mem", "disk", "net"]
    keys = [(f"{h}.{m}", h, r, svc, m) for h, r, svc in hosts for m in metrics]
    rows = [(k[0], t * M, float((i * 7 + t) % 13)) for i, k in enumerate(keys) for t in range(360)]
    samples = spark.createDataFrame(rows, "key string, ts long, value double").cache()
    labels = spark.createDataFrame(
        [
            (k, lbl, v)
            for k, h, r, svc, m in keys
            for lbl, v in (("hostname", h), ("region", r), ("service", svc), ("metric", m))
        ],
        SCHEMA,
    ).cache()
    latest = samples.groupBy("key").agg(
        F.max("ts").alias("ts"), F.max_by("value", "ts").alias("value")
    ).cache()
    samples.count(), labels.count(), latest.count()
    yield samples, labels, latest
    for df in (samples, labels, latest):
        df.unpersist()


def test_dashboard_label_query_job_budget(spark, fleet):
    """Each dashboard-shaped label query, warm (the cached labels frame
    already indexed), runs at most its budget of Spark jobs: the label
    match runs on the driver, the samples scan takes a literal key set
    instead of a broadcast semi-join, an aggregated MRANGE answer is
    bounded by its matched keys and sorted in one partition (no
    range-partition sampling job, no sort shuffle), and GROUPBY maps keys
    to groups with a literal instead of a broadcast job."""
    samples, labels, latest = fleet
    ops = {
        "mrange_agg": (2, lambda: ts_mrange(
            samples, labels, ["region=r1", "metric=cpu"], 0, 6 * H,
            aggregations=["max"], bucket_dur=H,
        )),
        "mrange_groupby": (2, lambda: ts_mrange(
            samples, labels, ["metric=mem"], 0, 6 * H,
            aggregations=["avg"], bucket_dur=15 * M, groupby="service", reduce="avg",
        )),
        "mget_latest": (1, lambda: ts_mget(samples, labels, ["metric=disk"], latest_table=latest)),
        "queryindex": (1, lambda: matched_keys(labels, ["region=r0", "service=1"])),
        "querylabels": (1, lambda: query_labels(labels, "values", "hostname", ["region=r2"])),
    }
    label_index(labels)
    for name, (budget, op) in ops.items():
        op().toPandas()  # warm
        got, jobs = count_jobs(spark, lambda: op().toPandas())
        assert len(got) > 0, name
        assert jobs <= budget, (name, jobs)

    eng = TimeSeriesEngine(spark)
    eng.create("a", labels={"env": "dev", "team": "t"})
    eng.create("b", labels={"env": "prod"})
    assert count_jobs(spark, lambda: eng.queryindex(["env!="])) == (["a", "b"], 0)
    assert count_jobs(spark, lambda: eng.querylabels("values", "env")) == (["dev", "prod"], 0)
