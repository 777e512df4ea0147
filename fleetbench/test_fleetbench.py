"""The benchmark's own tests.

    python -m pytest fleetbench -q -p no:cacheprovider

Seeded inputs reproduce byte for byte, a corrupted engine answer is
counted as a failed op, the Spark counter plumbing reads known counts
off a fixed plan, and BENCHMARK.json names exactly the metrics the
runner reports.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
from core import Op, evaluate, frame_check, run_op  # noqa: E402
from oracle import FleetOracle, IngestModel, dedup_scores  # noqa: E402
from spans import Tracer  # noqa: E402


def test_same_seed_same_inputs():
    assert gen.fleet(7, 3, 1).digest() == gen.fleet(7, 3, 1).digest()
    assert gen.fleet(7, 3, 1).digest() != gen.fleet(8, 3, 1).digest()
    a, b = gen.ingest_stream(7, 2, 10, 6), gen.ingest_stream(7, 2, 10, 6)
    for i in range(3):
        assert a.batch(i).equals(b.batch(i))
    assert not a.batch(1).equals(gen.ingest_stream(8, 2, 10, 6).batch(1))
    assert gen.corpus(7, 300).digest() == gen.corpus(7, 300).digest()
    assert gen.corpus(7, 300).digest() != gen.corpus(8, 300).digest()


def test_ingest_batches_keep_latest_unambiguous():
    """Late and duplicate samples are older than the batch's newest sample
    of their series, so `latest` has exactly one candidate per key."""
    s = gen.ingest_stream(3, 2, 10, 6)
    for b in range(1, 4):
        batch = s.batch(b)
        assert not batch.duplicated(["key", "ts"]).any()
        newest = batch.groupby("key").ts.max()
        grid_max = gen.T0 + (s.prefill_pts + b * s.batch_pts - 1) * s.cadence_ms
        assert (newest == grid_max).all()


def test_ingest_model_dup_policy_last():
    import pandas as pd

    m = IngestModel()
    m.add(pd.DataFrame({"key": ["a", "a"], "ts": [1, 2], "value": [1.0, 2.0]}), 0)
    m.add(pd.DataFrame({"key": ["a", "a", "a"], "ts": [1, 2, 3], "value": [9.0, np.nan, 3.0]}), 1)
    r = m.resolved()
    # the re-send wins; a NaN re-send never replaces a valid value
    assert r.value.tolist() == [9.0, 2.0, 3.0]
    assert m.latest().value.tolist() == [3.0]


def test_dedup_scores_against_planted_clusters():
    import pandas as pd

    cluster = {1: 0, 5: 0, 7: 1, 9: 1, 10: 1}
    ok = pd.DataFrame({"doc_id": [1, 2, 5, 7, 9, 10], "canonical": [1, 2, 1, 7, 7, 7]})
    ok["keep"] = ok.doc_id == ok.canonical
    assert dedup_scores(ok, cluster) == (1.0, 1.0, True)
    wrong = ok.assign(canonical=[1, 1, 1, 7, 7, 7])
    wrong["keep"] = wrong.doc_id == wrong.canonical
    recall, precision, consistent = dedup_scores(wrong, cluster)
    assert consistent and precision < 1.0


def test_benchmark_json_matches_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    # every benchmarked workload is one the runner has; corpus_dedup is
    # run by hand only
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


@pytest.fixture(scope="module")
def spark():
    from redistimeseries_spark import get_spark

    s = get_spark("fleetbench-test", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_counters_on_a_known_plan(spark, tmp_path):
    """1,000 parquet rows into a 10-group aggregation: with adaptive
    execution the shuffle map stage and the result stage run as two jobs;
    one scan task reads every record, and the reduce side is coalesced to
    one task."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": np.arange(1000, dtype=np.int64)}), path)
    df = spark.read.parquet(path)
    tr = Tracer(spark)
    tr.counters = True
    with tr.span("test", "agg") as s:
        rows = df.groupBy(F.col("id") % 10).count().collect()
    assert len(rows) == 10
    c = s.counters
    assert (c["jobs"], c["stages"], c["tasks"], c["input_records"]) == (2, 2, 2, 1000)
    assert c["shuffle_write_bytes"] == c["shuffle_read_bytes"] > 0
    assert tr.spans == [s]


def test_corrupted_answer_is_a_failed_op(spark):
    from redistimeseries_spark.operators.range_query import ts_range

    f = gen.fleet(5, 2, 1)
    samples = spark.createDataFrame(f.samples_frame())
    oracle = FleetOracle(f)
    key, start, end = str(f.keys[3]), gen.T0, f.end_ts
    op = Op(
        "operators", "range_agg",
        lambda tr: ts_range(samples, start, end, keys=key, aggregations=["avg"], bucket_dur=gen.MIN),
        lambda: oracle.range_agg(key, start, end, gen.MIN),
        frame_check(["key", "ts", "avg"]),
    )
    tr = Tracer(spark)
    good, bad = run_op(op, 0, tr, False), run_op(op, 1, tr, False)
    assert good.error is None and len(good.result) == 60
    bad.result.loc[7, "avg"] += 1e-3
    assert evaluate([good, bad]) == 1
    assert good.ok and not bad.ok
