"""Native Structured Streaming paths: watermark+window compaction rule
(append mode = closed-bucket emission), applyInPandasWithState INCRBY,
late-beyond-retention reject to the error sink, and layout partition
pruning."""

import os

import pytest

from redistimeseries_spark.store import TSStore, read_layout
from redistimeseries_spark.streaming.ingest import StreamingStore, start_ingest
from redistimeseries_spark.streaming.stateful import incrby_stream
from redistimeseries_spark.streaming.window_rules import windowed_rule

SCHEMA = "key string, ts long, value double"
SEQ_SCHEMA = SCHEMA + ", seq long"


def feed(spark, d, rows, schema=SCHEMA):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
        os.path.join(d, "in")
    )


def test_windowed_rule_append_emits_closed_buckets(spark, tmp_path):
    d = str(tmp_path)
    feed(spark, d, [("k", 0, 1.0), ("k", 500, 3.0), ("k", 1200, 5.0), ("k", 2400, 7.0)])
    stream = spark.readStream.schema(SCHEMA).parquet(os.path.join(d, "in"))
    out = windowed_rule(stream, "max", 1000)
    q = (
        out.writeStream.format("memory")
        .queryName("dest_max")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.ts: r.value for r in spark.sql("SELECT * FROM dest_max").collect()}
    # watermark reached 2400 -> buckets 0 and 1000 closed; 2000 still open
    assert got == {0: 3.0, 1000: 5.0}


def test_windowed_rule_rejects_non_streamable():
    with pytest.raises(ValueError):
        windowed_rule(None, "twa", 1000)


def test_stateful_incrby_across_batches(spark, tmp_path):
    d = str(tmp_path)
    feed(spark, d, [("c", 10, 5.0, 0), ("c", 20, 2.5, 1)], SEQ_SCHEMA)
    feed(spark, d, [("c", 30, -1.0, 2), ("c", 5, 99.0, 3)], SEQ_SCHEMA)  # ts<last dropped
    stream = (
        spark.readStream.schema(SEQ_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(d, "in"))
    )
    q = (
        incrby_stream(stream)
        .writeStream.format("memory")
        .queryName("counter")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r.ts, r.value) for r in spark.sql("SELECT * FROM counter").collect())
    assert got == [(10, 5.0), (20, 7.5), (30, 6.5)]  # state crossed the batch boundary


def test_stateful_cusum_across_batches(spark, tmp_path):
    """cusum_stream (round 10): the per-key (s_pos, s_neg) statistics
    cross micro-batch boundaries through the state store, the
    incremental stream equals the batch operator on the same ordered
    feed, out-of-order rows are dropped (the incrby_stream ts<last
    rule), and NaN rows are invalid."""
    import math

    from redistimeseries_spark.operators.correlate import ts_cusum
    from redistimeseries_spark.streaming.stateful import cusum_stream

    d = str(tmp_path)
    nan = float("nan")
    b1 = [("c", 10, 12.0), ("c", 20, 14.0), ("d", 10, 1.0)]
    b2 = [("c", 30, nan), ("c", 40, 16.0), ("c", 5, 99.0), ("d", 20, 2.0)]
    b3 = [("c", 50, 4.0), ("d", 30, 30.0)]
    for b in (b1, b2, b3):
        feed(spark, d, b)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(d, "in"))
    )
    q = (
        cusum_stream(stream, 1.0, 5.0, target=10.0)
        .writeStream.format("memory")
        .queryName("drift")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.ts): (r.value, r.s_pos, r.s_neg, r.alarm)
        for r in spark.sql("SELECT * FROM drift").collect()
    }
    # the ts=5 late row and the NaN row are gone; everything else
    # matches the batch operator replayed over the kept ordered rows
    kept = [r for r in b1 + b2 + b3 if r[1] != 5 and not math.isnan(r[2])]
    sdf = spark.createDataFrame(kept, SCHEMA)
    want = {
        (r.key, r.ts): (r.value, r.s_pos, r.s_neg, r.alarm)
        for r in ts_cusum(sdf, 1.0, 5.0, target=10.0).collect()
    }
    assert got.keys() == want.keys()
    for kk in got:
        assert got[kk][3] == want[kk][3], kk
        for i in range(3):
            assert got[kk][i] == pytest.approx(want[kk][i], abs=1e-9), kk
    # spot semantics: c's values 12,14,16 accumulate +1,+3,+5 over
    # target+k -> s_pos 1,4,9; alarm from 9 > 5
    assert got[("c", 40)][1] == pytest.approx(9.0) and got[("c", 40)][3]
    with pytest.raises(ValueError, match="slack"):
        cusum_stream(stream, -1.0, 5.0, target=0.0)
    with pytest.raises(ValueError, match="threshold"):
        cusum_stream(stream, 1.0, 0.0, target=0.0)


def test_stateful_ewm_band_across_batches(spark, tmp_path):
    """ewm_band_stream (round 11): the per-key centered EWM moment pair
    crosses micro-batch boundaries through the state store; on the same
    ordered feed the stream equals the batch ts_ewm_band operator
    (values, band, breakouts); ts<last rows are dropped; NaN rows are
    invalid everywhere — including a first batch that is ALL NaN for a
    key, which must not freeze the centering origin at 0.  Duplicate ts
    inside a batch fold to the batch operator's last-wins effective
    sample (one row out, one step of the recurrence), and a re-send of
    a ts an earlier batch already applied is dropped like ts<last."""
    import math

    from redistimeseries_spark.operators.smooth import ts_ewm_band
    from redistimeseries_spark.streaming.stateful import ewm_band_stream

    d = str(tmp_path)
    nan = float("nan")
    base = 1_000_000.0  # large offset: the centering discipline's case
    # c@20 arrives twice in b1 (last-wins keeps base + 3.0); b2
    # re-sends c@20, which b1 already applied
    resend = ("c", 20, base + 9.0)
    b1 = [("c", 10, base + 2.0), ("c", 20, base - 1.0),
          ("c", 20, base + 3.0), ("e", 10, nan)]
    b2 = [("c", 30, nan), ("c", 40, base + 1.5), ("c", 5, 99.0), resend,
          ("e", 20, 7.0)]
    b3 = [("c", 50, base + 50.0), ("e", 30, 7.4)]
    for b in (b1, b2, b3):
        feed(spark, d, b)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(d, "in"))
    )
    q = (
        ewm_band_stream(stream, 0.3, band_k=2.0)
        .writeStream.format("memory")
        .queryName("envelope")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM envelope").collect()
    got = {(r.key, r.ts): r for r in rows}
    assert len(rows) == len(got)  # one row per (key, ts)
    assert got[("c", 20)].value == base + 3.0
    kept = [
        r for r in b1 + b2 + b3
        if r[1] != 5 and not math.isnan(r[2]) and r != resend
    ]
    sdf = spark.createDataFrame(kept, SCHEMA)
    want = {
        (r.key, r.ts): r for r in ts_ewm_band(sdf, 0.3, band_k=2.0).collect()
    }
    assert got.keys() == want.keys()
    for kk in got:
        assert got[kk].breakout == want[kk].breakout, kk
        for c in ("value", "ewma", "std", "upper", "lower"):
            assert got[kk][c] == pytest.approx(want[kk][c], abs=1e-6), (kk, c)
    # the 50-sigma-ish spike at ts=50 breaks out despite the 1e6 offset
    # (collapsed pre-centering); e's all-NaN first batch did not pin its
    # centering origin to 0 — its envelope tracks ~7, not ~0
    assert got[("c", 50)].breakout
    assert abs(got[("e", 30)].ewma - 7.0) < 1.0
    with pytest.raises(ValueError, match="band_k"):
        ewm_band_stream(stream, 0.3, band_k=0.0)
    with pytest.raises(ValueError, match="alpha"):
        ewm_band_stream(stream, 1.0)


def test_retention_reject_to_error_sink(spark, tmp_path):
    """The second batch both rejects a late sample and advances `latest`
    (whose files it rewrites) before the rule step re-reads the filtered
    batch — the retention filter must not read `latest` lazily."""
    from redistimeseries_spark.streaming.compaction import CompactionRule

    d = str(tmp_path)
    rule = CompactionRule(None, "_avg_1s", "avg", 1000)
    store = StreamingStore(
        spark, os.path.join(d, "store"), "last", [rule], retention_ms=1000
    )
    feed(spark, d, [("k", 10_000, 1.0)])
    # 5000 is older than 10000 - 1000 -> rejected; 10500 is in the horizon
    feed(spark, d, [("k", 5_000, 2.0), ("k", 10_500, 3.0)])
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(d, "in"))
    )
    q = start_ingest(stream, store, availableNow=True)
    q.awaitTermination(120)
    assert sorted((r.ts, r.value) for r in store.samples().collect()) == [
        (10_000, 1.0),
        (10_500, 3.0),
    ]
    errs = spark.read.parquet(store.errors_dir).collect()
    assert [(r.ts, r.value) for r in errs] == [(5_000, 2.0)]
    full = store.rule_table(rule, include_open=True).collect()
    assert [(r.key, r.ts, r.value) for r in full] == [("k", 10_000, 2.0)]
    assert store.rule_table(rule).count() == 0  # bucket 10000 is still open


def test_layout_partition_pruning(spark, tmp_path, samples_df):
    day = 86_400_000
    rows = [("k", day * i + 50, float(i)) for i in range(5)]
    st = TSStore.from_dataframes(samples_df(rows))
    path = str(tmp_path / "layout")
    st.write_layout(path)
    df = read_layout(spark, path, start=day * 2, end=day * 3 + 100)
    assert sorted(r.ts for r in df.collect()) == [day * 2 + 50, day * 3 + 50]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "day" in pf and "isnotnull(day" in pf or "(day" in pf

def test_windowed_rule_aligned(spark, tmp_path):
    d = str(tmp_path)
    feed(spark, d, [("k", 300, 1.0), ("k", 800, 3.0), ("k", 1400, 5.0), ("k", 2600, 7.0)])
    stream = spark.readStream.schema(SCHEMA).parquet(os.path.join(d, "in"))
    # align=300: bucket lattice 300, 1300, 2300 (CalcBucketStart offset)
    out = windowed_rule(stream, "sum", 1000, align_ts=300)
    q = (
        out.writeStream.format("memory")
        .queryName("dest_aligned")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.ts: r.value for r in spark.sql("SELECT * FROM dest_aligned").collect()}
    # watermark 2600 -> buckets 300 and 1300 closed; 2300 still open
    assert got == {300: 4.0, 1300: 5.0}


def test_incremental_dedup_across_batches(spark, tmp_path):
    """Batch 2 must dedup against batch 1's accepted docs via the state
    store, not by rescanning batch 1."""
    from redistimeseries_spark.pipeline.streaming_dedup import start_dedup_stream

    d = str(tmp_path)
    doc_schema = "doc_id long, text string"
    b1 = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "completely different content about spark and parquet"),
        (3, "the quick brown fox jumps over the lazy dog tonight"),  # in-batch exact dup of 1
    ]
    b2 = [
        (10, "the quick brown fox jumps over the lazy dog tonight"),  # exact dup of stored 1
        (11, "the quick brown fox jumps over the lazy dog at night"),  # near-dup of stored 1
        (12, "entirely novel text mentioning structured streaming state"),
    ]
    os.makedirs(os.path.join(d, "in"), exist_ok=True)
    spark.createDataFrame(b1, doc_schema).write.mode("append").parquet(os.path.join(d, "in"))
    ds, q = start_dedup_stream(
        spark, os.path.join(d, "in"), os.path.join(d, "state"), os.path.join(d, "ckpt")
    )
    q.awaitTermination(120)
    spark.createDataFrame(b2, doc_schema).write.mode("append").parquet(os.path.join(d, "in"))
    ds2, q2 = start_dedup_stream(
        spark, os.path.join(d, "in"), os.path.join(d, "state"), os.path.join(d, "ckpt")
    )
    q2.awaitTermination(120)

    got = {r.doc_id: (r.status, r.dup_of) for r in ds2.decisions().collect()}
    assert got[1] == ("kept", None)
    assert got[2] == ("kept", None)
    assert got[3] == ("exact_dup", 1)
    assert got[10] == ("exact_dup", 1)
    assert got[11][0] == "near_dup" and got[11][1] == 1
    assert got[12] == ("kept", None)
    # state holds only accepted docs
    assert {r.doc_id for r in ds2.fp_store().collect()} == {1, 2, 12}


def test_session_rule_matches_batch_sessionize(spark, tmp_path):
    """Closed streaming sessions == batch session_stats on the same input
    (modulo the open tail session the watermark hasn't passed)."""
    from redistimeseries_spark.operators.session import session_stats
    from redistimeseries_spark.streaming.window_rules import session_rule

    d = str(tmp_path)
    rows = [("k", t, 1.0) for t in [0, 400, 900, 5000, 5200, 20000]] + [
        ("j", 100, 2.0), ("j", 9000, 3.0)
    ]
    feed(spark, d, rows)
    stream = spark.readStream.schema(SCHEMA).parquet(os.path.join(d, "in"))
    q = (
        session_rule(stream, gap_ms=1000)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.start_ts): (r.end_ts, r.n_samples, r.sum_value)
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    batch = spark.createDataFrame(rows, SCHEMA)
    want = {
        (r.key, r.start_ts): (r.end_ts, r.n_samples, r.sum_value)
        for r in session_stats(batch, 1000).collect()
    }
    # the watermark is GLOBAL (max event time = 20000): j's tail session
    # (9000 + gap < watermark) closes too; only k's newest stays open
    open_tails = {("k", 20000)}
    assert set(got) == set(want) - open_tails
    for k in got:
        assert got[k] == want[k]


def test_incremental_dedup_verify_disposes_candidates(spark, tmp_path):
    """With a verify threshold, a band collision alone is not enough: the
    exact-Jaccard stage keeps dissimilar candidates and flags true
    near-dups, across batches via the kept-text store."""
    from redistimeseries_spark.pipeline.streaming_dedup import start_dedup_stream

    d = str(tmp_path)
    doc_schema = "doc_id long, text string"
    b1 = [(1, "the quick brown fox jumps over the lazy dog again tonight")]
    b2 = [
        (10, "the quick brown fox jumps over the lazy dog again at night"),  # true near-dup
        (11, "totally unrelated words about distributed query planning")
    ]
    os.makedirs(os.path.join(d, "in"), exist_ok=True)
    spark.createDataFrame(b1, doc_schema).write.mode("append").parquet(os.path.join(d, "in"))
    ds, q = start_dedup_stream(
        spark, os.path.join(d, "in"), os.path.join(d, "state"), os.path.join(d, "ckpt"),
        verify_threshold=0.5,
    )
    q.awaitTermination(120)
    spark.createDataFrame(b2, doc_schema).write.mode("append").parquet(os.path.join(d, "in"))
    ds, q = start_dedup_stream(
        spark, os.path.join(d, "in"), os.path.join(d, "state"), os.path.join(d, "ckpt"),
        verify_threshold=0.5,
    )
    q.awaitTermination(120)
    got = {r.doc_id: (r.status, r.dup_of) for r in ds.decisions().collect()}
    assert got[1] == ("kept", None)
    assert got[10] == ("near_dup", 1)
    assert got[11] == ("kept", None)
    # text store holds kept docs only
    assert {r.doc_id for r in ds.text_store().collect()} == {1, 11}

    # a sky-high threshold rejects the same candidate -> everything kept
    d2 = str(tmp_path / "strict")
    os.makedirs(os.path.join(d2, "in"), exist_ok=True)
    spark.createDataFrame(b1 + b2, doc_schema).write.mode("append").parquet(os.path.join(d2, "in"))
    ds2, q2 = start_dedup_stream(
        spark, os.path.join(d2, "in"), os.path.join(d2, "state"), os.path.join(d2, "ckpt"),
        verify_threshold=0.99,
    )
    q2.awaitTermination(120)
    got2 = {r.doc_id: r.status for r in ds2.decisions().collect()}
    assert got2 == {1: "kept", 10: "kept", 11: "kept"}


def test_incremental_dedup_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a completed batch must not
    double-append, and a partial-state replay (stores written, marker
    absent) must not mark batch docs as dups of themselves."""
    from redistimeseries_spark.pipeline.streaming_dedup import DedupStream

    d = str(tmp_path / "state")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "other words entirely here")],
        "doc_id long, text string",
    )
    ds = DedupStream(spark, d)
    ds.process_batch(docs, 0)
    ds.process_batch(docs, 0)  # clean replay: marker row short-circuits
    assert ds.decisions().count() == 2
    assert {r.status for r in ds.decisions().collect()} == {"kept"}

    # partial-state replay: stores hold batch 1's rows but its marker row
    # never landed (crash between the last store append and the marker
    # append) — markers are parquet rows in state storage, so simulate by
    # dropping the files batch 1's marker append created
    bdir = os.path.join(d, "batches")
    before = set(os.listdir(bdir))
    docs2 = spark.createDataFrame(
        [(10, "fresh content for the second batch here")], "doc_id long, text string"
    )
    ds.process_batch(docs2, 1)
    for f in set(os.listdir(bdir)) - before:
        p = os.path.join(bdir, f)
        if os.path.isfile(p):
            os.remove(p)
    assert ds.completed_batches().filter("batch_id = 1").count() == 0
    ds.process_batch(docs2, 1)  # re-run sees its own fps in the store
    dec = [r for r in ds.decisions().collect() if r.doc_id == 10]
    # duplicated decision rows are the replay artifact, but the STATUS must
    # still be kept (not exact_dup-of-itself)
    assert {(r.status, r.dup_of) for r in dec} == {("kept", None)}


def test_incremental_dedup_missing_partner_text_is_conservative(spark, tmp_path):
    """A candidate pair whose partner text was never retained (state built
    with verify_threshold=None, verification enabled later) must fall back
    to the candidate-level verdict (near_dup), not silently pass verify."""
    from redistimeseries_spark.pipeline.streaming_dedup import DedupStream

    d = str(tmp_path / "state")
    t1 = "the quick brown fox jumps over the lazy dog again tonight"
    t2 = "the quick brown fox jumps over the lazy dog again at night"
    # batch 0 ingested WITHOUT verification -> no kept-text store
    ds0 = DedupStream(spark, d, verify_threshold=None)
    ds0.process_batch(spark.createDataFrame([(1, t1)], "doc_id long, text string"), 0)
    assert ds0.text_store().count() == 0

    # verification enabled later: doc 10 band-collides with doc 1, whose
    # text is absent -> conservative near_dup, with dup_of pointing at 1
    ds1 = DedupStream(spark, d, verify_threshold=0.5)
    ds1.process_batch(spark.createDataFrame([(10, t2)], "doc_id long, text string"), 1)
    got = {r.doc_id: (r.status, r.dup_of) for r in ds1.decisions().collect()}
    assert got[10] == ("near_dup", 1)


def test_stateful_anomaly_across_batches(spark, tmp_path):
    """anomaly_stream (round 11): the bounded value tail crosses
    micro-batch boundaries through the state store; on the same ordered
    feed the stream equals the batch ts_anomalies default (mean, std,
    zscore, anomaly — including the window_n warm-up NULLs); ts<last
    rows are dropped; NaN rows are invalid everywhere."""
    import math

    from redistimeseries_spark.operators.smooth import ts_anomalies
    from redistimeseries_spark.streaming.stateful import anomaly_stream

    d = str(tmp_path)
    nan = float("nan")
    import random as _random

    rng = _random.Random(5)
    vals = [rng.uniform(10, 20) for _ in range(18)]
    vals[9] = 400.0  # the outlier the monitor must flag
    rows = [("a", (i + 1) * 10, v) for i, v in enumerate(vals)]
    b1 = rows[:5] + [("a", 35, nan)]
    b2 = rows[5:12] + [("a", 5, 1.0)]  # late row dropped
    b3 = rows[12:]
    for b in (b1, b2, b3):
        feed(spark, d, b)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(d, "in"))
    )
    q = (
        anomaly_stream(stream, window_n=5, z=3.0)
        .writeStream.format("memory")
        .queryName("anomstream")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.ts): r
        for r in spark.sql("SELECT * FROM anomstream").collect()
    }
    sdf = spark.createDataFrame(rows, SCHEMA)
    want = {
        (r.key, r.ts): r
        for r in ts_anomalies(sdf, window_n=5, z=3.0).collect()
    }
    assert got.keys() == want.keys()
    for kk in got:
        assert got[kk].anomaly == want[kk].anomaly, kk
        for c in ("mean", "std", "zscore"):
            g, w = got[kk][c], want[kk][c]
            if w is None:
                assert g is None, (kk, c)
            else:
                assert g == pytest.approx(w, abs=1e-9), (kk, c)
    assert got[("a", 100)].anomaly  # the 400.0 spike
    # warm-up rows carry NULL stats like the batch operator
    assert got[("a", 10)].mean is None and got[("a", 10)].zscore is None
    with pytest.raises(ValueError, match="window_n"):
        anomaly_stream(stream, window_n=1)
    with pytest.raises(ValueError, match="z must"):
        anomaly_stream(stream, z=0.0)
