"""compact_index: an N-batch streamed store answers queries identically
after compaction, with the per-table parquet file count bounded by the
partition count — the file-listing cost cap the b12 latency floor needs
at 10^4+ batches (verdict r7 "what's wrong" #2)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from redistimeseries_spark.pipeline.index_maintenance import (
    compact_index,
    index_file_counts,
)
from redistimeseries_spark.store import read_parquet


def _docs(spark):
    return read_parquet(
        spark, "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")


@pytest.fixture(scope="module")
def text_store6(spark, tmp_path_factory):
    """A never-compacted TextIndexStream store after 6 micro-batches
    (`doc_id % 6 = i`) — the uncompacted twin several tests compare
    against.  Read-only: a test that writes works on a copy."""
    from redistimeseries_spark.pipeline.retrieval import TextIndexStream

    docs = _docs(spark)
    path = str(tmp_path_factory.mktemp("text6") / "plain")
    stream = TextIndexStream(spark, path)
    for i in range(6):
        stream.process_batch(docs.filter(f"doc_id % 6 = {i}"), i)
    return path


@pytest.fixture(scope="module")
def dedup_store5(spark, tmp_path_factory):
    """A never-compacted DedupStream state dir (verify_threshold=0.5)
    after 5 micro-batches (`doc_id % 6 = i`).  Read-only: tests copy it."""
    from redistimeseries_spark.pipeline.streaming_dedup import DedupStream

    docs = _docs(spark)
    path = str(tmp_path_factory.mktemp("dedup5") / "state")
    stream = DedupStream(spark, path, verify_threshold=0.5)
    for i in range(5):
        stream.process_batch(docs.filter(f"doc_id % 6 = {i}"), i)
    return path


def test_text_index_compaction_equivalence(spark, tmp_path):
    """8 micro-batches -> compact: bm25_topk_indexed and
    read_index_stats byte-equal; postings collapse to <=1 file per term
    bucket; an orphan (uncommitted) batch is dropped by compaction; the
    stream continues cleanly on the compacted store."""
    from redistimeseries_spark.pipeline.retrieval import (
        TextIndexStream,
        bm25_topk_indexed,
        read_index_stats,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tix")
    stream = TextIndexStream(spark, path)
    for i in range(8):
        stream.process_batch(docs.filter(f"doc_id % 8 = {i}"), i)
    # crash orphan: batch 99's postings land, its marker never does
    stream._write_postings(
        stream._tokenize(docs.filter("doc_id % 8 = 0")).localCheckpoint(), 99
    )

    q = "fast table scan query"
    want = [
        (r.doc_id, r.score)
        for r in bm25_topk_indexed(spark, path, q, k=15).collect()
    ]
    s_want = read_index_stats(spark, path).collect()[0]
    pre = index_file_counts(spark, path)

    written = compact_index(spark, path)
    post = index_file_counts(spark, path)

    got = [
        (r.doc_id, r.score)
        for r in bm25_topk_indexed(spark, path, q, k=15).collect()
    ]
    s_got = read_index_stats(spark, path).collect()[0]
    assert got == want
    assert (s_got.n_docs, s_got.total_dl) == (s_want.n_docs, s_want.total_dl)

    n_tb = (
        spark.read.parquet(f"{path}/postings")
        .select("tb")
        .distinct()
        .count()
    )
    assert post["postings"] <= n_tb < pre["postings"]
    assert post["stats_batches"] == 1 and post["batches"] == 1
    # orphan dropped: no batch-99 rows survive the rewrite
    assert (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("batch_id") == 99)
        .count()
        == 0
    )
    assert written["stats_batches"] == 1

    # stream continues: compaction preserved batches/, so new ids commit
    # and old ids still replay as no-ops
    stream.process_batch(docs.filter("doc_id % 8 = 0"), 0)  # replay no-op
    extra = docs.filter("doc_id < 40").withColumn(
        "doc_id", F.col("doc_id") + 10_000
    )
    stream.process_batch(extra, 8)
    s2 = read_index_stats(spark, path).collect()[0]
    assert s2.n_docs == s_want.n_docs + extra.count()


def test_ivf_index_compaction_equivalence(spark, tmp_path):
    """6 micro-batches -> compact: ivf_topk_indexed equal, cells collapse
    to <=1 file per cell dir, partition pruning intact."""
    from redistimeseries_spark.pipeline.similarity import (
        IVFIndexStream,
        ivf_topk_indexed,
    )

    emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    stream = IVFIndexStream(spark, path, ncent=8)
    for i in range(6):
        stream.process_batch(emb.filter(f"vec_id % 6 = {i}"), i)

    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    ]
    want = [
        (r.vec_id, r.cos)
        for r in ivf_topk_indexed(spark, path, qv, k=20, nprobe=3).collect()
    ]
    pre = index_file_counts(spark, path)
    compact_index(spark, path)
    post = index_file_counts(spark, path)

    got_df = ivf_topk_indexed(spark, path, qv, k=20, nprobe=3)
    assert [(r.vec_id, r.cos) for r in got_df.collect()] == want
    n_cells = (
        spark.read.parquet(f"{path}/cells").select("cid").distinct().count()
    )
    assert post["cells"] <= n_cells < pre["cells"]
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan


def test_semdedup_stream_compaction_equivalence(spark, tmp_path):
    """5 micro-batches -> compact: accepted() and decisions() equal, and
    the NEXT batch dedups against the compacted state exactly as it
    would have against the fragmented one."""
    from redistimeseries_spark.pipeline.similarity import SemDedupStream

    emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    path_a, path_b = str(tmp_path / "a"), str(tmp_path / "b")
    sa = SemDedupStream(spark, path_a, threshold=0.9, ncent=8)
    batches = [emb.filter(f"vec_id % 6 = {i}") for i in range(6)]
    for i in range(5):
        sa.process_batch(batches[i], i)
    # the twin: the same 5 batches' store, copied before compaction
    shutil.copytree(path_a, path_b)
    sb = SemDedupStream(spark, path_b, threshold=0.9, ncent=8)

    compact_index(spark, path_a)

    acc_a = sorted(r.vec_id for r in sa.accepted().collect())
    acc_b = sorted(r.vec_id for r in sb.accepted().collect())
    assert acc_a == acc_b
    dec_a = sorted(
        (r.vec_id, r.status, r.dup_of) for r in sa.decisions().collect()
    )
    dec_b = sorted(
        (r.vec_id, r.status, r.dup_of) for r in sb.decisions().collect()
    )
    assert dec_a == dec_b

    # next batch sees identical state on both stores
    sa.process_batch(batches[5], 5)
    sb.process_batch(batches[5], 5)
    assert sorted(r.vec_id for r in sa.accepted().collect()) == sorted(
        r.vec_id for r in sb.accepted().collect()
    )


def test_compaction_idempotent_and_rerunnable(spark, tmp_path):
    """compact_index twice == once, and a leftover `__old` dir from a
    simulated crash is cleaned up by the rerun."""
    from redistimeseries_spark.pipeline.retrieval import (
        TextIndexStream,
        bm25_topk_indexed,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tix")
    stream = TextIndexStream(spark, path)
    for i in range(3):
        stream.process_batch(docs.filter(f"doc_id % 3 = {i}"), i)
    q = "fast table scan query"
    want = [
        (r.doc_id, r.score)
        for r in bm25_topk_indexed(spark, path, q, k=10).collect()
    ]
    compact_index(spark, path)
    import os

    os.makedirs(f"{path}/postings__old", exist_ok=True)  # benign leftover
    compact_index(spark, path)
    got = [
        (r.doc_id, r.score)
        for r in bm25_topk_indexed(spark, path, q, k=10).collect()
    ]
    assert got == want
    assert not os.path.exists(f"{path}/postings__old")
    assert not os.path.exists(f"{path}/postings__compact")

    # the REAL crash window: between the two swap renames the live dir
    # is gone and the data sits in __old (with a possibly-incomplete
    # __compact next to it) — the rerun must restore from __old
    os.rename(f"{path}/postings", f"{path}/postings__old")
    os.makedirs(f"{path}/postings__compact", exist_ok=True)
    compact_index(spark, path)
    got = [
        (r.doc_id, r.score)
        for r in bm25_topk_indexed(spark, path, q, k=10).collect()
    ]
    assert got == want
    assert os.path.exists(f"{path}/postings")
    assert not os.path.exists(f"{path}/postings__old")
    assert not os.path.exists(f"{path}/postings__compact")


def test_dedup_state_compaction_equivalence(spark, tmp_path, dedup_store5):
    """DedupStream state: 5 micro-batches -> compact: decisions equal,
    the NEXT batch decides identically on the compacted state, and the
    per-table file counts collapse."""
    from redistimeseries_spark.pipeline.index_maintenance import (
        compact_dedup_state,
    )
    from redistimeseries_spark.pipeline.streaming_dedup import DedupStream

    docs = _docs(spark)
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    shutil.copytree(dedup_store5, a_dir)
    shutil.copytree(dedup_store5, b_dir)
    sa = DedupStream(spark, a_dir, verify_threshold=0.5)
    sb = DedupStream(spark, b_dir, verify_threshold=0.5)
    batches = [docs.filter(f"doc_id % 6 = {i}") for i in range(6)]

    pre = index_file_counts(spark, a_dir)
    written = compact_dedup_state(spark, a_dir)
    post = index_file_counts(spark, a_dir)

    dec_a = sorted(map(tuple, sa.decisions().collect()))
    dec_b = sorted(map(tuple, sb.decisions().collect()))
    assert dec_a == dec_b
    for sub in ("fps", "bands", "decisions", "batches"):
        assert post[sub] == 1 and pre[sub] > 1, sub
    assert written["batches"] == 5

    sa.process_batch(batches[5], 5)
    sb.process_batch(batches[5], 5)
    assert sorted(map(tuple, sa.decisions().collect())) == sorted(
        map(tuple, sb.decisions().collect())
    )
    # replay of an old id stays a no-op on the compacted store
    sa.process_batch(batches[0], 0)
    assert sorted(map(tuple, sa.decisions().collect())) == sorted(
        map(tuple, sb.decisions().collect())
    )


def test_auto_compaction_in_stream(spark, tmp_path, text_store6):
    """compact_every=2: the stream self-compacts after every second
    committed batch — results identical to an uncompacted twin, file
    counts bounded, replay guard intact."""
    from redistimeseries_spark.pipeline.retrieval import (
        TextIndexStream,
        bm25_topk_indexed,
        read_index_stats,
    )

    docs = _docs(spark)
    a_path, b_path = str(tmp_path / "auto"), text_store6
    sa = TextIndexStream(spark, a_path, compact_every=2)
    for i in range(6):
        sa.process_batch(docs.filter(f"doc_id % 6 = {i}"), i)

    q = "fast table scan query"
    got = [
        (r.doc_id, r.score)
        for r in bm25_topk_indexed(spark, a_path, q, k=15).collect()
    ]
    want = [
        (r.doc_id, r.score)
        for r in bm25_topk_indexed(spark, b_path, q, k=15).collect()
    ]
    assert got == want
    sa_stats = read_index_stats(spark, a_path).collect()[0]
    sb_stats = read_index_stats(spark, b_path).collect()[0]
    assert (sa_stats.n_docs, sa_stats.total_dl) == (
        sb_stats.n_docs,
        sb_stats.total_dl,
    )
    ca, cb = index_file_counts(spark, a_path), index_file_counts(spark, b_path)
    assert ca["postings"] < cb["postings"]
    assert ca["stats_batches"] == 1  # last trigger was batch 5 (6th)
    sa.process_batch(docs.filter("doc_id % 6 = 0"), 0)  # replay no-op
    assert read_index_stats(spark, a_path).collect()[0].n_docs == sa_stats.n_docs


def test_size_based_compaction_trigger(spark, tmp_path, text_store6):
    """compact_max_files (round 10): compaction fires only when the
    store's total data-file count exceeds the threshold — file counts
    stay bounded, results equal an uncompacted twin, and a generous
    threshold fires NOTHING (the build pays zero rewrites where the
    batch-count rule would have paid them on schedule)."""
    from redistimeseries_spark.pipeline.retrieval import (
        TextIndexStream,
        bm25_topk_indexed,
    )

    docs = _docs(spark)
    a_path = str(tmp_path / "sized")
    b_path = text_store6
    c_path = str(tmp_path / "lofty")
    sa = TextIndexStream(spark, a_path, compact_max_files=25)
    sc = TextIndexStream(spark, c_path, compact_max_files=100_000)
    for i in range(6):
        for s in (sa, sc):
            s.process_batch(docs.filter(f"doc_id % 6 = {i}"), i)
    q = "fast table scan query"
    got = [(r.doc_id, r.score)
           for r in bm25_topk_indexed(spark, a_path, q, k=15).collect()]
    want = [(r.doc_id, r.score)
            for r in bm25_topk_indexed(spark, b_path, q, k=15).collect()]
    assert got == want
    ca = index_file_counts(spark, a_path)
    cb = index_file_counts(spark, b_path)
    cc = index_file_counts(spark, c_path)
    assert sum(ca.values()) < sum(cb.values())
    # the generous threshold never tripped: same fragment counts as the
    # never-compacted twin
    assert cc == cb


def test_auto_compaction_dedup_stream(spark, tmp_path):
    """DedupStream compact_every: decisions equal an uncompacted twin
    through two compaction triggers and a subsequent batch."""
    from redistimeseries_spark.pipeline.streaming_dedup import DedupStream

    docs = _docs(spark)
    a_dir, b_dir = str(tmp_path / "auto"), str(tmp_path / "plain")
    sa = DedupStream(spark, a_dir, compact_every=2)
    sb = DedupStream(spark, b_dir)
    for i in range(5):
        sa.process_batch(docs.filter(f"doc_id % 5 = {i}"), i)
        sb.process_batch(docs.filter(f"doc_id % 5 = {i}"), i)
    assert sorted(map(tuple, sa.decisions().collect())) == sorted(
        map(tuple, sb.decisions().collect())
    )
    ca = index_file_counts(spark, a_dir)
    cb = index_file_counts(spark, b_dir)
    assert ca["fps"] < cb["fps"] and ca["bands"] < cb["bands"]


def test_compacting_marker_makes_race_retryable(spark, tmp_path):
    """Round-9 (ADVICE r8): a reader racing the rename-swap used to get
    a raw PATH_NOT_FOUND with no retry hint.  With the `_compacting`
    marker held for the duration of the pass, a vanished-table read
    raises the typed retryable StoreCompactingError; without the marker
    the original AnalysisException propagates unchanged; and a completed
    compaction leaves no marker behind."""
    import pytest as _pytest

    from redistimeseries_spark.pipeline.index_maintenance import (
        COMPACTING_MARKER,
        compact_index,
    )
    from redistimeseries_spark.pipeline.retrieval import (
        TextIndexStream,
        _path_exists,
        _read_index_rows,
        _touch,
        bm25_topk_indexed,
    )
    from redistimeseries_spark.store_files import StoreCompactingError

    docs = _docs(spark)
    path = str(tmp_path / "race")
    st = TextIndexStream(spark, path)
    for i in range(2):
        st.process_batch(docs.filter(f"doc_id % 2 = {i}"), i)
    compact_index(spark, path)
    assert not _path_exists(spark, f"{path}/{COMPACTING_MARKER}")

    # simulate the mid-swap window: marker present, postings vanished
    import shutil

    shutil.move(f"{path}/postings", f"{path}/postings__compact")
    _touch(spark, f"{path}/{COMPACTING_MARKER}")
    with _pytest.raises(StoreCompactingError, match="retry"):
        _read_index_rows(spark, path, "postings")
    with _pytest.raises(StoreCompactingError, match="retry"):
        bm25_topk_indexed(spark, path, "fast table scan query", k=3).collect()

    # no marker -> the original missing-path error propagates
    from pyspark.errors import AnalysisException

    from redistimeseries_spark.pipeline.retrieval import _rm

    _rm(spark, f"{path}/{COMPACTING_MARKER}")
    with _pytest.raises(AnalysisException):
        _read_index_rows(spark, path, "postings")

    # a compaction rerun recovers the half-swapped table and clears up
    shutil.move(f"{path}/postings__compact", f"{path}/postings")
    compact_index(spark, path)
    assert not _path_exists(spark, f"{path}/{COMPACTING_MARKER}")
    assert bm25_topk_indexed(spark, path, "fast table scan query", k=3).count() > 0


@pytest.mark.parametrize("kind", ["text", "dedup"])
def test_stream_recovers_crashed_compaction(
    spark, tmp_path, kind, text_store6, dedup_store5
):
    """A compaction pass that crashed between its two renames leaves a
    table as `<t>__old` (beside a partial `<t>__compact`) under the
    `_compacting` marker.  The stream's next `process_batch` repairs the
    store before its first read and carries on with every committed
    batch, instead of raising StoreCompactingError on every batch until
    someone reruns the compaction by hand."""
    import os

    from redistimeseries_spark.pipeline.retrieval import (
        TextIndexStream,
        read_index_stats,
    )
    from redistimeseries_spark.pipeline.streaming_dedup import DedupStream
    from redistimeseries_spark.store_files import COMPACTING_MARKER

    docs = _docs(spark)
    path = str(tmp_path / kind)
    if kind == "text":
        shutil.copytree(text_store6, path)
        stream = TextIndexStream(spark, path)
        crashed = ("postings", "batches")
        # 6 committed batches hold every doc; batch 6 adds new ids
        batch = docs.filter("doc_id < 40").withColumn(
            "doc_id", F.col("doc_id") + 10_000
        )
        n_docs = docs.count() + batch.count()
    else:
        shutil.copytree(dedup_store5, path)
        stream = DedupStream(spark, path, verify_threshold=0.5)
        crashed = ("fps", "batches")
        batch = docs.filter("doc_id % 6 = 5")
    for sub in crashed:
        os.rename(f"{path}/{sub}", f"{path}/{sub}__old")
        os.makedirs(f"{path}/{sub}__compact")
    open(f"{path}/{COMPACTING_MARKER}", "w").close()

    stream.process_batch(batch, 6 if kind == "text" else 5)
    assert not os.path.exists(f"{path}/{COMPACTING_MARKER}")
    for sub in crashed:
        assert os.path.exists(f"{path}/{sub}")
        assert not os.path.exists(f"{path}/{sub}__old")
        assert not os.path.exists(f"{path}/{sub}__compact")
    if kind == "text":
        assert read_index_stats(spark, path).collect()[0].n_docs == n_docs
    else:
        done = {r.batch_id for r in stream.completed_batches().collect()}
        assert done == set(range(6))
        assert stream.decisions().count() == docs.count()
