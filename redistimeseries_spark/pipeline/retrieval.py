"""Lexical retrieval over the documents table: BM25 scoring and top-k.

The missing sibling of the embedding ANN family (pipeline/similarity.py):
a training-data pipeline uses lexical retrieval to pull topical subsets
("find the docs about X"), to mine hard negatives for embedding training,
and as the sparse half of hybrid search.  BM25 (Robertson & Spärck Jones'
probabilistic ranking; the Okapi BM25 formulation with the k1/b saturation
terms) is the standard scorer.

Spark-first shape — everything is expression-level, no UDFs:

* per-doc term frequencies for the QUERY TERMS ONLY: the tokenized text
  filters against a literal term set before the explode, so the exploded
  intermediate holds only matching occurrences (|matches| rows, not
  |tokens| rows);
* document frequencies come from the same filtered rows — one tiny
  aggregate keyed by term (bounded by |query terms|);
* N and avgdl ride in via a broadcast 1-row cross join, never a driver
  collect, so the whole scorer stays one lazy plan;
* top-k orders by (score desc, doc_id asc) under a LIMIT — Catalyst
  runs it as TakeOrderedAndProject (per-partition bounded heaps + one
  driver merge), never a global sort.

Tokenization matches the dedup family's WORD_RE so gram/term vocabularies
agree across the pipeline.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redistimeseries_spark.pipeline.dedup import WORD_RE
from redistimeseries_spark.store_files import (
    _maybe_compact,
    _path_exists,
    _rm,
    _touch,
    read_state,
    recover,
)

BM25_K1 = 1.2
BM25_B = 0.75

# every table an index store (text, IVF, SemDeDup) appends to and
# `index_maintenance.compact_index` swaps
INDEX_TABLES = ("postings", "cells", "stats_batches", "decisions", "batches")


def query_terms(query: str) -> list[str]:
    """Distinct lowercase word terms of a free-text query, tokenized with
    the same WORD_RE convention the corpus side uses (sorted for
    deterministic plans and oracles)."""
    return sorted({t for t in re.split(WORD_RE, query.lower()) if t})


def corpus_stats(docs: DataFrame) -> DataFrame:
    """1-row (n_docs, avgdl) frame for `bm25_scores`.  A deployment
    serving many queries computes this once per corpus snapshot and
    passes it in — each query then costs exactly ONE corpus scan."""
    return docs.select(
        F.size(
            F.expr(f"array_remove(split(lower(text), '{WORD_RE}'), '')")
        ).alias("dl")
    ).agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))


def bm25_scores(
    docs: DataFrame,
    query: str,
    k1: float = BM25_K1,
    b: float = BM25_B,
    stats: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, score) for every doc matching >=1 query term.

    score(d, q) = sum over matched terms t of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    with the BM25+ style non-negative idf
        idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)),
    dl = doc token count, avgdl = corpus mean token count, N = corpus
    size.  df counts docs containing the term; docs matching no term are
    absent (their score is 0 by definition).

    Scan discipline: the (doc, term) tf frame — tiny relative to the
    corpus — materializes once (localCheckpoint) so the df aggregation
    derives from it instead of re-running the corpus scan; corpus stats
    cost the one remaining extra scan unless a precomputed `stats`
    frame (see `corpus_stats`) is passed.  Naively the plan re-executed
    the scan THREE times (tf, df, stats) — at 100 TB the scans are the
    query."""
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no terms after tokenization")
    toks = docs.select(
        "doc_id",
        F.expr(f"array_remove(split(lower(text), '{WORD_RE}'), '')").alias("wa"),
    ).select("doc_id", "wa", F.size("wa").alias("dl"))
    stats = F.broadcast(
        stats
        if stats is not None
        else toks.agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
        )
    )
    term_arr = F.array(*[F.lit(t) for t in terms])
    # keep only matching occurrences BEFORE exploding: |matches| rows,
    # not |tokens| rows, reach the aggregation
    matches = toks.select(
        "doc_id",
        "dl",
        F.explode(
            F.filter("wa", lambda w: F.array_contains(term_arr, w))
        ).alias("term"),
    )
    tf = matches.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    ).localCheckpoint()
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(stats)
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy("doc_id").agg(F.sum("w").alias("score"))


TEXT_INDEX_BUCKETS = 64

# sentinel batch_id stamped on batch-built index rows (build_text_index /
# similarity.build_ivf_index) and recorded as committed in `batches/`;
# Structured Streaming micro-batch ids start at 0, so -1 never collides
BATCH_BUILT_ID = -1


def _term_bucket_py(term: str, buckets: int) -> int:
    """md5-prefix bucket, computable identically driver-side (Python) and
    executor-side (the Spark expression in `_term_bucket_col`) — the same
    arithmetic as curation.hash_split."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:7], 16) % buckets


def _term_bucket_col(term_col, buckets: int):
    return (
        F.conv(F.substring(F.md5(term_col), 1, 7), 16, 10).cast("long")
        % buckets
    )


def build_text_index(
    docs: DataFrame, path: str, buckets: int = TEXT_INDEX_BUCKETS
) -> None:
    """Materialize a BM25 index: term postings partitioned by a term-hash
    bucket plus a 1-row stats table.  The IVF-index economics applied to
    text (`similarity.build_ivf_index`): tokenization and tf aggregation
    are the expensive corpus pass — build once, query many.

    Layout: `<path>/postings/tb=<b>/…` rows (term, doc_id, tf, dl) — a
    query reads ONLY its terms' bucket directories (partition pruning,
    same mechanism as the time-series day layout) and pushes the term
    equality into the parquet scan; `<path>/stats/` holds (n_docs,
    avgdl).  Document frequencies are NOT precomputed: df is one tiny
    aggregate over the already-pruned postings slice, which keeps the
    index update-friendly (appending a partition of new docs never
    invalidates a global df table)."""
    toks = docs.select(
        "doc_id",
        F.expr(f"array_remove(split(lower(text), '{WORD_RE}'), '')").alias("wa"),
    ).select("doc_id", "wa", F.size("wa").alias("dl"))
    # batch-built rows carry the SENTINEL batch_id -1, committed by the
    # marker written below: a store later extended by TextIndexStream
    # then has ONE uniform postings schema, so parquet schema inference
    # can never read the batch rows with a null batch_id (which the
    # committed-batch semi-join would silently drop) or miss the column
    # entirely (which would skip commit filtering for streamed rows)
    postings = (
        toks.select("doc_id", "dl", F.explode("wa").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        .withColumn("tb", _term_bucket_col(F.col("term"), buckets))
        .withColumn("batch_id", F.lit(BATCH_BUILT_ID))
    )
    postings.write.mode("overwrite").partitionBy("tb").parquet(
        f"{path}/postings"
    )
    # total_dl rides along so INCREMENTAL updates stay exact: avgdl is
    # derived (total_dl / n_docs), and adding a batch is two additions —
    # no corpus rescan (TextIndexStream)
    toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        F.avg("dl").alias("avgdl"),
    ).write.mode("overwrite").parquet(f"{path}/stats")
    docs.sparkSession.createDataFrame(
        [(BATCH_BUILT_ID,)], "batch_id long"
    ).write.mode("overwrite").parquet(f"{path}/batches")
    _clear_stream_state(docs.sparkSession, path, extra=("stats_batches",))
    _touch(docs.sparkSession, f"{path}/_batch_built")


def bm25_topk_indexed(
    spark,
    path: str,
    query: str,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    buckets: int = TEXT_INDEX_BUCKETS,
) -> DataFrame:
    """Top-k against a `build_text_index` store: the query's term buckets
    resolve DRIVER-side (pure md5 arithmetic, no Spark job), so the scan
    opens at most |terms| of the `buckets` posting directories and pushes
    the term filter into parquet — per-query cost tracks the matched
    postings, not the corpus.  Same score math and determinism rules as
    `bm25_topk` (asserted equal in tests)."""
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no terms after tokenization")
    tbs = sorted({_term_bucket_py(t, buckets) for t in terms})
    post = (
        _read_index_rows(spark, path, "postings")
        .filter(F.col("tb").isin(tbs))
        .filter(F.col("term").isin(terms))
    )
    if "batch_id" in post.columns and not _needs_commit_filtering(spark, path):
        # batch-only store (sentinel rows, atomic overwrite): every row
        # is committed by construction — skip the semi-join + distinct,
        # which would otherwise dominate the small-query latency floor
        post = post.drop("batch_id")
    if "batch_id" in post.columns:
        done = read_state(spark, path, "batches", "batch_id long")
        # streamed index (TextIndexStream): neutralize partially-applied
        # batches — keep only rows whose batch committed (marker written),
        # and distinct() away the duplicate copies a replayed-after-crash
        # batch appended (rows are deterministic per batch_id).  Both run
        # on the already-pruned bucket/term slice, so cost tracks matched
        # postings, not the corpus.  Rows with a NULL batch_id are legacy
        # batch-built rows surfacing through a merged schema — committed
        # by construction (a batch build is atomic overwrite).  ONE scan:
        # a broadcast LEFT join against the committed set instead of a
        # semi-join + null-branch self-union (which planned the pruned
        # slice twice).
        post = (
            post.select("term", "doc_id", "tf", "dl", "batch_id")
            .join(
                F.broadcast(done.withColumn("__c", F.lit(1))),
                "batch_id",
                "left",
            )
            .filter(F.col("batch_id").isNull() | F.col("__c").isNotNull())
            .drop("__c")
            .distinct()
        )
    post = post.select("term", "doc_id", "tf", "dl")
    # the 1-row stats table inlines as literals (one tiny driver read)
    # and per-term df comes from a window over the pruned slice — the
    # former broadcast-join shape spent two extra broadcast-build jobs
    # per query, a third of the small-query latency floor
    srow = read_index_stats(spark, path).collect()[0]
    n_docs, avgdl = srow["n_docs"], srow["avgdl"]
    from pyspark.sql import Window

    dfc = F.count(F.lit(1)).over(Window.partitionBy("term"))
    scored = (
        post.withColumn("df", dfc)
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))),
        )
        .groupBy("doc_id")
        .agg(F.sum("w").alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    topk: int = 10,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """(doc_id, rrf) — reciprocal rank fusion over N rankings (Cormack,
    Clarke & Büttcher's RRF; the standard way to combine BM25 with
    embedding ANN, or several query variants, without score calibration):

        rrf(d) = sum over rankings r containing d of 1 / (k + rank_r(d))

    with rank 1-based by (score desc, id asc) — fully deterministic.
    Inputs are expected to be BOUNDED top-N lists (the output of
    `bm25_topk` / `similarity.cosine_topk`): each ranking is windowed to
    assign ranks, which sorts per ranking — fine at top-N size, and at
    that size the union/aggregate below is driver-trivial too.  Output
    rounds to 6 decimals and orders by (rrf desc, id asc), LIMIT topk.
    """
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("need at least one ranking")
    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col))
    ranked = None
    for r in rankings:
        rr = r.select(
            F.col(id_col).alias("doc_id"),
            (1.0 / (F.lit(k) + F.row_number().over(w))).alias("contrib"),
        )
        ranked = rr if ranked is None else ranked.unionByName(rr)
    return (
        ranked.groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("doc_id"))
        .limit(topk)
    )


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k docs for the query by BM25, deterministic under score ties
    (doc_id ascending breaks them).  Scores round to 6 decimals BEFORE
    the ordering: duplicate docs sum identical term weights in
    engine-dependent order, and last-ULP drift would otherwise make the
    doc_id tiebreak disagree across engines/partitionings.  The LIMIT
    turns the global order into TakeOrderedAndProject — bounded
    per-partition heaps, no full sort (plan-asserted in tests)."""
    return (
        bm25_scores(docs, query, k1, b)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )


def _clear_stream_state(spark, path: str, extra: tuple[str, ...] = ()) -> None:
    """A batch REBUILD is a new store epoch: drop the previous stream's
    state (committed-batch rows survive nowhere else, so leaving e.g.
    stats_batches/ behind would double-count once a NEW stream — whose
    checkpoint restarts batch ids at 0 — commits epoch-0 again)."""
    for sub in ("_streamed",) + extra:
        _rm(spark, f"{path}/{sub}")


def _read_index_rows(spark, path: str, sub: str) -> DataFrame:
    """Read an index row table (`postings`/`cells`) with the
    legacy-mixed-schema rescue: if a pre-sentinel batch build was
    extended by a stream and schema inference picked a batch-built
    footer (dropping batch_id), re-read with mergeSchema so commit
    filtering isn't silently skipped.  Current builds stamp
    BATCH_BUILT_ID, so the footer-merge cost is confined to the legacy
    shape.  A missing table raises — the retryable StoreCompactingError
    while the store's `_compacting` marker is up (`read_state`)."""
    d = read_state(spark, path, sub)
    if "batch_id" not in d.columns and _path_exists(spark, f"{path}/batches"):
        d = spark.read.option("mergeSchema", "true").parquet(f"{path}/{sub}")
    return d


def _require_sentinel_store(spark, path: str, sub: str, rebuild_with: str) -> None:
    """Refuse to stream-extend a PRE-SENTINEL batch-built store: its row
    table lacks the batch_id column, so appending stream rows would
    leave a mixed parquet schema whose inference either drops every
    batch-built row from queries (null batch_id fails the committed
    semi-join) or skips commit filtering entirely — both silent.
    Rebuilding with the current builder stamps the sentinel and makes
    the store stream-extensible."""
    if _path_exists(spark, f"{path}/{sub}"):
        cols = spark.read.parquet(f"{path}/{sub}").columns
        if "batch_id" not in cols:
            raise ValueError(
                f"existing {sub} at {path} have no batch_id column "
                f"(pre-sentinel batch build); rebuild the index with "
                f"{rebuild_with} before streaming into it"
            )


def _needs_commit_filtering(spark, path: str) -> bool:
    """Whether an index store's rows need the committed-batch filtering
    (semi-join + replay dedupe).  A store a stream has EVER touched does
    (`_streamed` marker, written before any append, monotone); a store
    only the batch builder wrote does not — its overwrite is atomic, so
    every row is committed and queries skip the extra joins (the indexed
    query path's latency floor is broadcast-build-bound).  A store with
    NEITHER marker is a legacy stream store — filtered, the safe side."""
    if _path_exists(spark, f"{path}/_streamed"):
        return True
    return not _path_exists(spark, f"{path}/_batch_built")


def read_index_stats(spark, path: str) -> DataFrame:
    """1-row (n_docs, total_dl, avgdl) for ANY index flavor.  A
    batch-built index (`build_text_index`) stores totals directly in
    `stats/`; a streamed index (`TextIndexStream`) stores one immutable
    row PER BATCH in `stats_batches/`; a HYBRID store (batch-built then
    stream-extended) has both, and the totals are their SUM — returning
    the direct table alone would freeze n_docs/avgdl at build time and
    silently skew BM25 idf/length normalization as docs stream in.
    Committed batches only: a crashed half-applied batch (or a replay's
    duplicate row, same batch_id) contributes nothing/once.  Existence
    is probed driver-side (`_path_exists`) so the common single-flavor
    path costs no failed read-attempt round trips."""
    parts = []
    if _path_exists(spark, f"{path}/stats"):
        parts.append(
            spark.read.parquet(f"{path}/stats").select("n_docs", "total_dl")
        )
    if _path_exists(spark, f"{path}/stats_batches"):
        done = read_state(spark, path, "batches", "batch_id long")
        per_batch = spark.read.parquet(f"{path}/stats_batches")
        parts.append(
            per_batch.join(F.broadcast(done), "batch_id", "left_semi")
            .distinct()  # replay after crash appends an identical row
            .select("n_docs", "total_dl")
        )
    if not parts:
        parts = [spark.createDataFrame([], "n_docs long, total_dl long")]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    agg = u.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs"),
        F.coalesce(F.sum("total_dl"), F.lit(0)).alias("total_dl"),
    )
    return agg.select(
        "n_docs",
        "total_dl",
        (F.col("total_dl") / F.nullif(F.col("n_docs"), F.lit(0))).alias(
            "avgdl"
        ),
    )


class TextIndexStream:
    """foreachBatch target maintaining a `build_text_index` store
    INCREMENTALLY: each micro-batch appends its postings to the term-hash
    bucket partitions and one immutable (batch_id, n_docs, total_dl) row
    to `stats_batches/` — never rescanning indexed text (the DedupStream
    economics applied to the retrieval index).  df was deliberately left
    un-materialized in the index layout, so appends cannot invalidate
    anything; queries via `bm25_topk_indexed` see new docs as soon as
    their batch commits.

    At-least-once safety: the completed-batch marker (`batches/`) is
    written LAST, and every written row — postings and stats — carries
    its batch_id.  Readers keep only rows whose batch committed and
    distinct() duplicates, so the crash windows are closed by
    construction: crash before the marker → the orphan rows are
    invisible; replay after a partial write → the re-appended rows are
    byte-identical (same batch_id, deterministic content) and collapse
    under distinct().  Nothing is folded read-modify-write, so no replay
    can double-count stats.  Docs are assumed new (append-only corpus);
    dedup upstream is the pipeline's dedup stage's job.
    """

    def __init__(
        self,
        spark,
        path: str,
        buckets: int = TEXT_INDEX_BUCKETS,
        compact_every: int | None = None,
        compact_max_files: int | None = None,
    ):
        """`compact_every=N` runs `index_maintenance.compact_index` after
        every Nth committed batch, inside process_batch — the stream is
        the store's only writer there, so the maintenance pass's
        QUIESCED-WRITER precondition holds by construction and the
        per-batch parquet fragments never accumulate past N batches.
        `compact_max_files=N` instead triggers on the store's total
        parquet data-file count exceeding N (`store_files._maybe_compact`;
        either trigger firing compacts).
        The quiesced-READER precondition is the caller's to arrange: a
        query racing the rename-swap can fail transiently on the
        vanished path (same contract as manual compact_index) — size N
        so compactions land in ingest maintenance windows, or retry
        failed reads.  The pass holds a `_compacting` marker while
        running, so a racing reader gets the retryable
        StoreCompactingError instead of a bare missing-path failure."""
        import os

        self.spark, self.path, self.buckets = spark, path, buckets
        self.compact_every = compact_every
        self.compact_max_files = compact_max_files
        self._compact_floor = None
        self._store_checked = False
        os.makedirs(path, exist_ok=True)

    def _check_store(self) -> None:
        """Sentinel-schema guard (see `_require_sentinel_store`)."""
        if self._store_checked:
            return
        _require_sentinel_store(
            self.spark, self.path, "postings", "build_text_index"
        )
        self._store_checked = True

    def _tokenize(self, batch: DataFrame) -> DataFrame:
        return batch.select(
            "doc_id",
            F.expr(
                f"array_remove(split(lower(text), '{WORD_RE}'), '')"
            ).alias("wa"),
        ).select("doc_id", "wa", F.size("wa").alias("dl"))

    def _write_postings(self, toks: DataFrame, batch_id: int) -> None:
        (
            toks.select("doc_id", "dl", F.explode("wa").alias("term"))
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
            .withColumn("tb", _term_bucket_col(F.col("term"), self.buckets))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("tb")
            .parquet(f"{self.path}/postings")
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        recover(self.spark, self.path, INDEX_TABLES)
        self._check_store()
        # monotone stream marker, BEFORE any append: once a stream has
        # touched the store, readers always commit-filter (a crash right
        # after an append can never leave invisible filtering off)
        _touch(self.spark, f"{self.path}/_streamed")
        done = read_state(self.spark, self.path, "batches", "batch_id long")
        if done.filter(F.col("batch_id") == batch_id).take(1):
            return
        toks = self._tokenize(batch)
        toks = toks.localCheckpoint()  # consumed twice (postings + stats)
        self._write_postings(toks, batch_id)
        inc = toks.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
        ).collect()[0]
        self.spark.createDataFrame(
            [(batch_id, inc["n_docs"], inc["total_dl"] or 0)],
            "batch_id long, n_docs long, total_dl long",
        ).write.mode("append").parquet(f"{self.path}/stats_batches")
        self.spark.createDataFrame([(batch_id,)], "batch_id long").write.mode(
            "append"
        ).parquet(f"{self.path}/batches")
        _maybe_compact_index(self, batch_id)


def _maybe_compact_index(stream, batch_id: int) -> None:
    """`store_files._maybe_compact` for an index stream: its row tables'
    data-file count, `index_maintenance.compact_index`."""
    from redistimeseries_spark.pipeline import index_maintenance as im

    _maybe_compact(
        stream,
        batch_id,
        lambda: sum(im.index_file_counts(stream.spark, stream.path).values()),
        lambda: im.compact_index(stream.spark, stream.path),
    )
