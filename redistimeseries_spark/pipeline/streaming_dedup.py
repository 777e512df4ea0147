"""Incremental (streaming) corpus deduplication.

A 100 TB training corpus is not deduplicated once — it grows, and each
increment must dedup against everything already accepted WITHOUT
rescanning the accepted corpus.  The state that makes that possible is
tiny relative to the text: one md5 per accepted doc (exact) and
`bands` short band-keys per accepted doc (MinHash LSH near-dup), kept in
an append-only parquet store.

Per micro-batch (foreachBatch, same durable-state pattern as
streaming/ingest.StreamingStore):

  1. fingerprints + band keys for the new docs — the zero-shuffle map
     pass from pipeline/dedup.minhash_signatures;
  2. within-batch exact dedup (min doc_id per fp wins);
  3. join batch fps against the fp store        -> `exact_dup`;
  4. join batch band keys against the band store -> `near_dup`
     (candidate-level: the verify stage of dedup_pipeline applies when
     text is retained);
  5. survivors' fps + bands APPEND to the store; every doc's verdict is
     appended to a decisions log.

Scale shape: joins are keyed by fp / (band, band_key) — hash joins
against a store that is O(accepted docs), never O(corpus text); appends
are partition-local.  On a real deployment the two stores are Delta
tables with a (band % N) partitioning so each batch touches all
partitions but only ~|batch| rows; hub band-keys (boilerplate) hit the
same AQE skew handling as the batch LSH join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redistimeseries_spark.pipeline.dedup import minhash_signatures
from redistimeseries_spark.store_files import _maybe_compact, read_state, recover

FP_SCHEMA = "fp string, doc_id long"
TEXT_SCHEMA = "doc_id long, text string"
BAND_SCHEMA = "band int, band_key string, doc_id long"
DECISION_SCHEMA = "doc_id long, status string, dup_of long"
BATCH_SCHEMA = "batch_id long"
# every state table the stream appends to and
# `index_maintenance.compact_dedup_state` swaps
DEDUP_TABLES = ("fps", "bands", "texts", "decisions", "batches")


class DedupStream:
    """foreachBatch target maintaining the fingerprint/band state."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        num_hashes: int = 8,
        bands: int = 4,
        k: int = 5,
        verify_threshold: float | None = None,
        ngram_n: int = 3,
        compact_every: int | None = None,
        compact_max_files: int | None = None,
    ):
        """verify_threshold: when set, band-collision candidates are
        DISPOSED by exact word-n-gram Jaccard (the batch dedup_pipeline's
        propose→verify shape) before a doc is called a near-dup; the
        state grows a kept-docs text store, read only for candidate
        partners (semi-join pruned), so the no-corpus-rescan property
        holds.  When None (default), a shared band alone flags near_dup
        (candidate-level, zero text retention)."""
        self.spark = spark
        self.state_dir = state_dir
        self.num_hashes, self.bands, self.k = num_hashes, bands, k
        self.verify_threshold, self.ngram_n = verify_threshold, ngram_n
        # compact_every=N: fold the per-batch state fragments after every
        # Nth committed batch (index_maintenance.compact_dedup_state) —
        # the stream is the only writer inside process_batch, so the
        # maintenance pass's quiesced-writer precondition holds;
        # compact_max_files=N triggers on total data-file count instead
        # (store_files._maybe_compact; either firing compacts)
        self.compact_every = compact_every
        self.compact_max_files = compact_max_files
        self._compact_floor = None
        os.makedirs(state_dir, exist_ok=True)

    def fp_store(self) -> DataFrame:
        return read_state(self.spark, self.state_dir, "fps", FP_SCHEMA)

    def band_store(self) -> DataFrame:
        return read_state(self.spark, self.state_dir, "bands", BAND_SCHEMA)

    def decisions(self) -> DataFrame:
        # distinct: a crash between the decisions append and the batch
        # marker replays identical rows; the verdict per doc is
        # deterministic, so dedup on read restores exactly-once output
        return read_state(
            self.spark, self.state_dir, "decisions", DECISION_SCHEMA
        ).distinct()

    def text_store(self) -> DataFrame:
        return read_state(self.spark, self.state_dir, "texts", TEXT_SCHEMA)

    def completed_batches(self) -> DataFrame:
        return read_state(self.spark, self.state_dir, "batches", BATCH_SCHEMA)

    def _verify(self, batch: DataFrame, cands: DataFrame) -> DataFrame:
        """Exact n-gram Jaccard on candidate pairs only (array_intersect
        on one gram-set row per doc — the ngram_jaccard_verify shape)."""
        from redistimeseries_spark.pipeline.dedup import word_ngrams

        # gram sets only for docs that appear in a candidate pair — a
        # 1M-doc batch with 50 candidates grams 100 docs, not 1M
        ids = (
            cands.select("doc_id")
            .unionByName(cands.select(F.col("cand").alias("doc_id")))
            .distinct()
        )
        stored = self.text_store().join(ids, "doc_id")
        texts = batch.select("doc_id", "text").join(ids, "doc_id").unionByName(stored)
        gs = (
            word_ngrams(texts, self.ngram_n)
            .groupBy("doc_id")
            .agg(F.collect_set("gram").alias("gs"))
        )
        # LEFT join on the partner side: a candidate whose partner text was
        # never retained (state built with verify_threshold=None, or a
        # foreign store) must NOT silently pass verification — it falls
        # back to the candidate-level verdict (shared band => near_dup),
        # the conservative reading the pre-verify mode would give.
        return (
            cands.join(gs.select("doc_id", F.col("gs").alias("ga")), "doc_id")
            .join(
                gs.select(F.col("doc_id").alias("cand"), F.col("gs").alias("gb")),
                "cand",
                "left",
            )
            .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
            .withColumn(
                "jac",
                F.col("inter") / (F.size("ga") + F.size("gb") - F.col("inter")),
            )
            .filter(F.col("gb").isNull() | (F.col("jac") >= self.verify_threshold))
            .select("doc_id", "cand")
        )

    def _append(self, df: DataFrame, sub: str) -> None:
        df.write.mode("append").parquet(os.path.join(self.state_dir, sub))

    def _batch_features(self, batch: DataFrame):
        rows = self.num_hashes // self.bands
        fps = batch.select(
            "doc_id",
            F.md5(F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")).alias("fp"),
        )
        band_keys = (
            minhash_signatures(batch, self.num_hashes, self.k)
            .withColumn("band", (F.col("h") / rows).cast("int"))
            .groupBy("doc_id", "band")
            .agg(
                F.concat_ws("|", F.sort_array(F.collect_list("minhash"))).alias(
                    "band_key"
                )
            )
        )
        return fps, band_keys

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        recover(self.spark, self.state_dir, DEDUP_TABLES)
        # foreachBatch is at-least-once: a completed batch_id replaying is
        # a no-op.  The marker is a row in a parquet `batches` state table
        # (appended LAST, after every other append succeeded) read through
        # the same `read_state` as the rest of the state — so the
        # guard survives remote state dirs (s3://, hdfs://) where
        # driver-filesystem markers would lie.
        if self.completed_batches().filter(F.col("batch_id") == batch_id).take(1):
            return
        batch_ids = batch.select("doc_id").localCheckpoint()
        # a crash mid-appends leaves this batch's OWN rows in the stores;
        # anti-joining them out makes the replay produce the same
        # decisions instead of marking every doc a dup of itself
        def _foreign(df):
            return df.join(
                batch_ids.withColumnRenamed("doc_id", "__b"),
                df["doc_id"] == F.col("__b"),
                "left_anti",
            )

        fps, band_keys = self._batch_features(batch)
        fps = fps.localCheckpoint()  # the md5 pass runs once, not per join

        # within-batch exact winners, then the store lookup
        first = fps.groupBy("fp").agg(F.min("doc_id").alias("winner"))
        fps = fps.join(first, "fp")
        store_hit = _foreign(self.fp_store()).withColumnRenamed("doc_id", "stored_doc")
        fps = fps.join(
            store_hit.groupBy("fp").agg(F.min("stored_doc").alias("stored_doc")),
            "fp",
            "left",
        )
        exact = fps.select(
            "doc_id",
            "fp",
            F.when(F.col("stored_doc").isNotNull(), F.col("stored_doc"))
            .when(F.col("doc_id") != F.col("winner"), F.col("winner"))
            .alias("dup_of"),
        ).localCheckpoint()

        survivors = exact.filter(F.col("dup_of").isNull()).select("doc_id", "fp")
        bk = band_keys.join(survivors.select("doc_id"), "doc_id")

        # near-dup candidates: any shared band key with an accepted doc
        # (store first, then earlier in-batch survivors)
        stored_bands = _foreign(self.band_store()).withColumnRenamed(
            "doc_id", "near_doc"
        )
        cand_store = bk.join(stored_bands, ["band", "band_key"]).select(
            "doc_id", F.col("near_doc").alias("cand")
        )
        cand_batch = (
            bk.alias("a")
            .join(
                bk.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") > F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("cand"))
        )
        cands = cand_store.unionByName(cand_batch).distinct()
        if self.verify_threshold is not None:
            cands = self._verify(batch, cands)
        near = (
            cands.groupBy("doc_id")
            .agg(F.min("cand").alias("near_of"))
            .localCheckpoint()
        )

        decisions = (
            exact.join(near, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("dup_of").isNotNull(), F.lit("exact_dup"))
                .when(F.col("near_of").isNotNull(), F.lit("near_dup"))
                .otherwise(F.lit("kept"))
                .alias("status"),
                F.coalesce("dup_of", "near_of").alias("dup_of"),
            )
            .localCheckpoint()
        )

        kept = decisions.filter(F.col("status") == "kept").select("doc_id")
        self._append(survivors.join(kept, "doc_id").select("fp", "doc_id"), "fps")
        self._append(
            bk.join(kept, "doc_id").select("band", "band_key", "doc_id"), "bands"
        )
        if self.verify_threshold is not None:
            self._append(batch.select("doc_id", "text").join(kept, "doc_id"), "texts")
        self._append(decisions, "decisions")
        self._append(
            self.spark.createDataFrame([(batch_id,)], BATCH_SCHEMA), "batches"
        )
        from redistimeseries_spark.pipeline.index_maintenance import (
            compact_dedup_state,
            index_file_counts,
        )

        _maybe_compact(
            self,
            batch_id,
            lambda: sum(index_file_counts(self.spark, self.state_dir).values()),
            lambda: compact_dedup_state(self.spark, self.state_dir),
        )


def start_dedup_stream(
    spark: SparkSession,
    in_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    **dedup_kwargs,
):
    """Wire a parquet-directory document stream into DedupStream."""
    ds = DedupStream(spark, state_dir, **dedup_kwargs)
    stream = spark.readStream.schema(schema).parquet(in_dir)
    q = (
        stream.writeStream.foreachBatch(ds.process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return ds, q
