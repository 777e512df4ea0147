"""Streaming-index-store compaction — the maintenance pass every
append-per-micro-batch store needs (verdict r7 "what's wrong" #2).

TextIndexStream / IVFIndexStream / SemDedupStream append one parquet
fragment set per micro-batch to their row tables (`postings/` per term
bucket, `cells/` per IVF or SemDeDup cell, plus `stats_batches/`,
`decisions/`, `batches/`).  Correctness never degrades — readers
commit-filter and dedupe — but at 10^4-10^5 batches the per-query FILE
LISTING/OPEN cost dominates the indexed-path latency floor the stores
exist to protect (b12's 0.4 s).  `compact_index` rewrites each row
table's COMMITTED rows into one file per partition directory, under the
batch-id watermark that makes the rewrite safe:

* Committed rows keep their batch_id and `batches/` keeps every
  committed id, so the reader's commit semi-join, the replay guard
  (`process_batch` skips ids present in `batches/`) and a later stream's
  continuation all behave exactly as before — compaction changes file
  COUNT, never visible content (pinned in tests: query results equal,
  stats equal, decisions equal).
* Rows whose batch never committed (crash orphans) are invisible to
  readers already and are dropped; replay-duplicate rows (byte-identical
  by the stores' determinism contract) collapse under distinct().
* `stats_batches/` folds to a single summed row stamped with the LARGEST
  committed batch_id present — it passes the reader's committed
  semi-join (the id stays in `batches/`) and can never collide with a
  future batch (micro-batch ids are monotone past it).

Single-writer maintenance op: run it while no stream is writing to the
store and no query is mid-flight — the tmp-write + rename swap is atomic
per table on a real filesystem but the multi-table sequence is not
transactional (the same contract as OPTIMIZE on plain-parquet layouts).
The marker, the rename swap and its crash recovery are the shared
`store_files` protocol: every pass starts by recovering each table a
crashed pass stranded, so RERUNNING compact_index (or any later
compaction) repairs every crash point, and queries between the crash
and the rerun fail loudly (the typed retryable `StoreCompactingError`)
rather than reading half-swapped state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redistimeseries_spark.pipeline.retrieval import INDEX_TABLES, _read_index_rows
from redistimeseries_spark.pipeline.streaming_dedup import DEDUP_TABLES
from redistimeseries_spark.store_files import (
    COMPACTING_MARKER,
    _data_file_count,
    _path_exists,
    _recover_swap,
    _rm,
    _swap_in,
    _touch,
    read_state,
)

# every row table a store flavor can own: (subdir, partition column)
_ROW_TABLES = (("postings", "tb"), ("cells", "cid"))


def _rewrite(spark, path: str, sub: str, compacted: DataFrame, writer) -> int:
    """Swap `compacted` in for `<path>/<sub>` (`store_files._swap_in`;
    `writer(df, dest)` sets partitioning/file counts) and return its row
    count, read back from the WRITTEN files (metadata-cheap), so the
    compaction lineage runs once.  An empty frame (e.g. only crash-orphan
    rows) keeps the original table and returns 0."""
    if not _swap_in(spark, path, sub, lambda dest: writer(compacted, dest)):
        return 0
    return spark.read.parquet(f"{path}/{sub}").count()


def _committed(rows: DataFrame, done: DataFrame) -> DataFrame:
    """Committed rows only, replay duplicates collapsed; legacy NULL
    batch_id rows (batch-built, atomic overwrite) are committed by
    construction — the readers' exact rule."""
    if "batch_id" not in rows.columns:
        return rows.distinct()
    return (
        rows.join(
            F.broadcast(done.withColumn("__c", F.lit(1))), "batch_id", "left"
        )
        .filter(F.col("batch_id").isNull() | F.col("__c").isNotNull())
        .drop("__c")
        .distinct()
    )


def compact_index(spark, path: str) -> dict[str, int]:
    """Compact every row table of the index store at `path` (works on
    TextIndexStream, IVFIndexStream and SemDedupStream layouts; a pure
    batch-built store is already one overwrite and compacts to itself).
    Returns {table: rows_written} for the tables it rewrote.  See the
    module docstring for the safety argument and the quiesced-writer
    precondition."""
    # recover EVERY table before reading the commit watermark: a crash
    # inside the batches swap leaves batches/ missing, and reading it
    # first would yield an EMPTY watermark that makes _committed drop
    # every committed row of the other tables
    _touch(spark, f"{path}/{COMPACTING_MARKER}")
    present = {sub: _recover_swap(spark, path, sub) for sub in INDEX_TABLES}
    done = (
        read_state(spark, path, "batches", "batch_id long")
        if present["batches"]
        else spark.createDataFrame([], "batch_id long")
    )
    out: dict[str, int] = {}

    for sub, part_col in _ROW_TABLES:
        if not present[sub]:
            continue
        rows = _committed(_read_index_rows(spark, path, sub), done)
        # one task per partition value -> one file per partition dir
        compacted = rows.repartition(F.col(part_col))

        def _writer(df, dest, pc=part_col):
            df.write.mode("overwrite").partitionBy(pc).parquet(dest)

        out[sub] = _rewrite(spark, path, sub, compacted, _writer)

    def _one_file(df, dest):
        df.coalesce(1).write.mode("overwrite").parquet(dest)

    if present["stats_batches"]:
        sb = _committed(
            spark.read.parquet(f"{path}/stats_batches"), done
        )
        folded = sb.agg(
            F.max("batch_id").alias("batch_id"),
            F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs"),
            F.coalesce(F.sum("total_dl"), F.lit(0)).alias("total_dl"),
        ).filter(F.col("batch_id").isNotNull())
        out["stats_batches"] = _rewrite(
            spark, path, "stats_batches", folded, _one_file
        )

    # decisions grows with the corpus (one row per vector/doc ever
    # processed) — AQE-coalesced parallel write, never a coalesce(1)
    # funnel; batches stays genuinely tiny
    if present["decisions"]:
        rows = spark.read.parquet(f"{path}/decisions").distinct()

        def _parallel(df, dest):
            df.write.mode("overwrite").parquet(dest)

        out["decisions"] = _rewrite(spark, path, "decisions", rows, _parallel)
    if present["batches"]:
        rows = spark.read.parquet(f"{path}/batches").distinct()
        out["batches"] = _rewrite(spark, path, "batches", rows, _one_file)

    _rm(spark, f"{path}/{COMPACTING_MARKER}")
    return out


def compact_dedup_state(spark, state_dir: str) -> dict[str, int]:
    """Compact a `DedupStream` state directory (pipeline/streaming_dedup):
    fps/bands/texts/decisions/batches all append one fragment set per
    micro-batch.  These rows carry NO batch_id — the store's crash
    contract is anti-join-own-batch + deterministic replay, which makes
    duplicate rows structurally harmless — so compaction is a plain
    distinct + rewrite: a crashed batch's orphan rows survive as the
    single copy its replay would have re-appended anyway, and the replay
    anti-join still removes them by doc_id.  Same quiesced-writer
    precondition and rename-swap crash story as `compact_index`."""
    out: dict[str, int] = {}
    _touch(spark, f"{state_dir}/{COMPACTING_MARKER}")
    for sub in DEDUP_TABLES:
        if not _recover_swap(spark, state_dir, sub):
            continue
        rows = spark.read.parquet(f"{state_dir}/{sub}").distinct()
        # spark.sql.shuffle.partitions tasks write the distinct; an AQE
        # coalesce folds small outputs — no pre-count needed to size it
        def _writer(df, dest):
            df.write.mode("overwrite").parquet(dest)

        out[sub] = _rewrite(spark, state_dir, sub, rows, _writer)
    _rm(spark, f"{state_dir}/{COMPACTING_MARKER}")
    return out


def index_file_counts(spark, path: str) -> dict[str, int]:
    """Parquet data-file count per row table — the quantity compaction
    bounds (tests assert it; ops dashboards watch it)."""
    return {
        sub: _data_file_count(spark, f"{path}/{sub}")
        for sub in (
            "postings", "cells", "stats_batches", "decisions", "batches",
            "fps", "bands", "texts",
        )
        if _path_exists(spark, f"{path}/{sub}")
    }
