"""Structured Streaming ingestion — TS.ADD/TS.MADD as a stream.

Reference write path (src/module.c:1000-1055, SURVEY §3.2): per sample —
retention reject -> ignore filter -> dup-policy upsert/append -> per-rule
compaction context update -> signal blocked readers.

Spark shape: `readStream -> foreachBatch(StreamingStore.process_batch)`.
The store is an append-only parquet log with a monotonically increasing
`seq` per row (arrival order).  Duplicate policy is folded at read time
(merge-on-read; resolve_duplicates is associative per the pairwise C
semantics), and `compact()` rewrites the log into resolved form — the
LSM-style equivalent of Delta `MERGE INTO`, which is the drop-in
replacement when a transactional table format is available.  Per batch the
store also maintains:

  * a `latest` table (the reference's O(1) lastTimestamp/lastValue,
    src/tsdb.h:69-70) kept as append-only deltas: each batch appends one
    small file holding its newest rows per key (with their `seq`), and
    `latest()` folds the deltas on read — the same merge-on-read as the
    log, so the duplicate policy decides ties at a key's newest ts.
    `compact()` folds the deltas back into one file;
  * each compaction rule's dest table, recomputing ONLY the (key, bucket)
    pairs the batch touched (src/tsdb.c:622-660 SeriesCalcRange recompute)
    — out-of-order and in-bucket upserts repair the right buckets.  The
    recomputed buckets come from `compaction.materialize_rule`, the same
    aggregation the engine facade runs, applied to the pruned slice behind
    the touched buckets; only the EWM rules keep their own carried-state
    forward repair (`_ewm_recompute`).

At 100 TB scale: the log is written partitioned by SAMPLE-TIME day
(`__day = ts div 86400000`), so every maintenance read is partition-pruned:

  * rule recompute reads only the day partitions covering the touched
    buckets (plus, for twa/increase/rate, single boundary samples found
    by an exponentially-widening day probe — the Spark analogue of the
    reference's one-sample reverse/forward iterators,
    src/tsdb.c:1280-1306);
  * duplicate resolution runs only over the pruned slice — per-batch cost
    is O(touched days), independent of total log length;
  * `latest` and rule dests are small enough to broadcast;
  * every maintained table is read with its known schema, so no read
    launches a schema-inference job.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redistimeseries_spark.functions.buckets import bucket_start
from redistimeseries_spark.operators.smooth import (
    ewm_credible_std,
    ewm_recurrence,
)
from redistimeseries_spark.streaming.compaction import (
    CROSS_BUCKET_AGGS,
    CompactionRule,
    materialize_rule,
    parse_ewm_rule,
)
from redistimeseries_spark.write.dup_policy import resolve_duplicates

# page size for reads with no explicit max_count — TS.READ is a cursor
# protocol, so a cap is a page boundary, not a truncation
DEFAULT_READ_CAP = 10_000

SAMPLES_SCHEMA = "key string, ts long, value double"
# the stored layouts: the day-partitioned log, the `latest` deltas and the
# day-partitioned rule dests
LOG_SCHEMA = SAMPLES_SCHEMA + ", seq long, __day int"
LATEST_SCHEMA = SAMPLES_SCHEMA + ", seq long"
DEST_SCHEMA = SAMPLES_SCHEMA + ", __day int"

# EWM rules' carried state: the moment pair (and centering origin) after
# each bucket's last valid sample — see StreamingStore._ewm_recompute
EWM_STATE_SCHEMA = "key string, __bucket long, c0 double, m double, q double"

# physical partitioning of the rewritten tables: EWM state is hash-bucketed
# by key, rule dests are day-partitioned by bucket ts — so a micro-batch
# rewrites only the partitions its keys/buckets fall in (dynamic partition
# overwrite), never the whole table.  Delta MERGE is the managed drop-in;
# this is the same access pattern on raw parquet.  (`latest` is not
# partitioned: it is append-only, see `_append_latest`.)
STATE_BUCKETS = 64
DAY_MS = 86_400_000


def _pk(col):
    return F.pmod(F.hash(col), F.lit(STATE_BUCKETS))


def _day(ms: int) -> int:
    """`ms div DAY_MS` as Spark computes it (truncating toward zero), so
    driver-side day lists match the `__day` partition values."""
    return -(-ms // DAY_MS) if ms < 0 else ms // DAY_MS


def _newest(df: DataFrame) -> DataFrame:
    """Every row at each key's newest ts — ties included, so the duplicate
    policy can fold them (`max_by` would pick one arbitrarily)."""
    w = Window.partitionBy("key")
    return (
        df.withColumn("__max", F.max("ts").over(w))
        .filter(F.col("ts") == F.col("__max"))
        .drop("__max")
    )


class StoreCompactingError(RuntimeError):
    """A read raced the ingest log's compaction rename-swap (the store's
    `_compacting` marker is present): the log is mid-swap, not lost —
    and definitely not EMPTY, which is what the empty-safe read would
    otherwise report.  RETRYABLE — re-issue once the swap finishes
    (sub-second; the marker is removed at the end of compact()).  The
    ingest-log twin of pipeline.retrieval.IndexCompactingError."""


@dataclass
class StreamingStore:
    spark: SparkSession
    root: str
    duplicate_policy: str = "last"
    rules: list[CompactionRule] = field(default_factory=list)
    retention_ms: int = 0  # late-beyond-retention reject (src/module.c:1006-1012)
    # IGNORE ingest dedup (src/module.c:986-998); active only under DP_LAST,
    # chained across micro-batches by seeding with the latest table
    ignore_max_time_diff: int = 0
    ignore_max_val_diff: float = 0.0
    # compact_every=N rewrites the log in resolved form after every Nth
    # micro-batch (round 9; the index stores' _maybe_compact rule):
    # _append_log adds one fragment set per batch per touched day, so
    # without it the log's FILE COUNT grows linearly with batch count
    # and every read's listing/open cost with it.  process_batch is the
    # store's only writer, so compact()'s quiesced-writer precondition
    # holds by construction; size N so the rewrites land in maintenance
    # windows (the rewrite reads the whole log — amortize it).
    compact_every: int | None = None
    # compact_max_files=N compacts when the log's parquet data-file
    # count exceeds N (round 10): the batch-count rule pays a full-log
    # rewrite every N batches whether or not fragmentation accumulated,
    # while the read-side cost compaction exists to bound IS the file
    # count — so thresholding on it directly holds the same floor at
    # lower amortized build cost.  The check is one recursive listing
    # per batch (the same class of listing the append itself performs).
    # Both triggers may be set; compaction fires when EITHER trips.
    # Thrash guard: once the COMPACTED log's own file count exceeds the
    # threshold (more day partitions than compact_max_files), a bare
    # count-check would re-fire every batch — the size trigger requires
    # count > max(compact_max_files, 2 * _compact_floor), the
    # post-compaction count of the last pass (in-memory; a restarted
    # stream pays at most one redundant compaction to re-learn it).
    compact_max_files: int | None = None
    _compact_floor: int | None = None
    _batch_id: int = 0
    # DataFrames persisted during the current micro-batch's maintenance;
    # unpersisted at the end of process_batch (a long-running stream must
    # not rely on driver GC to release executor storage)
    _batch_cached: list = field(default_factory=list)

    @property
    def log_dir(self):
        return os.path.join(self.root, "samples_log")

    @property
    def latest_dir(self):
        return os.path.join(self.root, "latest")

    @property
    def errors_dir(self):
        return os.path.join(self.root, "errors")

    def rule_dir(self, rule: CompactionRule):
        return os.path.join(self.root, f"rule{rule.dest_suffix}")

    def rule_state_dir(self, rule: CompactionRule):
        """EWM rules' carried-state table (see `_ewm_recompute`)."""
        return os.path.join(self.root, f"rule{rule.dest_suffix}_state")

    @property
    def _compacting_marker(self):
        return os.path.join(self.root, "_compacting")

    def _read(self, path, schema) -> DataFrame:
        """Spark read of a maybe-absent state path with its known schema
        (no schema-inference job; partition columns named in the schema
        are still discovered from the directory layout).  Only "no state
        yet" is recoverable (error-class matched, correct for remote URIs
        where os.path checks lie — same pattern as
        pipeline/streaming_dedup): a missing path reads as no rows.
        EXCEPT while the store's `_compacting` marker is up: then a
        missing path means the read raced compact()'s rename-swap, and
        treating it as "no state" would silently answer from an EMPTY
        table — raise the typed retryable error instead (the index
        stores' ADVICE-r8 rule)."""
        from pyspark.errors import AnalysisException

        try:
            return self.spark.read.schema(schema).parquet(path)
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
                if os.path.exists(self._compacting_marker):
                    raise StoreCompactingError(
                        f"ingest store at {self.root} is mid-compaction "
                        f"(its _compacting marker is present) and "
                        f"{path} vanished under this read — retry after "
                        f"the compaction pass finishes"
                    ) from exc
                return self.spark.createDataFrame([], schema)
            raise

    # ---- the day-partitioned ingest log ----------------------------------
    def _log(self) -> DataFrame:
        """Raw log with its `__day` partition column (empty-safe)."""
        return self._read(self.log_dir, LOG_SCHEMA)

    def _log_days(self) -> list[int]:
        """Day partitions present in the log.  Local roots answer from one
        directory listing; remote roots (s3://, hdfs://) fall back to a
        partition-column distinct — served from the file index, no data
        columns read."""
        if os.path.isdir(self.log_dir):
            return sorted(
                int(n.split("=", 1)[1])
                for n in os.listdir(self.log_dir)
                if n.startswith("__day=")
            )
        return sorted(
            r["__day"] for r in self._log().select("__day").distinct().collect()
        )

    def _pruned(self, days: list[int]) -> DataFrame:
        """Dup-resolved samples from ONLY the given day partitions — the
        partition-pruned slice every per-batch maintenance read goes
        through.  resolve_duplicates groups by (key, ts) and all rows of a
        given ts live in one day partition, so folding the slice alone is
        exact."""
        if not days:
            return self.spark.createDataFrame([], SAMPLES_SCHEMA)
        sl = self._log().filter(F.col("__day").isin([int(d) for d in days]))
        return resolve_duplicates(
            sl.select("key", "ts", "value", "seq"), self.duplicate_policy
        )

    def _append_log(self, batch: DataFrame):
        (
            batch.select("key", "ts", "value", "seq")
            .withColumn("__day", F.expr(f"ts div {DAY_MS}").cast("int"))
            .write.mode("append")
            .partitionBy("__day")
            .parquet(self.log_dir)
        )

    def _append_latest(self, batch: DataFrame):
        """One `latest` delta: the batch's rows at each key's newest ts,
        `seq` kept so `latest()` can fold ties across batches.  AQE
        coalesces the tiny post-shuffle output of a micro-batch into one
        partition, hence one file; a large batch keeps its parallelism."""
        (
            _newest(batch.select("key", "ts", "value", "seq"))
            .write.mode("append")
            .parquet(self.latest_dir)
        )

    @staticmethod
    def _buckets(touched: DataFrame) -> list[int]:
        """The touched set's distinct buckets, collected to the driver."""
        return sorted({r["__bucket"] for r in touched.collect()})

    def _boundary_samples(
        self,
        keys: DataFrame,
        probe_days: list[int],
        bound_ts: int,
        before: bool,
        already_have: DataFrame,
        valid_only: bool = False,
    ) -> DataFrame:
        """One adjacent sample per key outside the recompute span: the
        newest with ts < bound_ts (before=True) or the oldest with
        ts >= bound_ts.  This is the reference's single-sample
        reverse/forward iterator around a twa bucket (src/tsdb.c:1280-1306)
        re-expressed against a day-partitioned log: probe windows of
        1, 2, 4, ... day partitions (newest-first when looking back) until
        every key has a hit or the log is exhausted.  Micro-batches cluster
        in recent days, so this is typically zero or one small scan; the
        worst case (a key silent for years) degrades to one traversal of
        that key's sparse history — what the pre-pruning code did on EVERY
        batch for every key.

        `probe_days` must be strictly outside the core span (the span's own
        days are already in the core slice) and sorted nearest-span-first,
        so the first window that hits a key yields its adjacent sample.
        """
        remaining = keys.join(already_have, "key", "left_anti")
        n = remaining.count()
        parts = []
        i, step = 0, 1
        while n > 0 and i < len(probe_days):
            win, i, step = probe_days[i : i + step], i + step, step * 2
            sl = self._pruned(win).join(F.broadcast(remaining), "key", "left_semi")
            if valid_only:
                # counter-rule chains link VALID samples only: a NaN
                # boundary row would stop the probe without supplying the
                # lag seed the counter aggregation needs
                sl = sl.filter(~F.isnan("value"))
            if before:
                sl = sl.filter(F.col("ts") < bound_ts)
                agg = [F.max("ts").alias("ts"), F.max_by("value", "ts").alias("value")]
            else:
                sl = sl.filter(F.col("ts") >= bound_ts)
                agg = [F.min("ts").alias("ts"), F.min_by("value", "ts").alias("value")]
            hit = sl.groupBy("key").agg(*agg)
            hit.persist()  # consumed twice: anti-join bookkeeping + result
            self._batch_cached.append(hit)
            parts.append(hit)
            remaining = remaining.join(hit.select("key"), "key", "left_anti")
            n = remaining.count()
        out = self.spark.createDataFrame([], SAMPLES_SCHEMA)
        for p in parts:
            out = out.unionByName(p.select("key", "ts", "value"))
        return out

    def _materialize(self, rule: CompactionRule, sl: DataFrame) -> DataFrame:
        """Rule buckets of a maintenance slice as (key, __bucket, value):
        `materialize_rule` — the one rule aggregation, shared with the
        engine facade — keyed by the source key (empty dest_suffix, as
        `TimeSeriesEngine._dest_samples` calls it) and with every bucket
        kept: the dest stores the open bucket too, `rule_table` hides it
        at read time."""
        return materialize_rule(
            sl, replace(rule, dest_suffix=""), include_open=True
        ).select("key", F.col("ts").alias("__bucket"), "value")

    def _ewm_recompute(self, rule: CompactionRule, touched: DataFrame):
        """Incremental repair for the EWM smoothing rules (ewma_<alpha>,
        ewm_band_<alpha>_<k>) — continuous recording-rule smoothing with
        UNBOUNDED lookback: the dest value at bucket B folds over the
        key's entire history up to B's last valid sample, so a sample
        landing in bucket B invalidates every dest bucket >= B.

        The chunk-affine state makes that repair LOCAL anyway: alongside
        the dest, each rule keeps a state table (key, __bucket, c0, m, q)
        — the EWM moment state after the bucket's last valid sample (the
        streaming analogue of the reference's serialized agg contexts,
        compaction.h:32-33, and of cusum_stream's carried (s_pos,
        s_neg)).  Per batch:

          1. B0(key) = the key's earliest touched bucket; the SEED is
             its newest state row strictly before B0 — for in-order
             appends that's the previous micro-batch's last row;
          2. one day-pruned log read supplies the key's valid resolved
             samples with ts >= B0 (keys with NO seed — brand-new, or an
             out-of-order insert before their first sample, which moves
             the centering origin c0 — fall back to their full history);
          3. a per-key Arrow kernel replays the recurrences from the
             seed through `smooth.ewm_recurrence` (unseeded keys take
             its plain y_0 = x_0 seed) and emits one (dest value,
             state) row per bucket >= B0 with >=1 valid sample; the
             band rule's std is `smooth.ewm_credible_std` — the batch
             operator's own recurrence and snap;
          4. dest rows flow into the generic partition-scoped upsert;
             state rows >= B0 are replaced pk-partition-scoped (the
             `_pk` hash-bucket layout: state is only ever point-read by
             key).

        Cost tracks batch time-locality: in-order ingest reads the
        touched days and the touched keys' pk state partitions, never
        the log's history.  (A deployment with years of buckets per key
        would additionally day-partition the state table and probe it
        like `_boundary_samples`; the pk layout keeps the read bounded
        by state rows per hash bucket, which is dest-sized, not
        sample-sized.)"""
        import numpy as np
        import pandas as pd

        kind, alpha, band_k = parse_ewm_rule(rule.agg)
        centered = kind == "ewm_band"
        bucket_ms, align_ts = rule.bucket_ms, rule.align_ts
        sdir = self.rule_state_dir(rule)
        st_df = self._read(sdir, EWM_STATE_SCHEMA + ", pk int")
        b0 = touched.groupBy("key").agg(F.min("__bucket").alias("__b0"))
        b0.persist()
        self._batch_cached.append(b0)
        seeds = (
            st_df.join(F.broadcast(b0), "key")
            .filter(F.col("__bucket") < F.col("__b0"))
            .groupBy("key")
            .agg(
                F.max("__bucket").alias("__sb"),
                F.max_by("c0", "__bucket").alias("__c0"),
                F.max_by("m", "__bucket").alias("__m"),
                F.max_by("q", "__bucket").alias("__q"),
            )
        )
        spine = b0.join(seeds, "key", "left")
        spine.persist()
        self._batch_cached.append(spine)

        all_days = self._log_days()
        seedless = spine.filter(F.col("__sb").isNull()).limit(1).count() > 0
        if seedless:
            days = all_days
        else:
            lo = spine.agg(F.min("__b0").alias("lo")).collect()[0].lo
            days = [d for d in all_days if d >= lo // DAY_MS]
        samples = (
            self._pruned(days)
            .filter(~F.isnan("value"))
            .join(F.broadcast(spine), "key")
            .filter(F.col("__sb").isNotNull() | F.lit(seedless))
            .filter(F.col("__sb").isNull() | (F.col("ts") >= F.col("__b0")))
        )

        out_schema = (
            "key string, __bucket long, value double,"
            " c0 double, m double, q double"
        )
        a = float(alpha)
        kf = float(band_k) if band_k is not None else 0.0

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("ts").reset_index(drop=True)
            if pd.notna(pdf["__sb"].iloc[0]):
                c0 = float(pdf["__c0"].iloc[0])
                m0 = float(pdf["__m"].iloc[0])
                q0 = float(pdf["__q"].iloc[0])
            else:
                c0 = float(pdf["value"].iloc[0]) if centered else 0.0
                m0 = q0 = None  # the plain y_0 = x_0 seed
            y = pdf["value"].to_numpy(np.float64) - c0
            t = pdf["ts"].to_numpy(np.int64)
            res = pd.DataFrame(
                {
                    "key": pdf["key"],
                    "__bucket": t - (t - align_ts) % bucket_ms,
                    "m": ewm_recurrence(y, a, m0),
                    "q": ewm_recurrence(y * y, a, q0),
                }
            )
            last = res.groupby("__bucket", as_index=False).last()
            last["value"] = c0 + last["m"]
            if centered:
                last["value"] += kf * ewm_credible_std(
                    last["q"] - last["m"] * last["m"], last["q"]
                )
            last["c0"] = c0
            return last[["key", "__bucket", "value", "c0", "m", "q"]]

        out = samples.groupBy("key").applyInPandas(kernel, out_schema)
        out.persist()
        self._batch_cached.append(out)

        recomputed = out.select("key", "__bucket", "value")
        touched_ext = (
            touched.unionByName(out.select("key", "__bucket")).distinct()
        )
        touched_ext.persist()
        self._batch_cached.append(touched_ext)

        # pk-partition-scoped state upsert (`_pk` hash buckets): keep
        # other keys' rows and this key's rows strictly before B0,
        # replace everything >= B0 with the replayed states
        pks = [
            r.pk
            for r in b0.select(_pk(F.col("key")).alias("pk"))
            .distinct()
            .collect()
        ]
        kept = (
            st_df.filter(F.col("pk").isin(pks))
            .join(F.broadcast(b0), "key", "left")
            .filter(
                F.col("__b0").isNull()
                | (F.col("__bucket") < F.col("__b0"))
            )
            .select("key", "__bucket", "c0", "m", "q")
        )
        (
            kept.unionByName(out.select("key", "__bucket", "c0", "m", "q"))
            .withColumn("pk", _pk(F.col("key")))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("pk")
            .parquet(sdir)
        )
        return touched_ext, recomputed

    def _window_recompute(self, rule: CompactionRule, touched: DataFrame):
        """Pruned, exact repair for CROSS-BUCKET rule aggregators (twa,
        increase/rate) over the (key, bucket) pairs in `touched`, first
        widened ±1 bucket (a sample in bucket B also changes the
        cross-bucket terms of B-1 and B+1).  Returns the EXTENDED touched
        set and the recomputed rows: `materialize_rule` over the assembled
        slice (see `_materialize`), kept to the extended touched set.

        Exactness requires recomputing every bucket whose cross-bucket
        term the batch's samples changed — the bucket holding the nearest
        stored sample on each side of every touched bucket (for twa the
        boundary interpolation, src/tsdb.c:1276-1306; for increase the
        next valid sample's step); ±1-bucket arithmetic alone misses
        neighbors across sparse gaps.  Three pruned reads:

          1. core slice — the day partitions covering the touched span,
             semi-joined to touched keys; an in-span window finds each
             touched bucket's sample-adjacent neighbor buckets;
          2. beyond-span neighbors — `_boundary_samples` exponential day
             probes (typically zero scans: micro-batches cluster in recent
             days);
          3. after extending `touched` with the neighbor buckets, one more
             slice + probe pass supplies the cross-bucket samples the
             aggregation needs at the extended span's edges.

        Counter rules read non-NaN samples only (their chain links valid
        samples, so a NaN boundary sample would not seed it); twa handles
        NaN itself.  Per-batch cost tracks the batch's time locality
        (touched days + probe windows), never total log length.
        """
        valid_only = rule.agg != "twa"
        touched = (
            touched.select(
                "key",
                F.explode(
                    F.array(
                        F.col("__bucket") - rule.bucket_ms,
                        F.col("__bucket"),
                        F.col("__bucket") + rule.bucket_ms,
                    )
                ).alias("__bucket"),
            )
            .filter(F.col("__bucket") >= 0)
            .distinct()
        )
        tkeys = touched.select("key").distinct()
        all_days = self._log_days()

        def span_days(a, z):
            return [d for d in all_days if a <= d <= z]

        def slice_for(lo, hi):
            sl = self._pruned(span_days(lo // DAY_MS, (hi - 1) // DAY_MS))
            if valid_only:
                sl = sl.filter(~F.isnan("value"))
            return sl.join(F.broadcast(tkeys), "key", "left_semi")

        def edge_probes(core, lo, hi):
            before = self._boundary_samples(
                tkeys,
                sorted((d for d in all_days if d < lo // DAY_MS), reverse=True),
                lo,
                before=True,
                already_have=core.filter(F.col("ts") < lo).select("key").distinct(),
                valid_only=valid_only,
            )
            after = self._boundary_samples(
                tkeys,
                sorted(d for d in all_days if d > (hi - 1) // DAY_MS),
                hi,
                before=False,
                already_have=core.filter(F.col("ts") >= hi).select("key").distinct(),
                valid_only=valid_only,
            )
            return before, after

        b = touched.agg(
            F.min("__bucket").alias("lo"), F.max("__bucket").alias("hi")
        ).collect()[0]
        if b.lo is None:
            # empty micro-batch (or fully rejected/deduped): nothing to repair
            return touched, self.spark.createDataFrame(
                [], SAMPLES_SCHEMA.replace("ts long", "__bucket long")
            ).select("key", "__bucket", "value")
        lo, hi = int(b.lo), int(b.hi) + rule.bucket_ms  # span [lo, hi)
        core = slice_for(lo, hi)
        core.persist()
        self._batch_cached.append(core)

        # in-span sample-adjacent neighbors of every touched bucket edge:
        # probe rows at each bucket's start/end, range-frame window to the
        # nearest sample strictly before / at-or-after (no join)
        probes = touched.select(
            "key", F.explode(F.array("__bucket", F.col("__bucket") + rule.bucket_ms)).alias("__t")
        ).withColumn("__s", F.lit(None).cast("long"))
        pts = probes.unionByName(
            core.select("key", F.col("ts").alias("__t"), F.col("ts").alias("__s"))
        )
        w = Window.partitionBy("key").orderBy("__t")
        # __next runs as a GROWING frame under the reversed sort: Spark
        # recomputes a shrinking unboundedFollowing frame from scratch per
        # row (O(span^2); see operators/twa.py's spine-gather note) — the
        # desc-ordered growing frame sees the same at-or-after rows
        # incrementally (equal-__t peers are in-frame either way, and any
        # sample peer carries __s == __t, so tie order is immaterial)
        w_rev = Window.partitionBy("key").orderBy(F.col("__t").desc())
        pts = pts.withColumn(
            "__prev", F.last("__s", True).over(w.rangeBetween(Window.unboundedPreceding, -1))
        ).withColumn(
            "__next", F.last("__s", True).over(w_rev.rangeBetween(Window.unboundedPreceding, 0))
        )
        neighbors = (
            pts.filter(F.col("__s").isNull())
            .select("key", F.explode(F.array("__prev", "__next")).alias("ts"))
            .filter(F.col("ts").isNotNull())
        )
        before1, after1 = edge_probes(core, lo, hi)
        ext = neighbors.unionByName(
            before1.select("key", "ts").unionByName(after1.select("key", "ts"))
        ).select(
            "key", bucket_start(F.col("ts"), rule.bucket_ms, rule.align_ts).alias("__bucket")
        )
        touched = touched.unionByName(ext).distinct()
        touched.persist()
        self._batch_cached.append(touched)

        eb = touched.agg(
            F.min("__bucket").alias("lo"), F.max("__bucket").alias("hi")
        ).collect()[0]
        lo2, hi2 = int(eb.lo), int(eb.hi) + rule.bucket_ms
        core2 = core if (lo2, hi2) == (lo, hi) else slice_for(lo2, hi2)
        # the extended edges still need one sample beyond the span (twa:
        # interpolation neighbors, twaAddBucketParams src/module.c:943-958;
        # increase: the lag seed / next-step sample) — these feed the
        # aggregation but are NOT recomputed themselves
        before2, after2 = edge_probes(core2, lo2, hi2)
        per_key = core2.unionByName(before2).unionByName(after2)
        recomputed = self._materialize(rule, per_key).join(
            F.broadcast(touched), ["key", "__bucket"], "left_semi"
        )
        return touched, recomputed

    # ---- the foreachBatch body ------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int):
        # Arrival order for duplicate resolution: the batch id must DOMINATE
        # (first/last semantics are defined ACROSS batches; within one
        # distributed batch there is no arrival order — dup_policy.py).
        # monotonically_increasing_id would leak partition ids into the high
        # bits and outrank later batches, so the low bits are a bounded
        # content hash instead: cross-batch exact, within-batch an arbitrary
        # but deterministic tiebreak.
        batch = batch.select("key", "ts", "value").withColumn(
            "seq",
            F.lit(batch_id * (1 << 20))
            + F.pmod(F.xxhash64("key", "ts", "value"), F.lit(1 << 20)),
        )
        batch.persist()
        ignore = self.duplicate_policy == "last" and (
            self.ignore_max_time_diff > 0 or self.ignore_max_val_diff > 0
        )
        # the stored `latest`, read ONCE and materialized: the batch
        # filtered against it is consumed by every later step, each of
        # which would otherwise re-run the delta fold
        if self.retention_ms > 0 or ignore:
            cur = self.latest().localCheckpoint()
        # 0. reject samples older than the retention horizon (the reference
        # errors the write, src/module.c:1006-1012) -> error sink
        if self.retention_ms > 0:
            from redistimeseries_spark.write.retention import reject_late

            cur_max = cur.select("key", F.col("ts").alias("max_ts"))
            batch, late = reject_late(batch, cur_max, self.retention_ms)
            late.write.mode("append").parquet(self.errors_dir)
        # 0.5 IGNORE near-duplicate dedup, seeded with the stored last sample
        # so the kept-chain is continuous across batches; dropped samples are
        # silently ignored (the reference replies lastTimestamp, no error)
        if ignore:
            from redistimeseries_spark.write.mutate import ignore_filter_seeded

            batch = ignore_filter_seeded(
                batch,
                cur,
                self.ignore_max_time_diff,
                self.ignore_max_val_diff,
            ).persist()
        # 1. append to the log, partitioned by sample-time day (arrival
        # order preserved via seq) — the partitioning every later
        # maintenance read prunes on
        self._append_log(batch)
        # 2. latest: append this batch's newest rows per key as one delta
        # — no read of the stored table, no partition rewrite
        self._append_latest(batch)
        # 3. per-rule dest recompute, touched buckets only
        for rule in self.rules:
            src = batch
            if rule.src_key_pattern is not None:
                src = batch.filter(F.col("key").rlike(rule.src_key_pattern))
            # the touched (key, bucket) set, materialized once: it feeds
            # the slice's semi-join and the dest anti-join, and one collect
            # gives the driver its buckets (hence the day lists)
            touched = (
                src.select(
                    "key",
                    bucket_start(F.col("ts"), rule.bucket_ms, rule.align_ts).alias("__bucket"),
                )
                .distinct()
                .persist()
            )
            self._batch_cached.append(touched)
            buckets = self._buckets(touched)
            if not buckets:
                continue  # nothing of this rule's source in the batch
            # recompute source: NEVER the whole log.  The slice is pruned
            # to the day partitions the touched buckets cover, so per-batch
            # cost tracks the batch's time locality, not history length
            # (the reference recomputes from chunk-local data,
            # src/tsdb.c:622-660 — it never re-reads the series' history).
            if rule.agg in CROSS_BUCKET_AGGS:
                touched, recomputed = self._window_recompute(rule, touched)
                buckets = self._buckets(touched)
            elif parse_ewm_rule(rule.agg) is not None:
                # EWM smoothing rules repair FORWARD from the earliest
                # touched bucket, seeded by the carried moment state —
                # no ±1 widening (a sample never changes earlier
                # buckets; later ones are regenerated wholesale)
                touched, recomputed = self._ewm_recompute(rule, touched)
                buckets = self._buckets(touched)
            else:
                # bucket-local aggs need exactly the samples inside each
                # touched bucket: per-bucket day coverage, exact for sparse
                # sets, semi-joined to the touched buckets BEFORE the
                # aggregation (its emission rule drops an all-NaN bucket,
                # and the kept anti-join below then deletes its old row)
                src_days = sorted(
                    {
                        d
                        for b in buckets
                        for d in range(_day(b), _day(b + rule.bucket_ms - 1) + 1)
                    }
                )
                sl = (
                    self._pruned(src_days)
                    .withColumn(
                        "__bucket", bucket_start(F.col("ts"), rule.bucket_ms, rule.align_ts)
                    )
                    .join(F.broadcast(touched), ["key", "__bucket"], "left_semi")
                    .drop("__bucket")
                )
                recomputed = self._materialize(rule, sl)
            # PARTITION-SCOPED dest upsert: dests are day-partitioned by
            # bucket ts; a micro-batch's touched buckets cluster in recent
            # days, so only those day partitions are read (isin pruning),
            # repaired, and dynamically overwritten — historical days are
            # never rewritten.
            days = sorted({_day(b) for b in buckets})
            old_dest = self._read(self.rule_dir(rule), DEST_SCHEMA)
            # (keyed on __bucket like the slice's semi-join, so the plan
            # broadcasts `touched` once)
            kept = (
                old_dest.filter(F.col("__day").isin(days))
                .select("key", F.col("ts").alias("__bucket"), "value")
                .join(F.broadcast(touched), ["key", "__bucket"], "left_anti")
            )
            new_part = (
                kept.unionByName(recomputed.select("key", "__bucket", "value"))
                .withColumnRenamed("__bucket", "ts")
                .withColumn("__day", F.expr(f"ts div {DAY_MS}"))
                # materialized before the write replaces the day
                # partitions it was read from (touched-day slice, small)
                .localCheckpoint()
            )
            rdir = self.rule_dir(rule)
            before = {
                d: sorted(os.listdir(p))
                for d in days
                if os.path.isdir(p := os.path.join(rdir, f"__day={d}"))
            }
            (
                new_part.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__day")
                .parquet(rdir)
            )
            # dynamic overwrite only rewrites partitions PRESENT in
            # new_part — a touched day whose every row vanished (e.g. an
            # all-NaN overwrite of the day's only bucket) is absent from
            # new_part, so its stale partition would survive.  The
            # overwrite set must come from `days` (the touched buckets),
            # not the written rows: explicitly clear the difference — the
            # touched day dirs the write left as they were (a rewritten
            # partition holds only new, job-uniquely named files).
            # (Delta's replaceWhere expresses this natively; on parquet
            # it's a partition-dir delete — same op an object-store
            # deployment would issue.)
            for d, files in before.items():
                gone = os.path.join(rdir, f"__day={d}")
                if sorted(os.listdir(gone)) == files:
                    shutil.rmtree(gone)
        batch.unpersist()
        for df in self._batch_cached:
            df.unpersist()
        self._batch_cached.clear()
        self._batch_id = batch_id
        # periodic log compaction AFTER all of the batch's maintenance —
        # a crash mid-compaction loses only the rewrite (the .tmp dir is
        # simply re-overwritten next trigger); the batch itself is fully
        # applied above
        due = bool(
            self.compact_every and (batch_id + 1) % self.compact_every == 0
        )
        if not due and self.compact_max_files:
            cnt = self.log_file_count()
            due = cnt > self.compact_max_files and (
                self._compact_floor is None
                or cnt > 2 * self._compact_floor
            )
        if due:
            self.compact()
            if self.compact_max_files:
                self._compact_floor = self.log_file_count()

    @staticmethod
    def _swap(tmp: str, final: str):
        if os.path.isdir(final):
            shutil.rmtree(final)
        os.rename(tmp, final)

    # ---- read views ------------------------------------------------------
    def samples(self) -> DataFrame:
        """Merge-on-read view with duplicate policy folded.  Callers that
        know their ts bounds should filter on them — `ts div DAY_MS`
        mirrors the `__day` layout, so range queries prune too (the
        per-batch maintenance paths instead go through `_pruned`)."""
        log = self._log().select("key", "ts", "value", "seq")
        return resolve_duplicates(log, self.duplicate_policy)

    def latest(self) -> DataFrame:
        """Newest sample per key (key, ts, value): the deltas' rows at each
        key's newest ts, folded by the duplicate policy — the value
        `samples()` holds at that ts."""
        return resolve_duplicates(
            _newest(self._read(self.latest_dir, LATEST_SCHEMA)),
            self.duplicate_policy,
        )

    def rule_table(self, rule: CompactionRule, include_open: bool = False) -> DataFrame:
        """Closed-bucket dest view; include_open=True is the LATEST view."""
        df = self._read(self.rule_dir(rule), DEST_SCHEMA).select("key", "ts", "value")
        if include_open:
            return df
        opens = self.latest().select(
            "key", bucket_start(F.col("ts"), rule.bucket_ms, rule.align_ts).alias("__open")
        )
        return (
            df.join(F.broadcast(opens), "key", "left")
            .filter(F.col("ts") < F.col("__open"))
            .drop("__open")
        )

    def log_file_count(self) -> int:
        """Parquet data-file count of the ingest log — the quantity
        compaction bounds (tests assert it; ops dashboards watch it)."""
        n = 0
        for root, _dirs, files in os.walk(self.log_dir):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    def compact(self):
        """Rewrite the log in resolved form (the periodic MERGE job),
        preserving the `__day` layout at ONE file per day partition
        (the repartition gives each day one task — the
        index_maintenance file-count rule; day partitions are
        micro-batch-sized, far under a task's working set) — and fold
        the `latest` deltas into ONE file (each key's newest rows, seq
        kept: the duplicate policy still folds them on read)."""
        resolved = self.samples().withColumn("seq", F.lit(0).cast("long"))
        tmp = self.log_dir + ".tmp"
        (
            resolved.withColumn("__day", F.expr(f"ts div {DAY_MS}").cast("int"))
            .repartition(F.col("__day"))
            .write.mode("overwrite")
            .partitionBy("__day")
            .parquet(tmp)
        )
        latest_tmp = self.latest_dir + ".tmp"
        (
            _newest(self._read(self.latest_dir, LATEST_SCHEMA))
            .write.mode("overwrite")
            .parquet(latest_tmp)
        )
        # marker up only for the swap window: a reader racing the
        # rmtree->rename gets the typed retryable StoreCompactingError
        # instead of a silently-empty table (see _read).  A stale
        # marker (crash mid-swap) only adds a retry hint to missing-path
        # errors — the next compact() pass removes it.
        with open(self._compacting_marker, "w"):
            pass
        try:
            self._swap(tmp, self.log_dir)
            self._swap(latest_tmp, self.latest_dir)
        finally:
            try:
                os.remove(self._compacting_marker)
            except OSError:
                pass


def start_ingest(
    stream: DataFrame, store: StreamingStore, checkpoint: str | None = None, **trigger
):
    """Attach the store to a streaming DataFrame (file/rate/kafka source).
    trigger: e.g. availableNow=True (drain, for tests/backfill) or
    processingTime='5 seconds'."""
    q = (
        stream.writeStream.foreachBatch(store.process_batch)
        .option(
            "checkpointLocation",
            checkpoint or os.path.join(store.root, "_checkpoint"),
        )
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
    return q


def tail_read(
    store: StreamingStore,
    key: str,
    cursor: int = 0,
    min_count: int = 1,
    max_count: int | None = None,
    timeout_s: float = 5.0,
    poll_s: float = 0.25,
):
    """TS.READ BLOCK analogue (src/module.c:1889-2130): wait until at least
    `min_count` samples with ts >= cursor exist for `key`, polling the
    store's micro-batch output; on timeout flush whatever qualifies
    (possibly empty).  Returns (rows, next_cursor)."""
    deadline = time.monotonic() + timeout_s
    # never an unbounded collect in a poll loop: a lagging cursor would
    # re-materialize the whole suffix every poll_s; the cap bounds each
    # poll and the advancing cursor lets callers drain in pages
    cap = max(min_count, max_count or DEFAULT_READ_CAP)
    while True:
        # cursor -> day bound: each poll prunes to the log partitions at or
        # after the cursor's day (tail reads chase the head — without this
        # every poll re-lists and re-folds the whole history)
        sl = store._log().filter(
            (F.col("__day") >= cursor // DAY_MS)
            & (F.col("key") == key)
            & (F.col("ts") >= cursor)
        )
        rows = (
            resolve_duplicates(
                sl.select("key", "ts", "value", "seq"), store.duplicate_policy
            )
            .orderBy("ts")
            .take(cap)
        )
        if len(rows) >= min_count or time.monotonic() >= deadline:
            out = [(r.ts, r.value) for r in rows]
            return out, (out[-1][0] + 1 if out else cursor)
        time.sleep(poll_s)
