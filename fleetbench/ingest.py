"""ingest: micro-batches straight into StreamingStore.process_batch, with
reads sent between batches.

The only workload that exercises `streaming` and `write`: the log append,
the `latest` upsert, touched-bucket rule recompute (late samples land in
buckets already written) and periodic compaction.  Reads run between
writes, so a write-path change that fragments the log or slows the
merge-on-read fold behind `samples()` shows up as read latency.
"""

from __future__ import annotations

import itertools
import os
import shutil

import numpy as np

import gen
from core import MAINTENANCE, READ, Op, frame_check, identity, spark_frame, to_pandas
from oracle import IngestModel

HOSTS = 20  # x 10 metrics = 200 series
PREFILL_MINUTES = 30
BATCH_PTS = 12  # samples per series per batch (2 minutes at 10 s)
COMPACT_EVERY = 2  # batches between log compactions
M = gen.MIN


def _du(path: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(path):
        n += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return n


class Ingest:
    name = "ingest"

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 12])
        self.batch_no = 0
        self.rep = 0
        self.batch_stats: list[dict] = []

    def setup(self) -> dict:
        from redistimeseries_spark.streaming.compaction import CompactionRule
        from redistimeseries_spark.streaming.ingest import StreamingStore

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        self.stream = gen.ingest_stream(ctx.seed, HOSTS, PREFILL_MINUTES, BATCH_PTS)
        self.labels = spark.createDataFrame(self.stream.labels).cache()
        self.labels.count()
        self.avg_rule = CompactionRule(None, "_avg_1m", "avg", M)
        self.root = os.path.join(ctx.work, f"ingest_store_{self.rep}")
        self.rep += 1
        self.store = StreamingStore(spark, self.root, "last", [self.avg_rule])
        self.model = IngestModel()
        prefill = self.stream.batch(0)
        df = spark_frame(spark, prefill)
        with tr.span("streaming", "prefill") as s:
            self.store.process_batch(df, 0)
        self.model.add(prefill, 0)
        self.batch_no = 1
        self.reads = itertools.cycle((self._read_mget, self._read_rule, self._read_raw))
        return {"streaming.prefill_s": s.dur}

    def teardown(self):
        self.ctx.spark.catalog.clearCache()
        shutil.rmtree(self.root, ignore_errors=True)

    def digest(self) -> str:
        return gen.digest(self.stream.keys, [self.stream.batch(b).values.tolist() for b in range(3)])

    def warmup(self) -> list[Op]:
        # the prefill has no late or duplicate samples: one regular batch
        # runs the late-bucket repair and the duplicate merge once, and
        # each read and a compaction run once, before the timed loop
        return [self._batch(), self._read_mget(), self._read_rule(), self._read_raw(), self._compact()]

    def next_cycle(self):
        """Two batches, each followed by one read (TS.MGET from `latest`, a
        LATEST range on the rule table and a raw range on `samples()` take
        turns), then one log compaction.  A generator: each op is built
        when the loop asks for it, so each read's expected answer is the
        state after the batches before it, and the model never holds a
        batch the loop did not send."""
        for _ in range(COMPACT_EVERY):
            yield self._batch()
            yield next(self.reads)()
        yield self._compact()

    def _batch(self) -> Op:
        b = self.batch_no
        self.batch_no += 1
        pdf = self.stream.batch(b)
        df = spark_frame(self.ctx.spark, pdf)
        store, stats = self.store, {"samples": len(pdf)}
        self.batch_stats.append(stats)
        self.model.add(pdf, b)

        def before():
            stats["log_files"] = store.log_file_count()
            if self.ctx.trace:
                stats["bytes_before"] = _du(self.root)

        def after():
            if self.ctx.trace:
                stats["bytes_after"] = _du(self.root)

        return Op("streaming", "process_batch", lambda tr: store.process_batch(df, b), lambda: None,
                  lambda got, want: True, force=identity, work=len(pdf), before=before, after=after)

    def _compact(self) -> Op:
        return Op("streaming", "compact", lambda tr: self.store.compact(), lambda: None,
                  lambda got, want: True, force=identity, kind=MAINTENANCE)

    def _snapshot(self) -> IngestModel:
        return IngestModel(list(self.model.arrivals))

    def _key(self) -> str:
        keys = self.stream.keys
        return str(keys[gen.zipf_ranks(self.rng, len(keys), 1)[0]])

    def _now(self) -> int:
        """Newest grid timestamp written so far."""
        return gen.T0 + (self.stream.prefill_pts + (self.batch_no - 1) * BATCH_PTS - 1) * self.stream.cadence_ms

    def _read_mget(self) -> Op:
        from redistimeseries_spark.operators.multi import ts_mget

        metric = str(self.rng.choice(gen.METRICS))
        keys = [k for k in self.stream.keys if k.endswith(":" + metric)]
        snap = self._snapshot()

        def call(tr):
            with tr.span("streaming", "latest"):
                latest = self.store.latest()
            return ts_mget(latest, self.labels, [f"metric={metric}"], latest_table=latest)

        return Op("operators", "read_mget", call, lambda: snap.latest(keys),
                  frame_check(["key", "ts", "value"]), kind=READ)

    def _read_rule(self) -> Op:
        from redistimeseries_spark.operators.range_query import ts_range

        k, end = self._key(), self._now()
        start = end - 30 * M
        snap = self._snapshot()

        def call(tr):
            with tr.span("streaming", "rule_table"):
                rt = self.store.rule_table(self.avg_rule, include_open=True)
            return ts_range(rt, start, end, keys=k)

        def expect():
            r = snap.rule(M, "mean", key=k)
            return r[r.ts.between(start, end)]

        return Op("operators", "read_rule", call, expect, frame_check(["key", "ts", "value"]), kind=READ)

    def _read_raw(self) -> Op:
        from redistimeseries_spark.operators.range_query import ts_range

        k, end = self._key(), self._now()
        start = end - 15 * M
        snap = self._snapshot()

        def call(tr):
            with tr.span("write", "samples"):
                s = self.store.samples()
            return ts_range(s, start, end, keys=k)

        def expect():
            r = snap.resolved(k)
            return r[r.ts.between(start, end)]

        return Op("operators", "read_raw", call, expect, frame_check(["key", "ts", "value"]), kind=READ)

    def final_ops(self) -> list[Op]:
        """End-state checks of every maintained table, run after the timed
        loop: latest, both views of the rule table and the merge-on-read
        samples."""
        snap = self._snapshot()
        store = self.store
        cols = frame_check(["key", "ts", "value"])
        return [
            Op("streaming", "final_latest", lambda tr: store.latest(), snap.latest, cols,
               force=to_pandas, kind=READ),
            Op("streaming", "final_rule_avg_1m", lambda tr: store.rule_table(self.avg_rule, include_open=True),
               lambda: snap.rule(M, "mean"), cols, force=to_pandas, kind=READ),
            Op("streaming", "final_rule_closed", lambda tr: store.rule_table(self.avg_rule),
               lambda: snap.rule(M, "mean", include_open=False), cols, force=to_pandas, kind=READ),
            Op("write", "final_samples", lambda tr: store.samples(), snap.resolved, cols,
               force=to_pandas, kind=READ),
        ]

    def store_bytes_per_sample(self) -> float:
        return _du(self.root) / sum(len(a) for a in self.model.arrivals)
