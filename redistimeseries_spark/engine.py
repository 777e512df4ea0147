"""TimeSeriesEngine — the user-facing command surface.

One class exposing the reference's whole command vocabulary
(src/module.c:2763-2850 registration table) as Python methods over the
Spark operators: CREATE / ALTER / ADD / MADD / INCRBY / DECRBY / DEL /
CREATERULE / DELETERULE / RANGE / REVRANGE / GET / MGET / MRANGE /
MREVRANGE / NRANGE / QUERYINDEX / QUERYLABELS / READ / INFO, plus the
module-level config (COMPACTION_POLICY auto-rules, RETENTION_POLICY,
DUPLICATE_POLICY — src/config.c:82-180).

Catalog state (series configs, labels, rules) is driver-side metadata —
tiny, like the reference's keyspace dict; sample data lives in DataFrames
(optionally parquet-backed via `path`).  Ingest is buffered and folded with
the series' duplicate policy on flush, which is exactly the reference's
arrival-order pairwise merge collapsed per batch (write/dup_policy.py).

Time arguments accept epoch-ms ints or reference duration strings
(parse_policies.c lookup: ''/m=ms, s=sec, M=min, h=hour, d=day) and the
query sentinels '-' (0), '+' (max), '$' (last ts + 1)
(src/query_language.c:673-693, src/module.c:1765-1820).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redistimeseries_spark import MAX_TS, MIN_TS
from redistimeseries_spark.functions.filters import key_in
from redistimeseries_spark.operators.labels import LabelIndex, arrow_frame, with_labels
from redistimeseries_spark.operators.multi import ts_mrange
from redistimeseries_spark.operators.nrange import ts_nrange
from redistimeseries_spark.operators.range_query import ts_range
from redistimeseries_spark.streaming.compaction import CompactionRule, materialize_rule
from redistimeseries_spark.write.dup_policy import merge_sample, resolve_duplicates
from redistimeseries_spark.write.mutate import _kept_chain
from redistimeseries_spark.write.retention import retention_clamp

_UNITS = {"": 1, "m": 1, "s": 1000, "M": 60_000, "h": 3_600_000, "d": 86_400_000}


def parse_duration_ms(v) -> int:
    """'1h' -> 3600000 etc (parse_policies.c:22-60 unit table)."""
    if isinstance(v, int):
        return v
    m = re.fullmatch(r"(\d+)([msMhd]?)", str(v))
    if not m:
        raise ValueError(f"bad duration {v!r}")
    return int(m.group(1)) * _UNITS[m.group(2)]


CHUNK_MS = 86_400_000  # chunk analog = day partition of the scale layout


def chunk_stats(samples: DataFrame, key: str) -> DataFrame:
    """TS.INFO DEBUG per-chunk stats (src/module.c:156-280): sample count
    and ts bounds per chunk.  Our chunk is the day partition (SURVEY §1.5)
    — the same min/max metadata parquet row-group stats prune on."""
    return (
        samples.filter(F.col("key") == key)
        .groupBy(F.expr(f"ts div {CHUNK_MS}").alias("chunk"))
        .agg(
            F.count("*").alias("samples"),
            F.min("ts").alias("first_timestamp"),
            F.max("ts").alias("last_timestamp"),
        )
    )


@dataclass
class SimpleCompactionRule:
    agg: str
    bucket_ms: int
    retention_ms: int = 0
    align_ts: int = 0


def parse_compaction_policy(spec: str) -> list[SimpleCompactionRule]:
    """'max:1M:1h;avg:2h:10d[:align]' -> rules (parse_policies.c:62-120)."""
    rules = []
    for part in spec.split(";"):
        toks = part.split(":")
        if len(toks) not in (3, 4):
            raise ValueError(f"bad policy item {part!r} (want agg:bucket:retention[:align])")
        rules.append(
            SimpleCompactionRule(
                agg=toks[0].lower(),
                bucket_ms=parse_duration_ms(toks[1]),
                retention_ms=parse_duration_ms(toks[2]),
                align_ts=parse_duration_ms(toks[3]) if len(toks) == 4 else 0,
            )
        )
    return rules


@dataclass
class SeriesConfig:
    key: str
    retention_ms: int = 0
    duplicate_policy: str | None = None
    labels: dict[str, str] = field(default_factory=dict)
    ignore_max_time_diff: int = 0
    ignore_max_val_diff: float = 0.0
    src_key: str | None = None  # non-None iff compaction destination


@dataclass
class Rule:
    src_key: str
    dest_key: str
    agg: str
    bucket_ms: int
    align_ts: int = 0


class TimeSeriesEngine:
    def __init__(
        self,
        spark: SparkSession,
        compaction_policy: str | None = None,
        retention_policy=0,
        duplicate_policy: str = "block",
    ):
        self.spark = spark
        self.series: dict[str, SeriesConfig] = {}
        self.rules: list[Rule] = []
        self.default_retention = parse_duration_ms(retention_policy)
        self.default_dup_policy = duplicate_policy
        self.auto_rules = (
            parse_compaction_policy(compaction_policy) if compaction_policy else []
        )
        self._samples = spark.createDataFrame([], "key string, ts long, value double")
        self._pending: list[tuple[str, int, float, str | None]] = []
        self._seq = 0
        # dest keys holding frozen (rule-deleted) buckets in _samples
        self._frozen_dests: set[str] = set()
        # per-key (last_ts, last_value), None for a series without
        # samples — the reference keeps lastTimestamp/lastValue on the
        # series struct so TS.GET/MGET/INCRBY are O(1) (src/tsdb.h:64-70);
        # this cache gives the facade the same O(1): filled by _lasts on a
        # miss and by incrby's own writes, invalidated by every other
        # mutation
        self._last_cache: dict[str, tuple[int, float] | None] = {}
        # retention series' running last sample (ts, value) over the stored
        # and queued writes, None while empty: the anchor of the add-time
        # retention check (`_admit`); dropped wherever the stored samples
        # change outside the fold of the writes it has judged
        self._horizon: dict[str, tuple[int, float] | None] = {}
        # the label index over the catalog; None until the next label query
        # after a create, alter, drop or rename
        self._labels: LabelIndex | None = None

    # ---- DDL ------------------------------------------------------------
    def create(
        self,
        key: str,
        retention=None,
        labels: dict[str, str] | None = None,
        duplicate_policy: str | None = None,
        ignore_max_time_diff: int = 0,
        ignore_max_val_diff: float = 0.0,
        chunk_size: int | None = None,  # accepted, physical no-op on parquet
        encoding: str | None = None,  # ditto (parquet encodes)
    ) -> SeriesConfig:
        if key in self.series:
            raise ValueError(f"series {key!r} exists")
        for name in (labels or {}):
            if "=" in name:
                # label names may not contain '=' (src/indexer.c:590-596)
                raise ValueError(f"label name {name!r} may not contain '='")
        cfg = SeriesConfig(
            key=key,
            retention_ms=parse_duration_ms(
                retention if retention is not None else self.default_retention
            ),
            duplicate_policy=duplicate_policy,
            labels=dict(labels or {}),
            ignore_max_time_diff=ignore_max_time_diff,
            ignore_max_val_diff=ignore_max_val_diff,
        )
        self.series[key] = cfg
        self._last_cache[key] = None  # a new series holds no samples
        if cfg.retention_ms > 0:
            self._horizon[key] = None
        self._labels = None
        # COMPACTION_POLICY auto-rules (src/module.c:1085-1093)
        for r in self.auto_rules:
            dest = f"{key}_{r.agg}_{r.bucket_ms}"
            if dest not in self.series:
                self.series[dest] = SeriesConfig(
                    key=dest, retention_ms=r.retention_ms, src_key=key
                )
                self.rules.append(Rule(key, dest, r.agg, r.bucket_ms, r.align_ts))
        return cfg

    def alter(self, key: str, retention=None, labels=None, duplicate_policy=None):
        cfg = self._cfg(key)
        if retention is not None:
            cfg.retention_ms = parse_duration_ms(retention)
        if labels is not None:
            cfg.labels = dict(labels)  # full relabel, reindexed (src/module.c:1252)
            self._labels = None
        if duplicate_policy is not None:
            cfg.duplicate_policy = duplicate_policy
        if retention is not None or duplicate_policy is not None:
            self._horizon.pop(key, None)
        return cfg

    def create_rule(self, src: str, dest: str, agg: str, bucket, align_ts=0):
        self._cfg(src), self._cfg(dest)
        if any(r.dest_key == dest for r in self.rules):
            raise ValueError(f"{dest!r} is already a compaction destination")
        if src == dest:
            raise ValueError("src == dest")
        self.series[dest].src_key = src
        self.rules.append(
            Rule(src, dest, agg, parse_duration_ms(bucket), parse_duration_ms(align_ts))
        )

    def _freeze_dests(self, rules) -> None:
        """Materialize the given rules' destination series into the store
        before their rules disappear: the reference's dest keeps every
        bucket it physically wrote when its rule is deleted (the open
        bucket's context is discarded) — this facade computes dests
        lazily, so parity requires writing the closed buckets down.
        Frozen dest keys are remembered: if a NEW rule is later created on
        one, the dest view merges stored rows with the rule's
        materialization (rule buckets win at their ts — the reference's
        DP_LAST upsert into a non-empty dest)."""
        if not rules:
            return
        self.flush()
        frozen = self._dest_samples(list(rules), latest=False)
        # Re-freezing an already-frozen dest must not duplicate rows: the
        # materialization above already merges previously-stored dest rows
        # (the dirty path of _dest_samples), so drop the old stored copies
        # before the union — otherwise DELETERULE→CREATERULE→DELETERULE
        # leaves two rows per ts where the reference's DP_LAST upsert
        # keeps one (src/tsdb.c:622-660 upserts into the same chunk).
        dest_keys = [r.dest_key for r in rules]
        self._samples = (
            self._samples.filter(~key_in(dest_keys))
            .unionByName(frozen)
            .localCheckpoint()
        )
        self._frozen_dests.update(dest_keys)
        self._forget(*dest_keys)

    def delete_rule(self, src: str, dest: str):
        hit = [r for r in self.rules if r.src_key == src and r.dest_key == dest]
        if not hit:
            raise ValueError("no such rule")
        self._freeze_dests(hit)
        self.rules = [r for r in self.rules if not (r.src_key == src and r.dest_key == dest)]
        self.series[dest].src_key = None

    def drop(self, key: str) -> None:
        """Generic DEL of a series key (tests/flow/test_lazy_del.py — the
        reference resolves dangling rule references lazily; this facade
        resolves them eagerly, same observable state): the samples and
        catalog entry go; rules where the key is source or destination are
        removed; a destination whose source was deleted loses its
        source_key but KEEPS the buckets already compacted."""
        self._cfg(key)
        self.flush()  # buffered writes for `key` must die with it
        self._freeze_dests([r for r in self.rules if r.src_key == key])
        for r in self.rules:
            if r.src_key == key:
                self.series[r.dest_key].src_key = None
        self.rules = [r for r in self.rules if key not in (r.src_key, r.dest_key)]
        for c in self.series.values():
            if c.src_key == key:
                c.src_key = None
        del self.series[key]
        self._labels = None
        self._frozen_dests.discard(key)
        self._forget(key)
        self._samples = self._samples.filter(F.col("key") != key)

    def rename(self, old: str, new: str) -> None:
        """Generic RENAME on a series key (the reference follows Redis
        keyspace RENAME notifications to rekey the series and fix every
        reference, tests/flow/test_rename.py): the catalog entry, the
        label index (derived from the catalog, so TS.MGET/QUERYINDEX see
        the new name), rules where the key is source or destination, and
        stored samples all follow.  Renaming onto an existing series
        overwrites it, as Redis RENAME does.

        Scale note: in Redis this is an O(1) dict rekey; here the catalog
        and rules are O(1) driver metadata and the sample rekey is a lazy
        column rewrite over this facade's in-session store — a parquet
        deployment keys data by an immutable series id and renames only in
        the catalog (SURVEY §1.5)."""
        cfg = self._cfg(old)
        if old == new:
            return  # Redis RENAME k k on an existing key is a no-op success
        self.flush()
        if new in self.series:
            # Redis RENAME clobbers the destination key — DEL semantics
            self.drop(new)
        del self.series[old]
        self._labels = None
        self._forget(old, new)
        cfg.key = new
        self.series[new] = cfg
        if old in self._frozen_dests:
            self._frozen_dests.discard(old)
            self._frozen_dests.add(new)
        for r in self.rules:
            if r.src_key == old:
                r.src_key = new
            if r.dest_key == old:
                r.dest_key = new
        for c in self.series.values():
            if c.src_key == old:
                c.src_key = new
        self._samples = self._samples.withColumn(
            "key",
            F.when(F.col("key") == old, F.lit(new)).otherwise(F.col("key")),
        )

    # ---- ingest ---------------------------------------------------------
    def add(self, key: str, ts, value: float, on_duplicate: str | None = None, **create_kwargs):
        ts_ms = parse_duration_ms(ts)
        if ts_ms < 0:
            # negative timestamps rejected at parse (src/module.c:1076-1079)
            raise ValueError("TS.ADD timestamp must be >= 0")
        if key not in self.series:
            self.create(key, **create_kwargs)  # auto-create (src/module.c:1085)
        if self.series[key].retention_ms > 0:
            self._seed_horizon([key])
            if not self._admit(key, ts_ms, float(value)):
                raise ValueError("TSDB: Timestamp is older than retention")
        self._pending.append((key, ts_ms, float(value), on_duplicate))
        self._last_cache.pop(key, None)  # dup-policy fold decides at flush

    def _forget(self, *keys: str) -> None:
        """Drop the cached last samples of keys whose stored samples changed."""
        for k in keys:
            self._last_cache.pop(k, None)
            self._horizon.pop(k, None)

    def _ignores(self, cfg: SeriesConfig) -> bool:
        """IGNORE applies (src/module.c:986-1023): only under a LAST policy."""
        return (cfg.ignore_max_time_diff > 0 or cfg.ignore_max_val_diff > 0) and (
            cfg.duplicate_policy or self.default_dup_policy
        ) == "last"

    def _admit(self, key: str, ts: int, value: float) -> bool:
        """Judge one write of a retention series against its running last
        sample: False when it is older than last ts - retention
        (src/module.c:1006-1012).  An accepted newer write becomes the
        running last sample unless IGNORE drops it — the same rules, in
        the same order, as `flush`'s `_accepted_pending`."""
        cfg, last = self.series[key], self._horizon[key]
        if last is None:
            self._horizon[key] = (ts, value)
            return True
        if ts < last[0] - cfg.retention_ms:
            return False
        ignored = (
            self._ignores(cfg)
            and ts - last[0] <= cfg.ignore_max_time_diff
            and abs(value - last[1]) <= cfg.ignore_max_val_diff
        )
        if ts > last[0] and not ignored:
            self._horizon[key] = (ts, value)
        return True

    def _seed_horizon(self, keys) -> None:
        """Seed the running last sample of the retention series `_horizon`
        lacks: from `_last_cache`, else from one aggregate job over the
        stored samples; then judge the queued writes in arrival order."""
        need = [k for k in keys if k not in self._horizon]
        if not need:
            return
        last = {k: self._last_cache[k] for k in need if k in self._last_cache}
        rest = [k for k in need if k not in last]
        if rest:
            for r in (
                self._samples.filter(key_in(rest))
                .groupBy("key")
                .agg(F.max("ts"), F.max_by("value", "ts"))
                .collect()
            ):
                last[r[0]] = (r[1], r[2])
        self._horizon.update((k, last.get(k)) for k in need)
        for k, ts, value, _ in self._pending:
            if k in need:
                self._admit(k, ts, value)

    def madd(self, triples):
        """Batched TS.ADD: per-triple result array — the resolved timestamp
        on success, the error on failure; failed triples are not ingested
        (only successful ones replicated, src/module.c:1115-1161).  A write
        older than its series' last ts - retention fails here (`_admit`):
        one aggregate query per call at most seeds the series that need
        it, none when no series in the call has retention.  A write that
        IGNORE drops still answers with its timestamp."""
        triples = list(triples)
        self._seed_horizon(
            {k for k, _, _ in triples if k in self.series and self.series[k].retention_ms > 0}
        )
        out = []
        for key, ts, value in triples:
            try:
                self.add(key, ts, value)
                out.append(self._pending[-1][1])
            except ValueError as exc:
                out.append(exc)
        return out

    def incrby(self, key: str, delta: float, ts=None):
        if math.isnan(delta):
            # NaN delta rejected (src/module.c:1469-1564)
            raise ValueError("TS.INCRBY/DECRBY value may not be NaN")
        last_ts, last_val = self._last(key)
        ts = parse_duration_ms(ts) if ts is not None else last_ts + 1
        if ts < last_ts:
            raise ValueError("TS.INCRBY timestamp must be >= last (src/module.c:1469)")
        new_val = (last_val or 0.0) + delta
        self.add(key, ts, new_val, on_duplicate="last")
        # this write IS the new last sample (ts >= last, LAST dup policy),
        # so the O(1) chain continues without a scan — EXCEPT when an
        # IGNORE config may drop the write at flush, or the value is NaN
        # (valid samples beat NaN under every dup policy): those rescan.
        cfg = self.series[key]
        if (
            cfg.ignore_max_time_diff == 0
            and cfg.ignore_max_val_diff == 0
            and not math.isnan(new_val)
        ):
            self._last_cache[key] = (ts, new_val)

    def decrby(self, key: str, delta: float, ts=None):
        self.incrby(key, -delta, ts)

    def delete(self, key: str, from_ts, to_ts) -> int:
        self.flush()
        lo, hi = parse_duration_ms(from_ts), parse_duration_ms(to_ts)
        hit = (F.col("key") == key) & F.col("ts").between(lo, hi)
        n = self._samples.filter(hit).count()
        self._samples = self._samples.filter(~hit).localCheckpoint()
        self._forget(key)
        return n

    def flush(self):
        """Fold pending writes into the store with per-series dup policy +
        retention + IGNORE semantics — the batch analogue of foreachBatch
        MERGE (SURVEY §2.8/§3.2).  IGNORE and the late-beyond-retention
        reject filter the pending writes only (`_accepted_pending`):
        stored rows are never re-filtered."""
        if not self._pending:
            return
        rows = []
        for key, ts, value, on_dup in self._accepted_pending():
            rows.append((key, ts, value, self._seq, on_dup))
            self._seq += 1
        self._pending.clear()
        batch = self.spark.createDataFrame(
            rows, "key string, ts long, value double, seq long, on_dup string"
        )
        existing = self._samples.select(
            "key", "ts", "value", F.lit(-1).cast("long").alias("seq"),
            F.lit(None).cast("string").alias("on_dup"),
        )
        merged = existing.unionByName(batch)
        # (key, ts) groups holding a per-write ON_DUPLICATE override that
        # differs from the series policy fold SEQUENTIALLY (the reference
        # applies the MERGING write's policy, src/module.c ON_DUPLICATE ->
        # handleDuplicateSample — a mixed-policy group is arrival-ordered,
        # not a single aggregate); this is also what makes INCRBY's
        # ts == last upsert land under any series policy.  The group set
        # is bounded by the batch's override writes — driver-API scale.
        pol = {
            k: (c.duplicate_policy or self.default_dup_policy)
            for k, c in self.series.items()
        }
        ov_pairs = {(r[0], r[1]) for r in rows if r[4] and r[4] != pol[r[0]]}
        ov_out = []
        if ov_pairs:
            pairs_df = self.spark.createDataFrame(
                sorted(ov_pairs), "key string, ts long"
            )
            groups: dict[tuple, list] = {}
            for r in merged.join(
                F.broadcast(pairs_df), ["key", "ts"], "left_semi"
            ).collect():
                groups.setdefault((r.key, r.ts), []).append(
                    (r.seq, r.value, r.on_dup)
                )
            for (k, t), g in groups.items():
                g.sort()
                stored = g[0][1]
                for _, v, od in g[1:]:
                    stored = merge_sample(stored, v, od or pol[k])
                ov_out.append((k, t, stored))
            merged = merged.join(
                F.broadcast(pairs_df), ["key", "ts"], "left_anti"
            )
        parts = []
        for policy, keys in self._keys_by_policy():
            sub = merged.filter(key_in(keys))
            parts.append(resolve_duplicates(sub, policy))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if ov_out:
            out = out.unionByName(
                self.spark.createDataFrame(
                    ov_out, "key string, ts long, value double"
                )
            )
        self._samples = out.localCheckpoint()  # materialize the fold

    def _accepted_pending(self) -> list:
        """The pending writes the store takes, in arrival order.

        - IGNORE (src/module.c:986-1023): only under a LAST series
          policy, each series' writes run through the seeded kept-chain
          (`mutate._kept_chain`, the streaming store's kernel), anchored
          at its stored last sample; a write at or before the anchor is
          an upsert and passes.
        - Retention (src/module.c:1006-1012): a write older than the
          series' running last ts - retention is rejected.  The running
          last ts starts at the stored max and advances only on accepted
          writes.

        Both anchors come from one aggregate job over the stored
        samples of the keys that need them."""
        ignore = {k for k, c in self.series.items() if self._ignores(c)}
        retained = {k for k, c in self.series.items() if c.retention_ms > 0}
        keys = sorted({p[0] for p in self._pending} & (ignore | retained))
        if not keys:
            return self._pending
        anchors = {
            r.key: (r.t, r.v)
            for r in self._samples.filter(key_in(keys))
            .groupBy("key")
            .agg(F.max("ts").alias("t"), F.max_by("value", "ts").alias("v"))
            .collect()
        }
        keep = [True] * len(self._pending)
        for k in ignore.intersection(keys):
            cfg = self.series[k]
            idx = [i for i, p in enumerate(self._pending) if p[0] == k]
            mask = _kept_chain(
                np.array([self._pending[i][1] for i in idx], np.int64),
                np.array([self._pending[i][2] for i in idx], np.float64),
                cfg.ignore_max_time_diff,
                cfg.ignore_max_val_diff,
                *anchors.get(k, (None, None)),
                upsert_passthrough=True,
            )
            for i, m in zip(idx, mask):
                keep[i] = bool(m)
        last = {k: anchors[k][0] for k in retained.intersection(anchors)}
        for i, (k, ts, _, _) in enumerate(self._pending):
            if not keep[i] or k not in retained:
                continue
            if k in last and ts < last[k] - self.series[k].retention_ms:
                keep[i] = False
            else:
                last[k] = max(last.get(k, ts), ts)
        # the fold may change the stored last value an IGNORE anchor reads
        for k in ignore.intersection(keys):
            self._horizon.pop(k, None)
        return [p for p, m in zip(self._pending, keep) if m]

    def _keys_by_policy(self):
        by = {}
        for cfg in self.series.values():
            by.setdefault(cfg.duplicate_policy or self.default_dup_policy, []).append(cfg.key)
        return by.items()

    # ---- queries --------------------------------------------------------
    @property
    def samples(self) -> DataFrame:
        self.flush()
        return self._samples

    @property
    def label_index(self) -> LabelIndex:
        """The catalog's label index, built on the driver with no Spark job
        (rebuilt on first use after a create, alter, drop or rename)."""
        if self._labels is None:
            self._labels = LabelIndex(
                (cfg.key, lbl, val)
                for cfg in self.series.values()
                for lbl, val in cfg.labels.items()
            )
        return self._labels

    def _cfg(self, key: str) -> SeriesConfig:
        if key not in self.series:
            raise KeyError(f"no such series {key!r}")
        return self.series[key]

    def _resolve_ts(self, v, key: str | None = None) -> int:
        if v == "-":
            return MIN_TS
        if v == "+":
            return MAX_TS
        if v == "$":  # TS.READ: last ts + 1 (src/module.c:1765-1820)
            return self._last(key)[0] + 1
        return parse_duration_ms(v)

    def _stored_lasts(self, keys: list[str]) -> dict:
        """The last stored sample of each of `keys`, None for a key without
        samples: one aggregate query."""
        found = {
            r[0]: (r[1], r[2])
            for r in self._samples.filter(key_in(keys))
            .groupBy("key")
            .agg(F.max("ts"), F.max_by("value", "ts"))
            .collect()
        }
        return {k: found.get(k) for k in keys}

    def _lasts(self, keys: list[str]) -> dict:
        """The last sample (ts, value) of each of `keys`, None for a series
        without samples: from `_last_cache`, which no pending write of a
        cached key bypasses (`add` drops the entry).  A miss flushes and
        fills, with one aggregate query, the missing `keys` and every
        plain series the cache lacks, so the reads after it run no job
        until a write drops an entry."""
        if any(k not in self._last_cache for k in keys):
            self.flush()
            need = {k for k in keys if k not in self._last_cache}
            need.update(
                k
                for k, cfg in self.series.items()
                if cfg.src_key is None and k not in self._last_cache
            )
            self._last_cache.update(self._stored_lasts(sorted(need)))
        return {k: self._last_cache[k] for k in keys}

    def _last(self, key: str):
        last = self._lasts([key])[key]
        return last if last is not None else (-1, None)

    def _series_df(self, key: str, latest: bool) -> DataFrame:
        cfg = self._cfg(key)
        df = self.samples
        if cfg.src_key is not None:
            # compaction destination: materialized from its rule (plus any
            # frozen buckets from a previous rule — _dest_samples merges)
            rule = next(r for r in self.rules if r.dest_key == key)
            df = self._dest_samples([rule], latest)
        else:
            df = df.filter(F.col("key") == key)
        if cfg.retention_ms > 0:
            df = retention_clamp(df, cfg.retention_ms)
        return df

    def range(self, key: str, from_ts="-", to_ts="+", latest: bool = False, **kw) -> DataFrame:
        if "bucket_dur" in kw:
            kw["bucket_dur"] = parse_duration_ms(kw["bucket_dur"])
        return ts_range(
            self._series_df(key, latest),
            self._resolve_ts(from_ts, key),
            self._resolve_ts(to_ts, key),
            keys=key,
            **kw,
        ).drop("key")

    def revrange(self, key: str, from_ts="-", to_ts="+", **kw) -> DataFrame:
        return self.range(key, from_ts, to_ts, rev=True, **kw)

    def increase(self, key: str, bucket_dur, from_ts="-", to_ts="+", **kw) -> DataFrame:
        """Reset-aware counter increase per bucket (beyond-reference;
        operators/rate.ts_increase — p-name percentiles and these
        counter/smoothing companions make the facade a drop-in for the
        observability queries the reference can't answer)."""
        from redistimeseries_spark.operators.rate import ts_increase

        return ts_increase(
            self._series_df(key, False),
            parse_duration_ms(bucket_dur),
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
            **kw,
        ).drop("key")

    def rate(self, key: str, bucket_dur, from_ts="-", to_ts="+", **kw) -> DataFrame:
        """Per-second reset-aware counter rate per bucket."""
        from redistimeseries_spark.operators.rate import ts_rate

        return ts_rate(
            self._series_df(key, False),
            parse_duration_ms(bucket_dur),
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
            **kw,
        ).drop("key")

    def ewma(self, key: str, alpha: float, from_ts="-", to_ts="+") -> DataFrame:
        """EWMA-smoothed series (beyond-reference; operators/smooth)."""
        from redistimeseries_spark.operators.smooth import ts_ewma

        return ts_ewma(
            self._series_df(key, False),
            alpha,
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
        ).drop("key")

    def holt(
        self, key: str, alpha: float, beta: float, from_ts="-", to_ts="+"
    ) -> DataFrame:
        """Holt double-exponential (level, trend) smoothing
        (beyond-reference; operators/smooth.ts_holt)."""
        from redistimeseries_spark.operators.smooth import ts_holt

        return ts_holt(
            self._series_df(key, False),
            alpha,
            beta,
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
        ).drop("key")

    def ewm_band(self, key: str, alpha: float, band_k: float = 2.0,
                 from_ts="-", to_ts="+") -> DataFrame:
        """Adaptive Bollinger envelope: EWM mean +- band_k * EWM std
        with one-step-ahead breakouts (beyond-reference;
        operators/smooth.ts_ewm_band)."""
        from redistimeseries_spark.operators.smooth import ts_ewm_band

        return ts_ewm_band(
            self._series_df(key, False),
            alpha,
            band_k=band_k,
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
        ).drop("key")

    def anomalies(self, key: str, from_ts="-", to_ts="+", **kw) -> DataFrame:
        """Rolling z-score outliers (beyond-reference; operators/smooth).
        Hot-series monitoring workloads should pass `fast=True` — the
        centered-cumsum rolling formulation, ~3x at 1 key x 100M and up
        to 37x in the hot-series probe (see ts_anomalies' STEERING
        note); the default stays the numerically-stable oracle-exact
        sliding aggregate."""
        from redistimeseries_spark.operators.smooth import ts_anomalies

        return ts_anomalies(
            self._series_df(key, False),
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
            **kw,
        ).drop("key")

    def resample(self, key: str, step, method: str = "linear",
                 from_ts="-", to_ts="+") -> DataFrame:
        """Regular-grid resampling (beyond-reference; operators/resample)."""
        from redistimeseries_spark.operators.resample import ts_resample

        return ts_resample(
            self._series_df(key, False),
            parse_duration_ms(step),
            method,
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
        ).drop("key")

    def decompose(self, key: str, step, period_n: int,
                  from_ts="-", to_ts="+", mode: str = "additive") -> DataFrame:
        """Classical seasonal decomposition on the `step` grid — additive
        or multiplicative (beyond-reference; operators/decompose.
        ts_decompose)."""
        from redistimeseries_spark.operators.decompose import ts_decompose

        return ts_decompose(
            self._series_df(key, False),
            parse_duration_ms(step),
            period_n,
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
            mode=mode,
        ).drop("key")

    def seasonal_strength(self, key: str, step, period_n: int,
                          from_ts="-", to_ts="+",
                          mode: str = "additive") -> DataFrame:
        """Trend / seasonal strength of the classical decomposition
        (beyond-reference; operators/decompose.ts_seasonal_strength —
        the Wang/Smith/Hyndman measures; run detect_period first, model
        only the keys whose strength justifies it)."""
        from redistimeseries_spark.operators.decompose import (
            ts_seasonal_strength,
        )

        return ts_seasonal_strength(
            self._series_df(key, False),
            parse_duration_ms(step),
            period_n,
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
            mode=mode,
        ).drop("key")

    def forecast(self, key: str, step, period_n: int, horizon_n: int,
                 from_ts="-", to_ts="+", mode: str = "additive") -> DataFrame:
        """Seasonal linear forecast past the last observed bucket
        (beyond-reference; operators/decompose.ts_forecast)."""
        from redistimeseries_spark.operators.decompose import ts_forecast

        return ts_forecast(
            self._series_df(key, False),
            parse_duration_ms(step),
            period_n,
            horizon_n,
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
            mode=mode,
        ).drop("key")

    def gaps(self, key: str, min_gap, from_ts="-", to_ts="+") -> DataFrame:
        """Sampling-gap report (beyond-reference; operators/rate.ts_gaps)."""
        from redistimeseries_spark.operators.rate import ts_gaps

        return ts_gaps(
            self._series_df(key, False),
            parse_duration_ms(min_gap),
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
        ).drop("key")

    def irate(self, key: str, from_ts="-", to_ts="+") -> DataFrame:
        """Instantaneous per-second rate from the key's last two in-range
        samples (beyond-reference; operators/rate.ts_irate)."""
        from redistimeseries_spark.operators.rate import ts_irate

        return ts_irate(
            self._series_df(key, False),
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
        ).drop("key")

    def delta(self, key: str, bucket_dur, from_ts="-", to_ts="+", **kw) -> DataFrame:
        """Per-bucket last-minus-first gauge difference (beyond-reference;
        operators/rate.ts_delta)."""
        from redistimeseries_spark.operators.rate import ts_delta

        return ts_delta(
            self._series_df(key, False),
            parse_duration_ms(bucket_dur),
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
            **kw,
        ).drop("key")

    def idelta(self, key: str, from_ts="-", to_ts="+") -> DataFrame:
        """Spot gauge movement from the key's last two in-range samples
        (beyond-reference; operators/rate.ts_idelta)."""
        from redistimeseries_spark.operators.rate import ts_idelta

        return ts_idelta(
            self._series_df(key, False),
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
        ).drop("key")

    def deriv(self, key: str, bucket_dur, from_ts="-", to_ts="+", **kw) -> DataFrame:
        """Per-bucket least-squares slope in value-units/second
        (beyond-reference; operators/rate.ts_deriv)."""
        from redistimeseries_spark.operators.rate import ts_deriv

        return ts_deriv(
            self._series_df(key, False),
            parse_duration_ms(bucket_dur),
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
            **kw,
        ).drop("key")

    def changes(self, key: str, bucket_dur, from_ts="-", to_ts="+", **kw) -> DataFrame:
        """Per-bucket value-change count vs the previous valid sample
        (beyond-reference; operators/rate.ts_changes)."""
        from redistimeseries_spark.operators.rate import ts_changes

        return ts_changes(
            self._series_df(key, False),
            parse_duration_ms(bucket_dur),
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
            **kw,
        ).drop("key")

    def resets(self, key: str, bucket_dur, from_ts="-", to_ts="+", **kw) -> DataFrame:
        """Per-bucket counter-reset count (beyond-reference;
        operators/rate.ts_resets)."""
        from redistimeseries_spark.operators.rate import ts_resets

        return ts_resets(
            self._series_df(key, False),
            parse_duration_ms(bucket_dur),
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
            **kw,
        ).drop("key")

    def predict_linear(
        self, key: str, bucket_dur, horizon, from_ts="-", to_ts="+", **kw
    ) -> DataFrame:
        """Per-bucket least-squares extrapolation `horizon` past the
        bucket end (beyond-reference; operators/rate.ts_predict_linear)."""
        from redistimeseries_spark.operators.rate import ts_predict_linear

        return ts_predict_linear(
            self._series_df(key, False),
            parse_duration_ms(bucket_dur),
            parse_duration_ms(horizon),
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
            **kw,
        ).drop("key")

    def value_histogram(self, key: str, bin_width: float, lo: float = 0.0,
                        from_ts="-", to_ts="+") -> DataFrame:
        """Fixed-width value-distribution histogram (beyond-reference;
        operators/percentiles.ts_value_histogram)."""
        from redistimeseries_spark.operators.percentiles import (
            ts_value_histogram,
        )

        return ts_value_histogram(
            self._series_df(key, False),
            bin_width,
            lo,
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
        ).drop("key")

    def range_rollup(
        self, key: str, agg: str, bucket_dur, from_ts="-", to_ts="+"
    ) -> DataFrame:
        """TS.RANGE AGGREGATION routed through a compaction destination
        when EXACT (operators/rollup.py): the coarsest rule on `key` whose
        aggregator composes, whose bucket divides the query bucket, and
        whose alignment matches answers from its dest table —
        |buckets|/|samples| the size of the raw scan.  Falls back to the
        raw-samples plan otherwise.  (The reference always reads source
        chunks; this is the materialized-view rewrite its rules enable.)"""
        from redistimeseries_spark.operators.rollup import (
            COMPOSABLE,
            range_from_rollup,
        )

        dur = parse_duration_ms(bucket_dur)
        lo, hi = self._resolve_ts(from_ts, key), self._resolve_ts(to_ts, key)
        cands = [
            r
            for r in self.rules
            if r.src_key == key
            and r.agg == agg
            and agg in COMPOSABLE
            and dur % r.bucket_ms == 0
            and (r.align_ts or 0) == 0
            # exactness guard 1: the range must cover WHOLE fine buckets —
            # a fine bucket straddling lo/hi has already folded samples
            # the raw plan would exclude (or vice versa)
            and lo % r.bucket_ms == 0
            and (hi >= MAX_TS or (hi + 1) % r.bucket_ms == 0)
            # exactness guard 2b: a retention-bearing DEST would clamp the
            # materialized fine buckets the raw plan still returns
            and self._cfg(r.dest_key).retention_ms == 0
        ]
        # exactness guard 2a: the dest materializes from UNclamped src
        # samples; with src retention set the raw plan clamps and the
        # routed one would not
        if self._cfg(key).retention_ms > 0:
            cands = []
        if not cands:
            # pass the RESOLVED bounds: '$' resolution is a driver-side
            # collect, no reason to run it twice on the fallback path
            return self.range(key, lo, hi, aggregations=[agg], bucket_dur=dur)
        rule = max(cands, key=lambda r: r.bucket_ms)
        # LATEST view: the dest's open bucket must be finalized on the fly,
        # else the coarse bucket containing it would miss the newest samples
        fine = self._series_df(rule.dest_key, latest=True)
        fine = fine.filter(F.col("ts").between(lo, hi))
        return range_from_rollup(fine, agg, rule.bucket_ms, dur).drop("key")

    def asof_join(
        self, left_key: str, right_key: str, tolerance_ms: int | None = None
    ) -> DataFrame:
        """(ts, value, right_ts, right_value) — every sample of left_key
        with right_key's latest sample at-or-before it (operators/asof.py:
        zero-join union-window plan)."""
        from redistimeseries_spark.operators.asof import ts_asof_join

        self.flush()
        shared = F.lit("_")
        left = self._series_df(left_key, False).withColumn("key", shared)
        right = self._series_df(right_key, False).withColumn("key", shared)
        return ts_asof_join(left, right, tolerance_ms=tolerance_ms).drop("key")

    def get(self, key: str, latest: bool = False):
        """TS.GET: a plain series answers from its last sample (`_lasts`,
        no Spark job once cached), a compaction destination from its
        rule; latest=True finalizes a destination's open bucket."""
        if self._cfg(key).src_key is None:
            return self._lasts([key])[key]
        rows = self._series_df(key, latest).orderBy(F.col("ts").desc()).take(1)
        return (rows[0].ts, rows[0].value) if rows else None

    def mget(
        self,
        filters: list[str],
        latest: bool = False,
        selected_labels: list[str] | None = None,
        with_labels_flag: bool = False,
    ) -> DataFrame:
        """TS.MGET: the matched plain series answer from their last samples
        (`_lasts`) as a driver-built frame; latest=True finalizes the open
        bucket for matched series that are compaction destinations
        (src/tsdb.c:1468-1501)."""
        matched = self.label_index.match(filters)
        dests = {r.dest_key for r in self.rules}
        lasts = self._lasts([k for k in matched if k not in dests])
        rows = [(k, *last) for k, last in lasts.items() if last is not None]
        out = self.spark.createDataFrame(
            pa.table(
                {
                    "key": pa.array([r[0] for r in rows], pa.string()),
                    "ts": pa.array([r[1] for r in rows], pa.int64()),
                    "value": pa.array([r[2] for r in rows], pa.float64()),
                }
            )
        )
        # which dests matched the filter: a driver-side set intersection
        hit = dests.intersection(matched)
        if hit:
            # compaction destinations materialize from their rules in ONE
            # pass (closed buckets; latest=True additionally finalizes the
            # open bucket) — one Spark job regardless of how many dests
            # matched, not a driver-side loop of .take(1) jobs per key
            out = out.unionByName(
                self._dest_samples([r for r in self.rules if r.dest_key in hit], latest)
                .groupBy("key")
                .agg(F.max("ts").alias("ts"), F.max_by("value", "ts").alias("value"))
            )
        if with_labels_flag or selected_labels is not None:
            out = with_labels(out, self.label_index, selected_labels)
        return out

    def _dest_samples(self, rules, latest: bool) -> DataFrame:
        """Materialize compaction-destination series.  The plan grows with
        the number of DISTINCT (agg, bucket, align) rule configs, not the
        rule count: each config aggregates the union of its source series
        once, then a broadcast src->dest rename join fans the result out to
        the dest keys.  A fleet of 10k series sharing one COMPACTION_POLICY
        config is one aggregation, not 10k union branches."""
        from collections import defaultdict

        groups = defaultdict(list)
        for r in rules:
            groups[(r.agg, r.bucket_ms, r.align_ts)].append(r)
        out = None
        for (agg, bucket_ms, align), rs in groups.items():
            mapping = arrow_frame(
                self.spark, key=[r.src_key for r in rs], __dest=[r.dest_key for r in rs]
            )
            mat = materialize_rule(
                self.samples.filter(key_in([r.src_key for r in rs])),
                CompactionRule(None, "", agg, bucket_ms, align),
                include_open=latest,
            )
            mat = mat.join(F.broadcast(mapping), "key").select(
                F.col("__dest").alias("key"), "ts", "value"
            )
            out = mat if out is None else out.unionByName(mat)
        if out is None:
            return self.spark.createDataFrame([], "key string, ts long, value double")
        # a dest carrying frozen buckets from a PREVIOUS rule merges them
        # under the new rule's materialization — rule buckets win at their
        # ts, stored-only rows survive (the reference's DP_LAST upsert
        # into a non-empty dest series)
        dirty = [r.dest_key for r in rules if r.dest_key in self._frozen_dests]
        if dirty:
            stored = self.samples.filter(key_in(dirty))
            kept = stored.join(out.select("key", "ts"), ["key", "ts"], "left_anti")
            out = out.unionByName(kept)
        return out

    def _samples_with_dests(self, latest: bool) -> DataFrame:
        """samples + materialized compaction-destination series: the
        reference's multi-series pipeline iterates dest series like any
        other (src/module.c:624-688 plumbs `latest` via RangeArgs), and
        LATEST finalizes each dest's open bucket on the fly
        (src/tsdb.c:1468-1501).  One union branch per distinct rule config
        (see `_dest_samples`), so the plan stays flat for policy-driven
        fleets; pathological catalogs with hundreds of DISTINCT configs
        would still widen the plan — a real deployment materializes dests
        continuously (streaming/ingest.StreamingStore) instead."""
        base = self.samples
        dirty = [r.dest_key for r in self.rules if r.dest_key in self._frozen_dests]
        if dirty:
            # stored rows of re-ruled dests ride in via _dest_samples' merge
            base = base.filter(~key_in(dirty))
        return base.unionByName(self._dest_samples(self.rules, latest))

    def mrange(self, filters: list[str], from_ts="-", to_ts="+",
               latest: bool = False, **kw) -> DataFrame:
        if "bucket_dur" in kw:
            kw["bucket_dur"] = parse_duration_ms(kw["bucket_dur"])
        samples = self._samples_with_dests(latest) if self.rules else self.samples
        # per-series retention clamps apply to every range query
        # (src/tsdb.c:1367-1374); the retentions dim is the series catalog
        rets = {cfg.key: cfg.retention_ms for cfg in self.series.values() if cfg.retention_ms > 0}
        if rets:
            from redistimeseries_spark.write.retention import retention_clamp_per_key

            samples = retention_clamp_per_key(
                samples,
                arrow_frame(self.spark, key=list(rets), retention_ms=list(rets.values())),
            )
        return ts_mrange(
            samples, self.label_index, filters,
            self._resolve_ts(from_ts), self._resolve_ts(to_ts), **kw,
        )

    def mrevrange(self, filters, from_ts="-", to_ts="+", **kw) -> DataFrame:
        return self.mrange(filters, from_ts, to_ts, rev=True, **kw)

    def nrange(self, keys: list[str], from_ts="-", to_ts="+",
               latest: bool = False, **kw) -> DataFrame:
        """TS.NRANGE/NREVRANGE; like mrange, compaction-destination keys
        materialize from their rule so they are addressable like any other
        series, and LATEST finalizes their open bucket (the reference
        plumbs `latest` through RangeArgs for the N-key variants too —
        commands.json TS.NRANGE/TS.NREVRANGE)."""
        samples = self._samples_with_dests(latest) if self.rules else self.samples
        return ts_nrange(
            samples, keys, self._resolve_ts(from_ts), self._resolve_ts(to_ts), **kw
        )

    def topk(
        self,
        bucket_dur,
        n: int,
        agg: str = "avg",
        filters: list[str] | None = None,
        from_ts="-",
        to_ts="+",
        **kw,
    ) -> DataFrame:
        """Per-bucket top-n series by aggregate (beyond-reference;
        operators/multi.ts_topk — PromQL topk/bottomk).  `filters`
        narrows the ranked population with the usual label predicates."""
        from redistimeseries_spark.operators.multi import ts_topk

        samples = self.samples
        if filters:
            samples = samples.filter(key_in(self.label_index.match(filters)))
        return ts_topk(
            samples,
            parse_duration_ms(bucket_dur),
            n,
            agg,
            start=self._resolve_ts(from_ts),
            end=self._resolve_ts(to_ts),
            **kw,
        )

    def corr(self, key_a: str, key_b: str, bucket_dur,
             from_ts="-", to_ts="+", align="0",
             tolerance_ms: int | None = None) -> DataFrame:
        """Per-bucket Pearson correlation between two series
        (beyond-reference; operators/correlate.ts_corr).  Each leg goes
        through `_series_df` like every other keyed method — compaction
        destinations materialize and per-key retention clamps apply.
        '$' is rejected: it means "this key's last ts + 1" and a
        two-series query has no single such key."""
        from redistimeseries_spark.operators.correlate import ts_corr

        if "$" in (from_ts, to_ts):
            raise ValueError(
                "corr spans two series; '$' is ambiguous — pass an"
                " explicit timestamp"
            )
        src = self._series_df(key_a, False).unionByName(
            self._series_df(key_b, False)
        )
        return ts_corr(
            src,
            parse_duration_ms(bucket_dur),
            [(key_a, key_b)],
            start=self._resolve_ts(from_ts),
            end=self._resolve_ts(to_ts),
            align=align,
            tolerance_ms=tolerance_ms,
        ).drop("key_a", "key_b")

    def cusum(self, key: str, k, h, target: float | None = None,
              from_ts="-", to_ts="+") -> DataFrame:
        """Two-sided tabular CUSUM drift detection (beyond-reference;
        operators/correlate.ts_cusum)."""
        from redistimeseries_spark.operators.correlate import ts_cusum

        return ts_cusum(
            self._series_df(key, False),
            float(k),
            float(h),
            target=target,
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
        ).drop("key")

    def _pair_src(self, key_a: str, key_b: str, from_ts, to_ts):
        """Shared two-series prep for corr-family facades ('$' is
        ambiguous across two keys — the engine.corr rule)."""
        if "$" in (from_ts, to_ts):
            raise ValueError(
                "the query spans two series; '$' is ambiguous — pass an"
                " explicit timestamp"
            )
        return self._series_df(key_a, False).unionByName(
            self._series_df(key_b, False)
        )

    def xcorr(self, key_a: str, key_b: str, lags: list[int],
              from_ts="-", to_ts="+") -> DataFrame:
        """Lagged cross-correlation sweep between two series
        (beyond-reference; operators/correlate.ts_xcorr)."""
        from redistimeseries_spark.operators.correlate import ts_xcorr

        return ts_xcorr(
            self._pair_src(key_a, key_b, from_ts, to_ts),
            [(key_a, key_b)],
            lags,
            start=self._resolve_ts(from_ts),
            end=self._resolve_ts(to_ts),
        ).drop("key_a", "key_b")

    def lead_lag(self, key_a: str, key_b: str, lags: list[int],
                 from_ts="-", to_ts="+", min_n: int = 2) -> DataFrame:
        """Strongest lag between two series from the xcorr sweep
        (beyond-reference; operators/correlate.ts_lead_lag)."""
        from redistimeseries_spark.operators.correlate import ts_lead_lag

        return ts_lead_lag(
            self._pair_src(key_a, key_b, from_ts, to_ts),
            [(key_a, key_b)],
            lags,
            start=self._resolve_ts(from_ts),
            end=self._resolve_ts(to_ts),
            min_n=min_n,
        ).drop("key_a", "key_b")

    def acf(self, key: str, bucket_dur, max_lag_n: int = 64,
            from_ts="-", to_ts="+", align="0") -> DataFrame:
        """Autocorrelation sweep on the bucket grid (beyond-reference;
        operators/correlate.ts_acf)."""
        from redistimeseries_spark.operators.correlate import ts_acf

        return ts_acf(
            self._series_df(key, False),
            parse_duration_ms(bucket_dur),
            max_lag_n,
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
            align=align,
        ).drop("key")

    def detect_period(self, key: str, bucket_dur, max_period_n: int = 64,
                      from_ts="-", to_ts="+", align="0", **kw) -> DataFrame:
        """Dominant seasonal period from the ACF sweep's strongest local
        peak (beyond-reference; operators/correlate.ts_detect_period —
        min_strength and min_n pass through; feed the result into
        `decompose` / `holt_winters` as their period)."""
        from redistimeseries_spark.operators.correlate import (
            ts_detect_period,
        )

        return ts_detect_period(
            self._series_df(key, False),
            parse_duration_ms(bucket_dur),
            max_period_n,
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
            align=align,
            **kw,
        ).drop("key")

    def features(self, bucket_dur, filters: list[str] | None = None,
                 from_ts="-", to_ts="+", align="0") -> DataFrame:
        """Fleet feature extraction (beyond-reference;
        operators/features.ts_features): one feature row per matched
        series — volume, moments, linear trend, lag-1 autocorrelation,
        mean-crossing / flat rates, spikiness — on the `bucket_dur`
        grid.  `filters` narrows the fleet with the usual label
        predicates; the cheap triage pass that decides which series
        deserve decompose / holt_winters / anomaly monitoring."""
        from redistimeseries_spark.operators.features import ts_features

        samples = self.samples
        if filters:
            samples = samples.filter(key_in(self.label_index.match(filters)))
        return ts_features(
            samples,
            parse_duration_ms(bucket_dur),
            start=self._resolve_ts(from_ts),
            end=self._resolve_ts(to_ts),
            align=align,
        )

    def holt_winters(self, key: str, step, period_n: int,
                     alpha: float, beta: float, gamma: float,
                     from_ts="-", to_ts="+", horizon_n: int = 0,
                     mode: str = "additive") -> DataFrame:
        """Holt-Winters triple exponential smoothing + forecast on the
        bucket grid (beyond-reference; operators/holtwinters)."""
        from redistimeseries_spark.operators.holtwinters import (
            ts_holt_winters,
        )

        return ts_holt_winters(
            self._series_df(key, False),
            parse_duration_ms(step),
            period_n,
            alpha,
            beta,
            gamma,
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
            horizon_n=horizon_n,
            mode=mode,
        ).drop("key")

    def rolling_quantile(self, key: str, q, window_n: int,
                         from_ts="-", to_ts="+", **kw) -> DataFrame:
        """Rolling q-quantile / moving median (beyond-reference;
        operators/percentiles.ts_rolling_quantile — min_n and chunk_ms
        pass through)."""
        from redistimeseries_spark.operators.percentiles import (
            ts_rolling_quantile,
        )

        return ts_rolling_quantile(
            self._series_df(key, False),
            float(q),
            window_n,
            start=self._resolve_ts(from_ts, key),
            end=self._resolve_ts(to_ts, key),
            **kw,
        ).drop("key")

    def queryindex(self, filters: list[str]) -> list[str]:
        return self.label_index.match(filters)

    def querylabels(self, mode="labels", label=None, filters=None) -> list[str]:
        return self.label_index.query_labels(mode, label, filters)

    def read(self, key: str, cursor="-", min_count: int = 0, max_count: int | None = None):
        """Batch TS.READ: samples with ts >= cursor ascending; returns
        (rows, next_cursor).  Empty (not partial) below min_count — the
        blocking variant is streaming/tail_read.py."""
        from redistimeseries_spark.streaming.ingest import DEFAULT_READ_CAP

        start = 0 if cursor == "-" else self._resolve_ts(cursor, key)
        # always a bounded take — TS.READ is a cursor protocol, so the cap
        # is a page boundary; an uncapped collect on a lagging cursor would
        # materialize the whole suffix on the driver
        rows = (
            self.samples.filter((F.col("key") == key) & (F.col("ts") >= start))
            .orderBy("ts")
            .take(max(min_count, max_count or DEFAULT_READ_CAP))
        )
        if len(rows) < min_count:
            return [], cursor
        return [(r.ts, r.value) for r in rows], (rows[-1].ts + 1 if rows else cursor)

    def info(self, key: str, debug: bool = False) -> dict:
        """TS.INFO [DEBUG] (src/module.c:156-280).  DEBUG adds per-chunk
        stats; our chunk analog is the day partition of the scale layout
        (SURVEY §1.5): one entry per day with sample count and ts bounds —
        the same min/max metadata parquet row-group stats prune on."""
        cfg = self._cfg(key)
        agg = (
            self.samples.filter(F.col("key") == key)
            .groupBy()
            .agg(
                F.count("*").alias("n"),
                F.min("ts").alias("first"),
                F.max("ts").alias("last"),
            )
            .collect()[0]
        )
        chunks = None
        if debug:
            chunks = [
                {
                    "chunk": r.chunk,
                    "samples": r.samples,
                    "first_timestamp": r.first_timestamp,
                    "last_timestamp": r.last_timestamp,
                }
                for r in chunk_stats(self.samples, key).orderBy("chunk").collect()
            ]
        return {
            **({"chunks": chunks} if debug else {}),
            "key": key,
            "total_samples": agg.n,
            "first_timestamp": agg.first,
            "last_timestamp": agg.last,
            "retention_ms": cfg.retention_ms,
            "duplicate_policy": cfg.duplicate_policy or self.default_dup_policy,
            "labels": dict(cfg.labels),
            "source_key": cfg.src_key,
            "rules": [
                (r.dest_key, r.bucket_ms, r.agg) for r in self.rules if r.src_key == key
            ],
        }
