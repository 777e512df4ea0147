"""Command-sequence differential fuzz of the engine's mutation surface.

Random interleavings of TS.ADD (with and without ON_DUPLICATE overrides),
TS.MADD, TS.INCRBY/DECRBY, TS.DEL, and flush boundaries, across series
with every duplicate policy x retention x IGNORE config, are replayed
against an independent sequential Python simulator of the reference
semantics (handleDuplicateSample pairwise merges src/generic_chunk.c:62-93,
ON_DUPLICATE per-write override src/module.c, INCRBY last-read + LAST
upsert src/module.c:1469-1564, IGNORE kept-chain src/module.c:986-998,
read-time retention clamp src/tsdb.c:1367-1374).  This is the RLTest-style
whole-command-surface coverage the unit tests approximate piecewise — the
interactions (override folds landing inside IGNORE chains, deletes between
flushes, incrby chains across collisions) are exactly where piecewise
tests can't look.

The simulator is written from the semantics, not from the engine: it
folds pending writes one at a time in arrival order (the engine batches
them into aggregates), so a fold-formulation bug cannot cancel out.
"""

from __future__ import annotations

import math
import random

import pytest

from redistimeseries_spark.engine import TimeSeriesEngine

NAN = float("nan")
POLICIES = ("block", "first", "last", "min", "max", "sum")
N_SEEDS = 3
N_OPS = 55


def _merge(old: float, new: float, policy: str) -> float:
    # handleDuplicateSample, written independently of write/dup_policy
    onan, nnan = math.isnan(old), math.isnan(new)
    if policy == "block":
        return old
    if policy == "first":
        return new if (onan and not nnan) else old
    if policy == "last":
        return old if (nnan and not onan) else new
    if onan or nnan:
        return old
    return {"min": min, "max": max, "sum": lambda a, b: a + b}[policy](old, new)


class Sim:
    """Sequential reference simulator at flush granularity."""

    def __init__(self):
        self.cfg = {}      # key -> (policy, retention, mtd, mvd)
        self.store = {}    # key -> {ts: value}
        self.pending = []  # (key, ts, value, on_dup) in arrival order

    def create(self, key, policy, retention, mtd, mvd):
        self.cfg[key] = (policy, retention, mtd, mvd)
        self.store[key] = {}

    def _judge(self, kept, last, key, ts, v) -> bool:
        # IGNORE (src/module.c:986-1023) judges each write once, on
        # arrival, and only under a LAST series policy: a write newer than
        # the last kept sample is dropped when it lies within both diffs
        # of it; a write at or before it is an upsert and never filtered.
        # Stored samples are never re-judged.  The chain starts from each
        # series' stored last sample.  A write older than the series'
        # last ts - retention is rejected (src/module.c:1006-1012); the
        # last ts moves only on accepted writes.
        policy, retention, mtd, mvd = self.cfg[key]
        if policy == "last" and (mtd > 0 or mvd > 0):
            at, av = kept.get(key, (None, None))
            if at is None or ts > at:
                if at is not None and ts - at <= mtd and abs(v - av) <= mvd:
                    return False  # NaN v: abs(NaN-av)<=mvd is False -> kept
                kept[key] = (ts, v)
        if retention > 0 and key in last and ts < last[key] - retention:
            return False
        last[key] = max(last.get(key, ts), ts)
        return True

    def _anchors(self):
        kept = {k: (max(s), s[max(s)]) for k, s in self.store.items() if s}
        return kept, {k: t for k, (t, _) in kept.items()}

    def add(self, key, ts, value, on_dup=None):
        if ts < 0:
            raise ValueError("negative ts")
        # the retention reject answers the write itself, judged after
        # every write queued before it
        retention = self.cfg[key][1]
        if retention > 0:
            kept, last = self._anchors()
            for k, t, v, _ in self.pending:
                self._judge(kept, last, k, t, v)
            if key in last and ts < last[key] - retention:
                raise ValueError("older than retention")
        self.pending.append((key, ts, float(value), on_dup))

    def flush(self):
        kept, last = self._anchors()
        for key, ts, v, od in self.pending:
            if self._judge(kept, last, key, ts, v):
                s = self.store[key]
                s[ts] = _merge(s[ts], v, od or self.cfg[key][0]) if ts in s else v
        self.pending.clear()

    def last(self, key):
        self.flush()
        s = self.store[key]
        if not s:
            return -1, None
        t = max(s)
        return t, s[t]

    def incrby(self, key, delta, ts=None):
        if math.isnan(delta):
            raise ValueError("NaN delta")
        lt, lv = self.last(key)
        ts = ts if ts is not None else lt + 1
        if ts < lt:
            raise ValueError("ts < last")
        self.add(key, ts, (lv or 0.0) + delta, on_dup="last")

    def delete(self, key, lo, hi):
        self.flush()
        hit = [t for t in self.store[key] if lo <= t <= hi]
        for t in hit:
            del self.store[key][t]
        return len(hit)

    def read(self, key):
        self.flush()
        s = self.store[key]
        retention = self.cfg[key][1]
        if not s or retention <= 0:
            return dict(s)
        horizon = max(s) - retention
        return {t: v for t, v in s.items() if t >= horizon}


def _eq(a: float, b: float) -> bool:
    return (math.isnan(a) and math.isnan(b)) or a == b


def _compare(eng, sim, keys):
    for k in keys:
        got = {r.ts: r.value for r in eng.range(k).collect()}
        exp = sim.read(k)
        assert got.keys() == exp.keys(), (k, sorted(got), sorted(exp))
        bad = {t for t in exp if not _eq(got[t], exp[t])}
        assert not bad, (k, {t: (got[t], exp[t]) for t in bad})
        # TS.GET: the last-sample fast path (and the _last_cache behind
        # incrby) must agree with the folded store
        lt, lv = sim.last(k)
        g = eng.get(k)
        if lv is None:
            assert g is None, (k, g)
        else:
            assert g is not None and g[0] == lt and _eq(g[1], lv), (k, g, lt, lv)


@pytest.mark.parametrize("seed", range(N_SEEDS))
def test_fuzz_command_sequences(spark, seed):
    rng = random.Random(0xC0FFEE + seed)
    eng = TimeSeriesEngine(spark)
    sim = Sim()
    keys = []
    for i in range(3):
        k = f"k{i}"
        policy = rng.choice(POLICIES)
        retention = rng.choice([0, 0, 500, 1000])
        mtd, mvd = rng.choice([(0, 0.0), (0, 0.0), (120, 2.0)])
        eng.create(k, retention=retention, duplicate_policy=policy,
                   ignore_max_time_diff=mtd, ignore_max_val_diff=mvd)
        sim.create(k, policy, retention, mtd, mvd)
        keys.append(k)

    def rand_ts():
        return rng.randrange(0, 2000)

    def rand_val():
        return NAN if rng.random() < 0.1 else float(rng.randrange(-20, 21))

    for step in range(N_OPS):
        k = rng.choice(keys)
        op = rng.random()
        if op < 0.45:
            od = rng.choice(POLICIES) if rng.random() < 0.3 else None
            ts, v = rand_ts(), rand_val()
            err_e = err_s = False
            try:
                eng.add(k, ts, v, on_duplicate=od)
            except ValueError:
                err_e = True
            try:
                sim.add(k, ts, v, od)
            except ValueError:
                err_s = True
            assert err_e == err_s, (step, k, ts)
        elif op < 0.60:
            triples = [(rng.choice(keys), rand_ts(), rand_val())
                       for _ in range(3)]
            replies = eng.madd(triples)
            for (kk, t, v), reply in zip(triples, replies):
                try:
                    sim.add(kk, t, v)
                    assert reply == t, (step, kk, t, reply)
                except ValueError:
                    assert isinstance(reply, ValueError), (step, kk, t, reply)
        elif op < 0.78:
            delta = float(rng.randrange(-5, 6))
            explicit = rng.random() < 0.5
            ts = None
            if explicit:
                lt, _ = sim.last(k)
                # sometimes below last -> both sides must reject
                ts = max(lt + rng.randrange(-30, 60), 0)
            err_e = err_s = False
            try:
                eng.incrby(k, delta, ts=ts)
            except ValueError:
                err_e = True
            try:
                sim.incrby(k, delta, ts=ts)
            except ValueError:
                err_s = True
            assert err_e == err_s, (step, k, ts, delta)
        elif op < 0.86:
            lo = rng.randrange(0, 2000)
            hi = lo + rng.randrange(0, 600)
            assert eng.delete(k, lo, hi) == sim.delete(k, lo, hi)
        elif op < 0.95:
            eng.flush()
            sim.flush()
        else:
            _compare(eng, sim, [k])
    _compare(eng, sim, keys)
