"""TS.NRANGE against a pivot of per-key TS.RANGE.

`ts_nrange` runs `bucket_aggregate` once over the union of every key's
aggregators and then applies each key's own emission rule; `ts_range`
runs the same stage per key.  The two must agree cell for cell on random
per-key specs, including the cases the DuckDB fuzzer does not draw: twa
(alone and beside a count class), EMPTY, count_nan/count_all widening
next to a narrow key, LOCF `last`, COUNT and REV.
"""

from __future__ import annotations

import math
import random
from functools import reduce

import pytest

from redistimeseries_spark import MAX_TS, MIN_TS
from redistimeseries_spark.functions.aggs import sanitize
from redistimeseries_spark.operators.nrange import ts_nrange
from redistimeseries_spark.operators.range_query import ts_range

NAN = float("nan")
AGGS = [
    "min", "avg", "sum", "count", "count_nan", "count_all", "first", "last",
    "std.s", "twa", "p50",
]
KEYS = ["a", "b", "c"]
N_RANDOM = 6


@pytest.fixture(scope="module")
def nr_samples(spark):
    rng = random.Random(0x5EED)
    rows = []
    for k in KEYS:
        for t in rng.sample(range(0, 40_000), rng.randint(20, 35)):
            if not 20_000 <= t < 21_000:
                v = NAN if rng.random() < 0.2 else float(rng.randint(-50, 50))
                rows.append((k, t, v))
        # a NaN-only 1 s bucket inside every key's span (widened rules
        # emit it, narrow ones do not) and a sample past a gap (EMPTY
        # fills the gap)
        rows += [(k, 20_001, NAN), (k, 20_002, NAN), (k, 55_000, 1.0)]
    sdf = spark.createDataFrame(rows, "key string, ts long, value double")
    sdf = sdf.cache()
    sdf.count()
    yield sdf
    sdf.unpersist()


PINNED = [
    # twa next to a count class: twa alone on a narrow key, twa on a
    # widened one
    {"aggs": {"a": ["twa"], "b": ["twa", "count_nan"], "c": ["avg", "last"]}},
    # EMPTY with twa and every count class
    {"aggs": {"a": ["twa", "min"], "b": ["count_all", "last"], "c": ["count_nan"]},
     "empty": True},
    # LOCF last on a widened key beside a narrow last; COUNT + REV
    {"aggs": {"a": ["last", "count_nan"], "b": ["last"], "c": ["sum", "count_all"]},
     "count": 3, "rev": True},
    # twa only, every key (the twa-only path of the stage) under EMPTY
    {"aggs": {"a": ["twa"], "b": ["twa"]}, "empty": True, "count": 4},
]


def _random_spec(rng: random.Random) -> dict:
    keys = rng.sample(KEYS, rng.randint(2, 3))
    return {
        "aggs": {k: rng.sample(AGGS, rng.randint(1, 3)) for k in keys},
        "empty": rng.random() < 0.4,
        "rev": rng.random() < 0.4,
        "count": rng.choice([None, None, 2, 5]),
    }


def _full(spec: dict, rng: random.Random) -> dict:
    spec = {"empty": False, "rev": False, "count": None, **spec}
    spec.setdefault("dur", rng.choice([1000, 2500, 7000]))
    spec.setdefault("align", rng.choice(["0", "start", "333"]))
    spec.setdefault("bucket_ts", rng.choice(["-", "~", "+"]))
    if rng.random() < 0.5:
        spec["start"], spec["end"] = 3_000, 50_000
    else:
        spec["start"], spec["end"] = MIN_TS, MAX_TS
    return spec


def _same(x, y) -> bool:
    x = NAN if x is None else x
    y = NAN if y is None else y
    if math.isnan(x) or math.isnan(y):
        return math.isnan(x) and math.isnan(y)
    return abs(x - y) <= 1e-9 * max(1.0, abs(x), abs(y))


def _per_key(sdf, spec) -> dict:
    """{(ts, '<key>_<agg>'): value} from one ts_range per key."""
    parts = []
    for k, aggs in spec["aggs"].items():
        r = ts_range(
            sdf, spec["start"], spec["end"], keys=k, aggregations=aggs,
            bucket_dur=spec["dur"], align=spec["align"],
            bucket_ts=spec["bucket_ts"], empty=spec["empty"],
            rev=spec["rev"], count=spec["count"],
        )
        stack = ", ".join(f"'{k}_{sanitize(a)}', `{sanitize(a)}`" for a in aggs)
        parts.append(r.selectExpr("ts", f"stack({len(aggs)}, {stack}) AS (c, v)"))
    long = reduce(lambda x, y: x.unionByName(y), parts)
    return {(r.ts, r.c): r.v for r in long.collect()}


def test_nrange_equals_per_key_range(nr_samples):
    rng = random.Random(0xA11)
    specs = PINNED + [_random_spec(rng) for _ in range(N_RANDOM)]
    failures = []
    for i, raw in enumerate(specs):
        spec = _full(raw, rng)
        keys = list(spec["aggs"])
        got = ts_nrange(
            nr_samples, keys, spec["start"], spec["end"],
            agg_specs=spec["aggs"], bucket_dur=spec["dur"], rev=spec["rev"],
            align=spec["align"], bucket_ts=spec["bucket_ts"],
            empty=spec["empty"], count=spec["count"],
        ).collect()
        exp = _per_key(nr_samples, spec)
        cols = [f"{k}_{sanitize(a)}" for k in keys for a in spec["aggs"][k]]
        ts_exp = sorted({t for t, _ in exp}, reverse=spec["rev"])
        if [r.ts for r in got] != ts_exp:
            failures.append((i, spec, "ts", [r.ts for r in got], ts_exp))
            continue
        bad = [
            (r.ts, c, r[c], exp.get((r.ts, c)))
            for r in got
            for c in cols
            if not _same(r[c], exp.get((r.ts, c)))
        ]
        if bad:
            failures.append((i, spec, bad[:4]))
    assert not failures, failures[:2]
