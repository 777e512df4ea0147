"""One-key reads: exact row order and the Spark-job budget.

`ts_range` answers rows in (key, ts) order, ts descending under REV.  A
one-key query sorts its answer in one partition after the last exchange
instead of a global sort (no range-partition sampling job, no sort
shuffle); these tests pin both the order, compared row by row, and the
job count of the dashboard's one-key shapes."""

import math

import pytest

from redistimeseries_spark.engine import TimeSeriesEngine
from redistimeseries_spark.operators.range_query import ts_range
from tests.conftest import count_jobs

M = 60_000
B = 10 * M
KEYS = ["h0.cpu", "h1.cpu", "h2.cpu", "o'hara.cpu"]


def _value(i: int, t: int) -> float:
    # every 7th sample NaN; minutes 60-89 missing for every key (a gap of
    # three empty 10-minute buckets)
    return math.nan if (i + t) % 7 == 0 else float((i * 5 + t) % 11)


SERIES = {
    k: [(t * M, _value(i, t)) for t in range(180) if not 60 <= t < 90]
    for i, k in enumerate(KEYS)
}


@pytest.fixture(scope="module")
def samples(spark):
    df = spark.createDataFrame(
        [(k, ts, v) for k, rows in SERIES.items() for ts, v in rows],
        "key string, ts long, value double",
    ).cache()
    df.count()
    yield df
    df.unpersist()


def _avg_buckets(key, start, end):
    """(bucket start, avg of the valid samples) in bucket order; buckets
    without a valid sample do not emit."""
    out = {}
    for ts, v in SERIES[key]:
        if start <= ts <= end and not math.isnan(v):
            out.setdefault(ts - ts % B, []).append(v)
    return [(b, sum(vs) / len(vs)) for b, vs in out.items()]


def _rows(df, *cols):
    return [tuple(r[c] for c in cols) for r in df.collect()]


def _same(got, want):
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:-1] == w[:-1]
        assert g[-1] == pytest.approx(w[-1], nan_ok=True)


def test_single_key_raw_order(samples):
    want = [(ts, v) for ts, v in SERIES["h1.cpu"] if 20 * M <= ts <= 150 * M]
    _same(_rows(ts_range(samples, 20 * M, 150 * M, keys="h1.cpu"), "ts", "value"), want)
    _same(
        _rows(ts_range(samples, 20 * M, 150 * M, keys=["h1.cpu"], rev=True), "ts", "value"),
        want[::-1],
    )
    _same(_rows(ts_range(samples, keys="h1.cpu", count=5), "ts", "value"), SERIES["h1.cpu"][:5])
    _same(
        _rows(ts_range(samples, keys="h1.cpu", rev=True, count=5), "ts", "value"),
        SERIES["h1.cpu"][::-1][:5],
    )


def test_single_key_agg_order(samples):
    want = _avg_buckets("h2.cpu", 5 * M, 170 * M)
    q = dict(keys="h2.cpu", aggregations=["avg"], bucket_dur=B)
    _same(_rows(ts_range(samples, 5 * M, 170 * M, **q), "ts", "avg"), want)
    _same(_rows(ts_range(samples, 5 * M, 170 * M, rev=True, **q), "ts", "avg"), want[::-1])
    _same(_rows(ts_range(samples, 5 * M, 170 * M, count=4, **q), "ts", "avg"), want[:4])
    _same(
        _rows(ts_range(samples, 5 * M, 170 * M, rev=True, count=4, **q), "ts", "avg"),
        want[::-1][:4],
    )


def test_single_key_empty_order(samples):
    # EMPTY fills the gap's three buckets with NaN, in bucket order
    got = _rows(
        ts_range(samples, keys="h0.cpu", aggregations=["avg"], bucket_dur=B, empty=True),
        "ts", "avg",
    )
    filled = dict(_avg_buckets("h0.cpu", 0, 180 * M))
    want = [(b, filled.get(b, math.nan)) for b in range(0, 180 * M, B)]
    _same(got, want)


def test_single_key_twa_order(samples):
    # the one-key answer equals that key's rows of the globally sorted
    # two-key answer, row for row
    q = dict(aggregations=["twa"], bucket_dur=B)
    got = _rows(ts_range(samples, keys="h1.cpu", **q), "key", "ts", "twa")
    both = _rows(ts_range(samples, keys=["h1.cpu", "h2.cpu"], **q), "key", "ts", "twa")
    assert len(got) == 15
    _same(got, [r for r in both if r[0] == "h1.cpu"])


def test_multi_key_order(samples):
    got = _rows(
        ts_range(samples, 0, 40 * M, keys=["h2.cpu", "h0.cpu", "o'hara.cpu"]),
        "key", "ts", "value",
    )
    want = [
        (k, ts, v)
        for k in ("h0.cpu", "h2.cpu", "o'hara.cpu")
        for ts, v in SERIES[k]
        if ts <= 40 * M
    ]
    _same(got, want)


def test_quoted_key(samples):
    want = _avg_buckets("o'hara.cpu", 0, 180 * M)
    _same(
        _rows(ts_range(samples, keys="o'hara.cpu", aggregations=["avg"], bucket_dur=B), "ts", "avg"),
        want,
    )


@pytest.fixture(scope="module")
def engine(spark):
    eng = TimeSeriesEngine(spark, duplicate_policy="last")
    for k in ("e1", "o'e2"):
        eng.create(k)
    eng.create("e1_max")
    eng.create_rule("e1", "e1_max", "max", B)
    eng.madd([(k, ts, v) for k, src in (("e1", "h1.cpu"), ("o'e2", "h2.cpu")) for ts, v in SERIES[src]])
    eng.flush()
    return eng


def test_engine_range_order(engine):
    want = _avg_buckets("h1.cpu", 0, 180 * M)
    _same(_rows(engine.range("e1", 0, 180 * M, aggregations=["avg"], bucket_dur=B), "ts", "avg"), want)
    _same(
        _rows(engine.revrange("e1", 0, 180 * M, aggregations=["avg"], bucket_dur=B), "ts", "avg"),
        want[::-1],
    )
    raw = [(ts, v) for ts, v in SERIES["h2.cpu"] if ts <= 30 * M]
    _same(_rows(engine.range("o'e2", 0, 30 * M), "ts", "value"), raw)
    _same(_rows(engine.revrange("o'e2", 0, 30 * M), "ts", "value"), raw[::-1])
    # a compaction destination answers through its rule, closed buckets
    # only, in bucket order
    valid = {}
    for ts, v in SERIES["h1.cpu"]:
        if not math.isnan(v):
            valid.setdefault(ts - ts % B, []).append(v)
    last_ts = SERIES["h1.cpu"][-1][0]
    want_max = [(b, max(vs)) for b, vs in valid.items() if b != last_ts - last_ts % B]
    _same(_rows(engine.range("e1_max"), "ts", "value"), want_max)


def test_single_key_job_budget(spark, samples, engine):
    """Warm, a one-key read runs at most 2 Spark jobs: the scan stage and
    the one result task (a global sort would add a range-partition
    sampling job and a sort shuffle)."""
    ops = {
        "range_agg": lambda: ts_range(
            samples, 10 * M, 170 * M, keys="h0.cpu", aggregations=["avg"], bucket_dur=M
        ),
        "range_raw": lambda: ts_range(samples, 100 * M, 115 * M, keys="h0.cpu"),
        "engine_range": lambda: engine.range("e1", 0, 180 * M, aggregations=["avg"], bucket_dur=M),
    }
    jobs = {}
    for name, op in ops.items():
        op().collect()  # warm
        got, jobs[name] = count_jobs(spark, lambda: op().collect())
        assert len(got) > 0, name
    assert max(jobs.values()) <= 2, jobs
