"""dashboard: the reference's TSBS devops read path over a cached store.

Outputs are tiny, so per-query fixed cost (plan build, job scheduling)
and finding one series among millions of cached rows dominate — the
workload where a point-query or overhead optimisation shows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

import gen
from core import Op, frame_check, identity
from oracle import FleetOracle, isclose

HOSTS = 100  # x 10 metrics = 1,000 series
HOURS = 6  # at 10 s cadence: 2.16M samples
ENGINE_HOSTS = 5  # 50 series loaded into the TimeSeriesEngine facade
M = gen.MIN
H = gen.HOUR

# one cycle of the query mix, interleaved so that any run of consecutive
# queries holds about the cycle's proportions; the seed draws the keys,
# labels and windows, never the mix
MIX = (
    "range_agg", "range_raw", "mget", "range_agg", "mrange_agg", "queryindex", "range_raw",
    "engine_get", "range_agg", "mrange_groupby", "sql_range_agg", "range_raw", "mget",
    "range_agg", "engine_range", "mrange_agg", "queryindex", "range_agg", "mrange_groupby",
    "engine_mget",
)


class Dashboard:
    name = "dashboard"

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 10])
        self.windows = 0  # range windows drawn so far: lengths cycle through 1-6 h

    def setup(self) -> dict:
        from redistimeseries_spark import TSStore
        from redistimeseries_spark.engine import TimeSeriesEngine
        from redistimeseries_spark.sql import register_sql

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        f = self.fleet = gen.fleet(ctx.seed, HOSTS, HOURS)
        path = os.path.join(ctx.work, "dashboard.parquet")
        pq.write_table(f.arrow(), path)
        parts = {}
        with tr.span("store", "from_dataframes") as s:
            samples = spark.read.parquet(path).cache()
            labels = spark.createDataFrame(f.labels).cache()
            self.store = TSStore.from_dataframes(samples, labels)
            samples.count()
            labels.count()
        parts["store.load_s"] = s.dur
        # the ingest-maintained last-sample table MGET is answered from
        self.latest = spark.createDataFrame(f.latest()).cache()
        self.latest.count()
        with tr.span("sql", "register_sql"):
            register_sql(spark, self.store)
        ef = self.engine_fleet = gen.fleet(ctx.seed + 1, ENGINE_HOSTS, 1)
        eng = self.engine = TimeSeriesEngine(spark, duplicate_policy="last")
        for key, grp in ef.labels.groupby("key"):
            eng.create(key, labels=dict(zip(grp.label, grp.value)))
        eng.madd(zip(ef.keys[ef.key_idx].tolist(), ef.ts.tolist(), ef.value.tolist()))
        with tr.span("engine", "flush") as s:
            eng.flush()
        parts["engine.flush_s"] = s.dur
        self.oracle = FleetOracle(f)
        self.esamples = ef.samples_frame()
        self.regions = sorted(f.host_labels.region.unique())
        self.key_draws = iter(())
        return parts

    def teardown(self):
        self.oracle.close()
        self.ctx.spark.catalog.clearCache()

    def digest(self) -> str:
        return gen.digest(self.fleet.digest(), self.engine_fleet.digest())

    # ---- the query mix -------------------------------------------------
    def _key(self) -> str:
        try:
            return next(self.key_draws)
        except StopIteration:
            keys = self.fleet.keys[gen.zipf_ranks(self.rng, len(self.fleet.keys), 256)]
            self.key_draws = iter(keys.tolist())
            return next(self.key_draws)

    def _hours(self) -> int:
        self.windows += 1
        return 1 + self.windows % 6

    def _end(self) -> int:
        """Window end, biased to recent time: a few minutes to an hour back."""
        back = min(int(self.rng.exponential(15 * M)), H) // 10_000 * 10_000
        return self.fleet.end_ts - back

    def warmup(self) -> list[Op]:
        return [self._range_agg()]

    def next_cycle(self) -> list[Op]:
        return [getattr(self, "_" + name)() for name in MIX]

    def _range_agg(self) -> Op:
        from redistimeseries_spark.operators.range_query import ts_range

        k, end = self._key(), self._end()
        start = end - self._hours() * H
        return Op(
            "operators", "range_agg",
            lambda tr: ts_range(self.store.samples, start, end, keys=k, aggregations=["avg"], bucket_dur=M),
            lambda: self.oracle.range_agg(k, start, end, M),
            frame_check(["key", "ts", "avg"]),
        )

    def _range_raw(self) -> Op:
        from redistimeseries_spark.operators.range_query import ts_range

        k, end = self._key(), self._end()
        return Op(
            "operators", "range_raw",
            lambda tr: ts_range(self.store.samples, end - 15 * M, end, keys=k),
            lambda: self.oracle.range_raw(k, end - 15 * M, end),
            frame_check(["key", "ts", "value"]),
        )

    def _mrange_agg(self) -> Op:
        from redistimeseries_spark.operators.multi import ts_mrange

        preds = {"region": self.rng.choice(self.regions), "metric": self.rng.choice(gen.METRICS)}
        end = self._end()
        start = end - 12 * H
        return Op(
            "operators", "mrange_agg",
            lambda tr: ts_mrange(
                self.store.samples, self.store.labels, [f"{k}={v}" for k, v in preds.items()],
                start, end, aggregations=["max"], bucket_dur=H,
            ),
            lambda: self.oracle.mrange_agg(preds, start, end, H, "max"),
            frame_check(["key", "ts", "max"]),
        )

    def _mrange_groupby(self) -> Op:
        from redistimeseries_spark.operators.multi import ts_mrange

        preds = {"metric": self.rng.choice(gen.METRICS)}
        end = self._end()
        start = end - 6 * H
        return Op(
            "operators", "mrange_groupby",
            lambda tr: ts_mrange(
                self.store.samples, self.store.labels, [f"metric={preds['metric']}"],
                start, end, aggregations=["avg"], bucket_dur=15 * M, groupby="service", reduce="avg",
            ),
            lambda: self.oracle.mrange_groupby(preds, start, end, 15 * M, "avg", "service", "avg"),
            frame_check(["key", "ts", "avg"]),
        )

    def _mget(self) -> Op:
        from redistimeseries_spark.operators.multi import ts_mget

        preds = {"metric": self.rng.choice(gen.METRICS)}
        return Op(
            "operators", "mget",
            lambda tr: ts_mget(
                self.store.samples, self.store.labels, [f"metric={preds['metric']}"], latest_table=self.latest
            ),
            lambda: self.oracle.mget(preds),
            frame_check(["key", "ts", "value"]),
        )

    def _queryindex(self) -> Op:
        from redistimeseries_spark.operators.labels import matched_keys

        preds = {"region": self.rng.choice(self.regions), "service": str(self.rng.integers(0, gen.N_SERVICES))}
        return Op(
            "operators", "queryindex",
            lambda tr: matched_keys(self.store.labels, [f"{k}={v}" for k, v in preds.items()]),
            lambda: self.oracle.queryindex(preds),
            frame_check(["key"]),
        )

    def _sql_range_agg(self) -> Op:
        k, end = self._key(), self._end()
        start = end - self._hours() * H
        sql = (
            f"SELECT key, ts_bucket(ts, {M}, 0) AS ts, avg(value) AS avg FROM ts_samples "
            f"WHERE key = '{k}' AND ts BETWEEN {start} AND {end} GROUP BY 1, 2 ORDER BY 2"
        )
        return Op(
            "sql", "sql_range_agg",
            lambda tr: self.ctx.spark.sql(sql),
            lambda: self.oracle.range_agg(k, start, end, M),
            frame_check(["key", "ts", "avg"]),
        )

    # the facade: 50 series loaded by madd + flush at setup
    def _ekey(self) -> str:
        ks = self.engine_fleet.keys
        return str(ks[int(self.rng.integers(0, len(ks)))])

    def _engine_get(self) -> Op:
        k = self._ekey()

        def expect():
            row = self.esamples[self.esamples.key == k].iloc[-1]
            return int(row.ts), float(row.value)

        return Op(
            "engine", "engine_get",
            lambda tr: self.engine.get(k),
            expect,
            lambda got, want: got is not None and got[0] == want[0] and isclose(got[1], want[1]),
            force=identity,
        )

    def _engine_range(self) -> Op:
        k = self._ekey()
        end = self.engine_fleet.end_ts
        start = end - 30 * M

        def expect():
            s = self.esamples[(self.esamples.key == k) & self.esamples.ts.between(start, end)]
            return s.assign(ts=s.ts - s.ts % M).groupby("ts", as_index=False).value.mean().rename(
                columns={"value": "avg"}
            )

        return Op(
            "engine", "engine_range",
            lambda tr: self.engine.range(k, start, end, aggregations=["avg"], bucket_dur=M),
            expect,
            frame_check(["ts", "avg"]),
        )

    def _engine_mget(self) -> Op:
        host = f"host_{int(self.rng.integers(0, ENGINE_HOSTS))}"

        def expect():
            s = self.esamples[self.esamples.key.str.startswith(host + ":")]
            return s.groupby("key").tail(1)

        return Op(
            "engine", "engine_mget",
            lambda tr: self.engine.mget([f"hostname={host}"]),
            expect,
            frame_check(["key", "ts", "value"]),
        )

