"""Group-map crossover probe for the two-stage TS.MRANGE GROUPBY.

`operators/multi.ts_mrange` maps each aggregated (key, bucket) row to its
GROUPBY group either with a literal — one hashed `key IN (<group's
keys>)` per group, no Spark job — or by broadcasting the driver-built
(key, group) frame, which runs one job.  The literal's plan grows with
the (key, group) pairs and its per-row work with the groups, so it wins
for small maps and loses for large ones; `_LITERAL_GROUPS` and
`_LITERAL_PAIRS` hold the crossover this probe measures.

Shape: N cached series of 60 one-minute samples, all matched by one
label filter, GROUPBY a label with G values, avg per 5-minute bucket
then REDUCE avg (not fusable, so the two-stage path).  Each cell times
build + collect for both arms, alternating, and prints the medians.

Measured on a 4-core host, median of 9, literal / broadcast ms:

    keys | groups      5          10         20         50
    100            308/317    260/299    239/246    232/211
    200            178/197    178/206    226/191    239/183
    500            196/210    184/186    203/188    347/183
    1000           220/209    221/209    246/208    252/205
    2000 (of 7)        -      384/317    505/353        -
    5000 (of 7)        -      629/484    577/440        -

The literal wins up to 10 groups and 500 keys (one pair per key here)
and loses beyond either, so `_LITERAL_GROUPS` = 10, `_LITERAL_PAIRS` = 500.

Usage:
    python scripts/groupby_map_probe.py [N,N,...] [G,G,...] [RUNS]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from redistimeseries_spark import get_spark
from redistimeseries_spark.operators import multi
from redistimeseries_spark.operators.labels import LabelIndex


def main():
    ns = [int(x) for x in (sys.argv[1] if len(sys.argv) > 1 else "100,1000,2000,5000").split(",")]
    gs = [int(x) for x in (sys.argv[2] if len(sys.argv) > 2 else "2,10,20").split(",")]
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 7
    spark = get_spark("groupby_map_probe")
    spark.sparkContext.setLogLevel("ERROR")
    arms = {"literal": (10**9, 10**9), "broadcast": (0, 0)}

    for n in ns:
        keys = [f"k{i:06d}" for i in range(n)]
        samples = (
            spark.range(n * 60)
            .select(
                F.format_string("k%06d", (F.col("id") % n).cast("int")).alias("key"),
                ((F.col("id") / n).cast("long") * 60_000).alias("ts"),
                (F.col("id") % 97).cast("double").alias("value"),
            )
            .sortWithinPartitions("key", "ts")
            .cache()
        )
        samples.count()
        for g in gs:
            index = LabelIndex(
                [(k, "m", "1") for k in keys] + [(k, "g", str(i % g)) for i, k in enumerate(keys)]
            )

            def run():
                t0 = time.perf_counter()
                df = multi.ts_mrange(
                    samples, index, ["m=1"], 0, 3_600_000,
                    aggregations=["avg"], bucket_dur=300_000, groupby="g", reduce="avg",
                )
                t1 = time.perf_counter()
                rows = df.collect()
                return len(rows), t1 - t0, time.perf_counter() - t1

            times = {a: [] for a in arms}
            for i in range(runs + 2):
                for a in (list(arms) if i % 2 == 0 else list(arms)[::-1]):
                    multi._LITERAL_GROUPS, multi._LITERAL_PAIRS = arms[a]
                    nrows, plan_s, exec_s = run()
                    if i >= 2:  # the first two rounds warm the JVM
                        times[a].append((plan_s + exec_s, plan_s))
            cell = {"keys": n, "groups": g, "rows": nrows}
            for a, ts in times.items():
                cell[a + "_ms"] = round(1000 * statistics.median(t for t, _ in ts), 1)
                cell[a + "_plan_ms"] = round(1000 * statistics.median(p for _, p in ts), 1)
            print(json.dumps(cell), flush=True)
        samples.unpersist()


if __name__ == "__main__":
    main()
