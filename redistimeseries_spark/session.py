"""SparkSession factory tuned for the engine.

Local mode is the test harness; the configs that matter at cluster scale
(AQE, adaptive coalesce/skew-join, Arrow) are on by default so the same
plans hold on a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "sparkts", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # shuffle width defaults to the core count (right for the sf0.01-0.1
    # test fixtures) but must scale with DATA at probe scale: 1B rows
    # through 32 partitions is ~31M rows per sort/window partition, which
    # OOMs a 48g heap in WindowExec before spill kicks in (round-11
    # b32_cusum finding).  AQE coalesces small partitions back down, so a
    # generous width costs nothing at small SF — a cluster deployment
    # would set this to ~2-3x total cores like any Spark job.
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # JVM<->python-worker transport over a unix domain socket
        # instead of loopback TCP.  Diagnosed at the 1B probes: a
        # loopback TCP connection between an Arrow python runner and
        # its worker wedged into zero-window persist mode (receive
        # window stuck at 2 KB, rwnd_limited 99.8%, data trickling
        # only on ~200 ms persist probes) and a 294-task stage sat on
        # its last task for an hour at zero CPU.  UDS has no window /
        # congestion machinery to wedge; on a multi-host cluster this
        # setting is identical (workers are always host-local).
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
