import math
import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

from redistimeseries_spark import get_spark

NAN = float("nan")


@pytest.fixture(scope="session")
def spark():
    # the session width follows SPARK_GRAFT_CPUS like every other entry
    # point (8 when unset); the heap is capped at 6g unless
    # SPARK_GRAFT_DRIVER_MEM says otherwise — get_spark's 48g default lets
    # the JVM grow past what a small shared test host can hold
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    s = get_spark("pytest", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def samples_df(spark):
    def make(rows):
        return spark.createDataFrame(rows, "key string, ts long, value double")

    return make


def feq(a, b, tol=1e-9):
    if a is None or b is None:
        return a is b
    if math.isnan(a) and math.isnan(b):
        return True
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def rows_match(actual, expected, tol=1e-9):
    """Order-insensitive row-set compare with NaN-tolerant floats."""
    def norm(r):
        return tuple(
            round(x, 9) if isinstance(x, float) and not math.isnan(x) else (
                "NaN" if isinstance(x, float) else x
            )
            for x in r
        )

    sa = sorted(map(norm, actual))
    se = sorted(map(norm, expected))
    assert sa == se, f"\nactual:   {sa[:6]}\nexpected: {se[:6]}"
