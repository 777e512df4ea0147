import itertools
import math
import os
import sys

import pytest

# the checkout this file lives in, so a second checkout tests its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from redistimeseries_spark import get_spark

NAN = float("nan")
_JOB_GROUPS = itertools.count()


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


def count_jobs(spark, fn):
    """(fn(), the number of Spark jobs fn ran), counted through a job group."""
    sc = spark.sparkContext
    group = f"count_jobs_{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def plan_nodes(node):
    """Every node of an executed physical plan, through the adaptive
    plan's final stages."""
    yield node
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        children = [node.executedPlan()]
    elif name.endswith("QueryStageExec"):
        children = [node.plan()]
    else:
        seq = node.children()
        children = [seq.apply(i) for i in range(seq.size())]
    for child in children:
        yield from plan_nodes(child)


def scan_output_rows(df) -> int:
    """The rows the in-memory scans of `df`'s last execution emitted
    (`numOutputRows` of every InMemoryTableScan in the final adaptive
    plan): the rows of the cached batches the scan did not skip.  Call it
    after an action on `df`."""
    plan = df._jdf.queryExecution().executedPlan()
    return sum(
        n.metrics().apply("numOutputRows").value()
        for n in plan_nodes(plan)
        if n.getClass().getSimpleName() == "InMemoryTableScanExec"
    )


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
