"""The operation model shared by every workload.

A workload is a closed loop: one client sends an `Op`, waits for its
answer, then sends the next.  An op's `call` is the public engine call
(it returns a DataFrame, or a plain value for calls that answer
directly); `force` turns that into the answer a client would hold.  Both
are timed; the answer is checked against `expect` only after the timed
loop, so checking costs the measured run nothing.
"""

from __future__ import annotations

import traceback
from dataclasses import dataclass
from typing import Any, Callable

import pandas as pd

from oracle import same_frame
from spans import Span, Tracer

PRIMARY = "primary"  # the workload's unit of work: latency and throughput
READ = "read"  # reads sent between the primary ops (ingest)
MAINTENANCE = "maintenance"  # no latency sample, but its wall costs throughput


def spark_frame(spark, pdf: pd.DataFrame):
    """DataFrame from pandas, keeping NaN values NaN (pandas' own Arrow
    conversion turns them into nulls, which the engine treats as values)."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table({c: pa.array(pdf[c].to_numpy()) for c in pdf.columns}))


def collect(df) -> pd.DataFrame:
    rows = df.collect()
    return pd.DataFrame([r.asDict() for r in rows], columns=df.columns)


def to_pandas(df) -> pd.DataFrame:
    return df.toPandas()


def identity(x):
    return x


def frame_check(cols: list[str]) -> Callable[[Any, Any], bool]:
    def check(got, want) -> bool:
        if len(got) == 0 or len(want) == 0:
            return len(got) == len(want)
        return same_frame(got, want, cols)

    return check


@dataclass
class Op:
    layer: str  # the layer whose public call this op makes
    name: str
    call: Callable[[Tracer], Any]
    expect: Callable[[], Any]
    check: Callable[[Any, Any], bool]
    force: Callable[[Any], Any] = collect
    work: int = 1  # units of work done (queries, samples, docs)
    kind: str = PRIMARY
    before: Callable[[], None] | None = None  # untimed bookkeeping around the op
    after: Callable[[], None] | None = None


@dataclass
class Record:
    op: Op
    seq: int
    plan_s: float = 0.0
    exec_s: float = 0.0
    result: Any = None
    error: str | None = None
    root: Span | None = None
    ok: bool | None = None

    @property
    def wall_s(self) -> float:
        return self.plan_s + self.exec_s


def run_op(op: Op, seq: int, tracer: Tracer, traced: bool) -> Record:
    """Run one op, timing the call and the forcing of its result.  An
    exception is recorded as the op's failure, never raised: a closed
    loop keeps going."""
    rec = Record(op, seq)
    if op.before:
        op.before()
    tracer.counters = traced
    tracer.op_id = seq
    plan = force = None
    with tracer.span(op.layer, op.name) as rec.root:
        try:
            with tracer.span(op.layer, "plan") as plan:
                x = op.call(tracer)
            with tracer.span(op.layer, "exec") as force:
                rec.result = op.force(x)
        except Exception:  # noqa: BLE001 - the op's failure is the measurement
            rec.error = traceback.format_exc(limit=3)
    tracer.counters = False
    # span walls stop before the span's counters are read, so tracing
    # does not inflate them
    rec.plan_s = plan.dur if plan else 0.0
    rec.exec_s = force.dur if force else 0.0
    if op.after:
        op.after()
    return rec


def evaluate(records: list[Record]) -> int:
    """Check every record's answer against its oracle; returns the number
    of failed records (an exception, a wrong answer, or a check that
    itself raised)."""
    failed = 0
    for r in records:
        if r.error is None:
            try:
                r.ok = bool(r.op.check(r.result, r.op.expect()))
            except Exception:  # noqa: BLE001 - a check that cannot run is a failed op
                r.error = traceback.format_exc(limit=3)
                r.ok = False
        else:
            r.ok = False
        failed += not r.ok
    return failed
