#!/usr/bin/env python3
"""fleetbench: seeded closed-loop benchmark of the sparkts engine.

    python3 fleetbench/run.py --workload dashboard --seed 1 --seconds 18 --trace 0

Run from the repository root.  Builds the workload's inputs from --seed,
sets up the engine (several times, reporting the median), drives the
workload's ops for --seconds with one client, checks every answer against
an independent oracle, and prints one JSON object as the last line of
stdout: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1.  A diagnostics line (environment, host-noise floors, the
workload-specific latency and throughput figures) precedes it.  Spark's
local, warehouse and temp dirs live under .fleetbench/ in the working
directory and are removed at exit; spans and results are kept in
.fleetbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "redistimeseries_spark")

# workload name -> its class in the module of the same name; BENCHMARK.json
# lists all but corpus_dedup, which is run by hand (README, "Left out")
WORKLOADS = {"dashboard": "Dashboard", "ingest": "Ingest", "corpus_dedup": "CorpusDedup"}
SETUP_REPS = 2
HEAP = "3g"

LAYERS = ("store", "operators", "sql", "engine", "streaming", "write", "pipeline")
DASHBOARD_OPS = (
    ("operators", "range_agg"), ("operators", "range_raw"), ("operators", "mrange_agg"),
    ("operators", "mrange_groupby"), ("operators", "mget"), ("operators", "queryindex"),
    ("sql", "sql_range_agg"), ("engine", "engine_get"), ("engine", "engine_range"), ("engine", "engine_mget"),
)

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "work_per_s": "1/s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit (BENCHMARK.json lists the
    same names; a workload reports 0 for layers and ops it never calls)."""
    units = {}
    for layer in LAYERS:
        units |= {f"{layer}.self_ms": "ms", f"{layer}.jobs": "count",
                  f"{layer}.tasks": "count", f"{layer}.shuffle_bytes": "B"}
    for layer, op in DASHBOARD_OPS:
        units |= {f"{layer}.{op}.plan_ms": "ms", f"{layer}.{op}.exec_ms": "ms",
                  f"{layer}.{op}.jobs": "count", f"{layer}.{op}.rows_in_per_row_out": "ratio"}
    units |= {
        "session.start_s": "s", "store.load_s": "s", "engine.flush_s": "s", "streaming.prefill_s": "s",
        "pipeline.load_s": "s", "streaming.jobs_per_batch": "count", "streaming.tasks_per_batch": "count",
        "streaming.rows_read_per_sample": "ratio", "streaming.bytes_written_per_sample": "B",
        "streaming.log_files": "count", "streaming.compact_ms": "ms", "streaming.latest_read_ms": "ms",
        "streaming.rule_read_ms": "ms", "streaming.samples_read_ms": "ms", "pipeline.dedup.exec_s": "s",
        "pipeline.dedup.shuffle_bytes": "B", "pipeline.dup_recall": "ratio", "pipeline.drop_precision": "ratio",
        "trace.overhead_frac": "ratio", "floor.noop_ms": "ms", "floor.shuffle_ms": "ms",
    }
    return units


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    trace: bool


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> dict:
    """Size the session to this host and keep every Spark and temp file
    under `work`.  Must run before pyspark is imported."""
    cores = len(os.sched_getaffinity(0))
    dirs = {d: os.path.join(work, d) for d in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={dirs['local']} "
        f"--conf spark.sql.warehouse.dir={dirs['warehouse']} "
        "--conf spark.ui.showConsoleProgress=false "
        # no perf-data file: the JVM would write it under /tmp
        f"--driver-java-options '-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData' pyspark-shell"
    )
    return {"cores": cores, "heap": HEAP}


def floors(spark) -> tuple[float, float]:
    """Fixed-work host-noise probes that run none of the engine's code:
    a codegen-bound sum and a shuffle + hash aggregation.  Median of 3,
    in ms."""
    from pyspark.sql import functions as F

    def timed(df):
        out = []
        for _ in range(3):
            t = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            out.append((time.perf_counter() - t) * 1000)
        return statistics.median(out)

    noop = timed(spark.range(10_000_000).selectExpr("sum(id)"))
    shuffle = timed(spark.range(1_000_000).groupBy(F.pmod("id", F.lit(65536)).alias("k")).count())
    return noop, shuffle


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def stop_spark(spark):
    """Stop the session and the JVM the gateway started, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def pct(values, q) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if values else 0.0


def med(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def loop(wl, ctx, seconds: float, traced: bool, seq: int):
    """Closed loop over the workload's mix, cycle after cycle, until
    `seconds` have passed."""
    from core import run_op

    records = []
    t_end = time.perf_counter() + seconds
    cycle = iter(())
    # the deadline is checked before the next op is built: building an
    # ingest batch already adds it to the oracle's model
    while not records or time.perf_counter() < t_end:
        op = next(cycle, None)
        if op is None:
            cycle = iter(wl.next_cycle())
            continue
        records.append(run_op(op, seq, ctx.tracer, traced))
        seq += 1
    return records


def end_to_end(records, setup_s: float) -> dict:
    from core import MAINTENANCE, PRIMARY

    prim = [r for r in records if r.op.kind == PRIMARY]
    walls = [r.wall_s * 1000 for r in prim]
    busy = sum(r.wall_s for r in records if r.op.kind in (PRIMARY, MAINTENANCE))
    return {
        "setup_s": setup_s,
        "op_p50_ms": pct(walls, 50),
        "work_per_s": sum(r.op.work for r in prim) / busy if busy else 0.0,
    }


def op_counters(rec, spans) -> dict:
    from spans import subtree, total

    tree = subtree(spans, rec.root)
    return {k: total(tree, k) for k in ("jobs", "tasks", "input_records", "shuffle_write_bytes", "executor_run_ms")}


def per_layer(wl, ctx, traced, untraced, parts, session_s, floor_pairs) -> dict:
    from core import PRIMARY

    spans = ctx.tracer.spans
    out = dict.fromkeys(per_layer_units(), 0.0)
    n_ops = max(1, len(traced))
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        out[f"{layer}.self_ms"] = sum(s.self_s for s in mine) * 1000 / n_ops
        out[f"{layer}.jobs"] = sum(s.counters.get("jobs", 0) for s in mine) / n_ops
        out[f"{layer}.tasks"] = sum(s.counters.get("tasks", 0) for s in mine) / n_ops
        out[f"{layer}.shuffle_bytes"] = sum(s.counters.get("shuffle_write_bytes", 0) for s in mine) / n_ops

    by_op: dict[str, list] = {}
    for r in traced:
        if r.error is None:
            c = op_counters(r, spans)
            rows = len(r.result) if hasattr(r.result, "__len__") else 1
            by_op.setdefault(r.op.name, []).append((r, c, max(1, rows)))

    def stat(name, fn):
        vals = [fn(r, c, rows) for r, c, rows in by_op.get(name, [])]
        return med(vals)

    for layer, op in DASHBOARD_OPS:
        p = f"{layer}.{op}"
        out[f"{p}.plan_ms"] = stat(op, lambda r, c, n: r.plan_s * 1000)
        out[f"{p}.exec_ms"] = stat(op, lambda r, c, n: r.exec_s * 1000)
        out[f"{p}.jobs"] = stat(op, lambda r, c, n: c["jobs"])
        out[f"{p}.rows_in_per_row_out"] = stat(op, lambda r, c, n: c["input_records"] / n)

    batches = by_op.get("process_batch", [])
    if batches:
        out["streaming.jobs_per_batch"] = med([c["jobs"] for _, c, _ in batches])
        out["streaming.tasks_per_batch"] = med([c["tasks"] for _, c, _ in batches])
        out["streaming.rows_read_per_sample"] = med([c["input_records"] / r.op.work for r, c, _ in batches])
        stats = [s for s in wl.batch_stats if "bytes_after" in s]
        out["streaming.bytes_written_per_sample"] = med(
            [(s["bytes_after"] - s["bytes_before"]) / s["samples"] for s in stats])
        out["streaming.log_files"] = statistics.fmean([s["log_files"] for s in wl.batch_stats])
    for name, metric in (("compact", "streaming.compact_ms"), ("read_mget", "streaming.latest_read_ms"),
                         ("read_rule", "streaming.rule_read_ms"), ("read_raw", "streaming.samples_read_ms")):
        if name in by_op:
            out[metric] = stat(name, lambda r, c, n: r.wall_s * 1000)
    if "dedup" in by_op:
        out["pipeline.dedup.exec_s"] = stat("dedup", lambda r, c, n: r.wall_s)
        out["pipeline.dedup.shuffle_bytes"] = stat("dedup", lambda r, c, n: c["shuffle_write_bytes"])
        if wl.scores is not None:
            out["pipeline.dup_recall"], out["pipeline.drop_precision"] = wl.scores[0], wl.scores[1]

    for k in ("store.load_s", "engine.flush_s", "streaming.prefill_s", "pipeline.load_s"):
        if k in parts:
            out[k] = med(parts[k])
    out["session.start_s"] = session_s

    walls = lambda rs: [r.wall_s for r in rs if r.op.kind == PRIMARY]  # noqa: E731
    if walls(untraced) and walls(traced):
        out["trace.overhead_frac"] = med(walls(traced)) / med(walls(untraced)) - 1
    out["floor.noop_ms"] = med([f[0] for f in floor_pairs])
    out["floor.shuffle_ms"] = med([f[1] for f in floor_pairs])
    return out


def diagnostics(wl, records, e2e, failed, attempted, env) -> dict:
    """The workload-specific figures behind the generic end-to-end
    metrics, named as a user of that workload would ask for them."""
    from core import MAINTENANCE, PRIMARY, READ

    prim = [r.wall_s * 1000 for r in records if r.op.kind == PRIMARY]
    reads = [r.wall_s * 1000 for r in records if r.op.kind == READ]
    by_name: dict[str, list] = {}
    for r in records:
        if r.op.kind == PRIMARY:
            by_name.setdefault(r.op.name, []).append(r.wall_s * 1000)
    d = {"ops": len(prim), "attempted": attempted, "failed_ops_frac": failed / attempted,
         "op_p50_ms_by_name": {k: [med(v), len(v)] for k, v in by_name.items()}}
    if wl.name == "dashboard":
        d |= {"query_p50_ms": e2e["op_p50_ms"], "query_p95_ms": pct(prim, 95)}
    if wl.name == "ingest":
        d |= {"batch_p50_ms": e2e["op_p50_ms"], "ingest_samples_per_s": e2e["work_per_s"],
              "read_p50_ms": pct(reads, 50), "read_p95_ms": pct(reads, 95), "reads": len(reads),
              "compactions": sum(r.op.kind == MAINTENANCE for r in records),
              "store_bytes_per_sample": wl.store_bytes_per_sample()}
    if wl.name == "corpus_dedup":
        d["dedup_docs_per_s"] = e2e["work_per_s"]
    return d | env


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"fleetbench: engine package not found at {PACKAGE}", file=sys.stderr)
        return 2
    base = os.path.join(os.getcwd(), ".fleetbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    env = configure_env(work)
    sys.path.insert(0, ROOT)
    try:
        return run(args, work, out_dir, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, out_dir: str, env: dict) -> int:
    import importlib

    import pyspark

    from core import evaluate, run_op
    from redistimeseries_spark import get_spark
    from spans import Tracer

    t = time.perf_counter()
    spark = get_spark("fleetbench")
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        ctx = Ctx(spark, Tracer(spark), work, args.seed, bool(args.trace))
        wl = getattr(importlib.import_module(args.workload), WORKLOADS[args.workload])(ctx)
        floor_pairs = [floors(spark)]

        setup_times, parts = [], {}
        for rep in range(SETUP_REPS):
            if rep:
                wl.teardown()
            t = time.perf_counter()
            for k, v in wl.setup().items():
                parts.setdefault(k, []).append(v)
            setup_times.append(time.perf_counter() - t)
        setup_s = session_s + med(setup_times)
        digest = wl.digest()

        # untimed ops first: the JVM's first run of each code path (class
        # loading, JIT, Python workers) is not what a client of a
        # long-running session waits for
        warm = [run_op(op, i, ctx.tracer, False) for i, op in enumerate(wl.warmup())]
        # write back what setup left dirty now, not during the timed loop
        os.sync()
        untraced = loop(wl, ctx, args.seconds, False, len(warm))
        traced = loop(wl, ctx, args.seconds, True, len(warm) + len(untraced)) if args.trace else []
        final = [run_op(op, len(warm) + len(untraced) + len(traced) + j, ctx.tracer, False)
                 for j, op in enumerate(getattr(wl, "final_ops", list)())]
        floor_pairs.append(floors(spark))
        records = warm + untraced + traced + final
        t_check = time.perf_counter()
        failed = evaluate(records)
        t_check = time.perf_counter() - t_check
        e2e = end_to_end(untraced, setup_s)
        env = env | {"peak_rss_mb": vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid), "check_s": t_check,
                     "loop_s": sum(r.wall_s for r in untraced),
                     "pyspark": pyspark.__version__, "seed": args.seed, "digest": digest,
                     "setup_reps_s": setup_times, "session_start_s": session_s,
                     "floor_noop_ms": [f[0] for f in floor_pairs],
                     "floor_shuffle_ms": [f[1] for f in floor_pairs]}
        diag = diagnostics(wl, untraced, e2e, failed, len(records), env)
        if args.trace:
            metrics = per_layer(wl, ctx, traced, untraced, parts, session_s, floor_pairs)
            units = per_layer_units()
        else:
            metrics, units = e2e, END_TO_END
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        if args.trace:
            ctx.tracer.dump(os.path.join(out_dir, f"{tag}-spans.jsonl"))
        errors = [{"op": r.op.name, "seq": r.seq, "error": r.error} for r in records if not r.ok]
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump({"workload": args.workload, "diagnostics": diag, "metrics": metrics,
                       "failures": errors[:20]}, f, indent=1, default=float)
        wl.teardown()
    finally:
        stop_spark(spark)
    for e in errors[:5]:
        print(f"fleetbench: failed op {e['op']}#{e['seq']}: {e['error']}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "diagnostics": diag}, default=float))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
