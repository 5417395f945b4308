"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_upsert --seed 1 --seconds 12 --trace 0

Runs one workload from the root of a source checkout: starts the engine
on ``local[nproc]``, sets the workload up, then runs a closed loop with
one client. The loop runs a fixed number of ops, ``--seconds`` divided
by the workload's nominal op time, so every run (and both sides of an
A/B comparison) does the same work.
Every op's output is checked against an independent model. The last
line of standard output is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before it
is a fuller report (every metric with its unit, the tail percentile
used and its sample count, set-up phases, environment).

All files go under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"
MAX_LOOP_S = 100  # no new op starts after this, so a slow machine still ends within 180 s

# name -> unit. END_TO_END and per_layer_units() are exactly the metric
# sets the final line carries with --trace 0 and --trace 1; REPORT_ONLY
# figures appear on the report line only.
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}
REPORT_ONLY = {
    "rows_per_s": "rows/s",
    "ops_per_s": "1/s",
    "op_tail_ms": "ms",
    "wall_s": "s",
    "failed_ratio": "ratio",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "dup_recall": "ratio",
    "ann_recall_at_10": "ratio",
}
_GENERIC = {
    "calls": "count",
    "busy_s": "s",
    "self_s": "s",
    "executor_run_ms": "ms",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "tasks": "count",
    "idle_core_s": "s",
}
_SPECIFIC = {
    "session.start_s": "s",
    "excel.workbooks": "count",
    "excel.rows_parsed": "count",
    "csv_pipe.write_s": "s",
    "csv_pipe.read_s": "s",
    "csv_pipe.bytes_written": "bytes",
    "expectations.check_s": "s",
    "snapshot.merge_s": "s",
    "snapshot.rewrite_ratio": "ratio",
    "snapshot.vacuum_s": "s",
    "snapshot.bytes_written": "bytes",
    "snapshot.files_written": "count",
    "snapshot.versions_live": "count",
    "snapshot.read_s": "s",
    "snapshot.files_per_version": "count",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "clean_corpus.s": "s",
    "clean_corpus.rows_out": "count",
    "run_sql.analyze_s": "s",
    "run_sql.exec_s": "s",
    "run_sql.rows_examined_per_result": "ratio",
    "dedup.minhash_s": "s",
    "dedup.candidates": "count",
    "dedup.candidate_precision": "ratio",
    "dup_recall": "ratio",
    "clustering.cc_s": "s",
    "clustering.components": "count",
    "ivf.search_s": "s",
    "ivf.recall_at_10": "ratio",
    "ivf.build_s": "s",
    "op.self_s": "s",
    "trace.traced_op_ms": "ms",
    "trace.untraced_op_ms": "ms",
    "trace.overhead_ratio": "ratio",
    "trace.collect_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.trace import LAYERS

    out = {f"{layer}.{k}": u for layer in LAYERS for k, u in _GENERIC.items()}
    out.update(_SPECIFIC)
    return out


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tail(samples: list[float]) -> tuple[int, float]:
    """Highest whole percentile with at least ten samples beyond it
    (nearest rank); with ten samples or fewer, the maximum (p100)."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return 100, xs[-1]
    p = (100 * (n - 10)) // n
    return p, xs[max(math.ceil(p * n / 100) - 1, 0)]


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def child_pids(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return out


def pin_environment(run_dir: str) -> dict[str, str]:
    """Engine environment for this run: parallelism from nproc, every
    scratch path inside the checkout. Must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    }
    os.environ.update(env)
    return env


def stop_engine(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for both and for
    every process the JVM started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm_pid = gw.proc.pid
    kids = child_pids(jvm_pid)
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
        gw.proc.kill()
        gw.proc.wait(timeout=10)
    deadline = time.time() + 10
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full", help="input sizes (smoke: tiny)")
    ap.add_argument("--corrupt", type=int, default=None, help="alter the output of this op (tests the checks)")
    args = ap.parse_args(argv)

    if importlib.util.find_spec("azure_data_engineering_spark") is None:
        print("perfbench: engine package azure_data_engineering_spark not found in the checkout", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = pin_environment(run_dir)

    t0 = time.perf_counter()
    from azure_data_engineering_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        result, report = run(spark, args, run_dir, session_s)
    finally:
        stop_engine(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    report["env"] = {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
        "SPARK_LOCAL_DIRS": os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT),
    }
    print("perfbench report " + json.dumps(report, sort_keys=True))
    print(json.dumps(result))
    return 0


@dataclass
class Ctx:
    """What a workload gets from the runner."""

    spark: object
    tracer: object
    work: str
    seed: int
    duck: object
    corrupt: int | None


def run(spark, args, run_dir: str, session_s: float) -> tuple[dict, dict]:
    """Set up, run the timed loop, and build the result and report."""
    from perfbench import oracle
    from perfbench.trace import Tracer
    from perfbench.workloads import SIZES, WORKLOADS

    cores = nproc()
    tracer = Tracer(spark, cores)
    duck_tmp = os.path.join(run_dir, "duckdb")
    os.makedirs(duck_tmp)
    duck = oracle.duck(cores, duck_tmp)
    try:
        ctx = Ctx(spark, tracer, os.path.join(run_dir, "data"), args.seed, duck, args.corrupt)
        wl = WORKLOADS[args.workload](ctx, SIZES[args.scale][args.workload])
        tracer.active, tracer.op_id = bool(args.trace), "setup"
        phases = wl.setup()
        tracer.active = False
        tracer.collect()
        ops = max(1, math.ceil(args.seconds / wl.nominal_op_s))
        lat, by_trace, failed, raised, rows = _loop(wl, tracer, args, ops)
        failed |= wl.finish()
        report_extra = wl.report()
        layer_extra = wl.layer_report() if args.trace else {}
    finally:
        duck.close()

    from pyspark import SparkContext

    rss_kb = vm_hwm_kb(os.getpid()) + vm_hwm_kb(SparkContext._gateway.proc.pid)
    busy = sum(lat)
    attempted = len(lat)
    pct, tail_s = tail(lat)
    e2e = {
        "setup_s": session_s + phases["warmup_s"] + phases["build_s"],
        "op_p50_ms": statistics.median(lat) * 1000,
        "op_tail_ms": tail_s * 1000,
        "ops_per_s": (attempted - raised) / busy,
        "rows_per_s": rows / busy,
        "peak_rss_mb": rss_kb / 1024,
        "wall_s": busy,
        "failed_ratio": len(failed) / attempted,
        **report_extra,
    }
    units = {**END_TO_END, **REPORT_ONLY}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "load": "closed loop, 1 client",
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in e2e.items()},
        "op_tail_percentile": pct,
        "op_count": attempted,
        "op_ms": [round(x * 1000, 1) for x in lat],
        "failed_ops": sorted(failed),
        "setup_phases_s": {"session_start_s": session_s, **phases},
    }
    if args.trace:
        layer = {**tracer.layer_metrics(), **layer_extra, "session.start_s": session_s}
        layer.update({k: e2e[k] for k in ("write_amp", "space_amp", "dup_recall") if k in e2e})
        traced_ms = statistics.median(by_trace[True]) * 1000 if by_trace[True] else 0.0
        untraced_ms = statistics.median(by_trace[False]) * 1000 if by_trace[False] else 0.0
        layer["trace.traced_op_ms"] = traced_ms
        layer["trace.untraced_op_ms"] = untraced_ms
        layer["trace.overhead_ratio"] = traced_ms / untraced_ms if untraced_ms else 0.0
        layer["trace.collect_s"] = tracer.collect_s
        trace_path = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.dump(trace_path)
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": not failed, "attempted": attempted, "failed": len(failed), "metrics": metrics}
    return result, report


def _loop(wl, tracer, args, ops: int):
    """The timed pass: ``ops`` ops, each generated before and checked
    after its timer. With tracing, every other op is traced, so the
    traced and untraced medians give the tracing overhead."""
    lat: list[float] = []
    by_trace: dict[bool, list[float]] = {True: [], False: []}
    failed: set[int] = set()
    raised = rows = 0
    loop_t0 = time.perf_counter()
    for i in range(ops):
        if time.perf_counter() - loop_t0 > MAX_LOOP_S:
            break
        wl.prepare(i)
        traced = bool(args.trace) and i % 2 == 0
        tracer.active, tracer.op_id = traced, i
        t0 = time.perf_counter()
        try:
            with tracer.span("op", args.workload):
                n = wl.op(i)
        except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            n = None
        dt = time.perf_counter() - t0
        tracer.active = False
        lat.append(dt)
        by_trace[traced].append(dt)
        if n is None:
            raised += 1
            failed.add(i)
        else:
            rows += n
            try:
                if not wl.check(i):
                    failed.add(i)
            except Exception:  # noqa: BLE001
                traceback.print_exc(file=sys.stderr)
                failed.add(i)
        tracer.collect()
    return lat, by_trace, failed, raised, rows


if __name__ == "__main__":
    # the checkout root, not this directory, so perfbench/trace.py cannot
    # shadow the standard library's trace module
    sys.path[0] = ROOT
    sys.exit(main())
