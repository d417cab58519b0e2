"""Benchmark runner for r2rml_parser_spark.

    python3 perfbench/run.py --workload docs-kg --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The runner generates the workload's inputs
from the seed (cached under ``.perfbench/inputs``), starts one Spark session
at ``local[<cores>]``, sets the workload up, runs its ops as a closed loop
with one client for at least ``--seconds`` (the op in flight, or on
tpch-incremental the round in flight, completes), stops Spark, checks every op's output
against an oracle independent of Spark, and prints two JSON lines: a detail
record (every metric under the names of the benchmark notes, ``nproc``, the
seed, op counts, failures) and, last, the result record.

With ``--trace 1`` the run is the traced run instead: the Spark event log is
on, calls into each module's public functions are timed as spans, and the
result record carries the per-layer metrics.  Everything the run writes
stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: end-to-end metrics, reported by every workload: name -> unit
END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "triples_per_s": "triples/s",
    "bytes_per_triple": "B",
    "peak_rss_mb": "MB",
}


def layer_unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("bytes") or metric.endswith("bytes_written"):
        return "B"
    if metric.endswith(("_share", "_yield", "_recall")):
        return "ratio"
    return "count"


def _isolate(run_dir: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")


def start_session(run_dir: str, event_log: str | None):
    from r2rml_parser_spark.session import build_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = build_session(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_session(spark) -> None:
    """Stop Spark and the JVM behind it, and wait until the JVM has ended."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _run(args, wl, tracer, run_dir: str, event_log: str | None, cores: int):
    """Set up, run the ops (or the traced run), stop Spark, check outputs."""
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session", "build_session"):
            spark = start_session(run_dir, event_log)
        tracer.bind(spark)
        with tracer.span("setup", type(wl).__name__):
            wl.setup(spark)
        setup_s = time.perf_counter() - t0
        layer: dict = {}
        results: list[dict] = []
        if args.trace:
            results = wl.trace(spark, tracer, layer)
        else:
            deadline = time.perf_counter() + args.seconds
            while (not results or time.perf_counter() < deadline
                   or len(results) % wl.round):
                r = wl.op(spark, len(results))
                if r is None:
                    break
                results.append(r)
        peak_rss_mb = (_vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
                       + _vm_hwm_mb("self"))
    finally:
        if spark is not None:
            stop_session(spark)
    summary = None
    if args.trace:
        tracer.attribute(event_log, cores)
        wl.trace_metrics(tracer, results, layer)
    else:
        summary = wl.check(results)
    return results, layer, summary, setup_s, peak_rss_mb


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "r2rml_parser_spark", "__init__.py")):
        print(f"perfbench: no r2rml_parser_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _isolate(run_dir, cores)
    inputs = gen.generate(args.workload, args.seed, os.path.join(WORK, "inputs"))
    wl = workloads.WORKLOADS[args.workload](inputs, run_dir)
    event_log = os.path.join(run_dir, "events") if args.trace else None
    tracer = Tracer(None)
    try:
        results, layer, summary, setup_s, peak_rss_mb = _run(args, wl, tracer, run_dir,
                                                              event_log, cores)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for r in results if r["fails"])
    if args.trace:
        metrics = {}
        for name, keys in workloads.LAYERS.items():
            totals = workloads.layer_totals(tracer, name)
            for k in keys:
                metrics[f"{name}.{k}"] = {"value": float(totals.get(k, layer.get(f"{name}.{k}", 0))),
                                          "unit": layer_unit(k)}
        detail = {"spans": [{k: s[k] for k in ("layer", "call", "busy_s", "self_s", "jobs",
                                                "stages", "task_cpu_s")}
                            for s in tracer.spans]}
    else:
        values = dict(summary["end_to_end"], setup_s=setup_s, peak_rss_mb=peak_rss_mb)
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
        detail = summary["detail"]
    record = {
        "workload": args.workload, "seed": args.seed, "nproc": cores, "trace": args.trace,
        "seconds": args.seconds, "attempted": len(results), "failed": failed,
        "error_rate": failed / len(results) if results else 0.0,
        "failures": [f"op {i}: {m}" for i, r in enumerate(results) for m in r["fails"]],
        "metrics": metrics, "detail": detail,
    }
    print(json.dumps(record, sort_keys=True, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": len(results), "failed": failed,
                      "metrics": metrics}, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
