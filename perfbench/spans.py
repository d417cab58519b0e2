"""Spans around calls into the program, and their Spark cost from the event log.

A span records wall time around one call into a module's public function,
from the benchmark's own code only.  Each span runs under its own Spark job
group, so the event log ties every job, stage and task to it.  Spans stay in
memory; ``attribute`` reads the event log once, after the session stopped.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def bind(self, spark) -> None:
        """Attach the session once it has started; the span around its
        start runs before one exists."""
        self.spark = spark

    @contextmanager
    def span(self, layer: str, call: str):
        rec = {
            "id": len(self.spans), "layer": layer, "call": call,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["t0"], rec["wall0"] = time.perf_counter(), time.time()
        try:
            yield rec
        finally:
            rec["t1"], rec["wall1"] = time.perf_counter(), time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, rec: dict | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", f"{rec['layer']}:{rec['call']}")

    def attribute(self, event_log_dir: str, cores: int) -> None:
        """Fill jobs, stages, task CPU, shuffle write and spill into every
        span (inclusive of its child spans), plus self time."""
        jobs, executions = _event_log_costs(event_log_dir)
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s.update(busy_s=s["t1"] - s["t0"], jobs=0, stages=0, task_cpu_s=0.0,
                     task_run_s=0.0, shuffle_write_bytes=0, spill_bytes=0, files_read=0)
        for rec in jobs + executions:
            owner = _owner(rec, self.spans)
            while owner is not None:
                s = by_id[owner]
                for k, v in rec.items():
                    if k not in ("group", "submitted"):
                        s[k] += v
                owner = s["parent"]
        for s in self.spans:
            kids = [k for k in self.spans if k["parent"] == s["id"]]
            s["self_s"] = s["busy_s"] - _covered(kids)
            s["idle_core_share"] = max(0.0, 1.0 - s["task_run_s"] / (s["busy_s"] * cores))


def _owner(job: dict, spans: list[dict]) -> int | None:
    """The span a job belongs to: its job group, or else (jobs started
    from threads the program spawns carry no group) the innermost span
    open when the job was submitted."""
    g = job["group"]
    if g and g.startswith(GROUP_PREFIX):
        return int(g[len(GROUP_PREFIX):])
    t = job["submitted"]
    best = None
    for s in spans:
        if s["wall0"] <= t <= s["wall1"] and (
                best is None or s["wall0"] >= best["wall0"]):
            best = s
    return None if best is None else best["id"]


def _covered(kids: list[dict]) -> float:
    total, end = 0.0, None
    for k in sorted(kids, key=lambda k: k["t0"]):
        lo = k["t0"] if end is None else max(k["t0"], end)
        if k["t1"] > lo:
            total += k["t1"] - lo
        end = k["t1"] if end is None else max(end, k["t1"])
    return total


def _event_log_costs(event_log_dir: str) -> tuple[list[dict], list[dict]]:
    """Per Spark job: stages run, task CPU and run time, shuffle bytes
    written, bytes spilled to disk; per SQL execution: files its scans
    read (a driver-side metric)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    executions: dict[int, dict] = {}
    files_metric: dict[int, int] = {}  # accumulator id -> execution id
    for path in sorted(glob.glob(f"{event_log_dir}/**/*", recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submitted": ev.get("Submission Time", 0) / 1000.0,
                        "jobs": 1, "stages": 0, "task_cpu_s": 0.0, "task_run_s": 0.0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                    if job is not None:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    job["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                    job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    eid = int(ev["executionId"])
                    executions[eid] = {"group": ev.get("jobGroupId"),
                                       "submitted": int(ev.get("time", 0)) / 1000.0,
                                       "files_read": 0}
                    todo = [ev.get("sparkPlanInfo") or {}]
                    while todo:
                        node = todo.pop()
                        todo.extend(node.get("children", []))
                        for metric in node.get("metrics", []):
                            if metric.get("name") == "number of files read":
                                files_metric[metric["accumulatorId"]] = eid
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, value in ev.get("accumUpdates", []):
                        eid = files_metric.get(acc)
                        if eid in executions:
                            executions[eid]["files_read"] += value
    return list(jobs.values()), list(executions.values())
