"""Spans around the benchmark's calls into the engine, and the Spark
event log attributed to them.

A traced run records one span per call into a layer (name, start, end,
parent, run id) and sets the span's id as the Spark job group while it
is open, so every job, stage and task in the event log names the span
that caused it. Spans stay in memory until the run ends. An untraced
run uses the same code with ``enabled=False``: spans cost one branch
and Spark is never told anything.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_JOB_GROUP = "spark.jobGroup.id"
_EXEC_ID = "spark.sql.execution.id"


class Tracer:
    def __init__(self, sc, enabled: bool, run_id: str):
        self.sc, self.enabled, self.run_id = sc, enabled, run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        """Open a span; ``parent`` defaults to the innermost open span of
        this thread (pass it for work that runs on another thread, such
        as a foreachBatch callback)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = parent or (stack[-1] if stack else None)
        with self._lock:
            rec = {
                "id": f"{self.run_id}.{len(self.spans)}",
                "name": name,
                "parent": parent["id"] if parent else None,
                "run": self.run_id,
                "start": time.time(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
        stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _plan_metric_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_names(child, out)


def attribute(event_log: str, spans: list[dict]) -> dict:
    """Per-span Spark work from a finished event log.

    Returns ``{"untagged_jobs": n, "spans": {span_id: counters}}``. A
    job belongs to the span whose id was its job group; its stages and
    tasks follow it. ``driver_residual_s`` is the span's wall time
    minus the union of the intervals of the jobs of the span and its
    descendants: time the driver spent outside any job."""
    ids = {s["id"] for s in spans}
    z = lambda: {  # noqa: E731
        "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
        "scheduler_delay_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0, "spill_bytes": 0, "files_read": 0,
    }
    per = defaultdict(z)
    job_span: dict[int, str] = {}
    job_iv: dict[int, list[float]] = {}
    stage_span: dict[int, str] = {}
    exec_span: dict[int, str] = {}
    metric_names: dict[int, str] = {}
    untagged = 0
    files: list[tuple[int, int]] = []  # (execution id, files read)
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sid = props.get(_JOB_GROUP)
                if sid not in ids:
                    untagged += 1
                    continue
                jid = ev["Job ID"]
                job_span[jid] = sid
                job_iv[jid] = [ev["Submission Time"] / 1e3, None]
                per[sid]["jobs"] += 1
                for st in ev.get("Stage IDs", []):
                    stage_span.setdefault(st, sid)
                if props.get(_EXEC_ID) is not None:
                    exec_span.setdefault(int(props[_EXEC_ID]), sid)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_iv:
                job_iv[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                sid = stage_span.get(ev["Stage Info"]["Stage ID"])
                if sid is not None:
                    per[sid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                if sid is None:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                c = per[sid]
                c["tasks"] += 1
                run_ms = m.get("Executor Run Time", 0)
                c["task_run_s"] += run_ms / 1e3
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                dur = info["Finish Time"] - info["Launch Time"]
                delay = dur - run_ms - m.get("Executor Deserialize Time", 0) - m.get(
                    "Result Serialization Time", 0
                ) - info.get("Getting Result Time", 0)
                c["scheduler_delay_s"] += max(0, delay) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                wr = m.get("Shuffle Write Metrics") or {}
                c["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metric_names(ev.get("sparkPlanInfo") or {}, metric_names)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc, val in ev.get("accumUpdates", []):
                    if metric_names.get(acc) == "number of files read":
                        files.append((ev["executionId"], val))
    for eid, n in files:
        if eid in exec_span:
            per[exec_span[eid]]["files_read"] += n
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s["id"])
    jobs_of = defaultdict(list)
    for jid, sid in job_span.items():
        a, b = job_iv[jid]
        jobs_of[sid].append((a, b if b is not None else a))

    def subtree_jobs(sid: str) -> list[tuple[float, float]]:
        out = list(jobs_of[sid])
        for c in children[sid]:
            out += subtree_jobs(c)
        return out

    for s in spans:
        c = per[s["id"]]
        if s["end"] is not None:
            c["driver_residual_s"] = (s["end"] - s["start"]) - _union_s(
                subtree_jobs(s["id"])
            )
    return {"untagged_jobs": untagged, "spans": dict(per)}


def find_event_log(log_dir: str) -> str:
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    logs = [p for p in logs if os.path.isfile(p) and not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {logs}")
    return logs[0]
