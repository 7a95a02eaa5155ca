"""Spans recorded around the benchmark's calls into each layer, and a stdlib
``json`` digest of a Spark event log that attributes jobs and tasks to them.

Spans live in memory (name, start, end, parent, workload, pass) and are
written out once, when the traced run ends. Each Spark job is attributed to
the innermost span whose interval contains the job's submission time; its
tasks follow through the job's stage ids.

Attribution limit: the engine submits some jobs from its own threads (the
drift bin-edge prefetch started by ``validate_pending`` and the deferred
bookkeeping counts that ``finalize`` joins). Such a job lands in whichever
span is open when it is *submitted*, so part of ``finalize``'s overlapped
work can be charged to ``validate_pending``, and a job submitted after its
caller's span closed is charged to the next open span.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_no = -1

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "pass": self.pass_no,
            "start_ms": time.time() * 1000.0,
            "end_ms": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_ms"] = time.time() * 1000.0

    def wrap_method(self, obj, method: str, span_name: str) -> None:
        """Shadow ``obj.method`` with a timed wrapper on this instance only,
        so calls the object makes to its own public method are spanned too."""
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(span_name):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _event_log_files(log_dir: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(log_dir):
        out.extend(os.path.join(dirpath, f) for f in files if not f.startswith("."))
    return sorted(out)


def read_event_log(log_dir: str) -> tuple[dict, list[dict]]:
    """(jobs by id, finished tasks) from every event log file in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in _event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submit_ms": ev["Submission Time"]}
                    for sid in ev.get("Stage IDs", []):
                        # a reused stage runs its tasks in the first job
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "failed": bool(info.get("Failed")),
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    })
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return jobs, tasks


def attribute(spans: list[dict], jobs: dict) -> dict[int, int | None]:
    """Job id -> innermost span id whose interval holds its submission."""
    out: dict[int, int | None] = {}
    for jid, job in jobs.items():
        best = None
        for s in spans:
            if s["end_ms"] is None:
                continue
            if s["start_ms"] <= job["submit_ms"] <= s["end_ms"]:
                if best is None or s["start_ms"] >= best["start_ms"]:
                    best = s
        out[jid] = best["id"] if best else None
    return out


def _descendants(spans: list[dict]) -> dict[int, set[int]]:
    """Span id -> its own id plus every nested span's id."""
    out = {s["id"]: {s["id"]} for s in spans}
    for s in spans:
        p = s["parent"]
        while p is not None:
            out[p].add(s["id"])
            p = spans[p]["parent"]
    return out


class Digest:
    """Per-span rollups of the jobs and tasks attributed to a span and to
    every span nested in it."""

    def __init__(self, spans: list[dict], log_dir: str, cores: int):
        self.cores = cores
        self.jobs, self.tasks = read_event_log(log_dir)
        owner = attribute(spans, self.jobs)
        self.tree = _descendants(spans)
        self._jobs_of: dict[int, list[int]] = {}
        for jid, sid in owner.items():
            if sid is not None:
                self._jobs_of.setdefault(sid, []).append(jid)
        self._tasks_of_job: dict[int, list[dict]] = {}
        for t in self.tasks:
            self._tasks_of_job.setdefault(t["job"], []).append(t)

    def rollup(self, span: dict) -> dict:
        jids = [j for sid in self.tree[span["id"]] for j in self._jobs_of.get(sid, [])]
        tasks = [t for j in jids for t in self._tasks_of_job.get(j, [])]
        secs = max((span["end_ms"] - span["start_ms"]) / 1000.0, 1e-9)
        run_s = sum(t["run_ms"] for t in tasks) / 1000.0
        return {
            "jobs": len(jids),
            "tasks": len(tasks),
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "busy_frac": run_s / (secs * self.cores),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "task_skew": _task_skew(tasks),
        }

    def failed_tasks(self) -> int:
        return sum(1 for t in self.tasks if t["failed"])

    def unattributed_jobs(self) -> int:
        owned = {j for js in self._jobs_of.values() for j in js}
        return len(set(self.jobs) - owned)


def _task_skew(tasks: list[dict]) -> float:
    """Worst per-stage max/median task run time (stages with >= 4 tasks)."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    worst = 1.0
    for times in by_stage.values():
        if len(times) < 4:
            continue
        med = statistics.median(times)
        if med > 0:
            worst = max(worst, max(times) / med)
    return worst
