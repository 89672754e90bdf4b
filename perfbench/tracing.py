"""Spans recorded by the benchmark around each public call and sink.

A span holds its name, start, end, parent span and iteration id, and is
kept in memory until the run writes them all out. When labelling is
on (the traced run), entering a span sets the Spark job group to
``<name>#<span id>`` and the job description to the name, so every
job the call starts, MLlib's internal ones included, can be attributed
to it from the event log.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.iteration: int | None = None
        self.labelled = False
        self._sc = None
        self._stack: list[int] = []

    def label_jobs(self, sc, on: bool) -> None:
        self._sc = sc
        self.labelled = on

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            name = self.spans[sid]["name"]
            self._sc.setJobGroup(f"{name}#{sid}", name)

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "iteration": self.iteration,
            "labelled": self.labelled,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        labelled = self.labelled
        if labelled:
            self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if labelled:
                self._set_group(parent)

    def of_iteration(self, it: int) -> list[dict]:
        return [s for s in self.spans if s["iteration"] == it]


# Plan nodes that run user code in a Python worker.
_PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "PythonRDD", "PythonUDTF",
)


def read_event_log(path: str) -> dict:
    """Jobs, stages and tasks of one Spark event log, keyed for roll-up
    by the job group each job ran under."""
    import json

    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    python_stage: dict[int, bool] = {}
    tasks: list[dict] = []
    with open(path) as f:
        events = [json.loads(line) for line in f]
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "callsite": props.get("callSite.short", ""),
                "stage_names": [s.get("Stage Name", "") for s in ev.get("Stage Infos", [])],
                "submit_ms": ev["Submission Time"],
                "end_ms": None,
            }
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            scopes = " ".join(
                (r.get("Scope") or "") + " " + (r.get("Name") or "")
                for r in info.get("RDD Info", [])
            )
            python_stage[info["Stage ID"]] = any(n in scopes for n in _PYTHON_NODES)
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "wall_ms": info["Finish Time"] - info["Launch Time"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                }
            )
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
        t["python"] = python_stage.get(t["stage"], False)
    return {"jobs": jobs, "tasks": tasks}


def is_pin_job(job: dict) -> bool:
    """A localCheckpoint job of operators.ckpt.pin, told by call site."""
    sites = [job["callsite"], *job["stage_names"]]
    return any("localCheckpoint" in s or "checkpoint" in s for s in sites)


def rollup(log: dict, span_ids: set[str]) -> dict:
    """Totals over the jobs whose group is one of ``span_ids``."""
    jobs = {j: v for j, v in log["jobs"].items() if v["group"] in span_ids}
    tasks = [t for t in log["tasks"] if t["job"] in jobs]
    pins = [v for v in jobs.values() if is_pin_job(v)]
    py = [t for t in tasks if t["python"]]
    return {
        "jobs": len(jobs),
        "stages": len({t["stage"] for t in tasks}),
        "tasks": len(tasks),
        "task_wall_s": sum(t["wall_ms"] for t in tasks) / 1e3,
        "executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "python_wait_s": sum(t["run_ms"] / 1e3 - t["cpu_ns"] / 1e9 for t in py),
        "pin_jobs": len(pins),
        "pin_s": sum((v["end_ms"] or v["submit_ms"]) - v["submit_ms"] for v in pins) / 1e3,
    }
