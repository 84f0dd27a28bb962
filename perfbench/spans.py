"""Spans around layer calls, and per-span counters from Spark's event log.

A span is a named interval opened by the benchmark around one call into
a layer. While a span is open its Spark job group is set, so every job
the call submits carries the span's group id in the event log (worker
threads that use ``pyspark.inheritable_thread_target`` inherit it).
Spans nest; a span's self time is its wall time minus its children's.

After the session stops, ``span_counters`` reads the uncompressed JSON
event log with the standard library and gives each span its jobs,
tasks and task metrics. Lazy layers do no work at their call boundary:
the jobs they cause run in whichever span forces them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: per-span counters, in report order
COUNTERS = ("wall_s", "self_s", "jobs", "tasks", "driver_gap_s",
            "sched_delay_s", "exec_run_s", "exec_cpu_s", "gc_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
            "spill_bytes", "task_retries")


class Tracer:
    """Records spans in memory. With ``sc=None`` spans cost nothing and
    record nothing, which is how timed runs call the same code."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        rec = {"name": name, "group": f"pb-{len(self.spans)}-{name}",
               "parent": self._stack[-1]["group"] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"],
                                    self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def read_event_log(path: str) -> dict:
    """Jobs and task metrics from one event log, each with its job group.

    Returns ``{"jobs": {job_id: {...}}, "tasks": [{...}]}``. A task's
    group is its stage's, taken from the stage's submission properties,
    or else from the first job that lists the stage."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    tasks: list[dict] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = {"group": group,
                                      "start": ev["Submission Time"] / 1e3,
                                      "end": None}
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                if "spark.jobGroup.id" in props:
                    stage_group[ev["Stage Info"]["Stage ID"]] = \
                        props["spark.jobGroup.id"]
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                duration = info["Finish Time"] - info["Launch Time"]
                run = m.get("Executor Run Time", 0)
                overhead = (m.get("Executor Deserialize Time", 0)
                            + m.get("Result Serialization Time", 0))
                getting = (info["Finish Time"] - info["Getting Result Time"]
                           if info.get("Getting Result Time") else 0)
                shuffle_r = m.get("Shuffle Read Metrics") or {}
                tasks.append({
                    "group": stage_group.get(ev["Stage ID"]),
                    "sched_delay_s": max(0, duration - run - overhead
                                         - getting) / 1e3,
                    "exec_run_s": run / 1e3,
                    "exec_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_read_bytes": (
                        shuffle_r.get("Remote Bytes Read", 0)
                        + shuffle_r.get("Local Bytes Read", 0)),
                    "shuffle_write_bytes": (m.get("Shuffle Write Metrics")
                                            or {}).get("Shuffle Bytes Written", 0),
                    "input_bytes": (m.get("Input Metrics")
                                    or {}).get("Bytes Read", 0),
                    "spill_bytes": (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0)),
                    "task_retries": int(info.get("Attempt", 0) > 0),
                })
    return {"jobs": jobs, "tasks": tasks}


def span_counters(spans: list[dict], log: dict) -> tuple[dict, int]:
    """Per span-name counter sums over every recorded span instance.

    Returns ``(counters, unattributed)``: ``counters[name][counter]``,
    and the number of jobs submitted inside a root span's interval whose
    group names no span (each such job escaped attribution)."""
    by_group = {s["group"]: s for s in spans}
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)
    own_jobs: dict[str, list[dict]] = {g: [] for g in by_group}
    unattributed = 0
    roots = [s for s in spans if s["parent"] is None]
    for job in log["jobs"].values():
        if job["group"] in own_jobs:
            own_jobs[job["group"]].append(job)
        elif any(r["start"] <= job["start"] <= r["end"] for r in roots):
            unattributed += 1

    out: dict[str, dict] = {}
    for s in spans:
        c = out.setdefault(s["name"], dict.fromkeys(COUNTERS, 0))
        wall = s["end"] - s["start"]
        self_s = wall - sum(k["end"] - k["start"]
                            for k in children.get(s["group"], []))
        jobs = own_jobs[s["group"]]
        busy = _union_s([(max(j["start"], s["start"]),
                          min(j["end"] or s["end"], s["end"])) for j in jobs])
        c["wall_s"] += wall
        c["self_s"] += self_s
        c["jobs"] += len(jobs)
        c["driver_gap_s"] += max(0.0, self_s - busy)
    for t in log["tasks"]:
        s = by_group.get(t["group"])
        if s is None:
            continue
        c = out[s["name"]]
        c["tasks"] += 1
        for k in COUNTERS[5:]:
            c[k] += t[k]
    return out, unattributed
