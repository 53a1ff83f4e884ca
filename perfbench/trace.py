"""Spans, Spark job counts and the traced run's event-log attribution.

Spans are recorded from the benchmark's own code around each call into a
layer: name, start, end, parent and run id, kept in memory and written out
at exit. Each span also sets the Spark job description, and in a traced run
Spark's event log supplies the jobs, stages, tasks, shuffle bytes and GC
time, attributed to the innermost span open when the job was submitted.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        """A span on the calling (main) thread; nests by call order."""
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run": self.run_id, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"{self.run_id}#{rec['id']} {name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            sc.setJobDescription(prev)

    def record(self, name: str, start: float, end: float, parent: int | None, **attrs):
        """A finished span from any thread (wrapped storage calls)."""
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                               "run": self.run_id, "start": start, "end": end, **attrs})

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **(extra or {})}, f)


class JobCounter:
    """Exact Spark job, stage and task counts of one step, read from the
    status tracker (available with or without tracing)."""

    def __init__(self, spark):
        self._st = spark.sparkContext.statusTracker()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._known = set(self._st.getJobIdsForGroup())

    def take(self) -> dict:
        """Jobs, stages and tasks since the last call. The status store is
        fed asynchronously, so drain the listener bus first; otherwise a
        step's last jobs can land in the next step's count."""
        self._bus.waitUntilEmpty(60_000)
        ids = set(self._st.getJobIdsForGroup())
        new = sorted(ids - self._known)
        self._known = ids
        stages = tasks = 0
        for j in new:
            info = self._st.getJobInfo(j)
            for s in info.stageIds if info else []:
                sinfo = self._st.getStageInfo(s)
                if sinfo is not None and sinfo.numCompletedTasks > 0:
                    stages += 1
                    tasks += sinfo.numCompletedTasks
        return {"jobs": len(new), "stages": stages, "tasks": tasks}


# ---------------------------------------------------------- event log


def read_event_log(log_dir: str) -> dict:
    """Jobs (submission, completion, description, stage ids) and per-stage
    task sums from a Spark JSON event log directory."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "desc": (ev.get("Properties") or {}).get("spark.job.description"),
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_write": 0,
                        "shuffle_read": 0, "spill": 0})
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["tasks"] += 1
                    st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stages": stages}


def attribute(tracer: Tracer, log: dict) -> None:
    """Attach Spark figures to spans: a job belongs to the span named in its
    description when that span is on the main thread, else to the innermost
    span whose interval holds its submission time. Adds ``spark`` (own jobs)
    and ``self_s`` (duration minus child spans) to every span."""
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        s["spark"] = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
                      "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "job_s": 0.0}
        s["job_intervals"] = []
    prefix = f"{tracer.run_id}#"
    for job in log["jobs"].values():
        owner = None
        desc = job["desc"] or ""
        if desc.startswith(prefix):
            owner = by_id.get(int(desc[len(prefix):].split(" ", 1)[0]))
        inner = _innermost(tracer.spans, job["submit"])
        if inner is not None and (owner is None or _is_descendant(by_id, inner, owner)):
            owner = inner
        if owner is None:
            continue
        agg = owner["spark"]
        agg["jobs"] += 1
        owner["job_intervals"].append((job["submit"], job["end"] or job["submit"]))
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if st is None:
                continue  # skipped stage: its shuffle output was reused
            agg["stages"] += 1
            for k in ("tasks", "task_s", "gc_s", "shuffle_write", "shuffle_read", "spill"):
                agg[k] += st[k]
    children: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in tracer.spans:
        dur = s["end"] - s["start"]
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        s["self_s"] = max(0.0, dur - union(kids))
        s["spark"]["job_s"] = union(s["job_intervals"])


def subtree(tracer: Tracer, root: dict) -> list[dict]:
    """``root`` and every span below it."""
    out, todo = [], [root["id"]]
    kids: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in tracer.spans}
    while todo:
        sid = todo.pop()
        out.append(by_id[sid])
        todo.extend(c["id"] for c in kids.get(sid, []))
    return out


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t <= (s["end"] or t) and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def _is_descendant(by_id: dict, s: dict, ancestor: dict) -> bool:
    while s is not None:
        if s["id"] == ancestor["id"]:
            return True
        s = by_id.get(s["parent"]) if s["parent"] is not None else None
    return False


def union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
