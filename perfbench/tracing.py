"""Spans around the benchmark's calls into the engine's modules.

A span has a name, start, end, parent span and request id; spans are kept
in memory and written out when the run ends.  Inside a span the caller
materializes the layer's output (Spark is lazy, so a span around plan
building alone would time nothing).  Each span sets the Spark job group to
its id, so the event log's job, stage and task records attach to it once
the session has stopped and the log is complete.

When tracing is off every method is a no-op, so the timed code path is the
same in both modes apart from the spans themselves.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from statistics import median


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._req: str | None = None

    @contextlib.contextmanager
    def request(self, req_id: str):
        prev, self._req = self._req, req_id
        try:
            yield
        finally:
            self._req = prev

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = f"s{len(self.spans)}"
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "req": self._req,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(sid, name)
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1], "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    # -- analysis -----------------------------------------------------------

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.by_name(name))

    def self_times(self) -> None:
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"]:
                kids[s["parent"]].append((s["start"], s["end"]))
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - union_len(kids[s["id"]], s["start"], s["end"])

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


def union_len(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


class EventLog:
    """Job/stage/task records of one application, keyed by job group."""

    def __init__(self, event_dir: str, app_id: str):
        files = sorted(glob.glob(os.path.join(event_dir, app_id + "*")))
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        if not files:
            return
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    jid = ev["Job ID"]
                    self.jobs[jid] = {
                        "group": group,
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                    for st in ev.get("Stage IDs", []):
                        self.stage_job.setdefault(st, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in self.jobs:
                        self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = defaultdict(float)
                    for a in info.get("Accumulables", []):
                        if a.get("Name") in (PY_SENT, PY_RETURNED):
                            acc[a["Name"]] += float(a.get("Value") or 0)
                    self.stages[info["Stage ID"]] = {"py_bytes": sum(acc.values())}
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks[ev["Stage ID"]].append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                        "sw": sw.get("Shuffle Bytes Written", 0),
                        "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "in_rec": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    })

    def attribute(self, spans: list[dict]) -> None:
        """Jobs run under a job group that is no span's (a streaming query
        sets its own run id as the group) go to the innermost span open at
        their submission time.  Jobs without a group ran untraced."""
        by_id = {s["id"]: s for s in spans}

        def depth(s):
            n = 0
            while s["parent"]:
                s, n = by_id[s["parent"]], n + 1
            return n

        depths = {s["id"]: depth(s) for s in spans}
        for j in self.jobs.values():
            if j["group"] is None or j["group"] in by_id:
                continue
            open_ = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
            if open_:
                j["group"] = max(open_, key=lambda s: depths[s["id"]])["id"]

    def metrics(self, groups: set[str]) -> dict:
        """Spark runtime counters for the jobs run under ``groups``."""
        jobs = [j for j in self.jobs.values() if j["group"] in groups]
        job_ids = {jid for jid, j in self.jobs.items() if j["group"] in groups}
        stages = [s for s, jid in self.stage_job.items()
                  if jid in job_ids and s in self.tasks]
        tasks = [t for s in stages for t in self.tasks[s]]
        run_ms = sum(t["run_ms"] for t in tasks)
        skew = 0.0
        if stages:
            longest = max(stages, key=lambda s: sum(t["dur_ms"] for t in self.tasks[s]))
            durs = [t["dur_ms"] for t in self.tasks[longest]]
            skew = max(durs) / max(median(durs), 1)
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "shuffle_write_mb": sum(t["sw"] for t in tasks) / 2**20,
            "shuffle_read_mb": sum(t["sr"] for t in tasks) / 2**20,
            "spill_mb": sum(t["spill"] for t in tasks) / 2**20,
            "gc_ms": sum(t["gc_ms"] for t in tasks),
            "run_ms": run_ms,
            "python_mb": sum(self.stages.get(s, {}).get("py_bytes", 0) for s in stages) / 2**20,
            "input_records": sum(t["in_rec"] for t in tasks),
            "task_skew": skew,
            "job_intervals": [(j["start"], j["end"]) for j in jobs if j["end"]],
        }
