"""Spans around calls into the engine, and their Spark cost from the event log.

The traced run wraps each call into a layer of the engine in a span
(name, start, end, parent, op id). Entering a span sets the Spark job
group to the span's id, so every job the call submits is tagged with the
innermost open span. Jobs submitted from threads the engine starts
itself (the index store writes its components from a thread pool) carry
no group; they are attributed to the innermost span open when they were
submitted. After the session stops, the event log gives each span its
executor CPU, GC, shuffle write, spill, task count and the driver gap:
span wall time minus the union of its jobs' run intervals.

Spans live in memory until the run ends; ``write`` stores them as JSON.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-"
MB = 1024 * 1024


class Tracer:
    """Records spans; a disabled tracer only hands out scratch dicts."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    def _set_group(self, span):
        if self.sc is None:  # the session span opens before the session
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(GROUP_PREFIX + str(span["id"]), span["name"])

    @contextmanager
    def span(self, name: str, op=None):
        """Time one layer call; the yielded dict takes counts (``s["rows"] = n``)."""
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.time(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


def read_event_log(log_dir: str) -> dict:
    """-> {"jobs": [{group, start, end}], "stages": {stage_id: {...cost}}}.

    Times are seconds since the epoch; the stage record carries its job
    group and the submission time of the job that ran it."""
    jobs, ends, stages, stage_job = {}, {}, {}, {}
    # rolling event logs (the default since Spark 4) nest one directory deep
    pattern = os.path.join(log_dir, "**", "*")
    for path in sorted(p for p in glob.glob(pattern, recursive=True) if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1e3,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    ends[ev["Job ID"]] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    st = stages.setdefault(
                        ev["Stage ID"],
                        {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
                         "spill_mb": 0.0, "tasks": 0},
                    )
                    st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                    st["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
                    st["tasks"] += 1
    for job_id, job in jobs.items():
        job["end"] = ends.get(job_id)
    for sid, st in stages.items():
        job = jobs.get(stage_job.get(sid))
        st["group"] = job["group"] if job else None
        st["submitted"] = job["start"] if job else None
    return {"jobs": list(jobs.values()), "stages": stages}


def _owner(spans_by_id: dict, spans: list, group, t):
    """Span a job belongs to: its group's span, else the innermost span
    open at submission time t."""
    if group and group.startswith(GROUP_PREFIX):
        return spans_by_id.get(int(group[len(GROUP_PREFIX):]))
    if t is None:
        return None
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def _union_len(intervals) -> float:
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


def attribute(spans: list, log: dict) -> None:
    """Add Spark cost, self time and driver gap to every span in place.

    A span's cost includes its descendants'; ``self_s`` is its wall time
    minus the part its direct children cover."""
    by_id = {s["id"]: s for s in spans}
    children: dict = {}
    for s in spans:
        s.update(wall_s=s["end"] - s["start"], cpu_s=0.0, gc_s=0.0,
                 shuffle_write_mb=0.0, spill_mb=0.0, tasks=0)
        s["_jobs"] = []
        children.setdefault(s["parent"], []).append(s)

    def ancestors(s):
        while s is not None:
            yield s
            s = by_id.get(s["parent"])

    for st in log["stages"].values():
        owner = _owner(by_id, spans, st["group"], st["submitted"])
        for s in ancestors(owner):
            for key in ("cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "tasks"):
                s[key] += st[key]
    for job in log["jobs"]:
        if job["end"] is None:
            continue
        for s in ancestors(_owner(by_id, spans, job["group"], job["start"])):
            s["_jobs"].append((job["start"], job["end"]))
    for s in spans:
        clipped = [(max(a, s["start"]), min(b, s["end"])) for a, b in s.pop("_jobs")]
        busy = _union_len([(a, b) for a, b in clipped if b > a])
        s["driver_gap_s"] = max(0.0, s["wall_s"] - busy)
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        s["child_cover_s"] = _union_len(kids)
        s["self_s"] = s["wall_s"] - s["child_cover_s"]


def layer_table(spans: list) -> dict:
    """name -> {n, median wall/self/cpu/...} over every span of that name."""
    out: dict = {}
    for name in sorted({s["name"] for s in spans}):
        group = [s for s in spans if s["name"] == name]
        row = {"n": len(group)}
        for key in ("wall_s", "self_s", "cpu_s", "gc_s", "shuffle_write_mb",
                    "spill_mb", "tasks", "driver_gap_s"):
            row[key] = statistics.median(s[key] for s in group)
        out[name] = row
    return out
