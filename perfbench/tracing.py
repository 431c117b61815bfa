"""Tracing from outside the program: spans around the public callables a
workload calls, counters around hot leaf calls, Spark job counts from the
status tracker and task metrics from the Spark event log.

A span has a name, start, end, parent and the id of the op (query or
build) it belongs to. Spans stay in memory and are written as JSON lines
at exit. A span's self time is its duration minus its children's.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: object = None
        self.counters: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def count(self, fn, name: str, nbytes):
        """Counter wrapper for a hot leaf call: adds calls, seconds and
        ``nbytes(*args)`` bytes, without a span per call."""
        c = self.counters

        @functools.wraps(fn)
        def counted(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                c[name + ".s"] += time.perf_counter() - t0
                c[name + ".calls"] += 1
                c[name + ".bytes"] += nbytes(*a, **kw)

        return counted

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"self_s": self.self_times(), "counters": dict(self.counters)}) + "\n")


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks run) of a job group, from the status
    tracker. Stages skipped because their shuffle output was reused run no
    tasks and are not counted."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = [i for i in (st.getStageInfo(s) for s in stages) if i is not None and i.numCompletedTasks > 0]
    return len(jobs), len(ran), sum(i.numCompletedTasks for i in ran)


def event_log_metrics(log_dir: str, app_id: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group from the app's event log:
    shuffle write bytes, spill bytes, GC, executor run time and Python
    UDF time (the "time to run Python workers" SQL metric, in ms)."""
    files = sorted(glob.glob(os.path.join(log_dir, app_id + "*")))
    if not files:
        return {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                o = out[g]
                o["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                o["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                o["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                for acc in ev.get("Task Info", {}).get("Accumulables", []):
                    if acc.get("Name") == "time to run Python workers":
                        o["python_s"] += float(acc.get("Update", 0)) / 1000.0
    return {g: dict(v) for g, v in out.items()}
