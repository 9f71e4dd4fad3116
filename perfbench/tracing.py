"""Tracing for the traced benchmark run, all from outside the engine.

- spans: kept in memory (name, start, end, parent, op id) and written
  out when the run ends;
- staging: the public DataFrame.localCheckpoint / checkpoint / persist /
  cache are wrapped for the run, so each call becomes a span;
- jobs, stages, tasks, executor time, shuffle and spill: Spark's own
  event log, parsed after the session stops and attributed to an
  operation by its job group. (The status tracker is fed by the same
  events asynchronously, so right after an action it can still miss the
  last job; the finished log cannot.)
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

from stats import Span

STAGING_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if op is not None:
            self._op = op
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, time.time(), 0.0, parent, self._op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()
            if op is not None:
                self._op = None

    def inside(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


@contextlib.contextmanager
def staging_spans(tracer: Tracer, df_class):
    """Wrap the public staging calls of `df_class` with spans for the
    duration of the block. A staging call made inside another one (cache
    delegating to persist, say) is not counted twice."""
    originals = {m: getattr(df_class, m) for m in STAGING_METHODS}

    def wrap(orig):
        def staged(self, *a, **kw):
            if tracer.inside("stage"):
                return orig(self, *a, **kw)
            with tracer.span("stage"):
                return orig(self, *a, **kw)
        return staged

    for m, orig in originals.items():
        setattr(df_class, m, wrap(orig))
    try:
        yield
    finally:
        for m, orig in originals.items():
            setattr(df_class, m, orig)


def storage_left(sc) -> tuple[int, float]:
    """(cached RDDs, MB they hold in memory and on disk) right now."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def heap_used_mb(sc) -> float:
    """Driver JVM heap in use just after a full GC."""
    jvm = sc._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def event_log_files(event_dir: str, app_id: str) -> list[str]:
    """The event log files of one application, in write order: a single
    file, or the parts of a rolling log (eventlog_v2_<app>/events_<n>_<app>)."""
    rolled = os.path.join(event_dir, f"eventlog_v2_{app_id}")
    if not os.path.isdir(rolled):
        return [os.path.join(event_dir, app_id)]
    parts = [f for f in os.listdir(rolled) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(rolled, f) for f in parts]


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as f:
            yield from f


def parse_event_log(paths: list[str]) -> dict[str, dict]:
    """Job group -> job submission times, stages and tasks run, executor
    totals and stage-active intervals, from a Spark event log (JSON
    lines, uncompressed). A stage skipped because its shuffle output was
    reused never runs and is not counted."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {
        "job_times": [], "stages": 0, "tasks": 0,
        "executor_run_s": 0.0, "executor_cpu_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
        "spill_mb": 0.0, "stage_intervals": [],
    })
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out[group]["job_times"].append(ev.get("Submission Time", 0) / 1e3)
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            g = out[group]
            g["tasks"] += 1
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rd = m.get("Shuffle Read Metrics", {})
            g["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                     + rd.get("Local Bytes Read", 0)) / 2**20
            wr = m.get("Shuffle Write Metrics", {})
            g["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 2**20
            g["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / 2**20
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            group = stage_group.get(info.get("Stage ID"))
            sub, done = info.get("Submission Time"), info.get("Completion Time")
            if group is not None and sub and done:
                out[group]["stages"] += 1
                out[group]["stage_intervals"].append((sub / 1e3, done / 1e3))
    return dict(out)
