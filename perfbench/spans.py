"""Spans around calls into the package, plus process and engine counters.

Everything here runs in the benchmark's own process and touches the package
only by wrapping its public functions: ``Tracer.wrap(module, name)`` swaps
the module attribute for a timing wrapper, so code that looks the function
up at call time (the shipped job does) records a span per call.

Spark counters come from Spark's event log: every job is attributed to the
innermost span that was open when it was submitted.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from pathlib import Path


class Tracer:
    """In-memory spans: (name, start, end, parent, run id). An untraced run
    wraps only what its end-to-end metrics need, so it pays for little else."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def total(self, name: str, t0: float = 0.0, t1: float = float("inf")) -> float:
        """Summed duration of the spans called ``name`` inside [t0, t1]."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None
                   and s["start"] >= t0 and s["end"] <= t1)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the time its direct children cover, summed by
        name (children of one span never overlap: the loop is closed)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        self.idx = len(t.spans)
        t.spans.append({"name": self.name, "start": time.time(), "end": None,
                        "parent": t._stack[-1] if t._stack else None,
                        "run_id": t.run_id})
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.t.spans[self.idx]["end"] = time.time()
        self.t._stack.pop()
        return False


# --- whole-process-tree memory and whole-box CPU ------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids, out, todo = _children(), [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the RSS of this process plus all its descendants (the JVM and
    the Python workers) every ``interval`` seconds; keeps the peak sum."""

    def __init__(self, interval: float = 0.25):
        self.interval, self.peak_kb = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = _rss_kb(me) + sum(_rss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_busy_share(interval: float = 0.5) -> float:
    """Whole-box CPU busy fraction over ``interval`` seconds (/proc/stat)."""

    def snap():
        with open("/proc/stat") as fh:
            vals = list(map(int, fh.readline().split()[1:]))
        return vals[3] + vals[4], sum(vals)  # idle + iowait, total

    i0, t0 = snap()
    time.sleep(interval)
    i1, t1 = snap()
    return 1.0 - (i1 - i0) / max(t1 - t0, 1)


# --- Spark event log ----------------------------------------------------------

def read_event_logs(log_dir: Path) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from every finished event log in log_dir. A job is
    {submit, stages}; a task is {stage, run_s, gc_s, shuffle_write, spill,
    records_in}. Times are epoch seconds; stages are (log file, stage id)."""
    jobs, tasks = [], []
    for f in sorted(log_dir.glob("*")):
        if f.name.endswith(".inprogress"):
            continue
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"submit": ev["Submission Time"] / 1000.0,
                                 "stages": [(f.name, s) for s in ev["Stage IDs"]]})
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    im = m.get("Input Metrics") or {}
                    tasks.append({
                        "stage": (f.name, ev["Stage ID"]),
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "records_in": im.get("Records Read", 0),
                    })
    return jobs, tasks


def engine_counters(jobs: list[dict], tasks: list[dict], t0: float, t1: float) -> dict:
    """Totals for the jobs submitted in [t0, t1) and their tasks, plus the
    slowest-to-median task ratio of the stage with the most task time."""
    sel = [j for j in jobs if t0 <= j["submit"] < t1]
    stages = {s for j in sel for s in j["stages"]}
    ts = [t for t in tasks if t["stage"] in stages]
    by_stage: dict = {}
    for t in ts:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    skew = 1.0
    if by_stage:
        longest = max(by_stage.values(), key=sum)
        runs = sorted(longest)
        med = runs[len(runs) // 2]
        skew = runs[-1] / med if med > 0 else 1.0
    return {
        "jobs": len(sel),
        "stages": len(by_stage),
        "tasks": len(ts),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
        "spill_bytes": sum(t["spill"] for t in ts),
        "executor_run_s": sum(t["run_s"] for t in ts),
        "jvm_gc_s": sum(t["gc_s"] for t in ts),
        "input_records": sum(t["records_in"] for t in ts),
        "task_skew": skew,
    }


def engine_by_span(spans: list[dict], jobs: list[dict], tasks: list[dict]) -> dict:
    """Engine counters per span name, each job going to the innermost span
    open when it was submitted (spans nest, so that is the latest start)."""
    owner: dict[str, list[dict]] = {}
    for j in jobs:
        inside = [s for s in spans if s["end"] is not None
                  and s["start"] <= j["submit"] < s["end"]]
        if inside:
            owner.setdefault(max(inside, key=lambda s: s["start"])["name"], []).append(j)
    return {name: engine_counters(js, tasks, 0.0, float("inf"))
            for name, js in sorted(owner.items())}
