"""Measurement plumbing: in-memory spans, peak RSS from /proc, and per-stage
numbers from Spark's event log.

Spans are recorded by the benchmark around its calls into each layer (name,
start, end, parent, run id) and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict


class Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.id, self.parent = 0, None
        self.start = self.end = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def __enter__(self) -> Span:
        t = self.tracer
        self.parent = t.stack[-1] if t.stack else None
        self.id = t.next_id
        t.next_id += 1
        t.stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        self.tracer.stack.pop()
        self.tracer.spans.append(self)


class Tracer:
    """Spans kept in memory until `write`."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.next_id = 0

    def span(self, name: str, **attrs) -> Span:
        return Span(self, name, attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.id):
                f.write(json.dumps({"run": self.run_id, "id": s.id, "name": s.name,
                                    "parent": s.parent, "start": s.start, "end": s.end,
                                    **s.attrs}) + "\n")


# ---------------------------------------------------------------------------
# peak RSS of the JVM and Python workers, sampled from /proc
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids[ppid].append(int(pid))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed RSS of every process this one started (the Spark
    JVM, the Python worker daemon and its workers)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in descendants(me)))
            self.samples += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    n = len(xs)
    return 0.0 if n == 0 else (xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2)


def event_log_metrics(path: str, windows: list[tuple[float, float]]) -> dict:
    """Per timed job (a wall-clock window in epoch seconds), from the tasks
    launched inside it: shuffle bytes written, spill, GC, the Arrow stages'
    task count and summed executor time, and the skew (max / median task
    time) of the busiest Arrow stage. Returns the median of each over the
    windows."""
    arrow_stages: set[tuple[int, int]] = set()
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                scopes = " ".join(r.get("Scope", "") for r in info.get("RDD Info", []))
                if "MapInArrow" in scopes or "PythonMapInArrow" in scopes:
                    arrow_stages.add((info["Stage ID"], info["Stage Attempt ID"]))
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                tm, ti = ev["Task Metrics"], ev["Task Info"]
                tasks.append({
                    "launch": ti["Launch Time"] / 1000.0,
                    "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                    "run_s": tm["Executor Run Time"] / 1000.0,
                    "gc_s": tm["JVM GC Time"] / 1000.0,
                    "spill": tm["Disk Bytes Spilled"],
                    "shuffle_w": tm["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                })
    per = defaultdict(list)
    for lo, hi in windows:
        mine = [t for t in tasks if lo <= t["launch"] <= hi]
        arrow = defaultdict(list)
        for t in mine:
            if t["stage"] in arrow_stages:
                arrow[t["stage"]].append(t["run_s"])
        per["exchange.shuffle_write_mb"].append(sum(t["shuffle_w"] for t in mine) / 1e6)
        per["spark.spill_mb"].append(sum(t["spill"] for t in mine) / 1e6)
        per["spark.gc_s"].append(sum(t["gc_s"] for t in mine))
        per["arrow_stage.tasks"].append(sum(len(v) for v in arrow.values()))
        per["arrow_stage.executor_s"].append(sum(sum(v) for v in arrow.values()))
        # skew of the busiest Arrow stage: what the salted exchange balances
        busiest = max(arrow.values(), key=sum, default=[])
        med = _median(busiest)
        per["exchange.task_skew"].append(max(busiest) / med if med else 0.0)
    return {k: _median(v) for k, v in per.items()}
