"""Spans recorded around calls into the program's layers, and the Spark
task metrics of each span read back from the event log.

A span is ``(name, start, end, parent, run)``.  Spans stay in memory
until the run ends.  Each open span is also the Spark job group of the
jobs it starts, so the event log attributes every task to the innermost
span that was open when its job started.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run: str


class Tracer:
    """Collects spans; ``sc`` (a SparkContext) is optional, so the span
    arithmetic can be tested without Spark."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self.run = ""

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._set_group(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(Span(name, t0, t1, parent, self.run))

    def _set_group(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(name, name)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part of it its child spans cover."""
        out: dict[str, float] = {}
        for s in self.spans:
            kids = sorted(
                (max(c.start, s.start), min(c.end, s.end))
                for c in self.spans
                if c.parent == s.name and c.run == s.run and c.start < s.end and c.end > s.start
            )
            covered = 0.0
            cur_s = cur_e = None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def window(self, run: str) -> tuple[float, float]:
        """Seconds from the first to the last span of ``run``, and the sum
        of its top-level span durations."""
        top = [s for s in self.spans if s.run == run and s.parent is None]
        if not top:
            return 0.0, 0.0
        wall = max(s.end for s in top) - min(s.start for s in top)
        return wall, sum(s.end - s.start for s in top)


TASK_METRICS = {"cpu_s": "s", "gc_s": "s", "shuffle_write_bytes": "bytes",
                "spill_bytes": "bytes", "task_skew": "ratio"}


def task_metrics(event_lines) -> dict[str, dict[str, float]]:
    """Per job group: executor CPU and GC seconds, shuffle bytes written,
    bytes spilled, and the skew (max / median task run time) of the
    group's stage with the most total task time.

    ``event_lines`` are the JSON lines of an uncompressed Spark event log.
    A stage belongs to the group set when it was submitted.
    """
    group_of: dict[int, str] = {}
    acc: dict[str, dict[str, float]] = {}
    stage_times: dict[int, list[float]] = {}
    for line in event_lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                group_of[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerTaskEnd":
            g = group_of.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            a = acc.setdefault(g, {k: 0.0 for k in TASK_METRICS})
            a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            stage_times.setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0))
    longest: dict[str, list[float]] = {}
    for sid, times in stage_times.items():
        g = group_of[sid]
        if sum(times) > sum(longest.get(g, [])):
            longest[g] = times
    for g, times in longest.items():
        med = statistics.median(times)
        acc[g]["task_skew"] = max(times) / med if med > 0 else 1.0
    return acc


def read_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Task metrics of the one application logged under ``log_dir``.

    Spark 4 rolls event logs by default: the log is then a directory of
    ``events_<n>_<app>`` parts next to an ``appstatus`` marker.
    """
    parts = sorted(
        (p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(("appstatus", "."))),
        key=lambda p: int(p.name.split("_")[1]) if p.name.startswith("events_") else 0,
    )
    if not parts:
        raise RuntimeError(f"no event log under {log_dir}")

    def lines():
        for p in parts:
            with p.open() as f:
                yield from f

    return task_metrics(lines())
