"""Benchmark-side tracing: in-memory spans around the engine's public
entry points, plus per-job figures from Spark's event log.

Spans are recorded from the benchmark's own code only: a traced run
replaces a method on the engine *instance* it drives with a wrapper that
opens a span, and leaves the engine's code untouched. Spans hold epoch
seconds so they line up with the event log's millisecond timestamps.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index of the enclosing span
    batch: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Span recorder. While ``enabled`` is false it records nothing;
    untraced runs never install wrappers at all."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    batch: int | None = None
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent, batch=self.batch))
        i = len(self.spans) - 1
        self._stack.append(i)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[i].end = time.time()

    def wrap(self, obj, method: str, name: str) -> None:
        """Record a span named ``name`` around every call of
        ``obj.method`` (on this instance only)."""
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    def of(self, name: str, batch: int | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (batch is None or s.batch == batch)
        ]

    def self_times(self) -> dict[str, float]:
        """Total self time (s) per span name: duration minus the part
        covered by direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + s.dur - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "batch": s.batch}
                    for s in self.spans
                ],
                f,
            )


# --- Spark event log -------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        # Spark 4 rolls event logs into a directory by default; one
        # plain file is what read_event_log parses
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Job:
    submit: float  # epoch seconds
    end: float = 0.0
    stages: tuple[int, ...] = ()
    task_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs of the (single) application logged under ``log_dir``, with
    their tasks' run time, GC time, input and shuffle-write bytes."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                j = Job(ev["Submission Time"] / 1e3, stages=tuple(ev["Stage IDs"]))
                jobs[ev["Job ID"]] = j
                for sid in j.stages:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j.task_ms += m.get("Executor Run Time", 0)
                j.gc_ms += m.get("JVM GC Time", 0)
                j.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                j.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
    return sorted(jobs.values(), key=lambda j: j.submit)


def jobs_within(jobs: list[Job], start: float, end: float) -> list[Job]:
    """Jobs submitted inside [start, end] (the event log keeps
    millisecond timestamps, so the window is widened by 1 ms)."""
    return [j for j in jobs if start - 1e-3 <= j.submit <= end + 1e-3]


def busy_seconds(jobs: list[Job], start: float, end: float) -> float:
    """Length of [start, end] covered by at least one running job."""
    iv = sorted((max(j.submit, start), min(j.end or end, end)) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
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
