"""Spans, Spark per-span counters and a process-tree memory sampler.

Spans are recorded by the benchmark around its calls into the program; each
span runs its Spark work under a job group of its own, so the status REST API
(``uiWebUrl`` + ``/api/v1/...``) can attribute every job and stage to it.
Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import itertools
import json
import os
import threading
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    trace_id: str
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``span()`` nests per thread; with a Spark
    context it also sets a job group named after the span, restoring the
    enclosing one on exit."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, sc=None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sp = Span(name, next(self._ids), stack[-1].span_id if stack else None,
                      self.trace_id, time.perf_counter(), attrs=dict(attrs))
            self.spans.append(sp)
        if sc is not None:
            sp.group = f"{self.trace_id}-{sp.span_id}"
            sc.setJobGroup(sp.group, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if sc is not None:
                outer = next((s.group for s in reversed(stack) if s.group), None)
                if outer:
                    sc.setJobGroup(outer, "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def descendants(self, sp: Span) -> list[Span]:
        """``sp`` and every span below it."""
        out, frontier = [sp], {sp.span_id}
        for s in self.spans:  # parents are always created before children
            if s.parent_id in frontier:
                out.append(s)
                frontier.add(s.span_id)
        return out

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "trace_id": s.trace_id, "span_id": s.span_id,
                     "parent_id": s.parent_id, "start_s": round(s.start - t0, 6),
                     "end_s": round(s.end - t0, 6), "group": s.group, "attrs": s.attrs}
                    for s in self.spans
                ],
                f,
                indent=1,
            )


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


COUNTERS = ("jobs", "failed_jobs", "tasks", "failed_tasks", "busy_s", "cpu_s", "gc_s",
            "shuffle_bytes", "spill_bytes", "input_bytes", "output_bytes", "wait_s")


class SparkCounters:
    """Per-job-group stage counters from the SparkContext's status REST API."""

    def __init__(self, sc):
        self.sc = sc
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self) -> None:
        """Wait until the status store has seen every event posted so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def fetch(self) -> tuple[list[dict], dict[int, list[dict]]]:
        self.settle()
        jobs = self._get("/jobs")
        stages: dict[int, list[dict]] = {}
        for st in self._get("/stages"):
            stages.setdefault(st["stageId"], []).append(st)
        return jobs, stages

    @staticmethod
    def totals(jobs: list[dict], stages: dict[int, list[dict]], groups: set[str]) -> dict:
        """Sum the counters of every job in ``groups`` and its stage attempts
        (skipped stages did no work and count nothing)."""
        out = dict.fromkeys(COUNTERS, 0.0)
        seen: set[tuple[int, int]] = set()
        for job in jobs:
            if job.get("jobGroup") not in groups:
                continue
            out["jobs"] += 1
            out["failed_jobs"] += job["status"] == "FAILED"
            for sid in job["stageIds"]:
                for st in stages.get(sid, []):
                    key = (sid, st["attemptId"])
                    if key in seen or st["status"] == "SKIPPED":
                        continue
                    seen.add(key)
                    out["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                    out["failed_tasks"] += st["numFailedTasks"]
                    out["busy_s"] += st["executorRunTime"] / 1e3
                    out["cpu_s"] += st["executorCpuTime"] / 1e9
                    out["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                    out["shuffle_bytes"] += st["shuffleWriteBytes"]
                    out["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                    out["input_bytes"] += st["inputBytes"]
                    out["output_bytes"] += st["outputBytes"]
                    sub = _rest_time(st.get("submissionTime"))
                    first = _rest_time(st.get("firstTaskLaunchedTime"))
                    if sub is not None and first is not None:
                        out["wait_s"] += max(0.0, first - sub)
        return out


def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _field_kb(path: str, key: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pids(root: int) -> list[int]:
    pids, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        pids.append(pid)
        frontier.extend(_children(pid))
    return pids


class MemorySampler:
    """Samples the memory of this process tree (this Python process, the JVM,
    Python workers) every ``interval`` seconds while the run goes on, so short-lived
    workers count. ``peak_mb`` is the highest summed PSS seen — resident
    pages with those shared between processes split among them, so workers
    forked from one daemon are not counted once each; ``peak_rss_sum_mb`` is
    the highest plain ``VmRSS`` sum, which does count them once each."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = self.peak_rss_kb = self.max_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="mem-sampler", daemon=True)

    def _sample(self) -> None:
        pids = tree_pids(os.getpid())
        self.max_procs = max(self.max_procs, len(pids))
        self.peak_kb = max(self.peak_kb, sum(_field_kb(f"/proc/{p}/smaps_rollup", "Pss:") for p in pids))
        self.peak_rss_kb = max(self.peak_rss_kb, sum(_field_kb(f"/proc/{p}/status", "VmRSS:") for p in pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "MemorySampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    @property
    def peak_rss_sum_mb(self) -> float:
        return self.peak_rss_kb / 1024.0
