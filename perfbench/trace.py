"""Spans around calls into the engine's public functions, kept in memory.

``Tracer.wrap(owner, attr, name)`` replaces ``owner.attr`` with a wrapper that
records a span ``name`` (start, end, parent span, thread) and then calls the
original with the same arguments, returning or raising exactly what it does.
Patch a function where callers look it up: a class attribute for methods, the
importing module's global for a function imported by name (``commit.py``
does ``from .normalize import explode_batch``, so the name to patch is
``ingest.commit.explode_batch``).  ``restore()`` puts every original back.

Spans that carry ``jobs=True`` also record Spark's next job id at entry and
exit.  Job ids are global to the SparkContext, so the delta counts every job
started while the span was open, including jobs launched from the store's
own writer threads, which do not inherit the caller's job group.

Span times are ``time.monotonic()``, the clock the load client and the chain
generator stamp their events with.  Nothing is written while the run is
measured; :func:`layer_self_times` and
:func:`read_event_log` turn the spans and Spark's event log into numbers once
the run is over.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from pathlib import Path


class Span:
    __slots__ = ("name", "start", "end", "parent", "job0", "job1", "tag")

    def __init__(self, name: str, parent: int | None):
        self.name = name
        self.parent = parent
        self.start = time.monotonic()
        self.end: float | None = None
        self.job0 = self.job1 = None
        self.tag = None  # result kind or exception class, when the wrapper asks

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    def __init__(self, spark=None):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._sc = spark.sparkContext._jsc.sc() if spark is not None else None

    def next_job_id(self) -> int | None:
        if self._sc is None:
            return None
        return int(self._sc.dagScheduler().nextJobId())

    # -- span stack ---------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, jobs: bool = False) -> Span:
        st = self._stack()
        span = Span(name, st[-1] if st else None)
        if jobs:
            span.job0 = self.next_job_id()
        with self._lock:
            self.spans.append(span)
            st.append(len(self.spans) - 1)
        return span

    def close(self, span: Span, jobs: bool = False) -> None:
        if jobs:
            span.job1 = self.next_job_id()
        span.end = time.monotonic()
        self._stack().pop()

    # -- patching -------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, *, jobs: bool = False, tag=None) -> None:
        """Record a span around every call of ``owner.attr``.  ``tag``
        (optional) maps the return value to a short label kept on the span;
        a raised exception is tagged with its class name and re-raised."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span = tracer.open(name, jobs)
            try:
                result = orig(*args, **kwargs)
            except BaseException as exc:
                span.tag = type(exc).__name__
                tracer.close(span, jobs)
                raise
            if tag is not None:
                span.tag = tag(result)
            tracer.close(span, jobs)
            return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- queries --------------------------------------------------------------

    def named(self, name: str, tag=None) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None
                and (tag is None or s.tag == tag)]

    def total(self, *names: str) -> float:
        return sum(s.duration for s in self.spans if s.name in names and s.end is not None)


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer (the span name up to its first dot): each span's
    duration minus the time its child spans cover.  Children of one span run
    on the span's own thread, so they never overlap one another."""
    child_time = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None and s.end is not None:
            child_time[s.parent] += s.duration
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if s.end is None:
            continue
        layer = s.name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + max(0.0, s.duration - child_time[i])
    return out


def calibrate_overhead(tracer: "Tracer", n: int = 20000) -> float:
    """Seconds the spans of ``tracer`` added to the run: the measured cost
    of one wrapped call over a plain one, per span, plus two Spark job-id
    lookups per span that records them."""

    class Box:
        @staticmethod
        def f():
            return None

    t0 = time.perf_counter()
    for _ in range(n):
        Box.f()
    plain = time.perf_counter() - t0
    probe = Tracer()
    probe.wrap(Box, "f", "calibrate.f")
    t0 = time.perf_counter()
    for _ in range(n):
        Box.f()
    probe.restore()
    per_span = max(0.0, (time.perf_counter() - t0 - plain) / n)
    job_spans = sum(1 for s in tracer.spans if s.job0 is not None)
    per_lookup = 0.0
    if job_spans:
        t0 = time.perf_counter()
        for _ in range(200):
            tracer.next_job_id()
        per_lookup = (time.perf_counter() - t0) / 200
    return len(tracer.spans) * per_span + 2 * job_spans * per_lookup


class JobMetrics:
    """Per-job Spark metrics read from an event log after the context stops."""

    FIELDS = ("stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "gc_s")

    def __init__(self):
        self.by_job: dict[int, dict[str, float]] = {}

    def sum_jobs(self, spans: list[Span]) -> dict[str, float]:
        """Totals over the jobs started inside ``spans`` (job-id deltas)."""
        out = {"jobs": 0.0, **{f: 0.0 for f in self.FIELDS}}
        seen: set[int] = set()
        for s in spans:
            if s.job0 is None or s.job1 is None:
                continue
            for j in range(s.job0, s.job1):
                if j in seen:
                    continue
                seen.add(j)
                out["jobs"] += 1
                for f, v in self.by_job.get(j, {}).items():
                    out[f] += v
        return out


def read_event_log(log_dir: Path) -> JobMetrics:
    """Parse the uncompressed Spark event log under ``log_dir`` (Spark 4
    writes ``eventlog_v2_<app>/events_<n>_<app>`` files)."""
    metrics = JobMetrics()
    stage_job: dict[int, int] = {}
    files = sorted((p for p in Path(log_dir).rglob("events_*") if p.is_file()),
                   key=lambda p: int(p.name.split("_")[1]))
    for path in files:
        with path.open() as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    metrics.by_job.setdefault(job, {f: 0.0 for f in JobMetrics.FIELDS})
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, job)
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if job is not None:
                        metrics.by_job[job]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    if job is None:
                        continue
                    m = metrics.by_job[job]
                    m["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    rd = tm.get("Shuffle Read Metrics") or {}
                    wr = tm.get("Shuffle Write Metrics") or {}
                    m["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    m["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
    return metrics
