"""Measurement helpers: spans, percentiles, peak memory and Spark's
public feeds (status tracker, streaming progress, event log).

Spans are recorded only from the benchmark's own calls into the engine;
nothing inside the engine is instrumented.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import statistics
import threading
import time


def pct(values, q: float) -> float:
    """The q-th percentile (0..100) by linear interpolation."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values)


class Tracer:
    """In-memory spans: (name, start, end, parent, request id).

    Disabled tracers record nothing and cost one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, req=None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        parent = stack[-1] if stack else None
        rec = {"name": name, "req": req, "parent": parent,
               "start": time.perf_counter(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def add_epoch(self, name: str, start: float, end: float,
                  req=None) -> None:
        """Record a span measured elsewhere in wall-clock (epoch)
        seconds, e.g. from a streaming progress event."""
        if not self.enabled:
            return
        shift = time.perf_counter() - time.time()
        start, end = start + shift, end + shift
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name,
                               "req": req, "parent": None,
                               "start": start, "end": end})

    def wrap(self, cls, method: str, name: str, req_arg: int | None = None):
        """Install a timing wrapper around ``cls.method``; returns the
        undo callable.  ``req_arg``: index of the positional argument
        used as the request id (e.g. a batch id)."""
        orig = getattr(cls, method)
        tracer = self

        def wrapped(self_, *a, **kw):
            req = a[req_arg] if req_arg is not None and len(a) > req_arg \
                else None
            with tracer.span(name, req):
                return orig(self_, *a, **kw)

        setattr(cls, method, wrapped)
        return lambda: setattr(cls, method, orig)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, last = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []),
                            key=lambda c: c["start"]):
                if c["end"] is None:
                    continue
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        self_t = {}
        for name, v in self.self_times().items():
            self_t[name] = round(v, 6)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self_t}, f)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the Spark driver JVM
    (the sum of the two high-water marks)."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle
                  .current().pid())
    return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def catalyst_s(df) -> float:
    """Analysis + optimization + planning seconds of ``df``'s query
    execution, from ``QueryExecution.tracker`` (forces planning)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    it = phases.values().iterator()
    while it.hasNext():
        p = it.next()
        total_ms += p.endTimeMs() - p.startTimeMs()
    return total_ms / 1000.0


def read_event_log(log_dir: str, window: tuple[float, float]) -> dict:
    """Fold the stage and task metrics of the jobs submitted inside
    ``window`` (epoch seconds) into totals, from a finished application's
    event log.  Jobs of set-up and of the output checks fall outside."""
    lo, hi = window[0] * 1e3, window[1] * 1e3
    total = dict(jobs=0, stages=0, tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
                 shuffle_write_mb=0.0, shuffle_read_mb=0.0, spill_mb=0.0)
    stages: set[int] = set()
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                                 recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if lo <= ev.get("Submission Time", -1) <= hi:
                        total["jobs"] += 1
                        stages.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerStageCompleted":
                    if ev["Stage Info"]["Stage ID"] in stages:
                        total["stages"] += 1
                elif (kind == "SparkListenerTaskEnd"
                      and ev.get("Stage ID") in stages):
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    total["tasks"] += 1
                    total["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    total["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    total["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    total["shuffle_write_mb"] += sw.get(
                        "Shuffle Bytes Written", 0) / 2**20
                    total["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)) / 2**20
                    total["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
    return total


class ProgressLog:
    """A ``StreamingQueryListener`` keeping every progress event as its
    JSON dict, in arrival order."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: list[dict] = []
        self._lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with log._lock:
                    log.events.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def of(self, query_id) -> list[dict]:
        """The progress events of one query, by its id."""
        with self._lock:
            return [p for p in self.events if p["id"] == str(query_id)]
