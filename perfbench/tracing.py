"""Measurement surfaces: in-memory spans, Spark's UI REST API, streaming
progress events, and host facts.

Spans are recorded by the benchmark's own code around each call into a
package layer (the package itself is not instrumented). A span's self
time is its duration minus the part of it its children cover.
"""

from __future__ import annotations

import contextlib
import datetime
import itertools
import json
import os
import statistics
import threading
import time
import urllib.parse
import urllib.request


class Tracer:
    """Spans kept in memory: name, start, end, parent, op id."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, parent: int | None = None, **attrs):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent, "op": op, "start": time.time(),
               **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def add(self, name: str, start: float, end: float, parent: int | None, op=None) -> None:
        """Record a span measured elsewhere (e.g. a Spark job from the
        REST API)."""
        self.spans.append(
            {"id": next(self._ids), "name": name, "parent": parent, "op": op,
             "start": start, "end": end}
        )

    def self_times(self) -> dict[str, float]:
        """Seconds of self time summed per span name."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_seconds(children.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def busy(self, name: str) -> tuple[int, float]:
        """(calls, seconds) of the spans called ``name``."""
        ds = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return len(ds), sum(ds)


class NullTracer(Tracer):
    """Tracing off: spans cost one context manager and record nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, parent: int | None = None, **attrs):
        yield None

    def current(self) -> int | None:
        return None

    def add(self, *args, **kwargs) -> None:
        pass


def median(xs: list[float]) -> float:
    """Median of ``xs``; 0.0 when empty (no op succeeded)."""
    return statistics.median(xs) if xs else 0.0


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ----------------------------------------------------------- Spark surfaces


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.datetime.strptime(
        s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


class SparkRest:
    """The local Spark UI REST API (``/api/v1``) of one application,
    reached over the loopback interface."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.tracker = sc.statusTracker()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until the UI has recorded every job the scheduler ran."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if not self.tracker.getActiveJobsIds():
                jobs = self._get("/jobs")
                if all(j.get("completionTime") for j in jobs):
                    return
            time.sleep(0.2)

    def jobs(self) -> list[dict]:
        out = []
        for j in self._get("/jobs"):
            start = _rest_time(j.get("submissionTime"))
            end = _rest_time(j.get("completionTime"))
            if start is None or end is None:
                continue
            out.append({"id": j["jobId"], "group": j.get("jobGroup"), "start": start,
                        "end": end})
        return out

    def stages(self) -> list[dict]:
        out = []
        for s in self._get("/stages"):
            start = _rest_time(s.get("submissionTime"))
            if start is None:
                continue
            out.append({
                "start": start,
                "run_s": s.get("executorRunTime", 0) / 1e3,
                "cpu_s": s.get("executorCpuTime", 0) / 1e9,
                "shuffle_write_bytes": s.get("shuffleWriteBytes", 0),
                "failed_tasks": s.get("numFailedTasks", 0),
            })
        return out

    def persisted(self) -> tuple[int, int]:
        """(persisted RDDs, bytes they hold in memory and on disk)."""
        rdds = self._get("/storage/rdd")
        return len(rdds), sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)


def drain(events: list, quiet_s: float = 0.5, timeout: float = 5.0) -> None:
    """Wait until listener ``events`` stop arriving (they are delivered
    asynchronously)."""
    deadline = time.time() + timeout
    n = -1
    while len(events) != n and time.time() < deadline:
        n = len(events)
        time.sleep(quiet_s)


def progress_listener(spark, sink: list[dict]):
    """Register a StreamingQueryListener that appends each micro-batch's
    progress (input rows, whether any source's offset moved, per-phase
    ``durationMs``) to ``sink``; returns it so the caller can remove it.
    A ``foreachBatch`` sink that ignores its batch reports 0 input rows,
    so an advanced source offset also marks a batch that had input."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            moved = any(s.startOffset != s.endOffset for s in p.sources)
            sink.append({"t": time.time(), "rows": p.numInputRows, "moved": moved,
                         "duration_ms": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


# -------------------------------------------------------------- host facts


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(entry))
    return out


def process_tree() -> list[int]:
    """This process and all its live descendants."""
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident set sizes (VmHWM) of this process, the
    JVM and the Python workers: an upper bound on their joint peak."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_probe_s(n: int = 2_000_000) -> float:
    """Seconds for a fixed single-threaded Python loop: a host-speed
    reference recorded next to the run's timings."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0


def host_facts(spark) -> dict:
    sc = spark.sparkContext
    return {
        "cpu_probe_s": round(cpu_probe_s(), 4),
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "load_avg": [round(x, 2) for x in os.getloadavg()],
    }
