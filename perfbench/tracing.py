"""In-memory spans, self-time arithmetic and Spark REST metric collection.

Spans are recorded around the benchmark's calls into each layer of
pumle_spark (never inside the program) and kept in memory until the run
ends. ``SparkRest`` reads the live UI's REST API after every op, so the
UI's retention limits never drop an op's jobs, stages or SQL metrics.
"""

from __future__ import annotations

import json
import math
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Spans:
    """Nested spans on one thread. A span opened inside another becomes its
    child and inherits its op id."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._open[-1] if self._open else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(len(self.spans), name, time.perf_counter(), math.nan, parent, op)
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, fh)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> its duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(kids.get(s.id, []), s.start, s.end) for s in spans}


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it.

    Returns (percentile, value, n). With n sorted samples that is the
    11th-largest, at rank n-11 of 0..n-1, i.e. percentile 100*(n-11)/(n-1)
    under linear interpolation. A tail is never taken below the median:
    with fewer than 21 samples the median is returned as percentile 50.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 21:
        return 50.0, statistics.median(xs), n
    rank = n - 11
    return 100.0 * rank / (n - 1), xs[rank], n


# -- SQL metric values -------------------------------------------------------

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-zµ]*)")


def parse_metric(text: str) -> float:
    """Total of one SQL UI metric string, in seconds for timings and bytes
    for sizes. Timings and sizes render as ``total (min, med, max ...)``
    followed by a newline and the values; plain counts render alone."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


PYTHON_METRICS = {
    "time to run Python workers": "python.worker_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.recv_mb",
}

_MB = 2.0**20


class SparkRest:
    """Jobs, stages and SQL metrics of everything Spark ran since the last
    call, read from the application's REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.last_job = -1
        self.last_sql = -1
        self._sql_seen = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as resp:
            return json.load(resp)

    def _drain(self) -> None:
        # the status store is fed by an asynchronous listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _sql_executions(self, details: bool) -> list[dict]:
        # list positions shift only if executions are evicted; re-read a margin
        start = max(0, self._sql_seen - 50)
        query = f"details={str(details).lower()}&planDescription=false&offset={start}&length=100000"
        fresh = [ex for ex in self._get(f"/sql?{query}") if ex["id"] > self.last_sql]
        if fresh:
            self.last_sql = max(ex["id"] for ex in fresh)
            self._sql_seen += len(fresh)
        return fresh

    def skip(self) -> None:
        """Move past everything Spark ran so far without reading it."""
        self._drain()
        self.last_job = max([self.last_job] + [j["jobId"] for j in self._get("/jobs")])
        self._sql_executions(details=False)

    def collect(self) -> dict:
        """Counters for the jobs and SQL executions started since the last
        call. ``job_groups`` maps each job id to its job group (or None)."""
        self._drain()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self.last_job]
        out = {
            "job_groups": {j["jobId"]: j.get("jobGroup") for j in jobs},
            "execution.stages": 0, "execution.tasks": 0, "execution.failed_tasks": 0,
            "execution.executor_run_s": 0.0, "execution.executor_cpu_s": 0.0,
            "execution.shuffle_read_mb": 0.0, "execution.shuffle_write_mb": 0.0,
            "execution.spill_mb": 0.0, "execution.gc_s": 0.0,
            **{name: 0.0 for name in PYTHON_METRICS.values()},
        }
        for j in jobs:
            self.last_job = max(self.last_job, j["jobId"])
            for sid in j["stageIds"]:
                for st in self._get(f"/stages/{sid}?details=false"):
                    if st["status"] not in ("COMPLETE", "FAILED"):
                        continue  # skipped: its output was reused
                    out["execution.stages"] += 1
                    out["execution.tasks"] += st["numTasks"]
                    out["execution.failed_tasks"] += st["numFailedTasks"]
                    out["execution.executor_run_s"] += st["executorRunTime"] / 1e3
                    out["execution.executor_cpu_s"] += st["executorCpuTime"] / 1e9
                    out["execution.shuffle_read_mb"] += st["shuffleReadBytes"] / _MB
                    out["execution.shuffle_write_mb"] += st["shuffleWriteBytes"] / _MB
                    out["execution.spill_mb"] += st["diskBytesSpilled"] / _MB
                    out["execution.gc_s"] += st["jvmGcTime"] / 1e3
        for ex in self._sql_executions(details=True):
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    name = PYTHON_METRICS.get(m["name"])
                    if name:
                        v = parse_metric(m["value"])
                        out[name] += v / _MB if name.endswith("_mb") else v
        return out
