"""Measurement helpers: spans, process-tree RSS, and Spark's own counters
read back from its monitoring REST API.

Spans are recorded by the benchmark around calls into the engine's public
functions; nothing inside the engine is instrumented. Each traced span
also sets a Spark job group, so the jobs a call ran can be attributed to
it afterwards.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    """In-memory spans: name, start, end, parent and run id. With
    ``enabled`` False, :meth:`span` only yields (no job group, no record),
    so untraced jobs run exactly as a user would run them."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "group": f"pb-{self.run_id}-{sid}",
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name, interruptOnCancel=False)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.spans[self._stack[-1]]["group"],
                                    self.spans[self._stack[-1]]["name"],
                                    interruptOnCancel=False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def subtree_groups(self, sid: int) -> set[str]:
        out = {self.spans[sid]["group"]}
        for k in self.children(sid):
            out |= self.subtree_groups(k["id"])
        return out


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # process ended while listing
        parent[int(name)] = int(fields[1])
    out, frontier = [root], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def tree_rss_bytes(root: int) -> int:
    """RSS of ``root`` and all its descendants (the Python driver, the
    JVM it launched and the JVM's Python workers), from /proc."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class Sampler:
    """Background thread calling ``fn()`` every ``interval`` seconds and
    keeping the element-wise maximum of the returned tuples since the last
    :meth:`reset`. ``fn`` returning None skips the sample."""

    def __init__(self, fn, interval: float, width: int = 1):
        self.fn, self.interval, self.width = fn, interval, width
        self.peak = (0,) * width
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            try:
                v = self.fn()
            except Exception:  # noqa: BLE001 - a missed sample is not fatal
                v = None
            if v is not None:
                with self._lock:
                    self.peak = tuple(max(a, b) for a, b in zip(self.peak, v))
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak = (0,) * self.width

    def read(self) -> tuple:
        with self._lock:
            return self.peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class SparkRest:
    """Reader for Spark's monitoring REST API (``/api/v1``)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def stages(self) -> list[dict]:
        return self.get("/stages")

    def cache_bytes(self) -> tuple[int, int]:
        rdds = self.get("/storage/rdd")
        return (sum(r.get("memoryUsed", 0) for r in rdds),
                sum(r.get("diskUsed", 0) for r in rdds))

    def task_durations(self, stage: dict) -> tuple[float, float]:
        """(median, max) task duration in ms of one stage attempt."""
        q = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                     "/taskSummary?quantiles=0.5,1.0")
        return q["duration"][0], q["duration"][1]

    def sql(self) -> list[dict]:
        return self.get("/sql?details=true&planDescription=false&length=100000")


def parse_time(s: str | None) -> float | None:
    """REST timestamps look like ``2026-01-01T00:00:00.123GMT``."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


def metric_value(text: str) -> float:
    """First number of an SQL-metric string such as ``"1,234"``,
    ``"12.3 KiB"`` or ``"total (min, med, max ...)\\n1.2 MiB (...)"``,
    in base units (bytes for sizes, ms for times)."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    tok = line.split("(")[0].strip().split()
    num = float(tok[0].replace(",", ""))
    scale = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
             "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}
    return num * scale.get(tok[1], 1) if len(tok) > 1 else num


def stage_rollup(rest: SparkRest, stages: list[dict]) -> dict:
    """The ``exec.*`` counters over a set of stage attempts."""
    out = {
        "exec.stages": len(stages),
        "exec.tasks": sum(s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                          for s in stages),
        "exec.failed_tasks": sum(s.get("numFailedTasks", 0) for s in stages),
        "exec.run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
        "exec.cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "exec.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "exec.shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "exec.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "exec.spill_bytes": sum(s.get("diskBytesSpilled", 0) for s in stages),
        "exec.input_bytes": sum(s.get("inputBytes", 0) for s in stages),
    }
    latency, skews = 0.0, []
    for s in stages:
        t0, t1 = parse_time(s.get("submissionTime")), parse_time(s.get("completionTime"))
        if t0 is None or t1 is None or not s.get("numCompleteTasks"):
            continue
        med, mx = rest.task_durations(s)
        latency += max(0.0, (t1 - t0) - mx / 1e3)
        if s["numCompleteTasks"] > 1 and med > 0:
            skews.append(mx / med)
    out["exec.stage_latency_s"] = latency
    out["exec.task_skew"] = statistics.median(skews) if skews else 1.0
    return out
