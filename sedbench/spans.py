"""Outside-in tracer and the benchmark's metric math.

Spans are opened by the benchmark around its own calls into the program's
public functions; nothing inside ``sed_spark`` is instrumented. Each span
runs its Spark jobs under its own job group, and after the run the span's
jobs are joined with Spark's per-stage metrics from the status REST API of
the driver's UI (enabled only in traced runs), so every span carries the
tasks, shuffle bytes, executor time, GC time and input rows of the work it
caused. Each span also records the bytes the driver JVM read through read
system calls (``rchar`` in ``/proc/<pid>/io``): Spark's own ``inputBytes``
misses Parquet's vectored reads and counts little more than footers.
Spans are kept in memory and written out once, at exit.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

STAGE_FIELDS = {
    # REST stage field -> (counter name, scale)
    "numCompleteTasks": ("tasks", 1.0),
    "numFailedTasks": ("failed_tasks", 1.0),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1.0),
    "shuffleReadBytes": ("shuffle_read_bytes", 1.0),
    "executorRunTime": ("executor_run_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputRecords": ("input_records", 1.0),
}


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def fail_accounting(attempted: int, failed: int) -> float:
    """Share of operations that passed: ``(attempted - failed) / attempted``."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return (attempted - failed) / attempted


def covered_s(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it covered by its direct children."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered_s(
            (max(lo, s["start"]), min(hi, s["end"])) for lo, hi in children.get(s["id"], ()))
        for s in spans
    }


class Tracer:
    """Records spans when enabled; a no-op context otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._jvm_io = None
        self.run_id = 0

    def bind(self, spark) -> None:
        from pyspark import SparkContext

        self._sc = spark.sparkContext
        proc = getattr(SparkContext._gateway, "proc", None)
        self._jvm_io = f"/proc/{proc.pid}/io" if proc is not None else None

    def _jvm_read(self) -> int:
        if self._jvm_io is None:
            return 0
        with open(self._jvm_io) as f:
            return next(int(line.split()[1]) for line in f if line.startswith("rchar:"))

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"sedbench-span-{sid}", "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self._sc is not None:
            self._sc.setJobGroup(rec["group"], name)
        read0 = self._jvm_read()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jvm_read_bytes"] = self._jvm_read() - read0
            self._stack.pop()
            if self._sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self._sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)

    # -- Spark stage metrics -------------------------------------------------
    def attach_stage_metrics(self, timeout_s: float = 20.0) -> None:
        """Sum the stage metrics of each span's own jobs into ``span["spark"]``."""
        if self._sc is None or not self.spans:
            return
        url = self._sc.uiWebUrl
        if not url:
            raise RuntimeError("traced runs need the Spark UI for stage metrics")
        port = url.rsplit(":", 1)[1]
        base = f"http://127.0.0.1:{port}/api/v1/applications/{self._sc.applicationId}"
        # the UI's listener lags the driver: wait until every job and stage
        # the run started has settled
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = _get_json(f"{base}/jobs")
            stages = _get_json(f"{base}/stages")
            busy = any(j["status"] == "RUNNING" for j in jobs) or any(
                st["status"] in ("ACTIVE", "PENDING") for st in stages)
            if not busy or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        attempts: dict[int, list[dict]] = defaultdict(list)
        for st in stages:
            if st["status"] in ("COMPLETE", "FAILED"):
                attempts[st["stageId"]].append(st)
        by_group: dict[str, set[int]] = defaultdict(set)
        job_times: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for j in jobs:
            if j.get("jobGroup"):
                by_group[j["jobGroup"]].update(j["stageIds"])
                if j.get("completionTime"):
                    job_times[j["jobGroup"]].append(
                        (_epoch_s(j["submissionTime"]), _epoch_s(j["completionTime"])))
        for s in self.spans:
            counters = dict.fromkeys((name for name, _ in STAGE_FIELDS.values()), 0.0)
            for stage_id in by_group.get(s["group"], ()):
                for st in attempts.get(stage_id, ()):
                    for field, (name, scale) in STAGE_FIELDS.items():
                        counters[name] += float(st.get(field) or 0) * scale
            # wall time the span's own Spark jobs ran, from submission to
            # completion; the rest of the span is driver-side work
            counters["job_s"] = covered_s(job_times.get(s["group"], ()))
            s["spark"] = counters

    def dump(self, path: str, extra: dict) -> None:
        selft = self_times(self.spans)
        with open(path, "w") as f:
            json.dump({
                **extra,
                "spans": [{**s, "self_s": selft[s["id"]]} for s in self.spans],
            }, f, indent=1, default=float)


def _epoch_s(stamp: str) -> float:
    """Seconds since the epoch of a status API time such as
    ``2026-01-02T03:04:05.678GMT``."""
    return datetime.strptime(stamp.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.loads(resp.read())
