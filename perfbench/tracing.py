"""Spans and counters recorded from outside the program.

A :class:`Tracer` keeps spans (name, start, end, parent, request id) and
per-span counters in memory and writes them as JSONL when the run ends.
:class:`SparkProbe` reads what one Spark job group did through public
status surfaces only: ``setJobGroup`` + ``statusTracker`` for the job ids,
Spark's local REST API for stage and SQL metrics.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import threading
import time
import urllib.request
from datetime import datetime


class Tracer:
    """In-memory span recorder.  With ``enabled=False`` a span only times
    its block; nothing is recorded."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        """Time a block; yields a dict the block may add counters to."""
        rec = {"name": name, "attrs": attrs, "counters": {}}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["dur"] = time.perf_counter() - t0
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec.update(id=next(self._ids), parent=parent["id"] if parent else None,
                   request=request or (parent["request"] if parent else None))
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec, default=str) + "\n")


_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_PY_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
             "FlatMapCoGroupsInPandas", "MapInArrow", "BatchEvalPython")


def _metric_seconds(text: str) -> float:
    """SQL-metric display string → seconds.  Task-aggregated metrics read
    'total (min, med, max ...)\\n1.9 s (...)'; plain ones read '358 ms'."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|min|m|h)\b", line)
    return float(m.group(1).replace(",", "")) * _TIME[m.group(2)] if m else 0.0


def _rest_time(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkProbe:
    """Per-job-group engine counters for one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self._execs: list[dict] = []  # finished SQL executions, in id order

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group_counters(self, group: str, wall_s: float) -> dict:
        """Counters of the jobs run under job group ``group``."""
        self.drain()
        return self._job_counters(list(self.sc.statusTracker().getJobIdsForGroup(group)), wall_s)

    def window_counters(self, t0: float, t1: float, wall_s: float) -> dict:
        """Counters of the jobs submitted between epoch seconds ``t0`` and
        ``t1`` — for work on threads the caller cannot tag, such as a
        streaming query's micro-batches."""
        self.drain()
        job_ids = [j["jobId"] for j in self._get("/jobs")
                   if j.get("submissionTime") and t0 <= _rest_time(j["submissionTime"]) <= t1]
        return self._job_counters(job_ids, wall_s)

    def _job_counters(self, job_ids: list[int], wall_s: float) -> dict:
        c = dict.fromkeys(("spark.jobs", "spark.stages", "spark.tasks",
                           "spark.executor_run_s", "spark.executor_cpu_s",
                           "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                           "spark.spill_bytes", "python_workers.exec_s"), 0)
        intervals = []
        for jid in job_ids:
            job = self._get(f"/jobs/{jid}")
            c["spark.jobs"] += 1
            if job.get("submissionTime") and job.get("completionTime"):
                intervals.append((_rest_time(job["submissionTime"]),
                                  _rest_time(job["completionTime"])))
            for sid in job["stageIds"]:
                for att in self._get(f"/stages/{sid}"):
                    if att["status"] == "SKIPPED":
                        continue
                    c["spark.stages"] += 1
                    c["spark.tasks"] += att["numCompleteTasks"]
                    c["spark.executor_run_s"] += att["executorRunTime"] / 1e3
                    c["spark.executor_cpu_s"] += att["executorCpuTime"] / 1e9
                    c["spark.shuffle_read_bytes"] += att["shuffleReadBytes"]
                    c["spark.shuffle_write_bytes"] += att["shuffleWriteBytes"]
                    c["spark.spill_bytes"] += att["memoryBytesSpilled"] + att["diskBytesSpilled"]
        busy, last_end = 0.0, float("-inf")
        for start, end in sorted(intervals):
            start = max(start, last_end)
            if end > start:
                busy += end - start
                last_end = end
        c["spark.driver_gap_s"] = max(wall_s - busy, 0.0)
        c["python_workers.exec_s"] = self._python_seconds(set(job_ids))
        return c

    def _python_seconds(self, job_ids: set[int]) -> float:
        """Sum 'time to run Python workers' over the Python-operator nodes
        of SQL executions that ran any of ``job_ids``.  Finished executions
        are fetched once and kept, so groups read in any order after the
        work see all of theirs."""
        if not job_ids:
            return 0.0
        new = self._get(f"/sql?details=true&planDescription=false&offset={len(self._execs)}"
                        "&length=100000")
        for ex in new:
            if ex.get("status") == "RUNNING":  # fetched again on the next call
                break
            self._execs.append(ex)
        total = 0.0
        for ex in self._execs:
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ran & job_ids:
                continue
            for node in ex.get("nodes", []):
                if node["nodeName"].startswith(_PY_NODES):
                    for m in node.get("metrics", []):
                        if m["name"] == "time to run Python workers":
                            total += _metric_seconds(m["value"])
        return total


def planning_seconds(df) -> float:
    """Analysis + optimization + planning time of ``df``'s QueryExecution,
    from its phase tracker (read after the action ran)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs() / 1e3
    return total


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
