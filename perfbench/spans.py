"""Spans around calls into engine layers, and the Spark stage metrics of
each span read back from the run's event log.

A span sets the Spark job description to its name, so every job the call
launches (broadcast jobs included: Spark copies the local properties to
its exchange threads) is tagged with it. The event log is written
uncompressed, because this Python has no zstd module for Spark 4's
default codec, and is parsed with the standard ``json`` module.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

STAGE_METRICS = (
    "jobs",
    "stages",
    "executor_run_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "spill_bytes",
    "peak_exec_mem_bytes",
)
STAGE_UNITS = {
    "jobs": "count",
    "stages": "count",
    "executor_run_ms": "ms",
    "gc_ms": "ms",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "peak_exec_mem_bytes": "bytes",
}


class Tracer:
    """Records (name, start, end, parent) spans in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(parent)
            self.spans.append({"name": name, "start": t0, "end": t1, "parent": parent})

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def event_log_conf(log_dir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def stage_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """description -> summed task metrics of the jobs carrying it."""
    job_desc: dict[int, str] = {}
    stage_desc: dict[int, str] = {}
    done_stages: set[int] = set()
    task_rows = []
    # Spark 4 writes one eventlog_v2_<app> directory per application
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    if desc:
                        job_desc[ev["Job ID"]] = desc
                        for sid in ev.get("Stage IDs", []):
                            stage_desc[sid] = desc
                elif kind == "SparkListenerStageCompleted":
                    done_stages.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    task_rows.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(STAGE_METRICS, 0))
    for desc in job_desc.values():
        out[desc]["jobs"] += 1
    for sid in done_stages:
        if sid in stage_desc:
            out[stage_desc[sid]]["stages"] += 1
    for sid, m in task_rows:
        desc = stage_desc.get(sid)
        if desc is None:
            continue
        o = out[desc]
        o["executor_run_ms"] += m.get("Executor Run Time", 0)
        o["gc_ms"] += m.get("JVM GC Time", 0)
        o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        o["peak_exec_mem_bytes"] = max(o["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0))
    return dict(out)


def stage_exec_mem_bytes(spark) -> dict[tuple[int, int], int]:
    """(stage id, attempt) -> the stage's peak execution memory summed over
    its tasks: Spark's own accounting of the hash tables, sort and
    aggregation buffers its operators reserve. Read from the application
    status store once the listener bus has delivered every event."""
    sc = spark.sparkContext
    ssc = sc._jsc.sc()
    ssc.listenerBus().waitUntilEmpty()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    it = ssc.statusStore().stageList(None, False, False, no_quantiles, None).iterator()
    out = {}
    while it.hasNext():
        s = it.next()
        out[(s.stageId(), s.attemptId())] = s.peakExecutionMemory()
    return out


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set size of the Spark driver JVM (the gateway
    process), from /proc."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
