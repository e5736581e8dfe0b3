"""Benchmark-side tracing: spans around calls into the engine's layers.

A span records (name, start, end, parent, operation id) in memory; the
tracer writes them out once, when the run ends. While a span is open its
thread's Spark job group is ``pb-<span id>``, so every Spark job the call
launches is attributed to the innermost open span; after the run the
local UI's REST API gives each job's stages (tasks, executor run time,
bytes read/written/shuffled) and each SQL execution's plan metrics (files
read, broadcast sizes).

With tracing off, :meth:`Tracer.span` returns a shared no-op context, so
the untraced run pays one attribute lookup per call.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from pathlib import Path

_NOOP = nullcontext()


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)

    def span(self, name: str, op: int | None = None):
        """Context manager for one call into layer ``name.split('.')[0]``."""
        if not self.enabled:
            return _NOOP
        return self._span(name, op)

    @contextmanager
    def _span(self, name: str, op: int | None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(rec)
        self.sc.setJobGroup(f"pb-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"pb-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(rec)

    def write(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its child spans cover (children
    run on the parent's thread, so they never overlap each other)."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child_time[s["id"]] for s in spans}


# ------------------------------------------------------- Spark UI metrics

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _size_bytes(text: str) -> float:
    """'1024.8 KiB' -> bytes. Multi-task metrics read 'total (min, med,
    max ...)\\n<total> (...)'; the total is the first size on the last line."""
    m = re.search(r"([\d,.]+)\s*(B|KiB|MiB|GiB|TiB)", text.strip().splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0


def _count(text: str) -> int:
    m = re.search(r"[\d,]+", text.strip().splitlines()[-1])
    return int(m.group(0).replace(",", "")) if m else 0


class SparkUI:
    """Reads job/stage/SQL/storage metrics from the local UI REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until the status store has seen every finished job (the
        listener bus is asynchronous)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if not self.sc.statusTracker().getActiveJobsIds():
                running = [j for j in self._get("/jobs") if j["status"] == "RUNNING"]
                if not running:
                    return
            time.sleep(0.1)

    def persisted_bytes(self) -> int:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self._get("/storage/rdd"))

    def per_group(self) -> dict[str, dict[str, float]]:
        """Job group -> summed job/stage/SQL metrics of its jobs."""
        self.settle()
        jobs = self._get("/jobs")
        stages = {(s["stageId"]): s for s in self._get("/stages?details=false") if s["attemptId"] == 0}
        job_group = {}
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for j in jobs:
            g = j.get("jobGroup") or ""
            job_group[j["jobId"]] = g
            m = out[g]
            m["jobs"] += 1
            for sid in j["stageIds"]:
                st = stages.get(sid)
                if st is None or st["status"] == "SKIPPED":
                    continue
                m["tasks"] += st["numTasks"]
                m["run_ms"] += st["executorRunTime"]
                m["input_bytes"] += st["inputBytes"]
                m["input_records"] += st["inputRecords"]
                m["output_bytes"] += st["outputBytes"]
                m["output_records"] += st["outputRecords"]
                m["shuffle_write_bytes"] += st["shuffleWriteBytes"]
        for e in self._get("/sql?details=true&planDescription=false&offset=0&length=1000000"):
            ids = e.get("successJobIds", []) + e.get("failedJobIds", []) + e.get("runningJobIds", [])
            if not ids:
                continue
            m = out[job_group.get(ids[0], "")]
            for node in e.get("nodes", []):
                for met in node.get("metrics", []):
                    if met["name"] == "number of files read":
                        m["files_read"] += _count(met["value"])
                    elif met["name"] == "data size" and node["nodeName"] == "BroadcastExchange":
                        m["broadcast_bytes"] += _size_bytes(met["value"])
        return out


# ------------------------------------------------------------- memory

def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def retained_heap_mb(spark) -> float:
    """JVM heap in use after a full GC, through the JMX memory bean. GC runs
    three times: Spark's ContextCleaner frees shuffle and broadcast state
    only after a GC has found it unreachable."""
    jvm = spark._jvm
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.3)
    used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return used / 1e6


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` (default:
    this one) and all its descendants — the JVM and Spark's Python workers —
    including descendants already reaped. Read from /proc."""
    root = root or os.getpid()
    tick = os.sysconf("SC_CLK_TCK")
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed
            continue
        # fields[1] is ppid; [11..14] utime stime cutime cstime
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        children[ppid].append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            total += procs[pid][1]
            stack.extend(children[pid])
    return total / tick
