"""Measurement from outside the engine: spans, per-operation probes,
cache hygiene and Spark event-log totals.

Every timed operation runs inside ``Probe.op``. Untraced, that is two
clock reads plus the cache hygiene that follows each operation. Traced,
it also sets a Spark job group, reads JVM GC time over py4j and the
process tree's CPU time and peak RSS from /proc, and counts the
operation's Spark jobs. Spans stay in memory and are written out once
at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def proc_tree(root: int) -> list[int]:
    """``root`` and every descendant process, from /proc."""
    children: dict[int, list[int]] = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(st.split("/")[2]))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the process tree under ``root``."""
    total = 0
    for pid in proc_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / _TICK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the per-process peak RSS (VmHWM) over the process tree."""
    kb = 0
    for pid in proc_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


def release_caches(spark) -> int:
    """Count the persisted RDDs an operation left behind, then clear the
    cache manager and unpersist the rest, so that no later operation
    reads a cache an earlier one filled. Returns the count."""
    jsc = spark.sparkContext._jsc
    left = jsc.getPersistentRDDs()
    n = left.size()
    if n:
        spark.catalog.clearCache()
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
    return n


def jvm_gc_ms(spark) -> int:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Probe:
    """Spans and per-operation probes for one benchmark run."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.trace = trace
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.monotonic()
        self._seq = 0
        self.max_persisted = 0
        self.peak_rss_mb = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        """A plain span (no probes): name, start, end, parent."""
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic() - self._t0,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.monotonic() - self._t0
            sp["s"] = sp["end"] - sp["start"]

    @contextmanager
    def op(self, kind: str, name: str, **attrs):
        """A timed engine operation of ``kind`` (build, add, delete,
        merge, query, pipeline). Cache hygiene runs after the span
        closes, outside its time."""
        self._seq += 1
        group = f"{kind}:{self._seq}"
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(group, name)
            gc0, cpu0 = jvm_gc_ms(self.spark), tree_cpu_s(os.getpid())
        with self.span(name, kind=kind, group=group, **attrs) as sp:
            yield sp
        if self.trace:
            sp["jvm_gc_ms"] = jvm_gc_ms(self.spark) - gc0
            sp["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            sp["spark_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            self.peak_rss_mb = max(self.peak_rss_mb, tree_peak_rss_mb(os.getpid()))
            sc.setLocalProperty("spark.jobGroup.id", None)
        sp["persisted_rdds_after"] = release_caches(self.spark)
        self.max_persisted = max(self.max_persisted, sp["persisted_rdds_after"])

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def by_kind(self, kind: str) -> list[dict]:
        return [s for s in self.spans if s.get("kind") == kind]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


STAGE_FIELDS = ("run_s", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job-group kind (the part of the group id before ':'), the
    summed task metrics of Spark's JSON event log: executor run time,
    JVM GC time, shuffle read/write bytes and spill bytes."""
    stage_kind: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    # Spark 4 writes a directory per application (rolling event log)
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev["Stage IDs"]:
                            stage_kind[sid] = group.split(":")[0]
                elif kind == "SparkListenerTaskEnd":
                    k = stage_kind.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if k is None or not m:
                        continue
                    acc = out.setdefault(k, dict.fromkeys(STAGE_FIELDS, 0.0))
                    rd = m.get("Shuffle Read Metrics", {})
                    acc["run_s"] += m.get("Executor Run Time", 0) / 1000
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    acc["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out
