"""Spans around calls into the program's layers, and the Spark event log
folded per span.

A span sets the Spark job group to ``<iteration>|<layer>`` for its
duration, so every job, stage and task the layer call triggers is
attributed to it in the event log. Spans nest: a span's self time is its
wall minus the walls of the spans opened inside it. With tracing off the
same calls run with no job groups and no bookkeeping.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import SparkSession


class Tracer:
    def __init__(self, spark: SparkSession, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.iteration = "warmup"
        self.spans: list[tuple[str, str, float]] = []  # (iteration, layer, self_s)
        self.counts: dict[tuple[str, str], float] = {}
        self.windows: dict[str, tuple[float, float]] = {}  # iteration -> epoch s
        self.storage_peak_mb: dict[str, float] = defaultdict(float)
        self._stack: list[list] = []

    def _group(self, layer: str) -> None:
        self.sc.setJobGroup(f"{self.iteration}|{layer}", layer)

    @contextmanager
    def iterate(self, name: str):
        """Mark one workload iteration; its jobs outside any layer span fall
        in the ``<iteration>|-`` group."""
        self.iteration = name
        if self.enabled:
            self._group("-")
        t0 = time.time()
        try:
            yield
        finally:
            self.windows[name] = (t0, time.time())

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        self._group(layer)
        self._stack.append([layer, 0.0])
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            _, child = self._stack.pop()
            self.spans.append((self.iteration, layer, wall - child))
            if self._stack:
                self._stack[-1][1] += wall
            self._group(self._stack[-1][0] if self._stack else "-")
            self._sample_storage()

    def cover(self, layers: list[str]) -> None:
        """Open and close an empty span for each of ``layers`` the current
        iteration did not enter, so a layer a workload does not run reads
        the span's own cost (a few microseconds), as measured, not 0."""
        if not self.enabled:
            return
        seen = {layer for it, layer, _ in self.spans if it == self.iteration}
        for layer in layers:
            if layer not in seen:
                with self.span(layer):
                    pass

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[(self.iteration, name)] = value

    def _sample_storage(self) -> None:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        used = sum(i.memSize() + i.diskSize() for i in infos)
        it = self.iteration
        self.storage_peak_mb[it] = max(self.storage_peak_mb[it], used / 2**20)

    def self_s(self, iteration: str) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for it, layer, s in self.spans:
            if it == iteration:
                out[layer] += s
        return out


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Fold an uncompressed Spark event log into per-group totals:
    jobs, stages, tasks, executor run s, GC s, shuffle write / output /
    spill bytes, task durations and job intervals (epoch s)."""
    paths = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one closed event log in {log_dir}, got {paths}")
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
        "gc_s": 0.0, "shuffle_write_b": 0, "output_b": 0, "spill_b": 0,
        "task_ms": [], "job_spans": [],
    })
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                jid = ev["Job ID"]
                job_group[jid] = g
                job_start[jid] = ev["Submission Time"] / 1000
                groups[g]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                jid = ev["Job ID"]
                groups[job_group[jid]]["job_spans"].append(
                    (job_start[jid], ev["Completion Time"] / 1000))
            elif kind == "SparkListenerStageCompleted":
                g = stage_group.get(ev["Stage Info"]["Stage ID"])
                if g is not None:
                    groups[g]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                acc = groups[g]
                info = ev["Task Info"]
                acc["tasks"] += 1
                acc["task_ms"].append(info["Finish Time"] - info["Launch Time"])
                acc["executor_run_s"] += m["Executor Run Time"] / 1000
                acc["gc_s"] += m["JVM GC Time"] / 1000
                acc["shuffle_write_b"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                acc["output_b"] += m["Output Metrics"]["Bytes Written"]
                acc["spill_b"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return dict(groups)


def busy_s(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
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


def task_skew(task_ms: list[float]) -> float:
    """Max over median task duration (1.0 = perfectly even)."""
    if not task_ms:
        return 0.0
    return max(task_ms) / max(statistics.median(task_ms), 1.0)
