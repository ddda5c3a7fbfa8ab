"""Measurement from outside the program: spans with Spark job groups,
Spark's AppStatusStore read through py4j, and the resident memory of the
JVM process tree.

Every op runs under its own job group, so the status store attributes
each job and stage to the span that submitted it.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

_INTS = re.compile(r"-?\d+")


def _ints(java_obj) -> list[int]:
    """Integers of a Scala collection, read from its string form in one
    py4j call instead of one call per element."""
    return [int(x) for x in _INTS.findall(java_obj.toString())]


class SparkStatus:
    """Reads of the live status store of one SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.cores = self.sc.defaultParallelism

    def drain(self) -> None:
        """Wait until the listener bus has applied every event so far."""
        self.jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage(self, stage_id: int) -> dict | None:
        try:
            s = self.store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 — evicted or never registered
            return None
        sub, done = s.submissionTime(), s.completionTime()
        return {
            "id": stage_id,
            "status": s.status().toString(),
            "rdds": frozenset(_ints(s.rddIds())),
            "tasks": s.numCompleteTasks(),
            "tasks_failed": s.numFailedTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_write_b": s.shuffleWriteBytes(),
            "shuffle_read_b": s.shuffleReadBytes(),
            "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
            "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
            "end": done.get().getTime() / 1e3 if done.isDefined() else None,
        }

    def group_stages(self, group: str) -> tuple[list[int], list[dict]]:
        """(job ids, stage records) of every job submitted under ``group``."""
        jobs = self.job_ids(group)
        stage_ids: set[int] = set()
        for j in jobs:
            stage_ids.update(_ints(self.store.job(j).stageIds()))
        stages = [s for s in map(self.stage, sorted(stage_ids)) if s is not None]
        return jobs, stages


def foreign_skips(stages: list[dict]) -> list[int]:
    """Skipped stages whose shuffle output was not written inside the same
    op. Adaptive execution skips the map stage of a shuffle it has just run
    in an earlier job of the op, so its RDDs are ones a completed stage of
    the op ran; a skipped stage with any other RDD reuses work done outside
    the timer (a cached table's RDD alone is shared across plans, hence a
    subset test and not an overlap test)."""
    ran = set()
    for s in stages:
        if s["status"] == "COMPLETE":
            ran |= s["rdds"]
    return [s["id"] for s in stages if s["status"] == "SKIPPED" and not s["rdds"] <= ran]


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


class Tracer:
    """Spans in memory: name, start, end, parent, run id. Every span runs
    its Spark jobs under a job group named by its span id. With
    ``enabled`` false only op spans exist and nothing is read from the
    status store except by the caller."""

    def __init__(self, spark, status: SparkStatus, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.status = status
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, op: bool = False):
        if not (op or self.enabled):
            yield None
            return
        rec = {
            "id": f"{self.run_id}.{len(self.spans)}",
            "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self.stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["wall_start"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1]["id"], self.stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            if self.enabled:
                t0 = time.perf_counter()
                self._attach(rec)
                self.overhead_s += time.perf_counter() - t0

    def _attach(self, rec: dict) -> None:
        self.status.drain()
        jobs, stages = self.status.group_stages(rec["id"])
        rec["jobs"] = jobs
        rec["stages"] = stages
        ran = [s for s in stages if s["status"] != "SKIPPED"]
        rec["spark"] = {
            "jobs": len(jobs),
            "stages_run": len(ran),
            "stages_skipped": len(stages) - len(ran),
            "tasks": sum(s["tasks"] for s in ran),
            "run_s": sum(s["run_s"] for s in ran),
        }

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def subtree(self, rec: dict) -> list[dict]:
        out, todo = [], [rec]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, rec: dict) -> float:
        kids = [(c["start"], c["end"]) for c in self.children(rec)]
        return (rec["end"] - rec["start"]) - covered_seconds(kids, rec["start"], rec["end"])


def host_cpu_times() -> tuple[int, int]:
    """(all CPU time, steal time) of the host so far, in clock ticks, from
    the first line of /proc/stat."""
    with open("/proc/stat", encoding="utf-8") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def alive(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def process_tree(pid: int) -> list[int]:
    kids = _proc_children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb(pid: int) -> dict[int, float]:
    """VmHWM (each process's own peak resident set) in MB of ``pid`` and
    of each of its descendants: the JVM and the Python workers it started."""
    out: dict[int, float] = {}
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status", encoding="utf-8") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[p] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out
