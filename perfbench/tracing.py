"""Measurement from outside the program: process-tree CPU from /proc and
per-span Spark metrics from the status store.

A span tags every Spark job it launches with a job group
(`SparkContext.setJobGroup`), then reads what those jobs cost from the
application status store. The status store is Spark's internal API (it
works with the UI off), so every read is fail-soft: a read that fails
leaves the span's Spark metrics at -1 and records the error.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name (field 2) may hold spaces; fields restart after ')'
    return raw[raw.rindex(")") + 2 :].split()


def _proc_table() -> dict[int, list[str]]:
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None:
                table[int(name)] = st
    return table


def _tree(table: dict[int, list[str]], root_pid: int) -> set[int]:
    parent = {pid: int(st[1]) for pid, st in table.items()}
    tree, frontier = set(), {root_pid} & set(table)
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parent.items() if pp in frontier} - tree
    return tree


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of `root_pid` and all its descendants, reaped children
    included, plus this process's own CPU (the driver's Python side)."""
    table = _proc_table()
    # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
    ticks = sum(sum(int(x) for x in table[p][11:15]) for p in _tree(table, root_pid))
    own = os.times()
    return ticks / _TICK + own.user + own.system


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over this
    machine's CPUs: the contention that makes run-to-run times drift."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def descendants(root_pid: int) -> set[int]:
    """Live pids under `root_pid`, itself included."""
    return _tree(_proc_table(), root_pid)


SPARK_FIELDS = ("task_s", "gc_s", "shuffle_write_mb", "spill_mb", "task_skew", "jobs")


class Tracer:
    """Spans kept in memory, each with the Spark cost of its job group.

    Spark job groups belong to the thread that sets them, so a span opened
    in the thread that runs the work attributes that work correctly even
    while other threads run theirs. Each thread keeps its own span stack;
    a thread's outermost span takes the innermost span open on the main
    thread as its parent."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.errors: list[str] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parents = stack or self._main_stack
        with self._lock:
            rec = {"id": len(self.spans), "name": name,
                   "parent": parents[-1] if parents else None, "trace": self.run_id, **attrs}
            self.spans.append(rec)
        group = f"{self.run_id}:{name}"
        self.sc.setJobGroup(group, name)
        stack.append(rec["id"])
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            stack.pop()
            # jobs of an enclosing span go back to its group; a span's
            # Spark cost is its own jobs only
            if stack:
                outer = self.spans[stack[-1]]["name"]
                self.sc.setJobGroup(f"{self.run_id}:{outer}", outer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self._spark_cost(group))

    def _spark_cost(self, group: str) -> dict:
        try:
            return self._read_store(group)
        except Exception as e:  # noqa: BLE001 — internal API, fail soft
            self.errors.append(f"{group}: {type(e).__name__}: {e}")
            return {k: -1.0 for k in SPARK_FIELDS}

    def _read_store(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        run_ms = gc_ms = shuffle = spill = 0
        heaviest = None
        for s in sorted(stage_ids):
            data = store.lastStageAttempt(s)
            if data.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused, no tasks ran
            rt = data.executorRunTime()
            run_ms += rt
            gc_ms += data.jvmGcTime()
            shuffle += data.shuffleWriteBytes()
            spill += data.diskBytesSpilled()
            if heaviest is None or rt > heaviest[0]:
                heaviest = (rt, s, data.attemptId())
        skew = 1.0
        if heaviest is not None:
            q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            dist = store.taskSummary(heaviest[1], heaviest[2], q)
            if dist.isDefined():
                rt = dist.get().executorRunTime()
                skew = rt.apply(1) / max(rt.apply(0), 1.0)
        return {
            "task_s": run_ms / 1000.0,
            "gc_s": gc_ms / 1000.0,
            "shuffle_write_mb": shuffle / 1e6,
            "spill_mb": spill / 1e6,
            "task_skew": skew,
            "jobs": len(job_ids),
        }
