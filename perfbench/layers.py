"""Per-layer instruments: an in-memory span tracer, per-job-group
Spark task metrics read from the live status store, the JVM's peak
RSS, the process tree's CPU time, and DGIM timings in this process.

Everything here is read between ops, never inside a timed op.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from flink_window_dgim_traffic_spark.dgim import DGIM


class Tracer:
    """Spans kept in memory as (name, parent index, start, end); with
    ``enabled=False`` every call is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, parent, time.perf_counter(), None])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][3] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        """Record a finished span, by default a child of the current
        span; returns its index (-1 when disabled)."""
        if not self.enabled:
            return -1
        if parent is None:
            parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, parent, start, end])
        return len(self.spans) - 1

    def self_times(self) -> dict[str, dict]:
        """Total and self seconds per span name (self = the span's
        duration minus its children's), with call counts."""
        child = [0.0] * len(self.spans)
        for name, parent, t0, t1 in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, dict] = {}
        for i, (name, _, t0, t1) in enumerate(self.spans):
            key = name.split(":")[0]
            row = out.setdefault(key, {"n": 0, "total_s": 0.0, "self_s": 0.0})
            row["n"] += 1
            row["total_s"] += t1 - t0
            row["self_s"] += (t1 - t0) - child[i]
        return out

    def dump(self) -> list[dict]:
        base = self.spans[0][2] if self.spans else 0.0
        return [
            {"name": n, "parent": p, "start_s": t0 - base, "dur_s": t1 - t0}
            for n, p, t0, t1 in self.spans
        ]


EXEC_FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_s", "cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "shuffle_wait_s", "spill_mb",
)


class StageStats:
    """Task metrics per Spark job group, read from the application
    status store (populated with the UI disabled).  The store keeps
    only the most recent ~1000 jobs and stages, so each group is read
    right after the op that produced it."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def read(self, group: str) -> dict[str, float]:
        tot = dict.fromkeys(EXEC_FIELDS, 0.0)
        seen: set[int] = set()
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            tot["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                tot["failed_tasks"] += st.numFailedTasks()
                tot["task_s"] += st.executorRunTime() / 1e3
                tot["cpu_s"] += st.executorCpuTime() / 1e9
                tot["gc_s"] += st.jvmGcTime() / 1e3
                tot["shuffle_read_mb"] += (
                    st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()
                ) / 1e6
                tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                tot["shuffle_wait_s"] += st.shuffleFetchWaitTime() / 1e3
                tot["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / 1e6
        return tot


def add_into(acc: dict[str, float], more: dict[str, float]) -> None:
    for k, v in more.items():
        acc[k] = acc.get(k, 0.0) + v


def jvm_peak_rss_mb(spark) -> float:
    """``VmHWM`` of the Spark JVM (the gateway process)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every process
    below it (the Spark JVM, the Python worker daemon and its workers),
    reaped children included.  Unlike wall time it does not grow when
    the host takes CPU away from this machine."""
    procs: dict[int, tuple[int, int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the command: state, ppid, ..., utime, stime,
        # cutime, cstime at 11..14
        procs[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / _TICK


def dgim_timings(windows: list, size_sec: int = 60) -> dict[str, float]:
    """In-process DGIM cost on the workload's own 1-bits.  ``windows``
    holds one ascending list of 1-bit epoch seconds per window.  Times
    the per-bit :meth:`DGIM.add` over the whole stream (so expiry
    runs) and the closed-form :meth:`DGIM.bulk_add_ones` per window."""
    stream = [t for w in windows for t in w]
    n = max(1, len(stream))
    sk = DGIM(size_sec)
    buckets_max = 0
    t0 = time.perf_counter_ns()
    for t in stream:
        sk.add(t)
    add_ns = (time.perf_counter_ns() - t0) / n
    for w in windows:
        sk = DGIM(size_sec)
        sk.bulk_add_ones(w)
        buckets_max = max(buckets_max, len(sk.buckets))
    t0 = time.perf_counter_ns()
    for w in windows:
        DGIM(size_sec).bulk_add_ones(w)
    bulk_ns = (time.perf_counter_ns() - t0) / n
    return {
        "add_ns": add_ns,
        "bulk_add_ns": bulk_ns,
        "buckets_max": float(buckets_max),
    }
