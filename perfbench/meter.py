"""Measurement from outside the program: wall clocks, spans, counters read
from Spark's status store, CPU time of the process tree from /proc, bytes
on disk.  Nothing here reaches into ``hdtspark``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, CPU seconds of the process and its reaped children)."""
    stats: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        # comm may hold spaces: fields resume after the last ')'
        rest = raw[raw.rindex(")") + 2:].split()
        ppid = int(rest[1])
        cpu = sum(int(x) for x in rest[11:15]) / _TICK
        stats[int(name)] = (ppid, cpu)
    return stats


def _tree(stats: dict, root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants(root_pid: int) -> list[int]:
    return _tree(_proc_stats(), root_pid)[1:]


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system, own + reaped children) of ``root_pid``
    and every live descendant: this Python process, the JVM and the
    Python workers the JVM forks."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _tree(stats, root_pid or os.getpid())
               if p in stats)


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine from /proc/stat: steal
    is time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7], sum(v)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class SparkCounters:
    """Jobs and stage metrics of every job submitted inside a window.

    Jobs are attributed by job-id window rather than by job group alone:
    ``pipeline.materialize`` runs jobs from a thread pool, and those threads
    do not inherit the caller's job group.  The benchmark is the only
    client of its session and spans never overlap, so the window is exact.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def flush(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self.flush()
        jobs = self.store.jobsList(None)      # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def window(self, lo: int) -> dict:
        """Counters of the jobs with id > ``lo``."""
        self.flush()
        jobs = self.store.jobsList(None)
        out = {"jobs": 0, "stages": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "executor_cpu_s": 0.0,
               "executor_run_s": 0.0, "output_records": 0,
               "job_intervals": []}
        stage_ids: set[int] = set()
        for i in range(jobs.size()):      # newest first
            j = jobs.apply(i)
            if j.jobId() <= lo:
                break
            out["jobs"] += 1
            sids = j.stageIds()
            stage_ids.update(sids.apply(k) for k in range(sids.size()))
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_intervals"].append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted or never ran
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["output_records"] += sd.outputRecords()
        return out


def covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    """Spans (name, start, end, parent) kept in memory, each with the Spark
    counters of the jobs it launched; written out once at the end."""

    def __init__(self, spark):
        self.counters = SparkCounters(spark)
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.monotonic()

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name,
               "parent": self.spans[self._stack[-1]]["name"] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        lo = self.counters.last_job_id()
        self.sc.setJobGroup(f"perfbench:{name}", name)
        t0 = time.monotonic()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.monotonic() - t0
            rec["start_s"] = t0 - self._t0
            rec["end_s"] = rec["start_s"] + rec["wall_s"]
            c = self.counters.window(lo)
            rec["spark_s"] = covered_s(c.pop("job_intervals"))
            rec.update(c)
            self._stack.pop()
            self.sc.setJobGroup(
                f"perfbench:{self.spans[self._stack[-1]]['name']}"
                if self._stack else "perfbench", "")

    def write(self, path: str, metrics: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "metrics": metrics}, fh, indent=1)
