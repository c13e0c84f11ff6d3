"""Outside-in measurement of one op: wall time, process-tree CPU split into
driver / JVM / Python-worker from /proc, peak RSS, and every Spark job,
stage and task submitted while the op ran.

Jobs are found by job id, not by job group: job ids are sequential per
SparkContext, while job groups are thread-local (the scan's group passes
run on pool threads and broadcast exchanges set their own group), so a
group filter would undercount. The benchmark is the only client of its
SparkContext, so every new job id belongs to the op.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass
class OpSample:
    wall_s: float
    cpu_s: dict[str, float]  # driver / jvm / pyworker / jit
    jobs: int
    stages: int  # stages that ran at least one task
    tasks: int

    @property
    def cpu_total_s(self) -> float:
        """Process-tree CPU, JIT compilation included."""
        return sum(self.cpu_s.values())


def _procs() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, CPU ticks incl. reaped children) for every process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited between listdir and open
            continue
        rparen = stat.rindex(")")
        comm = stat[stat.index("(") + 1 : rparen]
        f = stat[rparen + 2 :].split()
        out[int(entry)] = (int(f[1]), comm, sum(int(x) for x in f[11:15]))
    return out


def process_tree(procs: dict[int, tuple[int, str, int]]) -> dict[int, str]:
    """This process and its descendants, each classed as 'driver' (this
    process), 'pyworker' (a python process under the JVM) or 'jvm' (the JVM
    and its launcher)."""
    root = os.getpid()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out = {root: "driver"}
    stack = [(c, False) for c in children.get(root, [])]
    while stack:
        pid, under_jvm = stack.pop()
        comm = procs[pid][1]
        out[pid] = "pyworker" if under_jvm and comm.startswith("python") else "jvm"
        under_jvm = under_jvm or comm == "java"
        stack.extend((c, under_jvm) for c in children.get(pid, []))
    return out


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads (fixed threads: the run
    turns dynamic compiler threads off, so none exits and takes its time
    into the process total)."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        rparen = stat.rindex(")")
        if stat[stat.index("(") + 1 : rparen].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            f = stat[rparen + 2 :].split()
            total += int(f[11]) + int(f[12])
    return total


def tree_cpu_s() -> dict[str, float]:
    """CPU seconds (user+system, incl. reaped children) per process class,
    with the JVM's JIT compiler threads apart as 'jit'."""
    procs = _procs()
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "jit": 0.0}
    for pid, cls in process_tree(procs).items():
        ticks = procs[pid][2]
        if procs[pid][1] == "java":
            jit = _jit_ticks(pid)
            out["jit"] += jit / _TICK
            ticks -= jit
        out[cls] += ticks / _TICK
    return out


def tree_peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak RSS (VmHWM)."""
    total_kb = 0
    for pid in process_tree(_procs()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class JobCounter:
    """Reads every job submitted since the last call, through the
    SparkContext's status tracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.next_job = 0

    def take(self) -> tuple[int, int, int]:
        """(jobs, executed stages, tasks) submitted since the last call."""
        # the status store is fed by the asynchronous listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        first, stage_ids = self.next_job, set()
        while (info := tracker.getJobInfo(self.next_job)) is not None:
            stage_ids.update(info.stageIds)
            self.next_job += 1
        stages = tasks = 0
        for sid in stage_ids:
            st = tracker.getStageInfo(sid)
            # a stage listed but never run (AQE or shuffle reuse) ran no task
            ran = 0 if st is None else st.numCompletedTasks + st.numFailedTasks
            stages += ran > 0
            tasks += ran
        return self.next_job - first, stages, tasks


class Instrument:
    def __init__(self, spark) -> None:
        self.jobs = JobCounter(spark)

    def measure(self, fn):
        """Run `fn()` and return (its result, OpSample)."""
        self.jobs.take()  # forget jobs of earlier output checks
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        result = fn()
        wall = time.perf_counter() - t0
        cpu1 = tree_cpu_s()
        cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        return result, OpSample(wall, cpu, *self.jobs.take())
