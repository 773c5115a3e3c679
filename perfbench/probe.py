"""Counters read from outside the program: the process tree under
/proc, and Spark's status tracker and status store per job group."""

from __future__ import annotations

import os
import threading
import time
import uuid
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU of the live tree, including reaped children
    (a finished Python worker's time moves to the daemon that reaped it)."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    """Resident memory of the live tree, with pages shared between
    processes (forked Python workers) divided among them (Pss)."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


class PeakMemory:
    """Samples the tree's resident memory in a background thread and
    keeps the peak."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root, self.interval_s, self.peak_mb = root, interval_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))


def rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmRSS:") / 1024.0


def du_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total / 1e6


class SparkCounters:
    """Jobs, tasks, shuffle bytes and executor CPU time per span, attributed
    through a job group per span and read once the listener bus has
    delivered every event of the span's jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.jvm_pid = int(self.sc._gateway.proc.pid)

    @contextmanager
    def span(self, rec: dict):
        """Run the body under a fresh job group; add the span's counters
        to ``rec`` on exit."""
        group = f"perfbench-{uuid.uuid4().hex}"
        self.sc.setJobGroup(group, group)
        try:
            yield rec
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._bus.waitUntilEmpty()
            jobs = self.sc.statusTracker().getJobIdsForGroup(group)
            stages = set()
            for j in jobs:
                info = self.sc.statusTracker().getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = cpu_ns = shuffle = 0
            for s in stages:
                try:
                    data = self._store.lastStageAttempt(s)
                except Exception:  # a stage skipped before any attempt
                    continue
                tasks += data.numCompleteTasks()
                cpu_ns += data.executorCpuTime()
                shuffle += data.shuffleWriteBytes()
            rec["jobs"] = rec.get("jobs", 0) + len(jobs)
            rec["tasks"] = rec.get("tasks", 0) + tasks
            rec["exec_cpu_s"] = rec.get("exec_cpu_s", 0.0) + cpu_ns / 1e9
            rec["shuffle_mb"] = rec.get("shuffle_mb", 0.0) + shuffle / 1e6


@contextmanager
def timed(rec: dict, key: str):
    t = time.perf_counter()
    try:
        yield
    finally:
        rec[key] = rec.get(key, 0.0) + time.perf_counter() - t
