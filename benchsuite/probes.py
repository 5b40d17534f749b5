"""Counters read outside the timed region: CPU time of the process tree
from /proc, host steal/system share from /proc/stat, and per-operation
deltas of Spark's status store (which works with the UI disabled)."""

from __future__ import annotations

import os

CLK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[str, int, int, int]]:
    """pid -> (comm, ppid, own cpu ticks, reaped-children cpu ticks)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        f = raw[raw.rindex(")") + 2 :].split()
        # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        out[int(name)] = (comm, int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14]))
    return out


def tree_pids(root: int, stats: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_sample() -> dict[str, float]:
    """CPU seconds so far of the benchmark's process tree, split into the
    driver (this Python process), the JVM, and Python workers. A reaped
    child's time lands in its parent's cumulative counters: workers reaped
    by the pyspark daemon count in the daemon's, daemons reaped by the JVM
    are attributed to Python workers."""
    root = os.getpid()
    stats = _proc_stats()
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
    for pid in tree_pids(root, stats):
        comm, _, own, reaped = stats.get(pid, ("", 0, 0, 0))
        if pid == root:
            out["driver"] += own / CLK
        elif comm == "java":
            out["jvm"] += own / CLK
            out["pyworker"] += reaped / CLK
        elif comm.startswith("python"):
            out["pyworker"] += (own + reaped) / CLK
        else:
            out["other"] += (own + reaped) / CLK
    out["total"] = sum(out.values())
    return out


def cpu_delta(a: dict, b: dict) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


def peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak RSS."""
    total_kb = 0
    for pid in tree_pids(os.getpid(), _proc_stats()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def host_stat() -> list[int]:
    """Aggregate jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_share(a: list[int], b: list[int]) -> dict[str, float]:
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d) or 1
    return {"system": d[2] / tot, "steal": d[7] / tot, "idle": d[3] / tot}


class StatusDelta:
    """Jobs, stages, tasks and executor time of everything that ran since
    the last call, from the app status store (newest-first lists, so only
    the new entries are visited)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._gw = sc._gateway
        self.mark()

    def _drain(self):
        self._sc.listenerBus().waitUntilEmpty()
        return self._sc.statusStore()

    def _new_stages(self, store) -> list:
        seq = store.stageList(None, False, False, self._gw.new_array(self._gw.jvm.double, 0), None)
        out = []
        for i in range(seq.length()):
            s = seq.apply(i)
            if s.stageId() <= self._stage:
                break
            out.append(s)
        return out

    def _new_jobs(self, store) -> list[int]:
        seq = store.jobsList(None)
        out = []
        for i in range(seq.length()):
            j = seq.apply(i).jobId()
            if j <= self._job:
                break
            out.append(j)
        return out

    def mark(self) -> None:
        store = self._drain()
        jobs = store.jobsList(None)
        self._job = jobs.apply(0).jobId() if jobs.length() else -1
        stages = store.stageList(None, False, False, self._gw.new_array(self._gw.jvm.double, 0), None)
        self._stage = stages.apply(0).stageId() if stages.length() else -1

    def delta(self) -> dict[str, float]:
        store = self._drain()
        jobs = self._new_jobs(store)
        stages = self._new_stages(store)
        out = {
            "jobs": len(jobs),
            "stages": 0,
            "tasks": 0,
            "run_s": 0.0,
            "cpu_s": 0.0,
            "gc_s": 0.0,
            "read_bytes": 0,
            "write_bytes": 0,
            "spill_bytes": 0,
        }
        for s in stages:
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["read_bytes"] += s.shuffleReadBytes()
            out["write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        if jobs:
            self._job = jobs[0]
        if stages:
            self._stage = stages[0].stageId()
        return out
