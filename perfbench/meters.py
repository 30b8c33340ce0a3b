"""Outside-in meters: process-tree CPU and memory read from ``/proc``, and
per-job-group Spark metrics read from the driver's status store.

The process tree is the benchmark's own process (the PySpark driver) and
every descendant: the JVM that ``session.get_spark`` launches and the
Python workers the JVM forks. Executor metrics count JVM task threads
only, so CPU spent in ``mapInPandas`` / ``mapInArrow`` kernels is visible
here and nowhere else; it is kept apart as the Python-worker share.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after comm, 0-based: 1 ppid, 11-14 utime stime cutime cstime
    cpu = sum(int(x) for x in rest[11:15]) / _TICK
    return comm, int(rest[1]), cpu


def snapshot(root: int | None = None) -> dict[int, tuple[str, int, float]]:
    """Every live process of the tree under ``root`` (default: self)."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                procs[int(name)] = s
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in tree:
            tree[pid] = procs[pid]
            frontier.extend(p for p, s in procs.items() if s[1] == pid)
    return tree


def cpu_split(tree: dict[int, tuple[str, int, float]]) -> dict[str, float]:
    """Tree CPU seconds, split into the JVM, its Python workers and the
    driver process. A worker that exited was reaped by its parent inside
    the tree, so its CPU sits in that parent's children counters."""
    under_jvm: set[int] = set()
    for pid, (comm, _ppid, _cpu) in tree.items():
        if comm == "java":
            under_jvm.add(pid)
    changed = True
    while changed:
        changed = False
        for pid, (_c, ppid, _cpu) in tree.items():
            if ppid in under_jvm and pid not in under_jvm:
                under_jvm.add(pid)
                changed = True
    total = sum(s[2] for s in tree.values())
    jvm = sum(s[2] for p, s in tree.items() if s[0] == "java")
    # the JVM's own children counters would hold reaped workers too, but
    # its direct children (the worker daemon) live as long as the JVM
    pyworker = sum(s[2] for p, s in tree.items()
                   if p in under_jvm and s[0] != "java")
    return {"total": total, "jvm": jvm, "pyworker": pyworker}


def reset_peaks(tree) -> None:
    """Restart the kernel's resident-memory high-water mark (VmHWM) of
    every process in ``tree`` at its current resident size."""
    for pid in tree:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:  # the process ended meanwhile
            pass


def peak_rss(tree) -> int:
    """Sum of the VmHWM of every process in ``tree``, in bytes: the
    high-water mark since ``reset_peaks`` (or since a process started).
    A worker that started and exited in between is not counted."""
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class StatusStore:
    """Job, stage and task metrics per job group, from the status store
    the SparkContext keeps in-process (no UI or event log needed)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def group(self, group: str) -> dict[str, float]:
        # stage metrics reach the store through the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "executor_cpu_s": 0.0, "executor_run_s": 0.0, "gc_s": 0.0,
               "shuffle_mb": 0.0, "spill_mb": 0.0, "input_records": 0,
               "scan_tasks": 0}
        stages: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        for sid in sorted(stages):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage never submitted
                continue
            done = st.numCompleteTasks()
            if done == 0:      # skipped: its shuffle output was reused
                continue
            out["stages"] += 1
            out["tasks"] += done
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_mb"] += (st.shuffleReadBytes()
                                  + st.shuffleWriteBytes()) / 1e6
            out["spill_mb"] += (st.memoryBytesSpilled()
                                + st.diskBytesSpilled()) / 1e6
            if st.inputRecords() > 0:     # the stage reads a source
                out["input_records"] += st.inputRecords()
                out["scan_tasks"] += done
        return out

