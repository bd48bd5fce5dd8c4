"""Readings taken from outside the engine: ``/proc`` CPU of the session's
process tree, box diagnostics, and Spark's own status store per job
group."""

from __future__ import annotations

import os
import time

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[str, int, float]]:
    """pid -> (command name, parent pid, CPU seconds of the process and
    of its reaped children)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited while we were listing
            continue
        # the command name is parenthesised and may itself hold spaces
        name = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        table[int(entry)] = (name, int(fields[1]), ticks / _TICK)
    return table


def tree_cpu(root: int, jvm: int) -> dict[str, float]:
    """CPU seconds consumed so far by ``root`` and its descendants, split
    into the JVM, the Python workers under it, and everything else (the
    driver's own Python process).  Workers that already exited are
    counted through their parent's reaped-children times."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (_name, ppid, _cpu) in table.items():
        children.setdefault(ppid, []).append(pid)
    split = {"jvm": 0.0, "python": 0.0, "driver": 0.0}
    stack = [(root, False)]
    while stack:
        pid, under_jvm = stack.pop()
        if pid not in table:
            continue
        name, _ppid, cpu = table[pid]
        if pid == jvm:
            split["jvm"] += cpu
        elif under_jvm and name.startswith("python"):
            split["python"] += cpu
        else:
            split["driver"] += cpu
        stack.extend((c, under_jvm or pid == jvm) for c in children.get(pid, ()))
    split["total"] = split["jvm"] + split["python"] + split["driver"]
    return split


def steal_s() -> float:
    """Seconds of CPU the hypervisor gave to other guests, summed over
    all cores since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def box() -> dict:
    """Static facts about the box, recorded with every run."""
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem_kb / 1024),
        "loadavg": list(os.getloadavg()),
    }


def rss_mb(pid: int) -> dict[str, float]:
    """Resident and peak-resident memory of one process."""
    out = {}
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            key = line.split(":")[0]
            if key in ("VmRSS", "VmHWM"):
                out[key] = int(line.split()[1]) / 1024
    return out


# status-store counters summed over the stages a job group ran
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "exec_cpu_s",
    "exec_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


class StatusStore:
    """Spark's in-JVM application status store, read per job group.

    Works with the UI disabled: the store is fed by the listener bus,
    so every read first waits for the bus to drain."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def counters(self, group: str) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0)
        tracker = self._sc.statusTracker()
        stage_ids = set()
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            stage_ids.update(info.stageIds if info else ())
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException in the JVM
                continue  # planned but never submitted
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["exec_cpu_s"] += st.executorCpuTime() / 1e9
            out["exec_run_s"] += st.executorRunTime() / 1e3
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def heap_live_mb(self) -> float:
        """JVM heap in use after forced full collections."""
        jvm = self._sc._jvm
        for _ in range(3):
            # the context cleaner frees blocks of collected RDDs
            # asynchronously; give it time between collections
            jvm.java.lang.System.gc()
            time.sleep(0.3)
        usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return usage.getHeapMemoryUsage().getUsed() / (1 << 20)
