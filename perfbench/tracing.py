"""Observation from outside the program: spans, Spark's status store, /proc.

Nothing here changes what the program does. Spans are kept in memory and
written into the run record at the end; the status store is read after a
job group finishes; process CPU and memory come from /proc.
"""

from __future__ import annotations

import gc
import os
import re
import signal
import time
from contextlib import contextmanager

from metrics import aggregate_stages

_TICK = os.sysconf("SC_CLK_TCK")


class Spans:
    """In-memory spans: ``(name, start, end, parent)`` with times in seconds
    since the run began and ``parent`` the index of the enclosing span."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.rows: list[tuple[str, float, float, int | None]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.rows)
        parent = self._stack[-1] if self._stack else None
        self.rows.append((name, time.perf_counter() - self.t0, float("nan"), parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, start, _, p = self.rows[idx]
            self.rows[idx] = (n, start, time.perf_counter() - self.t0, p)

    def as_records(self) -> list[dict]:
        return [
            {"name": n, "start": round(s, 6), "end": round(e, 6), "parent": p}
            for n, s, e, p in self.rows
        ]


# -- Spark status store ----------------------------------------------------


def _stage_record(sd) -> dict:
    return {
        "status": str(sd.status().toString()),
        "tasks": sd.numTasks(),
        "failed_tasks": sd.numFailedTasks(),
        "executor_run_ms": sd.executorRunTime(),
        "executor_cpu_ns": sd.executorCpuTime(),
        "gc_ms": sd.jvmGcTime(),
        "input_bytes": sd.inputBytes(),
        "shuffle_read_bytes": sd.shuffleReadBytes(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
    }


def job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def group_totals(spark, jobs: list[int]) -> dict:
    """Stage totals of the given jobs (see ``metrics.aggregate_stages``)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stages = []
    seen: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            if s in seen:
                continue
            seen.add(s)
            stages.append(_stage_record(store.lastStageAttempt(s)))
    return aggregate_stages(len(jobs), stages)


_BATCH = re.compile(r"batch = (\d+)")


def stream_jobs_by_batch(spark, run_id: str) -> dict[int, list[int]]:
    """Job ids a streaming query ran, keyed by micro-batch id. Spark puts a
    query's jobs in a job group named after its run id and writes the batch
    id into each job's description."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out: dict[int, list[int]] = {}
    for j in job_ids(spark, run_id):
        desc = store.job(j).description()
        m = _BATCH.search(desc.get()) if desc.isDefined() else None
        if m:
            out.setdefault(int(m.group(1)), []).append(j)
    return out


def retained_heap_mb(spark) -> float:
    """JVM heap in use after a full collection: the state the session keeps
    (pins, broadcasts, caches, status), not the garbage it has yet to free."""
    # Python first, so py4j handles held only by cycles release their JVM
    # objects; then the JVM, with pauses for Spark's ContextCleaner to drop
    # the pins and shuffles the first collections made unreachable (it takes
    # two or three collections here).
    gc.collect()
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for _ in range(8):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        used = heap.getHeapMemoryUsage().getUsed() / 1e6
        # Settled once a collection frees under 1% more.
        if last is not None and abs(used - last) <= 0.01 * last:
            break
        last = used
    return used


def pinned(spark) -> dict:
    """Persisted RDDs and the bytes their cached blocks hold."""
    sc = spark.sparkContext
    rdds = sc._jsc.sc().statusStore().rddList(True)
    nbytes = sum(
        rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed() for i in range(rdds.size())
    )
    return {
        "pinning.persisted_rdds": len(sc._jsc.getPersistentRDDs()),
        "pinning.pinned_mb": nbytes / 1e6,
    }


# -- /proc ----------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def descendants(pid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = children_map() if kids is None else kids
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def cpu_s(pid: int, reaped: bool = False) -> float:
    """User+system CPU of ``pid``; with ``reaped``, plus that of children it
    has already waited for."""
    st = _stat(pid)
    if not st:
        return 0.0
    ticks = int(st[11]) + int(st[12])
    if reaped:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TICK


class JitCpu:
    """CPU seconds of a JVM's JIT compiler threads. The JVM starts and stops
    compiler threads as the compile queue grows and drains; one that exited
    keeps counting at its last reading, so the total never drops."""

    def __init__(self, pid: int):
        self.pid = pid
        self.ticks: dict[str, int] = {}

    def __call__(self) -> float:
        try:
            tids = os.listdir(f"/proc/{self.pid}/task")
        except OSError:
            tids = []
        for tid in tids:
            try:
                with open(f"/proc/{self.pid}/task/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            if "Compiler" in raw[raw.index("(") : raw.rindex(")")]:
                st = raw[raw.rindex(")") + 2 :].split()
                self.ticks[tid] = int(st[11]) + int(st[12])
        return sum(self.ticks.values()) / _TICK


def tree_cpu_s(root: int, jit: JitCpu) -> tuple[float, float]:
    """CPU seconds of ``root`` and every live descendant, each with the
    children it reaped so a worker that exits keeps counting; and, within
    that, the JVM's JIT compiler threads. Time the hypervisor gave to other
    guests (steal) is in neither counter."""
    total = sum(cpu_s(p, reaped=True) for p in [root, *descendants(root)])
    return total, jit()


def cpu_split(jvm_pid: int) -> dict:
    """CPU seconds of the JVM and of the Python worker processes under it
    (the pyspark daemon counts the workers it already reaped)."""
    return {
        "proc.jvm_cpu_s": cpu_s(jvm_pid),
        "proc.python_worker_cpu_s": sum(cpu_s(p, reaped=True) for p in descendants(jvm_pid)),
    }


def host_ticks() -> list[int]:
    """The host-wide CPU tick counters of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def peak_rss(root: int, jvm: int) -> dict:
    """Peak resident set (VmHWM) of the benchmark process, the JVM and the
    Python workers under it, and their sum."""
    workers = [hwm_mb(p) for p in descendants(jvm)]
    out = {"self_mb": hwm_mb(root), "jvm_mb": hwm_mb(jvm), "workers_mb": sum(workers), "workers": len(workers)}
    out["total_mb"] = out["self_mb"] + out["jvm_mb"] + out["workers_mb"]
    return out


def kill_tree(root: int, sig: int = signal.SIGKILL) -> None:
    for p in descendants(root):
        try:
            os.kill(p, sig)
        except ProcessLookupError:
            pass


def wait_no_children(root: int, timeout: float) -> bool:
    """Wait until ``root`` has no live descendants; reap the ones that are
    its own children. True when none are left."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = [p for p in descendants(root) if (_stat(p) or ["Z"])[0] != "Z"]
        if not left:
            return True
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
