"""Measurement taken from outside the program.

* ``/proc``: CPU seconds and peak resident memory of this process and
  every process below it (the Spark JVM and its Python workers).
* Spark's status store: per job group, the jobs, stages and task
  metrics of the work launched while the group was set. The benchmark
  tags the calls it makes into the program with job groups; nothing
  inside the program is changed.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
WORKER_MARKERS = (b"pyspark.daemon", b"pyspark.worker")


def _read(path: str) -> bytes:
    try:
        with open(path, "rb") as fh:
            return fh.read()
    except OSError:
        return b""


def _processes() -> dict[int, tuple[int, float]]:
    """{pid: (ppid, cpu seconds incl. reaped children)} for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if not stat:
            continue
        fields = stat[stat.rfind(b")") + 2 :].split()
        # fields[1] = ppid; [11..14] = utime stime cutime cstime
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (int(fields[1]), ticks / _TICK)
    return out


def _tree(procs: dict[int, tuple[int, float]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu() -> tuple[float, float]:
    """(CPU seconds of this process tree, of its Python workers only).

    Counts each process's own and reaped children's time, so a worker
    that exits moves its seconds into its parent's total and the sum
    stays monotonic."""
    procs = _processes()
    total = workers = 0.0
    for pid in _tree(procs, os.getpid()):
        cpu = procs.get(pid, (0, 0.0))[1]
        total += cpu
        if any(m in _read(f"/proc/{pid}/cmdline") for m in WORKER_MARKERS):
            workers += cpu
    return total, workers


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak RSS."""
    kb = 0
    for pid in _tree(_processes(), os.getpid()):
        for line in _read(f"/proc/{pid}/status").splitlines():
            if line.startswith(b"VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024


STAGE_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def group_totals(spark, group: str) -> dict:
    """Summed task metrics (``STAGE_KEYS``) of every job launched under
    ``group``, read from the status store.

    Waits for the listener bus to drain first, so that jobs which have
    just finished are already in the store."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(STAGE_KEYS, 0)
    stage_ids = set()
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — stage never attempted
            continue
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["task_run_s"] += st.executorRunTime() / 1e3
        out["task_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out
