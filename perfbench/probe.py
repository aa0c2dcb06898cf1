"""Host and engine readings: CPU time of the process tree from ``/proc``,
host steal time, and per-job stage metrics from Spark's status store.

The tree is this Python process (the Spark driver's Python side), the JVM it
launched, and everything under the JVM (the PySpark daemon and the Python
workers it forks). CPU of a process that has exited and been reaped is
carried in its parent's ``cutime``/``cstime``, so summing those over the live
tree counts it exactly once.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu seconds, reaped-children cpu seconds) of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    own = (int(fields[11]) + int(fields[12])) / _TICK
    kids = (int(fields[13]) + int(fields[14])) / _TICK
    return ppid, own, kids


def _tree(root: int) -> dict[int, tuple[int, float, float]]:
    """Stat of ``root`` and every live descendant, keyed by pid."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(st[0], []).append(int(name))
    out, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in stats:
            out[pid] = stats[pid]
            frontier.extend(children.get(pid, ()))
    return out


def jvm_pid(root: int) -> int | None:
    """The JVM among the root's direct children (the Spark driver)."""
    for pid, (ppid, _own, _kids) in _tree(root).items():
        if ppid != root:
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def cpu_split(root: int, jvm: int | None) -> dict[str, float]:
    """Cumulative CPU seconds: driver Python, JVM, Python workers, total."""
    tree = _tree(root)
    total = sum(own + kids for _ppid, own, kids in tree.values())
    workers, frontier = 0.0, [jvm]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, own, kids) in tree.items():
            if ppid == parent:
                workers += own + kids
                frontier.append(pid)
    return {
        "total": total,
        "driver": tree[root][1] if root in tree else 0.0,
        "jvm": tree[jvm][1] if jvm in tree else 0.0,
        "workers": workers,
    }


def live_descendants(root: int) -> list[int]:
    return [pid for pid in _tree(root) if pid != root]


def kill_descendants(root: int) -> None:
    """SIGKILL whatever is still running under ``root`` and reap it."""
    import signal

    for pid in live_descendants(root):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            continue
    for pid in live_descendants(root):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def host_steal_s() -> float:
    """Cumulative steal time of all host CPUs, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


STAGE_FIELDS = (
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def group_jobs(sc, group: str) -> list[int]:
    """Ids of the jobs run under a job group so far. Drains the listener bus
    first: the status store is filled asynchronously."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def job_names(sc, job_ids: list[int]) -> list[str]:
    """Call-site name of each job, for attributing jobs in the trace."""
    store = sc._jsc.sc().statusStore()
    return [str(store.job(j).name()) for j in job_ids]


def is_stage_job(name: str) -> bool:
    """Whether a job was submitted by adaptive execution materialising a
    query stage on its own thread (shuffle or broadcast), rather than by an
    action the query code called. How many of these run can change with the
    order in which concurrent stages finish; the action jobs cannot."""
    return name.startswith("$anonfun$withThreadLocalCaptured")


def stage_totals(sc, job_ids: list[int]) -> dict[str, float]:
    """Sum the metrics of every stage the jobs ran (skipped stages, reused
    through AQE or an earlier job's shuffle, are not counted). Call after
    ``group_jobs``, which drains the listener bus."""
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    seen: set[int] = set()
    for jid in job_ids:
        it = store.job(jid).stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["jvm_gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.diskBytesSpilled()
    return out
