"""Outside-in counters: nothing here changes or calls into program code.

- Spark job/stage/task counts per request: each request runs under its
  own job group, read back through ``SparkContext.statusTracker()``.
- CPU split between the driver (this process), the JVM and the Python
  workers (every process below the JVM), from ``/proc``. Workers that
  exited were reaped by the worker daemon, so their CPU is found in its
  ``cutime``/``cstime``; live ones are read directly.
- Peak memory: the sum of ``VmHWM`` over driver, JVM and live workers.
- Index size: a walk of the index directory.
"""

from __future__ import annotations

import os
import resource
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def _ppid_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _ppid_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cpu_s(pid: int, with_children: bool) -> float:
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if with_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def cpu_snapshot(jvm_pid: int) -> dict[str, float]:
    """Cumulative CPU seconds of driver, JVM and Python workers, plus
    the wall clock they were read at."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return {
        "wall": time.perf_counter(),
        "driver": ru.ru_utime + ru.ru_stime,
        "jvm": _cpu_s(jvm_pid, with_children=False),
        "pyworker": sum(_cpu_s(p, with_children=True) for p in descendants(jvm_pid)),
    }


def cpu_split(before: dict, after: dict, n_cpus: int) -> dict[str, float]:
    """CPU seconds per side over an interval, and the idle share of the
    machine's CPU capacity in it."""
    d = {k: after[k] - before[k] for k in before}
    busy = d["driver"] + d["jvm"] + d["pyworker"]
    d["idle_frac"] = max(0.0, 1.0 - busy / (d["wall"] * n_cpus)) if d["wall"] > 0 else 0.0
    return d


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    pids = [os.getpid(), jvm_pid, *descendants(jvm_pid)]
    return sum(_hwm_kb(p) for p in pids) / 1024.0


class JobCounter:
    """Spark jobs, stages and tasks of one request, via a job group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def begin(self, request_id: str) -> None:
        self.sc.setJobGroup(request_id, request_id)

    def end(self, request_id: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(request_id)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                st = self.tracker.getStageInfo(s)
                tasks += st.numTasks if st is not None else 0
        self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
        return len(jobs), stages, tasks


def walk_dir(path: str) -> dict[str, int]:
    """Relative file path → size in bytes, for every file under
    ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[os.path.relpath(p, path)] = os.path.getsize(p)
            except OSError:
                pass
    return out


def bytes_written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes in files that are new or changed size between two walks."""
    return sum(sz for p, sz in after.items() if before.get(p) != sz)
