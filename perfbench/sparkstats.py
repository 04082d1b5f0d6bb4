"""Spark's own accounting and process memory, read from outside the program.

* :func:`stage_accounting` reads the Spark driver's ``AppStatusStore`` through
  py4j (no UI needed) and sums per-stage task metrics by job group.
* :class:`PeakRss` samples ``VmHWM`` from ``/proc`` for the JVM and every
  process below it (the PySpark daemon and its Python workers).
"""

from __future__ import annotations

import os
import threading
from collections import defaultdict

ACCOUNTING_FIELDS = ("jobs", "stages", "tasks", "executor_s", "gc_s",
                     "shuffle_write_mb", "shuffle_records", "spill_mb", "busy_frac")


def stage_accounting(sc, cycle: int, walls: dict[str, float], cores: int) -> dict[str, dict]:
    """Per job group of ``cycle``: jobs, stages and tasks run, executor and
    GC seconds, shuffle bytes and records written, bytes spilled, and busy
    fraction ``executor_s / (wall * cores)`` where ``wall`` is the group's
    span time.

    Job groups are tagged ``<name>#<cycle>`` by ``tracing.Recorder``.
    Skipped stages (shuffle output reused) are not counted. Counts and
    records repeat exactly for the same input; compressed shuffle bytes can
    differ by a few hundred bytes, as reduce-side row order follows fetch
    order."""
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stage_group: dict[int, str] = {}
    acc: dict[str, dict] = defaultdict(lambda: dict.fromkeys(ACCOUNTING_FIELDS, 0))
    suffix = f"#{cycle}"
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        grp = job.jobGroup()
        if not grp.isDefined() or not grp.get().endswith(suffix):
            continue
        name = grp.get()[: -len(suffix)]
        acc[name]["jobs"] += 1
        ids = job.stageIds()
        for k in range(ids.size()):
            stage_group[ids.apply(k)] = name
    stages = store.stageList(None, False, False, no_quantiles, None)
    for i in range(stages.size()):
        st = stages.apply(i)
        name = stage_group.get(st.stageId())
        if name is None or st.status().toString() == "SKIPPED":
            continue
        a = acc[name]
        a["stages"] += 1
        a["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        # integer ms and bytes here; converted once below so sums are exact
        a["executor_s"] += st.executorRunTime()
        a["gc_s"] += st.jvmGcTime()
        a["shuffle_write_mb"] += st.shuffleWriteBytes()
        a["shuffle_records"] += st.shuffleWriteRecords()
        a["spill_mb"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    for name, a in acc.items():
        for key, scale in (("executor_s", 1e3), ("gc_s", 1e3), ("shuffle_write_mb", 1e6),
                           ("spill_mb", 1e6)):
            a[key] /= scale
        wall = walls.get(name, 0.0)
        a["busy_frac"] = a["executor_s"] / (wall * cores) if wall > 0 else 0.0
    return dict(acc)


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(p) for p in fh.read().split()]
    except OSError:
        return []


def _hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class PeakRss:
    """Peak resident memory of a process tree: the sum over every process
    ever seen below ``root_pid`` (inclusive) of its own ``VmHWM``. Short-lived
    Python workers are caught by sampling every ``period`` seconds."""

    def __init__(self, root_pid: int, period: float = 0.5) -> None:
        self.root_pid = root_pid
        self.period = period
        self.peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        todo = [self.root_pid]
        while todo:
            pid = todo.pop()
            kb = _hwm_kb(pid)
            if kb is not None:
                self.peak_kb[pid] = max(kb, self.peak_kb.get(pid, 0))
            todo.extend(_children(pid))

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return sum(self.peak_kb.values()) / 1024.0


def tree_pids(root_pid: int) -> list[int]:
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if os.path.exists(f"/proc/{pid}"):
            out.append(pid)
            todo.extend(_children(pid))
    return out
