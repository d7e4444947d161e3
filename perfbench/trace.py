"""Spans around calls into the engine, recorded from outside it.

A span records wall time, the Spark jobs and stages it ran (the change in
the DAG scheduler's next job and stage id: a job group set here would not
reach the engine's own submission threads), the tasks those stages
completed, the CPU seconds of the run's process tree, JVM GC seconds and the
driver JVM's RSS growth. A span whose
body raised is kept with ``ok`` false and left out of ``of``. Spans are kept
in memory; the run writes them out as JSON when it ends.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")

_LOOP = (
    "import time\n"
    "t = time.process_time()\n"
    "x = 0\n"
    "for i in range({n}):\n"
    "    x += i\n"
    "print(time.process_time() - t)\n"
)
LOOP_PROCS = 4
LOOP_N = 4_000_000


def loop_cpu_s() -> float:
    """CPU seconds of a fixed pure-Python loop, summed over ``LOOP_PROCS``
    copies run at once, one per core of ``local[4]``: how fast the machine
    runs a fixed piece of work at this moment."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _LOOP.format(n=LOOP_N)],
                         stdout=subprocess.PIPE, text=True)
        for _ in range(LOOP_PROCS)
    ]
    return sum(float(p.communicate()[0]) for p in procs)


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by process ``root`` (default: this one) and
    every process below it: the driver JVM, its Python daemon and workers.

    Each live process adds its own user and system time and that of the
    children it has reaped, so a worker that has exited still counts. The
    kernel leaves time stolen by the hypervisor and time spent waiting for
    a processor out of these figures; that is why they hold still when
    other tenants load the machine, where wall time does not.
    """
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:  # the process ended while we looked
            continue
        # the command name is in parentheses and may hold spaces
        f = stat[stat.rindex(")") + 2 :].split()
        pid = int(d.name)
        parent[pid] = int(f[1])
        ticks[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total * _TICK_S


def dir_bytes(path: Path) -> int:
    if not path.exists():
        return 0
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class Jvm:
    """Read-only probes of the driver JVM behind a SparkSession."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._dag = sc._jsc.sc().dagScheduler()
        jvm = sc._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._gc = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def job_id(self) -> int:
        return int(self._dag.nextJobId())

    def stage_id(self) -> int:
        return int(self._dag.nextStageId())

    def tasks(self, first_stage: int, end_stage: int) -> int:
        """Tasks completed by stages [first_stage, end_stage) still
        retained by the status store."""
        tracker = self._sc.statusTracker()
        n = 0
        for sid in range(first_stage, end_stage):
            info = tracker.getStageInfo(sid)
            if info is not None:
                n += info.numCompletedTasks
        return n

    def gc_seconds(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc) / 1000.0

    def full_gcs(self) -> int:
        """Old-generation collections (ParallelGC's "PS MarkSweep"; any
        collector whose name says old/full/mark-sweep)."""
        return sum(
            b.getCollectionCount()
            for b in self._gc
            if any(k in b.getName().lower() for k in ("marksweep", "old", "full"))
        )

    def _status_kb(self, key: str) -> int:
        for line in Path(f"/proc/{self.pid}/status").read_text().splitlines():
            if line.startswith(key + ":"):
                return int(line.split()[1])
        raise KeyError(key)

    def rss_mb(self) -> float:
        return self._status_kb("VmRSS") / 1024.0

    def peak_rss_mb(self) -> float:
        return self._status_kb("VmHWM") / 1024.0


class Tracer:
    """Collects spans. ``enabled=False`` makes every span a no-op."""

    def __init__(self, jvm: Jvm | None, enabled: bool):
        self.jvm = jvm
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        j = self.jvm
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "ok": False}
        j0, s0, gc0 = j.job_id(), j.stage_id(), j.gc_seconds()
        rss0, cpu0 = j.rss_mb(), tree_cpu_s()
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield rec
            rec["ok"] = True
        finally:
            wall = time.perf_counter() - t0
            self._stack.pop()
            j1, s1 = j.job_id(), j.stage_id()
            rec.update(
                start=t0,
                wall_s=wall,
                cpu_s=tree_cpu_s() - cpu0,
                jobs=j1 - j0,
                stages=s1 - s0,
                tasks=j.tasks(s0, s1),
                gc_s=j.gc_seconds() - gc0,
                rss_growth_mb=j.rss_mb() - rss0,
                **attrs,
            )
            self.spans.append(rec)

    def of(self, name: str) -> list[dict]:
        """The spans of ``name`` whose body returned."""
        return [s for s in self.spans if s["name"] == name and s["ok"]]
