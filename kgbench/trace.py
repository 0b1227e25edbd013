"""Spans, counts and the cumulative-prefix layer ladder.

The benchmark measures from outside the engine: a span wraps a call into
one layer's public functions, tags the Spark jobs it issues with a job
group, and counts them through ``statusTracker`` when the call returns.
Spans and counts stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder for one run."""

    def __init__(self, sc, run_id: str):
        self._sc = sc
        self._tracker = sc.statusTracker()
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._child_jobs: dict[int, int] = {}

    @contextmanager
    def span(self, name: str):
        """Time ``name`` and count the Spark jobs issued inside it.  Yields
        a dict that receives ``seconds`` and ``jobs`` on exit."""
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}/{sid}"
        self._sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec: dict = {"name": name, "id": sid, "parent": parent, "run_id": self.run_id}
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            # a parent's jobs include its children's, tagged with their groups
            jobs = len(self._tracker.getJobIdsForGroup(group)) + self._child_jobs.pop(sid, 0)
            if parent is not None:
                self._child_jobs[parent] = self._child_jobs.get(parent, 0) + jobs
            rec.update(start=start, end=end, seconds=end - start, jobs=jobs)
            self.spans.append(rec)
            outer = self._stack[-1] if self._stack else None
            self._sc.setJobGroup(f"{self.run_id}/{outer or 0}", "kgbench")

    def write(self, path: str, counts: dict) -> None:
        """Write the spans and the run's counts as one JSON file."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, "counts": counts}, f)


def noop(df) -> None:
    """Execute every partition of ``df`` and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def run_ladder(tracer: Tracer, rungs: list[tuple[str, object]]) -> dict:
    """Run each cumulative prefix once, in ladder order.

    ``rungs`` is ``[(layer, thunk)]`` where thunk k executes prefix k (layers
    1..k) to completion.  A layer's self time is the difference between
    adjacent prefixes' wall times, and its jobs the difference of their job
    counts, so the self times add up to the last prefix's wall time."""
    out: dict = {}
    prev_wall, prev_jobs = 0.0, 0
    for name, thunk in rungs:
        with tracer.span(f"prefix:{name}") as rec:
            thunk()
        out[name] = {"self_s": rec["seconds"] - prev_wall, "jobs": rec["jobs"] - prev_jobs,
                     "prefix_s": rec["seconds"], "prefix_jobs": rec["jobs"]}
        prev_wall, prev_jobs = rec["seconds"], rec["jobs"]
    return out


def tree_bytes(path: str) -> dict[str, int]:
    """{file: size} for the parquet data files under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _proc_stats() -> dict[int, tuple[int, list[str], str]]:
    """{pid: (ppid, stat fields after the command name, cmdline)}."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except (OSError, IndexError):
            continue  # the process ended while we read it
        out[int(entry)] = (int(fields[1]), fields, cmd)
    return out


def descendants(procs: dict | None = None) -> list[int]:
    """Every live process below this one: the Spark JVM, the PySpark daemon
    and its workers."""
    procs = procs if procs is not None else _proc_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its descendants.
    A descendant that exited counts through its parent's reaped-children
    time, so the difference of two readings is the CPU spent in between."""
    procs = _proc_stats()
    own = os.times()
    # /proc/<pid>/stat fields 14-17: utime, stime, cutime, cstime
    ticks = sum(int(x) for pid in descendants(procs) for x in procs[pid][1][11:15])
    return ticks / _TICK + own.user + own.system


def worker_peak_rss_mb() -> float:
    """Largest ``VmHWM`` over the PySpark worker processes that descend from
    this process (the daemon and the workers it forks)."""
    procs = _proc_stats()
    peak = 0
    for pid in descendants(procs):
        cmd = procs[pid][2]
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            peak = max(peak, _vm_hwm_kb(pid))
    return peak / 1024.0


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0
