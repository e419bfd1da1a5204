"""Measurement taken from outside the engine.

Three instruments, none of which touches the program under test:

- ``ProcTree``: user+system CPU and resident memory of this process and
  every descendant (the Spark JVM and its Python workers), read from
  ``/proc``.
- ``SqlMetrics``: Spark's own SQL metrics for the query executions a
  call started, read from the session's status store after the call.
- ``Spans``: named intervals around calls into the engine, kept in
  memory and written out once at the end of a run.
"""

from __future__ import annotations

import contextlib
import ctypes
import json
import os
import platform
import re
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1
_libc = ctypes.CDLL(None, use_errno=True)


def shares_memory(pid: int, other: int) -> bool:
    """True when both processes run in one address space.  A child that
    the JVM (or Python) starts with vfork or posix_spawn is one until
    its exec, and its RSS then reads as its parent's."""
    if _SYS_KCMP is None:
        return False
    return _libc.syscall(_SYS_KCMP, pid, other, _KCMP_VM, 0, 0) == 0


def _stat_fields(pid: int) -> "list[str] | None":
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """CPU seconds and RSS of the process tree rooted at ``root``."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self._peak = 0
        self._stop = threading.Event()
        self._thread: "threading.Thread | None" = None

    def pids(self) -> list[int]:
        return list(self.parents())

    def parents(self) -> dict[int, int]:
        """{pid: parent pid} for every process in the tree."""
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
        out, todo = {self.root: 0}, [self.root]
        while todo:
            pid = todo.pop()
            for child in children.get(pid, []):
                out[child] = pid
                todo.append(child)
        return out

    def cpu_s(self) -> float:
        """utime+stime of the live tree, plus what its ended children
        left in their parents' cutime+cstime."""
        ticks = 0
        for pid in self.pids():
            fields = _stat_fields(pid)
            if fields is not None:
                ticks += sum(int(x) for x in fields[11:15])
        return ticks / _CLK

    def rss_bytes(self) -> int:
        """Summed RSS of the tree, each address space counted once."""
        total = 0
        for pid, parent in self.parents().items():
            if pid != self.root and shares_memory(pid, parent):
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except OSError:
                continue
        return total

    def start_peak(self, interval: float = 0.1) -> None:
        """Sample the tree's summed RSS until ``stop_peak``."""
        self._peak = self.rss_bytes()
        self._stop.clear()

        def loop():
            while not self._stop.wait(interval):
                self._peak = max(self._peak, self.rss_bytes())

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop_peak(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return max(self._peak, self.rss_bytes())


# --- Spark SQL metrics -------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Spark's rendered metric value as a number (bytes, seconds or a
    count).  Task-level metrics render as ``total (min, med, max ...)``
    followed by a second line that starts with the total."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparseable SQL metric value: {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME_S:
        return num * _TIME_S[unit]
    if unit:
        raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")
    return num


class SqlMetrics:
    """Per-call SQL metrics: ``mark()`` before a call, ``since(mark)``
    after it returns the executions, jobs and summed node metrics the
    call started."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = self._sc._jsc.sc().listenerBus()
        self.spent_s = 0.0  # time spent reading metrics: the tracing overhead

    def _last_execution(self) -> int:
        n = self._store.executionsCount()
        if n == 0:
            return -1
        return self._store.executionsList(int(n) - 1, 1).apply(0).executionId()

    def _last_job(self) -> int:
        return max(self._sc.statusTracker().getJobIdsForGroup(None) or [-1])

    def mark(self) -> tuple[int, int]:
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        mark = self._last_execution(), self._last_job()
        self.spent_s += time.perf_counter() - t0
        return mark

    def since(self, mark: tuple[int, int]) -> dict:
        """{"executions": n, "jobs": n, "nodes": {(node, metric): total}}"""
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        first_exec, first_job = mark
        nodes: dict[tuple[str, str], float] = {}
        executions = 0
        listed = self._store.executionsList()
        for i in range(listed.size()):
            ex = listed.apply(i)
            eid = ex.executionId()
            if eid <= first_exec:
                continue
            executions += 1
            values = self._store.executionMetrics(eid)
            it = self._store.planGraph(eid).allNodes().iterator()
            while it.hasNext():
                node = it.next()
                mi = node.metrics().iterator()
                while mi.hasNext():
                    metric = mi.next()
                    v = values.get(metric.accumulatorId())
                    if not v.isDefined():
                        continue
                    key = (node.name().strip(), metric.name())
                    nodes[key] = nodes.get(key, 0.0) + parse_metric(v.get())
        out = {
            "executions": executions,
            "jobs": self._last_job() - first_job,
            "nodes": nodes,
        }
        self.spent_s += time.perf_counter() - t0
        return out


def node_total(nodes: dict, metric: str, node: "str | None" = None) -> float:
    """Sum ``metric`` over every node (or over nodes named ``node``)."""
    return sum(
        v for (n, m), v in nodes.items()
        if m == metric and (node is None or n == node)
    )


# --- spans -------------------------------------------------------------


class Spans:
    """In-memory span log: (trace, name, parent, start, end)."""

    def __init__(self):
        self.records: list[dict] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, trace: int, name: str, parent: "str | None" = None):
        """Record the ``with`` body as a span; the yielded dict gets
        its ``seconds`` when the body ends."""
        rec = {"trace": trace, "name": name, "parent": parent}
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec.update(start=start - self._t0, end=end - self._t0, seconds=end - start)
            self.records.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f)
