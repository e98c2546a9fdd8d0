"""CPU and memory of a process tree, read from /proc.

PySpark's JVM forks the ``pyspark.daemon`` from a non-main thread, so the
daemon is listed in ``/proc/<jvm>/task/<tid>/children`` of that thread and
not in the main thread's list. ``children`` walks every thread of every
process so the Python UDF workers are found.

CPU is split by role: ``driver`` (the root Python process), ``jvm`` (the
``java`` processes under it), ``jit`` (the JIT compiler threads of those
``java`` processes, taken out of ``jvm``) and ``pyworker`` (everything the
JVM forks: the daemon and its workers). Each process contributes its own
user+system time plus that of its reaped children, so CPU of a worker that
exits between two snapshots moves to its parent without being lost or
counted twice. A compiler thread that exits would take its CPU from ``jit``
back to ``jvm``; the benchmark's JVM runs with
``-XX:-UseDynamicNumberOfCompilerThreads`` so that none do.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
ROLES = ("driver", "jvm", "jit", "pyworker")
# /proc comm of HotSpot's compiler threads: "C1 CompilerThre", "C2 CompilerThre"
_JIT_COMM = "CompilerThre"


def children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return kids


def _stat(pid: int) -> tuple[str, float, int] | None:
    """(comm, cpu seconds incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14..17
    ticks = sum(int(f) for f in fields[11:15])
    return comm, ticks / _CLK, int(fields[21]) * _PAGE


def _jit_seconds(pid: int) -> float:
    """CPU seconds of the JIT compiler threads of ``pid``."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    ticks = 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        if _JIT_COMM in raw[raw.index("(") + 1:raw.rindex(")")]:
            fields = raw[raw.rindex(")") + 2:].split()
            ticks += int(fields[11]) + int(fields[12])  # utime, stime
    return ticks / _CLK


def walk(root: int) -> list[tuple[int, str]]:
    """Every live process under ``root`` (inclusive) with its role."""
    out, stack = [], [(root, "driver")]
    while stack:
        pid, role = stack.pop()
        out.append((pid, role))
        for kid in children(pid):
            if role == "driver":
                st = _stat(kid)
                kid_role = "jvm" if st and st[0] == "java" else "driver"
            else:
                kid_role = "pyworker"
            stack.append((kid, kid_role))
    return out


def snapshot(root: int | None = None) -> dict[str, float]:
    """CPU seconds per role of the tree."""
    out = dict.fromkeys(ROLES, 0.0)
    for pid, role in walk(os.getpid() if root is None else root):
        st = _stat(pid)
        if st is not None:
            out[role] += st[1]
            if role == "jvm":
                jit = _jit_seconds(pid)
                out["jvm"] -= jit
                out["jit"] += jit
    return out


def rss_mb(root: int) -> float:
    """Summed RSS of the tree, in MiB."""
    return sum(st[2] for pid, _ in walk(root)
               if (st := _stat(pid)) is not None) / 2**20


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"  # a zombie has exited


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited; SIGKILL the ones still alive after
    ``timeout`` seconds and wait up to 10 s more for those."""
    deadline, killed = time.monotonic() + timeout, False
    while live := [p for p in pids if _alive(p)]:
        if time.monotonic() > deadline:
            if killed:
                return
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline, killed = time.monotonic() + 10, True
        time.sleep(0.05)


def cpu_delta(before: dict, after: dict) -> dict[str, float]:
    return {role: after[role] - before[role] for role in ROLES}


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak_mb`` is the max."""

    def __init__(self, interval: float = 0.2, root: int | None = None):
        self.interval = interval
        self.root = os.getpid() if root is None else root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
