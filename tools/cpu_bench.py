"""Contention-robust repeat-run profiler: wall AND process-subtree CPU.

Usage: python tools/cpu_bench.py [-n REPS] [--sf SF_DIR] key [key ...]

In local[N] mode every byte of work — JVM executor threads and forked
Python workers — runs inside this process's subtree, so the delta of
summed utime+stime(+reaped-children cutime+cstime) across the subtree
measures WORK DONE, which co-tenant contention inflates far less than
wall clock. Use the cpu column to A/B algorithm changes on a noisy
host; confirm with wall in a quiet window before recording bench
claims (BASELINE.md protocol).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_TICK = os.sysconf("SC_CLK_TCK")


def _subtree_pids(root: int) -> list[int]:
    """``root`` and every live descendant. Children are listed per THREAD
    (/proc/<p>/task/<t>/children), and the JVM forks the pyspark.daemon
    worker tree from a non-main thread, so every task of every process is
    read."""
    pids, stack = [], [root]
    while stack:
        p = stack.pop()
        pids.append(p)
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    stack.extend(int(c) for c in fh.read().split())
            except OSError:
                pass
    return pids


def subtree_cpu_sec() -> float:
    """utime+stime of every live process under us, plus cutime+cstime so
    reaped Python workers keep counting."""
    total = 0
    for pid in _subtree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parts = fh.read().rsplit(") ", 1)[1].split()
            # fields after comm: state(0) ... utime(11) stime(12) cutime(13) cstime(14)
            total += sum(int(parts[i]) for i in (11, 12, 13, 14))
        except OSError:
            pass
    return total / _TICK


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--warm-sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    import __spark_entry__ as em
    from data_transform_spark.session import get_spark

    spark = get_spark("cpu-profile")
    qs = em.queries()
    warm = os.path.isdir(args.warm_sf) and os.path.abspath(args.warm_sf) != os.path.abspath(args.sf)
    for key in args.keys:
        if warm:
            qs[key](spark, args.warm_sf).count()
        walls, cpus = [], []
        for _ in range(args.n):
            c0, t0 = subtree_cpu_sec(), time.time()
            qs[key](spark, args.sf).count()
            walls.append(round(time.time() - t0, 3))
            cpus.append(round(subtree_cpu_sec() - c0, 2))
        print(
            f"{key}: wall={walls} (med {statistics.median(walls)}) "
            f"cpu={cpus} (med {statistics.median(cpus)})",
            flush=True,
        )


if __name__ == "__main__":
    main()
