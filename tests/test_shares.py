"""Share-frame scope and the fill pool (data_transform_spark/shares.py)."""

import os
import signal
import subprocess
import sys
import threading
import time

import pytest

import __spark_entry__  # noqa: F401 — populates the registry
from data_transform_spark import registry, shares
from data_transform_spark.registry import QUERIES


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _held_ids() -> list[int]:
    return [id(df) for df in shares._HELD]


def test_nested_submit_from_fill_thread_raises():
    outer = shares.submit(lambda: shares.submit(lambda: None))
    with pytest.raises(shares.NestedFillError):
        outer.result(timeout=60)
    nested_fill = shares.submit(lambda: shares.fill(lambda: None))
    with pytest.raises(shares.NestedFillError):
        nested_fill.result(timeout=60)


def test_failed_fill_releases_its_siblings(spark):
    held, before = _held_ids(), _persistent_rdds(spark)

    def slow_ok():
        time.sleep(0.5)  # finishes after its sibling has already failed
        return shares.share(spark.range(100), eager=True)

    def failing():
        shares.share(spark.range(50), eager=True)
        raise ValueError("fill failed")

    with pytest.raises(ValueError, match="fill failed"):
        shares.fill(slow_ok, failing)
    assert _persistent_rdds(spark) == before
    assert _held_ids() == held


class _Frame:
    """Stands in for a DataFrame: persist() hands back itself, and release
    finds no plan to free."""

    def persist(self, level):
        return self

    def unpersist(self, blocking):
        pass


def test_concurrent_share_and_release_lose_no_frame():
    held, kept = _held_ids(), []

    def worker():
        for i in range(300):
            df = shares.share(_Frame())
            if i % 3:
                shares.release(df)
            else:
                kept.append(df)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert sorted(_held_ids()) == sorted(held + [id(df) for df in kept])
    shares.release(*kept)
    assert _held_ids() == held


def test_raw_key_call_keeps_shares_dispatch_releases(spark, sf_dir):
    from data_transform_spark.operators.scans import scan_parquet

    QUERIES["scan_parquet"](spark, sf_dir)  # releases everything held
    held = shares.share(spark.range(10))
    scan_parquet(spark, sf_dir)  # a nested key-in-key call
    assert shares._HELD == [held]
    QUERIES["scan_parquet"](spark, sf_dir)
    assert not shares._HELD


def test_direct_build_survives_a_dispatch(spark, sf_dir):
    """A frame from a direct key call (here resting on dedup's eager
    connected-component checkpoints) still runs after a later dispatch
    has released the tracked shares."""
    from data_transform_spark.pipeline.dedup import dedup_near_survivors

    # compared by id, not by count: the context cleaner may unpersist
    # earlier tests' RDDs while this build runs
    before = _persistent_rdd_ids(spark)
    survivors = dedup_near_survivors(spark, sf_dir)
    assert _persistent_rdd_ids(spark) - before  # the build pinned checkpoints
    QUERIES["scan_parquet"](spark, sf_dir)
    fresh = QUERIES["dedup_near_survivors"](spark, sf_dir).collect()
    assert survivors.collect() == fresh


def test_repeated_dispatch_reuses_nothing(spark, sf_dir, monkeypatch):
    """Two sim_ann_pq dispatches (fill pool + eager shares) pin no more
    blocks than one, and the second starts with an empty CacheManager and
    no block of the first: it cannot hit the first build's cache."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    at_entry = []

    def probe():
        release_all()
        at_entry.append((cache.isEmpty(), _persistent_rdds(spark)))

    release_all = shares.release_all
    monkeypatch.setattr(registry, "release_all", probe)
    key = QUERIES["sim_ann_pq"]
    assert key(spark, sf_dir).collect()[0]["recall_ok"]
    after_one = _persistent_rdds(spark)
    assert key(spark, sf_dir).collect()[0]["recall_ok"]
    assert _persistent_rdds(spark) <= after_one
    (empty1, base), (empty2, at_second) = at_entry
    assert empty1 and empty2
    assert at_second <= base


@pytest.mark.parametrize(
    "key, prefix",
    [
        ("stream_sink", "stream_sink_out_"),
        ("stream_upsert_sink", "stream_upsert_"),
        ("stream_dedup_incr", "stream_minhash_"),
    ],
)
def test_stream_run_dir_lives_one_dispatch(spark, sf_dir, tmp_path, monkeypatch, key, prefix):
    """A streaming sink's run directory is the returned frame's input, so
    it lives until the next dispatch deletes it: two dispatches leave one
    directory of the key's kind."""
    monkeypatch.setattr(shares, "SCRATCH", str(tmp_path))
    for _ in range(2):
        assert QUERIES[key](spark, sf_dir).count() > 0
    assert len([n for n in os.listdir(tmp_path) if n.startswith(prefix)]) == 1


_FORK_FROM_THREAD = """
import subprocess, sys, threading, time
def fork():
    p = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    print(p.pid, flush=True)
    time.sleep(60)  # a thread that exits hands its children to the main one
threading.Thread(target=fork, daemon=True).start()
time.sleep(60)
"""


def test_cpu_bench_counts_children_of_non_main_threads():
    """The JVM forks pyspark.daemon from a non-main thread; a grandchild
    forked that way must be in the subtree cpu_bench sums."""
    from tools.cpu_bench import _subtree_pids

    child = subprocess.Popen(
        [sys.executable, "-c", _FORK_FROM_THREAD], stdout=subprocess.PIPE, text=True
    )
    grandchild = int(child.stdout.readline())
    try:
        assert grandchild in _subtree_pids(child.pid)
    finally:
        os.kill(grandchild, signal.SIGKILL)
        child.kill()
        child.wait()
