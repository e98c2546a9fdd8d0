"""Share frames: the one place the engine caches intermediate results.

A key body shares a frame when several branches of its plan read it —
above all the broadcast crossJoin branches, which execute as separate jobs
with no runtime exchange reuse, so an unshared frame is recomputed once per
branch. Reuse is legal only WITHIN one build: the dispatch wrapper that
``registry.register`` stores in ``QUERIES`` calls ``release_all`` at key
entry and runs the key body inside ``building()``. A repeated build
therefore recomputes from the parquet inputs and can never hit its
previous invocation's cache through CacheManager plan-matching.

A frame a dispatch returns is valid until the next dispatch, which frees
every share its build made; a freed local checkpoint cannot be recomputed,
so a later action on the frame fails. A frame from a direct call outside
any dispatch (``api.py``, ``examples/``) stays valid: only its lazy
persists are tracked (the next dispatch unpersists them and the frame
recomputes them), and its eager checkpoints are left to GC.

- ``share(df, eager=False)``: lazy ``persist`` (the cache fills during the
  key's single action), or, with ``eager=True``, an eager
  ``localCheckpoint`` that runs one job now and truncates the lineage, so
  downstream tasks carry a bare RDD scan instead of serializing the whole
  recompute plan into every task binary (measured on
  pipeline_e2e_llm_v3: ~1 MB task binaries, 23 s of deserialization and
  20 s of GC on 34 s of executor CPU, OPTIMIZATION_r14.md wave 4). The
  engine runs ``local[N]``, where executor loss is process death, so a
  local checkpoint's lost recomputability costs nothing; a cluster
  deployment would switch to reliable checkpoints here.
- ``release(*frames)``: free the given frames now — for loops whose new
  checkpoint supersedes the old one.
- ``release_all()``: free every tracked frame and delete every tracked
  run directory (key entry only).
- ``building()``: one dispatched build, where eager shares and run
  directories are tracked.
- ``run_dir(prefix)``: a fresh scratch directory for files the returned
  frame reads (the streaming sinks); a dispatch's directory lives exactly
  as long as that frame.
- ``fill(*thunks)`` / ``submit(thunk)``: run independent eager fills as
  concurrent Spark actions on one 4-worker driver-thread pool, so the
  scheduler back-fills idle cores across the fills' tails.
"""

from __future__ import annotations

import shutil
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor, wait
from contextlib import contextmanager

from pyspark import StorageLevel

from data_transform_spark.io import SCRATCH

_FILL_THREAD = "share-fill"

# Every frame share() tracked and nothing has released yet. Fill threads
# append to it too, so every change holds _LOCK.
_HELD: list = []
# Run directories made inside a dispatched build; guarded by _LOCK too.
_DIRS: list = []
_LOCK = threading.Lock()
# Dispatched builds running now; global, as fill threads share for them.
_builds = 0
_POOL = ThreadPoolExecutor(max_workers=4, thread_name_prefix=_FILL_THREAD)
# Per-thread list of the frames the running fill thunk has shared (see fill).
_made = threading.local()


class NestedFillError(RuntimeError):
    """A fill thunk tried to submit another fill. The pool is bounded, so a
    fill that waited on a nested fill could wait forever for a worker."""


def share(df, eager: bool = False):
    """Share ``df`` and return the frame to read from: ``df`` persisted
    (lazy, always tracked), or its eager local checkpoint (tracked only
    inside a dispatched build, so a direct call's result stays valid)."""
    if eager:
        df = df.localCheckpoint(eager=True)
    else:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _LOCK:
        if _builds or not eager:
            _HELD.append(df)
    made = getattr(_made, "frames", None)
    if made is not None:
        made.append(df)
    return df


def release(*frames) -> None:
    """Free the blocks behind ``frames`` now and stop tracking them."""
    for df in frames:
        with _LOCK:
            for i, held in enumerate(_HELD):
                if held is df:
                    del _HELD[i]
                    break
        _free(df)


def release_all() -> None:
    """Free every tracked share frame and delete every tracked run
    directory; called once per registered-key build, at its entry."""
    with _LOCK:
        frames = _HELD[:]
        _HELD.clear()
        dirs = _DIRS[:]
        _DIRS.clear()
    for df in frames:
        _free(df)
    for path in dirs:
        shutil.rmtree(path, ignore_errors=True)


def run_dir(prefix: str) -> str:
    """A fresh ``{SCRATCH}/{prefix}_<uuid>`` path for files a key writes
    and its returned frame reads. Made inside a dispatched build, it is
    tracked like an eager checkpoint and deleted by the next dispatch;
    a direct call's directory is untracked."""
    path = f"{SCRATCH}/{prefix}_{uuid.uuid4().hex[:8]}"
    with _LOCK:
        if _builds:
            _DIRS.append(path)
    return path


@contextmanager
def building():
    """Scope of one dispatched key build: eager checkpoints shared and run
    directories made inside it are tracked, so the next dispatch frees
    them."""
    global _builds
    _builds += 1
    try:
        yield
    finally:
        _builds -= 1


def _free(df) -> None:
    """A persisted frame is a CacheManager entry; a local checkpoint is an
    RDD cached in the block manager and reachable only through the
    LogicalRDD at its plan root, where DataFrame.unpersist() is a no-op —
    so both are freed. The RDD goes through SparkContext.unpersistRDD:
    RDD.unpersist would log, for every local checkpoint, the warning that
    it cannot be recomputed, which is what freeing it means. Best effort:
    a frame bound to a stopped session died with it, and anything else
    falls back to GC -> ContextCleaner."""
    try:
        df.unpersist(False)
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            df.sparkSession.sparkContext._jsc.sc().unpersistRDD(
                plan.rdd().id(), False
            )
    except Exception:
        pass


def submit(thunk):
    """Run ``thunk`` (which builds and eagerly shares a frame) on the fill
    pool and return its Future. The caller resolves it before its key
    returns, so a fill never outlives its build."""
    if threading.current_thread().name.startswith(_FILL_THREAD):
        raise NestedFillError(
            "a share fill may not submit another fill (the bounded pool "
            "could deadlock); run the inner fill inline"
        )
    return _POOL.submit(thunk)


def fill(*thunks) -> list:
    """Run INDEPENDENT fills concurrently; return their results in order.

    Waits for every fill before it re-raises the first failure, then
    releases whatever any of the fills shared, so no fill runs on past
    its key and no block of a failed build stays pinned."""
    made = [[] for _ in thunks]
    futs = [submit(_recording(t, m)) for t, m in zip(thunks, made)]
    wait(futs)
    errors = [f.exception() for f in futs if f.exception() is not None]
    if errors:
        release(*(df for frames in made for df in frames))
        raise errors[0]
    return [f.result() for f in futs]


def _recording(thunk, made: list):
    def run():
        _made.frames = made
        try:
            return thunk()
        finally:
            _made.frames = None

    return run
