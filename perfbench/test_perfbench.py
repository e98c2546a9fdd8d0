"""Tests of the benchmark's own accounting.

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark tests start one small local session (2 cores, 1 GiB heap).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import proctree, run, tracing  # noqa: E402

BURN_S = 1.0  # CPU seconds each UDF batch burns


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    from data_transform_spark.session import configure_session

    session = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    configure_session(session)
    yield session
    session.stop()


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    """The reference fixture under a name of its own, so the staged stores
    this module builds are its own to remove."""
    tag = f"pbfx_test{os.getpid()}"
    path = str(tmp_path_factory.mktemp("fx") / f"{tag}_sf0.01")
    os.symlink(run.FIXTURE_DIR, path)
    yield path
    scratch = os.path.join(ROOT, ".scratch")
    if os.path.isdir(scratch):
        for name in os.listdir(scratch):
            if tag in name:
                shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)


def _burner():
    """A mapInPandas function that burns BURN_S of CPU per batch; built in a
    closure so it is pickled by value (workers cannot import this file)."""
    burn_s = BURN_S

    def burn(batches):
        for pdf in batches:
            end = time.process_time() + burn_s
            while time.process_time() < end:
                pass
            yield pdf

    return burn


def _main_thread_walk(root: int) -> list[int]:
    """The walk tools/cpu_bench.py does: only /proc/<pid>/task/<pid>/children."""
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        try:
            with open(f"/proc/{pid}/task/{pid}/children") as fh:
                stack.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def test_pandas_udf_worker_cpu_is_counted(spark):
    before = proctree.snapshot()
    (spark.range(2, numPartitions=2).mapInPandas(_burner(), "id long")
     .write.format("noop").mode("overwrite").save())
    delta = proctree.cpu_delta(before, proctree.snapshot())
    assert delta["pyworker"] >= 2 * BURN_S * 0.9, delta


def test_main_thread_walk_misses_python_workers(spark):
    """The JVM forks pyspark.daemon from a non-main thread, so a walk of
    main-thread children lists no Python worker while the full walk does."""
    spark.range(1).mapInPandas(_burner(), "id long").collect()
    full = [pid for pid, role in proctree.walk(os.getpid()) if role == "pyworker"]
    assert full
    assert not set(full) & set(_main_thread_walk(os.getpid()))


def test_jit_compiler_cpu_is_split_from_jvm(spark):
    """The JIT compiler threads' CPU moves from ``jvm`` to ``jit``, the two
    still add up to the JVM's own CPU, and cpu_s leaves ``jit`` out."""
    spark.range(10**6).selectExpr("sum(id * 3)").collect()
    snap = proctree.snapshot()
    jvm_total = sum(proctree._stat(pid)[1]
                    for pid, role in proctree.walk(os.getpid())
                    if role == "jvm")
    assert snap["jit"] > 0, snap
    assert snap["jvm"] + snap["jit"] == pytest.approx(jvm_total, abs=0.1)
    assert run.program_cpu(snap) == pytest.approx(
        snap["driver"] + snap["jvm"] + snap["pyworker"])


def test_fill_pool_build_jobs_are_counted(spark, fixture_dir):
    """pipeline_e2e_llm_v4 runs share fills on pool threads that do not
    inherit the caller's job group; the job-id difference counts them."""
    import __spark_entry__

    sc = spark.sparkContext
    build = __spark_entry__.queries()["pipeline_e2e_llm_v4"]
    group = "perfbench-test"
    sc.setJobGroup(group, "v4 build")
    try:
        j0 = tracing.next_job_id(sc)
        build(spark, fixture_dir)
        j1 = tracing.next_job_id(sc)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    in_group = [j for j in sc.statusTracker().getJobIdsForGroup(group)
                if j0 <= j < j1]
    assert j1 - j0 > len(in_group) > 0
    assert all(sc.statusTracker().getJobInfo(j) is not None
               for j in range(j0, j1))


def test_pass_layers_split_build_and_action():
    spans = tracing.Spans()
    run = spans.add("run", 0.0, 10.0)
    pas = spans.add("pass", 0.0, 10.0, run)
    key = spans.add("key", 0.0, 10.0, pas, result_rows=10, build_jobs=2,
                    action_jobs=1, action_stages=2, action_tasks=3,
                    cached_bytes=2 * tracing.MB)
    spans.add("build", 0.0, 4.0, key)
    spans.add("action", 4.0, 10.0, key)
    jobs = {
        0: {"submit": 1.0, "end": 3.0, "stages": [0]},  # two overlapping
        1: {"submit": 2.0, "end": 4.0, "stages": [1]},  # build fills
        2: {"submit": 5.0, "end": 9.0, "stages": [2, 3]},
    }
    task = dict(run_ms=100, cpu_ns=5e7, gc_ms=10, deser_ms=5, shuffle_read=0,
                shuffle_write=tracing.MB, spill=0, input_bytes=2 * tracing.MB,
                input_rows=50, output_bytes=0)
    tasks = [dict(task, job=0, stage=0, dur_ms=100),
             dict(task, job=2, stage=2, dur_ms=100),
             dict(task, job=2, stage=2, dur_ms=300, input_bytes=0)]
    m = tracing.pass_layers(spans, pas, jobs, tasks,
                            tracing.attach_jobs(spans, jobs))
    assert m["build.wall_s"] == 4.0
    assert m["build.self_s"] == 1.0  # jobs cover [1, 4]
    assert m["build.job_overlap"] == pytest.approx(4.0 / 3.0)
    assert m["action.self_s"] == 2.0
    assert (m["build.jobs"], m["action.jobs"], m["action.tasks"]) == (2, 1, 3)
    assert m["exec.small_task_ratio"] == pytest.approx(1 / 3)
    assert m["exec.task_skew"] == pytest.approx(300 / 200)
    assert m["io.rows_per_result_row"] == 15.0
    assert m["share.cached_mb_after_key"] == 2.0
