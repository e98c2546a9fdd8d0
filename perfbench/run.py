#!/usr/bin/env python3
"""Layered benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, one Spark session at
``local[<cpus>]``, one client in a closed loop: each timed pass runs every
key of the workload once, one at a time, in an order shuffled by the seed.
The timed call per key is the build, ``queries()[key](spark, sf_dir)``,
followed by the action, a ``noop`` write that materialises every output
column.

A run:
1. reads the repository's reference fixture tables at SF 0.01, copied under
   ``perfbench/data/`` (``--seed`` only shuffles the key order), and removes
   staged stores a crashed earlier run left behind, so every run starts cold;
2. starts the session and runs one pass, in sorted key order, that collects
   every key's output and compares it with its DuckDB oracle answer
   (``check.py``), then ``WARM_PASSES`` untimed passes for the JIT;
3. runs timed passes until ``--seconds`` have passed (at least three);
4. prints a summary and, as the last stdout line, one JSON object.

``--trace 0`` reports the end-to-end metrics (``setup_s``, ``cpu_s``,
``peak_rss_mb``) and prints the pass wall time ``wall_s`` beside them;
``--trace 1`` enables Spark's event log and reports the per-layer metrics
of ``tracing.py``. Every run writes its full
record, spans included, under ``perfbench/.work/records/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SCRATCH = os.path.join(ROOT, ".scratch")  # the engine's staged-store dir
SF = 0.01
# The reference fixture tables. The engine keys its staged stores on the
# directory's name, so the ``pbfx_`` tag scopes the stores a run clears.
FIXTURE_TAG = "pbfx_"
FIXTURE_DIR = os.path.join(HERE, "data", f"{FIXTURE_TAG}sf{SF}")
# Driver heap cap. The heap is committed and touched whole at start (-Xms =
# -Xmx, AlwaysPreTouch), so peak RSS does not depend on how far G1 chose to
# grow it in one run.
HEAP_CAP_MB = 2048
# Per-key medians need at least three values to ignore one slow pass.
MIN_PASSES = 3


def process_age() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_settings(run_dir: str) -> dict:
    """Size the session to this host; exported before the engine is imported."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap_mb = min(HEAP_CAP_MB, phys_mb // 4)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
    }
    for path in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(path, exist_ok=True)
    os.environ.update(env)
    # debug mode adds plan-time diagnostic jobs to some keys
    os.environ.pop("SPARK_GRAFT_DEBUG", None)
    return {"cpus": cpus, "phys_mb": phys_mb, "heap_mb": heap_mb, **env}


def start_session(host: dict, run_dir: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    from data_transform_spark.session import RUNTIME_CONFS

    builder = (
        SparkSession.builder.master(f"local[{host['cpus']}]")
        .appName("perfbench")
        .config("spark.driver.memory", host["SPARK_GRAFT_DRIVER_MEM"])
        .config("spark.driver.extraJavaOptions",
                f"-Xms{host['heap_mb']}m -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={host['TMPDIR']} -XX:-UsePerfData "
                # no compiler thread may exit: proctree.py counts JIT CPU
                # over the live compiler threads
                "-XX:-UseDynamicNumberOfCompilerThreads")
        .config("spark.local.dir", host["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", str(event_dir is not None).lower())
    )
    if event_dir is not None:
        builder = (builder.config("spark.eventLog.dir", f"file://{event_dir}")
                   .config("spark.eventLog.compress", "false")
                   .config("spark.eventLog.rolling.enabled", "false"))
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and the Python workers it forked."""
    from pyspark import SparkContext

    from perfbench import proctree

    workers = [pid for pid, role in proctree.walk(os.getpid())
               if role == "pyworker"]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    proctree.wait_gone(workers, timeout=30)


def calib(spark) -> dict:
    """Host probes: min-of-3 1024^2 numpy matmul, min-of-2 codegen sum."""
    import numpy as np

    m = np.random.default_rng(0).random((1024, 1024))
    gemm = []
    for _ in range(3):
        t0 = time.perf_counter()
        m @ m
        gemm.append(time.perf_counter() - t0)
    sums = []
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(2 * 10**7).selectExpr("sum(id * 2 + 1)").collect()
        sums.append(time.perf_counter() - t0)
    return {"gemm_s": min(gemm), "spark_sum_s": min(sums)}


def steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def clear_stores(tag: str) -> set[str]:
    """Remove staged stores of earlier runs on this fixture tag; return the
    scratch entries that exist now (the ones this run must not delete)."""
    if not os.path.isdir(SCRATCH):
        return set()
    for name in os.listdir(SCRATCH):
        if tag in name:
            shutil.rmtree(os.path.join(SCRATCH, name), ignore_errors=True)
    return set(os.listdir(SCRATCH))


def remove_new_entries(keep: set[str]) -> None:
    if os.path.isdir(SCRATCH):
        for name in set(os.listdir(SCRATCH)) - keep:
            path = os.path.join(SCRATCH, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)


class Runner:
    def __init__(self, args, host: dict, spark, sf_dir: str, oracle):
        import __spark_entry__

        from perfbench import proctree, tracing
        from perfbench.workloads import WORKLOADS

        self.proctree, self.tracing = proctree, tracing
        self.args, self.host, self.spark, self.sf_dir = args, host, spark, sf_dir
        self.sc = spark.sparkContext
        self.oracle = oracle
        self.keys = WORKLOADS[args.workload]
        queries = __spark_entry__.queries()
        self.queries = {k: queries[k] for k in self.keys}
        self.rng = random.Random(args.seed)
        self.spans = tracing.Spans()
        self.attempted = 0
        self.failed: dict[str, list[str]] = {}
        self.result_rows: dict[str, int] = {}
        self.harness_s = 0.0  # benchmark-own time inside set-up

    def order(self) -> list[str]:
        keys = list(self.keys)
        self.rng.shuffle(keys)
        return keys

    def fail(self, key: str, why: str) -> None:
        self.failed.setdefault(key, []).append(why[:300])

    def warmup(self, parent: int) -> dict[str, float]:
        """Collect each key once, in a fixed order so set-up is the same
        program in every run, and check it against the oracle."""
        builds = {}
        for key in sorted(self.keys):
            self.attempted += 1
            t0 = time.time()
            try:
                df = self.queries[key](self.spark, self.sf_dir)
                t1 = time.time()
                pdf = df.toPandas()
                t2 = time.time()
                problems = self.oracle.problems(key, df, pdf)
                self.harness_s += time.time() - t2
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                self.fail(key, f"warm-up: {type(exc).__name__}: {exc}")
                continue
            builds[key] = t1 - t0
            self.result_rows[key] = len(pdf)
            self.spans.add("warmup_key", t0, t2, parent, key=key)
            if problems:
                self.fail(key, "oracle: " + "; ".join(problems))
        return builds

    def warm_passes(self, parent: int, count: int) -> None:
        """Untimed noop passes that let the JIT settle before timing."""
        for index in range(count):
            t0 = time.time()
            span = self.spans.add("warm_pass", t0, t0, parent, index=index)
            for key in self.order():
                self.run_key(key, span)
            self.spans.items[span]["end"] = time.time()

    def run_key(self, key: str, parent: int) -> dict | None:
        trace = self.args.trace
        tr = self.tracing
        self.attempted += 1
        j0 = tr.next_job_id(self.sc) if trace else 0
        cpu0 = self.proctree.snapshot()
        t0 = time.time()
        try:
            df = self.queries[key](self.spark, self.sf_dir)
            t1 = time.time()
            j1 = tr.next_job_id(self.sc) if trace else 0
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        except Exception as exc:  # noqa: BLE001 — counted, run goes on
            self.fail(key, f"pass: {type(exc).__name__}: {exc}")
            return None
        cpu = self.proctree.cpu_delta(cpu0, self.proctree.snapshot())
        rec = {"key": key, "build_s": t1 - t0, "action_s": t2 - t1,
               "cpu_s": program_cpu(cpu),
               "result_rows": self.result_rows.get(key, 0)}
        if trace:
            j2 = tr.next_job_id(self.sc)
            stages, tasks = tr.stage_task_counts(self.sc, range(j1, j2))
            rec.update(build_jobs=j1 - j0, action_jobs=j2 - j1,
                       action_stages=stages, action_tasks=tasks,
                       cached_bytes=tr.cached_bytes(self.sc))
        span = self.spans.add("key", t0, time.time(), parent, **rec)
        self.spans.add("build", t0, t1, span, key=key)
        self.spans.add("action", t1, t2, span, key=key)
        return rec

    def passes(self, parent: int) -> list[dict]:
        out = []
        deadline = time.time() + self.args.seconds
        while True:
            cpu0 = self.proctree.snapshot()
            steal0 = steal_ticks()
            p0 = time.time()
            pass_id = self.spans.add("pass", p0, p0, parent, index=len(out))
            recs = [r for k in self.order()
                    if (r := self.run_key(k, pass_id)) is not None]
            p1 = time.time()
            cpu = self.proctree.cpu_delta(cpu0, self.proctree.snapshot())
            self.spans.items[pass_id]["end"] = p1
            rec = {"span": pass_id, "wall_s": p1 - p0, "cpu": cpu,
                   "steal_ticks": steal_ticks() - steal0, "keys": recs}
            if self.args.trace:
                rec["scratch_write_bytes"] = self.tracing.scratch_bytes_since(
                    SCRATCH, p0)
            out.append(rec)
            if p1 >= deadline and len(out) >= MIN_PASSES:
                return out


def program_cpu(cpu: dict[str, float]) -> float:
    """CPU seconds of the process tree without the JIT compiler threads."""
    return sum(v for role, v in cpu.items() if role != "jit")


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def content_hash(paths: list[str]) -> str:
    """Hash of the files' relative names and bytes."""
    h = hashlib.sha256()
    for path in sorted(paths):
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def code_hash() -> str:
    """Hash of the engine and benchmark sources: runs with the same hash
    measure the same program."""
    paths = [os.path.join(ROOT, "__spark_entry__.py"),
             os.path.join(ROOT, "BENCHMARK.json")]
    for top in ("data_transform_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = [d for d in dirs if not d.startswith(".")]
            paths += [os.path.join(dirpath, f) for f in files
                      if f.endswith(".py")]
    return content_hash([p for p in paths if os.path.exists(p)])


def untraced_wall(workload: str, code: str) -> float | None:
    """Median ``wall_s`` of the untraced runs of ``workload`` recorded in
    this checkout with the same code hash, or None when there is none."""
    recs = os.path.join(WORK, "records")
    walls = []
    if os.path.isdir(recs):
        for name in os.listdir(recs):
            if name.startswith(f"{workload}-") and name.endswith("-t0.json"):
                with open(os.path.join(recs, name)) as fh:
                    rec = json.load(fh)
                if rec.get("code") == code:
                    walls.append(rec["wall_s"])
    return median(walls) if walls else None


def old_gen_pools(spark) -> list:
    """The JVM's old-generation heap pools: what survives young collections,
    cached shares included. Eden fills to its size before every young
    collection, so its peak says nothing about the program."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP"
            and ("Old Gen" in p.getName() or "Tenured" in p.getName())]


def main() -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        print("perfbench: no engine (__spark_entry__.py) at the repository "
              "root; run from a full checkout", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        return bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def bench(args, run_dir: str) -> int:
    host = host_settings(run_dir)
    from perfbench import proctree
    from perfbench.check import Oracle
    from perfbench.workloads import WARM_PASSES

    harness_t0 = time.perf_counter()
    sf_dir = FIXTURE_DIR
    fingerprint = content_hash(
        [os.path.join(sf_dir, f) for f in os.listdir(sf_dir)])
    code = code_hash()
    keep = clear_stores(FIXTURE_TAG)
    harness_s = time.perf_counter() - harness_t0

    event_dir = None
    if args.trace:
        event_dir = os.path.join(run_dir, "events")
        os.makedirs(event_dir)
    spark = None
    try:
        with proctree.PeakRss() as rss:
            t_run = time.time()
            t0 = time.perf_counter()
            spark = start_session(host, run_dir, event_dir)
            session_s = time.perf_counter() - t0
            oracle = Oracle(sf_dir, fingerprint, os.path.join(WORK, "oracle"))
            runner = Runner(args, host, spark, sf_dir, oracle)
            run_span = runner.spans.add("run", t_run, t_run)
            setup_span = runner.spans.add("setup", t_run, t_run, run_span)
            t0 = time.perf_counter()
            warm_builds = runner.warmup(setup_span)
            runner.warm_passes(setup_span, WARM_PASSES[args.workload])
            warmup_s = time.perf_counter() - t0 - runner.harness_s
            t0 = time.perf_counter()
            probes = calib(spark)
            harness_s += runner.harness_s + time.perf_counter() - t0
            setup_s = process_age() - harness_s
            runner.spans.items[setup_span]["end"] = time.time()
            pools = old_gen_pools(spark)
            for pool in pools:
                pool.resetPeakUsage()
            steal0 = steal_ticks()
            passes = runner.passes(run_span)
            steal = steal_ticks() - steal0
            old_gen_peak_mb = sum(
                p.getPeakUsage().getUsed() for p in pools) / 2**20
            runner.spans.items[run_span]["end"] = time.time()
        peak_rss_mb = rss.peak_mb
    finally:
        remove_new_entries(keep)
        if spark is not None:
            stop_session(spark)

    walls = [p["wall_s"] for p in passes]
    per_key: dict[str, list[dict]] = {}
    for p in passes:
        for r in p["keys"]:
            per_key.setdefault(r["key"], []).append(r)
    # One pass, estimated key by key: a burst of host noise that slows one
    # key in one pass moves that key's median, not the pass total. wall_s
    # is printed and recorded but is no end-to-end metric: CPU steal on a
    # shared host moves it by more than any bound the benchmark may set
    # (NOTES.md).
    wall_s = sum(median([r["build_s"] + r["action_s"] for r in rs])
                 for rs in per_key.values())
    metrics = {
        "setup_s": setup_s,
        "cpu_s": sum(median([r["cpu_s"] for r in rs])
                     for rs in per_key.values()),
        "peak_rss_mb": peak_rss_mb,
    }
    builds = {k: [r["build_s"] for r in rs] for k, rs in per_key.items()}
    setup = {
        "setup.session_s": session_s,
        "setup.warmup_s": warmup_s,
        "setup.stage_build_s": sum(
            max(0.0, warm_builds[k] - median(v))
            for k, v in builds.items() if k in warm_builds
        ),
    }
    layers = None
    overhead = None
    if args.trace:
        layers = traced_layers(runner, passes, event_dir)
        layers.update(setup)
        layers["jvm.old_gen_peak_mb"] = old_gen_peak_mb
        layers["trace.wall_s"] = wall_s
        base = untraced_wall(args.workload, code)
        if base is not None:
            overhead = wall_s - base

    attempted = runner.attempted
    failed = sum(len(v) for v in runner.failed.values())
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "sf": SF, "fixture": fingerprint,
        "code": code,
        "host": {k: host[k] for k in ("cpus", "phys_mb", "heap_mb")},
        "calib": probes, "steal_ticks": steal,
        "attempted": attempted, "failed": failed,
        "failed_ratio": failed / attempted, "failures": runner.failed,
        "oracle_cache": {"hits": oracle.hits, "misses": oracle.misses},
        "harness_s": harness_s, "passes": len(passes),
        "old_gen_peak_mb": old_gen_peak_mb, "trace_overhead_s": overhead,
        "pass_wall_s": walls, "wall_s": wall_s, "metrics": metrics,
        "setup": setup,
        "layers": layers, "pass_records": passes, "spans": runner.spans.items,
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(
        WORK, "records",
        f"{args.workload}-s{args.seed}-{int(time.time())}-t{args.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    units = UNITS
    print(f"perfbench {args.workload} seed={args.seed} sf={SF} "
          f"cpus={host['cpus']} heap={host['heap_mb']}m passes={len(passes)} "
          f"median_pass_s={median(walls):.3f} "
          f"steal_ticks={steal} record={os.path.relpath(rec_path, ROOT)}")
    print(f"  failed_ratio = {failed / attempted:.4f} ratio "
          f"({failed}/{attempted} key runs)")
    print(f"  wall_s = {wall_s:.6g} s (not bounded; see NOTES.md)")
    for name, value in {**metrics, **(layers or {})}.items():
        print(f"  {name} = {value:.6g} {units[name]}")
    if args.trace:
        print("  trace overhead (traced wall_s - untraced wall_s) = "
              + (f"{overhead:.6g} s" if overhead is not None else
                 "missing: no untraced run of this code in this checkout"))
    chosen = layers if args.trace else metrics
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }))
    return 0


def traced_layers(runner, passes: list[dict], event_dir: str) -> dict:
    """Median over the traced passes of each per-layer metric."""
    tr = runner.tracing
    jobs, tasks = tr.read_event_log(event_dir)
    attached = tr.attach_jobs(runner.spans, jobs)
    per_pass = []
    for p in passes:
        m = tr.pass_layers(runner.spans, p["span"], jobs, tasks, attached)
        m["io.scratch_write_mb"] = p["scratch_write_bytes"] / tr.MB
        m["pyworker.cpu_s"] = p["cpu"]["pyworker"]
        m["proc.driver_cpu_s"] = p["cpu"]["driver"]
        m["proc.jvm_cpu_s"] = p["cpu"]["jvm"]
        m["proc.jit_cpu_s"] = p["cpu"]["jit"]
        per_pass.append(m)
    return {k: median([m[k] for m in per_pass]) for k in per_pass[0]}


UNITS = {
    "setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
    "build.wall_s": "s", "build.self_s": "s", "build.jobs": "count",
    "build.job_overlap": "ratio",
    "action.wall_s": "s", "action.self_s": "s", "action.jobs": "count",
    "action.stages": "count", "action.tasks": "count",
    "exec.small_task_ratio": "ratio", "exec.run_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.deserialize_s": "s", "exec.task_p50_ms": "ms",
    "exec.task_skew": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "spill.mb": "MB",
    "io.input_mb": "MB", "io.input_rows": "count",
    "io.rows_per_result_row": "ratio", "io.output_mb": "MB",
    "io.scratch_write_mb": "MB",
    "pyworker.cpu_s": "s", "proc.driver_cpu_s": "s", "proc.jvm_cpu_s": "s",
    "proc.jit_cpu_s": "s",
    "share.cached_mb_after_key": "MB",
    "setup.session_s": "s", "setup.warmup_s": "s", "setup.stage_build_s": "s",
    "jvm.old_gen_peak_mb": "MB", "trace.wall_s": "s",
}


if __name__ == "__main__":
    sys.path[:0] = [ROOT]
    sys.exit(main())
