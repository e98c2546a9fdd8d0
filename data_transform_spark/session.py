"""SparkSession construction + the session configs every query relies on.

The driver hands us an existing SparkSession, so anything we require must be
settable at runtime (``spark.conf.set``) — ``configure_session`` applies those.
``get_spark`` builds a session for local tests/bench, sized by env vars:
``SPARK_GRAFT_CPUS`` (default 32) and shuffle partitions matched to cores.

One entry of ``RUNTIME_CONFS`` is static: ``spark.sql.codegen.cache.maxEntries``
takes effect only when a session is built with it (``get_spark``, or any
builder that applies ``RUNTIME_CONFS``). ``configure_session`` skips it, so a
session built elsewhere keeps Spark's 100-entry generated-class cache.

At cluster scale the same code runs unchanged: shuffle partitions should be
set to ~2-3x total executor cores (AQE coalesces down), and
``spark.sql.files.maxPartitionBytes`` left at 128m so a 100 TB scan yields
~800k well-sized input splits.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs the engine depends on (applied to driver sessions too).
RUNTIME_CONFS = {
    # Deterministic timestamp semantics; fixtures are NTZ on both engines.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet has INT64 TIMESTAMP(NANOS) — Spark 4 errors without this;
    # read as long ns then timestamp_micros(ts div 1000) (FIXTURES.md recipe).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for all pandas_udf / toPandas boundaries.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Wide aggregates (64-bucket simhash, 48-hash minhash) exceed the default
    # 100-field whole-stage-codegen limit and run interpreted. Round 2 raised
    # the limit to 300 to keep them codegen'd; re-measured round 3: Janino
    # compilation of the giant generated functions costs 10-40 s per fresh
    # plan with NO steady-state win — simhash: stable 3.8-4.2 s at the
    # default vs 4-15 s at 300. Keep the default limit; the wide aggs are
    # fine interpreted because their per-row work is trivial bit math.

    # Static (build time only): the generated-class cache. It is keyed on
    # the generated source, which a rebuilt plan of the same key repeats —
    # a second dedup_simhash build compiles 0 classes — but it only hits if
    # it holds every class a pass needs. Spark's default of 100 does not:
    # one pipeline_e2e_llm_v4 build at sf0.1 compiles 310-340 classes and a
    # perfbench llm_staged pass 180-200, so an LRU of 100 evicts each class
    # before its next use and every build recompiles everything. 1000 holds
    # ~3 of the largest builds; metaspace after v4 + sim_ann_ivfpq read
    # 179 MB here vs 182 MB at 100.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Fixture-tier setting (sf <= 0.1): the default 200 is pure stage overhead
    # at this size. Derived from SPARK_GRAFT_CPUS rather than pinned (r14,
    # guide §2 "scale-adaptive partitioning"): the driver also runs the bench
    # at a lower core count, and a constant tuned for 32 cores would leave
    # partitions 4x the parallelism there. Cluster tiers override per
    # SCALING.md (2-3x total cores; AQE coalesces down either way).
    "spark.sql.shuffle.partitions": str(
        max(int(os.environ.get("SPARK_GRAFT_CPUS", "32")), 8)
    ),
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs to an externally-provided session;
    static ones (the codegen cache cap) only apply at session build."""
    for k, v in RUNTIME_CONFS.items():
        if spark.conf.isModifiable(k):
            spark.conf.set(k, v)
    return spark


def get_spark(app_name: str = "data-transform-spark") -> SparkSession:
    """Local session for tests/bench; honors SPARK_GRAFT_CPUS."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure_session(builder.getOrCreate())
