"""What a key build reuses from earlier builds in the same session: fixture
footer schemas (``io.read_parquet``) and generated classes (the codegen
cache cap in ``session.RUNTIME_CONFS``). Never data: every build still scans
its rows."""

import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__  # noqa: F401 — populates the registry
from data_transform_spark import io
from data_transform_spark.registry import QUERIES

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _compiled_classes(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _nanos_settings_cached(spark, path: str) -> set:
    """nanosAsLong values of the cached schemas for ``path`` in this
    session (the conf tuple is the key's last field, nanosAsLong first)."""
    return {key[-1][0] for key in io._SCHEMAS
            if key[0] is spark.sparkContext and key[1] == path}


def test_second_load_table_runs_no_job(spark, sf_dir):
    io.load_table(spark, sf_dir, "lineitem")
    before = _next_job_id(spark)
    df = io.load_table(spark, sf_dir, "lineitem")
    assert _next_job_id(spark) - before == 0
    assert "l_orderkey" in df.columns


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert io.read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": ["x", "y"], "c": [1.5, 2.5]}), path)
    df = io.read_parquet(spark, path)
    assert df.columns == ["b", "c"]
    assert sorted(r.b for r in df.collect()) == ["x", "y"]


def test_type_mapping_confs_key_the_schema(spark, sf_dir):
    path = io.path_of(sf_dir, "events")
    prior = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "true")
        io.read_parquet(spark, path)
        spark.conf.set(NANOS, "false")
        io.read_parquet(spark, path)
    finally:
        spark.conf.set(NANOS, prior)
    assert {"true", "false"} <= _nanos_settings_cached(spark, path)


def test_nanos_column_follows_nanos_as_long(spark, tmp_path):
    """A TIMESTAMP(NANOS) column is a long under nanosAsLong and cannot be
    read without it; a schema cached under one setting must not serve the
    other."""
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), path)
    prior = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "true")
        assert io.read_parquet(spark, path).dtypes == [("ts", "bigint")]
        spark.conf.set(NANOS, "false")
        try:
            dtypes = io.read_parquet(spark, path).dtypes
        except Exception:  # noqa: BLE001 — Spark rejects NANOS without the conf
            dtypes = None
        assert dtypes != [("ts", "bigint")]
    finally:
        spark.conf.set(NANOS, prior)


def test_repeated_dispatch_reuses_generated_classes(spark, sf_dir):
    """One sim_ann_pq build compiles ~140 classes, more than Spark's default
    100-entry cache holds, so there every rebuild recompiles all of them.
    Under adaptive execution codegen stage ids follow stage completion
    order, so a rebuild now and then meets a few new class sources (0-8
    of 142 in 20 rebuilds at sf0.001); the bound allows that, not a
    recompile."""
    QUERIES["sim_ann_pq"](spark, sf_dir).collect()
    before = _compiled_classes(spark)
    QUERIES["sim_ann_pq"](spark, sf_dir).collect()
    assert _compiled_classes(spark) - before <= 16
