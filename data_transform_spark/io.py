"""Table loaders for the fixture star schema + events/documents/embeddings.

All tables are plain parquet scans (columnar, footer schemas, predicate
pushdown and column pruning reach the scan automatically). The one special
case is ``events.ts``, whose physical type has varied across fixture
generations: INT64 TIMESTAMP(NANOS) (unreadable natively by Spark 4.1.2)
or plain TIMESTAMP(MICROS). ``normalize_event_ts`` adapts on the scanned
dtype: under ``spark.sql.legacy.parquet.nanosAsLong=true`` a NANOS column
arrives as long nanoseconds and is truncated with
``timestamp_micros(ts div 1000)`` (integer div — ns-since-epoch ~1.7e18
exceeds exact double range; matches DuckDB's ns->us truncation exactly),
while a MICROS column already scans as timestamp_ntz and passes through.

Fixture reads go through ``read_parquet``, which infers a local file's schema
once per SparkContext and hands it to later reads: inference runs a one-task
footer job (60-70 ms of CPU) on every ``spark.read.parquet`` call, and every
key build reads its tables again. The schema is keyed on the file's size and
mtime and on the confs that change the parquet-to-Spark type mapping, so a
rewritten file or a flipped conf is inferred again. Every read still scans
its rows; only the schema is reused.

Every scratch store (a history digest store, an ANN index, a staged scan or
stream input) is built through ``stage``: its directory name is its cache
key, and it is published whole or not at all.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def path_of(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")
MARKER = "_STAGED"  # written by stage() once a build has returned


def fingerprint(path: str) -> str:
    """Short content fingerprint of a parquet file-or-directory: sha256 of
    every member file's (relpath, size, mtime_ns), driver-side metadata only.
    It changes whenever the fixture is regenerated, so a store keyed on it
    can never alias a stale layout to fresh source data."""
    h = hashlib.sha256()
    if os.path.isdir(path):
        for dirpath, _dirnames, filenames in sorted(os.walk(path)):
            for fname in sorted(filenames):
                st = os.stat(os.path.join(dirpath, fname))
                rel = os.path.relpath(os.path.join(dirpath, fname), path)
                h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
    elif os.path.exists(path):
        st = os.stat(path)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:12]


def store_dir(name: str, sf_dir: str, table: str) -> str:
    """Where store ``name`` built from fixture ``table`` lives: the SF
    directory's basename plus the table's fingerprint, so a store built for
    one SF or one state of the fixture is never served for another."""
    sf = os.path.basename(sf_dir.rstrip("/"))
    return f"{SCRATCH}/{name}_{sf}_{fingerprint(path_of(sf_dir, table))}"


def stage(name: str, sf_dir: str, table: str, build) -> str:
    """Return ``store_dir(name, sf_dir, table)``, building it on a miss.

    A hit is a directory holding ``MARKER``. On a miss ``build(tmp)``
    creates ``tmp``, a per-process temp sibling, and writes the store into
    it; the marker is written after it returns, and the sibling is renamed
    into place. A
    reader therefore sees no directory or a complete one, never a partial
    write. A lost rename race is benign when the winner holds the marker; a
    target without it is a leftover of a crashed or older publisher and is
    removed so the fresh copy wins. A failed build removes its sibling."""
    staged = store_dir(name, sf_dir, table)
    if os.path.exists(os.path.join(staged, MARKER)):
        return staged
    tmp = f"{staged}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        build(tmp)
        open(os.path.join(tmp, MARKER), "w").close()
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    for _ in range(2):
        try:
            os.rename(tmp, staged)
            return staged
        except OSError:
            if os.path.exists(os.path.join(staged, MARKER)):
                shutil.rmtree(tmp, ignore_errors=True)  # the winner is complete
                return staged
            shutil.rmtree(staged, ignore_errors=True)  # heal a markerless leftover
    shutil.rmtree(tmp, ignore_errors=True)
    raise OSError(f"could not publish {staged!r}: the target kept reappearing without {MARKER}")


# Confs that change how parquet types map to Spark types (events.ts reads as
# long under nanosAsLong, as timestamp_ntz without it).
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
_SCHEMAS: dict[tuple, StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the footer schema inferred once per
    (SparkContext, file size/mtime, type-mapping confs). Anything that is not
    a local regular file (a directory, a remote URI) infers as usual."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (spark.sparkContext, path, st.st_size, st.st_mtime_ns,
           tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    schema = _SCHEMAS.get(key)
    if schema is None:  # two fill threads may both infer: same value, no lock
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return spark.read.schema(schema).parquet(path)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """ts -> TIMESTAMP at us precision (== DuckDB read), whatever the scan gave.

    Long nanoseconds (NANOS fixture under nanosAsLong) are truncated to us;
    TIMESTAMP_NTZ (MICROS fixture) is cast to TIMESTAMP — with the session
    pinned to UTC the two types are numerically identical, and TIMESTAMP is
    required downstream (watermarks reject NTZ; NTZ has no bigint cast).
    Works on batch and streaming DataFrames alike (decided off the schema)."""
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(dt, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The NTZ->TIMESTAMP cast in normalize_event_ts is value-preserving only
    # under a UTC session; direct callers (api.py, examples/) never run
    # configure_session, so re-assert here rather than silently shifting
    # event timestamps on a non-UTC session (round-3 ADVICE).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_event_ts(read_parquet(spark, path_of(sf_dir, "events")))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return read_parquet(spark, path_of(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def spread(df, min_parts: int | None = None):
    """Repartition a DataFrame only when its scan under-parallelizes.

    Single-file fixture tables (documents, embeddings) arrive as ONE input
    split, serializing any expensive per-row map work (shingle explode,
    wide hash aggregates) onto one core. Spreading costs a shuffle of the
    raw rows — trivial next to the map work it parallelizes. At cluster
    scale a 100 TB scan already has thousands of input files, so this is a
    no-op there. The probe is ``inputFiles()`` — a driver-side file listing,
    NOT ``.rdd.getNumPartitions()``, which forces an RDD conversion + plan
    materialization per call (round-2 VERDICT: suspect #1 for the dedup
    bench regression). Row placement does not affect results: every
    consumer aggregates by key.

    Split estimate: file COUNT alone misjudges both extremes (a few huge
    files split into many partitions via maxPartitionBytes; thousands of
    tiny files coalesce into few) — so for local files the estimate is
    Spark's own packing formula, ceil((bytes + n*openCost) / maxPartition
    Bytes), and falls back to the file count on remote filesystems
    (round-3 ADVICE).
    """
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    est_splits = len(files)
    local = [f[len("file:"):] for f in files if f.startswith("file:")]
    if files and len(local) == len(files):
        try:
            total = sum(os.path.getsize(p) for p in local)
            mpb = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
            open_cost = _bytes_conf(spark, "spark.sql.files.openCostInBytes", 4 << 20)
            est_splits = -(-(total + len(files) * open_cost) // mpb)
        except OSError:
            pass
    if est_splits >= target:
        return df
    return df.repartition(target)


def _bytes_conf(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark byte-size conf ('134217728b', '128MB', '512m', plain int).

    Accepts the full JavaUtils.byteStringAsBytes suffix set — two-letter
    (kb/mb/gb/tb/pb) and single-letter (k/m/g/t/p) forms — since Spark does;
    an unparseable value falls back to ``default``."""
    try:
        raw = spark.conf.get(key).strip().lower()
    except Exception:
        return default
    suffixes = (
        ("pb", 1 << 50), ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
        ("kb", 1 << 10), ("p", 1 << 50), ("t", 1 << 40), ("g", 1 << 30),
        ("m", 1 << 20), ("k", 1 << 10), ("b", 1),
    )
    for suf, mult in suffixes:
        if raw.endswith(suf):
            raw = raw[: -len(suf)]
            break
    else:
        mult = 1
    try:
        val = int(raw) * mult
    except ValueError:
        return default
    # A conf of '0' (or negative) would divide-by-zero in spread()'s packing
    # formula; treat it as unparseable like Spark rejects it at session init.
    return val if val > 0 else default
