"""§2.A — scans, sources, sinks (SURVEY.md).

Parquet is the native format: footer schemas, columnar scan, predicate
pushdown and column pruning all arrive for free via Catalyst. Sinks write to
the repo-local scratch dir and read back, so round-trip fidelity is itself
hash-checked against the original table's oracle.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_transform_spark.io import load_table, normalize_event_ts, path_of, read_parquet
from data_transform_spark.registry import register

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch")


@register("scan_parquet", oracle="SELECT * FROM customer")
def scan_parquet(spark, sf_dir):
    """Plain parquet scan; schema from the footer."""
    return load_table(spark, sf_dir, "customer")


@register("scan_events_ns", oracle="SELECT * FROM events")
def scan_events_ns(spark, sf_dir):
    """ns-timestamp scan via the nanosAsLong + timestamp_micros recipe."""
    return load_table(spark, sf_dir, "events")


@register(
    "scan_pruned",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem WHERE l_quantity > 45
    """,
)
def scan_pruned(spark, sf_dir):
    """Projection + predicate reach the parquet scan (verified in test_plans)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@register("sink_parquet", oracle="SELECT * FROM customer")
def sink_parquet(spark, sf_dir):
    """Parquet write + read-back round trip (hash-checked vs the original)."""
    out = f"{SCRATCH}/sink_parquet"
    load_table(spark, sf_dir, "customer").write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@register("sink_partitioned", oracle="SELECT * FROM lineitem")
def sink_partitioned(spark, sf_dir):
    """Hive-partitioned write; partition values come back from dir names.

    At scale this layout is what enables static + dynamic partition pruning.
    """
    out = f"{SCRATCH}/sink_partitioned"
    li = load_table(spark, sf_dir, "lineitem")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    df = spark.read.parquet(out)
    # partitionBy moves the column last and infers type; restore name/type/order
    return df.select(*[F.col(c.name).cast(c.dataType) for c in li.schema])


@register("sink_csv_json", oracle="SELECT * FROM nation")
def sink_csv_json(spark, sf_dir):
    """CSV then JSON round trip with explicit schemas (no inference)."""
    nation = load_table(spark, sf_dir, "nation")
    csv_out = f"{SCRATCH}/sink_csv"
    json_out = f"{SCRATCH}/sink_json"
    nation.write.mode("overwrite").option("header", True).csv(csv_out)
    back = spark.read.schema(nation.schema).option("header", True).csv(csv_out)
    back.write.mode("overwrite").json(json_out)
    return spark.read.schema(nation.schema).json(json_out)


@register("source_stream_file", oracle="SELECT * FROM events")
def source_stream_file(spark, sf_dir):
    """Structured Streaming file source over events, drained with AvailableNow.

    The batch read of the same file is the oracle — stream == batch is the
    core Structured Streaming guarantee we rely on for every §2.I op.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = read_parquet(spark, path_of(sf_dir, "events")).schema
    # the file source requires a directory: stage the fixture into scratch.
    # The staged copy is invalidated when the source mtime/size changes so a
    # regenerated fixture is never served stale (round-1 ADVICE.md).
    src = path_of(sf_dir, "events")
    src_dir = f"{SCRATCH}/stream_src_events_{os.path.basename(sf_dir.rstrip('/'))}"
    os.makedirs(src_dir, exist_ok=True)
    staged = f"{src_dir}/events.parquet"
    stamp_file = f"{src_dir}/_stamp"
    st = os.stat(src)
    stamp = f"{st.st_mtime_ns}:{st.st_size}"
    prev = open(stamp_file).read() if os.path.exists(stamp_file) else None
    if prev != stamp or not os.path.exists(staged):
        import shutil

        shutil.copyfile(src, staged)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    stream = normalize_event_ts(spark.readStream.schema(raw_schema).parquet(src_dir))
    name = "source_stream_file_mem"
    q = stream.writeStream.format("memory").queryName(name).trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.table(name)


@register("scan_jsonl", oracle="SELECT * FROM documents")
def scan_jsonl(spark, sf_dir):
    """JSONL (newline-delimited JSON) source over the documents corpus.

    The landed-corpus format LLM pipelines actually ingest: the fixture is
    staged to scratch as JSONL once (stamp-invalidated on fixture change),
    then read back with an explicit schema — no inference pass, which at
    100 TB would double the scan. Hash-checked against the parquet original,
    so escaping (newlines, quotes, unicode) must round-trip exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    src = path_of(sf_dir, "documents")
    out_dir = f"{SCRATCH}/scan_jsonl_{os.path.basename(sf_dir.rstrip('/'))}"
    stamp_file = f"{out_dir}_stamp"
    st = os.stat(src)
    stamp = f"{st.st_mtime_ns}:{st.st_size}"
    prev = open(stamp_file).read() if os.path.exists(stamp_file) else None
    if prev != stamp or not os.path.isdir(out_dir):
        docs.write.mode("overwrite").json(out_dir)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return spark.read.schema(docs.schema).json(out_dir)


PYDS_N = 4096
PYDS_PARTS = 8
PYDS_MOD = 9973


class _DetNumbersReader:
    """Reader for the deterministic Python data source (split lazily to
    avoid importing pyspark.sql.datasource at module import)."""

    def __init__(self, options):
        self.n = int(options.get("n", PYDS_N))

    def partitions(self):
        from pyspark.sql.datasource import InputPartition

        return [InputPartition(i) for i in range(PYDS_PARTS)]

    def read(self, partition):
        i = partition.value
        for k in range(i, self.n, PYDS_PARTS):
            yield (k, (k * k) % PYDS_MOD)


def _det_numbers_source():
    from pyspark.sql.datasource import DataSource, DataSourceReader

    class DetNumbersSource(DataSource):
        """Custom PYTHON DATA SOURCE (Spark 4 pyspark.sql.datasource API):
        a deterministic numbers table produced by 8 independent reader
        partitions — the connector surface for systems with no built-in
        reader (internal services, custom formats)."""

        @classmethod
        def name(cls):
            return "det_numbers"

        def schema(self):
            return "id long, v long"

        def reader(self, schema):
            r = _DetNumbersReader(self.options)

            class _R(DataSourceReader):
                partitions = staticmethod(r.partitions)
                read = staticmethod(r.read)

            return _R()

    return DetNumbersSource


@register(
    "scan_python_datasource",
    oracle=f"""
    SELECT k AS id, (k * k) % {PYDS_MOD} AS v
    FROM generate_series(0, {PYDS_N - 1}) t(k)
    """,
)
def scan_python_datasource(spark, sf_dir):
    """Read through a registered Spark 4 Python Data Source: each of the 8
    InputPartitions yields its residue class of [0, 4096) with a derived
    column, Arrow-batched into the scan like any file source.

    Demonstrates the extension point for sources Spark lacks natively; at
    scale partitions() returns one split per shard/chunk of the external
    system and reads stream per-partition with no driver involvement."""
    spark.dataSource.register(_det_numbers_source())
    return spark.read.format("det_numbers").option("n", str(PYDS_N)).load()


@register("scan_csv", oracle="SELECT * FROM documents")
def scan_csv(spark, sf_dir):
    """CSV source over the documents corpus, RFC-4180 quoting (quote-doubled
    escapes) on both the staged write and the read-back, with an explicit
    schema — inference would double the scan at 100 TB exactly like the
    JSONL case. Hash-checked against the parquet original, so header,
    quoting, and type round-trips must be exact."""
    docs = load_table(spark, sf_dir, "documents")
    src = path_of(sf_dir, "documents")
    out_dir = f"{SCRATCH}/scan_csv_{os.path.basename(sf_dir.rstrip('/'))}"
    stamp_file = f"{out_dir}_stamp"
    st = os.stat(src)
    stamp = f"{st.st_mtime_ns}:{st.st_size}"
    prev = open(stamp_file).read() if os.path.exists(stamp_file) else None
    if prev != stamp or not os.path.isdir(out_dir):
        docs.write.mode("overwrite").options(
            header=True, quote='"', escape='"'
        ).csv(out_dir)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return spark.read.schema(docs.schema).options(
        header=True, quote='"', escape='"'
    ).csv(out_dir)


@register(
    "scan_schema_evolution",
    oracle="""
    SELECT doc_id, n_chars,
           CASE WHEN doc_id % 2 <> 0 THEN lang ELSE NULL END AS lang
    FROM documents
    """,
)
def scan_schema_evolution(spark, sf_dir):
    """Schema-evolution scan: two parquet batches written with DIFFERENT
    schemas (the later batch added a `lang` column) read back as ONE table
    via ``mergeSchema`` — older files null-pad the missing column.

    This is the long-lived-dataset reality at 100 TB: columns get added over
    months of ingest and a re-write of history is off the table. Footer
    merging is a metadata-only operation (one schema per FILE, not per row),
    and column pruning/pushdown still work on the merged scan. mergeSchema
    is opt-in per read because merging thousands of footers has driver-side
    cost — at scale you pin the merged schema in a catalog instead."""
    docs = load_table(spark, sf_dir, "documents")
    out = f"{SCRATCH}/schema_evolution_{os.path.basename(sf_dir.rstrip(chr(47)))}"
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars").write.mode(
        "overwrite"
    ).parquet(f"{out}/batch=1")
    docs.filter(F.col("doc_id") % 2 != 0).select(
        "doc_id", "n_chars", "lang"
    ).write.mode("overwrite").parquet(f"{out}/batch=2")
    return (
        spark.read.option("mergeSchema", "true")
        .option("basePath", out)
        .parquet(f"{out}/batch=1", f"{out}/batch=2")
        .select("doc_id", "n_chars", "lang")
    )


def _path_fingerprint(path: str) -> str:
    """Short content fingerprint of a parquet file-or-directory: sha256 of
    every member file's (relpath, size, mtime_ns), driver-side metadata only.
    Changes whenever the fixture is regenerated — cache-dir keys built from
    it can never alias a stale layout to fresh source data."""
    import hashlib

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


def _stage_atomic(staged: str, build, marker: str = "_SUCCESS") -> None:
    """Publish a staged cache directory atomically: ``build(tmp)`` writes
    into a per-process temp sibling, which is then os.rename-d into the
    final path. A reader can therefore only ever observe (a) no directory
    or (b) a COMPLETE directory — never a mid-rewrite partial, which the
    previous write-in-place mode('overwrite') (delete-then-write) allowed
    when two fresh processes both missed the marker and raced (r7 ADVICE).

    Self-healing (r8 ADVICE): a lost rename race is only benign if the
    winner's directory is COMPLETE, which every complete build proves by
    containing ``marker`` (Spark writes _SUCCESS; hand-rolled builds write
    their own sentinel). After a failed rename, a target WITHOUT the marker
    is a corrupt leftover (e.g. a pre-r8 delete-then-write crash) — it is
    removed and the rename retried so the fresh complete copy wins instead
    of being discarded while callers silently read the partial dir forever.
    A failed build removes its temp sibling instead of leaking it in
    SCRATCH."""
    import shutil
    import uuid

    tmp = f"{staged}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        build(tmp)
        # A build whose output lacks its own completeness marker would be
        # indistinguishable from a corrupt leftover to every later process
        # (which would rmtree it while readers hold it — the r9 ADVICE race).
        # Catch the marker-name mismatch at build time instead.
        if not os.path.exists(os.path.join(tmp, marker)):
            raise OSError(
                f"_stage_atomic build for {staged!r} did not write its "
                f"completeness marker {marker!r} — marker kwarg mismatch?"
            )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    for _ in range(2):
        try:
            os.rename(tmp, staged)
            return
        except OSError:
            if os.path.exists(os.path.join(staged, marker)):
                # benign lost race: the winner's dir is complete
                shutil.rmtree(tmp, ignore_errors=True)
                return
            # corrupt leftover without its completeness marker: heal it
            shutil.rmtree(staged, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    raise OSError(
        f"could not publish staged dir {staged!r}: target kept "
        f"reappearing without its {marker!r} completeness marker"
    )


@register(
    "join_dpp",
    oracle="""
    WITH top_months AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS m, count(*) AS n_ship
        FROM lineitem GROUP BY 1
        QUALIFY row_number() OVER (ORDER BY n_ship DESC, m) <= 3
    )
    SELECT l.sm AS ship_month, count(*) AS n,
           ROUND(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS revenue
    FROM (SELECT strftime(l_shipdate, '%Y-%m') AS sm, l_extendedprice
          FROM lineitem) l
    JOIN top_months t ON l.sm = t.m
    GROUP BY l.sm
    """,
)
def join_dpp(spark, sf_dir):
    """Dynamic partition pruning: the fact is laid out partitioned by ship
    month; the dim side (top-3 busiest months) is DATA-DEPENDENT, so no
    static rewrite can turn it into a literal partition predicate — the
    optimizer must inject a dynamicpruningexpression into the fact scan's
    PartitionFilters, reusing the dim's broadcast as the pruning subquery
    (pinned by the plan-shape test; a constant-foldable dim filter gets
    folded into STATIC pruning instead, which is the wrong demonstration).

    At 100 TB this is the difference between scanning three partitions and
    scanning the table: the dim filter arrives through a join at runtime,
    and DPP converts it into a partition predicate for free. Requires the
    fact to be partitioned on the join key — the layout decision that makes
    date-dim star joins cheap."""
    # Cache key = basename + content fingerprint (mtime+size of the source
    # parquet), so a regenerated fixture at the same path — or two fixture
    # roots sharing a basename — can never serve a stale partitioned layout
    # while the oracle reads the live file (r5 ADVICE).
    src = f"{sf_dir}/lineitem.parquet"
    out = (
        f"{SCRATCH}/dpp_lineitem_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{_path_fingerprint(src)}"
    )
    li = load_table(spark, sf_dir, "lineitem")
    if not os.path.exists(f"{out}/_SUCCESS"):
        _stage_atomic(
            out,
            lambda tmp: li.withColumn(
                "sm", F.date_format("l_shipdate", "yyyy-MM")
            ).write.mode("overwrite").partitionBy("sm").parquet(tmp),
        )
    fact = spark.read.parquet(out)
    w = Window.orderBy(F.col("n_ship").desc(), "m")
    dim = (
        li.groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("m"))
        .agg(F.count(F.lit(1)).alias("n_ship"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("m")
    )
    return (
        fact.join(dim, fact.sm == dim.m)
        .groupBy(F.col("sm").alias("ship_month"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"),
                2,
            ).alias("revenue"),
        )
    )


@register(
    "sink_bucketed_join",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           ROUND(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def sink_bucketed_join(spark, sf_dir):
    """Bucketed tables joined WITHOUT a shuffle: both sides are written
    bucketBy(8, join key) + sortBy, so the sort-merge join reads co-located
    buckets directly — the explain shows both scans `Bucketed: true` and no
    Exchange feeding the join (pinned by the plan-shape test).

    THE layout investment for 100 TB star schemas: pay one clustered write,
    then every subsequent join/aggregation on the bucket key skips its
    exchange entirely. Bucket count scales with cluster width (buckets >=
    executor slots); 8 here matches the local fixture. The same layout
    also feeds bucket-pruned point lookups."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # Catalog identifiers admit only [A-Za-z0-9_]; sanitize EVERY other
    # character (not just '.') so any fixture dir name works (r5 ADVICE).
    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))
    for df, name, key in ((li, f"bkt_lineitem_{tag}", "l_orderkey"),
                          (o, f"bkt_orders_{tag}", "o_orderkey")):
        (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", f"{SCRATCH}/{name}")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    fact = spark.table(f"bkt_lineitem_{tag}")
    dim = spark.table(f"bkt_orders_{tag}")
    return (
        fact.join(dim.hint("merge"), fact.l_orderkey == dim.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 2
            ).alias("qty"),
        )
    )


@register(
    "sink_compaction",
    oracle="""
    SELECT count(*) AS n_rows, TRUE AS files_in_ok, TRUE AS files_out_ok
    FROM documents
    """,
)
def sink_compaction(spark, sf_dir):
    """Small-file compaction: a 64-way fragmented parquet layout is
    rewritten into a handful of right-sized files, with the row count and
    the before/after file counts verified in the result (invariant-style
    booleans so the check is engine-portable).

    THE table-maintenance op at 100 TB: streaming ingest leaves thousands
    of KB-sized files per partition, and every downstream scan pays the
    per-file open cost (listing, footer read, task scheduling) until a
    compaction pass rewrites them at spark.sql.files.maxPartitionBytes
    granularity. Here: repartition(64) fragments, coalesce(4) compacts —
    coalesce not repartition on the write side, so compaction itself is
    shuffle-free (it only concatenates partitions). Lakehouse formats run
    this as OPTIMIZE/rewrite_data_files; the mechanism is identical."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    frag = f"{SCRATCH}/compaction_fragmented_{tag}"
    compact = f"{SCRATCH}/compaction_out_{tag}"
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    n_in = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    spark.read.parquet(frag).coalesce(4).write.mode("overwrite").parquet(compact)
    n_out = len([f for f in os.listdir(compact) if f.endswith(".parquet")])
    out = spark.read.parquet(compact)
    # Invariant: fragmented input has MORE files than compacted output.
    # Pinning n_in == 64 assumed every round-robin partition non-empty —
    # fragile to smaller fixtures / writers that skip empty parts (r5
    # ADVICE); the compaction claim itself is the strict inequality.
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(n_in > n_out).alias("files_in_ok"),
        F.lit(n_out <= 4).alias("files_out_ok"),
    )


@register(
    "scan_binary_files",
    oracle="""
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS fname,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           md5(text) AS checksum
    FROM documents WHERE doc_id < 3
    """,
)
def scan_binary_files(spark, sf_dir):
    """Raw-file ingestion via the binaryFile source: opaque files land as
    (path, modificationTime, length, content BINARY) rows — the entry
    point for image/audio/video corpora before any decode.

    The fixture docs are materialized as real files (deterministic bytes),
    scanned back with `format("binaryFile")`, and verified by md5 over the
    bytes. At 100 TB this is the bootstrap scan of a media lake: one row
    per object, content kept as an opaque binary column (or swapped for an
    object-store pointer above the driver's 2 GB row limit), metadata
    extracted once downstream (multimodal_* family). binaryFile supports
    pathGlobFilter/recursiveFileLookup for prefix pruning — partition
    discipline comes from the object-store layout, not the file contents."""
    out = f"{SCRATCH}/binary_files_{os.path.basename(sf_dir.rstrip('/'))}"
    os.makedirs(out, exist_ok=True)
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 3)
        .select("doc_id", "text")
        .collect()  # 3 rows by contract: fixture files, not data flow
    )
    for r in docs:
        with open(f"{out}/doc_{r.doc_id}.txt", "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    return (
        spark.read.format("binaryFile")
        .load(out)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("fname"),
            F.col("length").alias("byte_len"),
            F.md5("content").alias("checksum"),
        )
    )


def _z_interleave_sql(bx: str, by: str) -> str:
    """16-bit Morton code: interleave two 8-bit bucket ranks (bx gets the
    odd/high bit lanes). Plain `>> & <<` arithmetic — parses identically in
    Spark SQL and DuckDB, so the same string serves operator and oracle."""
    terms = []
    for i in range(8):
        terms.append(f"((({bx} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({by} >> {i}) & 1) << {2 * i})")
    return "CAST(" + " | ".join(terms) + " AS BIGINT)"


def _zorder_ranked(spark, sf_dir):
    """The pre-write z-rank frame (factored out so test_plans can pin the
    plan that actually feeds the write): EXACT 256-bucket ntile values per
    dimension, computed TWO-PHASE — the leading key's histogram gives
    cumulative offsets (windows over date-/partkey-bounded count tables),
    a row_number partitioned by that key gives the within-group rank, and
    the SQL-ntile closed form assigns the bucket from the broadcast total.
    Bit-identical to ntile OVER (ORDER BY dim, tiebreaks) with no global
    sort and no single-partition hop over fact rows."""
    li = load_table(spark, sf_dir, "lineitem")
    n = li.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def two_phase_bucket(lead, tb1, tb2, tag):
        hist = li.groupBy(lead).agg(F.count(F.lit(1)).alias(f"cnt_{tag}"))
        w_off = Window.orderBy(lead).rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = hist.select(
            lead,
            F.coalesce(F.sum(f"cnt_{tag}").over(w_off), F.lit(0)).alias(
                f"off_{tag}"
            ),
        )
        w_in = Window.partitionBy(lead).orderBy(tb1, tb2)
        rn = F.col(f"off_{tag}") + F.row_number().over(w_in)
        q = F.floor(F.col("n") / 256)
        r = F.col("n") % 256
        bucket = (
            F.when(rn <= r * (q + 1), F.floor((rn - 1) / (q + 1)) + 1)
            .otherwise(r + F.floor((rn - r * (q + 1) - 1) / q) + 1)
            .cast("int")
            - 1
        )
        return offsets, bucket

    offx, bx = two_phase_bucket(
        "l_shipdate", "l_orderkey", "l_linenumber", "x"
    )
    offy, by = two_phase_bucket(
        "l_partkey", "l_orderkey", "l_linenumber", "y"
    )
    return (
        li.select("l_orderkey", "l_linenumber", "l_shipdate", "l_partkey")
        .join(F.broadcast(offx), "l_shipdate")
        .join(F.broadcast(offy), "l_partkey")
        .crossJoin(F.broadcast(n))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_shipdate",
            "l_partkey",
            bx.alias("bx"),
            by.alias("by"),
        )
        .withColumn("zval", F.expr(_z_interleave_sql("bx", "by")))
    )


@register(
    "sink_zorder",
    oracle=f"""
    WITH r AS (
        SELECT l_orderkey, l_linenumber, l_shipdate, l_partkey,
               ntile(256) OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber)
                   - 1 AS bx,
               ntile(256) OVER (ORDER BY l_partkey, l_orderkey, l_linenumber)
                   - 1 AS by
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_shipdate, l_partkey,
           {_z_interleave_sql("bx", "by")} AS zval
    FROM r
    """,
)
def sink_zorder(spark, sf_dir):
    """Z-ORDER layout rewrite: cluster the fact on TWO dimensions at once
    (ship date x part key) by sorting on the Morton interleave of their
    256-bucket equal-height ranks, then range-partition the write. Each
    output file then covers a narrow range of BOTH dimensions, so file-level
    min/max pruning works for predicates on either — the multi-dimensional
    counterpart of sink_partitioned (one dim) and sink_bucketed_join (hash,
    no range locality). Lakehouse OPTIMIZE ZORDER is this exact mechanism.

    The write itself is fully distributed (repartitionByRange on zval =
    one range-partitioned sort — the same job shape any large sort uses).
    The 256-bucket ranks are EXACT ntile values computed TWO-PHASE (r13
    VERDICT #4, replacing two global-sort ntile windows over the fact):
    per dimension, the leading key's histogram (dates / part keys —
    dimension-bounded, never fact-rows) provides cumulative offsets, a
    row_number partitioned by that key supplies the within-group rank,
    and the SQL-ntile closed form assigns the bucket from the broadcast
    total — bit-identical to ntile OVER (ORDER BY dim, tiebreak), so the
    key stays hash-checkable against the SQL twin's real ntile. At
    100 TB you could relax further to SAMPLED quantile boundaries (what
    lakehouse OPTIMIZE does — approximate placement, same layout
    quality), but nothing in this plan forces that trade any more: no
    single-partition hop touches fact rows. Pruning win is pinned by
    tests/test_plans.py::test_zorder_files_cluster_both_dims.
    """
    ranked = _zorder_ranked(spark, sf_dir)
    out = f"{SCRATCH}/zorder_lineitem_{os.path.basename(sf_dir.rstrip('/'))}"
    (
        ranked.select(
            "l_orderkey", "l_linenumber", "l_shipdate", "l_partkey", "zval"
        )
        .repartitionByRange(16, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out).select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_partkey", "zval"
    )


@register(
    "sink_dynamic_overwrite",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           CASE WHEN l_returnflag = 'A' THEN 0.0 ELSE l_discount END AS l_discount
    FROM lineitem
    """,
)
def sink_dynamic_overwrite(spark, sf_dir):
    """INSERT-OVERWRITE with DYNAMIC partition overwrite: a backfill that
    rewrites ONLY the partitions present in the incoming data (here: the
    'A' return-flag partition gets its discounts zeroed) while every other
    partition's files are left physically untouched — `static` mode would
    have deleted them. THE incremental-reprocessing primitive at 100 TB:
    re-run one day/segment without touching (or even listing) the rest of
    the table. The conf is set per-write and restored; untouched-partition
    file identity is pinned by
    tests/test_plans.py::test_dynamic_overwrite_leaves_other_partitions.
    """
    tag = os.path.basename(sf_dir.rstrip("/"))
    out = f"{SCRATCH}/dynover_lineitem_{tag}"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_discount"
    )
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    patched = li.filter(F.col("l_returnflag") == "A").withColumn(
        "l_discount", F.lit(0.0)
    )
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        patched.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    df = spark.read.parquet(out)
    # partitionBy moves the column last and infers its type; restore the
    # original name/type/order (same recipe as sink_partitioned)
    return df.select(*[F.col(c.name).cast(c.dataType) for c in li.schema])


@register("scan_csv_malformed", oracle="SELECT * FROM nation")
def scan_csv_malformed(spark, sf_dir):
    """Error-tolerant CSV ingestion: the staged directory contains the
    clean nation export PLUS a file of planted malformed lines (bad int,
    wrong arity), read back in DROPMALFORMED mode — bad rows are skipped,
    clean rows survive byte-exact (the oracle is the original table).
    Real landed data always contains garbage lines; at 100 TB the choice
    is per-row tolerance (this), PERMISSIVE quarantine into a
    _corrupt_record column (pinned by
    tests/test_plans.py::test_permissive_csv_quarantines_bad_rows), or
    FAILFAST for contract-enforced feeds — all three are one option flag
    on the same scan, never a cleansing pre-pass over the corpus."""
    nation = load_table(spark, sf_dir, "nation")
    # Cache key = SF basename + content fingerprint of the source parquet
    # (same recipe as join_dpp): a regenerated fixture at the same path can
    # never serve a stale staged CSV while the oracle reads the live table
    # (r6 ADVICE).
    out_dir = (
        f"{SCRATCH}/scan_csv_malformed_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{_path_fingerprint(path_of(sf_dir, 'nation'))}"
    )
    marker = f"{out_dir}/_planted"
    if not os.path.exists(marker):

        def _build(tmp: str) -> None:
            nation.write.mode("overwrite").options(
                header=True, quote='"', escape='"'
            ).csv(tmp)
            # separate file: Spark skips line 1 of EVERY file as header, so
            # the sacrificial header keeps the planted rows aligned
            with open(f"{tmp}/malformed.csv", "w") as f:
                f.write(
                    "n_nationkey,n_name,n_regionkey,n_comment\n"
                    "notanint,BADLAND,0,unparseable key\n"
                    "1,2,3,4,5,6,7\n"
                    'alsobad,"X",zero,"trailing mess"\n'
                )
            with open(f"{tmp}/_planted", "w") as f:
                f.write("ok")

        _stage_atomic(out_dir, _build, marker="_planted")
    return (
        spark.read.schema(nation.schema)
        .options(header=True, quote='"', escape='"', mode="DROPMALFORMED")
        .csv(out_dir)
    )


@register(
    "scan_metadata_cols",
    oracle="""
    SELECT 'events.parquet' AS file_name, count(*) AS n_rows FROM events
    """,
)
def scan_metadata_cols(spark, sf_dir):
    """The hidden `_metadata` struct on file-based scans: file_name /
    file_path / file_size / row_index surface per-file provenance without
    any side-channel — the lineage primitive for quarantine pipelines
    ("which input file produced this bad row?") and incremental loaders
    ("skip files already ingested"). Selecting `_metadata` columns adds no
    shuffle and no extra scan: the values come from the scan's own file
    metadata. The oracle pins the grouped row count per (single-file
    fixture) file name."""
    ev = read_parquet(spark, path_of(sf_dir, "events")).select(
        F.col("_metadata.file_name").alias("file_name")
    )
    return ev.groupBy("file_name").agg(F.count(F.lit(1)).alias("n_rows"))


@register(
    "scan_glob_recursive",
    oracle="""
    SELECT event_type, count(*) AS n,
           ROUND(sum(value), 4) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def scan_glob_recursive(spark, sf_dir):
    """Data-lake directory ingestion: recursiveFileLookup walks nested
    non-partition directories (the layout crawlers and vendors actually
    drop) and pathGlobFilter admits only `*.parquet`, skipping the
    side-car files that live next to data in real buckets. The fixture
    events split into two disjoint halves staged under different nesting
    depths plus a planted `notes.json` decoy; the recursive+filtered
    read must reassemble exactly the full table (the oracle is the plain
    events aggregate). Staging rewrites on every call (the
    always-rewrite idiom from sink_compaction — no stale-cache class of
    bugs), namespaced by SF so concurrent scale factors never collide."""
    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))
    base = f"{SCRATCH}/glob_recursive_{tag}"
    ev = load_table(spark, sf_dir, "events")
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    half_a.write.mode("overwrite").parquet(f"{base}/site=a/daily")
    half_b.write.mode("overwrite").parquet(f"{base}/site=b/archive/deep")
    with open(f"{base}/site=a/daily/notes.json", "w") as fh:
        fh.write('{"decoy": true}')
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(base)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@register(
    "scan_xml",
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS region, count(*) AS n_nations,
           min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey
    """,
)
def scan_xml(spark, sf_dir):
    """XML source/sink round-trip — Spark 4's BUILT-IN xml format (the
    spark-xml package folded into core): nation staged as <nation> row
    elements, read back with an explicit schema and aggregated; the
    oracle is the original table, so element-level fidelity (names,
    ints) is hash-checked. XML is the format enterprise feeds still
    arrive in (SEC filings, PubMed, legacy SOAP exports); at scale the
    reader splits by row tag like any text source, and an explicit
    schema (as here) skips the inference pass that would read the corpus
    twice. Staged once per (SF, source-fingerprint) via _stage_atomic —
    same race-free recipe as scan_text."""
    staged = (
        f"{SCRATCH}/scan_xml_nation_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{_path_fingerprint(path_of(sf_dir, 'nation'))}"
    )
    na = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    if not os.path.exists(f"{staged}/_SUCCESS"):
        _stage_atomic(
            staged,
            lambda tmp: na.write.mode("overwrite")
            .format("xml")
            .option("rowTag", "nation")
            .save(tmp),
        )
    back = (
        spark.read.format("xml")
        .schema("n_nationkey long, n_name string, n_regionkey long")
        .option("rowTag", "nation")
        .load(staged)
    )
    return back.groupBy(F.col("n_regionkey").alias("region")).agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_name"),
    )


@register("scan_json_multiline", oracle="SELECT * FROM nation")
def scan_json_multiline(spark, sf_dir):
    """multiLine JSON ingestion — the OTHER json layout: one file holding
    a single top-level JSON ARRAY of records (the shape REST exports and
    config dumps arrive in), vs scan_jsonl's line-delimited records.
    multiLine=true makes the whole file one split (no line-range
    parallelism — the reason JSONL wins for bulk data; this key exists
    to ingest the array-shaped feeds you don't control), and the
    explicit schema skips inference. Byte-exact round-trip is the hash
    check (oracle = the original table). The staged array is built
    driver-side from the 25-row SF-invariant nation table (bounded by
    contract, same class as scan_binary_files' fixture staging) and
    published via _stage_atomic."""
    staged = (
        f"{SCRATCH}/scan_json_multiline_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{_path_fingerprint(path_of(sf_dir, 'nation'))}"
    )
    nation = load_table(spark, sf_dir, "nation")
    if not os.path.exists(f"{staged}/_STAGED"):

        def _build(tmp: str) -> None:
            import json

            os.makedirs(tmp)
            recs = [r.asDict() for r in nation.collect()]  # 25 rows, fixed
            with open(f"{tmp}/nation.json", "w") as fh:
                json.dump(recs, fh, indent=1)
            with open(f"{tmp}/_STAGED", "w") as fh:
                fh.write("ok")

        _stage_atomic(staged, _build, marker="_STAGED")
    return (
        spark.read.schema(nation.schema)
        .option("multiLine", "true")
        .json(f"{staged}/nation.json")
    )


@register(
    "sink_partition_audit",
    oracle="""
    SELECT event_type, count(*) AS n_rows, TRUE AS path_matches_column
    FROM events GROUP BY event_type
    """,
)
def sink_partition_audit(spark, sf_dir):
    """Partition-layout audit: after a partitionBy write, prove from the
    FILES — not the data — that every row landed in its own partition
    directory. The read-back extracts the partition value out of
    `_metadata.file_path` and checks it against the reconstructed column
    for every row; per-directory row counts must reproduce the source
    aggregate exactly. This is the post-write validation step a 100 TB
    pipeline runs before publishing a partition — misplaced rows (the
    classic dynamic-partition bug) surface as a FALSE flag or a count
    mismatch, at the cost of one metadata-cheap scan of the written
    files. Always-rewrite staging, SF-namespaced."""
    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))
    out = f"{SCRATCH}/partition_audit_{tag}"
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).select(
        "event_type",
        F.regexp_extract(F.col("_metadata.file_path"), "event_type=([^/]+)", 1).alias(
            "path_part"
        ),
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.when(F.col("path_part") == F.col("event_type"), 1))
         == F.count(F.lit(1))).alias("path_matches_column"),
    )


@register(
    "scan_text",
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS region, count(*) AS n_nations,
           min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey
    """,
)
def scan_text(spark, sf_dir):
    """The line-oriented text source (log-file ingestion): records staged
    as `name|regionkey` lines, read back with ``spark.read.text`` (one
    row per line, a single `value` column) and parsed with split — the
    universal fallback format when data arrives as raw lines. Staged ONCE
    per (SF, source-fingerprint) and published via _stage_atomic's
    temp-dir + os.rename, so a concurrent fresh process can never observe
    an empty/partial directory mid-stage (r7 ADVICE — the bare _SUCCESS
    check narrowed but did not close the delete-then-write window); the
    content fingerprint keeps a regenerated fixture from ever serving
    stale staged lines. Text scans split by line ranges at scale, so
    parallelism comes free; the parse is row-local JVM split/cast."""
    staged = (
        f"{SCRATCH}/scan_text_nation_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{_path_fingerprint(path_of(sf_dir, 'nation'))}"
    )
    if not os.path.exists(f"{staged}/_SUCCESS"):
        na = load_table(spark, sf_dir, "nation").select(
            F.concat_ws(
                "|", F.col("n_name"), F.col("n_regionkey").cast("string")
            ).alias("value")
        )
        _stage_atomic(
            staged,
            lambda tmp: na.coalesce(1).write.mode("overwrite").text(tmp),
        )
    back = spark.read.text(staged).select(
        F.split(F.col("value"), r"\|").alias("parts")
    )
    return (
        back.select(
            F.col("parts").getItem(0).alias("n_name"),
            F.col("parts").getItem(1).cast("long").alias("region"),
        )
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_name").alias("first_name"),
        )
    )
