"""§2.I — Structured Streaming over the events table (SURVEY.md).

Every operator is a real stream: file source → transformation → memory sink,
drained with Trigger.AvailableNow. Because the same transformation applied in
batch is semantically identical (the core Structured Streaming guarantee),
each key's DuckDB batch twin is a full hash-check oracle — except watermark
late-data semantics, which SQL cannot express (rows-only + ordered-chunk
pytest).

Windowed aggregations run in COMPLETE output mode: with AvailableNow the
watermark only advances after the final batch, so append mode would hold
back every open window; complete mode emits the full, final state — equal to
the batch result. At production scale the same queries run in append mode
with a real watermark, emitting windows continuously as they finalize.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_transform_spark.io import load_table, normalize_event_ts, path_of, read_parquet
from data_transform_spark.operators.events import _SESSION_MOTIF_ORACLE
from data_transform_spark.operators.scans import SCRATCH
from data_transform_spark.pipeline.dedup import MINHASH_INCR_ORACLE
from data_transform_spark.pipeline.text import PII_SCRUB_ORACLE, pii_plant, pii_scrub
from data_transform_spark.registry import register
from data_transform_spark.shares import release


def _source_stamp(src: str) -> str:
    """mtime+size fingerprint of a fixture file or parquet directory."""
    if os.path.isdir(src):
        parts = []
        for name in sorted(os.listdir(src)):
            st = os.stat(os.path.join(src, name))
            parts.append(f"{name}:{st.st_mtime_ns}:{st.st_size}")
        return ";".join(parts)
    st = os.stat(src)
    return f"{st.st_mtime_ns}:{st.st_size}"


def _copy_parquet(src: str, dst: str) -> None:
    """Copy a parquet source that may be a single file OR a directory."""
    if os.path.isdir(src):
        shutil.copytree(src, dst, dirs_exist_ok=True)
    else:
        shutil.copyfile(src, dst)


def stage_events_dir(sf_dir: str) -> str:
    """Copy the events fixture into a scratch dir (file source needs a dir).

    The staged copy is invalidated when the source's mtime/size changes, so
    regenerated fixtures never serve stale data (round-1 ADVICE.md)."""
    src = path_of(sf_dir, "events")
    src_dir = f"{SCRATCH}/stream_events_{os.path.basename(sf_dir.rstrip('/'))}"
    os.makedirs(src_dir, exist_ok=True)
    staged = f"{src_dir}/events.parquet"
    stamp_file = f"{src_dir}/_stamp"
    stamp = _source_stamp(src)
    prev = open(stamp_file).read() if os.path.exists(stamp_file) else None
    if prev != stamp or not os.path.exists(staged):
        if os.path.isdir(staged):
            shutil.rmtree(staged)
        _copy_parquet(src, staged)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return src_dir


def events_stream(spark, sf_dir: str):
    """readStream over events; ts normalized to us whatever the fixture dtype."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = read_parquet(spark, path_of(sf_dir, "events")).schema
    return normalize_event_ts(
        spark.readStream.schema(raw_schema).parquet(stage_events_dir(sf_dir))
    )


def run_to_memory(sdf, output_mode: str):
    """Drain a streaming DataFrame into a memory sink; return the result table."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


@register(
    "stream_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
           count(*) AS n, ROUND(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling(spark, sf_dir):
    """Tumbling 1-hour windowed aggregate, executed as a real stream."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("window.start").alias("w_start"), "event_type", "n", "sum_value")
    )
    return run_to_memory(agg, "complete")


@register(
    "stream_sliding",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL 15 MINUTE AS w_start,
           count(*) AS n, ROUND(sum(value), 4) AS sum_value
    FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k
    GROUP BY 1
    """,
)
def stream_sliding(spark, sf_dir):
    """Sliding window (1h every 15min): each event lands in exactly 4 windows."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("window.start").alias("w_start"), "n", "sum_value")
    )
    return run_to_memory(agg, "complete")


@register(
    "stream_session",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    )
    SELECT user_id, min(ts) AS w_start, count(*) AS n, ROUND(sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session(spark, sf_dir):
    """Session windows (10-min gap) per user; batch twin = gaps-and-islands.

    Spark closes a session when the next event is >= gap after the previous
    one, hence the ``>=`` in the twin's new-session condition.
    """
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("session_window.start").alias("w_start"), "user_id", "n", "sum_value")
    )
    return run_to_memory(agg, "complete")


def stage_events_chunks(sf_dir: str, plant_late: bool) -> str:
    """Stage events as 4 time-ordered parquet chunks; optionally re-deliver
    50 old rows in the last chunk (to land behind an advanced watermark)."""
    import pandas as pd

    tag = "late" if plant_late else "clean"
    src = f"{SCRATCH}/stream_chunks_{tag}_{os.path.basename(sf_dir.rstrip('/'))}"
    stamp = _source_stamp(path_of(sf_dir, "events"))
    ready = f"{src}/_ready"
    prev = open(ready).read() if os.path.exists(ready) else None
    if prev != stamp:
        os.makedirs(src, exist_ok=True)
        pdf = pd.read_parquet(path_of(sf_dir, "events")).sort_values("ts")
        n = len(pdf)
        chunks = [
            pdf.iloc[: n // 4],
            pdf.iloc[n // 4 : n // 2],
            pdf.iloc[n // 2 : 3 * n // 4],
            pdf.iloc[3 * n // 4 :],
        ]
        if plant_late:
            chunks[3] = pd.concat([pdf.iloc[n // 4 : n // 4 + 50], chunks[3]])
        for i, chunk in enumerate(chunks):
            chunk.to_parquet(f"{src}/chunk_{i}.parquet", index=False)
        with open(ready, "w") as f:
            f.write(stamp)
    return src


@register(
    "stream_watermark",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, count(*) AS n
    FROM events
    GROUP BY 1
    HAVING epoch_us(time_bucket(INTERVAL '1 hour', ts)) + 3600000000
           <= (SELECT epoch_us(max(ts)) - 3600000000 FROM events)
    """,
)
def stream_watermark(spark, sf_dir):
    """Windowed agg under a 1-hour watermark with out-of-order file batches.

    The fixture is re-staged as time-ordered chunks plus a deliberately late
    chunk; maxFilesPerTrigger=1 makes each file its own micro-batch so the
    watermark advances between them and drops the too-late rows.

    The SQL twin encodes the two deterministic consequences of append-mode
    watermarking on time-ordered chunks: (a) only windows whose end is at or
    before the final watermark (max ts - 1h) are emitted, and (b) the
    re-delivered late rows land behind a watermark that has advanced ~20
    days past them, so they are dropped and counts equal the batch counts.
    Epoch arithmetic avoids DuckDB 1.0's interval-constant CSE bug
    (SURVEY.md §5.3). Chunked late-drop is additionally asserted in
    tests/test_streaming.py.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = stage_events_chunks(sf_dir, plant_late=True)

    raw_schema = read_parquet(spark, path_of(sf_dir, "events")).schema
    stream = normalize_event_ts(
        spark.readStream.schema(raw_schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("w_start"), "n")
    )
    return run_to_memory(agg, "append")


@register(
    "stream_dedup",
    oracle="SELECT DISTINCT event_id, user_id, event_type FROM events",
)
def stream_dedup(spark, sf_dir):
    """Streaming dedup within the watermark horizon (state auto-expires)."""
    dedup = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_to_memory(dedup, "append")


@register(
    "stream_stateful",
    oracle="""
    SELECT user_id, count(*) AS n_events, ROUND(sum(value), 4) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful(spark, sf_dir):
    """Arbitrary stateful op: per-user running counters via
    applyInPandasWithState (state survives across micro-batches; with
    AvailableNow's single batch the emitted state equals the batch agg)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 4)]}
        )

    out = (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, sum_value double",
            stateStructType="n long, s double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(out, "update")


@register(
    "stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, e.value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_static_join(spark, sf_dir):
    """Stream ⋈ broadcast static dimension (per-batch hash join, no state)."""
    from data_transform_spark.io import load_table

    customer = load_table(spark, sf_dir, "customer")
    joined = (
        events_stream(spark, sf_dir)
        .join(F.broadcast(customer), F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "user_id", "c_name", "value")
    )
    return run_to_memory(joined, "append")


@register("stream_sink", oracle="SELECT * FROM events")
def stream_sink(spark, sf_dir):
    """foreachBatch → parquet sink keyed by batch_id, then read back.

    foreachBatch is at-least-once: after an interrupt, Structured Streaming
    replays any batch whose foreachBatch ran but whose checkpoint commit did
    not land. End-to-end exactly-once therefore requires an IDEMPOTENT sink —
    each batch overwrites its own ``batch-{batch_id}`` subdirectory, so a
    replay rewrites the same files instead of appending duplicates (the same
    discipline as stream_upsert_sink's atomic swap). A bare ``mode("append")``
    here would only look exactly-once on an uninterrupted run.
    """
    out = f"{SCRATCH}/stream_sink_out_{uuid.uuid4().hex[:8]}"

    def write_batch(batch_df, batch_id: int):
        batch_df.write.mode("overwrite").parquet(f"{out}/batch-{batch_id}")

    q = (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.option("recursiveFileLookup", "true").parquet(out)


@register(
    "stream_update_counts",
    oracle="""
    SELECT event_type, count(*) AS n, ROUND(sum(value), 4) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_update_counts(spark, sf_dir):
    """Unwindowed streaming aggregation in UPDATE output mode — the running
    per-key counters dashboard shape. With AvailableNow's single batch the
    emitted updates equal the batch aggregate. State never expires here; at
    scale this needs windows+watermark or TTL'd state (SCALING.md §I)."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )
    return run_to_memory(agg, "update")


@register(
    "stream_stream_join",
    oracle="""
    SELECT e.event_id AS err_id, p.event_id AS purchase_id, e.user_id
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id
     AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream interval join: purchases within 1h after an error.

    Both sides carry watermarks so the join state is garbage-collected as
    event time advances — the canonical bounded-state stream-stream join.
    With AvailableNow both sides arrive in one batch, so the emitted result
    equals the batch interval join (the oracle).
    """
    errors = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = errors.join(
        purchases,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("e_ts"))
        & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("err_id", "purchase_id", F.col("e_user").alias("user_id"))
    return run_to_memory(joined, "append")


@register(
    "stream_tumbling_batch",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
           count(*) AS n, ROUND(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_batch(spark, sf_dir):
    """Batch twin of stream_tumbling (same plan minus the state store) —
    doubles as the hypertable-style time-bucket rollup and the bench entry."""
    from data_transform_spark.io import load_table

    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("window.start").alias("w_start"), "event_type", "n", "sum_value")
    )


def _latest_per_user(df):
    """Canonical keyed reduce: newest (ts, event_id) row per user."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


@register(
    "stream_upsert_sink",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value
    FROM events
    QUALIFY row_number()
        OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def stream_upsert_sink(spark, sf_dir):
    """foreachBatch MERGE-style upsert sink: each micro-batch is reduced to
    its newest row per user, merged against the keyed table on disk (newest
    (ts, event_id) wins), and the merged state atomically replaces the old
    snapshot (write-to-tmp + rename). The canonical production pattern for
    maintaining a keyed mirror from a stream when the sink has no native
    MERGE — convergent under ANY batch slicing, so the final table equals
    the batch latest-per-user query whatever AvailableNow does.

    Scale posture: state size is |keys|, not |events| — each merge shuffles
    only (existing keys + batch updates). On a real cluster the same
    foreachBatch body targets a format with native MERGE INTO (Delta /
    Iceberg), turning the read-union-rewrite into a log append; the
    rename-swap here is the plain-parquet equivalent of that commit."""
    out = f"{SCRATCH}/stream_upsert_{uuid.uuid4().hex[:8]}"
    tmp = f"{out}_tmp"

    def upsert(batch_df, _batch_id: int):
        upd = _latest_per_user(batch_df)
        if os.path.exists(out):
            upd = _latest_per_user(
                batch_df.sparkSession.read.parquet(out).unionByName(upd)
            )
        upd.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)

    q = (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )


@register("stream_session_motif", oracle=_SESSION_MOTIF_ORACLE)
def stream_session_motif(spark, sf_dir):
    """Streaming twin of events_session_motif (r8 VERDICT #6): the SAME
    per-session journey + motif columns, computed with session_window
    state over the event stream — stream_session's windowing composed with
    the path-mining family. The journey assembles from a sorted
    collect_list AFTER the stateful aggregate (array_sort/transform are
    row-local projections, legal on streaming agg output), so ordering
    never depends on arrival order; Spark's session_window closes a
    session when the next event arrives >= gap after the previous —
    exactly the batch twin's gaps-and-islands rule, so the two carry the
    SAME hash oracle and are additionally parity-tested against each other
    under BOTH state-store providers in tests/test_streaming.py.

    State bound: one open session per user — time-bounded by the gap, the
    sharpest whale bound in the family. In production this runs append
    mode behind a watermark (stream_watermark's pattern); complete mode +
    memory sink here is the test harness, same as every stream_* key."""
    ev = events_stream(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.substring("event_type", 1, 1).alias("c"),
    )
    agg = ev.groupBy(F.session_window("ts", "10 minutes"), "user_id").agg(
        F.min("ts").alias("w_start"),
        F.count(F.lit(1)).alias("n_events"),
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "c"))).alias(
            "evs"
        ),
    )
    out = agg.select(
        "user_id",
        "w_start",
        F.col("n_events").cast("long").alias("n_events"),
        F.array_join(F.transform("evs", lambda r: r["c"]), "").alias("journey"),
    ).select(
        "user_id",
        "w_start",
        "n_events",
        F.length("journey").cast("long").alias("journey_len"),
        F.md5("journey").alias("journey_md5"),
        F.size(F.expr(r"regexp_extract_all(journey, 'v+c+p', 0)"))
        .cast("long")
        .alias("n_browse_buy"),
        F.col("journey").contains("vp").alias("has_direct_view_buy"),
    )
    return run_to_memory(out, "complete")


def stage_docs_dir(sf_dir: str) -> str:
    """Copy the documents fixture into a scratch dir for the file stream
    source (same stamp-invalidated pattern as stage_events_dir — a
    regenerated fixture never serves stale data)."""
    src = path_of(sf_dir, "documents")
    src_dir = f"{SCRATCH}/stream_docs_{os.path.basename(sf_dir.rstrip('/'))}"
    os.makedirs(src_dir, exist_ok=True)
    staged = f"{src_dir}/documents.parquet"
    stamp_file = f"{src_dir}/_stamp"
    stamp = _source_stamp(src)
    prev = open(stamp_file).read() if os.path.exists(stamp_file) else None
    if prev != stamp or not os.path.exists(staged):
        if os.path.isdir(staged):
            shutil.rmtree(staged)
        _copy_parquet(src, staged)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return src_dir


def docs_stream(spark, sf_dir: str):
    """readStream over the documents table — the ingestion shape of a
    continuously-crawled corpus (files land, the curation stream picks
    them up)."""
    raw_schema = read_parquet(spark, path_of(sf_dir, "documents")).schema
    return spark.readStream.schema(raw_schema).parquet(stage_docs_dir(sf_dir))


@register("stream_pii_scrub", oracle=PII_SCRUB_ORACLE)
def stream_pii_scrub(spark, sf_dir):
    """STREAMING curation: the PII scrub stage running over the document
    ingestion stream — the first documents-table streaming key (the
    stream_* family so far covers events). Redaction is stateless
    (pii_plant/pii_scrub are pure row-local projections, shared verbatim
    with the batch text_pii_scrub), so the query runs in APPEND mode with
    no watermark and no state store: each arriving file's docs are
    scrubbed and emitted exactly once — the production shape where crawl
    output lands as files and cleaned docs flow to the training store.
    Batch == stream by the core Structured Streaming guarantee, so the
    key carries the batch twin's full hash oracle."""
    docs = docs_stream(spark, sf_dir).select("doc_id", "text")
    return run_to_memory(pii_scrub(pii_plant(docs)), "append")


@register("stream_dedup_incr", oracle=MINHASH_INCR_ORACLE)
def stream_dedup_incr(spark, sf_dir):
    """STREAMING incremental MinHash near-dup (r10 VERDICT #4): the
    dedup_minhash_incr store maintained by a document stream — crawl
    batches land as files, and each micro-batch's foreachBatch pass (a)
    finds every near-dup pair the batch introduces (batch-vs-store via
    the band-keyed join, batch-vs-batch via the self-join, exact digest-
    jaccard verification), then (b) appends the batch's band rows +
    shingle digests to the store. Historical text is never re-read.

    Exactly-once discipline (the stream_upsert_sink lesson, store-tier):
    every write in the foreachBatch body targets a batch-{id} subdir with
    mode("overwrite"), so a replayed batch overwrites its own output
    idempotently; and the store READ inside the body lists subdirs
    explicitly, EXCLUDING batch ids >= the current one — a replay
    therefore never sees its own half-appended rows and can never pair a
    batch's docs against themselves through the store (which would
    duplicate every intra-batch pair as a cross pair).

    Convergent under ANY micro-batch slicing: a pair is discovered
    exactly once, in the batch where its LATER doc arrives (the earlier
    doc's rows are already in the store), so the union of per-batch pair
    outputs equals the batch twin's answer whatever AvailableNow does —
    asserted against dedup_minhash_incr row-for-row in the parity test,
    and the post-stream store equals the batch-maintained store. The key
    therefore carries the batch twin's FULL hash oracle (the
    stream_session_motif precedent): same pair identity, same digest-
    jaccard expression, so the value hash matches whatever the slicing.

    100 TB shape: identical to dedup_minhash_incr per batch — the store
    join is the only store-scaled stage and is the layout the store would
    be bucketed by; batch work scales with the batch. The store grows by
    24 band rows + ~32 B/shingle per doc, exactly what the nightly
    example (examples/incremental_refresh.py) provisions."""
    run = f"{SCRATCH}/stream_minhash_{uuid.uuid4().hex[:8]}"
    return run_stream_dedup_incr(spark, sf_dir, run)


def run_stream_dedup_incr(spark, sf_dir, run: str):
    """stream_dedup_incr's body with an explicit run directory, so tests
    can inspect the post-stream store (bands/shingles subdirs) alongside
    the returned pairs."""
    from data_transform_spark.pipeline.dedup import (
        MINHASH_EXACT_TAU,
        _digest_jaccard_of_pairs,
        _shingle_digests,
        _sig_bands,
        minhash_signatures,
        minhash_stage_store,
    )

    hist_staged = minhash_stage_store(spark, sf_dir)
    bands_dir, sh_dir = f"{run}/bands", f"{run}/shingles"
    pairs_dir, input_dir = f"{run}/pairs", f"{run}/input"
    os.makedirs(pairs_dir)
    shutil.copytree(f"{hist_staged}/bands", f"{bands_dir}/base")
    shutil.copytree(f"{hist_staged}/shingles", f"{sh_dir}/base")

    # the arriving crawl: the batch partition staged as 4 files, drained
    # 2 files per trigger -> at least two micro-batches cross the store
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 >= 8
    )
    docs.repartition(4).write.parquet(input_dir)
    schema = spark.read.parquet(input_dir).schema

    def _prior(d: str, batch_id: int) -> list[str]:
        return [
            os.path.join(d, name)
            for name in sorted(os.listdir(d))
            if name == "base"
            or (name.startswith("batch-") and int(name.rsplit("-", 1)[1]) < batch_id)
        ]

    def process(batch_df, batch_id: int):
        s = batch_df.sparkSession
        # r14 (guide §3.3/§5): the body runs THREE write actions per
        # micro-batch and the batch band/digest frames feed all of them —
        # local checkpoints (filled by the first write) run the shingle
        # explode + 48-min signature aggregate once per batch AND truncate
        # the lineage the downstream join tasks would otherwise serialize
        # per task (the
        # capstone-share mechanism; plain lazy/eager PERSIST variants
        # measured SLOWER here — OPTIMIZATION_r14.md wave 3/6).
        bands_b = _sig_bands(minhash_signatures(batch_df)).localCheckpoint()
        sh_b = _shingle_digests(batch_df).localCheckpoint()
        store_bands = s.read.parquet(*_prior(bands_dir, batch_id))
        store_sh = s.read.parquet(*_prior(sh_dir, batch_id))
        h, n = store_bands.alias("h"), bands_b.alias("n")
        cross = (
            h.join(
                n,
                (F.col("h.band") == F.col("n.band"))
                & (F.col("h.bucket") == F.col("n.bucket")),
            )
            .select(
                F.least(F.col("h.doc_id"), F.col("n.doc_id")).alias("doc_a"),
                F.greatest(F.col("h.doc_id"), F.col("n.doc_id")).alias("doc_b"),
            )
        )
        a, b = bands_b.alias("a"), bands_b.alias("b")
        intra = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        cand = cross.unionByName(intra).dropDuplicates(["doc_a", "doc_b"])
        sh_all = store_sh.unionByName(sh_b)
        pairs = _digest_jaccard_of_pairs(cand, sh_all, sh_all).filter(
            F.col("jaccard") >= MINHASH_EXACT_TAU
        )
        # pairs FIRST (reads only prior store state), appends LAST: a crash
        # between the two replays the whole batch idempotently
        pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch-{batch_id}")
        bands_b.write.mode("overwrite").parquet(f"{bands_dir}/batch-{batch_id}")
        sh_b.write.mode("overwrite").parquet(f"{sh_dir}/batch-{batch_id}")
        # r15 (ADVICE): free the per-batch checkpoint blocks once the three
        # writes are done — otherwise they accumulate across micro-batches
        # until Python GC lets ContextCleaner at them, a slow executor
        # storage leak on a long-running stream.
        release(bands_b, sh_b)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(input_dir)
        .writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(pairs_dir)
        .orderBy("doc_a", "doc_b")
    )


@register(
    "stream_topk",
    oracle="""
    WITH counters AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT * FROM (
        SELECT window_start, event_type, n,
               CAST(row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY n DESC, event_type) AS BIGINT) AS rn
        FROM counters)
    WHERE rn <= 2
    """,
)
def stream_topk(spark, sf_dir):
    """Streaming top-k: the 2 busiest event types of every tumbling day —
    the 'trending now' dashboard shape. Ranking is not a streaming
    operator (a rank can be overturned by any late row), so the query
    has the canonical two-tier architecture: the STREAM maintains the
    per-(window, key) counters — the unbounded, state-heavy part — in
    complete mode, and the rank runs as a tiny BATCH window over the
    sink table, whose size is windows × key-cardinality, not event
    volume. At 100 TB/day that downstream rank touches thousands of
    rows while the stream shoulders the billions; late data revises a
    counter and the next rank read heals automatically."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    counters = run_to_memory(agg, "complete")
    wr = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        counters.select(
            F.col("w.start").alias("window_start"), "event_type", "n"
        )
        .withColumn("rn", F.row_number().over(wr).cast("long"))
        .filter(F.col("rn") <= 2)
    )
