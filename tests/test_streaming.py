"""Streaming parity + late-data tests (SURVEY.md §5.2.5).

The stateful parity tests run under BOTH state-store providers
(r7 VERDICT #8): the default HDFSBackedStateStoreProvider (in-JVM maps,
what every earlier round exercised) and RocksDBStateStoreProvider — the
provider SCALING.md prescribes at production scale, where keyed state
outgrows executor heap and needs incremental checkpointing. Same
semantics, different state backend; parity must hold under either.
"""

import pytest

import __spark_entry__  # noqa: F401
from data_transform_spark.registry import QUERIES

_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


@pytest.fixture(params=sorted(_PROVIDERS))
def state_provider(request, spark):
    """Run the decorated test once per state-store provider; the conf is
    read at streaming-query start, so setting it on the session covers the
    queries the registry keys launch internally."""
    try:
        prev = spark.conf.get(_PROVIDER_CONF)
    except Exception:
        prev = None
    spark.conf.set(_PROVIDER_CONF, _PROVIDERS[request.param])
    try:
        yield request.param
    finally:
        if prev is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, prev)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_equals_batch_tumbling(spark, sf_dir, state_provider):
    """The core Structured Streaming guarantee: stream result == batch twin."""
    stream = QUERIES["stream_tumbling"](spark, sf_dir)
    batch = QUERIES["stream_tumbling_batch"](spark, sf_dir)
    assert _rows(stream) == _rows(batch)


def test_watermark_drops_late_rows(spark, sf_dir, state_provider):
    """Re-delivered old rows behind the watermark must NOT inflate counts."""
    import pyspark.sql.functions as F

    from data_transform_spark.io import load_table

    result = {r["w_start"]: r["n"] for r in QUERIES["stream_watermark"](spark, sf_dir).collect()}
    batch = {
        r["w_start"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("w_start"), "n")
        .collect()
    }
    assert result, "watermark query emitted nothing"
    # every emitted window count equals the batch count — the 50 re-delivered
    # late rows (which would inflate their window) were dropped
    for w, n in result.items():
        assert n == batch[w], f"window {w}: stream={n} batch={batch[w]}"


def test_stream_dedup_no_duplicates(spark, sf_dir, state_provider):
    rows = QUERIES["stream_dedup"](spark, sf_dir).collect()
    ids = [r["event_id"] for r in rows]
    assert len(ids) == len(set(ids))


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Stop a checkpointed stream mid-flight, restart it, and verify the sink
    holds every source row exactly once. foreachBatch is at-least-once — a
    batch whose write landed but whose checkpoint commit did not is replayed
    on restart — so the sink must be idempotent per batch_id (overwrite its
    own batch subdir, as stream_sink does). The r5 full-suite red was this
    test using mode("append") with no batch key: a legitimate replay after
    q.stop() duplicated rows."""
    import time

    import pyspark.sql.functions as F

    from data_transform_spark.io import path_of
    from data_transform_spark.streaming.ops import stage_events_chunks

    src = stage_events_chunks(sf_dir, plant_late=False)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(path_of(sf_dir, "events")).schema

    def start():
        from data_transform_spark.io import normalize_event_ts

        stream = normalize_event_ts(
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            stream.writeStream.option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda df, bid: df.write.mode("overwrite").parquet(f"{out}/batch-{bid}")
            )
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 60
    while not q.recentProgress and q.isActive and time.time() < deadline:
        time.sleep(0.2)
    q.stop()  # interrupt mid-run; some batches committed, some not
    q.awaitTermination()

    q2 = start()  # resume from the checkpoint
    q2.awaitTermination()

    got = spark.read.option("recursiveFileLookup", "true").parquet(out)
    n_src = spark.read.parquet(src).count()
    assert got.count() == n_src, "row count after recovery != source"
    assert got.select("event_id").distinct().count() == n_src, "batch replayed -> duplicates"


def test_stream_stateful_matches_batch_agg(spark, sf_dir, state_provider):
    import pyspark.sql.functions as F

    from data_transform_spark.io import load_table

    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in QUERIES["stream_stateful"](spark, sf_dir).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["s"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("s"))
        .collect()
    }
    assert got == want


def test_session_motif_stream_equals_batch(spark, sf_dir, state_provider):
    """r8 VERDICT #6: the session-scoped motif key must produce IDENTICAL
    rows from the streaming session_window path and the batch
    gaps-and-islands twin — journeys, md5 pins, motif counts and all —
    under both state-store providers (session state is keyed per user, so
    provider choice must be invisible)."""
    stream = QUERIES["stream_session_motif"](spark, sf_dir)
    batch = QUERIES["events_session_motif"](spark, sf_dir)
    assert _rows(stream) == _rows(batch)


def test_session_motif_append_mode_emits_closed_sessions(
    spark, sf_dir, state_provider
):
    """Production shape for sessionized motifs: APPEND mode behind a 1-hour
    watermark over time-ordered micro-batches. A session row may only be
    emitted once its window is finalized (watermark passed it), so (a)
    every emitted row must EXACTLY equal its batch-twin row — journeys,
    md5, motif counts — and (b) the bulk of the corpus's sessions (all but
    the final watermark horizon) must have been emitted. This is the
    append-mode counterpart of the complete-mode registered key, under
    both state-store providers."""
    from pyspark.sql import functions as F

    from data_transform_spark.io import normalize_event_ts, path_of
    from data_transform_spark.streaming.ops import (
        run_to_memory,
        stage_events_chunks,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = stage_events_chunks(sf_dir, plant_late=False)
    raw_schema = spark.read.parquet(path_of(sf_dir, "events")).schema
    stream = normalize_event_ts(
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    ).select(
        "user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("c")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(
            F.min("ts").alias("w_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "c"))).alias(
                "evs"
            ),
        )
        .select(
            "user_id",
            "w_start",
            F.col("n_events").cast("long").alias("n_events"),
            F.array_join(F.transform("evs", lambda r: r["c"]), "").alias(
                "journey"
            ),
        )
        .select(
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
    )
    emitted = set(_rows(run_to_memory(agg, "append")))
    batch = set(_rows(QUERIES["events_session_motif"](spark, sf_dir)))
    assert emitted <= batch, "append emitted a session that disagrees with batch"
    # the fixture spans 30 days; only sessions inside the final watermark
    # horizon (last chunk's tail) may still be open and unemitted
    assert len(emitted) >= 0.5 * len(batch), (
        f"append emitted too few finalized sessions: {len(emitted)}/{len(batch)}"
    )


class TestStreamDedupIncr:
    def test_pairs_match_batch_twin_and_store_converges(self, spark, sf_dir, tmp_path):
        """Convergence contract of stream_dedup_incr (r10 VERDICT #4):
        (a) the union of per-batch pair outputs equals dedup_minhash_incr
        row-for-row, and (b) the post-stream store (history + appended
        batch subdirs) equals the batch-maintained store — the same band
        rows and shingle digests dedup_minhash_incr derives in one pass."""
        import pyspark.sql.functions as F

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.dedup import (
            _shingle_digests,
            _sig_bands,
            minhash_signatures,
        )
        from data_transform_spark.streaming.ops import run_stream_dedup_incr

        run = str(tmp_path / "stream_minhash")
        got_pairs = {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in run_stream_dedup_incr(spark, sf_dir, run).collect()
        }
        want_pairs = {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in QUERIES["dedup_minhash_incr"](spark, sf_dir).collect()
        }
        assert got_pairs == want_pairs

        docs = load_table(spark, sf_dir, "documents")
        batch = docs.filter(F.col("doc_id") % 10 >= 8)
        hist = docs.filter(F.col("doc_id") % 10 < 8)

        def rows(df, cols):
            return {tuple(r[c] for c in cols) for r in df.collect()}

        store_bands = spark.read.option("recursiveFileLookup", "true").parquet(
            f"{run}/bands"
        )
        want_bands = _sig_bands(minhash_signatures(hist)).unionByName(
            _sig_bands(minhash_signatures(batch))
        )
        cols = ["doc_id", "band", "bucket"]
        assert rows(store_bands, cols) == rows(want_bands, cols)

        store_sh = spark.read.option("recursiveFileLookup", "true").parquet(
            f"{run}/shingles"
        )
        want_sh = _shingle_digests(hist).unionByName(_shingle_digests(batch))
        assert rows(store_sh, ["doc_id", "sh"]) == rows(want_sh, ["doc_id", "sh"])

        # the stream really sliced the batch partition into >1 micro-batch
        import os

        batch_dirs = [d for d in os.listdir(f"{run}/bands") if d.startswith("batch-")]
        assert len(batch_dirs) >= 2, batch_dirs


def test_stream_topk_ranks_streamed_counters(spark, sf_dir, state_provider):
    """stream_topk's two-tier shape: counters from the stream, rank as a
    batch window over the sink. The result must equal ranking a pure
    batch aggregation (k=2 per day, count desc, type tiebreak), every
    day must emit exactly 2 rows, and rank-1 count >= rank-2 count."""
    from collections import Counter, defaultdict

    import pyspark.sql.functions as F

    from data_transform_spark.io import load_table

    got = QUERIES["stream_topk"](spark, sf_dir).collect()
    ev = (
        load_table(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").alias("d"), "event_type")
        .collect()
    )
    counts = Counter((r["d"], r["event_type"]) for r in ev)
    per_day = defaultdict(list)
    for (d, et), n in counts.items():
        per_day[d].append((-n, et))
    want = set()
    for d, lst in per_day.items():
        for rn, (negn, et) in enumerate(sorted(lst)[:2], start=1):
            want.add((d, et, -negn, rn))
    assert {(r["window_start"], r["event_type"], r["n"], r["rn"]) for r in got} == want
    by_day = defaultdict(dict)
    for r in got:
        by_day[r["window_start"]][r["rn"]] = r["n"]
    assert all(set(v) == {1, 2} and v[1] >= v[2] for v in by_day.values())
