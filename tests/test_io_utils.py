"""spread() split estimation, zero-norm embedding guard (round-3 ADVICE) and
the staged-store publish (io.stage)."""

import math
import os

import pytest

from data_transform_spark.io import _bytes_conf, load_table, spread


class TestBytesConf:
    def test_plain_and_suffixed_forms(self, spark):
        spark.conf.set("spark.test.bytesconf", "134217728b")
        assert _bytes_conf(spark, "spark.test.bytesconf", 0) == 134217728
        spark.conf.set("spark.test.bytesconf", "128MB")
        assert _bytes_conf(spark, "spark.test.bytesconf", 0) == 128 << 20
        spark.conf.set("spark.test.bytesconf", "4mb")
        assert _bytes_conf(spark, "spark.test.bytesconf", 0) == 4 << 20
        spark.conf.set("spark.test.bytesconf", "1024")
        assert _bytes_conf(spark, "spark.test.bytesconf", 0) == 1024
        # Spark's single-letter JavaUtils forms must parse too — '512m'
        # silently falling back to 128MB would skew the spread() estimate 4x
        spark.conf.set("spark.test.bytesconf", "512m")
        assert _bytes_conf(spark, "spark.test.bytesconf", 0) == 512 << 20
        spark.conf.set("spark.test.bytesconf", "1g")
        assert _bytes_conf(spark, "spark.test.bytesconf", 0) == 1 << 30
        spark.conf.set("spark.test.bytesconf", "2tb")
        assert _bytes_conf(spark, "spark.test.bytesconf", 0) == 2 << 40

    def test_missing_key_falls_back(self, spark):
        assert _bytes_conf(spark, "spark.test.definitely.absent", 77) == 77


class TestSpread:
    def test_single_small_file_is_spread(self, spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        assert len(docs.inputFiles()) < spark.sparkContext.defaultParallelism
        out = spread(docs)
        # repartition node present: partition count hits the target
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    def test_few_huge_files_estimate_uses_bytes(self, spark, tmp_path):
        # One file whose BYTE size implies >= target splits must not be
        # re-shuffled even though the file COUNT is 1. Simulate "huge" by
        # shrinking maxPartitionBytes instead of writing gigabytes.
        df = spark.range(0, 200_000).selectExpr("id", "repeat('x', 64) AS pad")
        path = str(tmp_path / "wide.parquet")
        df.coalesce(1).write.parquet(path)
        scan = spark.read.parquet(path)
        fsize = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        target = spark.sparkContext.defaultParallelism
        old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
        old_oc = spark.conf.get("spark.sql.files.openCostInBytes")
        try:
            mpb = max(1, math.ceil(fsize / (target + 1)))
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(mpb))
            spark.conf.set("spark.sql.files.openCostInBytes", "0")
            out = spread(scan)
            assert out is scan  # no repartition inserted
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
            spark.conf.set("spark.sql.files.openCostInBytes", old_oc)


class TestZeroNormGuard:
    @pytest.fixture(scope="class")
    def zero_norm_dir(self, spark, tmp_path_factory):
        """Fixture dir whose embeddings table plants one zero-norm vector."""
        d = tmp_path_factory.mktemp("zn")
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0], "a"),
            (1, [0.9, 0.1, 0.0, 0.0], "a"),
            (2, [0.0, 0.0, 0.0, 0.0], "z"),  # zero norm: cosine undefined
            (3, [0.0, 1.0, 0.0, 0.0], "b"),
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string"
        ).write.parquet(str(d / "embeddings.parquet"))
        return str(d)

    def test_zero_norm_vector_never_pairs(self, spark, zero_norm_dir):
        from data_transform_spark.pipeline.similarity import tiled_cosine_pairs

        got = tiled_cosine_pairs(spark, zero_norm_dir, 0.4).collect()
        ids = {r["id_a"] for r in got} | {r["id_b"] for r in got}
        assert 2 not in ids
        assert all(not math.isnan(r["score"]) for r in got)
        # the well-defined near-parallel pair is still found
        assert {(r["id_a"], r["id_b"]) for r in got} >= {(0, 1)}

    def test_oracle_twin_agrees_on_zero_norm(self, spark, zero_norm_dir):
        """The DuckDB twin with the norm>0 guard must match Spark exactly."""
        import duckdb

        from data_transform_spark.registry import ORACLES

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"parquet_scan('{zero_norm_dir}/embeddings.parquet/*.parquet')"
        )
        want = sorted(map(tuple, con.execute(ORACLES["sim_pairs_threshold"]).fetchall()))
        from data_transform_spark.pipeline.similarity import PAIR_TAU, tiled_cosine_pairs

        got = sorted(
            (r["id_a"], r["id_b"], r["score"])
            for r in tiled_cosine_pairs(spark, zero_norm_dir, PAIR_TAU).collect()
        )
        assert got == want


@pytest.fixture
def scratch_sf(tmp_path, monkeypatch):
    """(scratch, sf_dir): SCRATCH moved into tmp_path, and an SF dir holding
    one stand-in nation table for the store key to fingerprint."""
    from data_transform_spark import io as dio

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(dio, "SCRATCH", str(scratch))
    sf = tmp_path / "sf_t"
    sf.mkdir()
    (sf / "nation.parquet").write_bytes(b"stand-in")
    return str(scratch), str(sf)


def _write(d: str, text: str) -> None:
    os.makedirs(d, exist_ok=True)
    with open(f"{d}/part-0", "w") as f:
        f.write(text)


def _read(d: str) -> str:
    with open(f"{d}/part-0") as f:
        return f.read()


class TestStageAtomic:
    def test_publishes_complete_dir_and_discards_race_loser(self, scratch_sf):
        """r7 ADVICE: staged stores are published via temp-dir + os.rename,
        so a reader can only ever see a COMPLETE directory; a hit runs no
        build; a process that loses the rename race discards its temp copy
        and the winner's contents survive untouched."""
        from data_transform_spark.io import MARKER, stage, store_dir

        scratch, sf = scratch_sf
        target = store_dir("t", sf, "nation")
        assert stage("t", sf, "nation", lambda d: _write(d, "v1")) == target
        assert _read(target) == "v1"
        assert os.path.exists(f"{target}/{MARKER}")

        def no_build(d):
            raise AssertionError("a hit must not build")

        assert stage("t", sf, "nation", no_build) == target

        race = store_dir("race", sf, "nation")

        def build_losing(d):
            _write(d, "loser")
            _write(race, "winner")  # another process publishes meanwhile
            open(f"{race}/{MARKER}", "w").close()

        assert stage("race", sf, "nation", build_losing) == race
        assert _read(race) == "winner"
        # no stray .tmp-* siblings left behind
        assert sorted(os.listdir(scratch)) == sorted(map(os.path.basename, (target, race)))

    def test_heals_corrupt_markerless_leftover(self, scratch_sf):
        """r8 ADVICE: a pre-existing target WITHOUT the marker (a crashed
        publisher, or a store an older engine marked another way) must not
        win the rename race — the fresh complete build replaces it."""
        from data_transform_spark.io import MARKER, stage, store_dir

        scratch, sf = scratch_sf
        target = store_dir("t", sf, "nation")
        _write(target, "partial")
        open(f"{target}/_INDEX", "w").close()

        assert stage("t", sf, "nation", lambda d: _write(d, "fresh")) == target
        assert _read(target) == "fresh"
        assert sorted(os.listdir(target)) == [MARKER, "part-0"]
        assert os.listdir(scratch) == [os.path.basename(target)]

    def test_failed_build_leaks_no_temp_sibling(self, scratch_sf):
        """r8 ADVICE: if build() raises, the .tmp-* sibling is cleaned up
        (not leaked in SCRATCH) and the error propagates."""
        from data_transform_spark.io import stage

        scratch, sf = scratch_sf

        def bad_build(d):
            _write(d, "half")
            raise RuntimeError("build blew up")

        with pytest.raises(RuntimeError, match="build blew up"):
            stage("t", sf, "nation", bad_build)
        assert os.listdir(scratch) == []  # no target, no .tmp-* leftovers


# store name -> the fixture table it is keyed on, for every scratch store
_STORES = {
    "dpp_lineitem": "lineitem",
    "scan_csv_malformed": "nation",
    "scan_xml_nation": "nation",
    "scan_json_multiline": "nation",
    "scan_text_nation": "nation",
    "substr_store": "documents",
    "substr_store2": "documents",
    "minhash_store": "documents",
    "phash_store": "documents",
    "ivfpq_index": "embeddings",
    "ivfpq_hist": "embeddings",
    "graph_index": "embeddings",
    "ivfpq_appends": "embeddings",
    "ivfpq_compact": "embeddings",
    "stream_events": "events",
    "stream_chunks_late": "events",
    "stream_chunks_clean": "events",
    "stream_documents": "documents",
    "scan_jsonl": "documents",
    "scan_csv": "documents",
}
# the keys that stage them (ivfpq_hist and ivfpq_appends via the compaction)
_STAGING_KEYS = [
    "join_dpp", "scan_csv_malformed", "scan_xml", "scan_json_multiline", "scan_text",
    "text_substring_dedup_incr", "text_substring_store_update", "dedup_minhash_incr",
    "dedup_image_phash_incr", "sim_ann_persist", "sim_ann_graph", "sim_ann_index_compact",
    "source_stream_file", "stream_tumbling", "stream_watermark", "stream_pii_scrub",
    "scan_jsonl", "scan_csv",
]
# stores once stamp-checked and rewritten in place, and the keys that stage them
_RESTAGED_STORES = ["stream_events", "stream_chunks_late", "stream_chunks_clean",
                    "stream_documents", "scan_jsonl", "scan_csv"]
_RESTAGED_KEYS = ["source_stream_file", "stream_watermark", "stream_pii_scrub",
                  "scan_jsonl", "scan_csv"]


def _snapshot(d: str) -> dict:
    out = {}
    for dirpath, _dirs, files in os.walk(d):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = (os.stat(p).st_mtime_ns, fh.read())
    return out


class TestStagedStores:
    def test_every_store_is_keyed_marked_and_republished(self, spark, sf_dir, tmp_path, monkeypatch):
        """Every scratch store goes through io.stage: its directory is
        {name}_{sf}_{fingerprint} and holds the one marker. A changed
        fixture publishes a new store next to the old one, which stays
        byte-identical (no in-place rewrite)."""
        import shutil

        import __spark_entry__  # noqa: F401
        from data_transform_spark import io as dio
        from data_transform_spark.pipeline.e2e import _prefix_code_fingerprint, stage_e2e_prefix
        from data_transform_spark.registry import QUERIES
        from data_transform_spark.streaming.ops import stage_events_chunks

        sf = str(tmp_path / os.path.basename(sf_dir))
        os.makedirs(sf)
        for f in os.listdir(sf_dir):
            shutil.copyfile(os.path.join(sf_dir, f), os.path.join(sf, f))
        scratch = str(tmp_path / "scratch")
        monkeypatch.setattr(dio, "SCRATCH", scratch)
        stores = {**_STORES, f"e2e_prefix_{_prefix_code_fingerprint()}": "documents"}

        def entries(names):
            return {os.path.basename(dio.store_dir(n, sf, stores[n])) for n in names}

        counts = {key: QUERIES[key](spark, sf).count() for key in _STAGING_KEYS}
        stage_events_chunks(sf, plant_late=False)
        stage_e2e_prefix(spark, sf)
        first = entries(stores)
        assert set(os.listdir(scratch)) == first
        for entry in first:
            assert os.path.exists(os.path.join(scratch, entry, dio.MARKER)), entry
        before = {e: _snapshot(os.path.join(scratch, e)) for e in first}

        for table in ("documents", "events", "nation"):
            p = dio.path_of(sf, table)
            st = os.stat(p)
            os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        for key in _RESTAGED_KEYS:
            assert QUERIES[key](spark, sf).count() == counts[key], key
        stage_events_chunks(sf, plant_late=False)

        new = entries(_RESTAGED_STORES)
        assert not new & first
        assert set(os.listdir(scratch)) == first | new
        for entry in new:
            assert os.path.exists(os.path.join(scratch, entry, dio.MARKER)), entry
        for entry in first:
            assert _snapshot(os.path.join(scratch, entry)) == before[entry], entry
