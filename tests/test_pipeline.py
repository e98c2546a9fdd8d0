"""Golden/property tests for rows-only pipeline ops (SURVEY.md §5.2.4).

These keys have no SQL oracle (minhash/simhash/LSH/approx sketches), so
correctness is pinned by seeded golden expectations and cross-checks against
their exact counterparts.
"""

import pytest

import __spark_entry__  # noqa: F401
from data_transform_spark.registry import QUERIES


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestMinhash:
    def test_identical_docs_have_identical_signatures(self, spark):
        from data_transform_spark.pipeline.dedup import minhash_signatures

        txt = "the quick brown fox jumps over the lazy dog again and again"
        sigs = minhash_signatures(_docs(spark, [(1, txt), (2, txt)])).collect()
        by_id = {r["doc_id"]: r["sig"] for r in sigs}
        assert by_id[1] == by_id[2]

    def test_near_dup_signatures_mostly_agree(self, spark):
        from data_transform_spark.pipeline.dedup import N_HASHES, minhash_signatures

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
        near = base.replace("kappa", "kappa2")
        far = "one two three four five six seven eight nine ten eleven twelve thirteen"
        sigs = {
            r["doc_id"]: r["sig"]
            for r in minhash_signatures(
                _docs(spark, [(1, base), (2, near), (3, far)])
            ).collect()
        }
        agree_near = sum(a == b for a, b in zip(sigs[1], sigs[2])) / N_HASHES
        agree_far = sum(a == b for a, b in zip(sigs[1], sigs[3])) / N_HASHES
        assert agree_near >= 0.5
        assert agree_far < agree_near

    def test_fixture_pairs_are_ordered_and_thresholded(self, spark, sf_dir):
        from data_transform_spark.pipeline.dedup import MINHASH_EXACT_TAU

        rows = QUERIES["dedup_near_minhash"](spark, sf_dir).collect()
        assert rows, "no near-dup pairs found (fixture plants them)"
        for r in rows:
            assert r["doc_a"] < r["doc_b"]
            assert r["jaccard"] >= MINHASH_EXACT_TAU


class TestNearSurvivors:
    def test_chain_component_collapses_to_one_survivor(self, spark):
        """A planted 12-node chain (diameter > the old fixed 5 rounds) must
        collapse to the single min-id survivor — the fixpoint loop, not a
        fixed round count, guarantees it."""
        from data_transform_spark.pipeline.dedup import cc_survivor_ids

        nodes = spark.createDataFrame([(i,) for i in range(100, 112)], "doc_id long")
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(100, 111)], "doc_a long, doc_b long"
        )
        kept = {r["doc_id"] for r in cc_survivor_ids(nodes, chain).collect()}
        assert kept == {100}

    def test_two_components_and_singletons(self, spark):
        from data_transform_spark.pipeline.dedup import cc_survivor_ids

        nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
        )
        kept = {r["doc_id"] for r in cc_survivor_ids(nodes, edges).collect()}
        assert kept == {1, 4, 5, 7}

    def test_star_cc_equals_propagation_on_varied_graphs(self, spark):
        """large-star/small-star must find the same survivors as label
        propagation on chains, cliques, stars and seeded random graphs."""
        import random

        from data_transform_spark.pipeline.dedup import (
            cc_survivor_ids,
            cc_survivor_ids_star,
        )

        graphs = {
            "chain": ([(i,) for i in range(20)], [(i, i + 1) for i in range(19)]),
            "clique": ([(i,) for i in range(8)],
                       [(i, j) for i in range(8) for j in range(i + 1, 8)]),
            "star": ([(i,) for i in range(10)], [(5, j) for j in range(10) if j != 5]),
        }
        rng = random.Random(7)
        n = 40
        rnd_edges = sorted(
            {tuple(sorted(rng.sample(range(n), 2))) for _ in range(35)}
        )
        graphs["random"] = ([(i,) for i in range(n)], rnd_edges)

        for name, (node_rows, edge_rows) in graphs.items():
            nodes = spark.createDataFrame(node_rows, "doc_id long")
            edges = spark.createDataFrame(edge_rows, "doc_a long, doc_b long")
            prop = {r["doc_id"] for r in cc_survivor_ids(nodes, edges).collect()}
            star = {r["doc_id"] for r in cc_survivor_ids_star(nodes, edges).collect()}
            assert star == prop, f"{name}: star={sorted(star)} prop={sorted(prop)}"

    def test_survivors_match_python_union_find(self, spark, sf_dir):
        """Label propagation must equal an independent union-find over pairs."""
        from data_transform_spark.io import load_table

        pairs = [(r["doc_a"], r["doc_b"]) for r in QUERIES["dedup_near_minhash"](spark, sf_dir).collect()]
        all_ids = [r["doc_id"] for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()]
        parent = {i: i for i in all_ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {i for i in all_ids if find(i) == i}
        kept = {r["doc_id"] for r in QUERIES["dedup_near_survivors"](spark, sf_dir).collect()}
        assert kept == expected


class TestNgramJaccardPrefix:
    def test_stopword_heavy_corpus_matches_bruteforce(self, spark):
        """Prefix filtering is LOSSLESS: on a corpus where every doc shares
        the same stopwords (the df^2 worst case the filter exists for), the
        result must equal an exact python brute force."""
        from itertools import combinations

        from data_transform_spark.pipeline.dedup import ngram_jaccard_pairs

        stop = "the of and a to in is it for on"  # shared by every doc
        rows = []
        for i in range(30):
            uniq = " ".join(f"w{i}_{j}" for j in range(10))
            rows.append((i, f"{stop} {uniq}"))
        # plant near-dup pairs: doc 100/101 differ by nothing, 102/103 by one token
        rows.append((100, stop + " alpha beta gamma delta " * 5))
        rows.append((101, stop + " alpha beta gamma delta " * 5))
        base = " ".join(f"t{j}" for j in range(200))
        rows.append((102, stop + " " + base))
        rows.append((103, stop + " " + base.replace("t7", "t7x")))
        d = spark.createDataFrame(rows, "doc_id long, text string")

        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(d, tau=0.95).collect()
        }
        sets = {i: set(t.split(" ")) for i, t in rows}
        want = {}
        for a, b in combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= 0.95:
                want[(a, b)] = j
        assert set(got) == set(want)
        for k, v in want.items():
            assert abs(got[k] - v) < 1e-12


class TestSimhash:
    def test_identical_docs_hamming_zero(self, spark):
        from data_transform_spark.pipeline.dedup import simhash_fingerprints

        txt = "spark query engine table scan filter join aggregate window sort"
        fps = {
            r["doc_id"]: r["simhash"]
            for r in simhash_fingerprints(_docs(spark, [(1, txt), (2, txt)])).collect()
        }
        assert fps[1] == fps[2]

    def test_near_dup_low_hamming(self, spark):
        from data_transform_spark.pipeline.dedup import simhash_fingerprints

        base = " ".join(f"tok{i}" for i in range(40))
        near = base.replace("tok7", "tokX")
        fps = {
            r["doc_id"]: r["simhash"]
            for r in simhash_fingerprints(_docs(spark, [(1, base), (2, near)])).collect()
        }
        # mask to 64 bits: fingerprints are signed Java longs and Python's
        # bin() miscounts XORs involving negative values
        hamming = bin((fps[1] ^ fps[2]) & ((1 << 64) - 1)).count("1")
        assert hamming <= 10  # near-dup stays close in hamming space


class TestAnnLsh:
    def test_lsh_results_subset_of_valid_scores(self, spark, sf_dir):
        from data_transform_spark.pipeline.similarity import sim_ann_lsh_topk

        brute = {
            (r["query_id"], r["neighbor_id"]): r["score"]
            for r in QUERIES["sim_topk_bruteforce"](spark, sf_dir).collect()
        }
        lsh_rows = sim_ann_lsh_topk(spark, sf_dir).collect()
        assert lsh_rows, "LSH returned nothing"
        # any (q, n) the LSH returns that brute force also ranked must agree
        for r in lsh_rows:
            key = (r["query_id"], r["neighbor_id"])
            if key in brute:
                assert r["score"] == pytest.approx(brute[key], abs=1e-6)

    def test_lsh_summary_key_passes_bound(self, spark, sf_dir):
        row = QUERIES["sim_ann_lsh"](spark, sf_dir).collect()[0]
        assert row["recall_ok"], "LSH recall fell below the declared bound"
        assert row["n_queries"] == 20


class TestAnnIvf:
    def test_ivf_recall_beats_bound(self, spark, sf_dir):
        """IVF with 4/16 probes should recover most true top-5 neighbors."""
        from data_transform_spark.pipeline.similarity import sim_ann_ivf_topk

        brute = QUERIES["sim_topk_bruteforce"](spark, sf_dir).collect()
        ivf = sim_ann_ivf_topk(spark, sf_dir).collect()
        b = {(r["query_id"], r["neighbor_id"]) for r in brute}
        i = {(r["query_id"], r["neighbor_id"]) for r in ivf}
        recall = len(b & i) / len(b)
        assert recall >= 0.45, f"IVF recall too low: {recall:.2f}"

    def test_ivf_index_partitions_corpus(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.similarity import IVF_K, ivf_index

        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        cent, assign = ivf_index(e)
        assert cent.count() == IVF_K
        # every vector lands in exactly one list
        assert assign.count() == e.count()
        assert assign.select("vec_id").distinct().count() == e.count()


class TestApproxPercentile:
    def test_sketch_within_declared_bound(self, spark, sf_dir):
        """The key itself asserts |approx-exact| <= 1% as a column; every
        group must pass (this is what the driver hash-checks)."""
        rows = QUERIES["agg_approx_percentile"](spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r["approx_within_1pct"], r
            assert r["p50_exact"] <= r["p90_exact"]


class TestApproxDistinct:
    def test_sketch_within_declared_bound(self, spark, sf_dir):
        rows = QUERIES["agg_approx_distinct"](spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r["approx_within_2pct"], r
            assert r["exact_users"] > 0


class TestMultimodal:
    def test_features_deterministic_and_bounded(self, spark, sf_dir):
        r1 = sorted(QUERIES["multimodal_features"](spark, sf_dir).collect())
        r2 = sorted(QUERIES["multimodal_features"](spark, sf_dir).collect())
        assert r1 == r2
        for r in r1:
            assert 8 <= r["width"] <= 31
            assert 8 <= r["height"] <= 31
            assert r["n_channels"] == 3
            assert 0 <= r["px_min"] <= r["px_max"] <= 255
            # exact BMP size: 54-byte header + padded stride x rows
            stride = 3 * r["width"] + (4 - (3 * r["width"]) % 4) % 4
            assert r["byte_len"] == 54 + stride * r["height"]

    def test_bmp_codec_roundtrips_exactly(self):
        """The pure-numpy BMP codec must round-trip ANY (h, w, 3) uint8
        array bit-exactly — including widths whose 3-byte rows need 1-3
        padding bytes (the classic decoder bug)."""
        import numpy as np

        from data_transform_spark.pipeline.multimodal import (
            decode_bmp,
            encode_bmp,
        )

        rng = np.random.RandomState(7)
        for h, w in [(1, 1), (3, 2), (5, 3), (8, 4), (13, 31), (31, 8)]:
            img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
            blob = encode_bmp(img)
            assert blob[:2] == b"BM"
            back = decode_bmp(blob)
            assert back.shape == (h, w, 3)
            assert (back == img).all(), f"round-trip drift at {h}x{w}"

    def test_resize_dims_and_aspect_property(self):
        """resize_nearest: long side == RESIZE_TARGET, short side is the
        exact floor-scaled aspect map (>= 1), and every output pixel is a
        source pixel (nearest-neighbor never invents values)."""
        import numpy as np

        from data_transform_spark.pipeline.multimodal import (
            RESIZE_TARGET,
            resize_nearest,
            synth_image,
        )

        import hashlib

        for seed in range(20):
            img = synth_image(hashlib.md5(str(seed).encode()).digest())
            h, w, _ = img.shape
            out = resize_nearest(img)
            oh, ow, _ = out.shape
            if w >= h:
                assert ow == RESIZE_TARGET
                assert oh == max(1, (h * RESIZE_TARGET) // w)
            else:
                assert oh == RESIZE_TARGET
                assert ow == max(1, (w * RESIZE_TARGET) // h)
            assert set(np.unique(out)) <= set(np.unique(img))


class TestCuration:
    def test_rag_chunks_reconstruct_documents(self, spark, sf_dir):
        """Stride-40 chunks of width 50 overlap by 10: dropping each chunk's
        overlap tail and concatenating must reproduce the original token
        stream exactly (lossless coverage — the property that matters for
        retrieval indexing)."""
        from pyspark.sql import functions as F

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.curation import CHUNK_STRIDE
        from data_transform_spark.registry import QUERIES

        chunks = QUERIES["rag_chunk"](spark, sf_dir)
        # Exact coverage check: each chunk's first CHUNK_STRIDE tokens are
        # its non-overlap contribution; summed per doc they must equal the
        # doc's token count exactly (no token lost, none double-counted).
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.size(F.split("text", " ")).alias("n_tok")
        )
        per_doc = chunks.groupBy("doc_id").agg(
            F.sum(
                F.least(F.size(F.split("chunk_text", " ")), F.lit(CHUNK_STRIDE))
            ).alias("covered")
        )
        bad = (
            d.join(per_doc, "doc_id")
            .filter(F.col("covered") != F.col("n_tok"))
            .count()
        )
        assert bad == 0

    def test_decontaminate_never_flags_benchmark_docs(self, spark, sf_dir):
        from data_transform_spark.registry import QUERIES

        out = QUERIES["decontaminate_ngram"](spark, sf_dir)
        assert out.filter("doc_id % 97 = 0").count() == 0

    def test_mix_and_weighted_sampling_are_independent(self, spark, sf_dir):
        """Distinct salts: the two samples must not be correlated (their
        intersection rate ~ product of rates, not min of rates)."""
        from data_transform_spark.registry import QUERIES

        w = set(r.doc_id for r in QUERIES["sample_weighted"](spark, sf_dir).collect())
        m = set(r.doc_id for r in QUERIES["mix_domains"](spark, sf_dir).collect())
        n = QUERIES["text_token_count"](spark, sf_dir).count()
        both = len(w & m) / n
        expected = (len(w) / n) * (len(m) / n)
        assert abs(both - expected) < 0.1


class TestEventsGraph:
    def test_cdc_one_row_per_user_no_deletes(self, spark, sf_dir):
        from data_transform_spark.registry import QUERIES

        out = QUERIES["cdc_latest_wins"](spark, sf_dir)
        assert out.groupBy("user_id").count().filter("count > 1").count() == 0
        assert out.filter("last_op = 'error'").count() == 0

    def test_funnel_counts_monotone(self, spark, sf_dir):
        from data_transform_spark.registry import QUERIES

        row = QUERIES["events_funnel"](spark, sf_dir).collect()[0]
        assert (
            row.n_users
            >= row.signed_up
            >= row.viewed_after_signup
            >= row.clicked_in_order
            >= row.completed_funnel
            >= 0
        )

    def test_pagerank_sums_below_one_and_positive(self, spark, sf_dir):
        """Rank mass is ≤ 1 (dangling leak) and ≥ the teleport floor."""
        from data_transform_spark.operators.graph import PR_DAMP, PR_N
        from data_transform_spark.registry import QUERIES

        rows = QUERIES["graph_pagerank"](spark, sf_dir).collect()
        assert len(rows) == PR_N
        total = sum(r.rank for r in rows)
        assert 0 < total <= 1.0 + 1e-6
        floor = (1 - PR_DAMP) / PR_N
        assert all(r.rank >= floor - 1e-9 for r in rows)


class TestMinhashSizeGate:
    """The gate-tier probe must never launch a data job (r5 VERDICT #5)."""

    def test_plain_scan_matches_metadata_count(self, spark, sf_dir):
        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.dedup import (
            MINHASH_GATE_MIN_DOCS,
            _corpus_at_gate_scale,
            _is_plain_scan,
        )

        docs = load_table(spark, sf_dir, "documents")
        assert _is_plain_scan(docs)
        assert _corpus_at_gate_scale(docs) == (docs.count() >= MINHASH_GATE_MIN_DOCS)

    def test_filtered_frame_decides_without_a_job(self, spark, sf_dir):
        """A filtered/derived frame must fall to the file-bytes estimate —
        counting it would silently run a full pass at plan-build time."""
        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.dedup import (
            _corpus_at_gate_scale,
            _is_plain_scan,
        )

        docs = load_table(spark, sf_dir, "documents").filter("doc_id % 2 = 0")
        assert not _is_plain_scan(docs)
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        group = "minhash-gate-probe"
        sc.setJobGroup(group, "gate probe no-job guard")
        try:
            _corpus_at_gate_scale(docs)
        finally:
            sc.setJobGroup("", "")
        assert not tracker.getJobIdsForGroup(group), (
            "filtered-frame gate probe ran a Spark job"
        )

    def test_all_remote_files_count_as_at_gate_scale(self):
        """r6 ADVICE: on s3://hdfs:// storage os.path.getsize sees nothing;
        an all-remote input list must answer 'at gate scale' (the gate
        exists for exactly that deployment) instead of silently disabling
        the estimate gate. Duck-typed frame: _is_plain_scan safely answers
        False for non-DataFrame objects."""
        from data_transform_spark.pipeline.dedup import _corpus_at_gate_scale

        class _RemoteFrame:
            def inputFiles(self):
                return ["s3://bucket/part-0.parquet", "hdfs://nn/part-1.parquet"]

        class _MixedFrame:
            def inputFiles(self):
                # remote corpus + tiny local delta: summing only the local
                # file would undercount a multi-TB corpus below the gate
                return ["s3://bucket/part-0.parquet", "file:/tmp/delta.parquet"]

        class _EmptyFrame:
            def inputFiles(self):
                return []

        assert _corpus_at_gate_scale(_RemoteFrame()) is True
        assert _corpus_at_gate_scale(_MixedFrame()) is True
        # no input files at all (in-memory frame) -> below gate, unchanged
        assert _corpus_at_gate_scale(_EmptyFrame()) is False


class TestPagerankConverged:
    def test_converges_and_preserves_mass(self, spark, sf_dir):
        from data_transform_spark.operators.graph import PR_DAMP, PR_N, pagerank_converged

        rank, iters, delta = pagerank_converged(spark, sf_dir, tol=1e-9, max_iters=60)
        assert delta < 1e-9, f"did not converge: delta={delta} after {iters} iters"
        assert iters < 60, "hit max_iters — convergence stop never fired"
        rows = rank.collect()
        assert len(rows) == PR_N
        total = sum(r.rank for r in rows)
        assert 0 < total <= 1.0 + 1e-9  # dangling leak keeps mass <= 1
        floor = (1 - PR_DAMP) / PR_N
        assert all(r.rank >= floor - 1e-12 for r in rows)

    def test_fixpoint_refines_unrolled_ranks(self, spark, sf_dir):
        """The converged vector is what the 3-iteration unrolled key is
        approaching: per-node |converged - unrolled_3| must be well below
        the unrolled key's own first-to-third iteration movement."""
        from data_transform_spark.operators.graph import pagerank_converged
        from data_transform_spark.registry import QUERIES

        conv = {r.node: r.rank for r in pagerank_converged(spark, sf_dir)[0].collect()}
        un3 = {r.node: r.rank for r in QUERIES["graph_pagerank"](spark, sf_dir).collect()}
        assert set(conv) == set(un3)
        max_gap = max(abs(conv[n] - un3[n]) for n in conv)
        assert max_gap < 0.01, f"converged vs unrolled-3 diverged: {max_gap}"

    def test_releases_superseded_checkpoint_blocks(self, spark, sf_dir):
        """r6 ADVICE: repeated pagerank_converged calls must not accumulate
        checkpoint blocks for the session lifetime. Per-call residue is
        exactly ONE persistent RDD (the block backing the returned frame);
        edges, nodes, and every superseded loop checkpoint are released."""
        from data_transform_spark.operators.graph import pagerank_converged

        jsc = spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size()
        for _ in range(2):
            rank, _iters, _delta = pagerank_converged(spark, sf_dir)
            assert rank.count() == 25
        after = jsc.getPersistentRDDs().size()
        assert after - before <= 2, (
            f"checkpoint blocks leaked: {after - before} new persistent RDDs "
            "after 2 calls (expected <=1 per call)"
        )

    def test_checkpoint_cadence_never_changes_numerics(self, spark, sf_dir):
        """Checkpointing is a lineage/memory lever, not a semantic one: any
        checkpoint_every must give bit-identical ranks, depth, and delta
        (the DECIMAL-exact partials make every iteration order-insensitive,
        and the release machinery must never free a block still needed)."""
        from data_transform_spark.operators.graph import pagerank_converged

        runs = {}
        for ce in (1, 3, 100):
            rank, iters, delta = pagerank_converged(
                spark, sf_dir, checkpoint_every=ce
            )
            runs[ce] = ({r.node: r.rank for r in rank.collect()}, iters, delta)
        base = runs[1]
        for ce, got in runs.items():
            assert got == base, f"checkpoint_every={ce} changed results"

    def test_edges_override_derives_vertex_universe(self, spark, sf_dir):
        """r7 ADVICE: a caller-supplied edge graph over a NON-nation vertex
        set must rank its own vertices with N derived from the graph —
        previously nodes/seed/teleport stayed pinned to the 25 nations, so
        foreign nodes were silently dropped and ranks mis-normalized."""
        from data_transform_spark.operators.graph import PR_DAMP, pagerank_converged

        ring = spark.createDataFrame(
            [("A", "B", 1), ("B", "C", 1), ("C", "D", 1), ("D", "A", 1)],
            "src string, dst string, w long",
        )
        rank, _iters, _delta = pagerank_converged(spark, sf_dir, edges=ring)
        rows = {r.node: r.rank for r in rank.collect()}
        # symmetric 4-ring: uniform stationary distribution over ITS nodes
        assert set(rows) == {"A", "B", "C", "D"}
        assert all(abs(v - 0.25) < 1e-6 for v in rows.values())
        assert abs(sum(rows.values()) - 1.0) < 1e-9

        fan = spark.createDataFrame(
            [("A", "B", 1), ("A", "C", 1)], "src string, dst string, w long"
        )
        rank2, _i, _d = pagerank_converged(spark, sf_dir, edges=fan)
        rows2 = {r.node: r.rank for r in rank2.collect()}
        # sink-only B/C (never a src) are still seeded, ranked, teleported —
        # and their dangling mass is redistributed uniformly (r8 ADVICE), so
        # ranks form a probability distribution even on graphs with sinks
        assert set(rows2) == {"A", "B", "C"}
        assert rows2["B"] == rows2["C"] > rows2["A"]
        assert abs(sum(rows2.values()) - 1.0) < 1e-6
        # closed form with dangling redistribution (d = PR_DAMP):
        #   a = (1-d)/3 + d·(2b)/3,  b = (1-d)/3 + d·(a/2 + 2b/3),  a + 2b = 1
        d = PR_DAMP
        b_closed = ((1 - d) / 3 + d / 2) / (1 + d / 3)
        a_closed = 1 - 2 * b_closed
        assert abs(rows2["A"] - a_closed) < 1e-6
        assert abs(rows2["B"] - b_closed) < 1e-6

    def test_conv_key_pins_iteration_depth(self, spark, sf_dir):
        """graph_pagerank_conv's convergence decision is pinned: the
        SF-independent nation graph converges at exactly PRC_ITERS, and the
        returned frame carries that depth in-plan."""
        from data_transform_spark.operators.graph import PRC_ITERS
        from data_transform_spark.registry import QUERIES

        rows = QUERIES["graph_pagerank_conv"](spark, sf_dir).collect()
        assert len(rows) == 25
        assert all(r.iters == PRC_ITERS for r in rows)


class TestSequenceConsistency:
    def test_motif_journeys_agree_with_transition_matrix(self, spark, sf_dir):
        """Cross-operator differential: events_transitions (window lag per
        user) and events_sequence_motif (sorted struct collection) are two
        independent implementations of the SAME event ordering — the bigram
        census of the journey strings must therefore equal the transition
        matrix exactly. Catches ordering bugs neither oracle would (both
        would faithfully replay a shared mis-ordering of their own key)."""
        from collections import Counter

        from pyspark.sql import functions as F

        from data_transform_spark.io import load_events
        from data_transform_spark.registry import QUERIES

        initial = {"signup": "s", "view": "v", "click": "c",
                   "purchase": "p", "error": "e"}
        ev = load_events(spark, sf_dir)
        journeys = (
            ev.groupBy("user_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "ts",
                                    "event_id",
                                    F.substring("event_type", 1, 1).alias("c"),
                                )
                            )
                        ),
                        lambda s: s["c"],
                    ),
                    "",
                ).alias("journey")
            )
            .collect()
        )
        bigrams: Counter = Counter()
        for r in journeys:
            j = r.journey
            for a, b in zip(j, j[1:]):
                bigrams[(a, b)] += 1
        matrix = {
            (initial[r.prev], initial[r.curr]): r.n
            for r in QUERIES["events_transitions"](spark, sf_dir).collect()
        }
        assert bigrams == Counter(matrix), (
            f"journey bigrams != transition matrix: "
            f"{dict(bigrams)} vs {matrix}"
        )


class TestAnnPq:
    def test_pq_rerank_recall_beats_bound(self, spark, sf_dir):
        """PQ ADC shortlist + exact re-rank recovers most true neighbors
        (measured 0.81/0.85/0.60 across SFs; bound 0.45 with margin)."""
        from data_transform_spark.pipeline.similarity import sim_ann_pq_topk

        brute = QUERIES["sim_topk_bruteforce"](spark, sf_dir).collect()
        pq = sim_ann_pq_topk(spark, sf_dir).collect()
        b = {(r["query_id"], r["neighbor_id"]) for r in brute}
        p = {(r["query_id"], r["neighbor_id"]) for r in pq}
        assert len(b & p) / len(b) >= 0.45

    def test_pq_codes_shape_and_range(self, spark, sf_dir):
        """Every vector gets exactly PQ_M codes, each in [0, PQ_KS); the
        codebook is full M x Ks (no empty-cluster collapse on fixtures)."""
        import pyspark.sql.functions as F

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.similarity import (
            PQ_KS,
            PQ_M,
            _pq_train_encode,
        )

        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        cent, codes = _pq_train_encode(e)
        n = e.count()
        assert codes.count() == n * PQ_M
        assert cent.count() == PQ_M * PQ_KS
        bad = codes.filter((F.col("code") < 0) | (F.col("code") >= PQ_KS))
        assert bad.count() == 0
        per_vec = codes.groupBy("vec_id").count().filter(F.col("count") != PQ_M)
        assert per_vec.count() == 0

    def test_pq_summary_key(self, spark, sf_dir):
        row = QUERIES["sim_ann_pq"](spark, sf_dir).collect()[0]
        assert row["recall_ok"], "PQ recall fell below the declared bound"
        assert row["n_queries"] == 20
        assert row["codebook_rows"] == 128


class TestAnnIvfPq:
    def test_ivfpq_recall_beats_bound(self, spark, sf_dir):
        """Composed IVF-PQ (residual encoding, 6/16 probes, sampled
        training) keeps recall@5 >= 0.45 after exact re-rank (measured
        0.68/0.73/0.56 across SFs — numpy twin = Spark exactly)."""
        from data_transform_spark.pipeline.similarity import sim_ann_ivfpq_topk

        brute = QUERIES["sim_topk_bruteforce"](spark, sf_dir).collect()
        got = sim_ann_ivfpq_topk(spark, sf_dir).collect()
        b = {(r["query_id"], r["neighbor_id"]) for r in brute}
        g = {(r["query_id"], r["neighbor_id"]) for r in got}
        assert len(b & g) / len(b) >= 0.45

    def test_ivfpq_summary_key(self, spark, sf_dir):
        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.similarity import IVF_K, PQ_M

        row = QUERIES["sim_ann_ivfpq"](spark, sf_dir).collect()[0]
        assert row["recall_ok"], "IVF-PQ recall fell below the declared bound"
        assert row["n_queries"] == 20
        assert row["codebook_rows"] == 128
        assert row["n_lists"] == IVF_K
        n = load_table(spark, sf_dir, "embeddings").count()
        assert row["n_code_rows"] == n * PQ_M

    def test_train_sample_deterministic_and_reshard_invariant(
        self, spark, sf_dir
    ):
        """r8 VERDICT #2: quantizer training reads a BOUNDED deterministic
        sample — the md5-rank prefix of the corpus. The sample must be
        (a) exactly min(N, ANN_TRAIN_CAP) rows, (b) identical under any
        repartitioning/row order, and (c) exactly the prefix a driver-side
        md5 ranking of the vec_ids predicts."""
        import hashlib

        import pyspark.sql.functions as F

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.similarity import (
            ANN_TRAIN_CAP,
            _train_sample,
        )

        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        ids = [r.vec_id for r in e.select("vec_id").collect()]
        want = set(
            sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[
                : min(len(ids), ANN_TRAIN_CAP)
            ]
        )
        got = {r.vec_id for r in _train_sample(e).collect()}
        assert got == want
        assert len(got) == min(len(ids), ANN_TRAIN_CAP)
        # reshard invariance: same sample from any partitioning
        for n_parts in (1, 7):
            got_p = {
                r.vec_id for r in _train_sample(e.repartition(n_parts)).collect()
            }
            assert got_p == want

    def test_residual_codes_cover_corpus(self, spark, sf_dir):
        """Encoding covers the FULL corpus even though the fit is sampled:
        every vector gets PQ_M residual codes in range and one list."""
        import pyspark.sql.functions as F

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.similarity import (
            IVF_K,
            PQ_KS,
            PQ_M,
            _ivfpq_index,
        )

        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        cent, assign, books, codes_l = _ivfpq_index(e)
        n = e.count()
        assert codes_l.count() == n * PQ_M
        assert books.count() == PQ_M * PQ_KS
        bad = codes_l.filter(
            (F.col("code") < 0)
            | (F.col("code") >= PQ_KS)
            | (F.col("list_id") < 0)
            | (F.col("list_id") >= IVF_K)
        )
        assert bad.count() == 0


class TestAnnPersist:
    def test_served_topk_identical_to_fresh_build(self, spark, sf_dir):
        """Train-once/serve-many (r9 VERDICT #1): the staged parquet index
        must serve EXACTLY the rows a fresh in-plan build produces — the
        build is deterministic and parquet round-trips doubles exactly."""
        from data_transform_spark.pipeline.similarity import (
            sim_ann_ivfpq_serve_topk,
            sim_ann_ivfpq_topk,
        )

        fresh = {
            tuple(r) for r in sim_ann_ivfpq_topk(spark, sf_dir).collect()
        }
        served = {
            tuple(r) for r in sim_ann_ivfpq_serve_topk(spark, sf_dir).collect()
        }
        assert served == fresh

    def test_persist_key_summary(self, spark, sf_dir):
        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.similarity import IVF_K, PQ_M

        row = QUERIES["sim_ann_persist"](spark, sf_dir).collect()[0]
        assert row["recall_ok"]
        assert row["n_queries"] == 20
        assert row["codebook_rows"] == 128
        assert row["n_lists"] == IVF_K
        n = load_table(spark, sf_dir, "embeddings").count()
        assert row["n_code_rows"] == n * PQ_M

    def test_staged_index_is_sf_isolated(self, spark):
        """An index staged at one SF must never be served at another: the
        artifact path is SF-namespaced AND content-fingerprinted, and the
        codes actually staged under each path cover exactly that SF's
        corpus."""
        from data_transform_spark.io import load_table
        from data_transform_spark.io import store_dir
        from data_transform_spark.pipeline.similarity import PQ_M, ivfpq_stage_index

        sf_a, sf_b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
        assert store_dir("ivfpq_index", sf_a, "embeddings") != store_dir(
            "ivfpq_index", sf_b, "embeddings"
        )
        staged_a = ivfpq_stage_index(spark, sf_a)
        staged_b = ivfpq_stage_index(spark, sf_b)
        assert staged_a != staged_b
        for sf, staged in ((sf_a, staged_a), (sf_b, staged_b)):
            n = load_table(spark, sf, "embeddings").count()
            assert spark.read.parquet(f"{staged}/codes").count() == n * PQ_M


class TestPathsTopk:
    def test_paths_agree_with_motif_prefixes(self, spark, sf_dir):
        """Every reported prefix must equal the first PATH_PREFIX_LEN chars
        of its users' motif journeys, and user counts must reconcile."""
        import pyspark.sql.functions as F

        from data_transform_spark.operators.events import PATH_PREFIX_LEN

        paths = {r.prefix: r for r in QUERIES["events_paths_topk"](spark, sf_dir).collect()}
        assert paths, "no paths returned"
        # journeys from the motif key are the ground truth for prefixes
        motif = QUERIES["events_sequence_motif"](spark, sf_dir)
        ev = motif.sparkSession  # noqa: F841 (session reuse)
        # recompute prefixes independently: journey_md5 pins full journeys,
        # so reconstruct prefix counts from raw events via a second shape
        from data_transform_spark.io import load_events

        raw = load_events(motif.sparkSession, sf_dir)
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        pfx = (
            raw.select(
                "user_id",
                F.substring("event_type", 1, 1).alias("c"),
                F.row_number().over(w).alias("rn"),
            )
            .filter(F.col("rn") <= PATH_PREFIX_LEN)
            .groupBy("user_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("rn", "c"))),
                        lambda s: s["c"],
                    ),
                    "",
                ).alias("prefix")
            )
        )
        want = {
            r.prefix: r.n
            for r in pfx.groupBy("prefix").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        for prefix, row in paths.items():
            assert want.get(prefix) == row.n_users, prefix
            assert 0 <= row.n_converted_after <= row.n_users


class TestAsofTolerance:
    def test_tolerance_nulls_exactly_the_stale_matches(self, spark, sf_dir):
        """join_asof_tolerance must agree row-for-row with join_asof:
        same match when the carried click is within ASOF_TOL_HOURS,
        NULL when staler — the bound never invents or reassigns a
        match, and every purchase row survives."""
        import datetime

        from data_transform_spark.operators.joins import ASOF_TOL_HOURS

        base = {
            r.event_id: r for r in QUERIES["join_asof"](spark, sf_dir).collect()
        }
        tol = {
            r.event_id: r
            for r in QUERIES["join_asof_tolerance"](spark, sf_dir).collect()
        }
        assert set(base) == set(tol)
        bound = datetime.timedelta(hours=ASOF_TOL_HOURS)
        n_nulled = 0
        for eid, b in base.items():
            t = tol[eid]
            if b.click_ts is not None and b.ts - b.click_ts <= bound:
                assert t.click_ts == b.click_ts, eid
            else:
                assert t.click_ts is None, eid
                n_nulled += b.click_ts is not None
        assert n_nulled > 0, "tolerance never fired — bound too loose to test"


class TestNoveltyAndSurprisal:
    def test_novelty_bounds_and_conservation(self, spark, sf_dir):
        """novelty ∈ (0, 1]; the per-doc novel-gram counts must sum to the
        corpus's TOTAL distinct gram count (every gram has exactly one
        first owner — conservation), and the fixture's duplicated docs
        must give at least one doc with novelty < 1."""
        import pyspark.sql.functions as F

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.text import NOVELTY_N

        rows = QUERIES["text_ngram_novelty"](spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 0 <= r.novelty <= 1
            assert 0 <= r.n_novel <= r.n_grams
        d = load_table(spark, sf_dir, "documents")
        t = F.split("text", " ")
        total_distinct = (
            d.select(
                F.explode(
                    F.when(
                        F.size(t) >= NOVELTY_N,
                        F.transform(
                            F.sequence(F.lit(1), F.size(t) - (NOVELTY_N - 1)),
                            lambda s: F.array_join(F.slice(t, s, NOVELTY_N), " "),
                        ),
                    ).otherwise(F.array().cast("array<string>"))
                ).alias("g")
            )
            .select("g")
            .distinct()
            .count()
        )
        assert sum(r.n_novel for r in rows) == total_distinct
        assert any(r.novelty < 1 for r in rows), "fixture has exact dups"

    def test_surprisal_ranks_sane(self, spark, sf_dir):
        """avg_rank >= 1 (rank 1 is the most common continuation),
        max_rank >= avg_rank, and every multi-event user appears."""
        from data_transform_spark.io import load_table

        rows = QUERIES["events_markov_surprisal"](spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r.avg_rank >= 1
            assert r.max_rank >= r.avg_rank - 1e-9
            assert r.n_transitions >= 1
        ev = load_table(spark, sf_dir, "events")
        multi = (
            ev.groupBy("user_id").count().filter("count >= 2").count()
        )
        assert len(rows) == multi


class TestIntervalOverlap:
    def test_matches_python_bruteforce(self, spark, sf_dir):
        """Per-order overlap counts and max-overlap days must equal an
        independent python brute force over the same derived intervals."""
        import datetime as dt
        from collections import defaultdict

        import duckdb

        rows = duckdb.sql(
            f"select l_orderkey, l_linenumber, l_shipdate, "
            f"CAST(l_quantity AS INTEGER) as q "
            f"from '{sf_dir}/lineitem.parquet'"
        ).fetchall()
        by_order = defaultdict(list)
        for okey, ln, ship, q in rows:
            if isinstance(ship, dt.datetime):
                ship = ship.date()
            arrive = ship + dt.timedelta(days=(q % 14) + 1)
            by_order[okey].append((ln, ship, arrive))
        want = {}
        for okey, lines in by_order.items():
            lines.sort()
            n_pairs, max_ov = 0, None
            for i in range(len(lines)):
                for j in range(i + 1, len(lines)):
                    _, s1, a1 = lines[i]
                    _, s2, a2 = lines[j]
                    if s1 <= a2 and s2 <= a1:
                        n_pairs += 1
                        ov = (min(a1, a2) - max(s1, s2)).days
                        max_ov = ov if max_ov is None else max(max_ov, ov)
            if n_pairs:
                want[okey] = (len(lines), n_pairs, max_ov)
        got = {
            r.l_orderkey: (r.n_lines, r.n_overlapping_pairs, r.max_overlap_days)
            for r in QUERIES["join_interval_overlap"](spark, sf_dir).collect()
        }
        assert got == want


class TestIndexAppend:
    def test_appended_codes_are_valid_and_complete(self, spark, sf_dir):
        """Every appended vector gets exactly PQ_M codes, each referencing
        a real codeword and a real coarse list of the STAGED index."""
        from pyspark.sql import functions as F

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.similarity import (
            IVF_K,
            PQ_KS,
            PQ_M,
            _ivfpq_encode,
            ivfpq_read_index,
            ivfpq_stage_hist_index,
        )

        staged = ivfpq_stage_hist_index(spark, sf_dir)
        cent, books, _codes = ivfpq_read_index(spark, staged)
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        batch = e.filter(F.col("vec_id") % 10 >= 8)
        codes = _ivfpq_encode(batch, cent, books)
        n_batch = batch.count()
        assert codes.count() == n_batch * PQ_M
        per_vec = codes.groupBy("vec_id").count().filter(f"count != {PQ_M}")
        assert per_vec.count() == 0
        bad = codes.filter(
            (F.col("code") < 0)
            | (F.col("code") >= PQ_KS)
            | (F.col("list_id") < 0)
            | (F.col("list_id") >= IVF_K)
        )
        assert bad.count() == 0

    def test_append_key_summary(self, spark, sf_dir):
        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.similarity import PQ_M

        row = QUERIES["sim_ann_index_append"](spark, sf_dir).collect()[0]
        assert row["recall_ok"]
        n = load_table(spark, sf_dir, "embeddings").count()
        assert row["n_hist_codes"] + row["n_append_codes"] == n * PQ_M
        assert row["n_append_codes"] > 0


class TestStagedIndexHeal:
    def test_markerless_corrupt_index_is_rebuilt(self, spark):
        """A staged index that lost its completeness marker (crashed
        publisher, partial copy) must be treated as corrupt and REBUILT on
        the next call — io.stage's heal path exercised end-to-end on the
        real artifact, not a toy dir."""
        import os
        import shutil

        from data_transform_spark.io import MARKER, load_table
        from data_transform_spark.pipeline.similarity import PQ_M, ivfpq_stage_index

        sf = "/root/testdata/sf0.001"
        staged = ivfpq_stage_index(spark, sf)
        # corrupt it: drop the marker AND one component table
        os.remove(os.path.join(staged, MARKER))
        shutil.rmtree(os.path.join(staged, "codes"))

        healed = ivfpq_stage_index(spark, sf)
        assert healed == staged
        assert os.path.exists(os.path.join(staged, MARKER))
        n = load_table(spark, sf, "embeddings").count()
        assert spark.read.parquet(f"{staged}/codes").count() == n * PQ_M


class TestImagePhash:
    def test_banding_recall_exactly_one(self, spark, sf_dir):
        """Pigeonhole guarantee: the (chunk, value)-keyed candidate join
        must recover EVERY pair within PHASH_MAX_HAMMING — compare the
        registered key's pairs against brute-force hamming over all
        collected fingerprints (r10 VERDICT #2 done-condition)."""
        from itertools import combinations

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.multimodal import (
            PHASH_MAX_HAMMING,
            phash_fingerprints,
        )

        fps = {
            r["img_id"]: r["phash"] & ((1 << 64) - 1)
            for r in phash_fingerprints(
                load_table(spark, sf_dir, "documents")
            ).collect()
        }
        want = {
            (a, b)
            for a, b in combinations(sorted(fps), 2)
            if bin(fps[a] ^ fps[b]).count("1") <= PHASH_MAX_HAMMING
        }
        got = {
            (r["img_a"], r["img_b"])
            for r in QUERIES["dedup_image_phash"](spark, sf_dir).collect()
        }
        assert want, "fixture planted no near-dup image pairs"
        assert got == want

    def test_dhash_stable_under_codec_roundtrip_and_planted_variant(self, spark):
        """dHash of a decoded image equals dHash of the raw array (codec
        round-trip is lossless), and the planted +1-on-channel-0 variant
        stays within the near-dup threshold for a typical image."""
        from data_transform_spark.pipeline.multimodal import (
            decode_bmp,
            dhash64,
            encode_bmp,
            noise_image,
        )

        img = noise_image(12345, 20, 17)
        assert dhash64(decode_bmp(encode_bmp(img))) == dhash64(img)
        var = img.copy()
        var[:, :, 0] = ((var[:, :, 0].astype("int64") + 1) % 256).astype("uint8")
        ham = bin(
            (dhash64(img) ^ dhash64(var)) & ((1 << 64) - 1)
        ).count("1")
        assert ham <= 6  # near-tie/wrap flips only — stays near-dup-close


class TestAnnIndexCompact:
    def test_compacted_topk_equals_merged_query_path(self, spark, sf_dir):
        """Compaction is a layout change only: serving top-k from the
        compacted single-artifact codes must return EXACTLY the rows the
        N-way merged query path (history ∪ staged appends) returns
        (r10 VERDICT #3 done-condition)."""
        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.similarity import (
            ANN_COMPACT_BATCH_MODS,
            _ivfpq_topk,
            ivfpq_read_index,
            ivfpq_stage_appends,
            ivfpq_stage_compact,
            ivfpq_stage_hist_index,
        )
        import pyspark.sql.functions as F

        compact = ivfpq_stage_compact(spark, sf_dir)
        appends = ivfpq_stage_appends(spark, sf_dir)
        hist = ivfpq_stage_hist_index(spark, sf_dir)
        cent, books, codes_hist = ivfpq_read_index(spark, hist)
        merged = codes_hist
        for mod in ANN_COMPACT_BATCH_MODS:
            merged = merged.unionByName(
                spark.read.parquet(f"{appends}/batch-{mod}").select(
                    *codes_hist.columns
                )
            )
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        cc = spark.read.parquet(f"{compact}/codes")
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in _ivfpq_topk(e, cent, books, cc).collect()
        }
        want = {
            (r["query_id"], r["neighbor_id"])
            for r in _ivfpq_topk(e, cent, books, merged).collect()
        }
        assert got and got == want

    def test_staleness_trips_on_drifted_appends(self, spark, sf_dir):
        """The retrain trigger must FIRE when appended vectors drift away
        from the training distribution: scaling the append slice 4x
        inflates its coarse residual energy past ANN_RETRAIN_RATIO."""
        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.similarity import (
            ANN_RETRAIN_RATIO,
            _nearest_centroid,
            ivfpq_read_index,
            ivfpq_stage_hist_index,
        )
        import pyspark.sql.functions as F

        hist = ivfpq_stage_hist_index(spark, sf_dir)
        cent, _books, _codes = ivfpq_read_index(spark, hist)
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        drifted = e.select(
            "vec_id",
            F.when(
                F.col("vec_id") % 10 >= 8,
                F.transform("emb", lambda x: x * 4.0),
            )
            .otherwise(F.col("emb"))
            .alias("emb"),
        )
        assign = _nearest_centroid(drifted, cent, "vec_id", "list_id")
        cl = cent.select(F.col("c_id").alias("list_id"), "c_emb")
        rsq = F.aggregate(
            F.zip_with("emb", "c_emb", lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        rows = (
            drifted.join(assign, "vec_id")
            .join(F.broadcast(cl), "list_id")
            .select(
                (F.col("vec_id") % 10 >= 8).alias("is_append"), rsq.alias("r2")
            )
            .groupBy("is_append")
            .agg(F.avg("r2").alias("m"))
            .collect()
        )
        mean = {r["is_append"]: r["m"] for r in rows}
        assert mean[True] > ANN_RETRAIN_RATIO * mean[False]


class TestE2eLlmV3:
    def test_funnel_parity_with_v2_and_gate_semantics(self, spark, sf_dir):
        """v3's funnel must agree with v2 on the shared prefix (stages
        1-3 are _e2e_prefix, verbatim), stay monotone through its own
        stages, gate on the exact _nb_threshold value, and actually
        exercise the model gate (r10 VERDICT #1 done-condition)."""
        import pyspark.sql.functions as F

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.curation import (
            _nb_scored,
            _nb_threshold,
        )

        v2 = QUERIES["pipeline_e2e_llm"](spark, sf_dir).collect()[0]
        v3 = QUERIES["pipeline_e2e_llm_v3"](spark, sf_dir).collect()[0]
        for col in ("n_docs", "n_substr_clean", "n_neardup_surv",
                    "n_decontaminated"):
            assert v2[col] == v3[col], col
        chain = [v3[c] for c in (
            "n_docs", "n_substr_clean", "n_neardup_surv", "n_decontaminated",
            "n_len_gated", "n_model_gated", "n_sampled",
        )]
        assert chain == sorted(chain, reverse=True), chain
        # the model gate fires and keeps something
        assert 0 < v3["n_model_gated"] < v3["n_len_gated"]
        # the pinned threshold IS the _nb_threshold pick on this corpus
        d0 = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.split("text", " ").alias("toks")
        )
        thr = _nb_threshold(_nb_scored(d0)).collect()[0]["thr_u"]
        assert v3["thr_u"] == thr

    def test_v3_plan_no_cartesian_and_jvm_side(self, spark, sf_dir):
        """Same plan contract as v2: no cartesian anywhere (1-row funnel
        broadcasts excluded by definition), nothing leaves the JVM — the
        NB fit, calibration and gate are all Column ops."""
        from tests.test_plans import plan_of

        p = plan_of(spark, "pipeline_e2e_llm_v3", sf_dir)
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


class TestMinhashStoreSkew:
    def test_hot_band_bucket_stays_correct(self, spark, sf_dir):
        """Skew stress (r10 VERDICT #7): a duplicate-heavy batch — 30
        exact copies of one HISTORY doc's text — concentrates all 24 band
        buckets into one hot key each. The store join must still produce
        the exact canonical pair set: every copy-copy pair, every
        copy-history-source pair (all jaccard 1.0), no duplicates, no
        misses; every returned pair clears tau."""
        import pyspark.sql.functions as F
        from itertools import combinations

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.dedup import (
            MINHASH_EXACT_TAU,
            minhash_incr_pairs,
            minhash_stage_store,
        )

        staged = minhash_stage_store(spark, sf_dir)
        hist_bands = spark.read.parquet(f"{staged}/bands")
        hist_sh = spark.read.parquet(f"{staged}/shingles")
        src = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 10 < 8)
            .orderBy("doc_id")
            .limit(1)
            .collect()[0]
        )
        n_copies = 30
        base_id = 10_000_000
        batch = spark.createDataFrame(
            [(base_id + i, src["text"]) for i in range(n_copies)],
            "doc_id long, text string",
        )
        rows = minhash_incr_pairs(hist_bands, hist_sh, batch).collect()
        got = {(r["doc_a"], r["doc_b"]) for r in rows}
        assert len(got) == len(rows), "duplicate pairs under bucket skew"
        assert all(r["jaccard"] >= MINHASH_EXACT_TAU for r in rows)
        copies = [base_id + i for i in range(n_copies)]
        want_intra = set(combinations(copies, 2))
        want_cross = {(src["doc_id"], c) for c in copies}
        assert want_intra <= got, "missed copy-copy pairs in the hot bucket"
        assert want_cross <= got, "missed copy-vs-history pairs"
        # exact copies score jaccard 1.0 on both sides
        jac = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
        assert all(jac[p] == 1.0 for p in want_intra | want_cross)


class TestImageDedupLadder:
    def test_survivors_are_min_label_components(self, spark, sf_dir):
        """dedup_image_survivors == python CC min-label over the key's own
        pair graph: exactly one survivor per component, and it is the min
        img_id (so planted (base, variant) pairs keep the base)."""
        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.multimodal import (
            phash_fingerprints,
            phash_pairs,
        )

        d = load_table(spark, sf_dir, "documents")
        fp = phash_fingerprints(d)
        nodes = [r["img_id"] for r in fp.select("img_id").collect()]
        pairs = [
            (r["img_a"], r["img_b"]) for r in phash_pairs(fp).collect()
        ]
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {n for n in nodes if find(n) == n}
        got = {
            r["img_id"]
            for r in QUERIES["dedup_image_survivors"](spark, sf_dir).collect()
        }
        assert got == want
        assert pairs, "no planted image pairs"

    def test_incr_pairs_equal_full_restricted(self, spark, sf_dir):
        """dedup_image_phash_incr == dedup_image_phash restricted to pairs
        with at least one batch-side image (the dedup_minhash_incr
        equality contract, image tier)."""
        full = QUERIES["dedup_image_phash"](spark, sf_dir).collect()
        want = {
            (r["img_a"], r["img_b"], r["hamming"])
            for r in full
            if not (r["img_a"] // 2 % 10 < 8 and r["img_b"] // 2 % 10 < 8)
        }
        got = {
            (r["img_a"], r["img_b"], r["hamming"])
            for r in QUERIES["dedup_image_phash_incr"](spark, sf_dir).collect()
        }
        assert got == want and got


class TestHybridRetrieval:
    def test_rrf_score_consistent_with_source_ranks(self, spark, sf_dir):
        """Every fused row's rrf_score must equal the RRF formula applied
        to its own emitted source ranks (0 = absent contributes nothing),
        each query returns exactly RRF_TOPK rows, and the fusion is real:
        some rows come from one system only, some from both."""
        from data_transform_spark.pipeline.retrieval import (
            RRF_K,
            RRF_N_QUERIES,
            RRF_TOPK,
        )

        rows = QUERIES["search_hybrid_rrf"](spark, sf_dir).collect()
        per_q = {}
        for r in rows:
            per_q.setdefault(r["query_id"], []).append(r)
            want = round(
                (1.0 / (RRF_K + r["lex_rank"]) if r["lex_rank"] else 0.0)
                + (1.0 / (RRF_K + r["vec_rank"]) if r["vec_rank"] else 0.0),
                9,
            )
            assert abs(r["rrf_score"] - want) < 1e-12, r
        assert len(per_q) == RRF_N_QUERIES
        assert all(len(v) == RRF_TOPK for v in per_q.values())
        assert any(r["lex_rank"] == 0 for r in rows)
        assert any(r["vec_rank"] == 0 for r in rows)
        assert any(r["lex_rank"] > 0 and r["vec_rank"] > 0 for r in rows)

    def test_bm25_scores_match_reference_formula(self, spark, sf_dir):
        """text_bm25's top rows equal a from-the-formula python BM25 over
        the collected corpus (same idf form, k1, b, rounding)."""
        import math

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.retrieval import (
            BM25_B,
            BM25_K1,
            BM25_QUERY,
            BM25_TOPK,
        )

        docs = {
            r["doc_id"]: r["text"].split(" ")
            for r in load_table(spark, sf_dir, "documents").collect()
        }
        n = len(docs)
        avgdl = sum(len(t) for t in docs.values()) / n
        df = {
            q: sum(1 for t in docs.values() if q in t) for q in BM25_QUERY
        }
        scores = {}
        for did, toks in docs.items():
            s = 0.0
            for q in BM25_QUERY:
                tf = toks.count(q)
                if tf:
                    idf = math.log(1 + (n - df[q] + 0.5) / (df[q] + 0.5))
                    s += idf * tf * (BM25_K1 + 1) / (
                        tf + BM25_K1 * (1 - BM25_B + BM25_B * len(toks) / avgdl)
                    )
            if s:
                scores[did] = round(s, 6)
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:BM25_TOPK]
        got = [
            (r["doc_id"], r["score"])
            for r in QUERIES["text_bm25"](spark, sf_dir).collect()
        ]
        assert got == want


class TestDsir:
    def test_importance_weights_separate_target_distribution(self, spark, sf_dir):
        """DSIR's log-likelihood-ratio scores must rank the target
        distribution above the rest (mean target score > mean non-target
        score), and the keep rule must select a non-empty,
        perfectly-precise subset (kept docs are all target-like) on this
        fixture — the selection story, not just the arithmetic."""
        rows = QUERIES["quality_dsir"](spark, sf_dir).collect()
        tgt = [r["score_u"] for r in rows if r["is_target"]]
        non = [r["score_u"] for r in rows if not r["is_target"]]
        assert tgt and non
        assert sum(tgt) / len(tgt) > sum(non) / len(non)
        kept = [r for r in rows if r["kept"]]
        assert kept, "keep rule selected nothing"
        assert all(r["is_target"] for r in kept)
        assert all((r["score_u"] >= 0) == r["kept"] for r in rows)


class TestMmrDiversify:
    def test_mmr_selection_matches_python_greedy_and_diversifies(self, spark, sf_dir):
        """The cogrouped greedy must equal a from-scratch python MMR over
        the same integer-quantized inputs, rank 1 must be the pure
        relevance top hit, and diversification must be REAL: for at least
        one query the MMR order differs from pure relevance order."""
        import pyspark.sql.functions as F

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.retrieval import (
            MMR_CAND,
            MMR_K,
            MMR_N_QUERIES,
        )
        from data_transform_spark.pipeline.similarity import _cos

        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        q = e.filter(F.col("vec_id") < MMR_N_QUERIES).select(
            F.col("vec_id").alias("qid"), F.col("emb").alias("q_emb")
        )
        rel_rows = (
            F.broadcast(q)
            .join(e, F.col("vec_id") != F.col("qid"))
            .select(
                "qid",
                F.col("vec_id").alias("id"),
                F.round(F.round(_cos(F.col("q_emb"), F.col("emb")), 6) * 1e6)
                .cast("long")
                .alias("rel_u"),
            )
            .collect()
        )
        per_q = {}
        for r in rel_rows:
            per_q.setdefault(r["qid"], []).append((r["id"], r["rel_u"]))
        emb = {r["vec_id"]: r["emb"] for r in e.collect()}

        def cos_u(a, b):
            dot = sq_a = sq_b = 0.0
            for x, y in zip(a, b):
                dot += x * y
                sq_a += x * x
                sq_b += y * y
            return round(round(dot / (sq_a**0.5 * sq_b**0.5), 6) * 1e6)

        want = {}
        for qid, rows in per_q.items():
            cand = sorted(rows, key=lambda t: (-t[1], t[0]))[:MMR_CAND]
            rel_u = dict(cand)
            remaining = set(rel_u)
            first = max(remaining, key=lambda i: (rel_u[i], -i))
            sel = [first]
            remaining.discard(first)
            while len(sel) < MMR_K and remaining:
                nxt = max(
                    remaining,
                    key=lambda i: (
                        7 * rel_u[i]
                        - 3 * max(cos_u(emb[i], emb[j]) for j in sel),
                        -i,
                    ),
                )
                sel.append(nxt)
                remaining.discard(nxt)
            want[qid] = sel
        got = {}
        for r in QUERIES["sim_mmr_diversify"](spark, sf_dir).collect():
            got.setdefault(r["query_id"], {})[r["rank"]] = r["id"]
        got = {k: [v[i] for i in sorted(v)] for k, v in got.items()}
        assert got == want
        # diversification actually reorders at least one query's ranking
        pure = {
            qid: [i for i, _ in sorted(rows, key=lambda t: (-t[1], t[0]))][:MMR_K]
            for qid, rows in per_q.items()
        }
        assert any(got[qid] != pure[qid] for qid in got)


class TestGopher:
    def test_metrics_match_python_and_rules_split_corpus(self, spark, sf_dir):
        """Every metric must equal a from-scratch python computation, each
        rule flag must follow its threshold, and the gate must be REAL on
        this fixture: both kept and rejected docs exist, and at least two
        DIFFERENT rules are responsible for rejections (a gate where one
        rule does all the work is a disguised single filter)."""
        from collections import Counter

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.curation import (
            GOPHER_MAX_DUP_UNIGRAM,
            GOPHER_MAX_TOP_BIGRAM,
            GOPHER_MIN_STOP_HITS,
            GOPHER_MIN_WORDS,
            GOPHER_STOPWORDS,
        )

        texts = {
            r["doc_id"]: r["text"]
            for r in load_table(spark, sf_dir, "documents").collect()
        }
        got = {r["doc_id"]: r for r in QUERIES["quality_gopher"](spark, sf_dir).collect()}
        assert set(got) == set(texts)
        rejected_by = set()
        n_kept = 0
        for did, text in texts.items():
            toks = text.split(" ")
            n = len(toks)
            r = got[did]
            assert r["n_words"] == n
            assert r["mean_word_len"] == round((len(text) - n + 1) / n, 6)
            assert r["stop_hits"] == sum(t in GOPHER_STOPWORDS for t in toks)
            assert r["dup_unigram_frac"] == round((n - len(set(toks))) / n, 6)
            bg = Counter(zip(toks, toks[1:]))
            top = round(max(bg.values()) / (n - 1), 6) if n >= 2 else 1.0
            assert r["top_bigram_frac"] == top
            assert r["r_word_count"] == (GOPHER_MIN_WORDS <= n <= 100_000)
            assert r["r_stopwords"] == (r["stop_hits"] >= GOPHER_MIN_STOP_HITS)
            assert r["r_dup_unigram"] == (
                r["dup_unigram_frac"] <= GOPHER_MAX_DUP_UNIGRAM
            )
            assert r["r_top_bigram"] == (top <= GOPHER_MAX_TOP_BIGRAM)
            all_rules = (
                r["r_word_count"]
                and r["r_mean_word_len"]
                and r["r_stopwords"]
                and r["r_dup_unigram"]
                and r["r_top_bigram"]
            )
            assert r["kept"] == all_rules
            if r["kept"]:
                n_kept += 1
            else:
                for rule in (
                    "r_word_count",
                    "r_mean_word_len",
                    "r_stopwords",
                    "r_dup_unigram",
                    "r_top_bigram",
                ):
                    if not r[rule]:
                        rejected_by.add(rule)
        assert 0 < n_kept < len(texts)
        assert len(rejected_by) >= 2


class TestRepetition:
    def test_coverage_matches_python_and_gate_splits(self, spark, sf_dir):
        """Every n-gram coverage micro-value must equal a from-scratch
        python Counter computation, every rule flag must follow its
        threshold, and the battery must be LIVE on this fixture: kept
        and rejected docs both exist, more than one rule rejects, and
        the dup-2 signal is non-zero on a meaningful share of docs (the
        reason dup was shifted from the paper's n=5..10 to n=2)."""
        from collections import Counter

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.curation import (
            REP_DUP2_MAX_MICRO,
            REP_TOP_MAX_MICRO,
        )

        texts = {
            r["doc_id"]: r["text"]
            for r in load_table(spark, sf_dir, "documents").collect()
        }
        got = {
            r["doc_id"]: r
            for r in QUERIES["quality_repetition"](spark, sf_dir).collect()
        }
        assert set(got) == set(texts)
        n_kept, dup2_live, rejected_by = 0, 0, set()
        for did, text in texts.items():
            toks = text.split(" ")
            doc_chars = sum(len(t) for t in toks)
            r = got[did]
            assert r["n_words"] == len(toks)
            assert r["doc_chars"] == doc_chars
            micro = {}
            for n in (2, 3, 4):
                cnt = Counter(
                    tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )
                covs = {
                    g: c * sum(len(t) for t in g) for g, c in cnt.items()
                }
                top = max(covs.values(), default=0)
                dup = sum(v for g, v in covs.items() if cnt[g] >= 2)
                micro[f"top{n}"] = top * 1_000_000 // doc_chars
                micro[f"dup{n}"] = dup * 1_000_000 // doc_chars
            for col in ("top2", "top3", "top4", "dup2", "dup3"):
                assert r[f"{col}_micro"] == micro[col], (did, col)
            rules = {
                "r_top2": micro["top2"] <= REP_TOP_MAX_MICRO[2],
                "r_top3": micro["top3"] <= REP_TOP_MAX_MICRO[3],
                "r_top4": micro["top4"] <= REP_TOP_MAX_MICRO[4],
                "r_dup2": micro["dup2"] <= REP_DUP2_MAX_MICRO,
            }
            for rule, want in rules.items():
                assert r[rule] == want, (did, rule)
            assert r["kept"] == all(rules.values())
            if r["kept"]:
                n_kept += 1
            else:
                rejected_by.update(k for k, v in rules.items() if not v)
            if r["dup2_micro"] > 0:
                dup2_live += 1
        assert 0 < n_kept < len(texts)
        assert len(rejected_by) >= 2
        assert dup2_live > len(texts) // 10


class TestTripletMine:
    def test_triplets_match_python_argmax_and_verdicts(self, spark, sf_dir):
        """Every anchor's positive/negative pick must equal a from-scratch
        python argmax over 4dp-rounded cosines (ties to the lower id), the
        margin/hard/semi_hard columns must follow their definitions, and
        the mined set must contain hard, semi-hard AND easy triplets (a
        miner that only ever emits one class is a constant flag)."""
        import pyspark.sql.functions as F

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.similarity import TRIPLET_ALPHA

        rows = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
        ).collect()
        vecs = {r["vec_id"]: (r["label"], r["emb"]) for r in rows}

        def cos_u(a, b):
            dot = sa = sb = 0.0
            for x, y in zip(a, b):
                dot += x * y
                sa += x * x
                sb += y * y
            return round(round(dot / (sa**0.5 * sb**0.5), 4) * 1e4)

        got = {
            r["anchor_id"]: r
            for r in QUERIES["train_triplet_mine"](spark, sf_dir).collect()
        }
        n_hard = n_semi = n_easy = 0
        for aid, (alab, aemb) in vecs.items():
            same, diff = [], []
            for cid, (clab, cemb) in vecs.items():
                if cid == aid:
                    continue
                su = cos_u(aemb, cemb)
                (same if clab == alab else diff).append((-su, cid))
            if not same or not diff:
                assert aid not in got
                continue
            pos = min(same)
            neg = min(diff)
            r = got[aid]
            assert (r["pos_id"], round(r["pos_score"] * 1e4)) == (pos[1], -pos[0])
            assert (r["neg_id"], round(r["neg_score"] * 1e4)) == (neg[1], -neg[0])
            margin_u = -pos[0] - -neg[0]
            assert round(r["margin"] * 1e4) == margin_u
            assert r["hard"] == (-neg[0] >= -pos[0])
            assert r["semi_hard"] == (
                -neg[0] < -pos[0] and r["margin"] < TRIPLET_ALPHA
            )
            n_hard += r["hard"]
            n_semi += r["semi_hard"]
            n_easy += not r["hard"] and not r["semi_hard"]
        assert set(got) == {a for a in vecs}  # every anchor has both classes here
        assert n_hard > 0 and n_semi > 0 and n_easy > 0


class TestMixEpochsUpsample:
    def test_replication_matches_rates_and_is_upsample_only(self, spark, sf_dir):
        """Epoch rates must be >= 1 with the head domain exactly 1.0, every
        doc must appear floor(e) or ceil(e) times with copy = 1..n dense,
        per-domain realized copies/docs must sit between floor and ceil of
        the rate, and at least one domain must actually replicate
        fractionally (realized factor strictly between 1 and 2)."""
        from collections import Counter

        rows = QUERIES["mix_epochs_upsample"](spark, sf_dir).collect()
        by_doc = Counter(r["doc_id"] for r in rows)
        rate = {}
        copies = Counter()
        docs = {}
        for r in rows:
            rate[r["lang"]] = r["epochs"]
            copies[r["lang"]] += 1
            docs.setdefault(r["lang"], set()).add(r["doc_id"])
        assert min(rate.values()) == 1.0
        assert all(e >= 1.0 for e in rate.values())
        import math

        for r in rows:
            e = rate[r["lang"]]
            n = by_doc[r["doc_id"]]
            assert n in (math.floor(e), math.ceil(e))
            assert 1 <= r["copy"] <= n
        # copy indices dense per doc
        seen = {}
        for r in rows:
            seen.setdefault(r["doc_id"], set()).add(r["copy"])
        assert all(s == set(range(1, len(s) + 1)) for s in seen.values())
        fractional = 0
        for src, e in rate.items():
            realized = copies[src] / len(docs[src])
            assert math.floor(e) <= realized <= math.ceil(e)
            if 1.0 < realized < 2.0:
                fractional += 1
        assert fractional >= 1


class TestSemDeDup:
    def test_cluster_scoped_removals_are_sound_vs_exact_pairs(self, spark, sf_dir):
        """SemDeDup's verdicts must be SOUND relative to the exact
        geometry: every recorded neighbor is an earlier same-cluster
        vector whose recomputed cosine matches sim_u exactly; every
        removal clears τ; removals are a SUBSET of the vectors that have
        some exact global τ-pair (cluster scoping can only lose recall,
        never invent duplicates); and on this fixture the removal set is
        non-empty while pair volume shrinks vs the all-pairs join."""
        import pyspark.sql.functions as F

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.similarity import SEM_TAU_U

        rows = QUERIES["dedup_semdedup"](spark, sf_dir).collect()
        emb = {
            r["vec_id"]: r["emb"]
            for r in load_table(spark, sf_dir, "embeddings")
            .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
            .collect()
        }
        assert {r["vec_id"] for r in rows} == set(emb)
        c_of = {r["vec_id"]: r["c_id"] for r in rows}

        def sim_u(a, b):
            dot = sa = sb = 0.0
            for x, y in zip(a, b):
                dot += x * y
                sa += x * x
                sb += y * y
            return round(round(dot / (sa**0.5 * sb**0.5), 6) * 1e6)

        n_removed = 0
        for r in rows:
            if r["nn_earlier"] is not None:
                assert r["nn_earlier"] < r["vec_id"]
                assert c_of[r["nn_earlier"]] == r["c_id"]
                assert sim_u(emb[r["vec_id"]], emb[r["nn_earlier"]]) == r["sim_u"]
                assert r["removed"] == (r["sim_u"] >= SEM_TAU_U)
            else:
                assert not r["removed"]
            n_removed += r["removed"]
        assert n_removed > 0
        # soundness vs the exact global pair set: a removed vector must
        # have at least one exact τ-pair with ANY earlier vector
        ids = sorted(emb)
        has_global = set()
        for i, b in enumerate(ids):
            for a in ids[:i]:
                if sim_u(emb[a], emb[b]) >= SEM_TAU_U:
                    has_global.add(b)
                    break
        removed = {r["vec_id"] for r in rows if r["removed"]}
        assert removed <= has_global


class TestAnnRecallCurve:
    def test_curve_is_monotone_and_internally_consistent(self, spark, sf_dir):
        """Recall must be non-decreasing in probes (more lists can only
        add candidates), every level's arithmetic must be internally
        consistent (hits <= results <= exact, recall_u = the exact
        integer ratio), and the widest sweep must beat the narrowest by
        a real margin on this fixture — a flat curve means the probes
        knob does nothing."""
        rows = {
            r["probes"]: r
            for r in QUERIES["sim_ann_recall_curve"](spark, sf_dir).collect()
        }
        from data_transform_spark.pipeline.similarity import RECALL_LEVELS

        assert set(rows) == set(RECALL_LEVELS)
        prev = -1
        for lv in sorted(rows):
            r = rows[lv]
            assert 0 <= r["n_hit"] <= r["n_results"] <= r["n_exact"]
            assert r["recall_u"] == round(r["n_hit"] * 1e6 / r["n_exact"])
            assert r["n_hit"] >= prev
            prev = r["n_hit"]
        assert rows[max(RECALL_LEVELS)]["n_hit"] > rows[min(RECALL_LEVELS)]["n_hit"]


class TestHoltLinear:
    def test_recursion_matches_python_and_tracks_trend(self, spark, sf_dir):
        """The per-series state trajectory must equal a from-scratch
        python Holt recursion on the same integer daily counts, and the
        smoother must be a real trend tracker: on a synthetic rising
        series the trend term must settle positive and the forecast must
        exceed the level."""
        from collections import defaultdict

        from data_transform_spark.operators.timeseries import (
            HOLT_ALPHA_NUM,
            HOLT_BETA_NUM,
        )

        rows = QUERIES["ts_holt_linear"](spark, sf_dir).collect()
        series = defaultdict(list)
        for r in rows:
            series[r["event_type"]].append(r)
        assert len(series) >= 2
        for et, rs in series.items():
            rs.sort(key=lambda r: r["day_ts"])
            l = b = 0
            for i, r in enumerate(rs):
                x = r["n"]
                if i == 0:
                    l, b = x * 1_000_000, 0
                else:
                    l_new = (
                        HOLT_ALPHA_NUM * x * 1_000_000
                        + (10 - HOLT_ALPHA_NUM) * (l + b)
                        + 5
                    ) // 10
                    b = (HOLT_BETA_NUM * (l_new - l) + (10 - HOLT_BETA_NUM) * b + 5) // 10
                    l = l_new
                assert (r["level_u"], r["trend_u"]) == (l, b)
                assert r["forecast_next_u"] == l + b
        # trend behavior on a controlled rising series
        l = b = 0
        for i, x in enumerate(range(100, 200, 10)):
            if i == 0:
                l, b = x * 1_000_000, 0
            else:
                l_new = (3 * x * 1_000_000 + 7 * (l + b) + 5) // 10
                b = (1 * (l_new - l) + 9 * b + 5) // 10
                l = l_new
        assert b > 0 and l + b > l


class TestDimTruncationCurve:
    def test_curve_is_monotone_and_full_dim_is_exact(self, spark, sf_dir):
        """Recall must be non-decreasing in dims, internally consistent,
        and the full-dimension level must reproduce the exact ranking
        identically (recall exactly 1.0) — the curve's built-in
        self-check that the truncated scorer equals the exact scorer
        when nothing is truncated."""
        from data_transform_spark.pipeline.similarity import MRL_DIMS

        rows = {
            r["dims"]: r
            for r in QUERIES["sim_dim_truncation_curve"](spark, sf_dir).collect()
        }
        assert set(rows) == set(MRL_DIMS)
        prev = -1
        for d in sorted(rows):
            r = rows[d]
            assert 0 <= r["n_hit"] <= r["n_results"] <= r["n_exact"]
            assert r["recall_u"] == round(r["n_hit"] * 1e6 / r["n_exact"])
            assert r["n_hit"] >= prev
            prev = r["n_hit"]
        full = rows[max(MRL_DIMS)]
        assert full["n_hit"] == full["n_exact"] and full["recall_u"] == 1_000_000


class TestCusum:
    def test_state_matches_python_and_alarms_fire(self, spark, sf_dir):
        """Every series' CUSUM trajectory must equal a from-scratch python
        replay (same integer micro-sigma arithmetic), warm-up rows carry
        zero state, and on this fixture at least one alarm fires in at
        least one direction (the detector is live, not a constant)."""
        import math
        from collections import defaultdict

        from data_transform_spark.operators.timeseries import (
            CUSUM_H_U,
            CUSUM_K_U,
            CUSUM_WARMUP,
        )

        rows = QUERIES["events_cusum_changepoint"](spark, sf_dir).collect()
        series = defaultdict(list)
        for r in rows:
            series[r["event_type"]].append(r)
        n_alarms = 0
        for et, rs in series.items():
            rs.sort(key=lambda r: r["day_ts"])
            xs = [r["n"] for r in rs]
            w = CUSUM_WARMUP
            mu = (2 * sum(xs[:w]) * 1_000_000 + w) // (2 * w)
            sig = math.floor(math.sqrt(mu * 1_000_000.0))
            sp = sn = 0
            for t, r in enumerate(rs, start=1):
                if t <= w:
                    z, sp, sn = 0, 0, 0
                    assert r["warmup"] and not r["alarm_up"] and not r["alarm_down"]
                else:
                    num = (r["n"] * 1_000_000 - mu) * 1_000_000
                    z = math.floor((2 * num + sig) / (2.0 * sig))
                    sp = max(0, sp + z - CUSUM_K_U)
                    sn = max(0, sn - z - CUSUM_K_U)
                    assert not r["warmup"]
                assert (r["z_u"], r["s_pos_u"], r["s_neg_u"]) == (z, sp, sn)
                assert r["alarm_up"] == (sp > CUSUM_H_U)
                assert r["alarm_down"] == (sn > CUSUM_H_U)
                n_alarms += r["alarm_up"] + r["alarm_down"]
        assert n_alarms > 0


class TestWavCodec:
    def test_roundtrip_and_validation(self, spark):
        """encode->decode must be the identity on samples and rate; the
        decoder must REJECT corrupted magic, a truncated data chunk, and
        a stereo/8-bit layout claim — validation is what makes it a
        codec rather than a byte-slicer."""
        import struct

        import numpy as np
        import pytest as _pytest

        from data_transform_spark.pipeline.multimodal import (
            WAV_RATE,
            decode_wav,
            encode_wav,
            synth_audio,
        )

        clip = synth_audio(bytes(range(16)))
        blob = encode_wav(clip)
        out, rate = decode_wav(blob)
        assert rate == WAV_RATE and np.array_equal(out, clip)
        with _pytest.raises(ValueError):
            decode_wav(b"RIFX" + blob[4:])
        with _pytest.raises(ValueError):
            decode_wav(blob[:-2])
        bad = bytearray(blob)
        bad[22:24] = struct.pack("<H", 2)  # claim stereo
        with _pytest.raises(ValueError):
            decode_wav(bytes(bad))

    def test_stats_match_decoded_samples(self, spark, sf_dir):
        """Spot-check a handful of docs: the registered key's stats must
        equal numpy stats over the decoded samples of the synthesized
        payload (independent re-derivation, not the oracle path)."""
        import hashlib

        import numpy as np
        import pyspark.sql.functions as F

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.multimodal import (
            decode_wav,
            encode_wav,
            synth_audio,
        )

        texts = {
            r["doc_id"]: r["text"]
            for r in load_table(spark, sf_dir, "documents")
            .orderBy("doc_id")
            .limit(10)
            .collect()
        }
        got = {
            r["doc_id"]: r
            for r in QUERIES["multimodal_audio_stats"](spark, sf_dir)
            .filter(F.col("doc_id").isin(*texts))
            .collect()
        }
        for did, text in texts.items():
            v, rate = decode_wav(
                encode_wav(synth_audio(hashlib.md5(text.encode()).digest()))
            )
            v = v.astype(np.int64)
            r = got[did]
            neg = v < 0
            assert r["n_samples"] == len(v)
            assert r["amp_sum"] == int(v.sum())
            assert r["energy"] == int((v * v).sum())
            assert r["peak"] == int(np.abs(v).max())
            assert r["zero_crossings"] == int((neg[:-1] != neg[1:]).sum())


class TestForecastBacktest:
    def test_backtest_matches_python_replay(self, spark, sf_dir):
        """Summary rows must equal a from-scratch python replay of the
        Holt recursion + one-step scoring, n_evals must be series length
        minus one, and the smoother must beat persistence on at least
        one series of this fixture (it beats it on all five at sf0.01 —
        assert >= 1 to stay robust across SFs)."""
        import math
        from collections import defaultdict

        from data_transform_spark.operators.timeseries import (
            HOLT_ALPHA_NUM,
            HOLT_BETA_NUM,
        )

        daily = defaultdict(list)
        for r in QUERIES["ts_holt_linear"](spark, sf_dir).collect():
            daily[r["event_type"]].append((r["day_ts"], r["n"]))
        got = {
            r["event_type"]: r
            for r in QUERIES["events_forecast_backtest"](spark, sf_dir).collect()
        }
        assert set(got) == set(daily)
        wins = 0
        for et, pts in daily.items():
            xs = [n for _, n in sorted(pts)]
            l = b = 0
            ae_h = ae_n = err = ne = 0
            for i, x in enumerate(xs):
                if i > 0:
                    ae_h += abs(x * 1_000_000 - (l + b))
                    ae_n += abs((x - xs[i - 1]) * 1_000_000)
                    err += x * 1_000_000 - (l + b)
                    ne += 1
                if i == 0:
                    l, b = x * 1_000_000, 0
                else:
                    l2 = (HOLT_ALPHA_NUM * x * 1_000_000
                          + (10 - HOLT_ALPHA_NUM) * (l + b) + 5) // 10
                    b = (HOLT_BETA_NUM * (l2 - l)
                         + (10 - HOLT_BETA_NUM) * b + 5) // 10
                    l = l2
            r = got[et]
            assert r["n_evals"] == ne == len(xs) - 1
            assert r["mae_holt_u"] == math.floor((2 * ae_h + ne) / (2.0 * ne))
            assert r["mae_naive_u"] == math.floor((2 * ae_n + ne) / (2.0 * ne))
            assert r["bias_u"] == math.floor((2 * err + ne) / (2.0 * ne))
            assert r["beats_naive"] == (ae_h < ae_n)
            wins += r["beats_naive"]
        assert wins >= 1

    def test_single_active_day_series_is_omitted(self, spark, tmp_path):
        """A series with exactly ONE active day has no one-step-ahead
        evaluation: the oracle's WHERE fcst_u IS NOT NULL yields no agg
        row for it, so the Spark side must OMIT the group too instead of
        raising ZeroDivisionError on n_evals=0 (r11 ADVICE, medium)."""
        import datetime

        base = datetime.datetime(2024, 1, 1, 12, 0, 0)
        rows = [(0, base, 1, "lonely", 1.0, "{}")]
        rows += [
            (10 + i, base + datetime.timedelta(days=i), 2, "steady", 1.0, "{}")
            for i in range(3)
        ]
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
        got = {
            r["event_type"]: r
            for r in QUERIES["events_forecast_backtest"](
                spark, str(tmp_path)
            ).collect()
        }
        assert "lonely" not in got
        assert got["steady"]["n_evals"] == 2


class TestQualityEnsemble:
    def test_votes_match_members_and_committee_is_live(self, spark, sf_dir):
        """Per-doc flags must equal the member keys' own verdicts, the
        vote arithmetic must be exact, and the committee must be LIVE on
        this fixture: majority and strict verdicts differ for at least
        one doc (otherwise 2-of-3 degenerates to AND), and no single
        member equals the majority verdict everywhere (otherwise the
        ensemble is that member in disguise)."""
        g = {r["doc_id"]: r["kept"] for r in QUERIES["quality_gopher"](spark, sf_dir).collect()}
        nb = {r["doc_id"]: r["pred"] for r in QUERIES["quality_nb"](spark, sf_dir).collect()}
        ds = {r["doc_id"]: r["kept"] for r in QUERIES["quality_dsir"](spark, sf_dir).collect()}
        rows = QUERIES["quality_ensemble"](spark, sf_dir).collect()
        assert {r["doc_id"] for r in rows} == set(g)
        diverge = 0
        member_eq = {"g": 0, "nb": 0, "ds": 0}
        for r in rows:
            did = r["doc_id"]
            assert (r["gopher_keep"], r["nb_keep"], r["dsir_keep"]) == (
                g[did], nb[did], ds[did]
            )
            votes = int(g[did]) + int(nb[did]) + int(ds[did])
            assert r["n_votes"] == votes
            assert r["keep_majority"] == (votes >= 2)
            assert r["keep_strict"] == (votes == 3)
            diverge += r["keep_majority"] != r["keep_strict"]
            member_eq["g"] += g[did] == r["keep_majority"]
            member_eq["nb"] += nb[did] == r["keep_majority"]
            member_eq["ds"] += ds[did] == r["keep_majority"]
        assert diverge > 0
        assert all(v < len(rows) for v in member_eq.values())


class TestPolymorphicUdtf:
    def test_schema_follows_constant_argument(self, spark, sf_dir):
        """The SAME registration must resolve different output schemas for
        different constant n (the analyze() contract), and reject a
        non-constant n at analysis time."""
        import pytest as _pytest

        QUERIES["udtf_analyze"](spark, sf_dir).count()  # registers the UDTF
        two = spark.sql("SELECT * FROM ngrams_udtf('a b c d', 2)")
        three = spark.sql("SELECT * FROM ngrams_udtf('a b c d', 3)")
        assert two.columns == ["pos", "w1", "w2", "gram"]
        assert three.columns == ["pos", "w1", "w2", "w3", "gram"]
        assert [tuple(r) for r in two.orderBy("pos").collect()] == [
            (0, "a", "b", "a b"), (1, "b", "c", "b c"), (2, "c", "d", "c d"),
        ]
        from pyspark.errors import AnalysisException

        with _pytest.raises(AnalysisException):
            spark.sql(
                "SELECT * FROM docs_for_ngrams d, "
                "LATERAL ngrams_udtf(d.text, CAST(d.doc_id AS INT)) t"
            ).collect()


class TestDecontaminateSemantic:
    def test_flags_match_python_and_family_is_complementary(self, spark, sf_dir):
        """Every row's nearest-eval pick and flag must equal a from-scratch
        python argmax over 6dp cosines, the benchmark rows themselves must
        be absent, and flagged docs exist while most docs are clean (the
        detector discriminates rather than blanket-flags)."""
        import pyspark.sql.functions as F

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.similarity import DECON_SEM_TAU_U

        emb = {
            r["vec_id"]: r["emb"]
            for r in load_table(spark, sf_dir, "embeddings")
            .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
            .collect()
        }
        bench = {v for v in emb if v % 97 == 0}

        def sim_u(a, b):
            dot = sa = sb = 0.0
            for x, y in zip(a, b):
                dot += x * y
                sa += x * x
                sb += y * y
            return round(round(dot / (sa**0.5 * sb**0.5), 6) * 1e6)

        got = {
            r["vec_id"]: r
            for r in QUERIES["decontaminate_semantic"](spark, sf_dir).collect()
        }
        assert set(got) == set(emb) - bench
        n_flagged = 0
        for vid, r in got.items():
            best = min(
                ((-sim_u(emb[vid], emb[b]), b) for b in bench),
            )
            assert (r["nearest_eval_id"], r["max_sim_u"]) == (best[1], -best[0])
            assert r["contaminated"] == (r["max_sim_u"] >= DECON_SEM_TAU_U)
            n_flagged += r["contaminated"]
        assert 0 < n_flagged < len(got) / 2


class TestHashingTf:
    def test_vectors_match_python_hashing_trick(self, spark, sf_dir):
        """Every doc's dense vector must equal a from-scratch python
        hashing-trick featurization (md5-prefix % B), n_tokens must be
        the whitespace token count, nnz the nonzero buckets, and
        collisions must actually occur on this fixture (distinct tokens
        > buckets with nonuniform counts) — the accepted price the
        docstring claims."""
        import hashlib

        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.text import HASHTF_BUCKETS

        texts = {
            r["doc_id"]: r["text"]
            for r in load_table(spark, sf_dir, "documents").collect()
        }
        got = {
            r["doc_id"]: r
            for r in QUERIES["text_hashing_tf"](spark, sf_dir).collect()
        }
        assert set(got) == set(texts)
        tokens_sharing_bucket = False
        for did, text in texts.items():
            toks = text.split(" ")
            vec = [0] * HASHTF_BUCKETS
            seen_buckets = {}
            for t in toks:
                b = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % HASHTF_BUCKETS
                vec[b] += 1
                seen_buckets.setdefault(b, set()).add(t)
            if any(len(s) > 1 for s in seen_buckets.values()):
                tokens_sharing_bucket = True
            r = got[did]
            assert r["n_tokens"] == len(toks)
            assert r["nnz"] == sum(v > 0 for v in vec)
            assert r["features_csv"] == ",".join(str(v) for v in vec)
        assert tokens_sharing_bucket


class TestCapstoneV4:
    def test_committee_funnel_consistent_with_v3_and_members(self, spark, sf_dir):
        """v4 must share v3's funnel prefix exactly (stages 1-4 and the
        NB threshold are the same code), its NB member count must equal
        v3's model-gate count (same gate, same threshold, same cleaned
        text), and the committee must be a REAL 2-of-3: non-empty,
        strictly smaller than the largest member (agreement filters),
        and no larger than the sum of the two smaller members (a doc
        needs two votes, so the big member alone cannot admit anyone)."""
        r3 = QUERIES["pipeline_e2e_llm_v3"](spark, sf_dir).collect()[0]
        r4 = QUERIES["pipeline_e2e_llm_v4"](spark, sf_dir).collect()[0]
        for col in ("n_docs", "n_substr_clean", "n_neardup_surv",
                    "n_decontaminated", "n_len_gated", "thr_u"):
            assert r4[col] == r3[col], col
        assert r4["n_gate_nb"] == r3["n_model_gated"]
        members = sorted(
            [r4["n_gate_nb"], r4["n_gate_rules"], r4["n_gate_dsir"]]
        )
        assert 0 < r4["n_committee_gated"] < members[-1]
        assert r4["n_committee_gated"] <= members[0] + members[1]
        assert r4["n_sampled"] <= r4["n_committee_gated"]
        assert r4["n_shards"] <= r4["n_packs"] or r4["n_sampled"] == 0


@pytest.mark.parametrize(
    "key, build_jobs, action_jobs",
    [
        ("pipeline_e2e_llm", 2, 33),
        ("pipeline_e2e_llm_v3", 40, 23),
        ("pipeline_e2e_llm_v4", 53, 32),
    ],
)
def test_capstone_dispatch_job_counts(spark, sf_dir, key, build_jobs, action_jobs):
    """Jobs per warm capstone dispatch, counted by job-id difference (fill
    threads included). Each eager fill runs its own build jobs, so a
    refactor that adds, drops or moves a fill changes these counts."""
    QUERIES[key](spark, sf_dir).collect()  # staged prefix, footers, classes
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = int(dag.nextJobId())
    df = QUERIES[key](spark, sf_dir)
    built = int(dag.nextJobId())
    df.write.format("noop").mode("overwrite").save()
    acted = int(dag.nextJobId())
    assert (built - before, acted - built) == (build_jobs, action_jobs)


class TestLangidEval:
    def test_confusion_matrix_consistent_with_predictor(self, spark, sf_dir):
        """Cells must equal a direct count over the predictor's output,
        rows must sum to the truth-class totals, rates must be the exact
        integer ratios, and the matrix must show both correct diagonal
        mass (en recalled) and real confusion (fr/zh have no profile, so
        their diagonal must be empty)."""
        from collections import Counter

        pred = Counter(
            (r["lang"], r["pred_lang"])
            for r in QUERIES["text_lang_id"](spark, sf_dir).collect()
        )
        truth = Counter()
        for (lang, _), n in pred.items():
            truth[lang] += n
        rows = QUERIES["quality_langid_eval"](spark, sf_dir).collect()
        assert {(r["lang"], r["pred_lang"]) for r in rows} == set(pred)
        for r in rows:
            key = (r["lang"], r["pred_lang"])
            assert r["n"] == pred[key]
            assert r["n_truth"] == truth[r["lang"]]
            assert r["cell_rate_u"] == round(r["n"] * 1e6 / r["n_truth"])
            assert r["is_correct"] == (r["lang"] == r["pred_lang"])
        diag = {r["lang"] for r in rows if r["is_correct"]}
        assert "en" in diag
        assert "fr" not in diag and "zh" not in diag


class TestAbSrm:
    def test_srm_flags_lossy_arm_and_passes_healthy_arm(self, spark):
        """At sf0.01 (where the user panel has power): the parity
        assignment must pass SRM, the deliberately lossy 40/60 bucketer
        must be flagged, and the chi-square must equal the from-scratch
        integer formula."""
        rows = {
            r["assignment"]: r
            for r in QUERIES["events_ab_srm"](spark, "/root/testdata/sf0.01").collect()
        }
        assert set(rows) == {"parity", "mod10_lossy"}
        for r in rows.values():
            n = r["n_users"]
            assert n == r["n_a"] + r["n_b"]
            num = (2 * r["n_a"] - n) ** 2 + (2 * r["n_b"] - n) ** 2
            assert r["chi2_u"] == round(num * 1e6 / (2.0 * n))
        assert not rows["parity"]["srm_detected"]
        assert rows["mod10_lossy"]["srm_detected"]


class TestPackBestfit:
    def test_matches_python_bfd_replay(self, spark, sf_dir):
        """Every bin must equal a from-scratch python best-fit-decreasing
        replay per md5 shard: (n_tok DESC, doc_id) order, tightest
        fitting bin (ties: lowest id), new bin on no fit."""
        import hashlib
        from collections import defaultdict

        import duckdb

        from data_transform_spark.pipeline.training import (
            PACK_BUDGET,
            PACK_SHARDS,
        )

        rows = duckdb.sql(
            f"select doc_id, text from '{sf_dir}/documents.parquet'"
        ).fetchall()
        shards = defaultdict(list)
        for doc_id, text in rows:
            h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
            shards[h % PACK_SHARDS].append((doc_id, len(text.split(" "))))
        want = {}
        for shard, items in shards.items():
            items.sort(key=lambda it: (-it[1], it[0]))
            caps, used, ndocs = [], [], []
            for _doc, length in items:
                best = None
                for j, c in enumerate(caps):
                    if c >= length and (
                        best is None or (c, j) < (caps[best], best)
                    ):
                        best = j
                if best is None:
                    caps.append(PACK_BUDGET - length)
                    used.append(length)
                    ndocs.append(1)
                else:
                    caps[best] -= length
                    used[best] += length
                    ndocs[best] += 1
            for b, (u, n) in enumerate(zip(used, ndocs)):
                want[(shard, b)] = (
                    n,
                    u,
                    PACK_BUDGET - u,
                    (2 * u * 1_000_000 + PACK_BUDGET) // (2 * PACK_BUDGET),
                )
        got = {
            (r["shard"], r["bin_id"]): (
                r["n_docs"], r["used_tokens"], r["waste"], r["util_u"]
            )
            for r in QUERIES["pack_bestfit"](spark, sf_dir).collect()
        }
        assert got == want

    def test_utilization_beats_greedy_cumsum(self, spark, sf_dir):
        """The reason best-fit-decreasing exists (r11 VERDICT #5): at the
        same capacity it must need no more CAPACITY-RESPECTING bins than
        arrival-order packing, i.e. mean fill >= a next-fit-in-doc_id-
        order baseline replayed in python. (pack_sequences itself lets
        straddling docs overflow, so its fill is not comparable; next-fit
        is the honest capacity-respecting greedy baseline.) Also pins
        capacity: no bin over budget unless it holds a single oversize
        doc."""
        import duckdb

        from data_transform_spark.pipeline.training import PACK_BUDGET

        rows = QUERIES["pack_bestfit"](spark, sf_dir).collect()
        assert rows
        total_used = sum(r["used_tokens"] for r in rows)
        for r in rows:
            assert r["used_tokens"] <= PACK_BUDGET or r["n_docs"] == 1
            assert r["waste"] == PACK_BUDGET - r["used_tokens"]

        import hashlib
        from collections import defaultdict

        from data_transform_spark.pipeline.training import PACK_SHARDS

        pairs = duckdb.sql(
            f"select doc_id, len(string_split(text, ' ')) from "
            f"'{sf_dir}/documents.parquet' order by doc_id"
        ).fetchall()
        assert sum(n for _, n in pairs) == total_used  # every doc packed once
        # next-fit baseline UNDER THE SAME SHARDING CONTRACT (comparing
        # per-shard BFD against a global packer would charge BFD for the
        # up-to-PACK_SHARDS partial tail bins that sharding, not the
        # algorithm, creates)
        by_shard = defaultdict(list)
        for doc_id, n in pairs:
            h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
            by_shard[h % PACK_SHARDS].append(n)
        nf_bins = 0
        for lens in by_shard.values():
            bins, cur = 1, 0
            for length in lens:
                if cur + length > PACK_BUDGET and cur > 0:
                    bins += 1
                    cur = 0
                cur += length
            nf_bins += bins
        assert len(rows) <= nf_bins, (
            f"BFD used {len(rows)} bins, next-fit baseline {nf_bins}"
        )

class TestMmrOverAnn:
    def test_greedy_is_pure_function_of_shortlist(self, spark, sf_dir):
        """r11 VERDICT #7 — the exact→ANN candidate swap: MMR over the
        STAGED ANN index's shortlist (api.mmr_over_ann) must (a) be
        deterministic across invocations, (b) share the registered key's
        output schema, and (c) produce the IDENTICAL diversified ranking
        for every query whose ANN shortlist retrieved exactly the
        exact-ranking shortlist (the greedy is a pure function of the
        shortlist). At least one query must hit case (c) on this fixture
        or the comparison degenerates."""
        from collections import defaultdict

        from pyspark.sql import functions as F

        from data_transform_spark import api
        from data_transform_spark.io import load_table
        from data_transform_spark.pipeline.retrieval import (
            MMR_CAND,
            _mmr_exact_shortlist,
        )
        from data_transform_spark.pipeline.similarity import (
            _ivfpq_topk,
            ivfpq_read_index,
            ivfpq_stage_index,
        )

        ann_rows = api.mmr_over_ann(spark, sf_dir).collect()
        again = api.mmr_over_ann(spark, sf_dir).collect()
        key = lambda rows: sorted(
            (r["query_id"], r["rank"], r["id"]) for r in rows
        )
        assert key(ann_rows) == key(again)  # (a) deterministic

        exact_rows = QUERIES["sim_mmr_diversify"](spark, sf_dir).collect()
        assert set(ann_rows[0].asDict()) == set(exact_rows[0].asDict())  # (b)

        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        exact_sl = defaultdict(set)
        for r in _mmr_exact_shortlist(e).collect():
            exact_sl[r["qid"]].add(r["id"])
        # (c) identical shortlist CONTENT -> identical greedy, whatever
        # generator/plan produced it: rebuild the exact shortlist as
        # LITERALS in scrambled row order with a different partitioning
        # (a maximally different provenance) and feed the serve path's
        # _mmr_rerank — the output must equal the registered key's
        # row-for-row. This is the property that makes the exact->ANN
        # candidate swap a drop-in.
        from data_transform_spark.pipeline.retrieval import _mmr_rerank

        sl_rows = _mmr_exact_shortlist(e).collect()
        scrambled = spark.createDataFrame(
            [
                (r["qid"], r["id"], r["rel"], r["rel_u"])
                for r in reversed(sl_rows)
            ],
            "qid long, id long, rel double, rel_u long",
        ).repartition(7)
        got_by_q = defaultdict(list)
        for r in _mmr_rerank(e, scrambled).collect():
            got_by_q[r["query_id"]].append((r["rank"], r["id"]))
        exact_by_q = defaultdict(list)
        for r in exact_rows:
            exact_by_q[r["query_id"]].append((r["rank"], r["id"]))
        assert got_by_q == exact_by_q, (
            "same shortlist content, different MMR output"
        )

        # (d) honesty pin on the ANN shortlist itself: even probing ALL
        # coarse lists, PQ quantization keeps the 20-deep ANN shortlist
        # from fully matching the exact one on this fixture (measured
        # overlap 11-18/20) — which is exactly why sim_ann_recall_curve
        # exists. Pin the floor so a silent ANN regression (or a silent
        # fix that would make full equality testable) surfaces here.
        staged = ivfpq_stage_index(spark, sf_dir)
        cent, books, codes_l = ivfpq_read_index(spark, staged)
        import data_transform_spark.pipeline.similarity as simmod

        old_probes = simmod.IVFPQ_PROBES
        try:
            simmod.IVFPQ_PROBES = cent.count()  # max probes
            ann_sl = defaultdict(set)
            for r in _ivfpq_topk(
                e, cent, books, codes_l, k=MMR_CAND
            ).collect():
                ann_sl[r["query_id"]].add(r["neighbor_id"])
        finally:
            simmod.IVFPQ_PROBES = old_probes
        overlaps = [len(exact_sl[q] & ann_sl.get(q, set())) for q in exact_sl]
        assert min(overlaps) >= 8, f"ANN shortlist quality collapsed: {overlaps}"


class TestUnigramLm:
    def _reference(self, sf_dir):
        """From-the-paper python hard-EM unigram LM (Kudo 2018): seed =
        top substrings, rounds of Viterbi + re-cost + prune."""
        import math
        from collections import Counter

        import duckdb

        from data_transform_spark.pipeline.training import (
            UNI_KEEP,
            UNI_MAXLEN,
            UNI_ROUNDS,
            UNI_SEED,
            _uni_viterbi,
        )

        rows = duckdb.sql(
            f"select text from '{sf_dir}/documents.parquet'"
        ).fetchall()
        wc = Counter(w for (t,) in rows for w in t.split(" ") if w)
        sub = Counter()
        for w, c in wc.items():
            for i in range(len(w)):
                for ln in range(1, min(UNI_MAXLEN, len(w) - i) + 1):
                    sub[w[i : i + ln]] += c

        def costs_of(usage):
            t, v = sum(usage.values()), len(usage)
            return {
                p: int(
                    math.floor(
                        (math.log(t + v) - math.log(u + 1)) * 1e6 + 0.5
                    )
                )
                for p, u in usage.items()
            }

        cand = sorted(sub.items(), key=lambda kv: (-kv[1], kv[0]))[:UNI_SEED]
        chars = {p for p in sub if len(p) == 1}
        vocab = dict(cand)
        for ch in chars:
            vocab.setdefault(ch, sub[ch])
        cost = costs_of(vocab)
        v = vocab
        for _r in range(UNI_ROUNDS):
            usage = Counter()
            for w, c in wc.items():
                _, _, path = _uni_viterbi(w, cost)
                for p in path.split(" "):
                    usage[p] += c
            v = dict(
                sorted(usage.items(), key=lambda kv: (-kv[1], kv[0]))[
                    :UNI_KEEP
                ]
            )
            for ch in chars:
                v.setdefault(ch, usage.get(ch, 0))
            cost = costs_of(v)
        return wc, v, cost

    def test_vocab_matches_python_replay(self, spark, sf_dir):
        wc, v, cost = self._reference(sf_dir)
        got = {
            r["piece"]: (r["usage"], r["cost_u"])
            for r in QUERIES["vocab_unigram_lm"](spark, sf_dir).collect()
        }
        assert got == {p: (u, cost[p]) for p, u in v.items()}

    def test_tokenize_round_trips_and_compresses(self, spark, sf_dir):
        """Every word's Viterbi path must concatenate back to the word
        (losslessness), the final vocab must keep multi-char pieces, and
        the corpus piece count must be strictly below the char count
        (the compression that justifies a trained tokenizer) while
        being >= the word count (every word >= 1 piece)."""
        from data_transform_spark.pipeline.training import _uni_viterbi

        wc, v, cost = self._reference(sf_dir)
        assert any(len(p) > 1 for p in v), "no multi-char piece survived"
        for w in wc:
            _, n, path = _uni_viterbi(w, cost)
            assert path.replace(" ", "") == w
            assert n == len(path.split(" "))
        rows = QUERIES["tokenize_unigram_lm"](spark, sf_dir).collect()
        assert rows
        exp = {}
        for r in rows:
            assert r["n_words"] <= r["n_piece_tokens"] < r["n_char_tokens"]
        # per-doc counts equal a direct python segmentation of the doc
        import duckdb

        drows = duckdb.sql(
            f"select doc_id, text from '{sf_dir}/documents.parquet'"
        ).fetchall()
        for doc_id, text in drows:
            words = [w for w in text.split(" ") if w]
            exp[doc_id] = (
                len(words),
                sum(len(w) for w in words),
                sum(_uni_viterbi(w, cost)[1] for w in words),
            )
        got = {
            r["doc_id"]: (
                r["n_words"], r["n_char_tokens"], r["n_piece_tokens"]
            )
            for r in rows
        }
        assert got == exp


class TestTokenizeBakeoff:
    def test_brackets_selfcheck_and_member_consistency(self, spark, sf_dir):
        """The bakeoff table must bracket correctly ('char' per_char_u is
        exactly 1e6 — the built-in self-check; every learned family lands
        strictly between the whitespace and char rows), and each learned
        family's total must equal the SUM of its member key's per-doc
        counts (bpe/bpe_bytes/unigram_lm tokenizers are the registered
        trainers, shared code — the totals must be consistent)."""
        rows = {
            r["family"]: r
            for r in QUERIES["tokenize_bakeoff"](spark, sf_dir).collect()
        }
        assert set(rows) == {
            "whitespace", "char", "bpe", "bpe_bytes", "unigram_lm",
            "wordpiece",
        }
        assert rows["char"]["per_char_u"] == 1_000_000
        assert rows["whitespace"]["per_word_u"] == 1_000_000
        nw = rows["whitespace"]["n_tokens"]
        nc = rows["char"]["n_tokens"]
        for fam in ("bpe", "bpe_bytes", "unigram_lm", "wordpiece"):
            assert nw < rows[fam]["n_tokens"] < nc, fam

        members = {
            "bpe": ("tokenize_bpe", "n_bpe_tokens"),
            "bpe_bytes": ("tokenize_bpe_bytes", "n_bpe_tokens"),
            "unigram_lm": ("tokenize_unigram_lm", "n_piece_tokens"),
            "wordpiece": ("tokenize_wordpiece", "n_wp_tokens"),
        }
        for fam, (key, col) in members.items():
            total = sum(
                r[col] for r in QUERIES[key](spark, sf_dir).collect()
            )
            assert rows[fam]["n_tokens"] == total, (fam, total)


class TestHoltWinters:
    def test_matches_python_replay_and_structure(self, spark, sf_dir):
        """Every row must equal a from-scratch python replay of the
        additive Holt-Winters recursion (dow-mean seasonal init, integer
        micro-unit updates); exactly HW_PERIOD warmup rows per series;
        post-warmup seasonal state stays bounded by the data range."""
        from collections import defaultdict

        import duckdb

        from data_transform_spark.operators.timeseries import (
            HOLT_ALPHA_NUM,
            HOLT_BETA_NUM,
            HW_GAMMA_NUM,
            HW_PERIOD,
        )

        daily = defaultdict(list)
        for et, d, n in duckdb.sql(
            f"""SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP),
                       count(*) FROM '{sf_dir}/events.parquet'
                GROUP BY 1, 2 ORDER BY 1, 2"""
        ).fetchall():
            daily[et].append((d, n))
        want = {}
        m, an, bn, gn = HW_PERIOD, HOLT_ALPHA_NUM, HOLT_BETA_NUM, HW_GAMMA_NUM
        for et, pts in daily.items():
            xs = [n for _, n in pts]
            if len(xs) <= m:
                continue
            l = (2 * sum(xs[:m]) * 1_000_000 + m) // (2 * m)
            b = 0
            g = (2 * sum(xs) * 1_000_000 + len(xs)) // (2 * len(xs))
            s = []
            for i in range(m):
                occ = [x for t, x in enumerate(xs, 1) if (t - 1) % m == i]
                s.append(
                    (2 * sum(occ) * 1_000_000 + len(occ)) // (2 * len(occ))
                    - g
                )
            for t, (d, x) in enumerate(pts, start=1):
                if t <= m:
                    want[(et, d)] = (x, l, 0, s[(t - 1) % m], 0, True)
                    continue
                slot = (t - 1) % m
                sv = s[slot]
                fit = l + b + sv
                l2 = (an * (x * 1_000_000 - sv) + (10 - an) * (l + b) + 5) // 10
                b = (bn * (l2 - l) + (10 - bn) * b + 5) // 10
                s[slot] = (gn * (x * 1_000_000 - l2) + (10 - gn) * sv + 5) // 10
                l = l2
                want[(et, d)] = (x, l, b, s[slot], fit, False)
        got = {
            (r["event_type"], r["day_ts"]): (
                r["n"], r["level_u"], r["trend_u"], r["season_u"],
                r["fitted_u"], r["warmup"],
            )
            for r in QUERIES["ts_holt_winters"](spark, sf_dir).collect()
        }
        assert got == want
        warm_per = defaultdict(int)
        for (et, _d), v in got.items():
            warm_per[et] += v[5]
        assert all(v == HW_PERIOD for v in warm_per.values())

    def test_short_series_omitted(self, spark, tmp_path):
        """A series with <= one week of active days has no seasonal
        cycle to fit — omitted, like the backtest omission rule."""
        import datetime

        base = datetime.datetime(2024, 1, 1, 12)
        rows = [
            (i, base + datetime.timedelta(days=i), 1, "short", 1.0, "{}")
            for i in range(7)
        ]
        rows += [
            (100 + i, base + datetime.timedelta(days=i), 2, "long", 1.0, "{}")
            for i in range(9)
        ]
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
        got = QUERIES["ts_holt_winters"](spark, str(tmp_path)).collect()
        types = {r["event_type"] for r in got}
        assert types == {"long"}
        assert sum(1 for r in got if not r["warmup"]) == 2


class TestForecastModelSelect:
    def test_replay_and_winner_consistency(self, spark, sf_dir):
        """Each row must equal a python replay of all three registered
        forecasters over the same post-warmup window; the winner must be
        the argmin of the three integer MAEs with the parsimony
        tie-break (naive ≺ holt ≺ holt_winters); n_evals must be
        series length minus the warmup week."""
        from collections import defaultdict

        import duckdb

        from data_transform_spark.operators.timeseries import (
            HOLT_ALPHA_NUM,
            HOLT_BETA_NUM,
            HW_GAMMA_NUM,
            HW_PERIOD,
        )

        daily = defaultdict(list)
        for et, d, n in duckdb.sql(
            f"""SELECT event_type, date_trunc('day', ts), count(*)
                FROM '{sf_dir}/events.parquet' GROUP BY 1, 2 ORDER BY 1, 2"""
        ).fetchall():
            daily[et].append(n)
        m, an, bn, gn = HW_PERIOD, HOLT_ALPHA_NUM, HOLT_BETA_NUM, HW_GAMMA_NUM
        want = {}
        for et, xs in daily.items():
            if len(xs) <= m:
                continue
            hl, hb = xs[0] * 1_000_000, 0
            wl = (2 * sum(xs[:m]) * 1_000_000 + m) // (2 * m)
            wb = 0
            g = (2 * sum(xs) * 1_000_000 + len(xs)) // (2 * len(xs))
            s = [
                (2 * sum(occ) * 1_000_000 + len(occ)) // (2 * len(occ)) - g
                for occ in (
                    [x for t, x in enumerate(xs, 1) if (t - 1) % m == i]
                    for i in range(m)
                )
            ]
            e_n = e_h = e_w = ne = 0
            for t, x in enumerate(xs, start=1):
                if t > m:
                    slot = (t - 1) % m
                    e_w += abs(x * 1_000_000 - (wl + wb + s[slot]))
                    e_h += abs(x * 1_000_000 - (hl + hb))
                    e_n += abs((x - xs[t - 2]) * 1_000_000)
                    ne += 1
                    sv = s[slot]
                    wl2 = (
                        an * (x * 1_000_000 - sv) + (10 - an) * (wl + wb) + 5
                    ) // 10
                    wb = (bn * (wl2 - wl) + (10 - bn) * wb + 5) // 10
                    s[slot] = (
                        gn * (x * 1_000_000 - wl2) + (10 - gn) * sv + 5
                    ) // 10
                    wl = wl2
                if t > 1:
                    hl2 = (
                        an * x * 1_000_000 + (10 - an) * (hl + hb) + 5
                    ) // 10
                    hb = (bn * (hl2 - hl) + (10 - bn) * hb + 5) // 10
                    hl = hl2
            mn = (2 * e_n + ne) // (2 * ne)
            mh = (2 * e_h + ne) // (2 * ne)
            mw = (2 * e_w + ne) // (2 * ne)
            winner = (
                "naive"
                if mn <= mh and mn <= mw
                else ("holt" if mh <= mw else "holt_winters")
            )
            want[et] = (ne, mn, mh, mw, winner)
        got = {
            r["event_type"]: (
                r["n_evals"], r["mae_naive_u"], r["mae_holt_u"],
                r["mae_hw_u"], r["winner"],
            )
            for r in QUERIES["events_forecast_model_select"](
                spark, sf_dir
            ).collect()
        }
        assert got == want
        for et, (ne, mn, mh, mw, winner) in got.items():
            assert ne == len(daily[et]) - 7
            best = min(mn, mh, mw)
            assert {
                "naive": mn, "holt": mh, "holt_winters": mw
            }[winner] == best


class TestDedupBakeoff:
    def test_stats_replay_and_selfchecks(self, spark, sf_dir):
        """Truth replayed from scratch in python (all-pairs shingle
        jaccard >= tau); each method row's counts must equal stats over
        the registered pair generators; 'exact' precision must be
        exactly 1e6 (identical texts have jaccard 1) and 'minhash' must
        equal truth in BOTH directions (the family's pinned no-miss
        claim, here as an explicit row)."""
        import duckdb

        from data_transform_spark.pipeline.dedup import (
            MINHASH_EXACT_TAU,
            SHINGLE_K,
        )

        rows = duckdb.sql(
            f"select doc_id, text from '{sf_dir}/documents.parquet'"
        ).fetchall()
        sh = {
            d: {
                " ".join(t.split(" ")[i : i + SHINGLE_K])
                for i in range(max(len(t.split(" ")) - SHINGLE_K, 0) + 1)
            }
            for d, t in rows
        }
        ids = sorted(sh)
        truth = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                inter = len(sh[a] & sh[b])
                if inter and inter / len(sh[a] | sh[b]) >= MINHASH_EXACT_TAU:
                    truth.add((a, b))

        mh = {
            (r["doc_a"], r["doc_b"])
            for r in QUERIES["dedup_near_minhash"](spark, sf_dir).collect()
        }
        sim = {
            (r["doc_a"], r["doc_b"])
            for r in QUERIES["dedup_simhash"](spark, sf_dir).collect()
        }
        texts = {}
        ex = set()
        for d, t in rows:
            if t in texts:
                ex.update(
                    (min(d, o), max(d, o)) for o in texts[t]
                )
                texts[t].append(d)
            else:
                texts[t] = [d]

        got = {
            r["method"]: r
            for r in QUERIES["dedup_bakeoff"](spark, sf_dir).collect()
        }
        for name, pairs in (("exact", ex), ("minhash", mh), ("simhash", sim)):
            r = got[name]
            assert r["n_truth"] == len(truth)
            assert r["n_pairs"] == len(pairs), name
            assert r["n_hit"] == len(pairs & truth), name
            np_, nh = len(pairs), len(pairs & truth)
            want_p = (
                1_000_000 if np_ == 0
                else (2 * nh * 1_000_000 + np_) // (2 * np_)
            )
            want_r = (
                1_000_000 if not truth
                else (2 * nh * 1_000_000 + len(truth)) // (2 * len(truth))
            )
            assert (r["precision_u"], r["recall_u"]) == (want_p, want_r)
        assert got["exact"]["precision_u"] == 1_000_000
        assert mh == truth  # the no-miss claim, both directions
        assert got["minhash"]["recall_u"] == 1_000_000


class TestSearchEvalLabels:
    def test_replay_and_baseline_semantics(self, spark, sf_dir):
        """Each system row must equal a python replay over the registered
        rankings (same top-k sets, label truth, half-up quantization);
        the random row must be the analytic expectation (per-query
        n_rel/(N-1) and K/(N-1), quantized then integer-meaned); and
        cosine must beat the random baseline on precision (embeddings DO
        cluster by label — the one system with access to the truth's
        signal), pinned at every SF."""
        from collections import defaultdict

        import duckdb

        from data_transform_spark.pipeline.retrieval import (
            EVAL_K,
            RRF_N_QUERIES,
            _rrf_rankings,
        )

        labs = dict(
            duckdb.sql(
                f"""SELECT e.vec_id, e.label
                    FROM '{sf_dir}/embeddings.parquet' e
                    JOIN '{sf_dir}/documents.parquet' d
                      ON d.doc_id = e.vec_id"""
            ).fetchall()
        )
        n_corpus = len(labs)
        qlab = {q: labs[q] for q in labs if q < RRF_N_QUERIES}
        nrel = {
            q: sum(1 for i, l in labs.items() if l == ql and i != q)
            for q, ql in qlab.items()
        }

        lex, vec, rrf = _rrf_rankings(spark, sf_dir)
        tops = {
            "bm25": defaultdict(set),
            "cosine": defaultdict(set),
            "rrf": defaultdict(set),
        }
        for r in lex.filter(lex.r <= EVAL_K).collect():
            tops["bm25"][r["qid"]].add(r["id"])
        for r in vec.filter(vec.r <= EVAL_K).collect():
            tops["cosine"][r["qid"]].add(r["id"])
        for r in rrf.filter(rrf.rank <= EVAL_K).collect():
            tops["rrf"][r["query_id"]].add(r["id"])

        want = {}
        for name, by_q in tops.items():
            hs = {q: sum(1 for i in ids if labs[i] == qlab[q])
                  for q, ids in by_q.items()}
            nq = len(hs)
            p = (2 * sum(hs.values()) * 1_000_000 + nq * EVAL_K) // (
                2 * nq * EVAL_K
            )
            rus = [
                (2 * h * 1_000_000 + nrel[q]) // (2 * nrel[q])
                for q, h in hs.items()
            ]
            want[name] = (nq, p, (2 * sum(rus) + nq) // (2 * nq))
        nq = len(qlab)
        pus = [
            (2 * nrel[q] * 1_000_000 + (n_corpus - 1)) // (2 * (n_corpus - 1))
            for q in qlab
        ]
        rus = [
            (2 * EVAL_K * 1_000_000 + (n_corpus - 1)) // (2 * (n_corpus - 1))
            for _ in qlab
        ]
        want["random"] = (
            nq,
            (2 * sum(pus) + nq) // (2 * nq),
            (2 * sum(rus) + nq) // (2 * nq),
        )

        got = {
            r["system"]: (
                r["n_queries"], r["macro_p_at_k_u"], r["macro_r_at_k_u"]
            )
            for r in QUERIES["search_eval_labels"](spark, sf_dir).collect()
        }
        assert got == want
        assert got["cosine"][1] > got["random"][1], (
            "cosine failed to beat the random baseline"
        )


class TestSearchEvalGraded:
    def test_ndcg_replay_and_grading_semantics(self, spark, sf_dir):
        """Every row of the graded eval must equal a from-scratch python
        replay of the grading + nDCG arithmetic over the registered
        rankings and the shared cosine frame: grade 2 = label match,
        grade 1 = same-lang cosine-band, micro-unit DCG terms via
        floor((g·1e6)·ln2/ln(i+1)+0.5), half-up nDCG ratios, integer
        macro means, the analytic random row. Non-degeneracy: the
        grade-1 band must be non-empty (else the key degenerates to
        search_eval_labels) and cosine must beat random on nDCG."""
        import math
        from collections import defaultdict

        import duckdb

        from data_transform_spark.pipeline.retrieval import (
            EVAL_K,
            GRADE1_COS,
            RRF_N_QUERIES,
            _rrf_corpus,
            _rrf_rankings,
            _vec_scored_pairs,
        )

        labs = {
            vid: (label, lang)
            for vid, label, lang in duckdb.sql(
                f"""SELECT e.vec_id, e.label, d.lang
                    FROM '{sf_dir}/embeddings.parquet' e
                    JOIN '{sf_dir}/documents.parquet' d
                      ON d.doc_id = e.vec_id"""
            ).fetchall()
        }
        n_corpus = len(labs)

        # qrels from the SHARED cosine frame (its 6dp discipline is
        # pinned elsewhere; this test verifies the eval arithmetic)
        vs = _vec_scored_pairs(_rrf_corpus(spark, sf_dir)).collect()
        qrels: dict = defaultdict(dict)
        for r in vs:
            q, c = r["qid"], r["id"]
            if labs[c][0] == labs[q][0]:
                qrels[q][c] = 2
            elif labs[c][1] == labs[q][1] and r["score"] >= GRADE1_COS:
                qrels[q][c] = 1
        assert any(
            1 in g.values() for g in qrels.values()
        ), "grade-1 band empty — graded eval degenerates to binary"

        def term(g, i):
            return math.floor(
                (g * 1_000_000) * math.log(2) / math.log(i + 1) + 0.5
            )

        ideal = {}
        for q, g in qrels.items():
            n2 = sum(1 for v in g.values() if v == 2)
            n1 = sum(1 for v in g.values() if v == 1)
            idcg = sum(
                term(3, i) if i <= min(n2, EVAL_K)
                else (term(1, i) if i <= min(n2 + n1, EVAL_K) else 0)
                for i in range(1, EVAL_K + 1)
            )
            if idcg > 0:
                ideal[q] = (n2, n1, n2 + n1, idcg)

        lex, vec, rrf = _rrf_rankings(spark, sf_dir)
        ranked = {
            "bm25": [
                (r["qid"], r["id"], r["r"])
                for r in lex.filter(lex.r <= EVAL_K).collect()
            ],
            "cosine": [
                (r["qid"], r["id"], r["r"])
                for r in vec.filter(vec.r <= EVAL_K).collect()
            ],
            "rrf": [
                (r["query_id"], r["id"], r["rank"])
                for r in rrf.filter(rrf.rank <= EVAL_K).collect()
            ],
        }
        want = {}
        for name, rows in ranked.items():
            dcg: dict = defaultdict(int)
            hits: dict = defaultdict(int)
            by_q: dict = defaultdict(list)
            seen_q = set()
            for q, c, rk in rows:
                seen_q.add(q)
                grade = qrels[q].get(c, 0)
                g = {2: 3, 1: 1}.get(grade, 0)  # gain = 2^rel - 1
                dcg[q] += term(g, rk)
                hits[q] += 1 if g > 0 else 0
                by_q[q].append((rk, g))
            qs = [q for q in seen_q if q in ideal]
            nq = len(qs)
            p = (2 * sum(hits[q] for q in qs) * 1_000_000 + nq * EVAL_K) // (
                2 * nq * EVAL_K
            )
            rus = [
                (2 * hits[q] * 1_000_000 + ideal[q][2]) // (2 * ideal[q][2])
                for q in qs
            ]
            nds = [
                (2 * dcg[q] * 1_000_000 + ideal[q][3]) // (2 * ideal[q][3])
                for q in qs
            ]
            # MRR / MAP replay (r14): running hit count in rank order,
            # micro-precision terms at relevant positions, half-up means
            rrs, aps = [], []
            for q in qs:
                h = 0
                r_first = None
                sum_p = 0
                for rk, g in sorted(by_q[q]):
                    if g > 0:
                        h += 1
                        if r_first is None:
                            r_first = rk
                        sum_p += (2 * h * 1_000_000 + rk) // (2 * rk)
                rrs.append(
                    0 if r_first is None
                    else (2 * 1_000_000 + r_first) // (2 * r_first)
                )
                d_ap = min(ideal[q][2], EVAL_K)
                aps.append(
                    0 if sum_p == 0 else (2 * sum_p + d_ap) // (2 * d_ap)
                )
            want[name] = (
                nq,
                p,
                (2 * sum(rus) + nq) // (2 * nq),
                (2 * sum(nds) + nq) // (2 * nq),
                (2 * sum(rrs) + nq) // (2 * nq),
                (2 * sum(aps) + nq) // (2 * nq),
            )
        w_u = sum(term(1, i) for i in range(1, EVAL_K + 1))
        nq = len(ideal)
        pus, rus, nds, rrs, aps = [], [], [], [], []
        m_pool = n_corpus - 1
        for q, (n2, n1, n_rel, idcg) in ideal.items():
            pus.append(
                (2 * n_rel * 1_000_000 + (n_corpus - 1))
                // (2 * (n_corpus - 1))
            )
            rus.append(
                (2 * EVAL_K * 1_000_000 + (n_corpus - 1))
                // (2 * (n_corpus - 1))
            )
            rd = (2 * (3 * n2 + n1) * w_u + (n_corpus - 1)) // (
                2 * (n_corpus - 1)
            )
            nds.append((2 * rd * 1_000_000 + idcg) // (2 * idcg))
            # analytic E[RR@k]: hypergeometric first-hit chain, per-term
            # micro-unit quantization — same float expression shape as
            # the engines (left-fold products/divisions of integer-valued
            # doubles agree bitwise)
            rr = 0
            for i in range(1, EVAL_K + 1):
                acc = 1.0
                for j in range(1, i):
                    acc = acc * ((m_pool - n_rel - j + 1) / (m_pool - j + 1))
                rr += math.floor(
                    (acc * (n_rel / (m_pool - i + 1)) / i) * 1_000_000 + 0.5
                )
            rrs.append(rr)
            # analytic E[AP@k] by linearity: E[1{rel_i}·h_i] = p1+p2·(i−1)
            p1 = n_rel / m_pool
            p2 = (n_rel * (n_rel - 1)) / (m_pool * (n_corpus - 2))
            s_u = sum(
                math.floor(((p1 + p2 * (i - 1)) / i) * 1_000_000 + 0.5)
                for i in range(1, EVAL_K + 1)
            )
            d_ap = min(n_rel, EVAL_K)
            aps.append((2 * s_u + d_ap) // (2 * d_ap))
        want["random"] = (
            nq,
            (2 * sum(pus) + nq) // (2 * nq),
            (2 * sum(rus) + nq) // (2 * nq),
            (2 * sum(nds) + nq) // (2 * nq),
            (2 * sum(rrs) + nq) // (2 * nq),
            (2 * sum(aps) + nq) // (2 * nq),
        )

        got = {
            r["system"]: (
                r["n_queries"],
                r["macro_p_at_k_u"],
                r["macro_r_at_k_u"],
                r["macro_ndcg_at_k_u"],
                r["macro_mrr_at_k_u"],
                r["macro_map_at_k_u"],
            )
            for r in QUERIES["search_eval_graded"](spark, sf_dir).collect()
        }
        assert got == want
        assert got["cosine"][3] > got["random"][3], (
            "cosine failed to beat the random baseline on nDCG"
        )
        assert got["cosine"][4] > 0 and got["cosine"][5] > 0, (
            "MRR/MAP degenerate to zero on the fixture"
        )


class TestQualityLmPpl:
    def test_matches_python_bigram_lm_replay(self, spark, sf_dir):
        """Every per-doc row must equal a from-scratch python bigram-LM
        replay: reference = en docs, add-one smoothing over |vocab|+1,
        micronat transition costs floor((ln(ctx+V)-ln(big+1))*1e6+0.5),
        half-up per-transition mean. Non-degeneracy: en must have the
        strictly lowest mean xent_u of every language (the CCNet keep
        signal points at the reference language), and xent_u must vary
        across docs."""
        import math
        from collections import Counter, defaultdict

        import duckdb

        from data_transform_spark.pipeline.curation import LM_REF_LANG
        from data_transform_spark.registry import QUERIES

        rows = duckdb.sql(
            f"select doc_id, lang, text from '{sf_dir}/documents.parquet'"
        ).fetchall()
        toks = {
            d: [w for w in t.split(" ") if w] for d, _l, t in rows
        }
        lang = {d: l for d, l, _t in rows}
        big: Counter = Counter()
        ctx: Counter = Counter()
        voc = set()
        for d, t in toks.items():
            if lang[d] != LM_REF_LANG:
                continue
            voc.update(t)
            for a, b in zip(t, t[1:]):
                big[(a, b)] += 1
                ctx[a] += 1
        V = len(voc) + 1
        want = {}
        for d, t in toks.items():
            costs = [
                math.floor(
                    (math.log(ctx.get(a, 0) + V) - math.log(big.get((a, b), 0) + 1))
                    * 1_000_000
                    + 0.5
                )
                for a, b in zip(t, t[1:])
            ]
            n_trans = len(costs)
            xent = (
                0
                if n_trans == 0
                else (2 * sum(costs) + n_trans) // (2 * n_trans)
            )
            n_oov = sum(1 for w in t if w not in voc)
            want[d] = (lang[d], len(t), n_oov, n_trans, xent)

        got = {
            r["doc_id"]: (
                r["lang"], r["n_tokens"], r["n_oov"], r["n_trans"], r["xent_u"]
            )
            for r in QUERIES["quality_lm_ppl"](spark, sf_dir).collect()
        }
        assert got == want

        by_lang = defaultdict(list)
        for _d, (l, _n, _o, nt, x) in want.items():
            if nt > 0:
                by_lang[l].append(x)
        means = {l: sum(v) / len(v) for l, v in by_lang.items()}
        assert len(means) > 1
        for l, m in means.items():
            if l != LM_REF_LANG:
                assert means[LM_REF_LANG] < m, (
                    f"reference lang not lowest: en={means[LM_REF_LANG]} "
                    f"{l}={m}"
                )
        assert len(set(x for v in by_lang.values() for x in v)) > 10


class TestTextHeapsCurve:
    def test_matches_python_replay_on_fixture(self, spark, sf_dir):
        """Every checkpoint row must equal a from-scratch python replay:
        value-based cutoffs lo + floor(k*span/10), cumulative tokens,
        first-occurrence vocabulary, half-up TTR, micronat log-log slope.
        Fixture honesty (pinned, not hidden): the synthetic corpus draws
        from a ~31-word pool, so cum_vocab saturates before the first
        checkpoint and every beta_u is 0 — TTR must still strictly
        decrease (tokens grow, types don't)."""
        import math
        from collections import defaultdict

        import duckdb

        from data_transform_spark.pipeline.text import HEAPS_POINTS
        from data_transform_spark.registry import QUERIES

        rows = duckdb.sql(
            f"select doc_id, text from '{sf_dir}/documents.parquet'"
        ).fetchall()
        toks = {d: [w for w in t.split(" ") if w] for d, t in rows}
        lo, hi = min(toks), max(toks)
        first = {}
        for d in sorted(toks):
            for w in toks[d]:
                first.setdefault(w, d)
        want = {}
        prev = None
        for k in range(1, HEAPS_POINTS + 1):
            cut = lo + math.floor(k * (hi - lo) / HEAPS_POINTS)
            nd = sum(1 for d in toks if d <= cut)
            ct = sum(len(t) for d, t in toks.items() if d <= cut)
            cv = sum(1 for w, d in first.items() if d <= cut)
            ttr = 0 if ct == 0 else (2 * cv * 1_000_000 + ct) // (2 * ct)
            if prev is None or ct <= prev[0] or prev[0] == 0:
                beta = 0
            else:
                beta = math.floor(
                    (math.log(cv) - math.log(prev[1]))
                    / (math.log(ct) - math.log(prev[0]))
                    * 1_000_000
                    + 0.5
                )
            want[k] = (cut, nd, ct, cv, ttr, beta)
            prev = (ct, cv)

        got = {
            r["k"]: (
                r["cutoff_id"], r["n_docs"], r["cum_tokens"],
                r["cum_vocab"], r["ttr_u"], r["beta_u"],
            )
            for r in QUERIES["text_heaps_curve"](spark, sf_dir).collect()
        }
        assert got == want
        ttrs = [got[k][4] for k in sorted(got)]
        assert ttrs == sorted(ttrs, reverse=True) and len(set(ttrs)) > 3, (
            "TTR must strictly decrease as tokens accumulate"
        )

    def test_beta_positive_on_growing_vocabulary(self, spark, tmp_path):
        """On a corpus whose vocabulary actually grows (fresh words per
        doc plus a common stopword mass), the curve must report positive
        local Heaps exponents strictly below 1 — the operator does
        something the fixture's saturated pool cannot show."""
        import pandas as pd

        from data_transform_spark.registry import QUERIES

        rows = []
        for d in range(100):
            # fresh-word rate decays ~1/sqrt(d) so vocabulary is genuinely
            # sublinear in tokens (V ~ T^0.5) — a linear rate would sit at
            # the beta = 1 boundary and discretization noise crosses it
            fresh = max(1, int(8 / (1 + d) ** 0.5))
            words = ["the", "of", "and"] * 10 + [
                f"w{d}_{j}" for j in range(fresh)
            ]
            rows.append((d, " ".join(words)))
        pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(
            f"{tmp_path}/documents.parquet"
        )
        out = {
            r["k"]: r for r in QUERIES["text_heaps_curve"](
                spark, str(tmp_path)
            ).collect()
        }
        betas = [out[k]["beta_u"] for k in sorted(out) if k > 1]
        assert all(0 < b < 1_000_000 for b in betas), betas
        vocabs = [out[k]["cum_vocab"] for k in sorted(out)]
        assert vocabs == sorted(vocabs) and vocabs[0] < vocabs[-1]


class TestPackConcatChunks:
    def test_matches_python_stream_replay_and_invariants(self, spark, sf_dir):
        """Every per-doc row must equal a python token-stream replay
        (cumsum in doc_id order, floor-division pack ids), and the
        chunking invariants must hold: fragment intervals tile the
        stream exactly (sum over docs of n_fragments = sum over packs of
        docs-touching-it), every pack id in [0, ceil(total/512)), and
        at least one doc is split on the fixture (the discipline's
        defining event actually occurs)."""
        import duckdb

        from data_transform_spark.pipeline.training import PACK_BUDGET
        from data_transform_spark.registry import QUERIES

        rows = duckdb.sql(
            f"select doc_id, len(string_split(text, ' ')) from "
            f"'{sf_dir}/documents.parquet' order by doc_id"
        ).fetchall()
        want = {}
        start = 0
        for doc_id, n in rows:
            first = start // PACK_BUDGET
            last = (start + n - 1) // PACK_BUDGET
            want[doc_id] = (
                n, start, first, last, last - first + 1,
                start % PACK_BUDGET, last > first,
            )
            start += n
        total = start

        got = {
            r["doc_id"]: (
                r["n_tok"], r["start_tok"], r["first_pack"], r["last_pack"],
                r["n_fragments"], r["head_offset"], r["is_split"],
            )
            for r in QUERIES["pack_concat_chunks"](spark, sf_dir).collect()
        }
        assert got == want
        n_packs = -(-total // PACK_BUDGET)
        assert all(
            0 <= v[2] <= v[3] < n_packs for v in got.values()
        )
        assert any(v[6] for v in got.values()), "no doc was ever split"
        # fragments tile the stream: each pack is touched by exactly the
        # docs whose [first,last] interval covers it
        touched = [0] * n_packs
        for v in got.values():
            for p in range(v[2], v[3] + 1):
                touched[p] += 1
        assert all(t >= 1 for t in touched)
        assert sum(v[4] for v in got.values()) == sum(touched)


class TestPackSharded:
    """The registered 100 TB packers (r13 VERDICT #2): per-md5-shard
    windows. Property: each shard's output must equal the GLOBAL packing
    discipline applied to that shard's own doc_id-ordered sub-stream —
    sharding changes parallelism, never per-shard semantics."""

    @staticmethod
    def _sharded_docs(sf_dir):
        import hashlib

        import duckdb

        from data_transform_spark.pipeline.training import PACK_SHARDS

        rows = duckdb.sql(
            f"select doc_id, len(string_split(text, ' ')) from "
            f"'{sf_dir}/documents.parquet' order by doc_id"
        ).fetchall()
        shards = {}
        for doc_id, n in rows:
            s = int(
                hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16
            ) % PACK_SHARDS
            shards.setdefault(s, []).append((doc_id, n))
        return shards

    def test_concat_chunks_sharded_equals_global_per_substream(
        self, spark, sf_dir
    ):
        from data_transform_spark.pipeline.training import PACK_BUDGET
        from data_transform_spark.registry import QUERIES

        shards = self._sharded_docs(sf_dir)
        want = {}
        for s, docs in shards.items():
            start = 0
            for doc_id, n in docs:
                first = start // PACK_BUDGET
                last = (start + n - 1) // PACK_BUDGET
                want[(s, doc_id)] = (
                    n, start, first, last, last - first + 1,
                    start % PACK_BUDGET, last > first,
                )
                start += n
        got = {
            (r["shard"], r["doc_id"]): (
                r["n_tok"], r["start_tok"], r["first_pack"], r["last_pack"],
                r["n_fragments"], r["head_offset"], r["is_split"],
            )
            for r in QUERIES["pack_concat_chunks_sharded"](
                spark, sf_dir
            ).collect()
        }
        assert got == want
        # non-degeneracy: the shard rule actually fans out, and the
        # discipline's defining event (a split doc) occurs in some shard
        assert len(shards) > 1
        assert any(v[6] for v in got.values()), "no doc split in any shard"

    def test_sequences_sharded_equals_global_per_substream(
        self, spark, sf_dir
    ):
        from data_transform_spark.pipeline.training import PACK_BUDGET
        from data_transform_spark.registry import QUERIES

        shards = self._sharded_docs(sf_dir)
        want = {}
        for s, docs in shards.items():
            start = 0
            for doc_id, n in docs:
                pack = (start // PACK_BUDGET)
                k = (s, pack)
                nd, nt = want.get(k, (0, 0))
                want[k] = (nd + 1, nt + n)
                start += n
        got = {
            (r["shard"], r["pack_id"]): (
                r["n_docs"],
                r["n_tokens"],
                r["fill_ratio"],
            )
            for r in QUERIES["pack_sequences_sharded"](spark, sf_dir).collect()
        }
        assert {k: v[:2] for k, v in got.items()} == want
        for (s, pack), (nd, nt, fill) in got.items():
            # Spark round() is half-away-from-zero; python round() is
            # half-to-even — replay with integer half-up
            assert fill == ((nt * 10000 * 2 + PACK_BUDGET)
                            // (2 * PACK_BUDGET)) / 10000
        # some shard must hold more than one pack or the window did nothing
        assert any(p > 0 for (_s, p) in got)


class TestSimAnnGraph:
    """Graph ANN (r13 VERDICT #5): deterministic kNN graph + fixed-round
    beam search, staged train-once/serve-many."""

    def test_graph_invariants_and_recall_bound(self, spark, sf_dir):
        """Out-edge table: ≤ GRAPH_DEGREE edges per source, no self
        loops, quantized scores within [−1e4, 1e4] units. Staged
        adjacency: symmetric by construction. Serve: exactly TOPK rows
        per query and recall vs exact top-5 above the declared bound."""
        from data_transform_spark.pipeline.similarity import (
            GRAPH_DEGREE,
            N_QUERIES,
            TOPK,
            _graph_knn_edges,
            graph_stage_index,
            sim_ann_graph_topk,
            sim_topk_bruteforce,
        )

        edges = _graph_knn_edges(spark, sf_dir).collect()
        per_src = {}
        for r in edges:
            assert r.src != r.dst
            assert -10_000 <= r.su <= 10_000
            per_src[r.src] = per_src.get(r.src, 0) + 1
        assert per_src and max(per_src.values()) <= GRAPH_DEGREE

        staged = graph_stage_index(spark, sf_dir)
        adj = {
            (r.src, r.dst)
            for r in spark.read.parquet(f"{staged}/adjacency").collect()
        }
        assert all((d, s) in adj for (s, d) in adj), "adjacency not symmetric"

        ann = sim_ann_graph_topk(spark, sf_dir).collect()
        per_q = {}
        for r in ann:
            per_q.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert len(per_q) == N_QUERIES
        assert all(len(v) == TOPK for v in per_q.values())
        exact = {
            (r.query_id, r.neighbor_id)
            for r in sim_topk_bruteforce(spark, sf_dir).collect()
        }
        hits = sum(
            1 for q, ns in per_q.items() for n in ns if (q, n) in exact
        )
        assert hits >= 0.45 * len(exact), f"recall {hits/len(exact):.2f}"

    def test_beam_expansion_beats_seeds_only(self, spark, sf_dir):
        """Non-degeneracy: the beam search must actually NAVIGATE — the
        full-round serve must strictly beat the rounds=0 (seeds-only)
        baseline on exact-top-5 recall, and must surface neighbors that
        are neither seeds nor direct seed neighbors."""
        from data_transform_spark.pipeline.similarity import (
            sim_ann_graph_topk,
            sim_topk_bruteforce,
        )

        exact = {
            (r.query_id, r.neighbor_id)
            for r in sim_topk_bruteforce(spark, sf_dir).collect()
        }
        full = {
            (r.query_id, r.neighbor_id)
            for r in sim_ann_graph_topk(spark, sf_dir).collect()
        }
        seeds_only = {
            (r.query_id, r.neighbor_id)
            for r in sim_ann_graph_topk(spark, sf_dir, rounds=0).collect()
        }
        hit_full = len(full & exact)
        hit_seed = len(seeds_only & exact)
        assert hit_full > hit_seed, (hit_full, hit_seed)
        assert full - seeds_only, "expansion surfaced nothing new"


# Build jobs per dispatch of the tokenizer keys at sf0.001. Each trainer
# run is one word-table collect (a shuffle-map job and its result job);
# the merge rounds run on the driver, so no job scales with the rounds.
# tokenize_bakeoff trains four tokenizers. Before the trainers moved to
# the driver these keys ran 18, 18, 11, 35, 12, 38 and 82 build jobs.
_TOKENIZER_BUILD_JOBS = {
    "vocab_bpe": 2,
    "vocab_bpe_bytes": 2,
    "vocab_bpe_batched": 2,
    "vocab_wordpiece": 2,
    "vocab_unigram_lm": 2,
    "tokenize_wordpiece_infer": 2,
    "tokenize_bakeoff": 8,
}


@pytest.mark.parametrize("key", list(_TOKENIZER_BUILD_JOBS))
def test_tokenizer_build_job_counts(spark, sf_dir, key):
    """Jobs a warm dispatch launches before its action, counted by job-id
    difference."""
    QUERIES[key](spark, sf_dir).collect()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = int(dag.nextJobId())
    QUERIES[key](spark, sf_dir)
    assert int(dag.nextJobId()) - before <= _TOKENIZER_BUILD_JOBS[key]
