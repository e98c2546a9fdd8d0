"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": N, "unit": "sec",
"queries": {...}, "sf": ...}. Protocol (BASELINE.md "Benchmark environment":
per query 1 warm-up run, then median of 3): a warm-up pass at the smoke SF
warms the JVM, then each query is timed three times at the bench SF and the
median is recorded. Median-of-3 matters on this host: /proc/stat shows
~4% steady CPU-steal with multi-second bursts, so any single sample can be
inflated 2-10× by co-tenant load (the round-3 dedup_near_minhash "32.8s"
was exactly such a burst).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "agg_groupby",
    "tpch_q3",
    "tpch_q6",
    "join_multiway",
    "join_broadcast",
    "win_topk_group",
    "win_running",
    "sort_multi",
    "limit_topk",
    "set_except_all",
    "join_self",
    "join_asof",
    "dedup_subset",
    "agg_pivot",
]
# LLM-pipeline + function bundles join the headline set as they land.
OPTIONAL = [
    "dedup_exact",
    "dedup_near_minhash",
    "dedup_simhash",
    "sim_topk_bruteforce",
    "sim_topk_blocked",
    "sim_knn_classify",
    "embed_normalize",
    "text_tfidf",
    "text_tokenize",
    "text_fingerprint",
    "fn_string_regex",
    "udf_grouped_map",
    "stream_tumbling_batch",
    "pipeline_e2e",
    # round-5 families: curation, graph, sub-doc dedup, layout-aware joins
    "decontaminate_ngram",
    "graph_pagerank",
    "text_chunk_dedup",
    "tokenize_vocab",
    "join_bloom_prefilter",
    # round-6 additions: containment dedup, transition matrix, centroids
    "dedup_containment",
    "events_transitions",
    "sim_label_centroids",
    # late round-6: ML-data + analytics flagships
    "embed_pca",
    "agg_bitmap_distinct",
    "events_windowed_funnel",
    "join_snapshot_diff",
    "train_shuffle_epoch",
    # graph_pagerank_conv deliberately NOT benched: 26 driver-synced
    # iterations cost ~12 s of pure job-scheduling latency at 25-node
    # fixture scale (measured r7, SCALING.md "Iterative graph algorithms")
    # — the documented convergence-stop crossover, not plan quality; the
    # unrolled graph_pagerank row above times the shared plan shape.
    # round-8: substring dedup, PQ ANN, path analysis, bounded asof,
    # kNN-graph similarity
    "text_substring_dedup",
    "sim_ann_pq",
    "events_paths_topk",
    "join_asof_tolerance",
    "graph_knn_similarity",
    # round-9: sessionized motifs, BPE trainer, curation additions
    "events_session_motif",
    "vocab_bpe",
    "decontaminate_fuzzy",
    "mix_token_budget",
    "quality_linear",
    "text_ngram_novelty",
    "events_markov_surprisal",
    "join_interval_overlap",
    # round-10: PII scrub, trained NB classifier, warm-path staged-index
    # ANN serve, incremental substring dedup
    "text_pii_scrub",
    "quality_nb",
    "sim_ann_persist",
    "text_substring_dedup_incr",
    "dedup_minhash_incr",
    "quality_pr_curve",
    "corpus_manifest",
    # sim_ann_ivfpq (13.8 s) and pipeline_e2e_llm (51 s) deliberately NOT
    # benched: the former trains TWO quantizers + runs the in-key recall
    # check vs brute force (sim_ann_pq above times the shared PQ machinery;
    # the ivfpq QUERY path is strictly cheaper per scan), the latter runs
    # the entire 7-stage curation pipeline in one job — either would eat
    # half the bench wall budget for one row (the graph_pagerank_conv
    # precedent; measured medians recorded in SCALING.md "Round-9").
    # round-11: retrieval surface + DSIR selection + MMR diversity
    "text_bm25",
    "search_hybrid_rrf",
    "quality_dsir",
    "sim_mmr_diversify",
    "quality_gopher",
    "train_triplet_mine",
    "dedup_semdedup",
    "sim_ann_recall_curve",
    "ts_holt_linear",
    "sim_dim_truncation_curve",
    "events_cusum_changepoint",
    "multimodal_audio_stats",
    "events_forecast_backtest",
    "quality_ensemble",
    "decontaminate_semantic",
    "text_hashing_tf",
    "quality_langid_eval",
    "events_ab_srm",
    # round-12: capacity-respecting best-fit packing (0.4 s warm),
    # seasonal smoothing and the forecaster decision table (~2 s each).
    # NOT benched, with reasons: vocab_wordpiece / tokenize_wordpiece
    # (round 14: extra vocab-sized aggregate per round, otherwise
    # vocab_bpe's plan shape — measured A/B in SCALING.md) and
    # vocab_bpe_bytes / tokenize_bpe_bytes /
    # vocab_unigram_lm / tokenize_unigram_lm share vocab_bpe's plan shape
    # (one corpus scan + vocab-sized rounds — duplicate rows); the
    # composite evals tokenize_bakeoff / dedup_bakeoff /
    # search_eval_labels re-run their already-benched members (their
    # timings are the members' sums; measured numbers in SCALING.md).
    "pack_bestfit",
    "ts_holt_winters",
    "events_forecast_model_select",
    # round-13: batched-merge BPE — benched alongside vocab_bpe above so
    # the committed JSON shows the A/B (12 merges in 3 driver syncs vs 8
    # merges in 8; fewer rounds each doing a slightly wider top-K) —
    # plus the CCNet-style perplexity gate and the Heaps vocabulary
    # curve (~0.7 s each warm). tokenize_bpe_batched shares tokenize_bpe's
    # plan shape (excluded as a duplicate row); search_eval_graded is a
    # composite of already-benched members (the search_eval_labels
    # precedent).
    "vocab_bpe_batched",
    "quality_lm_ppl",
    "text_heaps_curve",
    "pack_concat_chunks",
    # round-14: the REGISTERED per-md5-shard packer (r13 VERDICT #2) —
    # benched next to the global pack_concat_chunks so the JSON shows the
    # sharded-vs-global A/B directly. pack_sequences_sharded is excluded
    # as a duplicate row: identical scan + shard window, aggregate-only
    # tail (same reason vocab_bpe_bytes is excluded above).
    "pack_concat_chunks_sharded",
    # round-14: the Gopher n-gram repetition battery — map-only like
    # quality_gopher, benched for the same reason (a zero-shuffle gate's
    # wall IS its scan throughput).
    "quality_repetition",
    # The heavyweight plans excluded from the median-of-3 headline —
    # pipeline_e2e_llm_v3/v4, sim_ann_ivfpq, dedup_image_phash,
    # sim_ann_index_compact, stream_dedup_incr — are all in TIER2 below
    # (one timed rep each, own budget) since r13, so every key's timing
    # lives in the committed JSON, not only in SCALING.md prose.
]

# Tier 2 (r11 VERDICT #2): the heavyweight plans whose cost would eat the
# median-of-3 headline budget get ONE timed rep each under their own wall
# budget, recorded in the same JSON line under "tier2" — so the official
# BENCH gate can see a regression in exactly the most expensive plans
# instead of their numbers living only in SCALING.md. Cheapest first, so a
# budget cut drops the most expensive key, not all three. Emitted LAST in
# the JSON so the driver's 2000-char stdout tail always retains it.
# Since the r12 staged-prefix change, the first capstone rep PAYS the
# one-time prefix build (~25 s at sf0.1, amortized across v3+v4+v2 and
# every later run this round); the serve path itself is ~5-10 s.
TIER2 = [
    "pipeline_e2e_llm_v3",   # 7-stage curation funnel, model gate (~5 s warm)
    "pipeline_e2e_llm_v4",   # v3 + NB/rules/DSIR committee gate (~6 s)
    # r14: graph ANN — first rep pays the one-time kNN-graph build
    # (tiled gemm + staging, ~15 s at sf0.1); warm serve is ~5 s of
    # fixed-round beam stages + the brute-force recall check
    "sim_ann_graph",
    "sim_ann_ivfpq",         # ~9-18 s: trains two quantizers + recall check
    # r12 VERDICT #7: the last three keys whose timings lived only in
    # SCALING.md prose now get a committed number (or are named in
    # skipped_over_budget when the budget hedge cuts them — either way
    # the JSON accounts for them).
    "dedup_image_phash",     # ~17 s, dominated by Python fixture synthesis
    "sim_ann_index_compact",  # ~19 s fresh: serve + content-diff + staleness
    "stream_dedup_incr",     # ~19 s: streaming harness + per-batch store
]


def _calib(spark) -> dict:
    """Contention-calibration probe (r12 VERDICT #2): time two pinned
    reference ops whose cost is constant by construction, so any drift in
    THEIR wall time measures the host, not the engine. Steal ticks alone
    proved necessary-but-not-sufficient — the r12 noise adjudication saw
    bimodal 2-4× memory-bandwidth variance with steal < 100 ticks
    (HISTORY round-12) — so the probe exercises exactly the two resources
    the queries contend on:

    - ``gemm_sec``: MIN-of-5 2048² float64 numpy matmul (~17 GFLOP,
      BLAS-threaded) — CPU throughput + memory bandwidth, no JVM.
    - ``spark_sec``: MIN-of-3 ``spark.range(10**8)`` codegen sum — the
      JVM whole-stage-codegen path with no shuffle and no input I/O.

    MIN, not median (r13 ADVICE doc fix — BASELINE.md's quiet-window
    thresholds are calibrated against the min): the probe measures host
    CAPABILITY, see the inline comment below.

    Snapshotted before and after the timed block; BASELINE.md documents
    the quiet-window thresholds. A sample whose before/after probes both
    sit inside the quiet window is adjudicable without a same-session A/B.
    """
    import numpy as np

    m = np.random.default_rng(0).random((2048, 2048))
    reps = []
    for _ in range(5):
        t0 = time.time()
        m @ m
        reps.append(time.time() - t0)
    # MIN, not median: the probe measures host CAPABILITY — a single rep
    # at full speed proves the window quiet, while sustained contention
    # inflates even the floor. Median-of-few was 1.8× spread on a quiet
    # host (BLAS thread scheduling); the min is stable.
    gemm = min(reps)
    reps = []
    for _ in range(3):
        t0 = time.time()
        spark.range(10**8).selectExpr("sum(id * 2 + 1)").collect()
        reps.append(time.time() - t0)
    return {
        "gemm_sec": round(gemm, 3),
        "spark_sec": round(min(reps), 3),
    }


def _steal_ticks() -> int | None:
    """Cumulative CPU-steal ticks from /proc/stat (col 8 of the 'cpu' line).

    Snapshotted around each query's timed reps so a future reader can
    distinguish a real regression from co-tenant contention WITHOUT
    re-running: this host shows ~4% steady steal with multi-second bursts
    that inflate any single wall sample 2-10× (r5 VERDICT "Next round" #6).
    """
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) if parts[0] == "cpu" and len(parts) > 8 else None
    except (OSError, ValueError, IndexError):
        return None


def main() -> None:
    wall0 = time.time()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as em
    from data_transform_spark.session import get_spark

    spark = get_spark("bench")
    qs = em.queries()
    names = [n for n in HEADLINE + OPTIONAL if n in qs]

    # JVM + whole-stage-codegen warm-up: run every query once at the smoke SF
    # so sf0.1 timings measure execution, not one-time Janino compilation.
    # The generated-class cache is keyed on source text, which is mostly
    # the same at both SFs, but it only helps while the classes are still
    # cached: at Spark's default 100 entries the smoke pass (~1600 classes
    # over the 77 keys its budget reached) had evicted them, and 14 sampled
    # keys compiled 601 classes on their first sf0.1 rep. With the
    # 1000-entry cap get_spark sets, the pass compiles ~1100 classes over
    # all 88 keys and 14 sampled first reps compiled 83 (the earliest keys'
    # classes and plans that change with the SF, e.g. the join strategy,
    # still compile; 4-core VM).
    # Budgeted since r13 — this was the only unbounded phase, and a
    # contended run stretched the whole process to 565 s wall (r13
    # measurement); keys that miss the smoke pass still get their per-key
    # warm-up reps below, so only JIT quality degrades, never correctness.
    smoke_deadline = time.time() + int(
        os.environ.get("BENCH_SMOKE_BUDGET_SEC", "80")
    )
    for n in names:
        if time.time() > smoke_deadline:
            break
        qs[n](spark, "/root/testdata/sf0.001").count()

    # Wall budgets, clocked AFTER the smoke pass so a slow smoke phase
    # cannot eat them: past warm_deadline, queries get one warm-up rep
    # instead of converging; past hard_deadline, remaining queries drop to
    # a single timed rep. Host contention windows make every rep slow, and
    # overshooting the driver's overall bench timeout would record NO
    # benchmark at all — strictly worse than a noisier sample.
    now = time.time()
    warm_deadline = now + int(os.environ.get("BENCH_WARM_BUDGET_SEC", "180"))
    hard_deadline = now + int(os.environ.get("BENCH_TOTAL_BUDGET_SEC", "360"))

    calib_before = _calib(spark)

    timings: dict[str, float] = {}
    steal_ticks: dict[str, int] = {}
    for n in names:
        # Per-query warm-up AT the bench SF (BASELINE.md protocol: "1
        # warm-up run, then median of 3"): the smoke-SF pass above is too
        # small to drive HotSpot to steady state on the heavy interpreted /
        # generated paths, and the first sf0.1 executions can land in a C2
        # recompilation storm that inflates wall time 3-15x (the round-3
        # dedup_near_minhash regression). Warm until two consecutive reps
        # agree within 30% (max 4) so the timed medians measure the engine,
        # not JIT transients — storms last ~1-2 min and the extra warm reps
        # naturally ride them out.
        prev = None
        for _ in range(4):
            # Past the HARD deadline, skip warm-up entirely (before the first
            # rep, not just between reps) — overshooting the driver's bench
            # timeout records NO benchmark at all.
            if time.time() > hard_deadline:
                break
            t0 = time.time()
            qs[n](spark, sf_dir).count()
            w = time.time() - t0
            if prev is not None and abs(w - prev) <= 0.3 * prev:
                break
            if time.time() > warm_deadline:
                break
            prev = w
        steal0 = _steal_ticks()
        reps = []
        for _ in range(3):
            t0 = time.time()
            qs[n](spark, sf_dir).count()
            reps.append(time.time() - t0)
            if time.time() > hard_deadline:
                break
        timings[n] = round(statistics.median(reps), 3)
        steal1 = _steal_ticks()
        if steal0 is not None and steal1 is not None:
            steal_ticks[n] = steal1 - steal0

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    out: dict = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else sf_dir,
        "cpus": spark.sparkContext.defaultParallelism,
    }
    if steal_ticks:
        # ticks are USER_HZ (100/s) summed over all CPUs; 32 cores → 3200
        # ticks/s of capacity. A query whose timed window accrued steal
        # comparable to its wall×cores was contended, not regressed.
        out["steal_ticks"] = steal_ticks
        out["steal_unit"] = "USER_HZ ticks across all cpus during the 3 timed reps"
    out["calib"] = {"before": calib_before, "after": _calib(spark)}

    # Checkpoint the headline record to disk BEFORE entering tier 2 (r12
    # ADVICE): the tier-2 reps are one-shot heavyweights — if one hangs
    # past the driver's bench timeout or crashes, the headline sample
    # must not be forfeited with it. The final record below overwrites
    # this checkpoint with the tier-2 fields added.
    _write_record(dict(out, wall_sec=round(time.time() - wall0, 1)))

    # Tier 2: one timed rep per heavyweight key, own wall budget. A single
    # rep is noisier than the median-of-3 (see steal ticks alongside), but
    # a 2x regression in a ~40-70 s plan still shows unambiguously. Each
    # rep is individually guarded (r12 ADVICE): a crashing key degrades to
    # an error entry instead of losing the whole benchmark record.
    # 150→120 in r13 (with main 390→360 and the smoke cap): the tier-2
    # roster tripled and the calibration probes cost ~10 s, so the budgets
    # are re-cut to keep worst-case process wall inside a driver timeout —
    # quiet runs use ~60 s of this budget for all six keys.
    t2_deadline = time.time() + int(
        os.environ.get("BENCH_TIER2_BUDGET_SEC", "120")
    )
    t2_timings: dict[str, float] = {}
    t2_steal: dict[str, int] = {}
    t2_skipped: list[str] = []
    t2_errors: dict[str, str] = {}
    for n in TIER2:
        if n not in qs or time.time() > t2_deadline:
            t2_skipped.append(n)
            continue
        s0 = _steal_ticks()
        t0 = time.time()
        try:
            qs[n](spark, sf_dir).count()
        except Exception as exc:  # noqa: BLE001 — degrade, don't forfeit
            t2_errors[n] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        t2_timings[n] = round(time.time() - t0, 3)
        s1 = _steal_ticks()
        if s0 is not None and s1 is not None:
            t2_steal[n] = s1 - s0
    out["tier2"] = {
        "reps": 1,
        "queries": t2_timings,
        "total": round(sum(t2_timings.values()), 3),
    }
    if t2_steal:
        out["tier2"]["steal_ticks"] = t2_steal
    if t2_skipped:
        out["tier2"]["skipped_over_budget"] = t2_skipped
    if t2_errors:
        out["tier2"]["errors"] = t2_errors
    # total process wall incl. session build + warm-ups — what a driver
    # timeout would actually measure, vs `value` which is timed reps only
    out["wall_sec"] = round(time.time() - wall0, 1)

    _write_record(out)
    # STDOUT gets a COMPACT line (r14 VERDICT #1): the driver keeps only a
    # bounded stdout tail, and r13's full record (steal map + calib + wall)
    # overflowed it mid-line, so the round-over-round comparison got NO
    # per-query numbers. The compact line carries the contract fields
    # (metric/value/unit/queries/sf), the core count, the tier-2 seconds
    # and, so the stdout tail keeps the run's contention evidence (r15
    # VERDICT #2), steal_total (steal ticks over the headline's timed reps)
    # and calib_max_gemm (the slower gemm probe) — ~3 KB vs ~7 KB — while
    # the full record (per-query steal ticks, calibration probes, process
    # wall) lives in bench_last_<cpus>.json, written above.
    calib = out["calib"]
    compact: dict = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": out["queries"],
        "sf": out["sf"],
        "cpus": out["cpus"],
        "steal_total": sum(steal_ticks.values()) if steal_ticks else None,
        "calib_max_gemm": max(calib["before"]["gemm_sec"],
                              calib["after"]["gemm_sec"]),
        "tier2": {
            k: v
            for k, v in out["tier2"].items()
            if k in ("reps", "queries", "total", "skipped_over_budget", "errors")
        },
    }
    print(json.dumps(compact))


def _write_record(out: dict) -> None:
    """Persist the full per-query record to bench_last_<cpus>.json: the
    recorded BENCH_r*.json keeps only a 2000-char stdout tail, which silently
    truncates the head of the query table (r11 VERDICT #3). One file per
    core count, so an 8-core run does not overwrite a 32-core one."""
    name = f"bench_last_{out['cpus']}.json"
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), name),
            "w",
        ) as fh:
            fh.write(json.dumps(out) + "\n")
    except OSError as exc:
        print(f"bench.py: could not write {name}: {exc}", file=sys.stderr)


if __name__ == "__main__":
    main()
