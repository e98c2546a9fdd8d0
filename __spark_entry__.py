"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``data_transform_spark`` (SURVEY.md §2 keys);
this module only adapts the registry to the driver's entry points.
The generated operator inventory is COVERAGE.md; the 100 TB design
contract per operator family is SCALING.md.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

import data_transform_spark.functions  # noqa: E402,F401 — populates registry
import data_transform_spark.operators  # noqa: E402,F401 — populates registry
import data_transform_spark.pipeline  # noqa: E402,F401 — populates registry
import data_transform_spark.streaming  # noqa: E402,F401 — populates registry
from data_transform_spark.plans.flagship import flagship  # noqa: E402
from data_transform_spark.registry import ORACLES, QUERIES  # noqa: E402
from data_transform_spark.session import configure_session  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    configure_session(spark)
    return flagship(spark, "/root/testdata/sf0.001")


def _wrap(fn: Callable) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        configure_session(spark)
        return fn(spark, sf_dir)

    return run


# Keys with a green (rows+schema+hash) row in ANY committed CORRECTNESS
# round. The driver's sweep stops after the first 50 keys in queries()
# order, so keys WITHOUT an official row yet are listed first and the
# already-verified ones come last — a capped sweep then spends its budget
# where it adds coverage (round-3 VERDICT "Next round" #1).
#
# The set is read from the CORRECTNESS_r*.json files the driver commits
# into the repo root, so it maintains itself round over round (round 3
# wasted its entire sweep budget on a hand-maintained set that had gone
# stale). _GREEN_FALLBACK pins the r1-r3 union in case the files are
# missing in some future checkout.


def _official_green() -> set[str]:
    return set(_official_green_rounds())


def _official_green_rounds() -> dict[str, int]:
    import glob
    import json

    # Latest round wins per key: a key whose most recent official row went
    # RED must fall back into the unverified block so the next capped sweep
    # re-checks it, even if an older round had it green. Order by the
    # NUMERIC round (lexicographic puts r10 before r4 and would let an old
    # round overwrite a newer verdict).
    import re

    def _round_no(path: str) -> int:
        m = re.search(r"_r(\d+)", os.path.basename(path))
        return int(m.group(1)) if m else -1

    latest: dict[str, tuple[int, bool]] = {}
    for path in sorted(
        glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")), key=_round_no
    ):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for key, row in rows.items():
            if isinstance(row, dict):
                latest[key] = (
                    _round_no(path),
                    bool(
                        row.get("rows_match")
                        and row.get("schema_match")
                        and row.get("hash_match")
                    ),
                )
    # A green verdict only counts if it post-dates the last output-changing
    # rewrite of that key — otherwise the row describes code that no longer
    # exists and the key must re-enter the sweep.
    # Fall back to the pinned r1-r3 union ONLY when no correctness rows were
    # read at all (missing/corrupt files in some future checkout). If rows
    # exist but every one is red, the honest answer is the empty set — the
    # capped sweep must then re-check everything, not skip ~90 red keys as
    # "verified" (round-4 ADVICE).
    if not latest:
        return {key: 0 for key in _GREEN_FALLBACK}
    return {
        key: rnd
        for key, (rnd, ok) in latest.items()
        if ok and rnd >= _CHANGED_IN_ROUND.get(key, -1)
    }


# Keys whose RESULT SET changed in a given round after they already had a
# green official row. Their stale verdict is ignored until the driver
# re-verifies them in that round or later (at which point the entry here is
# inert and can be dropped).
_CHANGED_IN_ROUND = {
    "sample_hash": 4,  # round 4: 16->32-bit md5 bucket prefix resamples
    # round 10: stub image decode upgraded to a REAL pure-numpy BMP codec
    # (r9 VERDICT #4) — dims/stats now come from decoded pixels
    "multimodal_features": 10,
    "multimodal_resize": 10,
    # round 11: digest composes hierarchically (256 content buckets ->
    # bucket digests -> published md5) per r10 ADVICE — corpus_md5 values
    # change; counts unchanged
    "corpus_manifest": 11,
    # round 11: domain switched source -> lang (source is perfectly
    # uniform in the fixture, so every rate was 1.0 and the op was a
    # no-op on its own fixture); output column source -> lang
    "sample_temperature": 11,
    # round 14: MRR@10 + MAP@10 columns added (r13 VERDICT #7) — the key
    # had no official green row yet (registered r13), so this entry is
    # documentation; it stays at the tier-0 sweep head either way
    "search_eval_graded": 14,
    # round 14: the bakeoff gains the 'wordpiece' row (the trainer trio
    # became a quartet) — 6 families now, same metric columns
    "tokenize_bakeoff": 14,
}


_GREEN_FALLBACK = {
    "agg_approx_distinct", "agg_bool", "agg_collect", "agg_count_distinct",
    "agg_countif", "agg_cube", "agg_global", "agg_groupby",
    "agg_grouping_sets", "agg_having", "agg_minmax_by", "agg_percentile",
    "agg_pivot", "agg_rollup", "agg_sketch_merge", "agg_stats",
    "agg_string", "agg_sum_distinct", "dedup_subset", "dq_checks",
    "fn_array", "fn_array_lambda", "fn_array_setops", "fn_bitwise_scalar",
    "fn_date_arith", "fn_date_epoch", "fn_date_extract", "fn_explode",
    "fn_hash", "fn_json", "fn_json_build", "fn_map", "fn_math",
    "fn_sequence", "fn_string_basic", "fn_string_fuzzy", "fn_string_regex",
    "fn_struct", "fn_trig", "join_anti", "join_asof", "join_broadcast",
    "join_cross", "join_full", "join_inner", "join_interval", "join_left",
    "join_multiway", "join_right", "join_self", "join_semi",
    "join_skew_salted", "join_theta", "limit_offset", "limit_topk",
    "sample_hash", "scan_events_ns", "scan_jsonl", "scan_parquet",
    "scan_pruned", "set_except", "set_except_all", "set_intersect",
    "set_intersect_all", "set_union", "set_union_all", "shard_assign",
    "sink_csv_json", "sink_parquet", "sink_partitioned", "sort_multi",
    "sort_nulls", "source_stream_file", "tpch_q3", "tpch_q6",
    "transform_scd2", "transform_upsert", "udf_grouped_map",
    "udf_map_in_pandas", "udf_pandas_agg", "udf_pandas_scalar",
    "udf_scalar", "udf_sql_registered", "udtf_tokenize", "win_first_last",
    "win_lag_lead", "win_moving", "win_range_frame", "win_rank",
    "win_row_number", "win_running", "win_topk_group",
}

# Round-4 sweep targets: the 50 keys the capped sweep must reach, in order.
# All of SURVEY §2.B (13 projections), §2.K core (11 LLM-pipeline), §2.I
# core (8 streaming) — never officially swept — plus 18 pipeline-extension
# keys to fill the 50 slots exactly. Within each block, cheap keys lead and
# the expensive verifies (minhash 3-18 s, embed_cosine 12-20 s at sf0.01)
# trail, so even a TIME-capped sweep (the observed cap is 50 keys) verifies
# the maximum number of keys before cutting off.
_SWEEP_PRIORITY = [
    # §2.B projections / filters / predicates (all sub-second)
    "project_select", "project_compute", "filter_compare", "filter_in",
    "filter_between", "filter_like", "filter_rlike", "filter_null",
    "filter_bool", "expr_case", "expr_coalesce", "expr_cast",
    "project_distinct",
    # §2.K LLM-pipeline core, cheapest first
    "embed_normalize", "text_stats", "text_lang_filter", "text_tokenize",
    "multimodal_binary", "text_tfidf", "sim_topk_bruteforce",
    "sim_knn_classify", "sim_pairs_threshold", "dedup_exact",
    "dedup_near_minhash",
    # §2.I streaming core
    "stream_tumbling", "stream_sliding", "stream_session",
    "stream_dedup", "stream_stateful", "stream_static_join",
    "stream_sink", "stream_watermark",
    # pipeline extensions, cheapest first
    "text_token_count", "text_quality", "text_fingerprint",
    "text_pii_redact", "sample_stratified", "split_train_test",
    "pack_sequences", "text_ngram_counts", "embed_quantize",
    "multimodal_features", "sim_topk_blocked", "sim_ann_ivf",
    "sim_ann_lsh", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_near_survivors", "dedup_survivors_star", "dedup_embed_cosine",
]
_SWEEP_RANK = {k: i for i, k in enumerate(_SWEEP_PRIORITY)}

# Family order for unverified keys beyond the explicit priority block —
# round 5's queue (round-3 VERDICT "Next round" #7).
_FAMILY_ORDER = [
    "pipeline.e2e",
    "streaming.ops",         # stream_update_counts / stream_join extras
    "operators.sqlsurface",
    "operators.tpch_more",
    "operators.timeseries",
    "operators.extras",
    "operators.reshape",
    "functions.strings",     # fn_url
    "operators.projections",
    "pipeline.text",
    "pipeline.training",
    "pipeline.multimodal",
    "pipeline.dedup",
    "pipeline.similarity",
    "operators.etl",
]


_GREEN_ROUNDS = _official_green_rounds()
_GREEN_OFFICIAL = set(_GREEN_ROUNDS)


def _key_rounds() -> dict[str, int]:
    """Registry key -> round it was first registered (tools/key_rounds.json,
    generated by tools/gen_key_rounds.py from the driver's round-boundary
    commits). Unverified keys sort oldest-round-first so a capped sweep
    drains the oldest backlog instead of starving it behind newly-registered
    keys (round-6 VERDICT "Next round" #1). Missing file or missing key ->
    a large round, i.e. brand-new keys queue BEHIND the backlog."""
    import json

    try:
        with open(os.path.join(_REPO_ROOT, "tools", "key_rounds.json")) as fh:
            data = json.load(fh)
        return {k: int(v) for k, v in data.items()}
    except (OSError, ValueError, TypeError, AttributeError) as exc:
        # AttributeError/TypeError: malformed JSON shape (array, null
        # values) — degrade to round-unknown ordering, never fail import;
        # but SAY SO, or a broken file silently reverts the backlog-drain
        # sweep ordering and only the test suite would notice (r7 ADVICE)
        print(
            "WARNING: tools/key_rounds.json unreadable "
            f"({type(exc).__name__}: {exc}); sweep falls back to "
            "round-unknown ordering — regenerate with "
            "`python tools/gen_key_rounds.py`",
            file=sys.stderr,
        )
        return {}


_KEY_ROUNDS = _key_rounds()
_ROUND_UNKNOWN = 10**6


def _latest_official_round() -> int:
    """Newest round with a committed CORRECTNESS file (0 if none) — the
    round currently in flight is this + 1."""
    import glob
    import re

    rounds = [
        int(m.group(1))
        for path in glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json"))
        if (m := re.search(r"_r(\d+)", os.path.basename(path)))
    ]
    return max(rounds, default=0)


_LATEST_OFFICIAL_ROUND = _latest_official_round()


def _sweep_tier(name: str) -> int:
    """0 = unverified backlog (leads the sweep), 1 = officially green
    (stalest-certification-first rotation), 2 = registered in the CURRENT
    in-flight round (queues behind the green block).

    Tier 2 is the certification-freshness freeze (r11 VERDICT #1): with
    371 green keys and a 50-key sweep cap, a brand-new key that jumped
    the queue would evict a stale r1/r3-era row from re-certification.
    New keys are locally 3-SF oracle-verified before registration, so
    deferring their OFFICIAL row one round is the cheaper staleness.
    Self-releasing: the moment the driver commits this round's
    CORRECTNESS file, _LATEST_OFFICIAL_ROUND advances and these keys
    drop into tier 0, leading the next sweep."""
    if name in _GREEN_OFFICIAL:
        return 1
    rnd = _KEY_ROUNDS.get(name, _ROUND_UNKNOWN)
    return 2 if rnd > _LATEST_OFFICIAL_ROUND else 0


def _sweep_rank(name: str) -> tuple:
    fn = QUERIES[name]
    mod = fn.__module__.removeprefix("data_transform_spark.")
    fam = _FAMILY_ORDER.index(mod) if mod in _FAMILY_ORDER else len(_FAMILY_ORDER)
    ins = list(QUERIES).index(name)
    pri = _SWEEP_RANK.get(name, len(_SWEEP_PRIORITY))
    rnd = _KEY_ROUNDS.get(name, _ROUND_UNKNOWN)
    # Age-based re-verify tier (r10 VERDICT #5): unverified backlog keys
    # still lead (oldest registration round first — unchanged), but WITHIN
    # the green block keys sort by how long ago the driver last certified
    # them, so once new-key pressure eases, each capped sweep's spare slots
    # rotate through the stalest green rows instead of a fixed
    # registration-order tail. Keys registered in the in-flight round sort
    # LAST (tier 2 — see _sweep_tier).
    green_rnd = _GREEN_ROUNDS.get(name, 0) if name in _GREEN_OFFICIAL else 0
    return (_sweep_tier(name), green_rnd, rnd, pri, fam, ins)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered so a
    capped driver sweep reaches officially-unverified keys first."""
    ordered = sorted(QUERIES, key=_sweep_rank)
    return {name: _wrap(QUERIES[name]) for name in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each hash-checkable key."""
    ordered = sorted(QUERIES, key=_sweep_rank)
    return {name: ORACLES[name] for name in ordered if name in ORACLES}
