"""The benchmark's workloads: the registered keys one pass runs.

A pass runs every key of its workload once, one at a time, in an order
shuffled by the workload seed. Why each workload exists is recorded in
``BENCHMARK.json``; NOTES.md lists the keys left out and the timings behind
the cut (a whole run must fit about a minute on a 4-core host).
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    # operators.*: joins, aggregates, windows, sorts. Few build-time jobs,
    # no staged stores, no Python workers.
    "relational": [
        "agg_groupby", "agg_pivot", "tpch_q3", "join_asof", "win_topk_group",
        "sort_multi", "set_except_all",
    ],
    # pipeline.*: PQ similarity with eager share fills on the fill pool, a
    # grouped-map pandas UDF, substring dedup against a staged store that
    # set-up builds cold, and a parquet sink.
    "llm_staged": [
        "sim_ann_pq", "udf_grouped_map", "text_substring_dedup_incr",
        "sink_parquet",
    ],
}

# Untimed passes that set-up runs after the oracle pass. The JIT settles by
# passes, not by seconds: on a 4-core host relational's CPU per pass still
# fell 24 -> 19 -> 16 s over the first three passes after the oracle pass,
# and that fall made cpu_s spread by 0.13 over five seeds. llm_staged's
# fall is in its first pass only, which the per-key medians set aside.
WARM_PASSES: dict[str, int] = {"relational": 2, "llm_staged": 0}
