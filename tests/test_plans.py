"""Plan-shape guards (SURVEY.md §5.2.6) — cheap asserts that the physical
plans keep the properties that matter at 100 TB: pushdown reaches the scan,
small dimensions broadcast, aggregates are partial+final, top-k never does a
global sort. A regression here is a silent 10-100x at scale even when every
value still hash-matches."""

import contextlib
import io

import __spark_entry__  # noqa: F401
from data_transform_spark.registry import QUERIES


def plan_of(spark, key, sf_dir):
    df = QUERIES[key](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_and_projection_pushed_to_scan(spark, sf_dir):
    p = plan_of(spark, "scan_pruned", sf_dir)
    assert "GreaterThan(l_quantity,45.0)" in p, "filter not pushed to parquet"
    # pruned read schema: only the 3 projected columns + the filter column
    read_schema = [line for line in p.splitlines() if "ReadSchema" in line][0]
    assert "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema, "column pruning failed"


def test_dimension_joins_broadcast(spark, sf_dir):
    p = plan_of(spark, "join_broadcast", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, "dim join fell back to SMJ"


def test_multiway_star_broadcasts_dims(spark, sf_dir):
    p = plan_of(spark, "join_multiway", sf_dir)
    assert p.count("BroadcastHashJoin") >= 3, "star dims should broadcast"


def test_topk_avoids_global_sort(spark, sf_dir):
    p = plan_of(spark, "limit_topk", sf_dir)
    assert "TakeOrderedAndProject" in p, "ORDER BY+LIMIT should be per-partition top-k"


def test_groupby_is_partial_plus_final(spark, sf_dir):
    p = plan_of(spark, "agg_groupby", sf_dir)
    assert p.count("HashAggregate") >= 2, "missing map-side partial aggregate"


def test_asof_join_single_shuffle(spark, sf_dir):
    import re

    p = plan_of(spark, "join_asof", sf_dir)
    # union + window implementation must shuffle exactly once (on user_id);
    # count operator-detail entries, the tree section repeats each node
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n_exchanges == 1, f"as-of join should shuffle once:\n{p}"


def test_partition_pruning_on_partitioned_sink(spark, sf_dir):
    """The hive-layout sink must enable partition pruning on read-back."""
    from data_transform_spark.io import SCRATCH

    QUERIES["sink_partitioned"](spark, sf_dir).count()  # materialize layout
    df = spark.read.parquet(f"{SCRATCH}/sink_partitioned").filter("l_returnflag = 'A'")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p
    pf_line = [line for line in p.splitlines() if "PartitionFilters" in line][0]
    assert "l_returnflag" in pf_line, f"partition filter not pruned: {pf_line}"


def test_salted_join_equals_plain_join(spark, sf_dir):
    from data_transform_spark.io import load_table
    from data_transform_spark.operators.joins import salted_join

    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    plain = ev.join(c, ev.user_id == c.c_custkey).select("event_id", "c_name")
    salted = salted_join(ev, c, "user_id", "c_custkey").select("event_id", "c_name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_bucketed_join_skips_shuffle(spark, sf_dir):
    """Co-located (bucketed) tables must join with ZERO exchanges — the
    repeated-workload join strategy at 100 TB (SCALING.md §B-D)."""
    import re

    from data_transform_spark.io import load_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")
        load_table(spark, sf_dir, "orders").write.bucketBy(8, "o_custkey").sortBy(
            "o_custkey"
        ).mode("overwrite").saveAsTable("b_orders")
        load_table(spark, sf_dir, "customer").write.bucketBy(8, "c_custkey").sortBy(
            "c_custkey"
        ).mode("overwrite").saveAsTable("b_customer")
        joined = spark.table("b_orders").join(
            spark.table("b_customer"),
            spark.table("b_orders").o_custkey == spark.table("b_customer").c_custkey,
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        p = buf.getvalue()
        n_exchanges = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
        assert n_exchanges == 0, f"bucketed join still shuffles:\n{p}"
        # and it actually runs correct
        assert joined.count() == load_table(spark, sf_dir, "orders").count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_events_scan_uses_ns_recipe(spark, sf_dir):
    df = QUERIES["scan_events_ns"](spark, sf_dir)
    assert dict(df.dtypes)["ts"].startswith("timestamp"), df.dtypes


def test_pairs_threshold_has_no_corpus_cartesian(spark, sf_dir):
    """The exact threshold join must be the tiled-GEMM shape: no Catalyst
    nested-loop / cartesian over corpus rows (the only join keys are tile
    ids and the tiny candidate re-score equi-joins)."""
    p = plan_of(spark, "sim_pairs_threshold", sf_dir)
    assert "CartesianProduct" not in p, f"row-level cartesian in plan:\n{p}"
    # the tile-pair replication joins broadcast the 36-row tile list; the
    # only BroadcastNestedLoopJoin tolerated is none at all
    assert "BroadcastNestedLoopJoin" not in p, f"nested loop in plan:\n{p}"


def test_ngram_jaccard_uses_prefix_index(spark, sf_dir):
    """Lossless prefix filtering must shrink the inverted index: the
    candidate-generating self-join reads the prefix (rarest ~5% of tokens
    per doc), never the full token index."""
    from pyspark.sql import functions as F

    from data_transform_spark.io import load_table

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("t")
    )
    full = tok.count()
    # replicate the prefix construction from dedup_ngram_jaccard
    from pyspark.sql import Window

    df_counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("doc_id").orderBy("df", "t")
    prefix = (
        tok.join(df_counts, "t")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "doc_id")
        .filter(F.col("rn") <= F.col("n") - F.ceil(F.lit(0.95) * F.col("n")) + 1)
    )
    assert prefix.count() < 0.2 * full, "prefix index is not materially smaller"


def test_projection_filters_push_to_scan(spark, sf_dir):
    """Every §2.B comparison predicate must reach the parquet reader —
    at 100 TB an unpushed filter reads the whole table."""
    p = plan_of(spark, "filter_compare", sf_dir)
    pushed = [line for line in p.splitlines() if "PushedFilters" in line][0]
    for token in (
        "GreaterThan(l_quantity,30.0)",
        "LessThan(l_extendedprice,50000.0)",
        "GreaterThanOrEqual(l_discount,0.02)",
    ):
        assert token in pushed, f"{token} not pushed:\n{pushed}"


def test_minhash_pipeline_is_jvm_equi_join_shape(spark, sf_dir):
    """MinHash LSH must stay linear and JVM-side: band buckets join on
    equality (no cartesian / nested loop over documents) and no stage
    drops into per-row Python."""
    p = plan_of(spark, "dedup_near_minhash", sf_dir)
    for bad in (
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "BatchEvalPython",
        "ArrowEvalPython",
        "FlatMapGroupsInPandas",
    ):
        assert bad not in p, f"{bad} in minhash plan:\n{p}"


def test_claimed_jvm_side_text_ops_have_no_python_nodes(spark, sf_dir):
    """Keys documented as pure-JVM (no UDF in the hot path) must not plan
    any Python evaluation operator."""
    for key in (
        "embed_normalize",
        "text_fingerprint",
        "text_tokenize",
        "text_stats",
        "text_pii_redact",
    ):
        p = plan_of(spark, key, sf_dir)
        for bad in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                    "MapInPandas"):
            assert bad not in p, f"{bad} in {key} plan"


def test_plan_build_runs_no_jobs(spark, sf_dir):
    """Keys audited for eager driver-side actions (round-4 VERDICT #2-3)
    must build their plan WITHOUT running any Spark job: the n_docs /
    orphan-count scalars ride in-plan as broadcast 1-row aggregates. At
    100 TB an eager .count() at plan-build time is an extra full pass.
    Each fixture table is loaded once first, so its footer schema is
    cached and a build runs no schema-inference job either."""
    from data_transform_spark import api
    from data_transform_spark.io import load_table, load_tables

    load_tables(spark, sf_dir)
    builders = {
        "pipeline_e2e": lambda: QUERIES["pipeline_e2e"](spark, sf_dir),
        "dq_checks": lambda: QUERIES["dq_checks"](spark, sf_dir),
        "text_tfidf": lambda: QUERIES["text_tfidf"](spark, sf_dir),
        "pipeline_funnel": lambda: QUERIES["pipeline_funnel"](spark, sf_dir),
        # public api surface (r5 VERDICT #2): same no-eager-job contract
        "api.tfidf": lambda: api.tfidf(load_table(spark, sf_dir, "documents")),
    }
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for key, build in builders.items():
        before = int(dag.nextJobId())
        build()  # build only — no action
        ran = int(dag.nextJobId()) - before
        assert ran == 0, f"{key} ran {ran} Spark job(s) at plan-build time"


def test_decontaminate_broadcasts_bench_grams(spark, sf_dir):
    """The benchmark gram set must broadcast onto the corpus gram stream —
    a shuffle join here would re-shuffle the full exploded corpus at 100 TB."""
    p = plan_of(spark, "decontaminate_ngram", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, f"bench-gram join fell back to SMJ:\n{p}"


def test_rag_chunk_is_shuffle_free(spark, sf_dir):
    """Chunking is a pure per-row explode — any Exchange is a regression."""
    import re

    p = plan_of(spark, "rag_chunk", sf_dir)
    n = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n == 0, f"rag_chunk should not shuffle, saw {n}:\n{p}"


def test_new_tpch_star_dims_broadcast(spark, sf_dir):
    """q7/q8/q9 star dims (nation/supplier/part/region) must broadcast."""
    for key, at_least in (("tpch_q7", 3), ("tpch_q8", 4), ("tpch_q9", 3)):
        p = plan_of(spark, key, sf_dir)
        assert p.count("BroadcastHashJoin") >= at_least, f"{key} dims not broadcast"


def test_range_join_is_bucketized_not_nested_loop(spark, sf_dir):
    """The pure range join must run as bucket-equality + residual filter —
    a BroadcastNestedLoopJoin here is the quadratic shape it exists to
    avoid."""
    p = plan_of(spark, "join_range_bucketed", sf_dir)
    assert "BroadcastNestedLoopJoin" not in p, f"nested loop in range join:\n{p}"
    assert "CartesianProduct" not in p
    assert "Join" in p  # the bucket equi-join is a real join


def test_exact_dedup_single_shuffle(spark, sf_dir):
    """Exact dedup is one hash shuffle on the content key + a window —
    adding a second exchange would double the 100 TB shuffle volume."""
    import re

    p = plan_of(spark, "dedup_exact", sf_dir)
    n = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n == 1, f"dedup_exact should shuffle once, saw {n}:\n{p}"


def test_tpch_full_dims_broadcast(spark, sf_dir):
    """q2/q16/q21 dims must broadcast; no nested loop anywhere in the
    completed TPC-H five."""
    for key, at_least in (("tpch_q2", 3), ("tpch_q16", 2), ("tpch_q21", 2)):
        p = plan_of(spark, key, sf_dir)
        assert p.count("BroadcastHashJoin") >= at_least, f"{key} dims not broadcast"
        assert "CartesianProduct" not in p, f"cartesian in {key}"
        assert "BroadcastNestedLoopJoin" not in p, f"nested loop in {key}"


def test_nullsafe_join_stays_hash_join(spark, sf_dir):
    """`<=>` must plan as an ordinary (broadcast) hash join — NULL-safe
    equality is hashable, so any nested-loop fallback is a regression."""
    p = plan_of(spark, "join_nullsafe", sf_dir)
    assert "BroadcastHashJoin" in p, f"nullsafe join not a hash join:\n{p}"
    assert "BroadcastNestedLoopJoin" not in p


def test_repetition_gates_stay_jvm_side(spark, sf_dir):
    """text_repetition is documented as built-in-only (bigrams via
    transform/explode) — no Python evaluation operator may appear."""
    p = plan_of(spark, "text_repetition", sf_dir)
    for bad in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                "MapInPandas"):
        assert bad not in p, f"{bad} in text_repetition plan"


def test_reachability_frontier_has_no_cartesian(spark, sf_dir):
    """Each frontier expansion is an equi join on src — never a cartesian."""
    p = plan_of(spark, "graph_reachability", sf_dir)
    assert "CartesianProduct" not in p, f"cartesian in reachability:\n{p}"


def test_dpp_injects_dynamic_pruning(spark, sf_dir):
    """join_dpp exists to demonstrate dynamic partition pruning: the fact
    scan must carry a dynamicpruningexpression partition filter (a
    constant-foldable dim would degrade to static pruning — wrong demo)."""
    p = plan_of(spark, "join_dpp", sf_dir)
    assert "dynamicpruning" in p.lower(), f"no DPP in fact scan:\n{p}"


def test_bucketed_sink_join_reads_buckets_without_exchange(spark, sf_dir):
    """sink_bucketed_join: both scans bucketed, sort-merge join, and the
    ONLY exchange is the final aggregation's (none feeding the join)."""
    import re

    p = plan_of(spark, "sink_bucketed_join", sf_dir)
    assert p.lower().count("bucketed: true") == 2, f"scans not bucketed:\n{p}"
    assert "SortMergeJoin" in p
    n = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n <= 1, f"bucketed join plan has {n} exchanges:\n{p}"


def test_bloom_prefilter_probes_via_broadcast(spark, sf_dir):
    """The bloom bitmap probe must be a broadcast hash join on the word
    index — shuffling the fact to test membership would defeat the filter."""
    p = plan_of(spark, "join_bloom_prefilter", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_asof_nearest_single_shuffle(spark, sf_dir):
    """Both directional candidate passes must reuse ONE (user_id) sort."""
    import re

    p = plan_of(spark, "join_asof_nearest", sf_dir)
    n = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n == 1, f"nearest as-of should shuffle once, saw {n}:\n{p}"


def test_interpolate_and_ewma_single_shuffle(spark, sf_dir):
    """Lag stack and both interpolation frames ride one window sort each."""
    import re

    for key in ("ts_ewma", "ts_interpolate"):
        p = plan_of(spark, key, sf_dir)
        n = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
        assert n == 1, f"{key} should shuffle once, saw {n}:\n{p}"


def test_chunk_dedup_and_tokenize_vocab_stay_jvm_side(spark, sf_dir):
    """Chunk dedup and vocab tokenization are built-in-only pipelines."""
    for key in ("text_chunk_dedup", "tokenize_vocab"):
        p = plan_of(spark, key, sf_dir)
        for bad in ("BatchEvalPython", "ArrowEvalPython",
                    "FlatMapGroupsInPandas", "MapInPandas"):
            assert bad not in p, f"{bad} in {key} plan"


def test_tokenize_vocab_broadcasts_vocab(spark, sf_dir):
    p = plan_of(spark, "tokenize_vocab", sf_dir)
    assert "BroadcastHashJoin" in p, f"vocab membership not broadcast:\n{p}"


def test_triangles_no_cartesian(spark, sf_dir):
    """Wedge build + closing check are equi-joins on canonical endpoints."""
    p = plan_of(spark, "graph_triangles", sf_dir)
    assert "CartesianProduct" not in p, f"cartesian in triangle count:\n{p}"


def test_pit_join_is_hash_join_not_cartesian(spark, sf_dir):
    """The SCD2 point-in-time join must be driven by the user/custkey
    equality conjunct; the validity range is a residual filter."""
    p = plan_of(spark, "join_pit_scd2", sf_dir)
    assert "CartesianProduct" not in p, f"cartesian in PIT join:\n{p}"
    assert "BroadcastNestedLoopJoin" not in p, f"nested loop in PIT join:\n{p}"


def test_multi_distinct_uses_expand(spark, sf_dir):
    """Multiple COUNT(DISTINCT) must plan as one Expand+aggregate, not a
    join of per-column subqueries."""
    p = plan_of(spark, "agg_multi_distinct", sf_dir)
    assert "Expand" in p, f"no Expand in multi-distinct plan:\n{p}"
    assert "Join" not in p, f"multi-distinct planned as a join:\n{p}"


def test_unigram_score_broadcasts_ranks(spark, sf_dir):
    p = plan_of(spark, "text_unigram_score", sf_dir)
    assert "BroadcastHashJoin" in p, f"rank table not broadcast:\n{p}"


def test_attribution_touch_join_no_cartesian(spark, sf_dir):
    """The attribution touch join must be equality-driven on user_id."""
    p = plan_of(spark, "events_attribution", sf_dir)
    assert "CartesianProduct" not in p, f"cartesian in attribution:\n{p}"
    assert "BroadcastNestedLoopJoin" not in p


def test_islands_single_shuffle(spark, sf_dir):
    """Both row_numbers and the island aggregate share the user_id
    partitioning — one exchange total."""
    import re

    p = plan_of(spark, "win_islands", sf_dir)
    n = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n == 1, f"win_islands should shuffle once, saw {n}:\n{p}"


def test_running_distinct_single_shuffle(spark, sf_dir):
    """Both the first-seen flag and the running sum hash on user_id."""
    import re

    p = plan_of(spark, "win_running_distinct", sf_dir)
    n = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n == 1, f"running distinct should shuffle once, saw {n}:\n{p}"


def test_anomaly_zscore_two_shuffles(spark, sf_dir):
    """Bucket aggregate + per-type window — two exchanges, nothing more."""
    import re

    p = plan_of(spark, "events_anomaly_zscore", sf_dir)
    n = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n <= 2, f"anomaly scoring grew a third shuffle:\n{p}"


def test_label_centroids_broadcast_no_smj(spark, sf_dir):
    """The |labels| x dim centroid table must broadcast onto the corpus —
    a shuffle join would re-shuffle every embedding row at 100 TB for a
    dimension that is driver-tiny by construction."""
    p = plan_of(spark, "sim_label_centroids", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, f"centroid join fell back to SMJ:\n{p}"


def test_zorder_files_cluster_both_dims(spark, sf_dir):
    """Every z-ordered output file must cover a NARROW range of BOTH
    clustering dimensions — that is the property file-level min/max pruning
    needs, and the reason z-order beats a single-dim sort (which clusters
    one dimension and leaves the other's per-file range at ~100%)."""
    from pyspark.sql import functions as F

    from data_transform_spark.io import SCRATCH

    QUERIES["sink_zorder"](spark, sf_dir).count()  # materialize layout
    tag = __import__("os").path.basename(sf_dir.rstrip("/"))
    df = spark.read.parquet(f"{SCRATCH}/zorder_lineitem_{tag}").withColumn(
        "f", F.input_file_name()
    )
    per_file = df.groupBy("f").agg(
        (F.max("l_partkey") - F.min("l_partkey")).alias("pk_w"),
        (F.datediff(F.max("l_shipdate"), F.min("l_shipdate"))).alias("sd_w"),
    )
    glob = df.agg(
        (F.max("l_partkey") - F.min("l_partkey")).alias("pk_g"),
        (F.datediff(F.max("l_shipdate"), F.min("l_shipdate"))).alias("sd_g"),
    ).first()
    rows = per_file.collect()
    assert len(rows) >= 8, f"expected >=8 z-range files, got {len(rows)}"
    avg_pk = sum(r.pk_w for r in rows) / len(rows) / glob.pk_g
    avg_sd = sum(r.sd_w for r in rows) / len(rows) / glob.sd_g
    assert avg_pk < 0.55, f"partkey not clustered: avg file width {avg_pk:.2f}"
    assert avg_sd < 0.55, f"shipdate not clustered: avg file width {avg_sd:.2f}"


def test_dynamic_overwrite_leaves_other_partitions(spark, sf_dir):
    """Dynamic partition overwrite must rewrite ONLY the partitions present
    in the incoming frame: after the patch write inside the operator, the
    untouched partitions' files must be byte-for-byte the ones from the
    base write (static mode would have deleted and re-created them)."""
    import os

    from data_transform_spark.io import SCRATCH

    tag = os.path.basename(sf_dir.rstrip("/"))
    out = f"{SCRATCH}/dynover_lineitem_{tag}"

    QUERIES["sink_dynamic_overwrite"](spark, sf_dir).count()  # runs base+patch

    def files_of(part):
        d = f"{out}/l_returnflag={part}"
        return {
            f: os.stat(os.path.join(d, f)).st_mtime_ns
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_r = files_of("R")
    before_n = files_of("N")
    a_before = files_of("A")
    # a second operator run re-does the base write (all mtimes move), then
    # the dynamic patch — so compare within ONE run: re-run only the patch.
    li = QUERIES["scan_parquet"]  # noqa: F841 — readability anchor
    from pyspark.sql import functions as F

    from data_transform_spark.io import load_table

    patched = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_discount")
        .filter(F.col("l_returnflag") == "A")
        .withColumn("l_discount", F.lit(0.0))
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        patched.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    assert files_of("R") == before_r, "partition R was rewritten"
    assert files_of("N") == before_n, "partition N was rewritten"
    assert files_of("A") != a_before, "partition A was NOT rewritten"


def test_permissive_csv_quarantines_bad_rows(spark, sf_dir):
    """PERMISSIVE mode must load every line, quarantining exactly the 3
    planted malformed rows into _corrupt_record with nulls elsewhere —
    the audit-trail alternative to DROPMALFORMED's silent skip."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField

    from data_transform_spark.io import load_table, store_dir

    QUERIES["scan_csv_malformed"](spark, sf_dir).count()  # stage the dir
    nation = load_table(spark, sf_dir, "nation")
    staged = store_dir("scan_csv_malformed", sf_dir, "nation")
    schema = nation.schema.add(StructField("_corrupt_record", StringType()))
    df = (
        spark.read.schema(schema)
        .options(
            header=True,
            quote='"',
            escape='"',
            mode="PERMISSIVE",
            columnNameOfCorruptRecord="_corrupt_record",
        )
        .csv(staged)
        .cache()
    )
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    try:
        assert bad.count() == 3, "expected exactly the 3 planted corrupt rows"
        assert df.count() == nation.count() + 3
        # every quarantined line is one of the planted ones
        planted = {"notanint", "alsobad", "1,2,3,4,5,6,7"}
        for r in bad.collect():
            assert any(p in r["_corrupt_record"] for p in planted), r
    finally:
        df.unpersist()


def test_join_hints_force_shuffled_hash(spark, sf_dir):
    """join_hints' SHUFFLE_HASH hint must actually flip the strategy —
    values are checked by the oracle; the hint's whole point is the plan."""
    p = plan_of(spark, "join_hints", sf_dir)
    assert "ShuffledHashJoin" in p, "shuffle_hash hint not honored"
    assert "SortMergeJoin" not in p


def test_shuffle_epoch_no_global_window(spark, sf_dir):
    """train_shuffle_epoch's two-phase rank: the corpus-sized window must be
    partitioned by bucket; only the 256-row offsets frame may see a
    single-partition exchange."""
    p = plan_of(spark, "train_shuffle_epoch", sf_dir)
    # the window over the corpus must be keyed (hashpartitioning on bucket),
    # so at least one hashpartitioning-by-bucket exchange exists
    assert "hashpartitioning(bucket" in p, "bucketed window partitioning missing"


def test_containment_guard_bans_via_broadcast_anti(spark, sf_dir):
    """The r7 high-df guard must stay free: the banned-shingle projection is
    a BROADCAST anti join (the banned set is a handful of boilerplate
    shingles by construction) — shuffling the full shingle frame to subtract
    a tiny hot-list would cost more than the skew it prevents."""
    p = plan_of(spark, "dedup_containment", sf_dir)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, (
        f"banned-shingle anti join not broadcast:\n{p[:2000]}"
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_sequence_motif_single_shuffle(spark, sf_dir):
    """Journey assembly must be ONE user_id shuffle: the sort happens
    inside array_sort on the collected structs (JVM, per row), never as a
    global orderBy, and every regex is row-local afterwards."""
    import re

    p = plan_of(spark, "events_sequence_motif", sf_dir)
    n = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n == 1, f"sequence motif should shuffle once, saw {n}:\n{p}"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
        "motif mining must stay JVM-side"
    )


def test_paths_topk_two_shuffles_and_topk_pushdown(spark, sf_dir):
    """Path analysis must shuffle exactly twice — the per-user window's
    hash partitioning is REUSED by the per-user aggregate (no exchange
    between them), then one keyed exchange for the prefix rollup — and the
    global top-k must plan as TakeOrderedAndProject (rank-limit pushdown),
    never a full global sort of the aggregate."""
    import re

    p = plan_of(spark, "events_paths_topk", sf_dir)
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_ex == 2, f"expected 2 exchanges, saw {n_ex}:\n{p[:2000]}"
    assert "TakeOrderedAndProject" in p, "top-k not pushed down"
    assert "CartesianProduct" not in p


def test_pq_scan_stays_broadcast_bounded(spark, sf_dir):
    """The PQ ADC scan path (codes ⋈ lookup-table ⋈ rerank) must never
    plan a cartesian or nested-loop join: codebooks and the query LUT
    ride as broadcast HASH joins against the codes frame; only keyed
    joins/aggregations shuffle. (The registered summary key additionally
    cross-joins 1-row count frames — those plan as broadcast nested
    loops by definition and are excluded here on purpose.)"""
    from data_transform_spark.pipeline.similarity import sim_ann_pq_topk

    df = sim_ann_pq_topk(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_substring_dedup_no_cartesian(spark, sf_dir):
    """Substring dedup's candidate discovery is a fingerprint-partitioned
    window — the plan must contain no cartesian/nested-loop joins and the
    duplicate-span coverage must reach the reassembly through keyed joins
    only."""
    p = plan_of(spark, "text_substring_dedup", sf_dir)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_knn_similarity_topk_is_take_ordered(spark, sf_dir):
    """r8 VERDICT nit: graph_knn_similarity's final top-20 must plan as
    TakeOrderedAndProject (per-partition top-k + one k-row merge), not a
    row_number() over an unpartitioned window of all candidate pairs."""
    p = plan_of(spark, "graph_knn_similarity", sf_dir)
    assert "TakeOrderedAndProject" in p, "global top-k not pushed down"
    assert "CartesianProduct" not in p


def test_md5_seed_cut_is_take_ordered(spark, sf_dir):
    """r8 VERDICT nit: the in-plan k-means seed pick (first k vec_ids by
    md5 rank, used by the semantic k-means fit) must cut the corpus with
    orderBy().limit(k) — TakeOrderedAndProject — so the only window in
    the seed plan runs over the ALREADY k-row frame, never corpus-wide."""
    from pyspark.sql import functions as F

    from data_transform_spark.io import load_table
    from data_transform_spark.pipeline.similarity import PQ_KS, _md5_seeds

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    df = _md5_seeds(e, PQ_KS)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "TakeOrderedAndProject" in p, "seed cut not pushed down"
    # the rank window must sit ABOVE the k-row cut in the plan tree:
    # formatted plans print leaves-first, so the TakeOrderedAndProject
    # node id must be smaller than the Window node id
    import re

    topk_id = int(re.search(r"\((\d+)\) TakeOrderedAndProject", p).group(1))
    win_id = int(re.search(r"\((\d+)\) Window", p).group(1))
    assert topk_id < win_id, "rank window not bounded by the k-row cut"


def test_ivfpq_scan_stays_broadcast_bounded(spark, sf_dir):
    """The composed IVF-PQ query path must keep the corpus-sized side
    (the codes frame) on the probe side of broadcast HASH joins — the
    centroid table, residual LUT, and query frame are all broadcast-sized.
    No cartesian products anywhere. BroadcastNestedLoopJoins DO appear —
    they are the deliberate corpus × K-centroid assignment scans of the
    IVF training/probing recipe (a BNLJ's build side IS the broadcast
    side, so each one streams the big side once against K ~ sqrt(N)
    broadcast centroids — the classic IVF assignment shape, never
    quadratic); the formatted tree duplicates those training subtrees
    under every consumer, so counting nodes is meaningless. What must
    hold: the ADC scan's (list_id, m, code) probe of the corpus-sized
    codes frame is a broadcast HASH join, and nothing plans a cartesian
    product (both sides corpus-sized)."""
    from data_transform_spark.pipeline.similarity import sim_ann_ivfpq_topk

    df = sim_ann_ivfpq_topk(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_ivfpq_serve_plan_is_training_free(spark, sf_dir):
    """r9 VERDICT #1 done-criterion: the warm serve path reads the staged
    parquet index and contains ZERO training stages — no md5-ranked
    training sample or seed window, no Lloyd pass (posexplode/avg
    refinement). Only the staged artifact plus the embeddings table
    (queries + exact re-rank) may be scanned."""
    from data_transform_spark.pipeline.similarity import (
        ivfpq_stage_index,
        sim_ann_ivfpq_serve_topk,
    )

    ivfpq_stage_index(spark, sf_dir)  # ensure warm
    df = sim_ann_ivfpq_serve_topk(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "ivfpq_index_" in p, "serve path must scan the staged index"
    assert "md5" not in p.lower(), "training sample leaked into serve plan"
    assert "posexplode" not in p.lower(), "Lloyd pass leaked into serve plan"
    assert "CartesianProduct" not in p


def test_session_motif_single_shuffle(spark, sf_dir):
    """Sessionized motifs must reuse ONE user_id exchange across the lag
    window, the island cumsum, and the (user, session) aggregate — and
    stay JVM-side (journeys assemble from sorted structs, regexes are
    row-local)."""
    import re

    p = plan_of(spark, "events_session_motif", sf_dir)
    n = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n == 1, f"session motif should shuffle once, saw {n}:\n{p[:1500]}"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_e2e_llm_no_cartesian_and_jvm_side(spark, sf_dir):
    """The capstone chains seven stages in one plan: no cartesian product
    anywhere (the LSH candidate stage is a band equi-join, never
    all-pairs — the all-pairs comparison exists ONLY in the DuckDB
    oracle), and no Python evaluation nodes (every stage is Column ops).
    1-row funnel aggregates ride as broadcast nested loops by definition
    and are excluded on purpose."""
    p = plan_of(spark, "pipeline_e2e_llm", sf_dir)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_markov_surprisal_broadcast_rank_join_jvm_side(spark, sf_dir):
    """Journey surprisal: the states²-sized rank table must reach the
    per-user transition stream through a BROADCAST hash join (never a
    shuffle of the corpus on (prev, next)), the per-user rollup must reuse
    the lag window's user_id partitioning (no exchange between the join
    and the final aggregate — the probe side shows exactly ONE exchange),
    and nothing leaves the JVM. The rank-table build re-derives the lag
    pairs on its own (differently-pruned) scan — two scans total, the same
    trade events_transitions makes; what matters is that neither side ever
    shuffles the event stream a second time."""
    import re

    p = plan_of(spark, "events_markov_surprisal", sf_dir)
    assert "BroadcastHashJoin" in p, "rank table must broadcast"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    # probe side: Scan -> Exchange(user) -> Window -> ... -> join -> agg
    # with NO further exchange; the tree section lists the probe side
    # before the BroadcastExchange — count exchanges appearing there
    tree = p[: p.index("BroadcastExchange")]
    n_probe = len(re.findall(r"Exchange \(\d+\)", tree))
    assert n_probe == 1, f"probe side should shuffle once:\n{tree}"


def test_ngram_novelty_keyed_joins_only(spark, sf_dir):
    """Novelty attribution must be keyed joins/aggregates only (gram-digest
    shuffles, no cartesian, no Python), and the gram key reaching the
    shuffle must be the md5 DIGEST, not the raw gram string (narrow
    shuffle at scale — the substring-dedup trick)."""
    p = plan_of(spark, "text_ngram_novelty", sf_dir)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "md5" in p, "gram digests missing from the plan"


def test_interval_overlap_is_keyed_join_not_nested_loop(spark, sf_dir):
    """The overlap self-join must plan as a KEYED join on l_orderkey with
    the Allen-overlap inequalities as residual filters — never a
    cartesian/nested-loop over lineitem."""
    p = plan_of(spark, "join_interval_overlap", sf_dir)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_pii_scrub_is_map_only(spark, sf_dir):
    """PII redaction must stay a zero-shuffle, JVM-side map pass: regexp
    projections pipelined with the scan — no Exchange, no Python worker."""
    import re

    p = plan_of(spark, "text_pii_scrub", sf_dir)
    assert not re.findall(r"^\(\d+\) Exchange", p, flags=re.M), "scrub shuffled"
    assert "EvalPython" not in p


def test_corpus_manifest_two_aggregates(spark, sf_dir):
    """The manifest composes hierarchically (r10 ADVICE, fixed r11): each
    branch (per-source + global '*') is a (source, bucket) aggregate THEN a
    source rollup of the 256 bucket digests — two keyed aggregate levels ×
    two branches = exactly 4 exchanges over digest-width rows; no Python,
    no join; no aggregation buffer ever holds more than one bucket's
    digests."""
    import re

    p = plan_of(spark, "corpus_manifest", sf_dir)
    n = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n == 4, f"expected 4 exchanges (2 levels x 2 branches), saw {n}"
    assert "EvalPython" not in p


def test_quality_nb_fit_stays_jvm_side_and_broadcasts_weights(spark, sf_dir):
    """The in-plan NB fit must never leave the JVM and must ship the
    vocab-sized weight/total/prior frames as broadcasts (the corpus-sized
    side is only ever scan + keyed aggregate)."""
    p = plan_of(spark, "quality_nb", sf_dir)
    assert "EvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_index_append_plan_is_training_free(spark, sf_dir):
    """The append path (encode-many after train-once) must contain ZERO
    training stages: no md5 sample ranking, no Lloyd posexplode — only
    the staged history index, the batch assignment scans and the query
    path."""
    from data_transform_spark.pipeline.similarity import ivfpq_stage_hist_index

    ivfpq_stage_hist_index(spark, sf_dir)  # warm
    p = plan_of(spark, "sim_ann_index_append", sf_dir)
    assert "ivfpq_hist_" in p, "append path must scan the staged index"
    assert "md5" not in p.lower(), "training sample leaked into append plan"
    assert "posexplode" not in p.lower(), "Lloyd pass leaked into append plan"


def simple_plan_of(spark, key, sf_dir):
    """df.explain() simple mode: one line per physical operator with
    arguments inline and tree indentation — what the SinglePartition
    boundedness checks below parse."""
    df = QUERIES[key](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def assert_single_partitions_aggregate_bounded(p, key):
    """Every `Exchange SinglePartition` in the simple plan must take its
    input from a HashAggregate (within the next two tree lines — a
    column-renaming Project may sit between): single-partition hops are
    allowed only over aggregate-bounded frames (histograms, count
    tables, 1-row stats), never over row-scale data (r13 VERDICT #3/#4)."""
    lines = p.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        nxt = "\n".join(lines[i + 1 : i + 3])
        assert "HashAggregate" in nxt, (
            f"{key}: SinglePartition exchange over non-aggregate input:\n"
            f"{ln}\n{nxt}"
        )


def test_pr_curve_rank_is_two_phase_and_held_out_filter_pushed(
    spark, sf_dir
):
    """quality_pr_curve's exact rank is TWO-PHASE since r14 (r13 VERDICT
    #3): logit bands + per-band offsets + a band-partitioned row_number —
    the held-out md5 split is ~half the corpus, so the retired global
    rank window was a real single-partition hop over row-scale data. Pin
    (a) the row_number window is hash-partitioned by the band, (b) every
    remaining SinglePartition exchange is aggregate-bounded, and (c) the
    held-out restriction (substring(md5(doc_id),1,1) >= 8) is still
    pushed to the scan side.

    Since the r14 optimization round the share frames are EAGER
    localCheckpoints (lineage truncation — see shares.share), so the
    registered key's returned plan is a read over the checkpointed rank:
    the two-phase shape executes inside the fill. The pins therefore
    drive the SAME builder chain the key runs (_nb_scored → held filter
    → _held_ranked) and assert on those frames' plans."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from data_transform_spark.io import load_table
    from data_transform_spark.pipeline.curation import _held_ranked, _nb_scored

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    held_in = _nb_scored(d).filter(~F.col("is_train"))
    ranked = _held_ranked(held_in)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ranked.explain()
    p = buf.getvalue()
    assert "row_number" in p and "hashpartitioning(bkt" in p, (
        "band-partitioned rank window missing"
    )
    assert_single_partitions_aggregate_bounded(p, "quality_pr_curve")

    # (c) held-out pushdown: visible in the PRE-checkpoint scoring frame
    # (the checkpoint fill is exactly this plan's execution).
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        held_in.explain()
    ph = buf.getvalue()
    assert "substring(md5(" in ph and ">= 8" in ph, (
        "held-out filter was not pushed below the rank"
    )

    # (d) COUPLING to the registered key (r14 ADVICE): the assertions above
    # drive a hand-rebuilt chain — pin that the key actually routes through
    # it. Source-level: quality_pr_curve's body calls _nb_scored and
    # _nb_threshold (whose rank IS _held_ranked). Plan-level: the returned
    # frame reads the eager checkpoint (a bare ExistingRDD scan), i.e. the
    # two-phase shape executed inside the fill rather than being optimized
    # away to something else.
    import inspect

    from data_transform_spark.registry import QUERIES

    src = inspect.getsource(QUERIES["quality_pr_curve"])
    assert "_held_ranked(" in src and "quality_nb(" in src, (
        "key no longer routes through quality_nb/_held_ranked"
    )
    assert "_nb_scored" in inspect.getsource(QUERIES["quality_nb"]), (
        "quality_nb no longer routes through _nb_scored"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES["quality_pr_curve"](spark, sf_dir).explain()
    pk = buf.getvalue()
    assert "ExistingRDD" in pk or "Scan ExistingRDD" in pk, (
        "registered key's plan no longer reads the checkpointed rank — "
        "re-point these pins at the key's own plan"
    )


def test_curriculum_buckets_ntile_is_two_phase(spark, sf_dir):
    """curriculum_buckets assigns SQL-ntile buckets via the closed form
    over a two-phase exact rank since r14 (r13 VERDICT #3): a difficulty
    HISTOGRAM (value-bounded by the round(·,4) quantization) provides
    cumulative offsets, row_number runs partitioned by difficulty, and
    no ntile window exists. Pin: no ntile in the plan, the row-scale
    window is hash-partitioned, every SinglePartition exchange is
    aggregate-bounded."""
    p = simple_plan_of(spark, "curriculum_buckets", sf_dir)
    assert "ntile" not in p, "global ntile window still in the plan"
    assert "row_number" in p
    assert_single_partitions_aggregate_bounded(p, "curriculum_buckets")


def test_image_phash_scan_prunes_to_doc_id_and_no_cartesian(spark, sf_dir):
    """dedup_image_phash needs only doc_id (pixels are synthesized): both
    fingerprint scans must prune the documents read schema to that single
    column, and the candidate stage must be the (chunk, val) equi-join —
    no cartesian anywhere."""
    import re

    p = plan_of(spark, "dedup_image_phash", sf_dir)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(s == "doc_id:bigint" for s in schemas), schemas
    assert "CartesianProduct" not in p


def test_sql_pipe_desugars_to_pushed_scan_and_hash_agg(spark, sf_dir):
    """The pipe-syntax surface must cost nothing: the shipdate filter
    reaches the parquet scan as a pushed filter, the rollup is an
    ordinary partial/final HashAggregate, and the read schema is pruned
    to the five referenced lineitem columns."""
    import re

    p = plan_of(spark, "sql_pipe", sf_dir)
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters", 1)[1].split("\n")[0]
    assert "HashAggregate" in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        set(s.split(",")[i].split(":")[0] for i in range(len(s.split(","))))
        <= {
            "l_returnflag",
            "l_linestatus",
            "l_extendedprice",
            "l_discount",
            "l_shipdate",
        }
        for s in schemas
    ), schemas


def test_semdedup_pairs_are_cluster_equijoin_no_cartesian(spark, sf_dir):
    """dedup_semdedup's quadratic stage must be the c_id EQUI-join —
    SortMergeJoin/ShuffledHashJoin keyed on the cluster, never a
    CartesianProduct/BroadcastNestedLoop over the corpus — and the
    embeddings read schema must carry only vec_id + embedding."""
    import re

    p = plan_of(spark, "dedup_semdedup", sf_dir)
    assert "CartesianProduct" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        set(f.split(":")[0] for f in s.split(",") if f)
        <= {"vec_id", "embedding"}
        for s in schemas
    ), schemas


def test_lm_ppl_lang_filter_pushed_and_no_driver_collect(spark, sf_dir):
    """quality_lm_ppl's reference subset must reach the parquet scan as a
    pushed lang filter (the reference build reads only the en rows), the
    documents read schema must prune to what the key uses, and the whole
    fit+score must be ONE plan (no cartesian, no driver-side loop — the
    key is a single DataFrame)."""
    import re

    p = plan_of(spark, "quality_lm_ppl", sf_dir)
    assert "EqualTo(lang,en)" in p, "reference lang filter not pushed"
    assert "CartesianProduct" not in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(
        set(f.split(":")[0] for f in s.split(",") if f)
        <= {"doc_id", "lang", "text"}
        for s in schemas
    ), schemas


def test_heaps_curve_has_no_corpus_sort(spark, sf_dir):
    """text_heaps_curve's design claim: value-based cutoffs mean NO
    global sort or rank over the corpus exists anywhere in the plan —
    the only Sort allowed is the 10-row checkpoint window's. Verify no
    Sort node takes a corpus-sized input: every Sort in the plan must
    sit above the checkpoint aggregation (keyed by k), never above a
    documents scan, and no Window partitions the corpus."""
    p = plan_of(spark, "text_heaps_curve", sf_dir)
    assert "CartesianProduct" not in p
    # the corpus side is consumed by hash aggregates only; the lag()
    # window sorts the 10-row curve, which shows as a Sort whose input
    # is the k-keyed aggregate, not a scan. A corpus sort would appear
    # as Sort directly over the documents relation or an Exchange
    # rangepartitioning over it.
    assert "rangepartitioning" not in p.lower(), (
        "range partitioning implies a global corpus sort"
    )


def test_sharded_packers_have_no_single_partition_window(spark, sf_dir):
    """pack_sequences_sharded / pack_concat_chunks_sharded are the
    REGISTERED 100 TB packing plans (r13 VERDICT #2): their cumsum
    windows must partition by the md5 shard — the physical plan shows a
    hash-partitioned exchange feeding the Window and NO `Exchange
    SinglePartition` anywhere (the global packers' ordering bottleneck
    is exactly what these keys exist to remove)."""
    for key in ("pack_sequences_sharded", "pack_concat_chunks_sharded"):
        p = plan_of(spark, key, sf_dir)
        assert "SinglePartition" not in p, f"{key} has a global window:\n{p}"
        assert "Window" in p, f"{key} lost its cumsum window"
        assert "hashpartitioning(shard" in p, (
            f"{key}'s window is not shard-partitioned"
        )


def test_zorder_ranks_are_two_phase_no_global_sort(spark, sf_dir):
    """sink_zorder's 256-bucket ranks are two-phase since r14 (r13
    VERDICT #4): the pre-write frame (z-rank + repartitionByRange, the
    exact plan that feeds the write) must contain NO single-partition
    hop over fact rows — every Exchange SinglePartition feeds from a
    HashAggregate (the date/partkey histograms), the rank windows are
    hash-partitioned by their leading dimension, and no ntile window
    exists. The only range partitioning is the zval write split itself."""
    import io as _io
    import contextlib as _ctx

    from data_transform_spark.operators.scans import _zorder_ranked

    df = _zorder_ranked(spark, sf_dir).repartitionByRange(16, "zval")
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain()
    p = buf.getvalue()
    assert "ntile" not in p, "global ntile window still in the plan"
    assert "hashpartitioning(l_shipdate" in p
    assert "hashpartitioning(l_partkey" in p
    assert_single_partitions_aggregate_bounded(p, "sink_zorder")
    # exactly one rangepartitioning: the zval write split, never a sort
    # of the fact by a clustering dimension
    import re as _re

    rps = _re.findall(r"rangepartitioning\(([^)]*)\)", p)
    assert all("zval" in rp for rp in rps), rps


def test_graph_ann_serve_plan_is_build_free(spark, sf_dir):
    """sim_ann_graph's serve path (r13 VERDICT #5) must contain ZERO
    build stages: no tiled gemm (FlatMapGroupsInPandas) — only the
    staged adjacency scan, the embeddings scans and panel-sized
    broadcast joins. The kNN-graph build runs once in
    graph_stage_index."""
    import io as _io
    import contextlib as _ctx

    from data_transform_spark.pipeline.similarity import (
        graph_stage_index,
        sim_ann_graph_topk,
    )

    graph_stage_index(spark, sf_dir)  # warm: stage the adjacency
    df = sim_ann_graph_topk(spark, sf_dir)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "graph_index_" in p, "serve path must scan the staged adjacency"
    assert "FlatMapGroupsInPandas" not in p, "gemm build leaked into serve"


def test_rfm_and_pareto_tiles_are_two_phase(spark, sf_dir):
    """customer_rfm / orders_pareto quintile/decile ranks are exact
    two-phase ntiles since r14 (_two_phase_ntile): no ntile window in
    either plan and every SinglePartition exchange feeds from a
    HashAggregate (the band count tables) — the customer dimension can
    outgrow one partition without a plan change."""
    for key in ("customer_rfm", "orders_pareto"):
        p = simple_plan_of(spark, key, sf_dir)
        assert "ntile" not in p, f"{key}: global ntile still in plan"
        assert "row_number" in p
        assert_single_partitions_aggregate_bounded(p, key)


def test_quality_repetition_is_map_only(spark, sf_dir):
    """The Gopher repetition battery is doc-local array folds: zero
    shuffles, zero Python workers — the whole filter pipelines with the
    scan exactly like quality_gopher."""
    import re

    p = plan_of(spark, "quality_repetition", sf_dir)
    assert not re.findall(r"^\(\d+\) Exchange", p, flags=re.M), "battery shuffled"
    assert "EvalPython" not in p
