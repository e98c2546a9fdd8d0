"""End-to-end training-data pipeline compositions (§2.K capstones).

pipeline_e2e chains the library's stages the way a corpus-prep job does:
exact dedup → language gate → quality gate → TF-IDF → top term per doc →
deterministic shard assignment.

The three LLM-curation capstones run one funnel: substring dedup →
near-dup removal → decontamination (the staged prefix) → a quality gate →
temperature sampling → md5 sharding → per-shard packing. They differ only
in the gate: pipeline_e2e_llm applies Gopher rules, pipeline_e2e_llm_v3 a
trained NB model at a PR-curve threshold (the front v4 shares,
_nb_gate_front), and pipeline_e2e_llm_v4 a 2-of-3 committee. Everything
after the gate is one tail (_e2e_sampled, then _pack_summary), and each
capstone reports one funnel row (_funnel). Every stage is the same code
the individual keys use; the composition itself is what's verified here.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_transform_spark.io import load_table, stage
from data_transform_spark.operators.extras import md5_shard
from data_transform_spark.registry import register
from data_transform_spark.shares import release, share, submit


@register(
    "pipeline_e2e",
    oracle="""
    WITH deduped AS (
        SELECT doc_id, text, lang
        FROM documents
        QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    ),
    gated AS (
        SELECT doc_id, text, lang
        FROM deduped
        WHERE lang IN ('en', 'de', 'es')
          AND len(string_split(text, ' ')) BETWEEN 20 AND 200
          AND len(list_distinct(string_split(text, ' '))) * 1.0
              / len(string_split(text, ' ')) >= 0.2
    ),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM gated),
    tf AS (SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token),
    dl AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY doc_id),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM gated),
    scored AS (
        SELECT tf.doc_id, tf.token,
               ROUND((tf.cnt * 1.0 / dl.doc_len)
                     * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
        FROM tf JOIN dl USING (doc_id) JOIN df USING (token) CROSS JOIN n
    ),
    top_term AS (
        SELECT doc_id, token AS top_token, tfidf
        FROM scored
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) = 1
    )
    SELECT g.doc_id, g.lang, t.top_token, t.tfidf,
           CAST(('0x' || substring(md5(CAST(g.doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 8 AS shard
    FROM gated g JOIN top_term t USING (doc_id)
    """,
)
def pipeline_e2e(spark, sf_dir):
    """Capstone: dedup → lang/quality gates → TF-IDF top term → shard."""
    d = load_table(spark, sf_dir, "documents")

    # 1. exact dedup, canonical survivor
    w_dedup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        d.withColumn("_rn", F.row_number().over(w_dedup))
        .filter("_rn = 1")
        .select("doc_id", "text", "lang")
    )

    # 2. language + quality gates
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) * 1.0 / n_tok
    gated = deduped.filter(
        F.col("lang").isin("en", "de", "es") & n_tok.between(20, 200) & (ttr >= 0.2)
    )

    # 3. TF-IDF over the gated corpus. n_docs stays IN-PLAN as a broadcast
    # 1-row aggregate (exactly the oracle's CROSS JOIN n): a driver-side
    # .count() here would run the dedup window + gates twice — at 100 TB
    # that is one extra full pass over the corpus for a single scalar.
    n = gated.agg(F.count(F.lit(1)).alias("n_docs"))
    tok = gated.select("doc_id", F.explode(toks).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doc_len"))
    dfreq = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    tfidf = F.round(
        (F.col("cnt") * 1.0 / F.col("doc_len"))
        * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
        6,
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "token", tfidf.alias("tfidf"))
    )

    # 4. top term per doc (deterministic tie-break on token)
    w_top = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    top = (
        scored.withColumn("_rn", F.row_number().over(w_top))
        .filter("_rn = 1")
        .select("doc_id", F.col("token").alias("top_token"), "tfidf")
    )

    # 5. deterministic shard assignment
    return gated.join(top, "doc_id").select(
        "doc_id", "lang", "top_token", "tfidf", md5_shard(8).alias("shard")
    )


# ---------------------------------------------------------------------------
# pipeline_e2e_llm — the LLM-curation capstone v2 (r8 VERDICT #4): the
# round-8/9 tiers chained in ONE plan. Gate thresholds are config tuned to
# the synthetic fixture's token distribution (dup-word <= 0.5 where Gopher
# uses 0.3 on natural text — the 0.3 gate keeps only ~15% of this fixture,
# collapsing every later stage; the GATE STRUCTURE is the product).
# ---------------------------------------------------------------------------

E2E_DUP_FRAC = 0.5  # dup-word gate (Gopher: 0.3 on natural text)
E2E_BI_FRAC = 0.2  # top-bigram coverage gate (Gopher value)
E2E_MIN_TOK, E2E_MAX_TOK = 20, 2000  # length gate on CLEANED token counts
E2E_SHARDS = 8

_E2E_U01 = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':e2e'), 1, 8)) "
    "AS BIGINT) / 4294967296.0"
)


def _e2e_prefix_ctes() -> str:
    """Funnel stages 1-3 as DuckDB CTEs, toks0 through decon — the twin of
    _e2e_prefix, shared by every capstone oracle. Ends with a comma; the
    caller's next CTE follows. Heavy CTEs carry DuckDB's AS MATERIALIZED
    hint: the funnel's final SELECT reads each stage from ~10 scalar
    subqueries, and DuckDB's default CTE inlining recomputes the whole
    upstream pipeline per reference — at sf0.1 that multiplies the
    all-pairs shingle join's memory ~10x and OOMs the oracle.
    Materialization evaluates each stage once (what Spark's plan gets via
    exchange reuse) — semantics identical, verified equal at sf0.01 both
    ways. The documents alias is ``dd``: the v3 oracle defines a CTE
    named ``d``."""
    from data_transform_spark.pipeline.curation import NGRAM_N
    from data_transform_spark.pipeline.dedup import (
        MINHASH_EXACT_TAU,
        SHINGLE_K,
        SUBSTR_W,
    )

    return f"""toks0 AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    occ AS MATERIALIZED (
        SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(t[i:i+{SUBSTR_W - 1}], ' ')) AS g
        FROM toks0, unnest(generate_series(1, len(t) - {SUBSTR_W} + 1)) AS u(i)
        WHERE len(t) >= {SUBSTR_W}
    ),
    dups AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
            FROM occ) WHERE rn > 1
    ),
    covered AS MATERIALIZED (
        SELECT DISTINCT doc_id, q
        FROM dups, unnest(generate_series(pos, pos + {SUBSTR_W - 1})) AS u(q)
    ),
    tokpos AS MATERIALIZED (
        SELECT doc_id, i - 1 AS q, t[i] AS token
        FROM toks0, unnest(generate_series(1, len(t))) AS u(i)
    ),
    kept AS MATERIALIZED (
        SELECT tp.doc_id, tp.q, tp.token
        FROM tokpos tp ANTI JOIN covered c
          ON tp.doc_id = c.doc_id AND tp.q = c.q
    ),
    cleaned AS MATERIALIZED (
        SELECT k.doc_id, dd.source, count(*) AS n_tok,
               string_agg(k.token, ' ' ORDER BY k.q) AS text
        FROM kept k JOIN documents dd USING (doc_id)
        GROUP BY k.doc_id, dd.source
    ),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               array_to_string(t[i:i+{SHINGLE_K - 1}], ' ') AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM cleaned),
             unnest(generate_series(1, greatest(len(t) - {SHINGLE_K - 1}, 1))) AS u(i)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shared AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    victims AS (
        SELECT DISTINCT s.doc_b AS doc_id
        FROM shared s
        JOIN sz sa ON s.doc_a = sa.doc_id
        JOIN sz sb ON s.doc_b = sb.doc_id
        WHERE s.c * 1.0 / (sa.n + sb.n - s.c) >= {MINHASH_EXACT_TAU}
    ),
    surv AS MATERIALIZED (SELECT * FROM cleaned ANTI JOIN victims USING (doc_id)),
    bgrams AS (
        SELECT DISTINCT array_to_string(t[s:s+{NGRAM_N - 1}], ' ') AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents WHERE doc_id % 97 = 0),
             unnest(generate_series(1, greatest(len(t) - {NGRAM_N - 1}, 0))) AS u(s)
    ),
    cgrams AS (
        SELECT doc_id, array_to_string(t[s:s+{NGRAM_N - 1}], ' ') AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM surv WHERE doc_id % 97 <> 0),
             unnest(generate_series(1, greatest(len(t) - {NGRAM_N - 1}, 0))) AS u(s)
    ),
    contaminated AS (SELECT DISTINCT doc_id FROM cgrams JOIN bgrams USING (g)),
    decon AS MATERIALIZED (
        SELECT * FROM surv
        WHERE doc_id % 97 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),"""


def _e2e_llm_oracle() -> str:
    from data_transform_spark.pipeline.curation import TEMP_ALPHA
    from data_transform_spark.pipeline.training import PACK_BUDGET

    return f"""
    WITH {_e2e_prefix_ctes()}
    gbase AS MATERIALIZED (SELECT doc_id, source, n_tok, string_split(text, ' ') AS ts
              FROM decon),
    bi AS (
        SELECT doc_id, max(c) AS max_bi FROM (
            SELECT doc_id, gram, count(*) AS c FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(ts)),
                                             i -> ts[i] || ' ' || ts[i + 1])) AS gram
                FROM gbase) GROUP BY doc_id, gram) GROUP BY doc_id
    ),
    gated AS MATERIALIZED (
        SELECT g.doc_id, g.source, g.n_tok
        FROM gbase g LEFT JOIN bi USING (doc_id)
        WHERE g.n_tok BETWEEN {E2E_MIN_TOK} AND {E2E_MAX_TOK}
          AND (g.n_tok - len(list_distinct(g.ts))) / g.n_tok <= {E2E_DUP_FRAC}
          AND COALESCE(CAST(2 * bi.max_bi AS DOUBLE) / g.n_tok, 0) <= {E2E_BI_FRAC}
    ),
    cnt AS (SELECT source, count(*) AS n FROM gated GROUP BY source),
    tt AS (SELECT sum(n) AS t FROM cnt),
    wsrc AS (SELECT source, ROUND(pow(n * 1.0 / t, {TEMP_ALPHA} - 1), 6) AS wr
             FROM cnt, tt),
    rates AS (SELECT source, ROUND(wr / (SELECT max(wr) FROM wsrc), 6) AS rate
              FROM wsrc),
    sampled AS MATERIALIZED (
        SELECT g.doc_id, g.source, g.n_tok
        FROM gated g JOIN rates r USING (source)
        WHERE {_E2E_U01} < r.rate
    ),
    pshard AS (
        SELECT doc_id, n_tok,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS BIGINT) % {E2E_SHARDS} AS shard
        FROM sampled
    ),
    packed AS MATERIALIZED (
        SELECT doc_id, n_tok, shard,
               CAST(floor(COALESCE(sum(n_tok) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   / {PACK_BUDGET}) AS BIGINT) AS pack_id
        FROM pshard
    )
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT count(*) FROM cleaned) AS n_substr_clean,
           (SELECT count(*) FROM surv) AS n_neardup_surv,
           (SELECT count(*) FROM decon) AS n_decontaminated,
           (SELECT count(*) FROM gated) AS n_gated,
           (SELECT count(*) FROM packed) AS n_sampled,
           (SELECT CAST(COALESCE(sum(n_tok), 0) AS BIGINT) FROM packed)
               AS tokens_out,
           (SELECT CAST(count(DISTINCT (shard, pack_id)) AS BIGINT) FROM packed)
               AS n_packs,
           (SELECT CAST(count(DISTINCT shard) AS BIGINT) FROM packed)
               AS n_shards,
           (SELECT md5(COALESCE(string_agg(CAST(doc_id AS VARCHAR), ','
                                           ORDER BY doc_id), ''))
            FROM packed) AS sampled_md5
    """


def _e2e_prefix(spark, sf_dir):
    """Funnel stages 1-3 — substring dedup → near-dup removal → benchmark
    decontamination — shared verbatim by pipeline_e2e_llm and
    pipeline_e2e_llm_v3 (the two capstones differ only in their quality
    gate and everything downstream of it). Shares its three frames
    (cleaned / surv / decon)."""
    from data_transform_spark.pipeline.curation import ngrams
    from data_transform_spark.pipeline.dedup import (
        MINHASH_EXACT_TAU,
        _exact_jaccard_of_pairs,
        _minhash_candidates,
        substring_clean,
    )

    from data_transform_spark.io import spread

    d = spread(load_table(spark, sf_dir, "documents"))

    # 1. substring-level dedup; drop fully-removed docs (exact duplicates)
    clean = substring_clean(d).filter(F.col("n_tokens") > F.col("n_removed"))
    # SHARE POINT (r9 VERDICT #5): cleaned feeds the MinHash candidate
    # generator, the exact-Jaccard verifier, the survivor anti join AND the
    # c1 funnel count — persisting it executes the substring-fingerprint
    # window exactly once
    cleaned = share(
        clean.join(d.select("doc_id", "source"), "doc_id").select(
            "doc_id",
            "source",
            (F.col("n_tokens") - F.col("n_removed")).alias("n_tok"),
            F.col("clean_text").alias("text"),
        )
    )

    # 2. near-dup removal on the CLEANED text, first-wins survivors
    pairs = _exact_jaccard_of_pairs(
        cleaned, _minhash_candidates(cleaned)
    ).filter(F.col("jaccard") >= MINHASH_EXACT_TAU)
    # no broadcast hint: the victim set scales with the corpus's duplicate
    # rate (web crawls run 30-50%) — let AQE pick broadcast when it fits
    victims = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    # SHARE POINT: surv feeds the bench-gram explode, the decon anti join
    # and the c2 count — caching it runs the LSH candidate join + exact
    # Jaccard verify once instead of three times
    surv = share(cleaned.join(victims, "doc_id", "left_anti"))

    # 3. benchmark decontamination (8-gram overlap, broadcast bench set)
    bench = ngrams(d.filter(F.col("doc_id") % 97 == 0)).select("g").distinct()
    contaminated = (
        ngrams(surv.filter(F.col("doc_id") % 97 != 0))
        .join(F.broadcast(bench), "g")  # bench grams ARE broadcast-sized
        .select("doc_id")
        .distinct()
    )
    # contaminated-doc set is corpus-scaled in the worst case: keyed anti
    # join, no hint (AQE broadcasts it when it is actually small)
    decon = share(
        surv.filter(F.col("doc_id") % 97 != 0).join(
            contaminated, "doc_id", "left_anti"
        )
    )
    return d, cleaned, surv, decon


def _prefix_code_fingerprint() -> str:
    """Fingerprint of the CODE that derives the staged prefix: the prefix
    builder plus the whole dedup module and the curation n-gram builder
    it delegates to (deliberately broad — a 1-build rebuild per edit is
    nothing next to silently serving results of retired logic). The
    documents fingerprint in the store's directory name covers data
    staleness; this fingerprint, part of the store's name, covers code
    staleness. The DuckDB oracle remains
    the backstop either way."""
    import hashlib
    import inspect

    from data_transform_spark.pipeline import curation as _cur
    from data_transform_spark.pipeline import dedup as _dd

    src = (
        inspect.getsource(_e2e_prefix)
        + inspect.getsource(_dd)
        + inspect.getsource(_cur.ngrams)
        + f":{_cur.NGRAM_N}"
    )
    return hashlib.sha256(src.encode()).hexdigest()[:10]


def stage_e2e_prefix(spark, sf_dir) -> str:
    """Build funnel stages 1-3 ONCE per (SF, corpus fingerprint, prefix
    code fingerprint) and publish them atomically: `decon` (the
    decontaminated survivors with cleaned text) plus a 1-row `stats` table
    carrying the c1/c2 funnel counts the capstones report. The
    sim_ann_persist discipline applied to the curation prefix (r11 VERDICT
    #2).

    Why this exists — measured, not assumed: the capstones assemble
    their funnel row from ~6-11 crossJoin(broadcast(...)) branches, and
    Spark materializes broadcast subtrees on CONCURRENT threads. The
    lazily-persisted prefix cache offers no protection against that
    race — every branch that first touches an uncached share frame
    recomputes the whole substring-window + minhash + decon subtree.
    At sf0.1 the stages cost ~25 s run sequentially, but
    pipeline_e2e_llm_v4's single action measured 83.5 s (branches
    racing the cache). Staging collapses the prefix to one build +
    parquet scans, which are harmless to materialize concurrently."""

    def _build(tmp: str) -> None:
        _d, cleaned, surv, decon = _e2e_prefix(spark, sf_dir)
        decon.write.parquet(f"{tmp}/decon")
        spark.createDataFrame(
            [(cleaned.count(), surv.count())],
            "n_substr_clean long, n_neardup_surv long",
        ).coalesce(1).write.parquet(f"{tmp}/stats")
        release(cleaned, surv, decon)  # the build's shares are now redundant

    name = f"e2e_prefix_{_prefix_code_fingerprint()}"
    return stage(name, sf_dir, "documents", _build)


def _e2e_prefix_staged(spark, sf_dir):
    """(d, stats, decon) with the prefix served from the staged artifact:
    d is the raw corpus scan, stats is the 1-row (n_substr_clean,
    n_neardup_surv) frame, decon the decontaminated survivors. Output-
    identical to _e2e_prefix (same build, parquet round-trip of
    long/string columns is lossless) — the capstone hashes pin it."""
    from data_transform_spark.io import spread

    staged = stage_e2e_prefix(spark, sf_dir)
    d = spread(load_table(spark, sf_dir, "documents"))
    stats = spark.read.parquet(f"{staged}/stats")
    decon = spark.read.parquet(f"{staged}/decon")
    return d, stats, decon


def _nb_gate_front(d, decon):
    """v3's and v4's front of the model gate: (lgate, w, prior, thr).

    lgate is the length gate on the cleaned token counts. It depends only
    on the staged decon frame, not on the NB chain, so its fill runs on a
    driver thread CONCURRENTLY with the fit/threshold fills (r15, guide
    §2.6 "overlap independent jobs": the serial fills left most of the
    box idle). The NB is fit on the RAW corpus (quality_nb's exact
    contract, via _nb_fit) and its keep threshold picked from the
    held-out PR curve (_nb_threshold). Every frame is an eager share: the
    funnel's broadcast branches race cold caches (r14)."""
    from data_transform_spark.pipeline.curation import _nb_fit, _nb_threshold

    lgate_f = submit(
        lambda: share(
            decon.filter(F.col("n_tok").between(E2E_MIN_TOK, E2E_MAX_TOK)),
            eager=True,
        )
    )
    d0 = d.select("doc_id", F.split("text", " ").alias("toks"))
    lab, tok, w, prior = _nb_fit(d0)
    # SHARE POINT: w feeds the held-out calibration scoring AND the
    # cleaned-corpus gate scoring — persist or the fit aggregate runs twice.
    w = share(w, eager=True)
    score = (
        tok.join(F.broadcast(w), "tok", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce("wu", F.lit(0))).cast("long").alias("su"))
    )
    scored = (
        lab.join(score, "doc_id")
        .crossJoin(F.broadcast(prior))
        .select(
            "doc_id",
            "is_train",
            "label",
            (F.col("su") + F.col("pu")).cast("long").alias("logit_u"),
        )
    )
    # SHARE POINT: the 1-row threshold — its lineage is the whole held-out
    # scoring pass; persisting collapses that to one execution
    thr = share(_nb_threshold(scored), eager=True)
    return lgate_f.result(), w, prior, thr


def _e2e_sampled(gated):
    """Temperature sampling from the GATED source distribution: the
    content-stable keep decision against the per-source rates."""
    from data_transform_spark.pipeline.curation import _temperature_rates, _u01

    return (
        gated.join(F.broadcast(_temperature_rates(gated, "source")), "source")
        .filter(_u01(F.col("doc_id"), ":e2e") < F.col("rate"))
        .select("doc_id", "source", "n_tok")
    )


def _pack_summary(sampled):
    """Deterministic md5 shard, then PER-SHARD sequence packing
    (PACK_BUDGET-token packs), as the capstones' 1-row summary: n_sampled,
    tokens_out, n_packs, n_shards and the sampled_md5 pin."""
    from data_transform_spark.pipeline.training import PACK_BUDGET

    w_pack = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sampled.select(
        "doc_id", "n_tok", md5_shard(E2E_SHARDS).alias("shard")
    ).select(
        "doc_id",
        "n_tok",
        "shard",
        F.floor(
            F.coalesce(F.sum("n_tok").over(w_pack), F.lit(0)) / PACK_BUDGET
        )
        .cast("long")
        .alias("pack_id"),
    )
    return packed.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias("tokens_out"),
        F.countDistinct("shard", "pack_id").cast("long").alias("n_packs"),
        F.countDistinct("shard").cast("long").alias("n_shards"),
        # verification pin, fixture-tier by design: collecting every
        # sampled doc_id into one row is how the HASH proves the exact
        # survivor set — at 100 TB you drop this column (or md5 per shard
        # and hash the 8 shard digests); the funnel counts stay cheap
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("sampled_md5"),
    )


def _funnel(d, stats, decon, *stages):
    """The capstones' report: the prefix counts (n_docs, n_substr_clean,
    n_neardup_surv, n_decontaminated) followed by ``stages``, each a
    1-row frame, folded as broadcast crossJoins — every count rides
    in-plan, no driver .count() anywhere."""
    row = (
        d.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(stats.select("n_substr_clean")))
        .crossJoin(F.broadcast(stats.select("n_neardup_surv")))
        .crossJoin(
            F.broadcast(decon.agg(F.count(F.lit(1)).alias("n_decontaminated")))
        )
    )
    for stage_row in stages:
        row = row.crossJoin(F.broadcast(stage_row))
    return row


@register("pipeline_e2e_llm", oracle=_e2e_llm_oracle())
def pipeline_e2e_llm(spark, sf_dir):
    """LLM-curation capstone v2 (r8 VERDICT #4) — the round-8/9 tiers
    chained the way a real corpus run chains them, in ONE lazy plan:

      substring dedup (Lee et al. spans, corpus-wide first-occurrence
      wins) → near-dup removal (MinHash-LSH candidates + exact shingle
      Jaccard >= tau, first-wins survivor policy) → benchmark
      decontamination (8-gram overlap vs the doc_id%97 benchmark set,
      benchmark docs themselves excluded) → quality gates on the CLEANED
      text (length + Gopher dup-word/top-bigram) → temperature sampling
      (rates derived from the gated source distribution, α=0.7,
      content-stable keep decisions) → per-shard sequence packing
      (PACK_BUDGET-token packs) → deterministic md5 sharding.

    The output is the funnel report (the pipeline_funnel idiom): one row,
    every stage count as a broadcast 1-row aggregate riding in-plan —
    no driver .count() anywhere — plus tokens_out, pack/shard counts, and
    an md5 pin of the exact sampled doc_id set (so the hash proves WHICH
    documents survived, not just how many).

    Stage-policy notes (deliberate, documented):
    - Near-dup survivor selection here is FIRST-WINS (drop every doc_b of
      a verified pair — each pair is canonical doc_a < doc_b): one
      broadcast anti join, fully lazy, replayable in plain SQL. It differs
      from connected-component min-label survivors (dedup_near_survivors)
      on chain-shaped clusters where a doc's only earlier duplicate was
      itself dropped; full CC needs an iterative fixpoint (a driver loop),
      which would break the one-plan contract — the CC policy remains
      available as the registered dedup_near_survivors key.
    - Packing is PER SHARD (shard-keyed window), not global: each shard
      is an independently-written output file, and the keyed window
      scales where a global cum-sum window would serialize (the
      pack_sequences key documents the same trade).
    - At 100 TB: one corpus scan feeds the substring-dedup fingerprints
      and token positions; the LSH candidate stage shuffles cleaned docs
      once by band; bench grams and sampling rates are broadcast-sized;
      the gates are row-local on the cleaned text; everything after the
      gated frame is metadata-narrow (doc_id, source, n_tok).
    """
    d, _stats, decon = _e2e_prefix_staged(spark, sf_dir)

    # 4. gates on the cleaned text: length + Gopher repetition
    base = decon.select(
        "doc_id", "source", "n_tok", F.split("text", " ").alias("ts")
    )
    grams2 = F.when(
        F.size("ts") >= 2,
        F.expr(
            "transform(sequence(1, size(ts) - 1),"
            " i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    top_bi = (
        base.select("doc_id", F.explode(grams2).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bi"))
    )
    dup_frac = (F.col("n_tok") - F.size(F.array_distinct("ts"))) / F.col("n_tok")
    bi_frac = F.coalesce(
        (F.col("max_bi") * 2).cast("double") / F.col("n_tok"), F.lit(0.0)
    )
    # SHARE POINT: gated (metadata-narrow) feeds the sampling-rate
    # aggregate, the sampled join, and the c4 count — caching it stops the
    # decontamination grams + Gopher bigram explode from re-running per
    # funnel branch. Measured r14: the eager-checkpoint variant is +33%
    # CPU here — the gate lineage above the staged prefix is shallow, so
    # the lazy persist wins (unlike the v3/v4 NB chains).
    gated = share(
        base.join(top_bi, "doc_id", "left")
        .filter(
            F.col("n_tok").between(E2E_MIN_TOK, E2E_MAX_TOK)
            & (dup_frac <= E2E_DUP_FRAC)
            & (bi_frac <= E2E_BI_FRAC)
        )
        .select("doc_id", "source", "n_tok")
    )

    # 5-7. temperature sampling → md5 shard → per-shard packing
    return _funnel(
        d,
        _stats,
        decon,
        gated.agg(F.count(F.lit(1)).alias("n_gated")),
        _pack_summary(_e2e_sampled(gated)),
    )


def _e2e_llm_v3_oracle() -> str:
    """v3 twin: the v2 funnel prefix (stages 1-3, verbatim CTEs) composed
    with the quality_nb fit CTEs and the PR-curve threshold pick, gating
    on the TRAINED model score instead of the Gopher heuristics."""
    from data_transform_spark.pipeline.curation import (
        _QNB_CTE_SQL,
        NB_GATE_PRECISION,
        TEMP_ALPHA,
    )
    from data_transform_spark.pipeline.training import PACK_BUDGET

    return f"""
    WITH {_QNB_CTE_SQL},
    held AS (
        SELECT doc_id, label, logit_u,
               row_number() OVER (ORDER BY logit_u DESC, doc_id) AS rn
        FROM scored WHERE NOT is_train
    ),
    nh AS (SELECT count(*) AS n FROM held),
    bk AS (SELECT ((rn - 1) * 10) // n + 1 AS bucket, label, logit_u
           FROM held, nh),
    pbk AS (
        SELECT bucket, count(*) AS n_docs,
               sum(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos,
               min(logit_u) AS min_logit
        FROM bk GROUP BY bucket
    ),
    cumk AS (
        SELECT bucket,
               round(sum(n_pos) OVER (ORDER BY bucket) * 1.0
                     / sum(n_docs) OVER (ORDER BY bucket), 6) AS prec,
               min(min_logit) OVER (ORDER BY bucket) AS cum_min
        FROM pbk
    ),
    thr AS (
        SELECT coalesce(
                   min(CASE WHEN prec >= {NB_GATE_PRECISION} THEN cum_min END),
                   min(CASE WHEN bucket = 1 THEN cum_min END)) AS thr_u
        FROM cumk
    ),
    {_e2e_prefix_ctes()}
    lgate AS MATERIALIZED (
        SELECT doc_id, source, n_tok, text FROM decon
        WHERE n_tok BETWEEN {E2E_MIN_TOK} AND {E2E_MAX_TOK}
    ),
    ctok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM lgate),
    cscore AS (
        SELECT c.doc_id, CAST(sum(coalesce(w.wu, 0)) AS BIGINT) AS su
        FROM ctok c LEFT JOIN w USING (tok) GROUP BY c.doc_id
    ),
    mgate AS MATERIALIZED (
        SELECT l.doc_id, l.source, l.n_tok
        FROM lgate l JOIN cscore cs USING (doc_id), prior p, thr t
        WHERE cs.su + p.pu >= t.thr_u
    ),
    cnt AS (SELECT source, count(*) AS n FROM mgate GROUP BY source),
    tt AS (SELECT sum(n) AS t FROM cnt),
    wsrc AS (SELECT source, ROUND(pow(n * 1.0 / t, {TEMP_ALPHA} - 1), 6) AS wr
             FROM cnt, tt),
    rates AS (SELECT source, ROUND(wr / (SELECT max(wr) FROM wsrc), 6) AS rate
              FROM wsrc),
    sampled AS MATERIALIZED (
        SELECT g.doc_id, g.source, g.n_tok
        FROM mgate g JOIN rates r USING (source)
        WHERE {_E2E_U01} < r.rate
    ),
    pshard AS (
        SELECT doc_id, n_tok,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS BIGINT) % {E2E_SHARDS} AS shard
        FROM sampled
    ),
    packed AS MATERIALIZED (
        SELECT doc_id, n_tok, shard,
               CAST(floor(COALESCE(sum(n_tok) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   / {PACK_BUDGET}) AS BIGINT) AS pack_id
        FROM pshard
    )
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT count(*) FROM cleaned) AS n_substr_clean,
           (SELECT count(*) FROM surv) AS n_neardup_surv,
           (SELECT count(*) FROM decon) AS n_decontaminated,
           (SELECT count(*) FROM lgate) AS n_len_gated,
           (SELECT count(*) FROM mgate) AS n_model_gated,
           (SELECT CAST(thr_u AS BIGINT) FROM thr) AS thr_u,
           (SELECT count(*) FROM packed) AS n_sampled,
           (SELECT CAST(COALESCE(sum(n_tok), 0) AS BIGINT) FROM packed)
               AS tokens_out,
           (SELECT CAST(count(DISTINCT (shard, pack_id)) AS BIGINT) FROM packed)
               AS n_packs,
           (SELECT CAST(count(DISTINCT shard) AS BIGINT) FROM packed)
               AS n_shards,
           (SELECT md5(COALESCE(string_agg(CAST(doc_id AS VARCHAR), ','
                                           ORDER BY doc_id), ''))
            FROM packed) AS sampled_md5
    """


@register("pipeline_e2e_llm_v3", oracle=_e2e_llm_v3_oracle())
def pipeline_e2e_llm_v3(spark, sf_dir):
    """LLM-curation capstone v3 (r10 VERDICT #1): the fastText recipe
    closed end-to-end — the TRAINED quality classifier replaces the
    heuristic gates. Stages 1-3 are v2's, verbatim (_e2e_prefix:
    substring dedup → near-dup removal → decontamination); then:

      4. LENGTH gate on the cleaned token counts (row-local, kept from
         v2 — length is a validity bound, not a quality model), and
      5. MODEL gate: quality_nb's integer-micronat NB is fit in-plan on
         the raw corpus (md5 train split, keyword weak label — the
         quality_nb contract exactly, via the shared _nb_fit), the keep
         THRESHOLD is picked from the held-out PR curve at the
         NB_GATE_PRECISION operating point (_nb_threshold — the
         quality_pr_curve step made operational), and each surviving
         doc's CLEANED text is scored and gated at that threshold; then
      6-8. temperature sampling / md5 sharding / per-shard packing, from
         the MODEL-gated distribution (v2's stages, unchanged shapes).

    The funnel row extends v2's with n_len_gated, n_model_gated AND the
    picked thr_u itself — the hash pins the calibration decision, both
    gate counts, and the exact surviving doc_id set (sampled_md5).

    Why both capstones stay registered: v2 is the heuristic-gate pipeline
    (Gopher repetition rules — zero training, the bootstrap run every
    corpus does first); v3 is the model-gated pipeline a production
    curation loop graduates to once a scorer exists. Policy differences
    and everything they imply for counts are therefore deliberate.

    Scale shape, beyond v2's: the NB fit adds one token-keyed count
    aggregate over the raw corpus (vocab-sized output, broadcast back);
    the threshold pick runs on the HELD-OUT sample only (eval-set-sized
    single-partition window — the quality_pr_curve posture, documented
    there); corpus scoring is one broadcast-weights join + doc-keyed sum
    over the already-length-gated survivors. Share points: the weight
    frame (feeds held-out calibration AND corpus scoring), the 1-row
    threshold, both gate frames."""
    d, _stats, decon = _e2e_prefix_staged(spark, sf_dir)

    # 4-5a. length gate, NB fit and PR-curve threshold
    lgate, w, prior, thr = _nb_gate_front(d, decon)

    # 5b. model gate: score the CLEANED text, keep logit >= threshold
    ctok = lgate.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    cscore = (
        ctok.join(F.broadcast(w), "tok", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce("wu", F.lit(0))).cast("long").alias("su"))
    )
    mgate = share(
        lgate.join(cscore, "doc_id")
        .crossJoin(F.broadcast(prior))
        .crossJoin(F.broadcast(thr))
        .filter(F.col("su") + F.col("pu") >= F.col("thr_u"))
        .select("doc_id", "source", "n_tok"),
        eager=True,
    )

    # 6-8. sampling / sharding / packing from the MODEL-gated distribution
    return _funnel(
        d,
        _stats,
        decon,
        lgate.agg(F.count(F.lit(1)).alias("n_len_gated")),
        mgate.agg(F.count(F.lit(1)).alias("n_model_gated")),
        thr.select(F.col("thr_u").cast("long").alias("thr_u")),
        _pack_summary(_e2e_sampled(mgate)),
    )


def _e2e_llm_v4_oracle() -> str:
    """v4 twin: built FROM the verified v3 oracle by explicit surgery —
    everything up to (not including) v3's `mgate` CTE is shared verbatim
    (funnel stages 1-4 + the NB fit/threshold + cscore), then v4 swaps
    the single model gate for the 2-of-3 COMMITTEE (NB-at-threshold,
    Gopher rules on the CLEANED text, DSIR-fit-on-raw scored on the
    cleaned text) and re-uses v3's sampling/shard/pack tail against the
    committee-gated set."""
    from data_transform_spark.pipeline.curation import (
        _GOPHER_STOP_SQL,
        _QNB_POS_SQL,
        _QNB_NEG_SQL,
        DSIR_BUCKETS,
        GOPHER_MAX_DUP_UNIGRAM,
        GOPHER_MAX_MWL,
        GOPHER_MIN_MWL,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
        GOPHER_MAX_WORDS,
        TEMP_ALPHA,
    )
    from data_transform_spark.pipeline.training import PACK_BUDGET

    v3 = _e2e_llm_v3_oracle()
    marker = "mgate AS MATERIALIZED"
    prefix = v3[: v3.index(marker)].rstrip().rstrip(",")
    return f"""{prefix},
    m_nb AS MATERIALIZED (
        SELECT l.doc_id, (cs.su + p.pu >= t.thr_u) AS pass_nb
        FROM lgate l JOIN cscore cs USING (doc_id), prior p, thr t
    ),
    m_rules AS MATERIALIZED (
        SELECT doc_id,
               (len(t) BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
               AND (ROUND((length(text) - len(t) + 1) * 1.0 / len(t), 6)
                    BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL})
               AND len(list_filter(t, x -> x IN ({_GOPHER_STOP_SQL})))
                   >= {GOPHER_MIN_STOP_HITS}
               AND ROUND((len(t) - len(list_distinct(t))) * 1.0 / len(t), 6)
                   <= {GOPHER_MAX_DUP_UNIGRAM} AS pass_rules
        FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM lgate)
    ),
    dlab AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(list_filter(string_split(text, ' '),
                               x -> x IN ({_QNB_POS_SQL})))
             > len(list_filter(string_split(text, ' '),
                               x -> x IN ({_QNB_NEG_SQL}))) AS is_target
        FROM documents
    ),
    dtok AS (
        SELECT doc_id, is_target,
               CAST(('0x' || substring(md5(tok), 1, 3)) AS BIGINT)
                   % {DSIR_BUCKETS} AS b
        FROM (SELECT doc_id, is_target, unnest(toks) AS tok FROM dlab)
    ),
    draw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM dtok GROUP BY b),
    dtgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM dtok
             WHERE is_target GROUP BY b),
    dtot AS (
        SELECT CAST(sum(cr) AS BIGINT) AS nr,
               CAST((SELECT sum(ct) FROM dtgt) AS BIGINT) AS nt
        FROM draw
    ),
    dw AS (
        SELECT draw.b,
               CAST(round((ln(CAST(COALESCE(dtgt.ct, 0) + 1 AS DOUBLE))
                           - ln(CAST(nt + {DSIR_BUCKETS} AS DOUBLE))
                           - ln(CAST(draw.cr + 1 AS DOUBLE))
                           + ln(CAST(nr + {DSIR_BUCKETS} AS DOUBLE)))
                          * 1000000, 0) AS BIGINT) AS wu
        FROM draw LEFT JOIN dtgt USING (b), dtot
    ),
    dscore AS MATERIALIZED (
        SELECT doc_id, CAST(sum(dw.wu) AS BIGINT) AS sd
        FROM (SELECT doc_id,
                     CAST(('0x' || substring(md5(tok), 1, 3)) AS BIGINT)
                         % {DSIR_BUCKETS} AS b
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM lgate))
        JOIN dw USING (b) GROUP BY doc_id
    ),
    cgate AS MATERIALIZED (
        SELECT l.doc_id, l.source, l.n_tok
        FROM lgate l
        JOIN m_nb USING (doc_id)
        JOIN m_rules USING (doc_id)
        JOIN dscore USING (doc_id)
        WHERE (CASE WHEN pass_nb THEN 1 ELSE 0 END
               + CASE WHEN pass_rules THEN 1 ELSE 0 END
               + CASE WHEN sd >= 0 THEN 1 ELSE 0 END) >= 2
    ),
    cnt AS (SELECT source, count(*) AS n FROM cgate GROUP BY source),
    tt AS (SELECT sum(n) AS t FROM cnt),
    wsrc AS (SELECT source, ROUND(pow(n * 1.0 / t, {TEMP_ALPHA} - 1), 6) AS wr
             FROM cnt, tt),
    rates AS (SELECT source, ROUND(wr / (SELECT max(wr) FROM wsrc), 6) AS rate
              FROM wsrc),
    sampled AS MATERIALIZED (
        SELECT g.doc_id, g.source, g.n_tok
        FROM cgate g JOIN rates r USING (source)
        WHERE {_E2E_U01} < r.rate
    ),
    pshard AS (
        SELECT doc_id, n_tok,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS BIGINT) % {E2E_SHARDS} AS shard
        FROM sampled
    ),
    packed AS MATERIALIZED (
        SELECT doc_id, n_tok, shard,
               CAST(floor(COALESCE(sum(n_tok) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   / {PACK_BUDGET}) AS BIGINT) AS pack_id
        FROM pshard
    )
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT count(*) FROM cleaned) AS n_substr_clean,
           (SELECT count(*) FROM surv) AS n_neardup_surv,
           (SELECT count(*) FROM decon) AS n_decontaminated,
           (SELECT count(*) FROM lgate) AS n_len_gated,
           (SELECT CAST(sum(CASE WHEN pass_nb THEN 1 ELSE 0 END) AS BIGINT)
            FROM m_nb) AS n_gate_nb,
           (SELECT CAST(sum(CASE WHEN pass_rules THEN 1 ELSE 0 END) AS BIGINT)
            FROM m_rules) AS n_gate_rules,
           (SELECT CAST(sum(CASE WHEN sd >= 0 THEN 1 ELSE 0 END) AS BIGINT)
            FROM dscore) AS n_gate_dsir,
           (SELECT count(*) FROM cgate) AS n_committee_gated,
           (SELECT CAST(thr_u AS BIGINT) FROM thr) AS thr_u,
           (SELECT count(*) FROM packed) AS n_sampled,
           (SELECT CAST(COALESCE(sum(n_tok), 0) AS BIGINT) FROM packed)
               AS tokens_out,
           (SELECT CAST(count(DISTINCT (shard, pack_id)) AS BIGINT) FROM packed)
               AS n_packs,
           (SELECT CAST(count(DISTINCT shard) AS BIGINT) FROM packed)
               AS n_shards,
           (SELECT md5(COALESCE(string_agg(CAST(doc_id AS VARCHAR), ','
                                           ORDER BY doc_id), ''))
            FROM packed) AS sampled_md5
    """


@register("pipeline_e2e_llm_v4", oracle=_e2e_llm_v4_oracle())
def pipeline_e2e_llm_v4(spark, sf_dir):
    """LLM-curation capstone v4: the COMMITTEE-gated pipeline — v3's
    funnel (substring dedup → near-dup removal → decontamination →
    length gate → NB fit + PR-curve threshold) with the single model
    gate replaced by the 2-of-3 quality committee of quality_ensemble,
    evaluated on the CLEANED text: NB-at-threshold (trained signal),
    Gopher rules (heuristic signal; the 4 frame-generic rules — the
    bigram-fold rule stays in the standalone key), and DSIR
    (distribution-match signal, fit on the raw corpus via the shared
    _dsir_fit). Docs pass with ≥2 votes; sampling/sharding/packing then
    run from the committee-gated distribution. The funnel row pins each
    member's pass count, the committee count, the threshold, and the
    exact shipped doc_id set (sampled_md5).

    Why a fourth capstone: v2 = heuristics only (bootstrap), v3 = one
    trained gate (the fastText recipe), v4 = the agreement gate real
    pipelines converge on once MULTIPLE signals exist — each member's
    false positives are uncorrelated, so 2-of-3 keeps precision without
    a single point of failure. Scale adds over v3: the DSIR fit's one
    bucket-keyed count (1024 groups, broadcast back) and two map-only
    member evaluations — the committee itself is three narrow hash
    joins. Oracle: v3's verified prefix SHARED VERBATIM by string
    surgery at the mgate marker, plus member CTEs and the retargeted
    tail."""
    from data_transform_spark.pipeline.curation import (
        _dsir_bucket,
        _dsir_fit,
        GOPHER_MAX_DUP_UNIGRAM,
        GOPHER_MAX_MWL,
        GOPHER_MIN_MWL,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
        GOPHER_MAX_WORDS,
        GOPHER_STOPWORDS,
        QNB_NEG,
        QNB_POS,
    )

    d, _stats, decon = _e2e_prefix_staged(spark, sf_dir)

    # the DSIR fit (member 3's weights) is independent of the NB chain —
    # fill it on a driver thread CONCURRENTLY with the length-gate and
    # fit/threshold fills of v3's front (r15, guide §2.6)
    dlab = d.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        (
            F.size(F.filter(F.split("text", " "), lambda x: x.isin(*QNB_POS)))
            > F.size(F.filter(F.split("text", " "), lambda x: x.isin(*QNB_NEG)))
        ).alias("is_target"),
    )
    def _dw_fill():
        # the whole DSIR fit runs on this thread: _dsir_fit's internal
        # bucket-count fill (r15) plus the weight checkpoint
        _, dw0 = _dsir_fit(dlab)
        return share(dw0, eager=True)

    dw_f = submit(_dw_fill)

    # length gate, NB fit on the raw corpus + PR-curve threshold
    lgate, w, prior, thr = _nb_gate_front(d, decon)

    # members 1+3 in ONE pass (r15, VERDICT #2 / guide §2.4 "aggregate
    # before you shuffle"): the NB weight lookup (broadcast join on tok)
    # and the DSIR bucket lookup (broadcast join on b) are independent
    # many-to-one joins over the SAME cleaned-text token explode, so one
    # explode + ONE doc-keyed aggregate produces both signals together —
    # the committee's two corpus explode+aggregate chains (and their two
    # eager fills) collapse into one. Signal equivalence: ``su`` sums the
    # identical rows (both broadcast sides are unique on their key, so
    # row multiplicity is unchanged); ``sd`` sums dw matches only (SUM
    # skips the left join's nulls, matching the old inner join), and
    # ``nd`` (matched count) reproduces the old dscore's MEMBERSHIP —
    # a doc appeared iff >= 1 of its token buckets was in dw.
    dw = dw_f.result()
    ctok = lgate.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    # SHARE POINT (r14/r15): the combined score frame feeds the committee
    # join AND the g1/g3 count branches.
    mscore = share(
        ctok.select("doc_id", "tok", _dsir_bucket("tok").alias("b"))
        .join(F.broadcast(w), "tok", "left")
        .join(F.broadcast(dw.withColumnRenamed("wu", "dwu")), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce("wu", F.lit(0))).cast("long").alias("su"),
            F.sum("dwu").cast("long").alias("sd"),
            F.count("dwu").alias("nd"),
        ),
        eager=True,
    )

    # member 1: NB at the picked threshold — mscore covers exactly the
    # lgate docs (split() yields >= 1 token for every text), so the old
    # lgate equi-join added nothing; both derivations below are cheap
    # scans of the one checkpointed frame.
    m_nb = (
        mscore.crossJoin(F.broadcast(prior))
        .crossJoin(F.broadcast(thr))
        .select(
            "doc_id",
            (F.col("su") + F.col("pu") >= F.col("thr_u")).alias("pass_nb"),
        )
    )

    # member 2: Gopher rules (frame-generic 4-rule form) on the CLEANED text
    toks = F.split("text", " ")
    n_words = F.size(toks)
    mwl = F.round((F.length("text") - n_words + 1) * 1.0 / n_words, 6)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*GOPHER_STOPWORDS)))
    dup_frac = F.round(
        (n_words - F.size(F.array_distinct(toks))) * 1.0 / n_words, 6
    )
    m_rules = lgate.select(
        "doc_id",
        (
            n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
            & mwl.between(GOPHER_MIN_MWL, GOPHER_MAX_MWL)
            & (stop_hits >= GOPHER_MIN_STOP_HITS)
            & (dup_frac <= GOPHER_MAX_DUP_UNIGRAM)
        ).alias("pass_rules"),
    )

    # member 3: DSIR (fit filled above, concurrently with the NB chain) —
    # the old inner-join membership via the matched-count filter
    dscore = mscore.filter(F.col("nd") > 0).select("doc_id", "sd")

    votes = (
        F.when(F.col("pass_nb"), 1).otherwise(0)
        + F.when(F.col("pass_rules"), 1).otherwise(0)
        + F.when(F.col("sd") >= 0, 1).otherwise(0)
    )
    cgate = share(
        lgate.join(m_nb, "doc_id")
        .join(m_rules, "doc_id")
        .join(dscore, "doc_id")
        .filter(votes >= 2)
        .select("doc_id", "source", "n_tok"),
        eager=True,
    )

    # each member's pass count, then sampling / sharding / packing from
    # the committee-gated distribution
    g1 = m_nb.agg(
        F.sum(F.when(F.col("pass_nb"), 1).otherwise(0)).cast("long").alias("n_gate_nb")
    )
    g2 = m_rules.agg(
        F.sum(F.when(F.col("pass_rules"), 1).otherwise(0))
        .cast("long")
        .alias("n_gate_rules")
    )
    g3 = dscore.agg(
        F.sum(F.when(F.col("sd") >= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_gate_dsir")
    )
    return _funnel(
        d,
        _stats,
        decon,
        lgate.agg(F.count(F.lit(1)).alias("n_len_gated")),
        g1,
        g2,
        g3,
        cgate.agg(F.count(F.lit(1)).alias("n_committee_gated")),
        thr.select(F.col("thr_u").cast("long").alias("thr_u")),
        _pack_summary(_e2e_sampled(cgate)),
    )
