"""§2.K — training-data preparation utilities (SURVEY.md north star).

The reproducibility rule for every op here: any sampling/splitting decision
is a pure function of content-stable md5 hashes (identical hex in both
engines, stable across runs/partitions/cluster sizes) — never engine-native
hash functions or nondeterministic `df.sample()`. That is the property a
100 TB training-data pipeline needs to rebuild byte-identical datasets.
"""

from __future__ import annotations

import heapq
from collections import Counter

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_transform_spark.io import load_events, load_table
from data_transform_spark.registry import register

# Content-stable bucket in [0, 100): first 8 md5 hex chars of the id.
# A 32-bit prefix makes the %100 folding bias ~2e-8 (vs 0.15% with the old
# 16-bit prefix — round-3 ADVICE); buckets are uniform for any practical N.
_SQL_BUCKET = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)


def _bucket(col):
    """0..99 deterministic bucket from the 32-bit md5 prefix of the id."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long") % 100
    )


@register(
    "sample_stratified",
    oracle=f"""
    SELECT lang,
           count(*) AS n_total,
           count(*) FILTER (WHERE {_SQL_BUCKET} < 20) AS n_sampled
    FROM documents
    GROUP BY lang
    """,
)
def sample_stratified(spark, sf_dir):
    """Per-language ~20% sample with per-stratum accounting.

    The hash bucket is uniform within every stratum by construction, so each
    language is sampled at the same rate without a per-stratum pass — unlike
    df.sampleBy, the selection is reproducible across engines and cluster
    sizes. Output proves the stratification (per-lang totals + sampled)."""
    d = load_table(spark, sf_dir, "documents")
    sampled = F.when(_bucket(F.col("doc_id")) < 20, 1).otherwise(0)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(sampled).alias("n_sampled"),
    )


@register(
    "split_train_test",
    oracle=f"""
    SELECT CASE WHEN {_SQL_BUCKET} < 80 THEN 'train'
                WHEN {_SQL_BUCKET} < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
)
def split_train_test(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split by content-stable hash.

    A document's split never changes when the corpus grows, is re-sharded,
    or is processed by a different engine — the reproducibility property
    random splits lack. Output: per-split row counts + char volume."""
    d = load_table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split")
    )
    return d.select(split, "n_chars").groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


PACK_BUDGET = 512  # tokens per training sequence pack


@register(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    c AS (
        SELECT doc_id, n_tok,
               sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok
                   AS cum_before
        FROM t
    )
    SELECT CAST(floor(cum_before / {PACK_BUDGET}) AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           round(CAST(sum(n_tok) AS DOUBLE) / {PACK_BUDGET}, 4) AS fill_ratio
    FROM c
    GROUP BY 1
    """,
)
def pack_sequences(spark, sf_dir):
    """Pack documents into ~PACK_BUDGET-token training sequences.

    Streaming cumulative-sum packing in doc_id order: pack_id =
    floor(tokens_before / budget). Deterministic and single-window (one
    shuffle); a straddling doc overflows its pack by at most its own length
    — the standard bounded-overflow concat-then-chunk shape used for LLM
    pretraining batches. This key keeps the single global window so the
    corpus-wide pack numbering is exact (the oracle/fixture tier); the
    100 TB plan — per-md5-shard windows, no single ordering bottleneck —
    is REGISTERED as pack_sequences_sharded (r13 VERDICT #2), which is
    what a cluster run should call."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    c = t.withColumn("cum_before", F.sum("n_tok").over(w) - F.col("n_tok"))
    pack = F.floor(F.col("cum_before") / PACK_BUDGET).cast("long")
    return c.groupBy(pack.alias("pack_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.round(F.sum("n_tok").cast("double") / PACK_BUDGET, 4).alias("fill_ratio"),
    )


@register(
    "pack_concat_chunks",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tok,
               CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED
                                     PRECEDING) - n_tok AS BIGINT)
                   AS start_tok
        FROM t
    )
    SELECT doc_id, n_tok, start_tok,
           CAST(floor(start_tok / {PACK_BUDGET}) AS BIGINT) AS first_pack,
           CAST(floor((start_tok + n_tok - 1) / {PACK_BUDGET}) AS BIGINT)
               AS last_pack,
           CAST(floor((start_tok + n_tok - 1) / {PACK_BUDGET})
                - floor(start_tok / {PACK_BUDGET}) + 1 AS BIGINT)
               AS n_fragments,
           CAST(start_tok % {PACK_BUDGET} AS BIGINT) AS head_offset,
           floor((start_tok + n_tok - 1) / {PACK_BUDGET})
               > floor(start_tok / {PACK_BUDGET}) AS is_split
    FROM c
    """,
)
def pack_concat_chunks(spark, sf_dir):
    """Concat-and-chunk packing with document SPLITTING — the third
    packing discipline next to pack_sequences (bounded overflow, never
    splits) and pack_bestfit (capacity-respecting, never splits): the
    corpus is one token stream in doc_id order, cut every PACK_BUDGET
    tokens, and a document straddling a cut is split across packs — the
    GPT-pretraining default (every pack except the last is exactly full;
    the cost is fragmented documents). Output is the per-document
    fragment ledger a data loader needs and the number people tune
    sequence length with: token interval start, first/last pack,
    fragment count, offset within the first pack, and the split flag
    (the boundary-crossing rate is sum(is_split)/count — derivable from
    this frame).

    Exactness: pure integer arithmetic on a token cumsum — pack ids are
    floor divisions of exact BIGINTs, identical in any engine.

    Scale: the same single global cumsum window as pack_sequences (kept
    here for exact corpus-wide pack numbering at oracle/fixture tier);
    the per-md5-shard plan — which preserves every property except pack
    ids crossing shard boundaries — is REGISTERED as
    pack_concat_chunks_sharded (r13 VERDICT #2)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    c = t.withColumn("start_tok", F.sum("n_tok").over(w) - F.col("n_tok"))
    first = F.floor(F.col("start_tok") / PACK_BUDGET).cast("long")
    last = F.floor(
        (F.col("start_tok") + F.col("n_tok") - 1) / PACK_BUDGET
    ).cast("long")
    return c.select(
        "doc_id",
        "n_tok",
        "start_tok",
        first.alias("first_pack"),
        last.alias("last_pack"),
        (last - first + 1).alias("n_fragments"),
        (F.col("start_tok") % PACK_BUDGET).cast("long").alias("head_offset"),
        (last > first).alias("is_split"),
    )


PACK_SHARDS = 8  # deterministic md5 shards for best-fit packing
# Composite-argmin radix for the oracle's best-fit pick, min(cap*R + idx):
# R must exceed any possible open-bin count per shard or the index term
# bleeds into the capacity term (r12 ADVICE). 1e9 bins/shard ≫ any real
# shard (caps ≤ PACK_BUDGET=512, so cap*R ≤ 5.12e11 — comfortably BIGINT).
PACK_BIN_RADIX = 1_000_000_000

# Shared md5-shard SQL/Spark pair for the *_sharded packers (the
# pack_bestfit shard idiom verbatim — one deterministic, content-stable
# shard rule across every packing discipline).
_PACK_SHARD_SQL = (
    f"CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
    f"AS BIGINT) % {PACK_SHARDS}"
)


def _pack_shard_col():
    return (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % PACK_SHARDS
    ).alias("shard")


@register(
    "pack_sequences_sharded",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_PACK_SHARD_SQL} AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT shard, doc_id, n_tok,
               CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) - n_tok
                    AS BIGINT) AS cum_before
        FROM t
    )
    SELECT shard,
           CAST(floor(cum_before / {PACK_BUDGET}) AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           round(CAST(sum(n_tok) AS DOUBLE) / {PACK_BUDGET}, 4) AS fill_ratio
    FROM c
    GROUP BY 1, 2
    """,
)
def pack_sequences_sharded(spark, sf_dir):
    """pack_sequences with its documented 100 TB plan REGISTERED (r13
    VERDICT #2): the corpus shards by the deterministic md5 rule
    (pack_bestfit's shard idiom) and the cumsum window runs PER SHARD —
    Window.partitionBy(shard), so the physical plan shuffles by shard
    hash and every partition packs independently; NO single-partition
    window exists anywhere in the plan (pinned by test_plans.py). Pack
    ids are per-shard (output carries the shard column); each shard's
    packing is EXACTLY the global discipline applied to its own doc_id-
    ordered sub-stream — the property test replays that equivalence —
    and the only global property given up is pack numbering across
    shards, which a loader never needs (shards feed independent workers).
    Same bounded-overflow semantics, same fill accounting, cluster-width
    parallel instead of one ordering bottleneck."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        _pack_shard_col(),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum_before", F.sum("n_tok").over(w) - F.col("n_tok"))
    pack = F.floor(F.col("cum_before") / PACK_BUDGET).cast("long")
    return c.groupBy("shard", pack.alias("pack_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.round(F.sum("n_tok").cast("double") / PACK_BUDGET, 4).alias(
            "fill_ratio"
        ),
    )


@register(
    "pack_concat_chunks_sharded",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_PACK_SHARD_SQL} AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT shard, doc_id, n_tok,
               CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) - n_tok
                    AS BIGINT) AS start_tok
        FROM t
    )
    SELECT shard, doc_id, n_tok, start_tok,
           CAST(floor(start_tok / {PACK_BUDGET}) AS BIGINT) AS first_pack,
           CAST(floor((start_tok + n_tok - 1) / {PACK_BUDGET}) AS BIGINT)
               AS last_pack,
           CAST(floor((start_tok + n_tok - 1) / {PACK_BUDGET})
                - floor(start_tok / {PACK_BUDGET}) + 1 AS BIGINT)
               AS n_fragments,
           CAST(start_tok % {PACK_BUDGET} AS BIGINT) AS head_offset,
           floor((start_tok + n_tok - 1) / {PACK_BUDGET})
               > floor(start_tok / {PACK_BUDGET}) AS is_split
    FROM c
    """,
)
def pack_concat_chunks_sharded(spark, sf_dir):
    """pack_concat_chunks with the per-md5-shard window REGISTERED (r13
    VERDICT #2): each shard is its own token stream — cut every
    PACK_BUDGET tokens, documents split at cuts — so the fragment ledger
    (start interval, first/last pack, fragment count, head offset, split
    flag) is computed per shard under Window.partitionBy(shard) with NO
    single-partition window in the plan. Per shard the ledger is EXACTLY
    the global discipline on that shard's doc_id-ordered sub-stream
    (property-pinned); pack ids are shard-local, which is what a
    data-parallel loader consumes anyway. Exactness: unchanged — pure
    integer cumsum + floor division."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        _pack_shard_col(),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("start_tok", F.sum("n_tok").over(w) - F.col("n_tok"))
    first = F.floor(F.col("start_tok") / PACK_BUDGET).cast("long")
    last = F.floor(
        (F.col("start_tok") + F.col("n_tok") - 1) / PACK_BUDGET
    ).cast("long")
    return c.select(
        "shard",
        "doc_id",
        "n_tok",
        "start_tok",
        first.alias("first_pack"),
        last.alias("last_pack"),
        (last - first + 1).alias("n_fragments"),
        (F.col("start_tok") % PACK_BUDGET).cast("long").alias("head_offset"),
        (last > first).alias("is_split"),
    )


@register(
    "pack_bestfit",
    oracle=f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % {PACK_SHARDS} AS shard
        FROM documents
    ),
    items AS (
        SELECT shard, doc_id, n_tok,
               row_number() OVER (PARTITION BY shard
                                  ORDER BY n_tok DESC, doc_id) AS t
        FROM t
    ),
    rec(shard, t, n_tok, bin_id, caps) AS (
        SELECT shard, t, n_tok, CAST(0 AS BIGINT),
               [CAST({PACK_BUDGET} - n_tok AS BIGINT)]
        FROM items WHERE t = 1
        UNION ALL
        SELECT i.shard, i.t, i.n_tok,
               CASE WHEN list_min(list_transform(
                        list_filter(generate_series(1, len(r.caps)),
                                    j -> r.caps[j] >= i.n_tok),
                        j -> r.caps[j] * {PACK_BIN_RADIX} + j)) IS NULL
                    THEN CAST(len(r.caps) AS BIGINT)
                    ELSE CAST(list_min(list_transform(
                        list_filter(generate_series(1, len(r.caps)),
                                    j -> r.caps[j] >= i.n_tok),
                        j -> r.caps[j] * {PACK_BIN_RADIX} + j)) % {PACK_BIN_RADIX} - 1 AS BIGINT)
               END,
               CASE WHEN list_min(list_transform(
                        list_filter(generate_series(1, len(r.caps)),
                                    j -> r.caps[j] >= i.n_tok),
                        j -> r.caps[j] * {PACK_BIN_RADIX} + j)) IS NULL
                    THEN list_append(r.caps,
                                     CAST({PACK_BUDGET} - i.n_tok AS BIGINT))
                    ELSE list_transform(generate_series(1, len(r.caps)),
                        j -> CASE WHEN j = list_min(list_transform(
                                 list_filter(generate_series(1, len(r.caps)),
                                             k -> r.caps[k] >= i.n_tok),
                                 k -> r.caps[k] * {PACK_BIN_RADIX} + k))
                                 % {PACK_BIN_RADIX}
                             THEN r.caps[j] - i.n_tok ELSE r.caps[j] END)
               END
        FROM rec r
        JOIN items i ON i.shard = r.shard AND i.t = r.t + 1
    )
    SELECT shard, bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS used_tokens,
           CAST({PACK_BUDGET} - sum(n_tok) AS BIGINT) AS waste,
           CAST(floor((2 * sum(n_tok) * 1000000 + {PACK_BUDGET})
                      / (2.0 * {PACK_BUDGET})) AS BIGINT) AS util_u
    FROM rec
    GROUP BY shard, bin_id
    """,
)
def pack_bestfit(spark, sf_dir):
    """Best-fit-decreasing sequence packing — the utilization-grade
    packer real pretraining pipelines report numbers from (pack_sequences
    is the streaming cumsum baseline whose straddling docs OVERFLOW their
    pack; this one respects capacity strictly). Deterministic: within
    each md5 shard, docs are placed in (n_tok DESC, doc_id ASC) order,
    each into the open bin with the SMALLEST remaining capacity that
    still fits (ties: lowest bin_id); no fit — including a doc longer
    than PACK_BUDGET — opens a new bin. Output per bin: doc count, used
    tokens, waste, and round-half-up micro-unit utilization.

    Exactness: all state is integer token counts; utilization uses the
    shared ⌊(2·s+n)/(2n)⌋ half-up idiom. The DuckDB twin replays the
    bin state as a LIST column in a recursive CTE — the best-fit argmin
    is the integer composite min(cap·PACK_BIN_RADIX + idx) over fitting
    bins (radix 1e9 ≫ any per-shard bin count, so the index can never
    bleed into the capacity term — r12 ADVICE), the
    same float-free selection discipline as the argmax keys.

    Scale: the sequential pass is per-shard (deterministic md5 shard,
    PACK_SHARDS-way parallel; the shard count is a knob — at 100 TB you
    shard to cluster width and each task packs its shard
    independently). State per task is the open-bin capacity array —
    bins-sized, not corpus-sized; packing quality loss vs global BFD is
    negligible because every shard sees the same length distribution."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % PACK_SHARDS
        ).alias("shard"),
    )

    def bfd(pdf: pd.DataFrame) -> pd.DataFrame:
        from bisect import bisect_left, insort

        pdf = pdf.sort_values(
            ["n_tok", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        caps: list[int] = []
        used: list[int] = []
        ndocs: list[int] = []
        # Open bins as a SORTED (cap, bin_id) list (r12 VERDICT #5): the
        # best-fit pick — tightest cap ≥ length, ties lowest bin_id — is
        # exactly the first element ≥ (length, -1), so bisect replaces
        # the O(bins) linear scan per doc (identical argmin semantics:
        # lexicographic (cap, idx) order IS the tie-break rule;
        # property-pinned against the scan in tests).
        by_cap: list[tuple[int, int]] = []
        for length in (int(v) for v in pdf["n_tok"]):
            pos = bisect_left(by_cap, (length, -1))
            if pos == len(by_cap):
                insort(by_cap, (PACK_BUDGET - length, len(caps)))
                caps.append(PACK_BUDGET - length)
                used.append(length)
                ndocs.append(1)
            else:
                cap, best = by_cap.pop(pos)
                insort(by_cap, (cap - length, best))
                caps[best] -= length
                used[best] += length
                ndocs[best] += 1
        shard = int(pdf["shard"].iloc[0])
        return pd.DataFrame(
            {
                "shard": [shard] * len(used),
                "bin_id": list(range(len(used))),
                "n_docs": ndocs,
                "used_tokens": used,
                "waste": [PACK_BUDGET - u for u in used],
                "util_u": [
                    (2 * u * 1_000_000 + PACK_BUDGET) // (2 * PACK_BUDGET)
                    for u in used
                ],
            }
        )

    return t.groupBy("shard").applyInPandas(
        bfd,
        "shard long, bin_id long, n_docs long, used_tokens long, "
        "waste long, util_u long",
    )


TOP_NGRAMS = 20


@register(
    "text_ngram_counts",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
        SELECT t[i] || ' ' || t[i+1] AS bigram
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2
    )
    SELECT bigram, count(*) AS n
    FROM bg
    GROUP BY bigram
    QUALIFY row_number() OVER (ORDER BY count(*) DESC, bigram) <= {TOP_NGRAMS}
    """,
)
def text_ngram_counts(spark, sf_dir):
    """Corpus-level top-K bigram counts (vocabulary/ngram statistics).

    Bigrams via a zip of the token array with its tail (no Python); the
    top-K is tie-broken on the bigram string so the cut is deterministic.
    One token-explode shuffle + one bounded top-K — the vocabulary table
    stays aggregate-sized at any corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = d.filter(F.size(toks) >= 2).select(F.explode(bigrams).alias("bigram"))
    counts = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), "bigram")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_NGRAMS)
        .select("bigram", "n")
    )


@register(
    "embed_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id, label, embedding,
             list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS mx
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, label, mx,
             CASE WHEN mx > 0 THEN 127.0 / mx END AS scale,
             list_transform(embedding,
                v -> CAST(round(CAST(v AS DOUBLE) * (127.0 / mx)) AS BIGINT)) AS qv
      FROM s
    )
    SELECT vec_id, label,
           ROUND(scale, 6) AS scale_r,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
           CAST(list_max(qv) AS BIGINT) AS q_max
    FROM q
    """,
)
def embed_quantize(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column (scale = 127/max|v|).

    The compression step before shipping vectors to an ANN index: per-vector
    scale plus integer codes. Runs entirely in JVM higher-order array
    functions — no Python, no shuffle, linear scan. The checksums (sum, L1,
    max of the int codes) make the whole quantized vector hash-checkable
    without emitting an array column (driver canonicalizer contract).

    float32 -> double widening is exact in both engines and round() is
    half-away-from-zero in both, so codes match bit-for-bit.
    """
    e = load_table(spark, sf_dir, "embeddings")
    vd = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    mx = F.array_max(F.transform(vd, lambda v: F.abs(v)))
    scale = F.when(mx > 0, F.lit(127.0) / mx)
    qv = F.transform(vd, lambda v: F.round(v * scale, 0).cast("long"))
    zero = F.lit(0).cast("long")
    return (
        e.select(
            "vec_id",
            "label",
            F.round(scale, 6).alias("scale_r"),
            F.aggregate(qv, zero, lambda acc, x: acc + x).alias("q_sum"),
            F.aggregate(qv, zero, lambda acc, x: acc + F.abs(x)).alias("q_l1"),
            F.array_max(qv).alias("q_max"),
        )
    )


@register(
    "vocab_build",
    oracle="""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token)
    SELECT token, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INTEGER) - 1 AS token_id
    FROM c
    QUALIFY row_number() OVER (ORDER BY cnt DESC, token) <= 1000
    """,
)
def vocab_build(spark, sf_dir):
    """Frequency-ranked tokenizer vocabulary: top-1000 tokens with stable
    contiguous ids (rank by count desc, token asc — fully deterministic).

    The corpus-wide token count is the only big shuffle; the global
    row_number runs AFTER aggregation on the tiny distinct-token table
    (vocab size, not corpus size), so the single-partition window is cheap
    by construction at any corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), "token")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 1000)
        .select("token", "cnt", (F.col("rn") - 1).cast("int").alias("token_id"))
    )


TOKV_VOCAB = 200  # vocabulary size for the OOV fallback demonstration


@register(
    "tokenize_vocab",
    oracle=f"""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    vocab AS (
        SELECT token FROM c
        QUALIFY row_number() OVER (ORDER BY cnt DESC, token) <= {TOKV_VOCAB}
    ),
    words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT doc_id, count(*) AS n_words,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(sum(CASE WHEN v.token IS NULL THEN length(word) ELSE 1 END)
               AS BIGINT) AS n_tokens
    FROM words w LEFT JOIN vocab v ON v.token = w.word
    GROUP BY doc_id
    """,
)
def tokenize_vocab(spark, sf_dir):
    """Vocabulary-based tokenization with character-level OOV fallback:
    in-vocab words cost one token, out-of-vocab words explode to their
    characters (the WordPiece/BPE degenerate case) — per document: word
    count, OOV count, and the resulting token count.

    The tokenizer-vocab pattern at scale: the vocabulary (top-{TOKV_VOCAB}
    corpus words) is TINY relative to the corpus, so membership is a
    broadcast hash join against the exploded word stream — no shuffle of
    the corpus besides the per-doc re-aggregation, which reuses the doc_id
    partitioning the explode preserved. This is also the honest way to
    budget token counts before a training run without running the real
    tokenizer over 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("token"))
    wv = Window.orderBy(F.col("cnt").desc(), "token")
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") <= TOKV_VOCAB)
        .select("token")
    )
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    return (
        words.join(F.broadcast(vocab), words.word == vocab.token, "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.when(F.col("token").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.sum(
                F.when(F.col("token").isNull(), F.length("word")).otherwise(1)
            )
            .cast("long")
            .alias("n_tokens"),
        )
    )


CURR_BUCKETS = 4


@register(
    "curriculum_buckets",
    oracle=f"""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    ranks AS (
        SELECT token, row_number() OVER (ORDER BY count(*) DESC, token) AS rnk
        FROM tok GROUP BY token
    ),
    words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    scored AS (
        SELECT doc_id,
               round(CAST(sum(r.rnk) AS DOUBLE) / count(*), 4) AS difficulty
        FROM words w JOIN ranks r ON r.token = w.word
        GROUP BY doc_id
    )
    SELECT doc_id, difficulty,
           CAST(ntile({CURR_BUCKETS})
               OVER (ORDER BY difficulty, doc_id) AS INTEGER) AS bucket
    FROM scored
    """,
)
def curriculum_buckets(spark, sf_dir):
    """Curriculum ordering: documents are scored by the unigram-rank
    difficulty proxy (text_unigram_score) and split into {CURR_BUCKETS}
    equal-height stages, easiest first — the standard easy→hard training
    schedule, made reproducible because both the score and the ntile
    boundary rule (difficulty, doc_id tiebreak) are deterministic.

    TWO-PHASE exact ntile (r13 VERDICT #3, replacing the global
    single-partition ntile window): difficulty is round(·,4) of a mean
    unigram rank, so its distinct values are HISTOGRAM-bounded by
    construction (≤ rank-range·1e4, vocabulary-scale — never rows).
    Phase 1 aggregates that histogram and turns it into cumulative
    offsets (a window over the histogram — the only single-partition
    window left, and it is value-bounded); phase 2 computes the global
    row number as offset + row_number within each difficulty partition,
    then assigns SQL-ntile buckets by the closed form (first n mod k
    buckets get ceil(n/k) rows) from the broadcast total. Bit-identical
    to ntile OVER (ORDER BY difficulty, doc_id) — the oracle still runs
    the real ntile, so the 3-SF hash gate proves the equivalence."""
    from data_transform_spark.pipeline.text import text_unigram_score

    scored = text_unigram_score(spark, sf_dir).select(
        "doc_id", F.col("avg_rank").alias("difficulty")
    )
    hist = scored.groupBy("difficulty").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("difficulty").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = hist.select(
        "difficulty",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off"),
    )
    n = hist.agg(F.sum("cnt").cast("long").alias("n"))
    w_in = Window.partitionBy("difficulty").orderBy("doc_id")
    rn = F.col("off") + F.row_number().over(w_in)
    q = F.floor(F.col("n") / CURR_BUCKETS)
    r = F.col("n") % CURR_BUCKETS
    bucket = (
        F.when(rn <= r * (q + 1), F.floor((rn - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rn - r * (q + 1) - 1) / q) + 1)
        .cast("int")
    )
    return (
        scored.join(F.broadcast(offsets), "difficulty")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "difficulty", bucket.alias("bucket"))
    )


SHUFFLE_EPOCH_SEED = "epoch42"  # content-stable epoch salt
SHUFFLE_SHARDS = 8


@register(
    "train_shuffle_epoch",
    oracle=f"""
    SELECT doc_id,
           CAST(row_number() OVER (
               ORDER BY md5(concat('{SHUFFLE_EPOCH_SEED}|',
                                   CAST(doc_id AS VARCHAR)))
           ) AS BIGINT) AS position,
           CAST((row_number() OVER (
               ORDER BY md5(concat('{SHUFFLE_EPOCH_SEED}|',
                                   CAST(doc_id AS VARCHAR)))
           ) - 1) % {SHUFFLE_SHARDS} AS BIGINT) AS shard
    FROM documents
    """,
)
def train_shuffle_epoch(spark, sf_dir):
    """Deterministic global shuffle for a training epoch: every doc gets a
    position in a pseudo-random total order keyed by md5(seed|doc_id) —
    reproducible on any cluster size, new epoch = new salt, no RNG state.
    The global row_number is computed the SCALABLE way: rows bucket by the
    hash's first byte (256 buckets), each bucket numbers its rows locally
    (one partitioned window), and bucket offsets come from a 256-row
    cumulative count joined back by broadcast — never a single-partition
    global window, which is the ordering bottleneck that dies first at
    100 TB. Round-robin over the shuffled order then gives each of the
    8 shards a balanced random sample of the corpus."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    key = F.md5(
        F.concat(F.lit(SHUFFLE_EPOCH_SEED + "|"), F.col("doc_id").cast("string"))
    )
    keyed = d.select("doc_id", key.alias("k"), F.substring(key, 1, 2).alias("bucket"))
    counts = keyed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket", F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("offset")
    )
    w_in = Window.partitionBy("bucket").orderBy("k")
    pos = (F.col("offset") + F.row_number().over(w_in)).cast("long")
    return (
        keyed.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            pos.alias("position"),
            ((pos - 1) % SHUFFLE_SHARDS).cast("long").alias("shard"),
        )
    )


KM_K = 3  # 1-D k-means cluster count


@register(
    "ml_kmeans_1d",
    oracle=f"""
    WITH uv AS (
        SELECT user_id, ROUND(sum(value), 4) AS v
        FROM events GROUP BY user_id
    ),
    bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM uv),
    c0 AS (
        SELECT j, lo + (j + 0.5) * (hi - lo) / {KM_K} AS c
        FROM bounds, unnest([0, 1, 2]) AS t(j)
    ),
    a1 AS (
        SELECT user_id, v, j,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY abs(v - c), j) AS rnk
        FROM uv CROSS JOIN c0
    ),
    c1 AS (
        SELECT j, CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS c
        FROM a1 WHERE rnk = 1 GROUP BY j
    ),
    a2 AS (
        SELECT user_id, v, j,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY abs(v - c), j) AS rnk
        FROM uv CROSS JOIN c1
    )
    SELECT CAST(j AS BIGINT) AS cluster_id, count(*) AS n_users,
           ROUND(CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4)
               AS centroid
    FROM a2 WHERE rnk = 1
    GROUP BY j
    """,
)
def ml_kmeans_1d(spark, sf_dir):
    """Iterative k-means (1-D, k=3) over per-user engagement value — the
    Lloyd's-algorithm shape done EXACTLY reproducibly: deterministic
    range-split init (no RNG), nearest-centroid assignment with a
    (distance, cluster-id) tie-break, and DECIMAL-exact mean recompute so
    the centroids are partition-order independent. Two assignment rounds
    replay as chained CTEs in the oracle — the same bounded-unroll
    technique as graph_label_prop. Each round is one broadcast of the
    k-row centroid frame against the per-user aggregate plus one grouped
    mean: at 100 TB the corpus is scanned once per round and nothing else
    moves, which is exactly how MLlib's k-means iterates (broadcast
    centers + map-side partial sums)."""
    ev = load_events(spark, sf_dir)
    uv = ev.groupBy("user_id").agg(F.round(F.sum("value"), 4).alias("v"))
    b = uv.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    cents = (
        spark.range(KM_K)
        .select(F.col("id").cast("long").alias("j"))
        .crossJoin(F.broadcast(b))
        .select(
            "j",
            (
                F.col("lo")
                + (F.col("j") + 0.5) * (F.col("hi") - F.col("lo")) / KM_K
            ).alias("c"),
        )
    )

    def assign(points, centroids):
        w = Window.partitionBy("user_id").orderBy(
            F.abs(F.col("v") - F.col("c")), "j"
        )
        return (
            points.crossJoin(F.broadcast(centroids))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
        )

    exact_mean = F.sum(F.col("v").cast("decimal(18,4)")).cast("double") / F.count(
        F.lit(1)
    )
    cents = assign(uv, cents).groupBy("j").agg(exact_mean.alias("c"))
    return (
        assign(uv, cents)
        .groupBy(F.col("j").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(exact_mean, 4).alias("centroid"),
        )
    )


BPE_ROUNDS = 8  # learned merge rounds (bounded — replayed by the oracle)

# Most distinct words a tokenizer trainer collects to the driver. Every
# trainer below reads the corpus only through _bpe_words, the word-count
# table, and fits on it in Python. The fixtures hold 31 distinct words; the
# 279,365-word md5 scale corpus (SCALING.md, round 14) fits with room to
# spare, at 1.1-1.6 s per merge round. A natural-language corpus with a
# vocabulary in the millions does not fit: count words on a sample or on a
# pre-tokenized, frequency-pruned table first, as production BPE and
# SentencePiece trainers do. Past the cap the trainer raises
# WordTableTooLarge; it never falls back to a Spark loop.
WORD_TABLE_CAP = 1 << 19

_INT64_MAX = (1 << 63) - 1


class WordTableTooLarge(RuntimeError):
    """The corpus has more distinct words than WORD_TABLE_CAP."""


class WordPieceScoreOverflow(OverflowError):
    """A WordPiece score term left int64, where Spark and DuckDB raise."""


def _bpe_seq0(word_col):
    """Initial BPE symbol sequence of a word: every character wrapped in
    its own single spaces, adjacent symbols therefore separated by TWO
    spaces — ``' c  a  t '``. This layout makes one merge round a plain
    left-to-right string replace: the pair (a, b) occurs as the substring
    ``' a  b '`` ONLY where symbol a is immediately followed by symbol b
    (both anchors are the symbols' own wrapping spaces, so a match can
    never start or end mid-symbol), and because each symbol carries its
    own delimiters, adjacent matches share no characters — replace()'s
    leftmost-non-overlapping scan IS canonical greedy BPE, including the
    a==b run case (' a  a  a  a  a ' -> ' aa  aa  a '). Symbols never
    contain spaces (words come from splitting text ON spaces), so the
    delimiter cannot collide. Python's str.replace scans the same way, so
    the driver-side trainer and the Spark encoder agree by construction."""
    return F.concat(
        F.lit(" "), F.array_join(F.split(word_col, ""), "  "), F.lit(" ")
    )


# DuckDB twin of _bpe_seq0.
_BPE_SEQ0_SQL = (
    "' ' || array_to_string("
    "list_transform(generate_series(1, length(word)), "
    "i -> substring(word, i, 1)), '  ') || ' '"
)


def _bpe_words(spark, sf_dir):
    """Word-frequency table — the ONLY corpus-sized input BPE ever reads.
    Training and encoding both run over distinct words weighted by count
    (vocabulary-sized, not corpus-sized), exactly like Sennrich's
    reference implementation."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bpe_seq0_bytes(word_col):
    """Byte-level seq0 (GPT-2 lineage, Radford et al. 2019): the word's
    UTF-8 bytes, each rendered as a 2-char lowercase hex symbol, in the
    same space-delimited layout as _bpe_seq0 — ``'中a'`` becomes
    ``' e4  b8  ad  61 '``. The base alphabet is therefore at most 256
    symbols and ANY unicode word is representable (no OOV characters —
    the property char-level BPE lacks). Hex symbols never contain
    spaces, so the whole merge-round replace machinery applies
    unchanged; merged symbols are concatenated hex (``'e4b8'``), which
    keeps every token a decodable byte span — unhex(concat(symbols))
    reconstructs the exact original word (round-trip property test)."""
    return F.regexp_replace(
        F.lower(F.hex(F.encode(word_col, "UTF-8"))), "(..)", " $1 "
    )


# DuckDB twin of _bpe_seq0_bytes ('\\1' -> literal backreference \1).
_BPE_BYTES_SEQ0_SQL = (
    "regexp_replace(lower(hex(encode(word))), '(..)', ' \\1 ', 'g')"
)


def _word_table(spark, sf_dir, seq0):
    """[(word, cnt, seq), ...] — the word-count table with each word's
    initial symbol sequence, in ONE collect. ``seq`` is the Spark seq0
    Column's own output, so every alphabet keeps one definition; the
    trainers fold their merges into it with Python's str.replace."""
    rows = (
        _bpe_words(spark, sf_dir)
        .select("word", "cnt", seq0(F.col("word")).alias("seq"))
        .limit(WORD_TABLE_CAP + 1)
        .collect()
    )
    if len(rows) > WORD_TABLE_CAP:
        raise WordTableTooLarge(
            f"{sf_dir}: more than WORD_TABLE_CAP={WORD_TABLE_CAP} distinct "
            "words; a tokenizer trainer fits on the driver"
        )
    return [(r["word"], int(r["cnt"]), r["seq"]) for r in rows]


def _symbols(seq: str) -> list:
    return seq.strip(" ").split("  ")


def _pair_count_score(pairs, _seqs):
    """BPE selection: a pair's score is its corpus count."""
    return {ab: (pc,) for ab, pc in pairs.items()}


def _merge_loop(table, rounds, batch=1, score=_pair_count_score, merged=str.__add__):
    """The one merge loop every BPE-family trainer runs, in Python over a
    _word_table. Each round counts adjacent symbol pairs weighted by word
    count, ``score(pairs, seqs)`` maps each pair to its stats tuple (the
    ranking score last), and the pairs rank by (score DESC, a, b) — integer
    scores and code-point string order, which is UTF-8 byte order, so the
    ranking is the one the DuckDB oracle computes. A greedy scan over the top
    BPE_BATCH_CAND_FACTOR·batch candidates accepts up to ``batch`` pairs,
    skipping a pair when either symbol was consumed OR produced by a pair
    accepted earlier in the round: a merged output can be spelled like a
    pre-existing symbol, and without the output block a later-rank replace
    could consume occurrences an earlier merge created. Disjoint symbol
    sets make the round's replaces commute, so every accepted pair's stats
    are exact at round start. batch=1 is sequential BPE: rank 1 is always
    accepted and the round stops there. The accepted merges fold into the
    sequences as literal ``' a  b '`` -> ``' m '`` replaces (the _bpe_seq0
    layout). Returns [(round, cand_rank, a, b, merged, *stats), ...]."""
    seqs = [(cnt, seq) for _word, cnt, seq in table]
    merges = []
    for r in range(1, rounds + 1):
        syms = [(cnt, _symbols(seq)) for cnt, seq in seqs]
        pairs = Counter()
        for cnt, s in syms:
            for ab in zip(s, s[1:]):
                pairs[ab] += cnt
        stats = score(pairs, syms)
        top = heapq.nsmallest(
            BPE_BATCH_CAND_FACTOR * batch,
            stats,
            key=lambda ab: (-stats[ab][-1], ab),
        )
        if not top:  # degenerate corpus: no adjacent pairs left
            break
        taken: set[str] = set()
        fold = []
        for rk, (a, b) in enumerate(top, start=1):
            if len(fold) == batch:
                break
            if a in taken or b in taken:
                continue
            m = merged(a, b)
            taken.update((a, b, m))
            fold.append((f" {a}  {b} ", f" {m} "))
            merges.append((r, rk, a, b, m, *stats[a, b]))
        for i, (cnt, seq) in enumerate(seqs):
            for old, new in fold:
                seq = seq.replace(old, new)
            seqs[i] = (cnt, seq)
    return merges


def _bpe_train(spark, sf_dir, rounds: int = BPE_ROUNDS, seq0=None):
    """Learn ``rounds`` BPE merges (Sennrich et al. 2016) deterministically:
    each round fuses the most frequent adjacent symbol pair (ties broken
    lexicographically by (a, b)) — _merge_loop with batch=1 over one
    collected word table (chars by default; pass seq0 for another
    alphabet). Returns [(merge_round, a, b, merged, pair_count), ...] as
    plain literals."""
    table = _word_table(spark, sf_dir, seq0 or _bpe_seq0)
    return [(r, a, b, m, pc) for r, _rk, a, b, m, pc in _merge_loop(table, rounds)]


def _replay(seq, merges):
    """Encode: fold learned merges, in learned order, into a seq Column as
    literal replaces (merge priority, not longest match — the defining
    property of BPE encoding). ``merges`` rows start (round, a, b, merged),
    the _bpe_train and _wp_train layout."""
    for _r, a, b, m, *_stats in merges:
        seq = F.replace(seq, F.lit(f" {a}  {b} "), F.lit(f" {m} "))
    return seq


def _n_symbols(seq):
    return F.size(F.split(F.trim(seq), "  "))


def _doc_rollup(spark, sf_dir, wtok, *aggs, by="doc_id"):
    """Per-document rollup of per-word counts: the corpus exploded to
    (doc_id[, by], word) is broadcast-joined to ``wtok``, one row per
    DISTINCT word, then aggregated by ``by`` — the tokenize_vocab shape,
    so no corpus shuffle beyond the rollup itself."""
    d = load_table(spark, sf_dir, "documents")
    dw = d.select(
        *dict.fromkeys(("doc_id", by)),
        F.explode(F.split("text", " ")).alias("word"),
    ).filter(F.col("word") != "")
    return dw.join(F.broadcast(wtok), "word").groupBy(by).agg(*aggs)


def _merge_cte_chain(rounds, seq0_sql, step, ns="", mat="", recursive=False):
    """The DuckDB replay skeleton of _merge_loop: w0 = each distinct word's
    count and initial symbol sequence, then per round the weighted
    adjacent-pair counts p{r} followed by ``step(r)``, the CTEs that pick
    round r's merges into m{r} and fold them into w{r}. ``ns`` prefixes
    every CTE name so several chains compose into ONE query
    (tokenize_bakeoff)."""
    parts = [
        f"""
    WITH {"RECURSIVE " if recursive else ""}{ns}w0 AS{mat} (
        SELECT word, count(*) AS cnt,
               {seq0_sql} AS seq
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> '' GROUP BY word
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    {ns}p{r} AS (
        SELECT s[i] AS a, s[i + 1] AS b, sum(cnt) AS pc
        FROM (SELECT cnt, string_split(trim(seq), '  ') AS s
              FROM {ns}w{r - 1}),
             unnest(generate_series(1, len(s) - 1)) AS t(i)
        GROUP BY 1, 2
    ),{step(r)}""")
    return "".join(parts)


def _replace_cte(r, ns, mat):
    """w{r}: fold round r's single merge m{r} into w{r-1}."""
    return f"""
    {ns}w{r} AS{mat} (
        SELECT word, cnt,
               replace(seq, ' ' || a || '  ' || b || ' ',
                       ' ' || merged || ' ') AS seq
        FROM {ns}w{r - 1}, {ns}m{r}
    )"""


def _bpe_cte_chain(
    rounds: int,
    seq0_sql: str = _BPE_SEQ0_SQL,
    ns: str = "",
    materialized: bool = False,
) -> str:
    """The DuckDB replay of _bpe_train: per round pair counts -> top-1
    merge -> replace, as chained CTEs — the ml_kmeans_1d bounded-unroll
    pattern. Validated against a canonical python BPE implementation
    (greedy leftmost, ties lexicographic) in tests/test_properties.py."""
    mat = " MATERIALIZED" if materialized else ""

    def step(r):
        return f"""
    {ns}m{r} AS{mat} (
        SELECT CAST({r} AS INTEGER) AS merge_round, a, b, a || b AS merged,
               CAST(pc AS BIGINT) AS pair_count
        FROM {ns}p{r} ORDER BY pc DESC, a, b LIMIT 1
    ),{_replace_cte(r, ns, mat)}"""

    return _merge_cte_chain(rounds, seq0_sql, step, ns, mat)


def _merge_table_sql(rounds: int, cols: str, order: str = "merge_round") -> str:
    """Final SELECT of a vocab_* oracle: the per-round m{r} CTEs stacked."""
    return (
        "\n    SELECT * FROM ("
        + "\n    UNION ALL ".join(
            f"SELECT {cols} FROM m{r}" for r in range(1, rounds + 1)
        )
        + f") ORDER BY {order}"
    )


def _doc_rollup_sql(wt: str, aggs: str, by: str = "doc_id") -> str:
    """Final CTE + SELECT of a tokenize_* oracle: ``wt`` holds one row of
    per-word counts per distinct word; the corpus words join it and roll
    up by ``by`` (the _doc_rollup twin)."""
    cols = ", ".join(dict.fromkeys(("doc_id", by)))
    return f""",
    wt AS ({wt})
    SELECT {by}, {aggs}
    FROM (SELECT {cols}, unnest(string_split(text, ' ')) AS word
          FROM documents) dw
    JOIN wt USING (word)
    GROUP BY {by}
"""


_BPE_MERGE_COLS = "merge_round, a AS pair_a, b AS pair_b, merged, pair_count"
_BPE_MERGE_DDL = (
    "merge_round int, pair_a string, pair_b string, merged string, "
    "pair_count long"
)


def _n_bpe_sql(w: str, n_base: str = "length(word) AS n_chars") -> str:
    return (
        f"SELECT word, len(string_split(trim(seq), '  ')) AS n_bpe, "
        f"{n_base} FROM {w}"
    )


_BPE_DOC_AGGS = """count(*) AS n_words,
           CAST(sum(n_chars) AS BIGINT) AS n_char_tokens,
           CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens"""


@register(
    "vocab_bpe",
    oracle=_bpe_cte_chain(BPE_ROUNDS) + _merge_table_sql(BPE_ROUNDS, _BPE_MERGE_COLS),
)
def vocab_bpe(spark, sf_dir):
    """Byte-pair-encoding trainer — the actual LLM-tokenizer family (GPT-2/
    RoBERTa/Llama lineage), one rung above tokenize_vocab's frequency-rank
    vocabulary (r8 VERDICT #3): BPE_ROUNDS deterministic merge rounds over
    the corpus word-frequency table, each picking the most frequent
    adjacent symbol pair (ties lexicographic) and fusing it corpus-wide
    with greedy-leftmost semantics. Output: the learned merge table —
    (merge_round, pair_a, pair_b, merged, pair_count) — the artifact a
    tokenizer ships. The DuckDB oracle replays all rounds as chained CTEs
    (the ml_kmeans_1d pattern); a property test additionally pins the
    whole pipeline against a canonical python BPE on the live fixture.

    Scale shape: ONE corpus scan builds the word-frequency table, which is
    collected once (at most WORD_TABLE_CAP words); the merge rounds run in
    Python on the driver over that table, O(vocab) each and no Spark job —
    the way production BPE trainers (HF tokenizers) count words first and
    merge in memory."""
    return spark.createDataFrame(_bpe_train(spark, sf_dir), _BPE_MERGE_DDL)


@register(
    "tokenize_bpe",
    oracle=_bpe_cte_chain(BPE_ROUNDS)
    + _doc_rollup_sql(_n_bpe_sql(f"w{BPE_ROUNDS}"), _BPE_DOC_AGGS),
)
def tokenize_bpe(spark, sf_dir):
    """Encode with the learned BPE merges: apply the BPE_ROUNDS merges IN
    LEARNED ORDER (the defining property of BPE encoding — merge priority,
    not longest-match) to every distinct word, then broadcast-join the
    per-word token counts back to the exploded corpus. Per document:
    word count, pre-merge character token count, and post-merge BPE token
    count — the compression the tokenizer actually buys.

    Scale shape: training collects the word table once (see _bpe_train);
    encoding is a map over DISTINCT words (replace chain of BPE_ROUNDS
    literals, zero Python) + one broadcast join against the corpus — the
    same broadcast-vocab pattern as tokenize_vocab, so no corpus shuffle
    beyond the per-doc rollup."""
    return _bpe_doc_tokens(spark, sf_dir, _bpe_train(spark, sf_dir))


def _bpe_word_tokens(spark, sf_dir, merges):
    """(word, n_bpe, n_chars) per distinct word under char-BPE merges."""
    seq = _replay(_bpe_seq0(F.col("word")), merges)
    return _bpe_words(spark, sf_dir).select(
        "word", _n_symbols(seq).alias("n_bpe"), F.length("word").alias("n_chars")
    )


def _bpe_doc_tokens(spark, sf_dir, merges):
    """Per document: word, character and char-BPE token counts."""
    return _doc_rollup(
        spark,
        sf_dir,
        _bpe_word_tokens(spark, sf_dir, merges),
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_chars").cast("long").alias("n_char_tokens"),
        F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
    )


@register(
    "vocab_bpe_bytes",
    oracle=_bpe_cte_chain(BPE_ROUNDS, _BPE_BYTES_SEQ0_SQL)
    + _merge_table_sql(BPE_ROUNDS, _BPE_MERGE_COLS),
)
def vocab_bpe_bytes(spark, sf_dir):
    """BYTE-level BPE trainer — the GPT-2-family tokenizer base (Radford
    et al. 2019; vocab_bpe is the char-sequence Sennrich form): symbols
    start as the word's UTF-8 BYTES (a closed 256-symbol base alphabet,
    rendered as 2-char lowercase hex), so any unicode text is coverable
    with zero OOV characters and a merged token is always a decodable
    byte span. Same deterministic merge discipline as vocab_bpe:
    BPE_ROUNDS rounds, most-frequent adjacent pair, ties lexicographic
    on the hex symbols (integer counts + ASCII compare — bit-exact in
    both engines), greedy-leftmost fusing via the space-delimited
    replace layout (_bpe_seq0 invariants hold verbatim: hex symbols
    contain no spaces). Output is the shippable merge table
    (merge_round, pair_a, pair_b, merged, pair_count) over hex symbols.

    Round-trip losslessness — unhex(concat(final symbols)) == the
    original word's bytes, incl. multi-byte (zh) input — is pinned by a
    property test (tests/test_properties.py); the fixture corpus is
    all-ASCII, so the multi-byte case runs on synthetic text there.

    Scale shape: identical to vocab_bpe — ONE corpus scan builds the
    word-frequency table, collected once with Spark's hex rendering of
    each word, then driver-side merge rounds; the hex rendering doubles
    symbol-string bytes but nothing corpus-sized."""
    return spark.createDataFrame(
        _bpe_train(spark, sf_dir, seq0=_bpe_seq0_bytes), _BPE_MERGE_DDL
    )


@register(
    "tokenize_bpe_bytes",
    oracle=_bpe_cte_chain(BPE_ROUNDS, _BPE_BYTES_SEQ0_SQL)
    + _doc_rollup_sql(
        _n_bpe_sql(f"w{BPE_ROUNDS}", "octet_length(encode(word)) AS n_bytes"),
        """count(*) AS n_words,
           CAST(sum(n_bytes) AS BIGINT) AS n_byte_tokens,
           CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens""",
    ),
)
def tokenize_bpe_bytes(spark, sf_dir):
    """Encode with the learned BYTE-level BPE merges (vocab_bpe_bytes),
    applied in learned order to every distinct word — merge priority,
    not longest match — then broadcast-join per-word token counts back
    to the exploded corpus. Per document: word count, pre-merge BYTE
    token count (UTF-8 length — what a 256-alphabet tokenizer starts
    from), and post-merge BPE token count. The byte twin of
    tokenize_bpe; fertility here is tokens-per-BYTE, the number GPT-2-
    style tokenizer evaluations actually report.

    Scale shape: training collects the word table once (_bpe_train);
    encoding is a replace chain of BPE_ROUNDS literals over DISTINCT words
    (zero Python) + one broadcast join — no corpus shuffle beyond the
    per-doc rollup."""
    merges = _bpe_train(spark, sf_dir, seq0=_bpe_seq0_bytes)
    seq = _replay(_bpe_seq0_bytes(F.col("word")), merges)
    wtok = _bpe_words(spark, sf_dir).select(
        "word", _n_symbols(seq).alias("n_bpe"), F.octet_length("word").alias("n_bytes")
    )
    return _doc_rollup(
        spark,
        sf_dir,
        wtok,
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_bytes").cast("long").alias("n_byte_tokens"),
        F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
    )


# --- Batched-merge BPE (r12 VERDICT #3) ---------------------------------
# A sequential trainer decides one merge per round: a 32k-merge vocabulary
# is 32k recounts. Batching picks the top-B NON-OVERLAPPING pairs per round
# — _merge_loop's greedy scan in (count DESC, a, b) rank order over the top
# CAND_FACTOR·B candidates — so a 32k-merge train becomes ~32k/B rounds.
# B=1 degenerates to the sequential trainer EXACTLY (property-pinned in
# tests), because rank-1 is always accepted and the round stops at one
# merge — same selection, same replace.
BPE_BATCH = 4  # merges accepted per round (the "B" knob)
BPE_BATCH_ROUNDS = 3  # demo rounds — 12 merges in 3 rounds
BPE_BATCH_CAND_FACTOR = 8  # greedy scans the top CAND_FACTOR*B candidates


def _bpe_train_batched(spark, sf_dir, rounds: int, batch: int):
    """Batched _bpe_train: _merge_loop over one collected char word table.
    Returns [(round, cand_rank, a, b, merged, pair_count), ...];
    pair_count is the start-of-round count (exact for every accepted pair
    — disjointness means no earlier merge in the round changed it)."""
    return _merge_loop(_word_table(spark, sf_dir, _bpe_seq0), rounds, batch)


def _bpe_batched_cte_chain(rounds: int, batch: int) -> str:
    """DuckDB replay of _bpe_train_batched. Per round: pair counts →
    ranked top-CAND_FACTOR·batch candidates → the greedy-disjoint scan as
    a recursive CTE carrying the accepted-symbol LIST (the pack_bestfit
    list-state pattern; recursion depth ≤ the candidate window and the
    WHERE n_acc < batch guard stops it at quota) → fold the accepted
    replaces with list_reduce (order irrelevant — disjoint — but applied
    in rank order to mirror the driver). Emits ``WITH RECURSIVE``; callers
    append the final SELECT. w0/w{r} are MATERIALIZED: each w feeds both
    the next round's pair counts and the next w (two references), and
    DuckDB's inliner otherwise duplicates the subtree per round —
    measured 142.7 s -> ~13 s on the 10x-fixture oracle check (the
    established chained-CTE trap, SCALING.md round-12 note)."""
    cand = BPE_BATCH_CAND_FACTOR * batch
    blocked = "list_contains(g.taken, c.a) OR list_contains(g.taken, c.b)"

    def step(r):
        return f"""
    c{r} AS (
        SELECT a, b, CAST(pc AS BIGINT) AS pc,
               CAST(row_number() OVER (ORDER BY pc DESC, a, b)
                    AS BIGINT) AS rk
        FROM p{r}
        QUALIFY row_number() OVER (ORDER BY pc DESC, a, b) <= {cand}
    ),
    g{r}(rk, a, b, pc, acc, n_acc, taken) AS (
        SELECT rk, a, b, pc, TRUE, CAST(1 AS BIGINT), [a, b, a || b]
        FROM c{r} WHERE rk = 1
        UNION ALL
        SELECT c.rk, c.a, c.b, c.pc,
               NOT ({blocked}),
               g.n_acc + CASE WHEN {blocked} THEN 0 ELSE 1 END,
               CASE WHEN {blocked} THEN g.taken
                    ELSE list_append(list_append(
                             list_append(g.taken, c.a), c.b), c.a || c.b)
               END
        FROM g{r} g JOIN c{r} c ON c.rk = g.rk + 1
        WHERE g.n_acc < {batch}
    ),
    m{r} AS (
        SELECT CAST({r} AS INTEGER) AS merge_round,
               CAST(rk AS INTEGER) AS cand_rank,
               a AS pair_a, b AS pair_b, a || b AS merged,
               pc AS pair_count
        FROM g{r} WHERE acc
    ),
    mm{r} AS (
        SELECT COALESCE(list(' ' || pair_a || '  ' || pair_b || ' '
                             || chr(1) || ' ' || merged || ' '
                             ORDER BY cand_rank), []) AS prs
        FROM m{r}
    ),
    w{r} AS MATERIALIZED (
        SELECT word, cnt,
               list_reduce(list_prepend(seq, prs),
                   (s2, x) -> replace(s2, string_split(x, chr(1))[1],
                                          string_split(x, chr(1))[2]))
                   AS seq
        FROM w{r - 1}, mm{r}
    )"""

    return _merge_cte_chain(
        rounds, _BPE_SEQ0_SQL, step, mat=" MATERIALIZED", recursive=True
    )


@register(
    "tokenize_bpe_batched",
    oracle=_bpe_batched_cte_chain(BPE_BATCH_ROUNDS, BPE_BATCH)
    + _doc_rollup_sql(_n_bpe_sql(f"w{BPE_BATCH_ROUNDS}"), _BPE_DOC_AGGS),
)
def tokenize_bpe_batched(spark, sf_dir):
    """Encode with the BATCHED trainer's merges — the encoder that makes
    vocab_bpe_batched a usable tokenizer, not just a merge table: merges
    apply in learned order ((round, cand_rank) ascending — within a round
    order is immaterial because the accepted pairs are symbol-disjoint,
    but the deterministic order keeps the replace chain auditable), over
    DISTINCT words, broadcast-joined back to the corpus (the tokenize_bpe
    plan shape verbatim). Per document: word count, character token
    count, post-merge BPE token count."""
    merges = _bpe_train_batched(spark, sf_dir, BPE_BATCH_ROUNDS, BPE_BATCH)
    return _bpe_doc_tokens(
        spark, sf_dir, [(r, a, b, m) for r, _rk, a, b, m, _c in merges]
    )


@register(
    "vocab_bpe_batched",
    oracle=_bpe_batched_cte_chain(BPE_BATCH_ROUNDS, BPE_BATCH)
    + _merge_table_sql(BPE_BATCH_ROUNDS, "*", "merge_round, cand_rank"),
)
def vocab_bpe_batched(spark, sf_dir):
    """Batched-merge BPE trainer — the production-vocabulary shape of
    vocab_bpe (r12 VERDICT #3, retiring the r11 watch item): each round
    accepts the top-BPE_BATCH non-overlapping pairs (greedy in
    (count DESC, pair) rank order over the top 8·B candidates; a pair is
    skipped if either symbol was already consumed OR produced by a merge
    this round — the output block closes the string-collision edge where
    a merged a+b is spelled like a pre-existing symbol), so a 32k-
    merge vocabulary needs ~32k/B rounds instead of 32k. Disjoint
    symbol sets per round make the batch's replaces commute — each
    accepted pair's recorded count is its exact corpus count when the
    round started. The quality tradeoff vs one-at-a-time Sennrich BPE is
    the standard batched approximation (lower-ranked pairs are taken
    before re-counting sees the round's earlier merges); B=1 reproduces
    the sequential trainer bit-for-bit (property test), which is the
    knob's semantics contract. Output adds cand_rank — the within-round
    candidate rank each merge was accepted at — so the selection is
    auditable.

    Scale shape: identical to vocab_bpe (ONE corpus scan, one word-table
    collect, driver-side rounds). The oracle replays the greedy-disjoint
    scan as a per-round recursive CTE over the ranked candidates, carrying
    the accepted-symbol list — the pack_bestfit list-state discipline."""
    return spark.createDataFrame(
        _bpe_train_batched(spark, sf_dir, BPE_BATCH_ROUNDS, BPE_BATCH),
        "merge_round int, cand_rank int, pair_a string, pair_b string, "
        "merged string, pair_count long",
    )


# --- Unigram-LM tokenizer (SentencePiece; Kudo 2018, arXiv:1804.10959) ---
# The hard-EM (Viterbi) form: seed vocabulary = the most frequent word
# substrings, then alternate (a) Viterbi-segment every distinct word under
# the current integer-micronat piece costs and (b) re-estimate costs from
# the segmentation's usage counts, pruning to the top pieces (single
# characters are never pruned, so every word stays segmentable). All
# selection is integer: usage counts are exact, costs quantize via the
# quality_nb micronat idiom floor((ln(T+V)-ln(u+1))*1e6+0.5) (python
# math.log, Spark F.log and DuckDB ln are the same libm double on integer
# arguments — bit-verified), and the Viterbi argmin minimizes the integer
# composite (total_cost_u, n_pieces, path) where path is the
# space-joined piece string — with ' ' sorting below every word char,
# string order == piece-tuple order, and that tie-break is
# prefix-extensible, so per-position DP equals the global argmin the
# oracle computes by enumerating ALL segmentations.
UNI_MAXLEN = 4  # max piece length considered
UNI_SEED = 80  # seed vocabulary: top substrings by weighted count
UNI_ROUNDS = 3  # hard-EM rounds (bounded — replayed by the oracle)
UNI_KEEP = 40  # pieces kept per round (plus all single chars)


def _uni_costs(usage: dict) -> dict:
    """Laplace-smoothed integer-micronat piece costs from usage counts."""
    import math

    t, v = sum(usage.values()), len(usage)
    return {
        p: int(math.floor((math.log(t + v) - math.log(u + 1)) * 1e6 + 0.5))
        for p, u in usage.items()
    }


def _uni_viterbi(word: str, cost: dict):
    """(total_cost_u, n_pieces, path) of the best segmentation — DP over
    positions keeping the per-position min of the integer composite;
    equal-(cost,n) ties resolve to the lexicographically smallest
    space-joined path, identically to the oracle's full enumeration."""
    inf = (1 << 62, 0, "")
    dp = [(0, 0, "")] + [inf] * len(word)
    for i in range(1, len(word) + 1):
        best = None
        for length in range(1, min(UNI_MAXLEN, i) + 1):
            p = word[i - length : i]
            if p in cost and dp[i - length][0] < (1 << 62):
                c = (
                    dp[i - length][0] + cost[p],
                    dp[i - length][1] + 1,
                    (dp[i - length][2] + " " + p).lstrip(),
                )
                if best is None or c < best:
                    best = c
        dp[i] = best if best else inf
    return dp[len(word)]


def _uni_segment_frame(words, cost: dict):
    """Distributed Viterbi over the distinct-word frame: (word, cnt,
    path). The cost table rides in the closure (vocab-sized — the
    tokenize_vocab broadcast contract)."""

    def seg(batches, _cost=dict(cost)):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["path"] = [
                _uni_viterbi(w, _cost)[2] for w in pdf["word"]
            ]
            yield pdf[["word", "cnt", "path"]]

    return words.mapInPandas(seg, "word string, cnt long, path string")


def _top(counts, k: int) -> dict:
    """The k largest counts, ties by key — ORDER BY count DESC, key LIMIT k."""
    return dict(heapq.nsmallest(k, counts.items(), key=lambda kc: (-kc[1], kc[0])))


def _uni_train(spark, sf_dir):
    """Run the seed + UNI_ROUNDS hard-EM rounds in Python over one
    collected word table; returns (usage, cost) dicts for the final
    vocabulary. Words, pieces and lengths are code-point strings, as
    Spark's and DuckDB's length/substring are."""
    table = _word_table(spark, sf_dir, _bpe_seq0)
    counts = Counter()
    for word, cnt, _seq in table:
        for i in range(len(word)):
            for length in range(1, min(UNI_MAXLEN, len(word) - i) + 1):
                counts[word[i : i + length]] += cnt
    chars = {p: c for p, c in counts.items() if len(p) == 1}
    usage = _top(counts, UNI_SEED)
    for p, c in chars.items():
        usage.setdefault(p, c)
    cost = _uni_costs(usage)
    for _r in range(UNI_ROUNDS):
        used = Counter()
        for word, cnt, _seq in table:
            for p in _uni_viterbi(word, cost)[2].split(" "):
                used[p] += cnt
        usage = _top(used, UNI_KEEP)
        for p in chars:
            usage.setdefault(p, used.get(p, 0))
        cost = _uni_costs(usage)
    return usage, cost


def _uni_round_cte(r: int, ns: str = "") -> str:
    """One hard-EM round as DuckDB CTEs: enumerate ALL segmentations of
    every word under the previous round's costs (a recursive CTE — path
    counts are bounded by the tribonacci-like T(len) <= ~110 at the
    fixture's max word length 8), pick each word's (cost, n, path)
    minimum, aggregate usage, prune, re-cost. best/cost CTEs are
    MATERIALIZED: without it DuckDB re-inlines the whole previous-round
    chain into every recursion iteration of the next round (measured:
    ~2 min -> 0.09 s at sf0.01)."""
    return f""",
    {ns}seg{r}(word, cnt, i, cost, n, path) AS (
        SELECT word, cnt, 0, CAST(0 AS BIGINT), 0, ''
        FROM {ns}w
        UNION ALL
        SELECT s.word, s.cnt, s.i + length(p.piece), s.cost + p.cost_u,
               s.n + 1, s.path || ' ' || p.piece
        FROM {ns}seg{r} s JOIN {ns}c{r - 1} p
          ON s.i + length(p.piece) <= length(s.word)
         AND substring(s.word, s.i + 1, length(p.piece)) = p.piece
    ),
    {ns}best{r} AS MATERIALIZED (
        SELECT word, cnt, trim(path) AS path FROM {ns}seg{r}
        WHERE i = length(word)
        QUALIFY row_number() OVER (PARTITION BY word
                                   ORDER BY cost, n, path) = 1
    ),
    {ns}use{r} AS (
        SELECT piece, CAST(sum(cnt) AS BIGINT) AS u
        FROM (SELECT cnt, unnest(string_split(path, ' ')) AS piece
              FROM {ns}best{r})
        GROUP BY piece
    ),
    {ns}keep{r} AS (SELECT piece, u FROM {ns}use{r}
                ORDER BY u DESC, piece LIMIT {UNI_KEEP}),
    {ns}v{r} AS (
        SELECT piece, max(u) AS u FROM (
            SELECT * FROM {ns}keep{r}
            UNION ALL
            SELECT ch.piece, coalesce(us.u, CAST(0 AS BIGINT)) AS u
            FROM {ns}chars ch LEFT JOIN {ns}use{r} us USING (piece)
        ) GROUP BY piece
    ),
    {ns}c{r} AS MATERIALIZED (
        SELECT piece, u,
               CAST(floor((ln(t.T + t.V) - ln(u + 1)) * 1000000 + 0.5)
                    AS BIGINT) AS cost_u
        FROM {ns}v{r}, (SELECT sum(u) AS T, count(*) AS V FROM {ns}v{r}) t)"""


def _uni_cte_chain(rounds: int, ns: str = "") -> str:
    return (
        f"""
    WITH RECURSIVE {ns}w AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM
        (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> '' GROUP BY word
    ),
    {ns}sub AS MATERIALIZED (
        SELECT substring(word, i, L) AS piece, CAST(sum(cnt) AS BIGINT) AS c
        FROM {ns}w,
             unnest(generate_series(1, length(word))) AS t(i),
             unnest(generate_series(1, least({UNI_MAXLEN},
                                             length(word) - i + 1))) AS u2(L)
        GROUP BY 1
    ),
    {ns}chars AS MATERIALIZED (SELECT piece, c FROM {ns}sub WHERE length(piece) = 1),
    {ns}cand0 AS (SELECT piece, c FROM {ns}sub ORDER BY c DESC, piece
              LIMIT {UNI_SEED}),
    {ns}v0 AS (SELECT piece, max(c) AS u FROM
           (SELECT * FROM {ns}cand0 UNION ALL SELECT * FROM {ns}chars)
           GROUP BY piece),
    {ns}c0 AS MATERIALIZED (
        SELECT piece,
               CAST(floor((ln(t.T + t.V) - ln(u + 1)) * 1000000 + 0.5)
                    AS BIGINT) AS cost_u
        FROM {ns}v0, (SELECT sum(u) AS T, count(*) AS V FROM {ns}v0) t)"""
        + "".join(_uni_round_cte(r, ns) for r in range(1, rounds + 1))
    )


@register(
    "vocab_unigram_lm",
    oracle=_uni_cte_chain(UNI_ROUNDS)
    + f"\n    SELECT piece, u AS usage, cost_u FROM c{UNI_ROUNDS}",
)
def vocab_unigram_lm(spark, sf_dir):
    """Unigram-LM tokenizer TRAINER (SentencePiece, Kudo 2018) in its
    deterministic hard-EM form — the OTHER production tokenizer family
    next to BPE (vocab_bpe/vocab_bpe_bytes): instead of growing merges
    bottom-up, start from the most frequent substrings and alternately
    Viterbi-segment the corpus under current piece costs and re-estimate
    costs from usage, pruning losers (single chars are never pruned, so
    coverage is total). Output: the final piece table (piece, usage,
    cost_u) — usage counts from the last segmentation and the
    integer-micronat costs a segmenter ships.

    Exactness: see the block comment above the constants — integer
    usage, micronat costs via the bit-verified libm-on-integers idiom,
    Viterbi ties broken on the space-joined path (DP order ==
    enumeration order, so the driver's per-position DP and the oracle's
    full-enumeration recursive CTE select identical segmentations).

    Scale shape: one corpus scan -> word-frequency table, collected once;
    the seed substring counts and every segmentation round run in Python
    on the driver over the DISTINCT words. Production SentencePiece
    likewise trains on a word-frequency table (or a capped sample);
    serving is the same broadcast-vocab join as tokenize_vocab."""
    usage, cost = _uni_train(spark, sf_dir)
    return spark.createDataFrame(
        [(p, usage[p], cost[p]) for p in usage],
        "piece string, usage long, cost_u long",
    )


@register(
    "tokenize_unigram_lm",
    oracle=_uni_cte_chain(UNI_ROUNDS + 1)
    + _doc_rollup_sql(
        "SELECT word, len(string_split(path, ' ')) AS n_pieces, "
        f"length(word) AS n_chars FROM best{UNI_ROUNDS + 1}",
        """count(*) AS n_words,
           CAST(sum(n_chars) AS BIGINT) AS n_char_tokens,
           CAST(sum(n_pieces) AS BIGINT) AS n_piece_tokens""",
    ),
)
def tokenize_unigram_lm(spark, sf_dir):
    """Encode with the trained unigram-LM: Viterbi-segment every DISTINCT
    word under the final piece costs (one more round — the oracle's
    round {UNI_ROUNDS}+1 recursion replays it), broadcast-join the
    per-word piece counts back to the exploded corpus. Per document:
    word count, char count, and unigram-LM piece count — directly
    comparable against tokenize_bpe/tokenize_bpe_bytes on the same
    corpus (the tokenizer-bakeoff the training family now supports).

    Note the oracle's round {UNI_ROUNDS}+1 keep-table exists only to
    reuse the round template; only its best-segmentation CTE feeds the
    output, so the key's vocabulary IS vocab_unigram_lm's."""
    _usage, cost = _uni_train(spark, sf_dir)
    wt = _uni_segment_frame(_bpe_words(spark, sf_dir), cost).select(
        "word",
        F.size(F.split("path", " ")).alias("n_pieces"),
        F.length("word").alias("n_chars"),
    )
    return _doc_rollup(
        spark,
        sf_dir,
        wt,
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_chars").cast("long").alias("n_char_tokens"),
        F.sum("n_pieces").cast("long").alias("n_piece_tokens"),
    )


# ---------------------------------------------------------------------------
# WordPiece — the third production tokenizer family (BERT lineage:
# Schuster & Nakajima 2012; Wu et al. 2016). Same merge MACHINERY as BPE
# (space-delimited symbol layout, _merge_loop, literal-replace encoding),
# different SELECTION: the merged pair maximizes the likelihood score
# count(ab) / (count(a) * count(b)) instead of raw count(ab) — the pair
# whose fusion most increases corpus likelihood under a unigram symbol
# model. Scores are integer micro-units: pc * 10^12 // (ca * cb) (BIGINT
# floor division in both engines; pc < 9.2e6 keeps the product in int64 —
# true by orders of magnitude at every fixture SF). Past int64 Spark's
# ANSI arithmetic and DuckDB both raise, so the driver loop raises
# WordPieceScoreOverflow rather than return a score neither engine can
# produce; a 100 TB run would drop the scale to 10^6 or widen to
# DECIMAL(38,0). Ties after quantization break lexicographically on
# (a, b) — deterministic in any engine. Measured on this fixture the two
# families genuinely diverge: WordPiece's first pick is (q, ##u) — 871 of
# 871 q's precede u, the canonical exclusivity pair — while BPE's is the
# raw-frequency (e, r); no merge round picks the same pair
# (gold-test-pinned).

WP_ROUNDS = BPE_ROUNDS  # same bounded-unroll budget as the BPE oracles
WP_SCORE_SCALE = 10**12


def _wp_seq0(word_col):
    """Initial WordPiece symbol sequence: first character unmarked, every
    later character carries the '##' continuation mark (BERT convention) —
    ``' t  ##h  ##e '`` for 'the'. The _bpe_seq0 layout invariants hold
    verbatim ('#' is not a space), so merge rounds are the same literal
    replace; a merged symbol keeps the LEFT symbol's marking and strips
    the right's '##', so word-initial and mid-word fusions of the same
    characters stay distinct symbols with distinct counts."""
    return F.concat(
        F.lit(" "),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.length(word_col)),
                lambda i: F.when(i == 1, word_col.substr(i, F.lit(1))).otherwise(
                    F.concat(F.lit("##"), word_col.substr(i, F.lit(1)))
                ),
            ),
            "  ",
        ),
        F.lit(" "),
    )


def _wp_merged(a: str, b: str) -> str:
    return a + (b[2:] if b.startswith("##") else b)


def _wp_score(pairs, seqs):
    """WordPiece selection for _merge_loop: each pair's stats are
    (pc, ca, cb, score_u), ca/cb the corpus-weighted counts of its two
    symbols."""
    sc = Counter()
    for cnt, syms in seqs:
        for x in syms:
            sc[x] += cnt
    stats = {}
    for (a, b), pc in pairs.items():
        num, den = pc * WP_SCORE_SCALE, sc[a] * sc[b]
        if max(num, den) > _INT64_MAX:
            raise WordPieceScoreOverflow(
                f"WordPiece score of ({a!r}, {b!r}): pc * WP_SCORE_SCALE = "
                f"{num} or ca * cb = {den} exceeds int64"
            )
        stats[a, b] = (pc, sc[a], sc[b], num // den)
    return stats


def _wp_fit(table, rounds: int = WP_ROUNDS):
    """WordPiece merges over a _wp_seq0 word table: _merge_loop with the
    likelihood score. Returns [(round, a, b, merged, pc, ca, cb,
    score_u), ...] as plain literals."""
    loop = _merge_loop(table, rounds, score=_wp_score, merged=_wp_merged)
    return [(r, a, b, m, *stats) for r, _rk, a, b, m, *stats in loop]


def _wp_train(spark, sf_dir, rounds: int = WP_ROUNDS):
    """Learn ``rounds`` WordPiece merges deterministically over one
    collected word table (see _wp_fit)."""
    return _wp_fit(_word_table(spark, sf_dir, _wp_seq0), rounds)


_WP_SEQ0_SQL = (
    "' ' || array_to_string(list_transform(generate_series(1, length(word)), "
    "i -> CASE WHEN i = 1 THEN substring(word, 1, 1) "
    "ELSE '##' || substring(word, i, 1) END), '  ') || ' '"
)


def _wp_cte_chain(rounds: int, ns: str = "") -> str:
    """DuckDB replay of _wp_train — the _bpe_cte_chain pattern with the
    likelihood score: per round pair counts p{r} AND symbol counts y{r},
    argmax of the BIGINT-quantized score, replace. w/m CTEs are
    MATERIALIZED: each round reads w{r-1} THREE times (pairs, symbols,
    replace), so un-materialized inlining re-expands the chain 3^rounds
    ways (the tokenize_bakeoff lesson, worse by the extra branch)."""
    mat = " MATERIALIZED"

    def step(r):
        return f"""
    {ns}y{r} AS (
        SELECT sym, sum(cnt) AS sc
        FROM (SELECT cnt, unnest(string_split(trim(seq), '  ')) AS sym
              FROM {ns}w{r - 1})
        GROUP BY 1
    ),
    {ns}m{r} AS{mat} (
        SELECT CAST({r} AS INTEGER) AS merge_round, a, b,
               a || CASE WHEN b LIKE '##%' THEN substring(b, 3) ELSE b END
                   AS merged,
               CAST(pc AS BIGINT) AS pair_count,
               CAST(sa.sc AS BIGINT) AS count_a,
               CAST(sb.sc AS BIGINT) AS count_b,
               CAST(CAST(pc AS BIGINT) * {WP_SCORE_SCALE}
                    // (CAST(sa.sc AS BIGINT) * CAST(sb.sc AS BIGINT))
                    AS BIGINT) AS score_u
        FROM {ns}p{r} pp JOIN {ns}y{r} sa ON pp.a = sa.sym
                  JOIN {ns}y{r} sb ON pp.b = sb.sym
        ORDER BY score_u DESC, a, b LIMIT 1
    ),{_replace_cte(r, ns, mat)}"""

    return _merge_cte_chain(rounds, _WP_SEQ0_SQL, step, ns, mat)


@register(
    "vocab_wordpiece",
    oracle=_wp_cte_chain(WP_ROUNDS)
    + _merge_table_sql(
        WP_ROUNDS, _BPE_MERGE_COLS + ", count_a, count_b, score_u"
    ),
)
def vocab_wordpiece(spark, sf_dir):
    """WordPiece trainer — the BERT-family tokenizer (Schuster & Nakajima
    2012; Wu et al. 2016), completing the production trio next to BPE
    (frequency merges, GPT lineage) and unigram-LM (prune-down,
    SentencePiece): WP_ROUNDS deterministic rounds each fusing the
    adjacent symbol pair with the highest likelihood score
    count(ab)/(count(a)*count(b)) — quantized to integer micro-units, see
    WP_SCORE_SCALE's comment — with the '##' continuation-mark symbol
    space. Output is the shippable merge table with the full selection
    audit: (merge_round, pair_a, pair_b, merged, pair_count, count_a,
    count_b, score_u).

    Scale shape: identical to vocab_bpe — ONE corpus scan builds the
    word-frequency table, collected once; each driver-side round counts
    pairs and symbols over it. The batched acceptance of vocab_bpe_batched
    applies unchanged if ever needed (_merge_loop's batch), since accepted
    pairs are symbol-disjoint under either scoring."""
    return spark.createDataFrame(
        _wp_train(spark, sf_dir),
        "merge_round int, pair_a string, pair_b string, merged string, "
        "pair_count long, count_a long, count_b long, score_u long",
    )


@register(
    "tokenize_wordpiece",
    oracle=_wp_cte_chain(WP_ROUNDS)
    + _doc_rollup_sql(
        "SELECT word, len(string_split(trim(seq), '  ')) AS n_wp, "
        f"length(word) AS n_chars FROM w{WP_ROUNDS}",
        """count(*) AS n_words,
           CAST(sum(n_chars) AS BIGINT) AS n_char_tokens,
           CAST(sum(n_wp) AS BIGINT) AS n_wp_tokens""",
    ),
)
def tokenize_wordpiece(spark, sf_dir):
    """Segment the corpus with the learned WordPiece merges applied in
    learned order — the TRAINING-STATE segmentation (what the trainer's
    final round sees; the tokenize_bpe twin). NOTE: shipped WordPiece
    inference is greedy longest-match-first over the final vocab, which
    can differ from merge replay on words whose pieces were learned via
    other words — this key certifies the trainer's corpus state, the
    quantity fertility/compression accounting needs, and says so rather
    than conflating the two. Per document: word count, character count,
    and WordPiece token count.

    Scale shape: training as in vocab_wordpiece; encoding is a replace
    chain over DISTINCT words + one broadcast join against the exploded
    corpus (the tokenize_vocab pattern) — no corpus shuffle beyond the
    per-doc rollup."""
    seq = _replay(_wp_seq0(F.col("word")), _wp_train(spark, sf_dir))
    wtok = _bpe_words(spark, sf_dir).select(
        "word", _n_symbols(seq).alias("n_wp"), F.length("word").alias("n_chars")
    )
    return _doc_rollup(
        spark,
        sf_dir,
        wtok,
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_chars").cast("long").alias("n_char_tokens"),
        F.sum("n_wp").cast("long").alias("n_wp_tokens"),
    )


# Longest-match inference unroll depth for the DuckDB oracle: each step
# consumes >= 1 character, so WP_INFER_MAX_STEPS bounds the segmentable
# word length (fixture max is 8 chars at every SF; a longer word would
# make the oracle's truncated segmentation disagree with Spark's
# length-driven fold and FAIL the hash — the bounded-unroll contract).
WP_INFER_MAX_STEPS = 16


def _wp_infer_seq(word_col, unmarked: list, marked_bodies: list):
    """Greedy longest-match-first WordPiece segmentation of a word as a
    doc-local fold (shipped-tokenizer semantics — Wu et al. 2016 §4.1):
    at each position take the LONGEST vocab piece matching there
    (word-initial pieces at position 1, '##'-continuation bodies after),
    fall back to a single character when nothing matches. Folds over the
    character index range keeping (pos, seq); indices before the current
    position pass through, so the fold is O(len · |vocab|) Column
    arithmetic with no Python. Emits the SAME ' p1  p2 ' layout as the
    replay seq, so divergence is one string comparison."""
    unm = F.lit(sorted(unmarked))
    mkd = F.lit(sorted(marked_bodies))

    def step(acc, i):
        cand = F.when(acc.pos == 1, unm).otherwise(mkd)
        best = F.aggregate(
            cand,
            F.lit(0),
            lambda m, p: F.when(
                (F.length(p) > m)
                & (word_col.substr(acc.pos, F.length(p)) == p),
                F.length(p),
            ).otherwise(m),
        )
        ln = F.greatest(best, F.lit(1))
        piece = word_col.substr(acc.pos, ln)
        mark = F.when(acc.pos == 1, piece).otherwise(
            F.concat(F.lit("##"), piece)
        )
        return F.when(i != acc.pos, acc).otherwise(
            F.struct(
                (acc.pos + ln).alias("pos"),
                F.concat(acc.seq, F.lit(" "), mark, F.lit(" ")).alias("seq"),
            )
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.length(word_col)),
        F.struct(F.lit(1).alias("pos"), F.lit("").alias("seq")),
        step,
        lambda acc: acc.seq,
    )


_TOKENIZE_WP_INFER_ORACLE = (
    _wp_cte_chain(WP_ROUNDS)
    + f""",
    alpha AS (
        SELECT DISTINCT unnest(string_split(trim(seq), '  ')) AS piece
        FROM w0
    ),
    v AS MATERIALIZED (
        SELECT piece, piece LIKE '##%' AS cont,
               CASE WHEN piece LIKE '##%' THEN substring(piece, 3)
                    ELSE piece END AS body
        FROM (SELECT piece FROM alpha
              UNION {" UNION ".join(f"SELECT merged AS piece FROM m{r}" for r in range(1, WP_ROUNDS + 1))})
    ),
    t0 AS (SELECT word, cnt, seq, 1 AS pos, '' AS iseq FROM w{WP_ROUNDS})"""
    + "".join(
        f""",
    t{s} AS MATERIALIZED (
        SELECT word, cnt, seq,
               CASE WHEN pos > length(word) THEN pos ELSE pos + L END AS pos,
               CASE WHEN pos > length(word) THEN iseq
                    ELSE iseq || ' ' ||
                         CASE WHEN pos = 1 THEN substring(word, pos, L)
                              ELSE '##' || substring(word, pos, L) END
                         || ' ' END AS iseq
        FROM (
            SELECT word, cnt, seq, pos, iseq,
                   COALESCE((SELECT max(length(v.body)) FROM v
                             WHERE v.cont = (t.pos > 1)
                               AND substring(t.word, t.pos, length(v.body))
                                   = v.body), 1) AS L
            FROM t{s - 1} t
        )
    )"""
        for s in range(1, WP_INFER_MAX_STEPS + 1)
    )
    + _doc_rollup_sql(
        f"""
        SELECT word, cnt,
               len(string_split(trim(seq), '  ')) AS n_replay,
               len(string_split(trim(iseq), '  ')) AS n_infer,
               iseq <> seq AS diverged
        FROM t{WP_INFER_MAX_STEPS}
    """,
        """count(*) AS n_words,
           CAST(sum(n_replay) AS BIGINT) AS n_wp_tokens_replay,
           CAST(sum(n_infer) AS BIGINT) AS n_wp_tokens_infer,
           CAST(sum(CASE WHEN diverged THEN 1 ELSE 0 END) AS BIGINT)
               AS n_diverged_words""",
    )
)


@register("tokenize_wordpiece_infer", oracle=_TOKENIZE_WP_INFER_ORACLE)
def tokenize_wordpiece_infer(spark, sf_dir):
    """SHIPPED WordPiece inference — greedy longest-match-first over the
    final vocabulary (alphabet + merged pieces; Wu et al. 2016 §4.1) —
    side by side with the training-state merge replay, measuring exactly
    the caveat tokenize_wordpiece documents: per doc, both token counts
    plus the number of word occurrences whose SEGMENTATION differs
    (string-compared in the identical ' p1  p2 ' layout). Fixture
    honesty: with 8 merges over this ~31-word vocabulary the two
    procedures agree everywhere — n_diverged_words is verified zero at
    every SF (both engines computing it independently) — so the genuine
    divergence regime (a merge formed under priority order that
    longest-match overrides, e.g. replay [a ##bc] vs inference [ab ##c])
    is pinned by a property test on a synthetic corpus built to diverge
    (the text_heaps_curve posture).

    Scale shape: training as in vocab_wordpiece, and the alphabet is read
    off the same collected word table; inference is a doc-local fold over
    DISTINCT words against two broadcast-literal piece arrays
    (O(len·|vocab|) JVM Column arithmetic, no Python, no shuffle) + the
    same broadcast join / per-doc rollup as every tokenize twin. The
    oracle unrolls the greedy loop WP_INFER_MAX_STEPS=16 bounded steps
    (ml_kmeans_1d pattern)."""
    table = _word_table(spark, sf_dir, _wp_seq0)
    merges = _wp_fit(table)
    vocab = {p for _w, _c, seq in table for p in _symbols(seq)}
    vocab |= {m[3] for m in merges}
    unmarked = [p for p in vocab if not p.startswith("##")]
    marked_bodies = [p[2:] for p in vocab if p.startswith("##")]
    replay = _replay(_wp_seq0(F.col("word")), merges)
    wtok = _bpe_words(spark, sf_dir).select(
        "word",
        replay.alias("rseq"),
        _wp_infer_seq(F.col("word"), unmarked, marked_bodies).alias("iseq"),
    ).select(
        "word",
        _n_symbols(F.col("rseq")).alias("n_replay"),
        _n_symbols(F.col("iseq")).alias("n_infer"),
        (F.col("iseq") != F.col("rseq")).alias("diverged"),
    )
    return _doc_rollup(
        spark,
        sf_dir,
        wtok,
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_replay").cast("long").alias("n_wp_tokens_replay"),
        F.sum("n_infer").cast("long").alias("n_wp_tokens_infer"),
        F.sum(F.col("diverged").cast("long")).cast("long").alias("n_diverged_words"),
    )


def _bakeoff_oracle() -> str:
    """Compose the char-BPE, byte-BPE, unigram-LM and WordPiece oracle
    chains into ONE query (namespaces: default / y / u / p — the
    quality_ensemble member-composition pattern applied to tokenizers),
    then join the four final per-word segmentations and roll up corpus
    totals."""
    char_chain = (
        _bpe_cte_chain(BPE_ROUNDS, materialized=True)
        .lstrip()
        .removeprefix("WITH ")
    )
    byte_chain = (
        _bpe_cte_chain(BPE_ROUNDS, _BPE_BYTES_SEQ0_SQL, ns="y",
                       materialized=True)
        .lstrip()
        .removeprefix("WITH ")
    )
    uni_chain = (
        _uni_cte_chain(UNI_ROUNDS + 1, ns="u")
        .lstrip()
        .removeprefix("WITH RECURSIVE ")
    )
    wp_chain = (
        _wp_cte_chain(WP_ROUNDS, ns="p").lstrip().removeprefix("WITH ")
    )
    return f"""
    WITH RECURSIVE {char_chain},
    {byte_chain},
    {uni_chain},
    {wp_chain},
    tot AS (
        SELECT CAST(sum(c.cnt) AS BIGINT) AS nw,
               CAST(sum(c.cnt * length(c.word)) AS BIGINT) AS nc,
               CAST(sum(c.cnt * len(string_split(trim(c.seq), '  ')))
                    AS BIGINT) AS t_bpe,
               CAST(sum(c.cnt * len(string_split(trim(b.seq), '  ')))
                    AS BIGINT) AS t_bytes,
               CAST(sum(c.cnt * len(string_split(g.path, ' ')))
                    AS BIGINT) AS t_uni,
               CAST(sum(c.cnt * len(string_split(trim(w.seq), '  ')))
                    AS BIGINT) AS t_wp
        FROM w{BPE_ROUNDS} c
        JOIN yw{BPE_ROUNDS} b USING (word)
        JOIN ubest{UNI_ROUNDS + 1} g USING (word)
        JOIN pw{WP_ROUNDS} w USING (word)
    )
    SELECT family, n_tokens,
           CAST(floor((2 * n_tokens * 1000000 + nw) / (2.0 * nw))
                AS BIGINT) AS per_word_u,
           CAST(floor((2 * n_tokens * 1000000 + nc) / (2.0 * nc))
                AS BIGINT) AS per_char_u
    FROM (
        SELECT 'whitespace' AS family, nw AS n_tokens, nw, nc FROM tot
        UNION ALL SELECT 'char', nc, nw, nc FROM tot
        UNION ALL SELECT 'bpe', t_bpe, nw, nc FROM tot
        UNION ALL SELECT 'bpe_bytes', t_bytes, nw, nc FROM tot
        UNION ALL SELECT 'unigram_lm', t_uni, nw, nc FROM tot
        UNION ALL SELECT 'wordpiece', t_wp, nw, nc FROM tot
    )
    """


@register("tokenize_bakeoff", oracle=_bakeoff_oracle())
def tokenize_bakeoff(spark, sf_dir):
    """The tokenizer BAKEOFF — the measure-before-you-trust rung for the
    tokenizer family (what sim_ann_recall_curve is for ANN): train all
    FOUR learned tokenizers on the same corpus (char BPE, byte BPE,
    unigram LM, WordPiece — their exact registered trainers, shared
    code) and report corpus-level fertility side by side: total
    tokens, tokens-per-word and tokens-per-char in round-half-up
    micro-units, with 'whitespace' (words) and 'char' (characters) as
    the bracketing baselines. per_char_u of the 'char' row is exactly
    1e6 — a built-in self-check; every learned family must land
    strictly between the brackets. This is the table a pipeline owner
    reads before picking the tokenizer for a 100 TB run.

    Scale: each of the four trainers collects the word table once and
    fits on the driver; the rollup is a vocabulary-sized 4-way join.
    Oracle: the four oracle chains composed into one query under CTE
    namespaces (default/y/u/p), totals from the joined final
    segmentations."""
    seq_c = _replay(_bpe_seq0(F.col("word")), _bpe_train(spark, sf_dir))
    seq_b = _replay(
        _bpe_seq0_bytes(F.col("word")),
        _bpe_train(spark, sf_dir, seq0=_bpe_seq0_bytes),
    )
    _usage, cost = _uni_train(spark, sf_dir)
    seq_w = _replay(_wp_seq0(F.col("word")), _wp_train(spark, sf_dir))

    words = _bpe_words(spark, sf_dir)
    per = _uni_segment_frame(words, cost).select(
        "word",
        "cnt",
        F.size(F.split("path", " ")).alias("t_uni_w"),
    ).join(
        words.select(
            "word",
            F.length("word").alias("nch_w"),
            _n_symbols(seq_c).alias("t_bpe_w"),
            _n_symbols(seq_b).alias("t_bytes_w"),
            _n_symbols(seq_w).alias("t_wp_w"),
        ),
        "word",
    )
    tot = per.agg(
        F.sum("cnt").cast("long").alias("nw"),
        F.sum(F.col("cnt") * F.col("nch_w")).cast("long").alias("nc"),
        F.sum(F.col("cnt") * F.col("t_bpe_w")).cast("long").alias("t_bpe"),
        F.sum(F.col("cnt") * F.col("t_bytes_w")).cast("long").alias("t_bytes"),
        F.sum(F.col("cnt") * F.col("t_uni_w")).cast("long").alias("t_uni"),
        F.sum(F.col("cnt") * F.col("t_wp_w")).cast("long").alias("t_wp"),
    )
    fam = tot.select(
        F.explode(
            F.array(
                F.struct(F.lit("whitespace").alias("family"),
                         F.col("nw").alias("n_tokens")),
                F.struct(F.lit("char").alias("family"),
                         F.col("nc").alias("n_tokens")),
                F.struct(F.lit("bpe").alias("family"),
                         F.col("t_bpe").alias("n_tokens")),
                F.struct(F.lit("bpe_bytes").alias("family"),
                         F.col("t_bytes").alias("n_tokens")),
                F.struct(F.lit("unigram_lm").alias("family"),
                         F.col("t_uni").alias("n_tokens")),
                F.struct(F.lit("wordpiece").alias("family"),
                         F.col("t_wp").alias("n_tokens")),
            )
        ).alias("f"),
        "nw",
        "nc",
    )
    ratio = lambda tok, den: F.floor(  # noqa: E731 — the shared half-up idiom
        (2 * tok * F.lit(1_000_000) + den) / (2.0 * den)
    ).cast("long")
    return fam.select(
        F.col("f.family").alias("family"),
        F.col("f.n_tokens").alias("n_tokens"),
        ratio(F.col("f.n_tokens"), F.col("nw")).alias("per_word_u"),
        ratio(F.col("f.n_tokens"), F.col("nc")).alias("per_char_u"),
    )


@register(
    "bpe_fertility",
    oracle=_bpe_cte_chain(BPE_ROUNDS)
    + _doc_rollup_sql(
        _n_bpe_sql(f"w{BPE_ROUNDS}"),
        """CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
           ROUND(CAST(sum(n_bpe) AS DOUBLE) / count(*), 6) AS fertility,
           ROUND(CAST(sum(n_bpe) AS DOUBLE) / sum(n_chars), 6)
               AS tokens_per_char""",
        by="source",
    ),
)
def bpe_fertility(spark, sf_dir):
    """Tokenizer fertility audit — the number every tokenizer change is
    judged by: BPE tokens per word (fertility) and per character, rolled
    up by SOURCE domain. High-fertility domains cost disproportionate
    training compute per byte; this is how a pipeline decides whether the
    tokenizer (or the mix) needs rebalancing, and the honest way to
    convert a token budget into a byte budget per domain.

    Shape: one BPE training (see _bpe_train — corpus scanned once), the
    replace-chain encode over DISTINCT words, a broadcast join of
    per-word token counts onto the exploded corpus, one source-keyed
    rollup. Integer sums and two exact divisions — deterministic in both
    engines; the DuckDB twin replays the merge rounds with the same
    chained CTEs as vocab_bpe."""
    return _doc_rollup(
        spark,
        sf_dir,
        _bpe_word_tokens(spark, sf_dir, _bpe_train(spark, sf_dir)),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
        F.round(F.sum("n_bpe").cast("double") / F.count(F.lit(1)), 6).alias(
            "fertility"
        ),
        F.round(F.sum("n_bpe").cast("double") / F.sum("n_chars"), 6).alias(
            "tokens_per_char"
        ),
        by="source",
    )
