"""§2.K — embedding similarity search (SURVEY.md; PAPERS.md is all about
top-k similarity at scale).

Cosine is computed with the SAME sequential fold on both engines
(Spark F.aggregate over zip_with vs DuckDB list_aggregate over list_transform
of list_zip, all in DOUBLE) so scores are bit-identical and hash-checkable.

Scale ladder for 100 TB:
  * bruteforce  — broadcast the (small) query set, crossJoin the corpus:
    correct baseline, O(|Q|·|C|). Only for small |Q|.
  * blocked     — mapInPandas numpy matmul per Arrow batch against the
    broadcast query matrix: same O() but ~50x constant via BLAS; the right
    brute-force shape when |Q| fits in executor memory.
  * lsh         — random-hyperplane signatures bucket the corpus; only
    same-bucket candidates are scored (sublinear candidates; recall<1,
    golden-tested). The scale path when |Q| is large.
  * ivf         — k-means inverted lists (coarse quantizer), probe the
    nearest few lists per query — the reference-point/cluster-pruning
    family from the distributed top-k literature (cf. PAPERS.md: REPOSE
    ICDE'21 local reference-point tries; "Incremental ... Top-K Similarity
    Search" EDBT'20; "Continuously Adaptive Similarity Search" SIGMOD'20 —
    adaptive probe counts correspond to our IVF_PROBES knob).
"""

from __future__ import annotations

import hashlib
import json
from functools import reduce

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_transform_spark.io import load_table, stage
from data_transform_spark.registry import register
from data_transform_spark.shares import share, submit

TOPK = 5
N_QUERIES = 20  # vec_id < 20 are the query vectors
PAIR_TAU = 0.4


def _dot(a, b):
    """Sequential-fold dot product in double — bit-identical across engines."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _cos(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _l2sq(a, b):
    """Sequential-fold squared L2 distance in double (the _dot fold over
    per-dimension squared differences)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda s, v: s + v
    )


def load_embeddings(spark, sf_dir):
    """(vec_id, emb array<double>): the embeddings fixture as vectors — the
    one place its vector-column format is decided."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )


def _queries(e):
    """(query_id, q_emb): the query panel (vec_id < N_QUERIES) of ``e``."""
    return e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )


def _cosine_topk(cand, k: int = TOPK):
    """Exact re-rank of (query_id, q_emb, vec_id, emb) candidates:
    (query_id, neighbor_id, score) with the cosine rounded to 6 dp and the
    top ``k`` per query by (score desc, neighbor_id)."""
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_cos(F.col("q_emb"), F.col("emb")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "score")
    )


# DuckDB twin of the same fold (kept as one SQL fragment used by both keys).
_SQL_DOT = (
    "list_aggregate(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]), 'sum')"
)


def _sql_cos(a: str, b: str) -> str:
    return (
        f"CAST({_SQL_DOT.format(a=a, b=b)} AS DOUBLE) / "
        f"(sqrt(CAST({_SQL_DOT.format(a=a, b=a)} AS DOUBLE)) * "
        f"sqrt(CAST({_SQL_DOT.format(a=b, b=b)} AS DOUBLE)))"
    )


@register(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_cos("q.emb", "c.emb")} AS score
        FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, round(score, 6) AS score
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) <= {TOPK}
    """,
)
def sim_topk_bruteforce(spark, sf_dir):
    """Top-k cosine neighbors for each query vector (broadcast queries).

    r14: per-row norms are computed ONCE per side before the pair join
    (the dedup_semdedup idiom) so each of the N_QUERIES×N pairs pays a
    single dot fold instead of _cos's three — sqrt(dot(v,v)) is the same
    IEEE value either way, so scores and the hash are bit-identical."""
    e = load_embeddings(spark, sf_dir)
    en = e.withColumn("nrm", F.sqrt(_dot("emb", "emb")))
    q = en.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        F.broadcast(q)
        .join(en, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("q_emb"), F.col("emb"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"))
    )


@register(
    "sim_topk_blocked",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_cos("q.emb", "c.emb")} AS score
        FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, round(score, 4) AS score
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY round(score, 4) DESC, neighbor_id) <= {TOPK}
    """,
)
def sim_topk_blocked(spark, sf_dir):
    """Blocked brute force: numpy matmul per Arrow batch (the fast CPU shape).

    Queries are collected once (small by contract), normalized, and shipped in
    the closure; each corpus partition is scored as one BLAS gemm. Scores are
    rounded to 4 dp and ranked on the ROUNDED value so the float32-vs-double
    summation-order difference cannot reorder the top-k.
    """
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    qrows = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in qrows])
    qm = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qm_n = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    def score_batches(batches):
        for pdf in batches:
            cm = np.array(list(pdf["embedding"]), dtype=np.float64)
            if len(cm) == 0:
                continue
            cm_n = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            scores = qm_n @ cm_n.T  # |Q| x |batch|
            n_q, n_c = scores.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n_c),
                    "neighbor_id": np.tile(pdf["vec_id"].to_numpy(), n_q),
                    "score": scores.reshape(-1),
                }
            )

    scored = e.select("vec_id", "embedding").mapInPandas(
        score_batches, "query_id long, neighbor_id long, score double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = scored.withColumn("score", F.round("score", 4))
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .select("query_id", "neighbor_id", "score")
    )


PAIR_BLOCKS = 8  # block-matrix tiles for the exact threshold join


@register(
    "sim_pairs_threshold",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
               WHERE {_SQL_DOT.format(a="CAST(embedding AS DOUBLE[])",
                                      b="CAST(embedding AS DOUBLE[])")} > 0)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_sql_cos("a.emb", "b.emb")}, 6) AS score
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_sql_cos("a.emb", "b.emb")} >= {PAIR_TAU}
    """,
)
def sim_pairs_threshold(spark, sf_dir):
    """All pairs with cosine >= tau (id_a < id_b), via a tiled block join.

    An exact low-threshold cosine join is inherently Ω(N²) COMPUTE, but it
    need not be a Catalyst nested-loop: vectors are salted into PAIR_BLOCKS
    tiles, each unordered tile pair is scored as ONE numpy GEMM inside
    applyInPandas (shuffle volume N·B rows, replication B, never a row-level
    cartesian — round-1 VERDICT "What's wrong" #3), and the GEMM acts only
    as a candidate sieve at tau−1e-6. Survivors (a tiny set) are re-scored
    with the same sequential double fold the DuckDB oracle uses, so the
    final hash is bit-identical to the all-pairs SQL twin. At scale, B grows
    ~sqrt(cluster cores) and each tile pair is one BLAS call — the fastest
    exact shape; sub-quadratic variants (LSH) trade recall and live under
    sim_ann_lsh.
    """
    return tiled_cosine_pairs(spark, sf_dir, PAIR_TAU)


def _tiles(spark, sf_dir):
    """The tiled block join's input: the vectors with a non-zero norm,
    salted into PAIR_BLOCKS tiles by vec_id, and every unordered tile pair
    (bi <= bj) holding tile bi as side "a" and tile bj as side "b".
    Returns (e (vec_id, emb, blk), tiles (bi, bj, side, vec_id, emb))."""
    e = (
        load_embeddings(spark, sf_dir)
        .withColumn("blk", (F.col("vec_id") % PAIR_BLOCKS).cast("int"))
        .filter(_dot(F.col("emb"), F.col("emb")) > 0)
    )
    tile_pairs = spark.createDataFrame(
        [(i, j) for i in range(PAIR_BLOCKS) for j in range(PAIR_BLOCKS) if i <= j],
        "bi int, bj int",
    )
    rep_a = e.join(F.broadcast(tile_pairs), e.blk == tile_pairs.bi).select(
        "bi", "bj", F.lit("a").alias("side"), "vec_id", "emb"
    )
    rep_b = e.join(F.broadcast(tile_pairs), e.blk == tile_pairs.bj).select(
        "bi", "bj", F.lit("b").alias("side"), "vec_id", "emb"
    )
    return e, rep_a.unionByName(rep_b)


def tiled_cosine_pairs(spark, sf_dir, tau: float):
    """Exact (id_a, id_b, score) cosine pairs >= tau via the tiled block join
    described in sim_pairs_threshold (shared by dedup_embed_cosine).

    Zero-norm embeddings are excluded up front: their cosine is 0/0, which
    numpy silently drops (NaN >= tau is False) while DuckDB's NaN compares
    greater-than-everything and would KEEP the pair — a latent cross-engine
    hash mismatch (round-3 ADVICE). The oracle SQL carries the same norm>0
    guard, so both engines implement the same contract: vectors without a
    defined direction never pair."""
    import pandas as pd

    e, tiles = _tiles(spark, sf_dir)

    tau_sieve = tau - 1e-6

    def score_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        am = pdf[pdf["side"] == "a"]
        bm = pdf[pdf["side"] == "b"]
        if am.empty or bm.empty:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        A = np.array(list(am["emb"]), dtype=np.float64)
        B = np.array(list(bm["emb"]), dtype=np.float64)
        A = A / np.linalg.norm(A, axis=1, keepdims=True)
        B = B / np.linalg.norm(B, axis=1, keepdims=True)
        S = A @ B.T
        ai, bi_ = np.nonzero(S >= tau_sieve)
        ida = am["vec_id"].to_numpy()[ai]
        idb = bm["vec_id"].to_numpy()[bi_]
        lo, hi = np.minimum(ida, idb), np.maximum(ida, idb)
        keep = lo < hi
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]})

    cand = (
        tiles.groupBy("bi", "bj")
        .applyInPandas(score_tile, "id_a long, id_b long")
        .dropDuplicates(["id_a", "id_b"])
    )

    ea = e.select(F.col("vec_id").alias("id_a"), F.col("emb").alias("emb_a"))
    eb = e.select(F.col("vec_id").alias("id_b"), F.col("emb").alias("emb_b"))
    cos = _cos(F.col("emb_a"), F.col("emb_b"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("score_raw", cos)
        .filter(F.col("score_raw") >= tau)
        .select("id_a", "id_b", F.round("score_raw", 6).alias("score"))
    )


@register(
    "sim_knn_classify",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    expl AS (
        SELECT label, unnest(emb) AS v,
               unnest(generate_series(1, len(emb))) AS pos
        FROM e
    ),
    cent AS (
        SELECT label AS c_label, list(cv ORDER BY pos) AS c_emb
        FROM (SELECT label, pos, round(avg(v), 8) AS cv FROM expl GROUP BY label, pos)
        GROUP BY label
    ),
    dists AS (
        SELECT e.vec_id, e.label AS true_label, c.c_label,
               CAST(list_aggregate(list_transform(list_zip(e.emb, c.c_emb),
                    p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS DOUBLE) AS dist
        FROM e CROSS JOIN cent c
    )
    SELECT vec_id, true_label, c_label AS pred_label, round(dist, 6) AS dist
    FROM dists
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) = 1
    """,
)
def sim_knn_classify(spark, sf_dir):
    """Nearest-centroid classification (labels 0-9).

    Centroids: posexplode → per-(label,dim) mean, ROUNDED to 8 dp on both
    engines so the partial-agg summation-order difference cannot leak into
    the distances; then a broadcast join of 10 centroids against the corpus.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    expl = e.select("label", F.posexplode("emb").alias("pos", "v"))
    cent_long = expl.groupBy("label", "pos").agg(F.round(F.avg("v"), 8).alias("cv"))
    cent = (
        cent_long.groupBy(F.col("label").alias("c_label"))
        .agg(F.sort_array(F.collect_list(F.struct("pos", "cv"))).alias("pc"))
        .select("c_label", F.col("pc.cv").alias("c_emb"))
    )
    dists = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        F.col("label").alias("true_label"),
        "c_label",
        _l2sq("emb", "c_emb").alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "c_label")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "true_label", F.col("c_label").alias("pred_label"),
                F.round("dist", 6).alias("dist"))
    )


@register(
    "embed_normalize",
    oracle="""
    WITH t AS (
        SELECT vec_id,
               sqrt(CAST(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                    x -> x * x), 'sum') AS DOUBLE)) AS nrm,
               CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings
    ),
    u AS (
        SELECT vec_id, nrm,
               list_transform(emb, x -> round(x / nrm, 6)) AS unit
        FROM t
    )
    SELECT vec_id,
           round(nrm, 6) AS norm,
           CAST(len(unit) AS BIGINT) AS unit_len,
           unit[1] AS unit_first,
           unit[len(unit)] AS unit_last,
           round(CAST(list_aggregate(unit, 'sum') AS DOUBLE), 6) AS unit_sum
    FROM u
    """,
)
def embed_normalize(spark, sf_dir):
    """L2-normalize the embedding column (double space, rounded elements).

    The unit vector is built in-plan; the final projection is scalar-only
    (norm, length, first/last element, sequential-fold sum) because array
    cells crash the driver canonicalizer."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    norm = F.sqrt(_dot(emb, emb))
    unit = F.transform(emb, lambda x: F.round(x / norm, 6))
    return e.select(
        "vec_id",
        F.round(norm, 6).alias("norm"),
        F.size(unit).cast("long").alias("unit_len"),
        F.element_at(unit, 1).alias("unit_first"),
        F.element_at(unit, -1).alias("unit_last"),
        F.round(F.aggregate(unit, F.lit(0.0), lambda acc, x: acc + x), 6).alias("unit_sum"),
    )


IVF_K = 16  # coarse centroids (inverted lists)
IVF_PROBES = 4  # lists probed per query
IVF_ITERS = 2  # Lloyd refinement passes (deterministic, fixed count)

# Index TRAINING is bounded: Lloyd passes (IVF centroids, PQ codebooks) run
# on at most ANN_TRAIN_CAP vectors — the md5-rank prefix of the corpus —
# never the full corpus (r8 VERDICT #2: previously the sample-at-scale rule
# was SCALING.md prose; now it is enforced code). ENCODING/assignment still
# covers every vector — only the k-means fit is sampled, exactly how FAISS
# trains on train_size vectors then encodes the full index. The md5-prefix
# sample is content-stable: independent of partitioning, row order, or
# corpus sharding, and a superset-closed prefix (growing the cap only ADDS
# vectors). Measured effect (numpy twin + Spark, SCALING.md "Round-9
# sampled training"): recall unchanged at sf0.001/0.01 (corpus <= cap) and
# for IVF-Flat/PQ at sf0.1 (2000 vecs, 1024 trained); composed IVF-PQ loses
# 0.06 recall at sf0.1 (0.62 -> 0.56 at 6 probes) — the documented price of
# bounded training.
ANN_TRAIN_CAP = 1024


def _train_sample(e):
    """The md5-rank prefix of the corpus used to FIT quantizers.

    orderBy().limit() plans as TakeOrderedAndProject — per-partition top-k
    and one cap-sized merge, no corpus-wide sort or window — so at 100 TB
    the training job reads the embedding column once and materializes only
    ANN_TRAIN_CAP vectors. Deterministic and reshard-invariant (property
    test: tests/test_pipeline.py)."""
    return (
        e.select("vec_id", "emb", F.md5(F.col("vec_id").cast("string")).alias("_ord"))
        .orderBy("_ord", "vec_id")
        .limit(ANN_TRAIN_CAP)
        .select("vec_id", "emb")
    )


def _nearest_centroid(vectors, cent, id_col, out_col, keep_cols=()):
    """Assign each vector to its nearest centroid (broadcast K × corpus).

    r14 (guide §2.3 "aggregate before you shuffle"): the argmin is a
    ``min_by`` aggregate over the totally-ordered (dist, c_id) key instead
    of a row_number window — identical row out (the order is total, ties
    impossible past c_id), but the K×corpus candidate rows now reduce
    map-side to one row per vector BEFORE the exchange, and no per-group
    sort ever runs."""
    best = F.min_by(
        F.struct("c_id", *keep_cols), F.struct("dist", "c_id")
    ).alias("_best")
    return (
        vectors.crossJoin(F.broadcast(cent))
        .select(id_col, *keep_cols, "c_id", _l2sq("emb", "c_emb").alias("dist"))
        .groupBy(id_col)
        .agg(best)
        .select(
            id_col,
            *[F.col(f"_best.{c}").alias(c) for c in keep_cols],
            F.col("_best.c_id").alias(out_col),
        )
    )


def _md5_seeds(e, k: int):
    """First ``k`` vectors by md5(vec_id) rank, as (vec_id, emb, c_id).

    The global cut is orderBy().limit(k) — planned as TakeOrderedAndProject
    (per-partition top-k + one k-row merge; pinned in tests/test_plans.py)
    — and the dense c_id rank is assigned by a window over the ALREADY
    k-row frame, so no corpus-wide unpartitioned window ever exists in the
    plan (r8 VERDICT nit on the old row_number()<=k shape). md5 ranking
    makes the seed set content-stable: reshard/reorder-invariant, ties
    broken by vec_id."""
    cut = (
        e.select("vec_id", "emb", F.md5(F.col("vec_id").cast("string")).alias("_ord"))
        .orderBy("_ord", "vec_id")
        .limit(k)
    )
    w = Window.orderBy("_ord", "vec_id")
    return cut.select(
        "vec_id", "emb", (F.row_number().over(w) - 1).alias("c_id")
    )


def _sqdist(x, c):
    """(len(x), len(c)) squared euclidean distances, the per-dimension
    squares summed in dimension order — the sequential fold
    ``F.aggregate(zip_with(...), 0.0, s + v)`` runs in Spark, so every
    distance, and so every argmin, is bit-identical to the in-plan one."""
    sq = x[:, None, :] - c[None, :, :]
    sq *= sq
    dist = np.zeros(sq.shape[:2])
    for j in range(sq.shape[2]):
        dist += sq[:, :, j]
    return dist


def _nearest(x, c):
    """Row index of each vector's nearest centroid, ordered like Spark's
    ``min_by(..., struct(dist, c_id))``: the smallest distance, NaN after
    every number, ties to the first (lowest c_id) row."""
    dist = _sqdist(x, c)
    nan = np.isnan(dist)
    return np.lexsort((np.where(nan, 0.0, dist), nan), axis=-1)[:, 0]


def _lloyd(x, k: int, iters: int):
    """Deterministic k-means over an md5-rank-ordered sample ``x`` (n × d):
    seeds are its first ``k`` rows (c_id = row rank), then ``iters`` Lloyd
    passes — nearest centroid by ``_nearest``, each surviving cluster's
    mean (sum over members / count, as Spark's avg), and a cluster left
    with no members drops out, as it does from a grouped mean. Returns
    (c_ids, centroids) of the surviving clusters in c_id order."""
    c_ids = np.arange(min(k, len(x)))
    cent = x[: len(c_ids)].copy()
    for _ in range(iters if len(x) else 0):
        a = _nearest(x, cent)
        sums = np.zeros_like(cent)
        np.add.at(sums, a, x)
        size = np.bincount(a, minlength=len(cent))
        keep = size > 0
        c_ids, cent = c_ids[keep], sums[keep] / size[keep, None]
    return c_ids, cent


def _fit_sample(e):
    """The training sample as an md5-rank-ordered (n × d) float64 matrix,
    collected once to the driver: ANN_TRAIN_CAP bounds it at any corpus
    size, so each Lloyd fit on it is driver-sized work (FAISS trains the
    same way), not a chain of Spark jobs."""
    rows = _train_sample(e).collect()
    rows.sort(
        key=lambda r: (hashlib.md5(str(r.vec_id).encode()).hexdigest(), r.vec_id)
    )
    embs = [r.emb for r in rows]
    if not embs:
        return np.zeros((0, 0))
    if any(v is None or None in v or len(v) != len(embs[0]) for v in embs):
        raise ValueError(
            "ANN quantizer fit: the training sample needs non-NULL vectors "
            "of one length with no NULL element"
        )
    return np.array(embs, dtype=np.float64)


def _literal_table(spark, rows: list, ddl: str):
    """A small driver-side table as ONE literal: ``from_json`` of the
    ``json.dumps`` text under a one-row range. It plans no Python worker
    (``createDataFrame`` would ship the rows through one) and has no
    lineage, so consumers re-read it for free; json round-trips every
    float64 exactly."""
    table = F.from_json(F.lit(json.dumps(rows)), f"array<struct<{ddl}>>")
    return spark.range(0, 1, 1, 1).select(F.explode(table).alias("r")).select("r.*")


def ivf_index(e):
    """Build an IVF coarse quantizer: IVF_K md5-ranked seeds + IVF_ITERS
    Lloyd passes fit on the driver over the bounded _train_sample
    (``_lloyd``), returned as a literal centroid table; the list
    assignment of the FULL corpus runs in Spark. Returns
    (centroids (c_id, c_emb), assignments (vec_id, list_id)) — the
    inverted-list structure."""
    c_ids, cent = _lloyd(_fit_sample(e), IVF_K, IVF_ITERS)
    cent = _literal_table(
        e.sparkSession,
        [{"c_id": int(c), "c_emb": v.tolist()} for c, v in zip(c_ids, cent)],
        "c_id:int,c_emb:array<double>",
    )
    # Eager: the N-row assignment feeds several broadcast-separated
    # consumers (probe lists, residual build, list scans, shape counts)
    # that would each replay the corpus scan (r14 subtree-CPU A/B:
    # sim_ann_ivf 18.4 -> 11.5 CPU-s).
    assign = share(
        _nearest_centroid(e.select("vec_id", "emb"), cent, "vec_id", "list_id"),
        eager=True,
    )
    return cent, assign


def sim_ann_ivf_topk(spark, sf_dir, probes: int = IVF_PROBES):
    """ANN top-k via an IVF coarse quantizer (k-means inverted lists).

    Queries probe their ``probes`` nearest centroids (default IVF_PROBES)
    and score exact cosine only against those lists' members — the classic
    IVF-Flat shape. At scale the centroid set stays broadcast-sized
    (K ~ sqrt(N)) and each list is a partition-prunable bucket of the
    corpus. Recall is asserted vs sim_topk_bruteforce in
    tests/test_pipeline.py and bounds-checked by the registered sim_ann_ivf
    key; the measured recall/probes curve is in SCALING.md (probes is THE
    runtime recall/latency knob — the index itself is probe-agnostic).
    """
    e = load_embeddings(spark, sf_dir)
    cent, assign = ivf_index(e)
    corpus = e.join(assign, "vec_id")
    # nearest IVF_PROBES centroids per query
    wq = Window.partitionBy("query_id").orderBy("qdist", "c_id")
    probes = (
        _queries(e)
        .crossJoin(F.broadcast(cent))
        .select("query_id", "q_emb", "c_id", _l2sq("q_emb", "c_emb").alias("qdist"))
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= probes)
        .select("query_id", "q_emb", F.col("c_id").alias("list_id"))
    )
    return _cosine_topk(
        F.broadcast(probes).join(corpus, "list_id").filter(
            F.col("query_id") != F.col("vec_id")
        )
    )


def _ann_recall_summary(ann, exact_f, recall_bound: float):
    """One-row verification summary: result counts + a recall bound check.

    ANN recall < 1 by design, so the hashable contract is the bound: the
    oracle emits the deterministic counts plus TRUE, and the hash matches
    iff the (seeded, deterministic) index achieves the declared recall
    against the exact top-k. Measured recall floors across sf0.001/0.01/0.1
    are recorded in the key docstrings.

    Both pair frames are eager checkpoints of at most N_QUERIES×TOPK rows
    (their lineage is the whole serve pipeline or the brute-force scan, so
    the action never replays it), and the counts come from ONE aggregate
    over their tagged union: per (query, neighbor) pair the ANN and exact
    multiplicities, then n_results = Σ ann, n_queries = distinct queries
    with an ANN row, n_exact = Σ exact and n_hit = Σ ann·exact over
    non-NULL pairs — the row count of the exact ⋈ ANN pair join,
    duplicates included.

    ``exact_f`` is the Future of _overlapped_exact_fill, which the caller
    submits BEFORE building its index, so the brute-force pass overlaps
    the index work (r15, guide §2.6); it is resolved after the ANN fill."""
    ann_pairs = share(ann.select("query_id", "neighbor_id"), eager=True)
    exact_pairs = exact_f.result()
    pairs = (
        ann_pairs.withColumn("_ann", F.lit(True))
        .unionByName(exact_pairs.withColumn("_ann", F.lit(False)))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.count_if("_ann").alias("na"),
            F.count_if(~F.col("_ann")).alias("nx"),
        )
    )
    # an equi-join never matches a NULL key, so neither may n_hit
    keyed = F.col("query_id").isNotNull() & F.col("neighbor_id").isNotNull()
    return pairs.agg(
        F.coalesce(F.sum("na"), F.lit(0)).alias("n_results"),
        F.count_distinct(F.when(F.col("na") > 0, F.col("query_id"))).alias(
            "n_queries"
        ),
        F.coalesce(F.sum("nx"), F.lit(0)).alias("n_exact"),
        F.coalesce(
            F.sum(F.when(keyed, F.col("na") * F.col("nx"))), F.lit(0)
        ).alias("n_hit"),
    ).select(
        "n_results",
        "n_queries",
        (F.col("n_hit") >= recall_bound * F.col("n_exact")).alias("recall_ok"),
    )


def _overlapped_exact_fill(spark, sf_dir):
    """Submit the brute-force exact-pairs checkpoint fill on a driver
    thread and return the Future (r15, guide §2.6): the exact check is
    independent of the index, so its corpus scan overlaps the training
    fills the caller runs next instead of serializing after them.
    _ann_recall_summary resolves the Future after filling the ANN side."""
    return submit(
        lambda: share(
            sim_topk_bruteforce(spark, sf_dir).select(
                "query_id", "neighbor_id"
            ),
            eager=True,
        )
    )


ANN_RECALL_FLOOR = 0.45  # least recall@TOPK vs exact of a bounds-checked key


def _ann_checked(spark, sf_dir, build):
    """The bounds-checked ANN key contract, one summary row: n_results,
    n_queries and recall_ok (recall vs the exact top-k >= ANN_RECALL_FLOOR,
    via _ann_recall_summary), then the key's index-shape columns.

    The exact fill is submitted BEFORE ``build()`` runs, so the brute-force
    scan overlaps the index work. ``build()`` returns ``(topk, shape,
    *checks)``: the ANN top-k frame; the shape columns as a name -> value
    dict, where a frame stands for its row count and an int for itself
    (both long, all counts in one broadcast 1-row frame); and 1-row frames
    of checks, each joined on its own, whose columns follow as they are."""
    exact_f = _overlapped_exact_fill(spark, sf_dir)
    topk, shape, *checks = build()
    out = _ann_recall_summary(topk, exact_f, ANN_RECALL_FLOOR)
    counts = [
        v.agg(F.count(F.lit(1)).alias(k))
        for k, v in shape.items()
        if not isinstance(v, int)
    ]
    if counts:
        out = out.crossJoin(F.broadcast(reduce(DataFrame.crossJoin, counts)))
    for check in checks:
        out = out.crossJoin(F.broadcast(check))
    return out.select(
        "n_results",
        "n_queries",
        "recall_ok",
        *[
            (F.lit(v) if isinstance(v, int) else F.col(k)).cast("long").alias(k)
            for k, v in shape.items()
        ],
        *[c for check in checks for c in check.columns],
    )


def _ann_oracle(**shape) -> str:
    """DuckDB twin of _ann_checked: the constant n_results, n_queries,
    recall_ok head, then each shape column — a BIGINT SQL expression, or
    True for a check that must hold."""
    cols = {
        "n_results": N_QUERIES * TOPK,
        "n_queries": N_QUERIES,
        "recall_ok": True,
        **shape,
    }
    return "SELECT " + ",\n       ".join(
        f"TRUE AS {k}" if v is True else f"CAST({v} AS BIGINT) AS {k}"
        for k, v in cols.items()
    )


@register("sim_ann_ivf", oracle=_ann_oracle())
def sim_ann_ivf(spark, sf_dir):
    """IVF-Flat ANN, bounds-checked at ANN_RECALL_FLOOR (measured recall vs
    exact top-5 0.57–0.63 across sf0.001/0.01/0.1 with K=16, 4 probes)."""
    return _ann_checked(spark, sf_dir, lambda: (sim_ann_ivf_topk(spark, sf_dir), {}))


@register("sim_ann_lsh", oracle=_ann_oracle())
def sim_ann_lsh(spark, sf_dir):
    """Multiprobe random-hyperplane LSH ANN, bounds-checked at
    ANN_RECALL_FLOOR — the same bound as sim_ann_ivf, because the r8
    retune put the two tiers at the same cost point (measured recall vs
    exact top-5 0.62–0.73 across sf0.001/0.01/0.1 with 8 tables × 8 bits +
    distance-1 multiprobe, scanning ~27% of the corpus per query — vs
    0.35–0.37 at ~13% for the old 8×6 single-probe config, and vs IVF's
    0.57–0.63 at ~25% with 4/16 probes; full measured grid in SCALING.md
    "Round-8 LSH retune")."""
    return _ann_checked(spark, sf_dir, lambda: (sim_ann_lsh_topk(spark, sf_dir), {}))


N_TABLES = 8  # independent LSH hash tables
BITS_PER_TABLE = 8  # hyperplanes per table (256 buckets each)
MULTIPROBE_FLIPS = 1  # probe depth: every bucket at hamming distance <= 1


def sim_ann_lsh_topk(spark, sf_dir):
    """ANN top-k via multiprobe multi-table random-hyperplane LSH.

    One table of b bits has P(collide) = (1 - theta/pi)^b — far too selective
    alone — so candidates are unioned across N_TABLES independent tables
    (standard LSH amplification: recall 1-(1-p^b)^T) AND, per table, across
    the 1 + b buckets at hamming distance <= 1 from the query's bucket
    (distance-1 multiprobe, Lv et al. 2007): a near neighbor that lands one
    flipped hyperplane away is recovered without paying for more tables.
    Each CORPUS vector is still indexed exactly once per table — only the
    20-query probe list fans out ×(1+b), which is broadcast-sized. The r8
    measured grid (SCALING.md "Round-8 LSH retune") put 8×8+multiprobe at
    recall 0.62–0.73 scanning ~27% of the corpus — the knee: the old
    8×6 single-probe point (0.35–0.37 at 13%) sat below IVF on the same
    cost curve, and deeper probing (8×6+mp: 0.86–0.90) scans 60%.
    Planes are seeded (numpy RandomState(42)) and shipped as literals, so
    buckets are deterministic everywhere. Exact cosine is computed only
    within probed buckets; recall vs sim_topk_bruteforce is asserted in
    tests/test_pipeline.py. At scale: more bits per table (smaller
    buckets), more tables or probe depth (recall).
    """
    rng = np.random.RandomState(42)
    planes = rng.randn(N_TABLES * BITS_PER_TABLE, 64)

    e = load_embeddings(spark, sf_dir)

    def table_bucket(t: int):
        bits = None
        for j in range(BITS_PER_TABLE):
            plane = F.array(*[F.lit(float(v)) for v in planes[t * BITS_PER_TABLE + j]])
            bit = F.when(_dot(F.col("emb"), plane) > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            term = F.shiftleft(bit, j)
            bits = term if bits is None else bits.bitwiseOR(term)
        return bits

    sig = e.select(
        "vec_id",
        "emb",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("tbl"), table_bucket(t).alias("bucket"))
                    for t in range(N_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "emb", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))

    # Multiprobe: the query side explodes to its own bucket plus every
    # 1-bit-flip neighbor (1 + b probes per table) — N_QUERIES × tables ×
    # (1+b) rows, broadcast-sized; the corpus index stays one row per
    # (vector, table).
    probe_buckets = F.array(
        F.col("q_bucket"),
        *[
            F.col("q_bucket").bitwiseXOR(F.lit(1 << j))
            for j in range(BITS_PER_TABLE)
        ],
    )
    q = (
        sig.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("tbl").alias("q_tbl"),
            F.col("bucket").alias("q_bucket"),
        )
        .select(
            "query_id",
            "q_emb",
            "q_tbl",
            F.explode(probe_buckets).alias("probe_bucket"),
        )
    )
    return _cosine_topk(
        F.broadcast(q)
        .join(
            sig,
            (F.col("q_tbl") == F.col("tbl"))
            & (F.col("probe_bucket") == F.col("bucket"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .dropDuplicates(["query_id", "vec_id"])
    )


PQ_M = 8  # product-quantization subspaces (64 dims -> 8 x 8-dim blocks)
PQ_DSUB = 8  # dims per subspace
PQ_KS = 16  # codes per subspace codebook (4 bits)
PQ_ITERS = 2  # Lloyd refinement passes per subspace (deterministic)
PQ_SHORTLIST = 100  # ADC shortlist re-ranked exactly


def _pq_train_encode(e):
    """Train per-subspace PQ codebooks and encode every vector.

    The fit runs on the driver over the BOUNDED training sample
    (ANN_TRAIN_CAP md5-prefix vectors — see _train_sample; r8 VERDICT #2):
    each of the PQ_M contiguous PQ_DSUB-dim blocks gets its own ``_lloyd``
    (the ivf_index recipe — seeds are the md5-ranked first PQ_KS vectors,
    ties break (dist, c_id)), and the M×PQ_KS codebook comes back as one
    literal table. ENCODING covers the full corpus in Spark (N×M code
    rows). Works on any (vec_id, emb) frame — raw embeddings (sim_ann_pq)
    or IVF residuals (sim_ann_ivfpq). Returns (codebooks (m, c_id, c_sub),
    codes (vec_id, m, code))."""
    x = _fit_sample(e)
    rows = []
    for m in range(PQ_M):
        block = x[:, m * PQ_DSUB : (m + 1) * PQ_DSUB]
        c_ids, cent = _lloyd(block, PQ_KS, PQ_ITERS)
        rows += [
            {"m": m, "c_id": int(c), "c_sub": v.tolist()} for c, v in zip(c_ids, cent)
        ]
    cent = _literal_table(
        e.sparkSession, rows, "m:int,c_id:int,c_sub:array<double>"
    )
    # Eager: the N×M code table feeds the ADC scan and the shape counts,
    # broadcast-separated branches where exchange reuse does not fire; a
    # lazy persist would also serialize the encode lineage into every
    # consumer task (r14 subtree-CPU A/B, OPTIMIZATION_r14.md wave 4/5).
    return cent, share(_pq_encode(cent, e), eager=True)


def _subvectors(frame, col: str = "emb", keys=("vec_id",)):
    """(*keys, m, sub) — split each ``col`` vector into PQ_M contiguous
    PQ_DSUB-dim subvectors (the corpus encode and the query lookup tables
    share it)."""
    return frame.select(
        *keys,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(col, m * PQ_DSUB + 1, PQ_DSUB).alias("sub"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("ms"),
    ).select(*keys, F.col("ms.m").alias("m"), F.col("ms.sub").alias("sub"))


def _pq_encode(books, frame):
    """(vec_id, m, code): the nearest codeword of each (vec_id, emb)
    vector per subspace; ties (dist, c_id) — deterministic everywhere.
    Broadcast the M×Ks codebook.

    r14: argmin as a ``min_by`` aggregate over the totally-ordered
    (dist, c_id) key instead of a row_number window (the
    _nearest_centroid change) — same row out, but the ×Ks candidate
    explosion reduces map-side before the exchange and the per-group
    sort disappears. Only ``c_id`` rides in the aggregate buffer: the
    subvector is dropped before the partial aggregate and the shuffle."""
    return (
        _subvectors(frame)
        .join(F.broadcast(books), "m")
        .select("vec_id", "m", "c_id", _l2sq("sub", "c_sub").alias("dist"))
        .groupBy("vec_id", "m")
        .agg(F.min_by("c_id", F.struct("dist", "c_id")).alias("code"))
    )


def _adc_topk(e, q, qsub, books, codes, k: int = TOPK):
    """ADC shortlist + exact re-rank, the query tail of the PQ and IVF-PQ
    paths. ``qsub`` (query_id, *keys, m, sub) holds the query subvectors
    and ``codes`` (vec_id, *keys, m, code) the corpus codes, where keys are
    the columns both carry besides m (none for PQ, list_id for IVF-PQ). A
    broadcast lookup table holds every query subvector's squared distance
    to every codeword of ``books``; a code row's approximate distance is
    the SUM of its M lookups (6 dp), and the PQ_SHORTLIST closest per
    query by (adist, vec_id) are re-ranked by exact cosine to the top
    ``k``."""
    keys = [c for c in qsub.columns if c not in ("query_id", "sub")]
    lut = qsub.join(F.broadcast(books), "m").select(
        "query_id", *keys, F.col("c_id").alias("code"), _l2sq("sub", "c_sub").alias("d")
    )
    adc = (
        codes.join(F.broadcast(lut), [*keys, "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("d"), 6).alias("adist"))
    )
    ws = Window.partitionBy("query_id").orderBy("adist", "vec_id")
    shortlist = (
        adc.withColumn("_rn", F.row_number().over(ws))
        .filter(F.col("_rn") <= PQ_SHORTLIST)
        .select("query_id", "vec_id")
    )
    return _cosine_topk(
        shortlist.join(e, "vec_id").join(F.broadcast(q), "query_id"), k
    )


def sim_ann_pq_topk(spark, sf_dir):
    """ANN top-k via product quantization + ADC shortlist + exact re-rank
    (the FAISS IndexPQ/refine shape — Jégou et al. 2011).

    Each vector compresses to PQ_M 4-bit codes (32 bits vs 2048 bits of
    float32: 64×). A query never touches raw corpus vectors in the scan:
    it builds an M×PQ_KS lookup table of subspace distances (broadcast —
    N_QUERIES × 128 rows), and the approximate distance of every corpus
    vector is a SUM of M table lookups over its codes. The PQ_SHORTLIST
    closest by ADC are then re-ranked with exact cosine — at sf0.1 that
    re-reads 5% of the corpus; at 100 TB the codes table is the only
    full-width scan and it is 64× smaller than the embeddings. Recall@5
    after re-rank measured 0.81/0.85/0.60 at sf0.001/0.01/0.1 — the
    Spark implementation and the numpy twin agree exactly
    (bound-checked at ANN_RECALL_FLOOR by the registered key). Compose
    with IVF lists (classic IVF-PQ) when even the code scan must prune."""
    e = load_embeddings(spark, sf_dir)
    cent, codes = _pq_train_encode(e)
    return _pq_topk(e, cent, codes)


def _pq_topk(e, cent, codes):
    """ADC shortlist + exact re-rank over an already-trained (cent, codes)
    index — split from sim_ann_pq_topk so the registered summary key fits
    ONCE and the recall check and the shape counts read the same literal
    codebook and checkpointed codes."""
    q = _queries(e)
    return _adc_topk(e, q, _subvectors(q, "q_emb", ("query_id",)), cent, codes)


_N_CODE_ROWS_SQL = f"(SELECT count(*) FROM embeddings) * {PQ_M}"


@register(
    "sim_ann_pq",
    oracle=_ann_oracle(n_code_rows=_N_CODE_ROWS_SQL, codebook_rows=PQ_M * PQ_KS),
)
def sim_ann_pq(spark, sf_dir):
    """Product-quantization ANN, bounds-checked like the LSH/IVF keys at
    ANN_RECALL_FLOOR: recall@5 after exact re-rank of the ADC shortlist
    measured 0.81/0.85/0.60 across SFs (grid in SCALING.md "Round-8 PQ").
    The hash additionally pins the index SHAPE from the data: one code
    row per (vector, subspace) — corpus × PQ_M — and a full M × Ks
    codebook (no empty-cluster collapse; min cluster membership measured
    9/12/68 at the three SFs)."""

    def build():
        e = load_embeddings(spark, sf_dir)
        cent, codes = _pq_train_encode(e)  # ONE training, shared by both branches
        return _pq_topk(e, cent, codes), {"n_code_rows": codes, "codebook_rows": cent}

    return _ann_checked(spark, sf_dir, build)


IVFPQ_PROBES = 6  # coarse lists probed per query (the recall/scan knob)


def _residuals(e, assign, cent):
    """(vec_id, list_id, emb): each vector minus its list's centroid."""
    cl = cent.select(F.col("c_id").alias("list_id"), "c_emb")
    return (
        e.join(assign, "vec_id")
        .join(F.broadcast(cl), "list_id")
        .select(
            "vec_id",
            "list_id",
            F.zip_with("emb", "c_emb", lambda x, c: x - c).alias("emb"),
        )
    )


def _ivfpq_index(e):
    """Train the composed IVF-PQ index (Jégou et al. 2011 "IVFADC"):
    coarse k-means lists from ivf_index, then PQ codebooks fit on the
    RESIDUALS x - c(list) — residual energy is what's left after the
    coarse quantizer explains the list structure, so the same 4-bit
    budget quantizes a much tighter distribution than raw vectors.
    Both fits run on the bounded _train_sample (enforced, r8 VERDICT #2);
    encoding covers the full corpus. Returns (cent, assign, books,
    codes_l) where codes_l carries each code row's list_id so the ADC
    scan can prune to probed lists with an equi-join."""
    cent, assign = ivf_index(e)
    books, codes = _pq_train_encode(_residuals(e, assign, cent))
    return cent, assign, books, codes.join(assign, "vec_id")


def _ivfpq_topk(e, cent, books, codes_l, k: int | None = None):
    """IVF-PQ query path over an already-trained index: probe the
    IVFPQ_PROBES nearest coarse lists, ADC-scan ONLY those lists' codes
    via a per-(query, list) residual lookup table, exact-re-rank the
    PQ_SHORTLIST. The LUT is N_QUERIES × IVFPQ_PROBES × M × Ks rows
    (15 360 here, ~8 KB per query at any corpus size) and rides as a
    broadcast; the scan side is the codes frame pruned by the
    (list_id, m, code) equi-join — at 100 TB that is probes/K of a
    64×-compressed table, the only corpus-sized input the query touches.
    Split from the registered key so training runs ONCE and the recall
    and shape branches read the same fitted index (the sim_ann_pq
    split)."""
    q = _queries(e)
    wq = Window.partitionBy("query_id").orderBy("qdist", "c_id")
    probed = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id", "q_emb", "c_id", "c_emb",
            _l2sq("q_emb", "c_emb").alias("qdist"),
        )
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= IVFPQ_PROBES)
        .select(
            "query_id",
            F.col("c_id").alias("list_id"),
            F.zip_with("q_emb", "c_emb", lambda x, c: x - c).alias("r_emb"),
        )
    )
    qsub = _subvectors(probed, "r_emb", ("query_id", "list_id"))
    return _adc_topk(e, q, qsub, books, codes_l, k or TOPK)


def sim_ann_ivfpq_topk(spark, sf_dir):
    """Composable entry point: train + query in one call (tests use this;
    the registered key trains once and shares the index across branches)."""
    e = load_embeddings(spark, sf_dir)
    cent, _assign, books, codes_l = _ivfpq_index(e)
    return _ivfpq_topk(e, cent, books, codes_l)


def _ivfpq_checked(spark, sf_dir, index):
    """The sim_ann_ivfpq / sim_ann_persist body: the bounds-checked IVF-PQ
    summary over ``index(e)`` -> (cent, books, codes_l), with the index
    shape counted from the frames the query path reads."""

    def build():
        e = load_embeddings(spark, sf_dir)
        cent, books, codes_l = index(e)
        shape = {"n_code_rows": codes_l, "codebook_rows": books, "n_lists": cent}
        return _ivfpq_topk(e, cent, books, codes_l), shape

    return _ann_checked(spark, sf_dir, build)


_IVFPQ_ORACLE = _ann_oracle(
    n_code_rows=_N_CODE_ROWS_SQL, codebook_rows=PQ_M * PQ_KS, n_lists=IVF_K
)


@register("sim_ann_ivfpq", oracle=_IVFPQ_ORACLE)
def sim_ann_ivfpq(spark, sf_dir):
    """IVF-PQ — the production ANN shape at 100 TB (r8 VERDICT #1): the
    three verified tiers composed. IVF prunes the scan to IVFPQ_PROBES/
    IVF_K of the corpus, PQ compresses what's left 64×, exact re-rank
    repairs the quantization error on a 100-deep shortlist. Bounds-checked
    at the family's shared ANN_RECALL_FLOOR; measured recall@5 =
    0.68/0.73/0.56 at sf0.001/0.01/0.1 with 6/16 probes and sampled
    training (numpy twin = Spark; grid in SCALING.md "Round-9 IVF-PQ"),
    scanning ~38% of a 64×-smaller codes table — vs sim_ann_pq's 100%
    code scan at 0.60 (sf0.1) and sim_ann_ivf's ~25% FULL-WIDTH scan at
    0.57. The hash additionally pins the composed index shape: corpus×M
    code rows, the full M×Ks residual codebook (no empty-cluster
    collapse; min membership 13/14/24 at the three SFs), and all IVF_K
    coarse lists materialized."""

    def index(e):
        cent, _assign, books, codes_l = _ivfpq_index(e)  # ONE training
        return cent, books, codes_l

    return _ivfpq_checked(spark, sf_dir, index)


# --- train-once / serve-many: the staged IVF-PQ index (r9 VERDICT #1) ----
#
# The production 100 TB shape: the index is BUILT once (one training +
# encode job over the corpus), staged to parquet, and every query session
# after that reads the staged artifact — centroids, residual codebooks,
# codes — without a single k-means stage in its plan. The registered
# sim_ann_ivfpq key keeps the self-contained train+query contract for the
# oracle; sim_ann_persist is the split the verdict asked for.


def _write_index(tmp: str, cent, books, codes) -> None:
    cent.write.parquet(f"{tmp}/centroids")
    books.write.parquet(f"{tmp}/codebooks")
    codes.write.parquet(f"{tmp}/codes")


def _stage_ivfpq(spark, sf_dir, name: str, rows) -> str:
    """Train the IVF-PQ index on the embeddings that satisfy ``rows`` and
    stage it as store ``name``."""

    def _build(tmp: str) -> None:
        e = load_embeddings(spark, sf_dir).filter(rows)
        cent, _assign, books, codes_l = _ivfpq_index(e)
        _write_index(tmp, cent, books, codes_l)

    return stage(name, sf_dir, "embeddings", _build)


def ivfpq_stage_index(spark, sf_dir) -> str:
    """Build the IVF-PQ index ONCE and publish it atomically as parquet.

    Three tables: centroids (c_id, c_emb) — the coarse quantizer;
    codebooks (m, c_id, c_sub) — the per-subspace residual PQ codebooks;
    codes (vec_id, m, code, list_id) — every corpus vector's 4-bit codes
    carrying its inverted-list id. Together they are the whole index: the
    serve path never needs the training sample, the seeds, or a Lloyd
    pass again. The build is the same deterministic _ivfpq_index as the
    self-contained key (md5-ranked seeds, bounded ANN_TRAIN_CAP sample),
    so staged-vs-fresh results are identical — tested. The store's
    directory name is its cache key (SF basename + embeddings
    fingerprint), so an index built at one SF or against a regenerated
    fixture is never served for another."""
    return _stage_ivfpq(spark, sf_dir, "ivfpq_index", F.lit(True))


def ivfpq_read_index(spark, staged: str):
    """(cent, books, codes_l) DataFrames off the staged artifact."""
    return (
        spark.read.parquet(f"{staged}/centroids"),
        spark.read.parquet(f"{staged}/codebooks"),
        spark.read.parquet(f"{staged}/codes"),
    )


def sim_ann_ivfpq_serve_topk(spark, sf_dir):
    """Warm-path IVF-PQ query: serve top-k from the staged index. The plan
    contains parquet scans of the staged artifact plus the embeddings
    table (queries + exact re-rank) and ZERO training stages — no
    md5-ranked sample, no Lloyd pass, no seed window (plan-pinned in
    tests/test_plans.py). This is what every query session after the
    build job runs at 100 TB."""
    staged = ivfpq_stage_index(spark, sf_dir)
    cent, books, codes_l = ivfpq_read_index(spark, staged)
    e = load_embeddings(spark, sf_dir)
    return _ivfpq_topk(e, cent, books, codes_l)


@register("sim_ann_persist", oracle=_IVFPQ_ORACLE)
def sim_ann_persist(spark, sf_dir):
    """Train-once / serve-many IVF-PQ (r9 VERDICT #1): the first call
    builds and stages the index to parquet; every call serves queries
    from the staged artifact with zero k-means/codebook stages in the
    plan. The summary row carries the same contract as sim_ann_ivfpq —
    recall bound vs exact top-5 (same ANN_RECALL_FLOOR; the staged index is
    bit-identical to a fresh build, tested) — and the shape counts are
    computed FROM THE STAGED PARQUET, so the hash pins that the artifact
    on disk holds exactly corpus×M code rows, the full M×Ks codebook and
    all IVF_K lists for THIS SF: an index from another SF (different
    corpus count) can neither live at this dir name (SF-namespaced,
    content-fingerprinted) nor pass the n_code_rows pin."""
    # The staged serve is a shallow parquet probe: r14 measured SEQUENTIAL
    # eager fills at wall 3.3 -> 9.4 s, but the overlapped exact fill
    # measures flat against lazy pair persists (A/B in CHANGES.md), so the
    # key takes the one summary path every ANN key uses.
    return _ivfpq_checked(
        spark,
        sf_dir,
        lambda e: ivfpq_read_index(spark, ivfpq_stage_index(spark, sf_dir)),
    )


EMBED_DUP_TAU = 0.4  # cosine threshold for embedding-level near-dup clusters


@register(
    "dedup_embed_cosine",
    oracle=f"""
    WITH RECURSIVE e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                         FROM embeddings),
    p AS (
        -- norm>0 guards mirror the Spark-side zero-norm exclusion in
        -- tiled_cosine_pairs (NaN-vs-dropped cross-engine divergence);
        -- zero-norm vectors still appear in `reach` as their own cluster.
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE {_SQL_DOT.format(a="a.emb", b="a.emb")} > 0
          AND {_SQL_DOT.format(a="b.emb", b="b.emb")} > 0
          AND {_sql_cos("a.emb", "b.emb")} >= {EMBED_DUP_TAU}
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM p
        UNION ALL
        SELECT id_b AS a, id_a AS b FROM p
    ),
    reach(node, lbl) AS (
        SELECT vec_id, vec_id FROM e
        UNION
        SELECT g.a, r.lbl FROM edges g JOIN reach r ON r.node = g.b
    ),
    minlab AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node)
    SELECT e.vec_id, e.label
    FROM e JOIN minlab m ON e.vec_id = m.node
    WHERE m.lbl = e.vec_id
    """,
)
def dedup_embed_cosine(spark, sf_dir):
    """Embedding-cosine near-dup: collapse cosine>=tau clusters to one
    canonical survivor — the semantic-dedup rung of the dedup ladder
    (exact/ngram/minhash/simhash/embedding).

    Pairs come from the exact tiled block join (no row-level cartesian),
    clusters from the same fixpoint min-label propagation as
    dedup_near_survivors; the DuckDB twin redoes both with an all-pairs
    join + recursive CTE. At 100 TB the pair step swaps to the ANN
    candidate generators (sim_ann_lsh/ivf) at the cost of recall<1;
    this key keeps the exact contract.
    """
    from data_transform_spark.pipeline.dedup import cc_survivor_ids

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    pairs = tiled_cosine_pairs(spark, sf_dir, EMBED_DUP_TAU).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    nodes = emb.select(F.col("vec_id").alias("doc_id"))
    survivors = cc_survivor_ids(nodes, pairs).select(F.col("doc_id").alias("vec_id"))
    return emb.join(survivors, "vec_id", "left_semi").orderBy("vec_id")


@register(
    "sim_label_centroids",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    pos AS (SELECT label, vec_id, i - 1 AS pos, emb[i] AS v
            FROM e, unnest(generate_series(1, len(emb))) AS u(i)),
    cent AS (SELECT label, pos,
                    CAST(sum(CAST(round(v, 12) AS DECIMAL(27,12))) AS DOUBLE)
                        / count(*) AS cv
             FROM pos GROUP BY label, pos),
    carr AS (SELECT label, list(cv ORDER BY pos) AS c_emb FROM cent GROUP BY label),
    scored AS (SELECT e.label, e.vec_id,
                      round({{cos}}, 12) AS cos
               FROM e JOIN carr c ON e.label = c.label),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY label
                                            ORDER BY cos, vec_id) AS rn
               FROM scored)
    SELECT label, count(*) AS n_vecs,
           round(CAST(sum(CAST(cos AS DECIMAL(27,12))) AS DOUBLE) / count(*), 6)
               AS avg_cos,
           round(min(cos), 6) AS min_cos,
           min(CASE WHEN rn = 1 THEN vec_id END) AS outlier_vec_id
    FROM ranked GROUP BY label
    """.format(cos=_sql_cos("e.emb", "c.c_emb")),
)
def sim_label_centroids(spark, sf_dir):
    """Per-label centroid quality profile: each label's mean vector, every
    member's cosine to its own centroid, and the per-label outlier (lowest
    cosine) — the curation primitive behind label-noise detection and
    centroid-distance quality filtering.

    Shape: one posexplode + (label, pos) aggregation builds the centroids
    (|labels| x dim rows — broadcast-tiny at any corpus size), then one
    broadcast join scores every vector in a single pass; the final
    aggregate is |labels| rows. No pairwise work anywhere — this is the
    O(N·d) companion to the O(N²) similarity keys.

    Numeric discipline (same as graph_pagerank): centroid components and
    the avg-cosine are summed as round(·,12)-then-DECIMAL(27,12) partials —
    exact, partition-order-independent — and divided in double, so both
    engines produce bit-identical values and the key is hash-checkable.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    pos = e.select("label", "vec_id", F.posexplode("emb").alias("pos", "v"))
    cent = (
        pos.groupBy("label", "pos")
        .agg(
            (
                F.sum(F.round("v", 12).cast("decimal(27,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("cv")
        )
        .groupBy("label")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "cv"))).alias("pc"))
        .select("label", F.col("pc.cv").alias("c_emb"))
    )
    scored = e.join(F.broadcast(cent), "label").select(
        "label",
        "vec_id",
        F.round(_cos(F.col("emb"), F.col("c_emb")), 12).alias("cos"),
    )
    w = Window.partitionBy("label").orderBy("cos", "vec_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum(F.col("cos").cast("decimal(27,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_cos"),
            F.round(F.min("cos"), 6).alias("min_cos"),
            F.min(F.when(F.col("_rn") == 1, F.col("vec_id"))).alias("outlier_vec_id"),
        )
    )


PCA_TOL_REL = 1e-6  # relative tolerance for the PC1-variance invariant


@register(
    "embed_pca",
    oracle="""
    SELECT ROUND(SUM(v), 4) AS total_var,
           TRUE AS trace_matches,
           TRUE AS eigs_sorted_nonneg,
           TRUE AS components_orthonormal,
           TRUE AS pc1_variance_matches
    FROM (
        SELECT dim, var_pop(e) AS v FROM (
            SELECT unnest(embedding) AS e,
                   unnest(range(1, 1 + len(embedding))) AS dim
            FROM embeddings
        ) GROUP BY dim
    )
    """,
)
def embed_pca(spark, sf_dir):
    """Distributed PCA over the embedding column — the MLlib shape: each
    Arrow batch reduces to a (count, sum-vector, Gram-matrix) partial via
    numpy, partials element-wise-sum in one shuffle, and ONLY the d²-sized
    moment matrix (64×64 here) reaches the driver for the LAPACK
    eigendecomposition; the corpus itself never moves. The eigenbasis then
    goes BACK into the plan as a broadcast literal to verify, on the data,
    that var_pop of the PC1 projection equals λ₁ (the defining property of
    the top principal component — sign-invariant, so safe under LAPACK's
    sign indeterminacy). The oracle pins total variance (trace of the
    covariance) computed independently per-dimension, plus the spectral
    invariants: Σλᵢ = trace, λ sorted non-negative, eigenbasis orthonormal.
    At 100 TB the three passes over the corpus (partials, total-var,
    projection-var) would fuse into the partials pass; kept separate here
    so each invariant is independently hash-checked."""
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("embedding")
    )

    def moment_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(list(pdf["embedding"]), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "n": [float(len(x))],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [(x.T @ x).reshape(-1).tolist()],
                }
            )

    partials = e.mapInPandas(
        moment_batches, "n double, s array<double>, g array<double>"
    )
    # Element-wise reduce of the fixed-size partials: flatten each partial to
    # (pos, value) rows and sum by position — 1 + d + d² cells total, a
    # d²-bounded collect (4161 doubles for d=64), never corpus-sized.
    summed = (
        partials.select(
            F.posexplode(F.concat(F.array(F.col("n")), F.col("s"), F.col("g")))
        )
        .groupBy("pos")
        .agg(F.sum("col").alias("v"))
        .collect()
    )
    cells = {r["pos"]: r["v"] for r in summed}
    d = int(round((len(cells) - 1 + 0.25) ** 0.5 - 0.5))  # solve 1+d+d² = len
    n = cells[0]
    s = np.array([cells[1 + i] for i in range(d)])
    g = np.array([cells[1 + d + i] for i in range(d * d)]).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    cov = (cov + cov.T) / 2.0
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1]
    eigvals, eigvecs = eigvals[order], eigvecs[:, order]
    trace = float(np.trace(cov))
    trace_matches = bool(abs(float(eigvals.sum()) - trace) <= 1e-8 * max(1.0, trace))
    eigs_sorted_nonneg = bool(
        np.all(np.diff(eigvals) <= 1e-12) and eigvals[-1] >= -1e-10
    )
    ortho = bool(np.max(np.abs(eigvecs.T @ eigvecs - np.eye(d))) <= 1e-8)

    # Total variance recomputed IN-PLAN (per-dim var_pop summed) so the
    # headline number is engine-rounded, never Python-rounded.
    total_var = (
        e.select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.var_pop("x").alias("v"))
        .agg(F.round(F.sum("v"), 4).alias("total_var"))
    )
    # PC1 projection variance must equal λ₁ — verified on the data in-plan
    # with the eigenvector as a broadcast literal.
    pc1 = F.array(*[F.lit(float(w)) for w in eigvecs[:, 0]])
    proj = F.aggregate(
        F.zip_with(F.col("embedding"), pc1, lambda x, w: x * w),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    lam1 = float(eigvals[0])
    pc1_check = e.select(proj.alias("p")).agg(
        (
            F.abs(F.var_pop("p") - F.lit(lam1))
            <= PCA_TOL_REL * F.lit(max(abs(lam1), 1e-12))
        ).alias("pc1_variance_matches")
    )
    return (
        total_var.crossJoin(F.broadcast(pc1_check))
        .select(
            "total_var",
            F.lit(trace_matches).alias("trace_matches"),
            F.lit(eigs_sorted_nonneg).alias("eigs_sorted_nonneg"),
            F.lit(ortho).alias("components_orthonormal"),
            "pc1_variance_matches",
        )
    )


# --- index append: encode-many after train-once (FAISS add() contract) ---


def ivfpq_stage_hist_index(spark, sf_dir) -> str:
    """Train + stage the IVF-PQ index on the HISTORY partition only (the
    %10<8 split — the dedup_incremental family's history convention)."""
    return _stage_ivfpq(spark, sf_dir, "ivfpq_hist", F.col("vec_id") % 10 < 8)


def _ivfpq_encode(e, cent, books):
    """ENCODE-ONLY path against an already-trained index: coarse-list
    assignment + residual + codeword assignment — not one Lloyd pass
    anywhere. This is FAISS's add()-after-train(): new vectors join the
    index at one assignment scan each."""
    assign = _nearest_centroid(e.select("vec_id", "emb"), cent, "vec_id", "list_id")
    return _pq_encode(books, _residuals(e, assign, cent)).join(assign, "vec_id")


@register(
    "sim_ann_index_append",
    oracle=_ann_oracle(
        n_hist_codes=f"(SELECT count(*) FROM embeddings WHERE vec_id % 10 < 8) * {PQ_M}",
        n_append_codes=f"(SELECT count(*) FROM embeddings WHERE vec_id % 10 >= 8) * {PQ_M}",
        codebook_rows=PQ_M * PQ_KS,
        n_lists=IVF_K,
    ),
)
def sim_ann_index_append(spark, sf_dir):
    """Index APPEND — the other half of the train-once contract
    (sim_ann_persist is serve-many; this is encode-many): the IVF-PQ
    index is trained and staged on the HISTORY partition once, and a new
    vector batch joins the index via the encode-only path — coarse-list
    assignment + residual + codeword assignment against the STAGED
    centroids/codebooks, zero Lloyd passes (FAISS add() after train()).
    Queries then run over the MERGED codes (staged + appended) with the
    standard probed-ADC + exact re-rank, bounds-checked at the family's
    ANN_RECALL_FLOOR vs exact top-5 over the full corpus — measured
    0.73/0.69/0.66 at sf0.001/0.01/0.1 (the append path costs no recall
    vs the self-contained key: a fifth of the corpus encoded-not-trained
    barely moves residual quantization error). The hash pins the split
    index shape from the STAGED parquet and the appended frame: history
    ×M staged code rows, batch ×M appended rows, full codebook, all
    lists. At 100 TB this is how the index grows nightly: the training
    job never re-runs; each crawl batch pays one assignment scan."""
    # r15 (profiled): unlike sim_ann_persist's shallow staged probe, the
    # append serve chain carries the batch ENCODE + the merged-codes ADC
    # scan (~12 of the key's ~26 CPU-s), and with lazy pair persists the
    # summary's broadcast branches raced the cold cache and ran it twice.
    # Eager fill + the overlapped exact (the in-plan-training treatment):
    # interleaved A/B in OPTIMIZATION_r15.md.

    def build():
        staged = ivfpq_stage_hist_index(spark, sf_dir)
        cent, books, codes_hist = ivfpq_read_index(spark, staged)
        e = load_embeddings(spark, sf_dir)
        codes_batch = _ivfpq_encode(e.filter(F.col("vec_id") % 10 >= 8), cent, books)
        merged = codes_hist.unionByName(codes_batch.select(*codes_hist.columns))
        shape = {
            "n_hist_codes": codes_hist,
            "n_append_codes": codes_batch,
            "codebook_rows": PQ_M * PQ_KS,
            "n_lists": IVF_K,
        }
        return _ivfpq_topk(e, cent, books, merged), shape

    return _ann_checked(spark, sf_dir, build)


# --- graph ANN: kNN graph + beam search (r13 VERDICT #5) ------------------
#
# The production-default index class the ladder was missing: vector stacks
# reach for graph indexes (HNSW/NSW family) in high-recall regimes because
# a navigable neighbor graph lets a query walk to its neighborhood scoring
# only the nodes it visits. This tier keeps every established discipline:
# deterministic build (4dp-quantized integer-composite selection inside the
# tiled gemm — the train_triplet_mine idiom), train-once/serve-many staged
# parquet adjacency (the sim_ann_persist discipline), fixed-round in-plan
# beam search (the graph_pagerank fixed-iteration shape — no data-dependent
# driver loop), and a bounds-checked recall summary oracle.

GRAPH_DEGREE = 8  # out-degree of the kNN graph (pre-symmetrization)
GRAPH_BEAM = 8  # beam width per query per round
GRAPH_ROUNDS = 4  # fixed expansion rounds (plan-deterministic)
GRAPH_SEEDS = 8  # evenly spaced entry points


def _graph_knn_edges(spark, sf_dir):
    """Deterministic kNN-graph edges (src, dst, su) via the tiled block
    gemm (the sim_pairs_threshold machinery re-aimed at top-G instead of
    a threshold sieve): vectors salt into PAIR_BLOCKS tiles, each
    unordered tile pair is ONE numpy gemm, and each tile pair emits only
    its per-source top-GRAPH_DEGREE candidates (a partial argmax —
    |tile|·G rows per pair, never the full score matrix). A per-src
    window then cuts the ≤ PAIR_BLOCKS·G candidates to the global top-G.
    Selection is float-free after quantization: scores quantize to 4dp
    integer units (⌊s·1e4+0.5⌋) and every argmax maximizes su·2^44 − dst
    (exact (score DESC, dst ASC) — gemm summation drift ~1e-13 sits four
    orders below the quantization step). Exact O(N²) compute at fixture
    tier, distributed as B² BLAS calls; at 100 TB the standard bootstrap
    (NN-descent, or seeding from the IVF lists of sim_ann_persist)
    replaces the exact build — serve is unchanged either way."""
    import pandas as pd

    _, tiles = _tiles(spark, sf_dir)
    shift = np.int64(1) << np.int64(44)
    sentinel = np.int64(-(1 << 62))

    def knn_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        am = pdf[pdf["side"] == "a"]
        bm = pdf[pdf["side"] == "b"]
        if am.empty or bm.empty:
            return pd.DataFrame(
                {"src": [], "dst": [], "su": []}
            ).astype("int64")
        A = np.array(list(am["emb"]), dtype=np.float64)
        B = np.array(list(bm["emb"]), dtype=np.float64)
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        B /= np.linalg.norm(B, axis=1, keepdims=True)
        su = np.floor((A @ B.T) * 1e4 + 0.5).astype(np.int64)
        ida = am["vec_id"].to_numpy(dtype=np.int64)
        idb = bm["vec_id"].to_numpy(dtype=np.int64)
        srcs, dsts, sus = [], [], []

        def emit(su_mat, src_ids, dst_ids):
            comp = su_mat * shift - dst_ids[None, :]
            comp = np.where(src_ids[:, None] == dst_ids[None, :], sentinel, comp)
            g = min(GRAPH_DEGREE, comp.shape[1])
            idx = np.argpartition(-comp, g - 1, axis=1)[:, :g]
            rows = np.repeat(np.arange(comp.shape[0]), g)
            cols = idx.reshape(-1)
            keep = comp[rows, cols] != sentinel
            srcs.append(np.repeat(src_ids, g)[keep])
            dsts.append(dst_ids[cols][keep])
            sus.append(su_mat[rows, cols][keep])

        emit(su, ida, idb)
        if int(pdf["bi"].iloc[0]) != int(pdf["bj"].iloc[0]):
            emit(su.T.copy(), idb, ida)
        return pd.DataFrame(
            {
                "src": np.concatenate(srcs),
                "dst": np.concatenate(dsts),
                "su": np.concatenate(sus),
            }
        )

    cand = tiles.groupBy("bi", "bj").applyInPandas(
        knn_tile, "src long, dst long, su long"
    )
    w = Window.partitionBy("src").orderBy(F.col("su").desc(), "dst")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= GRAPH_DEGREE)
        .select("src", "dst", "su")
    )


def graph_stage_index(spark, sf_dir) -> str:
    """Build the kNN graph ONCE and publish the SYMMETRIZED adjacency
    atomically as parquet: adjacency = out-edges ∪ reversed out-edges
    (undirected — the NSW navigability fix: a hub reachable from its
    neighbors even when they fall outside ITS top-G). Serve sessions scan
    the staged (src, dst) table and never run the gemm build again."""

    def _build(tmp: str) -> None:
        edges = _graph_knn_edges(spark, sf_dir)
        back = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        edges.select("src", "dst").unionByName(back).distinct().write.parquet(
            f"{tmp}/adjacency"
        )

    return stage("graph_index", sf_dir, "embeddings", _build)


def sim_ann_graph_topk(spark, sf_dir, rounds: int = GRAPH_ROUNDS):
    """ANN top-k by beam search over the staged kNN graph.

    Entry points are GRAPH_SEEDS evenly spaced vec_ids (step = ⌊N/S⌋
    from a broadcast count — content-stable, no RNG); each of
    GRAPH_ROUNDS fixed rounds expands the current top-GRAPH_BEAM
    frontier through the adjacency scan, anti-joins already-visited
    nodes, scores only the NEW candidates against the query (one fold
    per candidate, 4dp-rounded — the sim_topk_blocked ranking
    discipline), and re-selects the beam. Fixed rounds keep the plan
    static (the graph_pagerank shape); per query per round the frontier
    is ≤ BEAM·(2·DEGREE) rows, so a query visits ≤ S + R·B·2G ≈ 520
    nodes regardless of corpus size — the whole point of a graph index.
    Scale: adjacency joins hash-partition on src; queries are
    panel-sized by the N_QUERIES contract; batch-serve at 100 TB keeps
    this exact plan with the query panel as the streamed side.

    The per-round visited frame is a share point (each round references
    it three times: beam window, anti-join, union — unshared, the final
    action would replay round-0 3^R times). r14: shared via an EAGER
    ``localCheckpoint`` per round instead of the lazy persist — the
    lazy-persist plan still embeds the full unrolled lineage (the
    committed before-dump is a 1.7 MB formatted plan whose Catalyst
    optimization alone cost seconds), while each round's checkpoint
    materializes a panel-sized frame (≤ |Q|·(S+R·B·2G) ≈ 10k rows) and
    truncates the tree, so round R+1 plans against a flat scan
    (guide §3.3 "materialise to truncate the plan"). The LAST round
    stays lazy so the returned frame's plan still shows the staged
    adjacency scan (plan-pinned by the serve-plan test); the 3-way
    intra-round sharing rides the checkpoint scan."""
    staged = graph_stage_index(spark, sf_dir)
    adj = spark.read.parquet(f"{staged}/adjacency")
    e = load_embeddings(spark, sf_dir)
    nv = e.agg(F.count(F.lit(1)).cast("long").alias("nv"))
    step = F.greatest(
        F.floor(F.col("nv") / GRAPH_SEEDS).cast("long"), F.lit(1)
    )
    seeds = (
        e.crossJoin(F.broadcast(nv))
        .filter(F.col("vec_id") % step == 0)
        .select(F.col("vec_id").alias("node"), F.col("emb").alias("n_emb"))
    )
    q = _queries(e)
    score = F.round(_cos(F.col("q_emb"), F.col("n_emb")), 4)
    visited = share(
        q.crossJoin(F.broadcast(seeds)).select(
            "query_id", "node", score.alias("score")
        ),
        eager=True,
    )
    w_beam = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "node"
    )
    nodes = e.select(F.col("vec_id").alias("node"), F.col("emb").alias("n_emb"))
    for r in range(rounds):
        beam = (
            visited.withColumn("rn", F.row_number().over(w_beam))
            .filter(F.col("rn") <= GRAPH_BEAM)
            .select("query_id", "node")
        )
        # every per-round join broadcasts its panel-sized side (beam ≤
        # |Q|·BEAM rows, visited ≤ |Q|·(S+R·B·2G), cand ≤ |Q|·B·2G): the
        # only shuffles left per round are the beam window and the
        # distinct — adjacency and embeddings are scanned, never shuffled
        cand = (
            F.broadcast(beam)
            .join(adj, beam.node == adj.src)
            .select("query_id", F.col("dst").alias("node"))
            .distinct()
            .join(
                F.broadcast(visited.select("query_id", "node")),
                ["query_id", "node"],
                "left_anti",
            )
        )
        scored_new = (
            F.broadcast(cand)
            .join(nodes, "node")
            .join(F.broadcast(q), "query_id")
            .select("query_id", "node", score.alias("score"))
        )
        visited = visited.unionByName(scored_new)
        if r < rounds - 1:
            visited = share(visited, eager=True)
    return (
        visited.filter(F.col("node") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(w_beam))
        .filter(F.col("rn") <= TOPK)
        .select(
            "query_id", F.col("node").alias("neighbor_id"), "score"
        )
    )


@register("sim_ann_graph", oracle=_ann_oracle())
def sim_ann_graph(spark, sf_dir):
    """Graph ANN (kNN graph + beam search — the NSW/HNSW index class),
    bounds-checked at ANN_RECALL_FLOOR, the sim_ann_ivf/lsh bound at the
    same cost point (measured recall vs exact top-5: 1.00 /
    1.00 / 0.79 at sf0.001/0.01/0.1 with G=8, beam 8, 4 rounds, 8
    seeds — the ~520-node visited budget is 21% of the sf0.1 corpus and
    SHRINKS relatively as N grows, which is the argument for graph
    indexes; per-SF numbers in SCALING.md). The build is staged
    train-once/serve-many (graph_stage_index); this key serves from the
    staged adjacency."""
    # (the eager fill pays here: the serve+verify chains measured 6.8 vs
    # 9.8 CPU-s against lazy pair persists with walls equal — the beam
    # rounds re-run per branch without it.)
    return _ann_checked(spark, sf_dir, lambda: (sim_ann_graph_topk(spark, sf_dir), {}))


# --- index compaction + staleness (r10 VERDICT #3) ------------------------

ANN_RETRAIN_RATIO = 1.5  # append-vs-history residual-energy ratio budget
ANN_COMPACT_BATCH_MODS = (8, 9)  # the two nightly append batches (%10)


def ivfpq_stage_appends(spark, sf_dir) -> str:
    """Encode-only append of each batch against the staged HISTORY index
    (zero Lloyd passes), one parquet subdir per batch — N invocations of
    the sim_ann_index_append contract accumulated on disk."""

    def _build(tmp: str) -> None:
        cent, books, _codes_hist = ivfpq_read_index(
            spark, ivfpq_stage_hist_index(spark, sf_dir)
        )
        e = load_embeddings(spark, sf_dir)
        for mod in ANN_COMPACT_BATCH_MODS:
            batch = e.filter(F.col("vec_id") % 10 == mod)
            _ivfpq_encode(batch, cent, books).write.parquet(f"{tmp}/batch-{mod}")

    return stage("ivfpq_appends", sf_dir, "embeddings", _build)


def _merged_codes(spark, sf_dir, codes_hist):
    """The history codes ∪ every staged append batch, in codes_hist's
    column order."""
    appends = ivfpq_stage_appends(spark, sf_dir)
    merged = codes_hist
    for mod in ANN_COMPACT_BATCH_MODS:
        batch_codes = spark.read.parquet(f"{appends}/batch-{mod}")
        merged = merged.unionByName(batch_codes.select(*codes_hist.columns))
    return merged


def ivfpq_stage_compact(spark, sf_dir) -> str:
    """Merge the history codes + every appended batch into ONE serving
    artifact: a single codes dataset repartitioned by list_id (ADC-scan
    locality — probing a list reads contiguous files, not one sliver per
    append), with the centroids/codebooks carried over unchanged (a
    compaction never retrains)."""

    def _build(tmp: str) -> None:
        cent, books, codes_hist = ivfpq_read_index(
            spark, ivfpq_stage_hist_index(spark, sf_dir)
        )
        merged = _merged_codes(spark, sf_dir, codes_hist)
        # (list_id, m): list-local file layout for probed scans WITHOUT
        # the IVF_K-wide partition skew plain list_id keying would give
        # a 100 TB codes table (16 lists -> 16 giant partitions)
        _write_index(tmp, cent, books, merged.repartition("list_id", "m"))

    return stage("ivfpq_compact", sf_dir, "embeddings", _build)


@register(
    "sim_ann_index_compact",
    oracle=_ann_oracle(
        n_compact_codes=_N_CODE_ROWS_SQL,
        n_batches_merged=len(ANN_COMPACT_BATCH_MODS),
        compact_equals_merged=True,
        drift_within_budget=True,
    ),
)
def sim_ann_index_compact(spark, sf_dir):
    """Index maintenance beyond one append (r10 VERDICT #3): N appended
    code batches accumulate next to the history index (staged here as two
    encode-only nightly batches, %10==8 and %10==9); compaction merges
    them into ONE staged serving artifact — a single codes dataset
    repartitioned by list_id, centroids/codebooks unchanged — and the
    STALENESS metric decides when append stops being enough.

    The summary row pins, from the staged artifacts themselves:
    - n_compact_codes: the compacted codes table holds exactly corpus x M
      rows — nothing lost or duplicated by the merge;
    - compact_equals_merged: the compacted table equals the history ∪
      appends union EXACTLY (exceptAll both directions, counted in-plan)
      — compaction is a layout change, never a content change;
    - recall_ok: serving from the compacted artifact clears the family's
      ANN_RECALL_FLOOR vs exact top-5 (same index content as
      sim_ann_index_append: measured 0.73/0.69/0.66);
    - drift_within_budget: the retrain trigger — mean squared coarse
      residual of APPENDED vectors vs HISTORY vectors, ratio <=
      {ANN_RETRAIN_RATIO}. Appends drawn from the training distribution
      sit near 1.0; a drifted crawl inflates appended residual energy
      (the centroids no longer explain it) and trips the budget, which is
      the signal to retrain rather than keep appending.

    100 TB shape: compaction reads/writes only the 64x-compressed codes
    (the single corpus-sized artifact), one list_id-keyed shuffle; the
    staleness probe is one assignment scan over the appended slice — both
    are the nightly maintenance cost, and historical raw vectors are
    never re-read."""
    # r15: eager + overlapped exact, same rationale as sim_ann_index_append
    # (the compact serve scans the compacted codes and shares the action
    # with the exceptAll diffs and the staleness scan — the lazy pair
    # persists re-ran it across the broadcast branches).

    def build():
        staged = ivfpq_stage_compact(spark, sf_dir)
        hist_staged = ivfpq_stage_hist_index(spark, sf_dir)
        cent, books, codes_hist = ivfpq_read_index(spark, hist_staged)
        compact_codes = spark.read.parquet(f"{staged}/codes")
        merged = _merged_codes(spark, sf_dir, codes_hist)
        e = load_embeddings(spark, sf_dir)
        cols = codes_hist.columns
        diff = (
            compact_codes.select(*cols)
            .exceptAll(merged.select(*cols))
            .agg(F.count(F.lit(1)).alias("d1"))
            .crossJoin(
                merged.select(*cols)
                .exceptAll(compact_codes.select(*cols))
                .agg(F.count(F.lit(1)).alias("d2"))
            )
            .select(((F.col("d1") + F.col("d2")) == 0).alias("compact_equals_merged"))
        )
        # staleness: mean squared coarse residual, appended vs history
        # slices, assignments read from the compacted codes (one distinct
        # per vec)
        assign = compact_codes.select("vec_id", "list_id").distinct()
        cl = cent.select(F.col("c_id").alias("list_id"), "c_emb")
        energy = (
            e.join(assign, "vec_id")
            .join(F.broadcast(cl), "list_id")
            .select(
                (F.col("vec_id") % 10 >= 8).alias("is_append"),
                _l2sq("emb", "c_emb").alias("r2"),
            )
            .groupBy("is_append")
            .agg(F.avg("r2").alias("mean_r2"))
        )
        drift = (
            energy.groupBy()
            .pivot("is_append", [False, True])
            .agg(F.first("mean_r2"))
            .select(
                (F.col("true") <= ANN_RETRAIN_RATIO * F.col("false")).alias(
                    "drift_within_budget"
                )
            )
        )
        shape = {
            "n_compact_codes": compact_codes,
            "n_batches_merged": len(ANN_COMPACT_BATCH_MODS),
        }
        return _ivfpq_topk(e, cent, books, compact_codes), shape, diff, drift

    return _ann_checked(spark, sf_dir, build)


TRIPLET_ALPHA = 0.05  # semi-hard margin (FaceNet's α, cosine-similarity form)
TRIPLET_ALPHA_U = 500  # the same margin in 4dp integer score units
# Anchors-in-closure bound: 65536 × d=64 float64 ≈ 33 MB per task closure —
# the largest matrix worth shipping to every executor. Past this, the
# contract says swap the gemm candidate generator for the staged ANN
# shortlist (sim_ann_persist), not raise the cap (r11 ADVICE: fail loudly
# instead of silently OOMing the driver).
TRIPLET_ANCHOR_CAP = 65536


@register(
    "train_triplet_mine",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS anchor_id, a.label,
               c.vec_id AS cand_id, a.label = c.label AS is_same,
               CAST(floor({_sql_cos("a.emb", "c.emb")} * 10000 + 0.5)
                    AS BIGINT) AS score_u
        FROM e a JOIN e c ON a.vec_id <> c.vec_id
    ),
    sel AS (
        SELECT * FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY anchor_id, is_same
            ORDER BY score_u DESC, cand_id
        ) = 1
    ),
    tri AS (
        SELECT anchor_id, any_value(label) AS label,
               max(CASE WHEN is_same THEN cand_id END) AS pos_id,
               max(CASE WHEN is_same THEN score_u END) AS pos_u,
               max(CASE WHEN NOT is_same THEN cand_id END) AS neg_id,
               max(CASE WHEN NOT is_same THEN score_u END) AS neg_u
        FROM sel GROUP BY anchor_id
    )
    SELECT anchor_id, label, pos_id,
           round(pos_u / 10000.0, 4) AS pos_score,
           neg_id,
           round(neg_u / 10000.0, 4) AS neg_score,
           round((pos_u - neg_u) / 10000.0, 4) AS margin,
           neg_u >= pos_u AS hard,
           neg_u < pos_u AND pos_u - neg_u < {TRIPLET_ALPHA_U} AS semi_hard
    FROM tri
    WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL
    """,
)
def train_triplet_mine(spark, sf_dir):
    """Hard-negative triplet mining (FaceNet, Schroff et al. CVPR'15): for
    every anchor embedding pick the most-similar SAME-label vector as the
    positive and the most-similar DIFFERENT-label vector as the hardest
    negative, emit the margin and the hard/semi-hard verdicts that decide
    which triplets feed a metric-learning batch.

    Execution is the sim_topk_blocked shape, not a pair fold: anchors are
    collected once (normalized float64 matrix in the closure), each corpus
    Arrow batch is scored as ONE BLAS gemm, and — the part that scales —
    each batch emits only its per-anchor best same-label and best
    different-label candidate (<= 2·|anchors| rows per batch, a partial
    argmax), so the N² score matrix never materializes as rows. A tiny
    final window then reduces per-batch winners to global winners. The
    first fold-based cut of this key spent 75 s at sf0.1 on 4M
    interpreted lambda cosines; the gemm + partial-argmax plan replaces
    that with BLAS.

    Cross-engine determinism: scores quantize to 4dp integer units via the
    repo's floor-based half-up idiom ⌊x·1e4 + 0.5⌋ on BOTH engines (r11
    ADVICE — np.round is half-to-even while SQL round() is half-away-from-
    zero, so the tie-break RULE itself differed at half-boundaries;
    gemm-vs-fold summation noise sits ~1e-13, eight orders below the
    quantization step) and every argmax — inside each batch and in the
    final reduce — maximizes the integer composite score_u·2^44 − cand_id,
    i.e. exact (score DESC, cand_id ASC) selection with no float
    comparisons downstream of the quantization; hard/semi-hard verdicts
    compare the integer units directly.

    Scale: anchors-in-closure is the documented small-query-side contract
    (sim_topk_blocked); when the anchor set IS the 100 TB corpus, the
    exact tier is inherently O(N²) — the production path swaps the gemm
    candidate generator for ANN shortlists (sim_ann_persist's staged
    index) and keeps the identical mining/margin logic below."""
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    # Cap guard FIRST with a BOUNDED probe (r13 ADVICE): vec_id-only,
    # LIMIT cap+1 — refusing an over-cap fixture must never require
    # materializing the full embedding matrix it is refusing (the r12
    # check-after-collect could degrade the documented fail-loud
    # ValueError into a driver OOM). On in-cap fixtures the probe is one
    # cheap column-pruned pass; the full collect below is the key's
    # documented anchors-in-closure contract.
    probe = e.select("vec_id").limit(TRIPLET_ANCHOR_CAP + 1).collect()
    if len(probe) > TRIPLET_ANCHOR_CAP:
        raise ValueError(
            f"train_triplet_mine: anchor set exceeds "
            f"TRIPLET_ANCHOR_CAP={TRIPLET_ANCHOR_CAP} (probe saw "
            f"{len(probe)} vec_ids). Anchors-in-closure "
            "is the small-query-side contract; for corpus-as-anchors "
            "mining, generate candidates from the staged ANN index "
            "(sim_ann_persist) instead of raising the cap."
        )
    arows = (
        e.select("vec_id", "label", "embedding").orderBy("vec_id").collect()
    )
    a_ids = np.array([r["vec_id"] for r in arows], dtype=np.int64)
    a_labels = np.array([r["label"] for r in arows], dtype=np.int64)
    am = np.array([r["embedding"] for r in arows], dtype=np.float64)
    am /= np.linalg.norm(am, axis=1, keepdims=True)
    shift = np.int64(1) << np.int64(44)
    sentinel = np.int64(-(1 << 62))

    def mine_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.array(list(pdf["embedding"]), dtype=np.float64)
            cm /= np.linalg.norm(cm, axis=1, keepdims=True)
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_labels = pdf["label"].to_numpy(dtype=np.int64)
            su = np.floor((am @ cm.T) * 1e4 + 0.5).astype(np.int64)
            comp = su * shift - c_ids[None, :]
            self_mask = a_ids[:, None] == c_ids[None, :]
            same = a_labels[:, None] == c_labels[None, :]
            out = {
                "anchor_id": [],
                "label": [],
                "cand_id": [],
                "score_u": [],
                "is_same": [],
            }
            for flag, mask in ((True, same & ~self_mask), (False, ~same)):
                c = np.where(mask, comp, sentinel)
                best = np.argmax(c, axis=1)
                ok = c[np.arange(len(a_ids)), best] != sentinel
                out["anchor_id"].append(a_ids[ok])
                out["label"].append(a_labels[ok])
                out["cand_id"].append(c_ids[best[ok]])
                out["score_u"].append(su[ok, best[ok]])
                out["is_same"].append(np.full(int(ok.sum()), flag))
            yield pd.DataFrame(
                {k: np.concatenate(v) for k, v in out.items()}
            )

    winners = e.select("vec_id", "label", "embedding").mapInPandas(
        mine_batches,
        "anchor_id long, label long, cand_id long, score_u long, is_same boolean",
    )
    # final reduce over per-batch winners: same integer composite argmax
    w = Window.partitionBy("anchor_id", "is_same").orderBy(
        (F.col("score_u") * F.lit(1 << 44) - F.col("cand_id")).desc()
    )
    sel = winners.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    tri = sel.groupBy("anchor_id").agg(
        F.any_value("label").cast("int").alias("label"),
        F.max(F.when(F.col("is_same"), F.col("cand_id"))).alias("pos_id"),
        F.max(F.when(F.col("is_same"), F.col("score_u"))).alias("pos_u"),
        F.max(F.when(~F.col("is_same"), F.col("cand_id"))).alias("neg_id"),
        F.max(F.when(~F.col("is_same"), F.col("score_u"))).alias("neg_u"),
    )
    pos_score = F.round(F.col("pos_u") / 1e4, 4)
    neg_score = F.round(F.col("neg_u") / 1e4, 4)
    margin = F.round((F.col("pos_u") - F.col("neg_u")) / 1e4, 4)
    return tri.filter(
        F.col("pos_id").isNotNull() & F.col("neg_id").isNotNull()
    ).select(
        "anchor_id",
        "label",
        "pos_id",
        pos_score.alias("pos_score"),
        "neg_id",
        neg_score.alias("neg_score"),
        margin.alias("margin"),
        (F.col("neg_u") >= F.col("pos_u")).alias("hard"),
        (
            (F.col("neg_u") < F.col("pos_u"))
            & (F.col("pos_u") - F.col("neg_u") < TRIPLET_ALPHA_U)
        ).alias("semi_hard"),
    )


# --- SemDeDup (Abbas et al. 2023, arXiv:2303.09540) ---------------------
SEM_K = 16  # coarse semantic clusters
SEM_ITERS = 2  # Lloyd passes (deterministic, fixed count; = IVF_ITERS)
SEM_TAU_U = 400_000  # duplicate threshold in 6dp cosine units (= EMBED_DUP_TAU)


def _sem_sqd(a: str, b: str) -> str:
    return (
        f"list_aggregate(list_transform(list_zip({a}, {b}), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')"
    )


def _sem_cluster_ctes() -> list:
    """The shared DuckDB replay of the deterministic k-means: md5-rank
    train sample + seeds, SEM_ITERS DECIMAL-exact Lloyd passes
    (bit-identical centroids to Spark's in any aggregation order), and
    the full-corpus `assign` CTE. Used by dedup_semdedup and
    sim_ann_recall_curve."""
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb"
        " FROM embeddings)",
        f"""train AS (
        SELECT vec_id, emb FROM e
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {ANN_TRAIN_CAP})""",
        f"""cent0 AS (
        SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c_id,
               emb AS c_emb
        FROM (SELECT vec_id, emb FROM train
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {SEM_K}))""",
    ]
    prev = "cent0"
    for it in range(1, SEM_ITERS + 1):
        ctes.append(
            f"""assign{it} AS (
        SELECT vec_id, emb, c_id FROM (
            SELECT t.vec_id, t.emb, c.c_id,
                   row_number() OVER (
                       PARTITION BY t.vec_id
                       ORDER BY {_sem_sqd("t.emb", "c.c_emb")}, c.c_id) AS rn
            FROM train t CROSS JOIN {prev} c) WHERE rn = 1)"""
        )
        ctes.append(
            f"""cent{it} AS (
        SELECT c_id, list(cv ORDER BY pos) AS c_emb FROM (
            SELECT c_id, i - 1 AS pos,
                   CAST(sum(CAST(round(emb[i], 12) AS DECIMAL(27,12)))
                        AS DOUBLE) / count(*) AS cv
            FROM assign{it}, unnest(generate_series(1, len(emb))) AS u(i)
            GROUP BY c_id, i) GROUP BY c_id)"""
        )
        prev = f"cent{it}"
    ctes.append(
        f"""assign AS (
        SELECT vec_id, emb, c_id FROM (
            SELECT v.vec_id, v.emb, c.c_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_sem_sqd("v.emb", "c.c_emb")}, c.c_id) AS rn
            FROM e v CROSS JOIN {prev} c) WHERE rn = 1)"""
    )
    return ctes


def _semdedup_oracle() -> str:
    """DuckDB replay of the FULL pipeline: shared k-means CTEs +
    within-cluster earlier-neighbor max-similarity + keep-first
    removal rule."""
    ctes = _sem_cluster_ctes()
    ctes.append(
        f"""nn AS (
        SELECT * FROM (
            SELECT b.vec_id, a.vec_id AS nn_earlier,
                   CAST(round(round({_sql_cos("a.emb", "b.emb")}, 6) * 1e6, 0)
                        AS BIGINT) AS sim_u
            FROM assign a JOIN assign b
              ON a.c_id = b.c_id AND a.vec_id < b.vec_id)
        QUALIFY row_number() OVER (
            PARTITION BY vec_id ORDER BY sim_u DESC, nn_earlier) = 1)"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT s.vec_id, CAST(s.c_id AS BIGINT) AS c_id,
           n.nn_earlier, n.sim_u,
           COALESCE(n.sim_u >= {SEM_TAU_U}, FALSE) AS removed
    FROM assign s LEFT JOIN nn n USING (vec_id)"""
    )


@register("dedup_semdedup", oracle=_semdedup_oracle())
def dedup_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic dedup at cluster scope —
    k-means the embedding space, then look for near-duplicates ONLY
    within each cluster, removing every vector whose cosine to an
    earlier (lower-id) cluster-mate reaches τ (the paper's
    parallelizable keep-first approximation of per-group survivor
    picking; dedup_embed_cosine keeps the exact global contract this
    key trades for scale). Emits per vector: cluster id, nearest
    earlier cluster-mate, its similarity (6dp integer units), and the
    removal verdict.

    Why this is THE 100 TB semantic-dedup shape: the exact key's
    all-pairs join is Σ N² ; clustering first cuts candidate pairs to
    Σ n_c² (16× here — 7,687 vs 124,750 pairs at sf0.01) and every
    cluster's pair join is an equi-join on c_id, embarrassingly
    parallel across clusters. K grows as √N so both the centroid
    broadcast and the per-cluster quadratic stay bounded.

    Cross-engine exactness: seeds are md5-rank prefixes (reused
    _md5_seeds / _train_sample semantics); Lloyd means sum
    round(v,12)-as-DECIMAL(27,12) partials (the sim_label_centroids
    idiom) so centroids are BIT-IDENTICAL in any aggregation order;
    distance/cosine folds are sequential in both engines; the
    neighbor argmax and removal rule run on integer 6dp cosine units.
    The oracle replays the whole pipeline — seeds, both Lloyd passes,
    assignment, neighbor pick — as one generated CTE chain."""
    e = load_embeddings(spark, sf_dir)
    cent, assign = _sem_kmeans(e)
    # per-row norm computed ONCE (2 folds/row) so each pair pays a single
    # dot fold instead of _cos's three — ~3× less interpreted-lambda work
    # on the quadratic stage; sqrt(dot(v,v)) is the same IEEE value either
    # way, so sim_u (and the hash) are bit-identical to the 3-fold form.
    assign_n = assign.withColumn("nrm", F.sqrt(_dot("emb", "emb")))
    a = assign_n.select(
        F.col("vec_id").alias("nn_earlier"),
        F.col("c_id").alias("a_cid"),
        F.col("emb").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    sim_u = (
        F.round(
            F.round(
                _dot(F.col("a_emb"), F.col("emb"))
                / (F.col("a_nrm") * F.col("nrm")),
                6,
            )
            * 1e6,
            0,
        ).cast("long")
    )
    pairs = a.join(
        assign_n,
        (F.col("a_cid") == F.col("c_id"))
        & (F.col("nn_earlier") < F.col("vec_id")),
    ).select("vec_id", "nn_earlier", sim_u.alias("sim_u"))
    # r14: the per-vector best-earlier-mate argmax is a min_by aggregate
    # over the totally-ordered (-sim_u, nn_earlier) key instead of a
    # row_number window — same row out, but the Σn_c² candidate pairs
    # reduce map-side before the exchange and no per-group sort runs.
    nn = (
        pairs.groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct("nn_earlier", "sim_u"),
                F.struct((-F.col("sim_u")).alias("neg"), F.col("nn_earlier")),
            ).alias("_best")
        )
        .select(
            "vec_id",
            F.col("_best.nn_earlier").alias("nn_earlier"),
            F.col("_best.sim_u").alias("sim_u"),
        )
    )
    return (
        assign.select("vec_id", F.col("c_id").cast("long").alias("c_id"))
        .join(nn, "vec_id", "left")
        .select(
            "vec_id",
            "c_id",
            "nn_earlier",
            "sim_u",
            F.coalesce(F.col("sim_u") >= SEM_TAU_U, F.lit(False)).alias(
                "removed"
            ),
        )
    )


def _sem_kmeans(e):
    """The DECIMAL-exact deterministic k-means shared by dedup_semdedup
    and sim_ann_recall_curve: md5-rank train sample + seeds, SEM_ITERS
    Lloyd passes with round(v,12)-as-DECIMAL(27,12) means (bit-identical
    centroids cross-engine in any aggregation order), then full-corpus
    assignment. Returns (centroids, assignment-with-emb)."""
    train = _train_sample(e)
    cent = _md5_seeds(train, SEM_K).select("c_id", F.col("emb").alias("c_emb"))
    for _ in range(SEM_ITERS):
        assign = _nearest_centroid(
            train.select("vec_id", "emb"), cent, "vec_id", "c_id",
            keep_cols=("emb",),
        )
        cent = (
            assign.select("c_id", F.posexplode("emb").alias("pos", "v"))
            .groupBy("c_id", "pos")
            .agg(
                (
                    F.sum(F.round("v", 12).cast("decimal(27,12)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("cv")
            )
            .groupBy("c_id")
            .agg(F.sort_array(F.collect_list(F.struct("pos", "cv"))).alias("pc"))
            .select("c_id", F.col("pc.cv").alias("c_emb"))
        )
    assign = _nearest_centroid(e, cent, "vec_id", "c_id", keep_cols=("emb",))
    return cent, assign


RECALL_LEVELS = (1, 2, 4, 8)  # probes settings swept by the recall curve


def _recall_curve_oracle() -> str:
    ctes = _sem_cluster_ctes()
    simu = f"CAST(round(round({_sql_cos('q.q_emb', 'a.emb')}, 6) * 1e6, 0) AS BIGINT)"
    ctes.append(
        f"""q AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM e
        WHERE vec_id < {N_QUERIES})"""
    )
    ctes.append(
        f"""pr AS (
        SELECT query_id, q_emb, c_id AS list_id, rn AS probe_rank FROM (
            SELECT q.query_id, q.q_emb, c.c_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_sem_sqd("q.q_emb", "c.c_emb")}, c.c_id) AS rn
            FROM q CROSS JOIN cent{SEM_ITERS} c)
        WHERE rn <= {max(RECALL_LEVELS)})"""
    )
    ctes.append(
        f"""cand AS (
        SELECT pr.query_id, pr.probe_rank, a.vec_id AS neighbor_id,
               CAST(round(round({_sql_cos('pr.q_emb', 'a.emb')}, 6) * 1e6, 0)
                    AS BIGINT) AS sim_u
        FROM pr JOIN assign a ON a.c_id = pr.list_id
        WHERE a.vec_id <> pr.query_id)"""
    )
    ctes.append(
        "levels AS (SELECT * FROM (VALUES "
        + ", ".join(f"({v})" for v in RECALL_LEVELS)
        + ") AS t(probes))"
    )
    ctes.append(
        f"""ann AS (
        SELECT probes, query_id, neighbor_id FROM (
            SELECT l.probes, c.query_id, c.neighbor_id, c.sim_u,
                   row_number() OVER (
                       PARTITION BY l.probes, c.query_id
                       ORDER BY c.sim_u DESC, c.neighbor_id) AS rn
            FROM cand c JOIN levels l ON c.probe_rank <= l.probes)
        WHERE rn <= {TOPK})"""
    )
    ctes.append(
        f"""exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, a.vec_id AS neighbor_id,
                   {simu} AS sim_u,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {simu} DESC, a.vec_id) AS rn
            FROM q JOIN e a ON a.vec_id <> q.query_id)
        WHERE rn <= {TOPK})"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT l.probes,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_results,
           CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
           CAST(count(x.neighbor_id) AS BIGINT) AS n_hit,
           CAST(round(count(x.neighbor_id) * 1e6
                      / (SELECT count(*) FROM exact), 0) AS BIGINT)
               AS recall_u
    FROM levels l
    LEFT JOIN ann a ON a.probes = l.probes
    LEFT JOIN exact x
           ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
    GROUP BY l.probes"""
    )


@register("sim_ann_recall_curve", oracle=_recall_curve_oracle())
def sim_ann_recall_curve(spark, sf_dir):
    """The ANN tuning curve: recall@{TOPK} of the IVF coarse quantizer at
    probes ∈ {RECALL_LEVELS}, against the exact cosine top-k — the table
    an operator reads to pick the recall/latency point before a 100 TB
    similarity run (probes is THE runtime knob; the index is
    probe-agnostic). Unlike the bound-checked sim_ann_* keys, every cell
    here is EXACTLY hash-compared: the DECIMAL-exact k-means
    (_sem_kmeans) makes centroids bit-identical cross-engine, so the
    oracle replays the full fit, the probed search at every level, and
    the exact top-k, and the recall counts must match to the integer.

    Plan economy: candidates are scored ONCE with their probe_rank (the
    rank of their list in the query's centroid ordering); each sweep
    level is then just `probe_rank <= L` — a 4-row broadcast join and
    ONE window over (probes, query) — instead of re-running the search
    per level. Scale: candidate volume is |Q|·(N/K)·max_probes rows and
    the exact side |Q|·N — both linear in the corpus for a fixed query
    panel, shuffled once each."""
    e = load_embeddings(spark, sf_dir)
    cent, assign = _sem_kmeans(e)
    # single-fold pair scoring (the dedup_semdedup norm trick): per-row
    # norms once, one dot fold per pair; sqrt(dot(v,v)) is the same IEEE
    # value either way, so sim_u and the hash are unchanged.
    e_n = e.withColumn("nrm", F.sqrt(_dot("emb", "emb")))
    assign_n = assign.withColumn("nrm", F.sqrt(_dot("emb", "emb")))
    q = e_n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    wq = Window.partitionBy("query_id").orderBy("qdist", "c_id")
    pr = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id", "q_emb", "q_nrm", "c_id",
            _l2sq("q_emb", "c_emb").alias("qdist"),
        )
        .withColumn("probe_rank", F.row_number().over(wq))
        .filter(F.col("probe_rank") <= max(RECALL_LEVELS))
        .select(
            "query_id", "q_emb", "q_nrm",
            F.col("c_id").alias("list_id"), "probe_rank",
        )
    )
    sim_u = (
        F.round(
            F.round(
                _dot(F.col("q_emb"), F.col("emb"))
                / (F.col("q_nrm") * F.col("nrm")),
                6,
            )
            * 1e6,
            0,
        ).cast("long")
    )
    cand = (
        F.broadcast(pr)
        .join(assign_n, F.col("list_id") == F.col("c_id"))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "probe_rank",
            F.col("vec_id").alias("neighbor_id"),
            sim_u.alias("sim_u"),
        )
    )
    levels = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in RECALL_LEVELS])).alias("probes")
    )
    wl = Window.partitionBy("probes", "query_id").orderBy(
        F.col("sim_u").desc(), "neighbor_id"
    )
    # r14 (guide §5): ann feeds two branches (hit join + per-level
    # counts) and exact feeds two (n_exact + hit join) across broadcast
    # crossJoins where exchange reuse does not fire — persist both tiny
    # frames (≤ levels·|Q|·TOPK rows) so the probed scan and the exact
    # top-k run once per action (released at the next key's entry).
    # (r14 A/B: the EAGER checkpoint variant measured 2x CPU here —
    # 3.9 -> 7.5 CPU-s — unlike the trained-index keys: this frame's
    # single consumer pair shares exchanges within one action, so the
    # fill only added jobs. Lazy persist stays.)
    ann = share(
        cand.join(F.broadcast(levels), F.col("probe_rank") <= F.col("probes"))
        .withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") <= TOPK)
        .select("probes", "query_id", "neighbor_id")
    )
    we = Window.partitionBy("query_id").orderBy(F.col("sim_u").desc(), "neighbor_id")
    exact = share(
        F.broadcast(q)
        .join(e_n, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sim_u.alias("sim_u"),
        )
        .withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= TOPK)
        .select("query_id", "neighbor_id")
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    hit = ann.join(exact, ["query_id", "neighbor_id"]).groupBy("probes").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    per = ann.groupBy("probes").agg(F.count(F.lit(1)).alias("n_results"))
    return (
        levels.join(per, "probes", "left")
        .join(hit, "probes", "left")
        .crossJoin(F.broadcast(n_exact))
        .select(
            "probes",
            F.coalesce(F.col("n_results"), F.lit(0)).cast("long").alias("n_results"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) * 1e6 / F.col("n_exact"), 0
            )
            .cast("long")
            .alias("recall_u"),
        )
    )


MRL_DIMS = (8, 16, 32, 64)  # truncation levels swept (full dim = 64)


def _dim_curve_oracle() -> str:
    def cos_pref(d: int) -> str:
        a, b = f"q.q_emb[1:{d}]", f"a.emb[1:{d}]"
        return (
            f"CAST(round(round({_sql_cos(a, b)}, 6) * 1e6, 0) AS BIGINT)"
        )

    full = (
        f"CAST(round(round({_sql_cos('q.q_emb', 'a.emb')}, 6) * 1e6, 0)"
        " AS BIGINT)"
    )
    per_level = []
    for d in MRL_DIMS:
        per_level.append(
            f"""ann{d} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, a.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {cos_pref(d)} DESC, a.vec_id) AS rn
            FROM q JOIN e a ON a.vec_id <> q.query_id)
        WHERE rn <= {TOPK})"""
        )
    unions = "\n        UNION ALL\n        ".join(
        f"SELECT {d} AS dims, query_id, neighbor_id FROM ann{d}"
        for d in MRL_DIMS
    )
    level_ctes = ",\n    ".join(per_level)
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e
          WHERE vec_id < {N_QUERIES}),
    {level_ctes},
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, a.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {full} DESC, a.vec_id) AS rn
            FROM q JOIN e a ON a.vec_id <> q.query_id)
        WHERE rn <= {TOPK}),
    lv AS ({unions})
    SELECT l.dims,
           CAST(count(*) AS BIGINT) AS n_results,
           CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
           CAST(count(x.neighbor_id) AS BIGINT) AS n_hit,
           CAST(round(count(x.neighbor_id) * 1e6
                      / (SELECT count(*) FROM exact), 0) AS BIGINT)
               AS recall_u
    FROM lv l
    LEFT JOIN exact x
           ON x.query_id = l.query_id AND x.neighbor_id = l.neighbor_id
    GROUP BY l.dims"""


@register("sim_dim_truncation_curve", oracle=_dim_curve_oracle())
def sim_dim_truncation_curve(spark, sf_dir):
    """Matryoshka-style dimension-truncation curve (Kusupati et al.
    NeurIPS'22): recall@{TOPK} of cosine top-k computed on the first
    d ∈ {MRL_DIMS} embedding dimensions against the full-dimension
    ranking — the table that tells an operator how many dims the
    first-stage retriever can drop (and how much index memory/bandwidth
    that buys: d/64 of full) before recall pays. The memory-accuracy
    knob is complementary to sim_ann_recall_curve's probes knob and
    embed_quantize's precision knob.

    Every cell is exactly hash-compared: prefix slicing, the 6dp-integer
    cosine fold, ranking tie-breaks and the hit counts are identical
    expressions on both engines (no training stage at all, unlike the
    IVF curve). Plan: ONE scored pass per level over the broadcast query
    panel — each level prunes its own column read down to the prefix it
    needs; at 100 TB each level is a linear scan and the levels union is
    embarrassingly parallel."""
    e = load_embeddings(spark, sf_dir)
    q = _queries(e)

    def topk_at(d: int | None):
        # r14: slice + norm are computed ONCE per row per side before the
        # pair join (the dedup_semdedup idiom), so each of the
        # N_QUERIES×N pairs pays a single dot fold instead of _cos's
        # three over freshly re-sliced arrays. sqrt(dot(v,v)) on the same
        # slice is the same IEEE value, so sim_u is bit-identical.
        qe = F.col("q_emb") if d is None else F.slice("q_emb", 1, d)
        ae = F.col("emb") if d is None else F.slice("emb", 1, d)
        qs = q.select(
            "query_id",
            qe.alias("qe"),
            F.sqrt(_dot(qe, qe)).alias("q_nrm"),
        )
        es = e.select(
            "vec_id",
            ae.alias("ae"),
            F.sqrt(_dot(ae, ae)).alias("a_nrm"),
        )
        sim_u = (
            F.round(
                F.round(
                    _dot(F.col("qe"), F.col("ae"))
                    / (F.col("q_nrm") * F.col("a_nrm")),
                    6,
                )
                * 1e6,
                0,
            ).cast("long")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim_u").desc(), "neighbor_id"
        )
        return (
            F.broadcast(qs)
            .join(es, F.col("query_id") != F.col("vec_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                sim_u.alias("sim_u"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOPK)
            .select("query_id", "neighbor_id")
        )

    exact = topk_at(None)
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    levels = None
    for d in MRL_DIMS:
        lv = topk_at(d).select(
            F.lit(d).alias("dims"), "query_id", "neighbor_id"
        )
        levels = lv if levels is None else levels.unionByName(lv)
    hit = (
        levels.join(exact, ["query_id", "neighbor_id"])
        .groupBy("dims")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    per = levels.groupBy("dims").agg(F.count(F.lit(1)).alias("n_results"))
    return (
        per.join(hit, "dims", "left")
        .crossJoin(F.broadcast(n_exact))
        .select(
            "dims",
            F.col("n_results").cast("long").alias("n_results"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) * 1e6 / F.col("n_exact"), 0
            )
            .cast("long")
            .alias("recall_u"),
        )
    )


DECON_SEM_TAU_U = 400_000  # semantic-contamination threshold (6dp cosine units)


@register(
    "decontaminate_semantic",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt({_SQL_DOT.format(a="CAST(embedding AS DOUBLE[])",
                                     b="CAST(embedding AS DOUBLE[])")}) AS nrm
        FROM embeddings
    ),
    bench AS (SELECT * FROM e WHERE vec_id % 97 = 0),
    train AS (SELECT * FROM e WHERE vec_id % 97 <> 0),
    scored AS (
        SELECT t.vec_id,
               b.vec_id AS eval_id,
               CAST(round(round({_SQL_DOT.format(a="t.emb", b="b.emb")}
                                / (t.nrm * b.nrm), 6) * 1e6, 0) AS BIGINT)
                   AS sim_u
        FROM train t CROSS JOIN bench b
    ),
    best AS (
        SELECT * FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY vec_id ORDER BY sim_u DESC, eval_id) = 1
    )
    SELECT vec_id, eval_id AS nearest_eval_id, sim_u AS max_sim_u,
           sim_u >= {DECON_SEM_TAU_U} AS contaminated
    FROM best
    """,
)
def decontaminate_semantic(spark, sf_dir):
    """SEMANTIC benchmark decontamination — the embedding-space rung of
    the decontamination family (decontaminate_ngram catches verbatim
    8-gram overlap, decontaminate_fuzzy catches near-verbatim edits;
    this catches PARAPHRASES, which share no n-grams at all): every
    training vector is scored against the full benchmark set (vec_id %
    97 == 0, the family's standing eval split) and flagged when its max
    cosine reaches τ. Emits the nearest eval item per training doc so a
    flagged doc is attributable to the benchmark row that caught it.

    Plan: the benchmark side is ~1% of the corpus and BROADCASTS; the
    train side streams through one scan, each row paying |bench| single
    dot folds (per-row norms precomputed — the single-fold discipline),
    one windowed argmax on integer 6dp units. At 100 TB this is the
    linear-scan shape: no self-join, no shuffle of the corpus beyond the
    argmax's vec_id partition, benchmark always in memory."""
    e = load_embeddings(spark, sf_dir).withColumn("nrm", F.sqrt(_dot("emb", "emb")))
    bench = e.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("eval_id"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    train = e.filter(F.col("vec_id") % 97 != 0)
    sim_u = (
        F.round(
            F.round(
                _dot(F.col("emb"), F.col("b_emb"))
                / (F.col("nrm") * F.col("b_nrm")),
                6,
            )
            * 1e6,
            0,
        ).cast("long")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim_u").desc(), "eval_id")
    return (
        train.crossJoin(F.broadcast(bench))
        .select("vec_id", "eval_id", sim_u.alias("sim_u"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("eval_id").alias("nearest_eval_id"),
            F.col("sim_u").alias("max_sim_u"),
            (F.col("sim_u") >= DECON_SEM_TAU_U).alias("contaminated"),
        )
    )
