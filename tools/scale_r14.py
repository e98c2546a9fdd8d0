"""Production-scale tokenizer datapoint (r13 VERDICT #6): run the
batched-merge BPE trainer at >=1k merges (B=256) and record syncs, wall,
and fertility vs the 12-merge demo knobs.

The driver fixtures cannot host this measurement: the word-salad corpus
has 31 distinct words (max length 8), so char-BPE saturates after at most
sum(len(w)-1) ~ 217 merges. The measurement corpus is therefore SYNTHETIC
but fully deterministic (the text_heaps_curve positive-beta precedent):
N_DOCS docs x WORDS_PER_DOC words, each word = a 3-6 char prefix of
md5(doc|pos) hex — a 16-symbol base alphabet with ~a quarter million
distinct words, so a 1 024-merge vocabulary is learnable and every merge
has real statistics. No RNG, no timestamps: the corpus is a pure function
of (doc_id, position).

What gets measured:
- vocab_bpe_batched knobs scaled to rounds=4, batch=256 -> 1 024 merges
  in FOUR driver syncs (vs 1 024 for the sequential Sennrich trainer —
  the ~32k/B sync-count claim, SURVEY K13).
- The sequential trainer over a 32-merge prefix on the same corpus, for
  a measured sec/sync to extrapolate the 1 024-sync alternative.
- Fertility (chars-per-BPE-token over the corpus) at 12 vs 1 024 merges:
  the number that justifies training big vocabularies at all.

Protocol: warm-free single reps (these are multi-minute jobs, and the
quantity of interest is the RATIO of sync counts and the fertility
delta, not a +-5% wall); BASELINE.md's median-of-3 applies to the bench
keys, not to this one-off scale probe. Results go to SCALING.md
"Round-14: batched-BPE at production knobs".
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

import data_transform_spark.pipeline.training as tr  # noqa: E402
from data_transform_spark.session import get_spark  # noqa: E402
from data_transform_spark.shares import release, share  # noqa: E402

N_DOCS = 20_000
WORDS_PER_DOC = 30
# Strict per-round disjointness (each accepted pair consumes BOTH its
# symbols and its output) makes per-round acceptance ALPHABET-BOUND, not
# B-bound, on a 16-hex base alphabet: measured ramp 9→24 merges/round
# over rounds 1-8, then a steady ~8-16/round — the top-ranked candidates
# are dominated by pairs touching the 16 ever-frequent base symbols, so
# at most ~|alphabet| disjoint picks exist per round regardless of
# B=256. 75 rounds crosses 1 024 merges (~16/round steady state). The
# honest reading of the "~32k/B syncs" claim: B binds only once the
# symbol inventory ≫ B (a 256-byte production alphabet starts at ~128
# disjoint picks/round; vocabularies past a few thousand symbols run at
# the full B) — on small alphabets batching still wins by the
# alphabet-size factor, not by B.
SCALE_ROUNDS = 75
SCALE_BATCH = 256
SEQ_PREFIX_MERGES = 32  # sequential-trainer probe for sec/sync

CORPUS_DIR = os.path.join(_REPO, ".scratch", "bpe_scale_corpus")


def materialize_corpus(spark) -> str:
    """Deterministic large-vocab corpus: word j of doc i is the first
    3 + (first-md5-byte mod 4) hex chars of md5(i|j)."""
    single = os.path.join(CORPUS_DIR, "documents.parquet")
    if os.path.exists(single):
        return CORPUS_DIR
    os.makedirs(CORPUS_DIR, exist_ok=True)
    word = lambda j: F.substring(  # noqa: E731
        F.md5(F.concat(F.col("id").cast("string"), F.lit("|"), j.cast("string"))),
        1,
        (
            3
            + F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("id").cast("string"),
                                F.lit("|"),
                                j.cast("string"),
                            )
                        ),
                        1,
                        2,
                    ),
                    16,
                    10,
                ).cast("int"),
                F.lit(4),
            )
        ).cast("int"),
    )
    docs = (
        spark.range(N_DOCS)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(WORDS_PER_DOC)), word
                ),
            ).alias("text"),
        )
    )
    tmp = os.path.join(CORPUS_DIR, "_spark_out")
    docs.coalesce(4).write.mode("overwrite").parquet(tmp)
    import duckdb

    duckdb.sql(
        f"COPY (SELECT * FROM read_parquet('{tmp}/*.parquet') "
        f"ORDER BY doc_id) TO '{single}' (FORMAT PARQUET)"
    )
    return CORPUS_DIR


def fertility(spark, sf_dir: str, merges, chunk: int = 128):
    """Corpus char-tokens vs BPE-tokens under a merge list, applying the
    replace chain in CHUNKS with an eager localCheckpoint between them —
    a 1 024-deep expression tree would stall Catalyst/codegen; 128-deep
    chunks keep analysis linear (script-local mitigation; the registry
    keys top out at 12 merges where one chain is fine)."""
    words = share(
        tr._bpe_words(spark, sf_dir).withColumn("seq", tr._bpe_seq0(F.col("word"))),
        eager=True,
    )
    try:
        for lo in range(0, len(merges), chunk):
            seq = F.col("seq")
            for m in merges[lo : lo + chunk]:
                a, b = m[2], m[3]
                seq = F.replace(
                    seq, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
                )
            prev = words
            words = share(words.withColumn("seq", seq), eager=True)
            release(prev)
        row = (
            words.select(
                F.sum(F.col("cnt") * F.length("word")).alias("chars"),
                F.sum(
                    F.col("cnt") * F.size(F.split(F.trim("seq"), "  "))
                ).alias("toks"),
            ).collect()[0]
        )
        return int(row["chars"]), int(row["toks"])
    finally:
        release(words)


def main() -> None:
    spark = get_spark("scale-r14")
    d = materialize_corpus(spark)
    n_words, n_distinct = (
        spark.read.parquet(f"{d}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .agg(F.count("w"), F.countDistinct("w"))
        .collect()[0]
    )
    print(f"corpus: {N_DOCS} docs, {n_words} words, {n_distinct} distinct",
          flush=True)

    t0 = time.time()
    demo = tr._bpe_train_batched(
        spark, d, tr.BPE_BATCH_ROUNDS, tr.BPE_BATCH
    )
    w_demo = time.time() - t0
    print(
        f"batched demo knobs (B={tr.BPE_BATCH} x {tr.BPE_BATCH_ROUNDS} "
        f"rounds): {len(demo)} merges, {tr.BPE_BATCH_ROUNDS} syncs, "
        f"wall={w_demo:.1f}s",
        flush=True,
    )

    t0 = time.time()
    big = tr._bpe_train_batched(spark, d, SCALE_ROUNDS, SCALE_BATCH)
    w_big = time.time() - t0
    from collections import Counter

    per_round = Counter(m[0] for m in big)
    ramp = [per_round[r] for r in sorted(per_round)]
    cum = 0
    syncs_to_1k = None
    for r in sorted(per_round):
        cum += per_round[r]
        if cum >= 1024 and syncs_to_1k is None:
            syncs_to_1k = r
    print(
        f"batched scale knobs (B={SCALE_BATCH} x {SCALE_ROUNDS} rounds): "
        f"{len(big)} merges, {SCALE_ROUNDS} syncs, wall={w_big:.1f}s, "
        f"per-round acceptance {ramp}, syncs to >=1024 merges: "
        f"{syncs_to_1k}",
        flush=True,
    )

    t0 = time.time()
    seq = tr._bpe_train(spark, d, rounds=SEQ_PREFIX_MERGES)
    w_seq = time.time() - t0
    per_sync = w_seq / max(len(seq), 1)
    print(
        f"sequential prefix ({len(seq)} merges = {len(seq)} syncs): "
        f"wall={w_seq:.1f}s -> {per_sync:.2f}s/sync; extrapolated "
        f"{len(big)} sequential syncs ~ {per_sync * len(big):.0f}s "
        f"vs batched {w_big:.0f}s in {SCALE_ROUNDS} syncs",
        flush=True,
    )

    for tag, merges in (("12-merge demo", demo), (f"{len(big)}-merge", big)):
        chars, toks = fertility(spark, d, merges)
        print(
            f"fertility {tag}: {chars} chars -> {toks} BPE tokens "
            f"({chars / toks:.3f} chars/token)",
            flush=True,
        )


if __name__ == "__main__":
    main()
