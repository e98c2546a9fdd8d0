"""10x-embeddings scale measurement for the tiled cosine pair join.

Materializes a 10x embeddings fixture in .scratch (sf0.1's 2 000 vectors,
10 re-keyed copies -> 20 000 vectors; every vector gains 9 planted
cosine-1.0 duplicates) and times `tiled_cosine_pairs` (the engine under
sim_pairs_threshold / dedup_embed_cosine) at both tiers across PAIR_BLOCKS
values. Records the empirical B-vs-corpus-size rule for SCALING.md
(round-4 VERDICT "Next round" #6). Warm protocol: 1 warm rep, median of 3.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

import data_transform_spark.pipeline.similarity as sim  # noqa: E402
from data_transform_spark.io import SCRATCH  # noqa: E402
from data_transform_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = 10


def materialize_10x(spark) -> str:
    out = os.path.join(SCRATCH, "embeddings_10x")
    marker = os.path.join(out, "_SUCCESS")
    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = base.count()
    if not os.path.exists(marker):
        big = base.crossJoin(
            F.broadcast(spark.range(COPIES).select(F.col("id").alias("copy")))
        ).select(
            (F.col("vec_id") + F.col("copy") * n * 10).alias("vec_id"),
            "embedding",
            "label",
        )
        big.repartition(32).write.mode("overwrite").parquet(out)
    os.makedirs(os.path.join(out, "sub"), exist_ok=True)
    # tiled_cosine_pairs reads {dir}/embeddings.parquet — give it that layout
    link_dir = os.path.join(SCRATCH, "embeddings_10x_dir")
    os.makedirs(link_dir, exist_ok=True)
    link = os.path.join(link_dir, "embeddings.parquet")
    if not os.path.exists(link):
        os.symlink(out, link)
    return link_dir


def time_pairs(spark, sf_dir: str, blocks: int, reps: int = 3):
    old = sim.PAIR_BLOCKS
    sim.PAIR_BLOCKS = blocks
    try:
        sim.tiled_cosine_pairs(spark, sf_dir, sim.PAIR_TAU).count()  # warm
        samples = []
        for _ in range(reps):
            t0 = time.time()
            n_pairs = sim.tiled_cosine_pairs(spark, sf_dir, sim.PAIR_TAU).count()
            samples.append(time.time() - t0)
        return round(statistics.median(samples), 2), n_pairs
    finally:
        sim.PAIR_BLOCKS = old


def main():
    spark = get_spark("scale-pairs")
    ten_x = materialize_10x(spark)
    results = {}
    for tier, d in (("1x", SF_DIR), ("10x", ten_x)):
        for b in (4, 8, 16):
            sec, n_pairs = time_pairs(spark, d, b)
            results[f"{tier}_B{b}"] = {"sec": sec, "pairs": n_pairs}
            print(json.dumps({f"{tier}_B{b}": results[f"{tier}_B{b}"]}), flush=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
