"""10x-embeddings scale measurement for the composed IVF-PQ index.

Materializes a 10x embeddings fixture (sf0.1's 2 000 vectors, 10 re-keyed
copies -> 20 000) and times the full sim_ann_ivfpq_topk path (train +
encode + query) at 1x and 10x. What the numbers must show — and the reason
this tool exists (round-9 sampled-training enforcement):

- TRAINING cost is FLAT: the Lloyd fits read only the md5-prefix
  ANN_TRAIN_CAP=1024 sample at both tiers — corpus growth cannot touch it.
- ENCODE + ADC scan grow ~linearly (every vector gets M code rows; the
  probed-list scan is probes/K of the corpus).
- The query path never becomes quadratic: candidates are list-pruned, the
  shortlist is fixed at PQ_SHORTLIST.

Warm protocol: 1 warm rep, median of 3 (BASELINE.md).
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
    out = os.path.join(SCRATCH, "embeddings_10x_ivfpq")
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
    link_dir = os.path.join(SCRATCH, "embeddings_10x_ivfpq_dir")
    os.makedirs(link_dir, exist_ok=True)
    link = os.path.join(link_dir, "embeddings.parquet")
    if not os.path.exists(link):
        os.symlink(out, link)
    return link_dir


def time_path(spark, sf_dir: str, reps: int = 3):
    sim.sim_ann_ivfpq_topk(spark, sf_dir).count()  # warm
    samples = []
    for _ in range(reps):
        t0 = time.time()
        n = sim.sim_ann_ivfpq_topk(spark, sf_dir).count()
        samples.append(time.time() - t0)
    return round(statistics.median(samples), 2), n


def main():
    spark = get_spark("scale-ivfpq")
    ten_x = materialize_10x(spark)
    results = {}
    for tier, d in (("1x", SF_DIR), ("10x", ten_x)):
        sec, n = time_path(spark, d)
        results[tier] = {"sec": sec, "rows": n}
        print(json.dumps({tier: results[tier]}), flush=True)
    r = results["10x"]["sec"] / max(results["1x"]["sec"], 1e-9)
    results["ratio_10x_over_1x"] = round(r, 2)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
