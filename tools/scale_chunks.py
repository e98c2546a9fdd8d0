"""10x-documents scale measurement for sub-document (chunk) dedup.

Materializes a 10x documents fixture in .scratch (sf0.1's 5 000 docs, 10
re-keyed copies -> 50 000 docs; every chunk gains 9 planted exact
duplicates, so the first-occurrence window does 10x the work on 10x the
rows) and times `text_chunk_dedup` at both tiers. Confirms the pipeline
stays ~linear in corpus size: all three shuffles are key-partitioned
(doc_id / chunk_text), nothing is quadratic in corpus or duplicate count.
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

import data_transform_spark.pipeline.dedup as dd  # noqa: E402
from data_transform_spark.io import SCRATCH  # noqa: E402
from data_transform_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = 10


def materialize_10x(spark) -> str:
    out = os.path.join(SCRATCH, "documents_10x")
    marker = os.path.join(out, "_SUCCESS")
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = base.count()
    if not os.path.exists(marker):
        big = base.crossJoin(
            F.broadcast(spark.range(COPIES).select(F.col("id").alias("copy")))
        ).select(
            (F.col("doc_id") + F.col("copy") * n * 10).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        big.repartition(32).write.mode("overwrite").parquet(out)
    link_dir = os.path.join(SCRATCH, "documents_10x_dir")
    os.makedirs(link_dir, exist_ok=True)
    link = os.path.join(link_dir, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(out, link)
    return link_dir


def time_chunks(spark, sf_dir: str, reps: int = 3):
    dd.text_chunk_dedup(spark, sf_dir).count()  # warm
    samples = []
    for _ in range(reps):
        t0 = time.time()
        res = dd.text_chunk_dedup(spark, sf_dir)
        n_docs = res.count()
        samples.append(time.time() - t0)
    kept = res.agg(F.sum("n_kept"), F.sum("n_total")).collect()[0]
    return round(statistics.median(samples), 2), n_docs, int(kept[0]), int(kept[1])


def main():
    spark = get_spark("scale-chunks")
    ten_x = materialize_10x(spark)
    results = {}
    for tier, d in (("1x", SF_DIR), ("10x", ten_x)):
        sec, n_docs, n_kept, n_total = time_chunks(spark, d)
        results[tier] = {
            "sec": sec,
            "docs": n_docs,
            "chunks_kept": n_kept,
            "chunks_total": n_total,
        }
        print(json.dumps({tier: results[tier]}), flush=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
