"""Measure the ANN recall curves — the empirical basis for the SCALING.md
rows on tuning ANN recall at runtime, covering all three index tiers:

- IVF: recall@5 vs probes (1..16) — probes is a pure runtime knob.
- LSH: recall@5 of the shipped 8×8 + distance-1 multiprobe config
  (the full (tables × bits, ±multiprobe) grid lives in SCALING.md
  "Round-8 LSH retune"; re-deriving it needs a numpy sweep because
  tables/bits are module constants baked into the shipped planes).
- PQ: recall@5 of raw ADC vs ADC + exact re-rank (the shipped shape).

Each row also reports wall seconds at ORACLE_SF (default sf0.01) so the
recall/latency trade is visible on the same line.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__  # noqa: F401

from data_transform_spark.pipeline.similarity import (
    sim_ann_ivf_topk,
    sim_ann_lsh_topk,
    sim_ann_pq_topk,
    sim_topk_bruteforce,
)
from data_transform_spark.session import get_spark


def _recall(exact, ann_df):
    ann = ann_df.select("query_id", "neighbor_id")
    n_hit = exact.join(ann, ["query_id", "neighbor_id"]).count()
    return n_hit / exact.count()


def main():
    spark = get_spark("ann-curve")
    sf = os.environ.get("ORACLE_SF", "/root/testdata/sf0.01")
    tag = os.path.basename(sf)
    exact = sim_topk_bruteforce(spark, sf).select("query_id", "neighbor_id")
    exact.count()  # materialize the brute-force truth before timing

    for probes in (1, 2, 4, 8, 16):
        t0 = time.time()
        r = _recall(exact, sim_ann_ivf_topk(spark, sf, probes=probes))
        print(
            f"{tag} ivf probes={probes:2d} recall@5={r:.3f} "
            f"wall={time.time() - t0:.2f}s",
            flush=True,
        )

    t0 = time.time()
    r = _recall(exact, sim_ann_lsh_topk(spark, sf))
    print(
        f"{tag} lsh 8x8+multiprobe recall@5={r:.3f} wall={time.time() - t0:.2f}s",
        flush=True,
    )

    t0 = time.time()
    r = _recall(exact, sim_ann_pq_topk(spark, sf))
    print(
        f"{tag} pq M=8 Ks=16 rerank=100 recall@5={r:.3f} "
        f"wall={time.time() - t0:.2f}s",
        flush=True,
    )


if __name__ == "__main__":
    main()
