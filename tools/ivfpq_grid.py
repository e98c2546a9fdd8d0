"""Offline numpy twin of the Spark IVF-PQ recipe — the measurement tool
behind SCALING.md "Round-9 IVF-PQ composition + sampled training".

The quantizer fits are the engine's own driver-side kernel
(pipeline/similarity.py ``_lloyd``: md5-ranked seeds, fixed Lloyd passes,
(dist, c_id) tie-breaks, empty clusters dropped), and assignments use its
``_nearest``; the query path rounds to 6dp where the Spark side rounds.
Grid: probes x train-cap x SF -> recall@5 after exact re-rank + scanned
fraction. Run:
    python tools/ivfpq_grid.py
(~4 min; sf0.1 dominates). Tune IVFPQ_PROBES/ANN_TRAIN_CAP from the
printed curve, then re-verify the registered keys' recall bounds.
"""
import hashlib
import os
import sys

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_transform_spark.pipeline.similarity import (  # noqa: E402
    IVF_ITERS,
    IVF_K,
    N_QUERIES,
    PQ_DSUB,
    PQ_ITERS,
    PQ_KS,
    PQ_M,
    PQ_SHORTLIST,
    TOPK,
    _lloyd,
    _nearest,
    _sqdist,
)


def md5_rank_ids(ids):
    return sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))


def run(sf, probes, train_cap):
    E = duckdb.sql(
        f"select vec_id, embedding from '/root/testdata/sf{sf}/embeddings.parquet' order by vec_id"
    ).fetchnumpy()
    ids = E["vec_id"].tolist()
    X = np.stack([np.array(v, dtype=float) for v in E["embedding"]])
    N = len(ids)

    # exact ground truth (cosine, ties (score desc, id))
    Q = X[:N_QUERIES]
    norms = np.linalg.norm(X, axis=1)
    exact = {}
    for q in range(N_QUERIES):
        s = (X @ Q[q]) / (norms * np.linalg.norm(Q[q]) + 1e-300)
        s = np.round(s, 6)
        cand = [(-s[j], j) for j in range(N) if j != q]
        cand.sort()
        exact[q] = {j for _, j in cand[:TOPK]}

    # training sample: first train_cap ids by md5 rank, in that order
    id2row = {v: r for r, v in enumerate(ids)}
    tr_rows = [id2row[v] for v in md5_rank_ids(ids)[: min(train_cap, N)]]

    # IVF on the sample, assign full corpus
    _, cent = _lloyd(X[tr_rows], IVF_K, IVF_ITERS)
    lists = _nearest(X, cent)

    # PQ on residuals of the sample
    R = X - cent[lists]
    blocks = [slice(m * PQ_DSUB, (m + 1) * PQ_DSUB) for m in range(PQ_M)]
    books = [_lloyd(R[tr_rows, b], PQ_KS, PQ_ITERS)[1] for b in blocks]
    codes = np.stack(
        [_nearest(R[:, b], books[m]) for m, b in enumerate(blocks)], axis=1
    )  # N x M

    # query: probe nearest lists, ADC over residual LUTs, re-rank exact
    hits = scanned = 0
    for q in range(N_QUERIES):
        qd = _sqdist(X[q : q + 1], cent)[0]
        pl = np.argsort(qd, kind="stable")[:probes]
        lut = [
            [_sqdist((X[q] - cent[l])[None, b], books[m])[0] for m, b in enumerate(blocks)]
            for l in pl
        ]
        members = [
            (li, j)
            for li, l in enumerate(pl)
            for j in np.nonzero(lists == l)[0]
            if j != q
        ]
        scanned += len(members)
        adc = [
            (round(sum(lut[li][m][codes[j, m]] for m in range(PQ_M)), 6), j)
            for li, j in members
        ]
        adc.sort()
        short = [j for _, j in adc[:PQ_SHORTLIST]]
        s = (X[short] @ X[q]) / (norms[short] * np.linalg.norm(X[q]) + 1e-300)
        s = np.round(s, 6)
        rer = sorted(zip(-s, short))
        got = {j for _, j in rer[:TOPK]}
        hits += len(got & exact[q])
    return hits / (N_QUERIES * TOPK), scanned / (N_QUERIES * (N - 1))


if __name__ == "__main__":
    for sf in ("0.001", "0.01", "0.1"):
        for cap in (10**9, 1024):
            for probes in (4, 6, 8):
                r, sc = run(sf, probes, cap)
                print(
                    f"sf{sf} cap={'full' if cap > 10**6 else cap} probes={probes}: "
                    f"recall@5={r:.2f} scanned={sc:.2%}",
                    flush=True,
                )
