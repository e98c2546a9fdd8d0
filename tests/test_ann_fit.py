"""The bounded ANN quantizer fit (``similarity._lloyd`` on the driver) and
the one-aggregate ANN recall summary (``similarity._ann_recall_summary``)."""

import hashlib
from concurrent.futures import Future

import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__  # noqa: F401 — populates the registry
from data_transform_spark.io import load_table
from data_transform_spark.pipeline.similarity import (
    IVF_ITERS,
    IVF_K,
    PQ_DSUB,
    PQ_ITERS,
    PQ_KS,
    PQ_M,
    _ann_recall_summary,
    _ivfpq_index,
    _pq_train_encode,
    ivf_index,
)
from data_transform_spark.registry import QUERIES


def _md5_order(ids):
    return sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))


def _ref_lloyd(vecs, k, iters):
    """Loop reference of the Spark Lloyd chain over md5-ordered ``vecs``:
    sequential distance folds, (dist, c_id) ties, grouped means, and a
    cluster without members gone from the table. {c_id: centroid}."""
    cent = {c: list(v) for c, v in enumerate(vecs[:k])}
    for _ in range(iters):
        members = {}
        for v in vecs:
            best = None
            for c, cv in cent.items():
                d = 0.0
                for x, y in zip(v, cv):
                    d += (x - y) * (x - y)
                if best is None or d < best[0]:
                    best = (d, c)
            members.setdefault(best[1], []).append(v)
        cent = {
            c: [sum(col) / len(ms) for col in zip(*ms)]
            for c, ms in sorted(members.items())
        }
    return cent


def _twin_seed_frame(spark, dims):
    """40 dyadic 64-dim vectors (sums are exact in any order) whose two
    md5-first vectors agree on ``dims``, so seeds 0 and 1 tie there and
    c_id 1 wins no member."""
    rng = np.random.RandomState(7)
    ids = list(range(40))
    x = rng.randint(-4, 5, size=(40, 64)) / 2.0
    first, second = _md5_order(ids)[:2]
    x[second, dims] = x[first, dims]
    frame = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in ids], "vec_id long, emb array<double>"
    )
    return frame, [list(x[i]) for i in _md5_order(ids)]


def test_ivf_fit_drops_a_memberless_seed(spark):
    frame, vecs = _twin_seed_frame(spark, slice(0, 64))
    cent, _ = ivf_index(frame)
    got = {r.c_id: list(r.c_emb) for r in cent.collect()}
    want = _ref_lloyd(vecs, IVF_K, IVF_ITERS)
    assert 0 in got and 1 not in got
    assert got == want


def test_pq_fit_drops_a_memberless_seed_in_one_block(spark):
    frame, vecs = _twin_seed_frame(spark, slice(0, PQ_DSUB))
    books, _ = _pq_train_encode(frame)
    got = {(r.m, r.c_id): list(r.c_sub) for r in books.collect()}
    want = {
        (m, c): v
        for m in range(PQ_M)
        for c, v in _ref_lloyd(
            [v[m * PQ_DSUB : (m + 1) * PQ_DSUB] for v in vecs], PQ_KS, PQ_ITERS
        ).items()
    }
    assert (0, 1) not in got and (1, 1) in got
    assert got == want


def test_codebooks_bit_identical_under_repartition(spark, sf_dir):
    """The fit reads the md5-ranked sample on the driver, so the corpus's
    partitioning cannot move a bit of any codebook — the IVF-PQ residual
    books included, whose means are not exact in float64."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )

    def books(frame):
        cent, _ = ivf_index(frame)
        pq, _ = _pq_train_encode(frame)
        _, _, resid, _ = _ivfpq_index(frame)
        return [
            sorted((*r[:-1], tuple(r[-1])) for r in df.collect())
            for df in (cent, pq, resid)
        ]

    assert books(e) == books(e.repartition(7))


def _summary(spark, ann, exact, bound=0.45):
    schema = "query_id long, neighbor_id long"
    done = Future()
    done.set_result(spark.createDataFrame(exact, schema))
    row = _ann_recall_summary(spark.createDataFrame(ann, schema), done, bound).collect()
    assert len(row) == 1
    return row[0].asDict()


def _three_counts(ann, exact, bound=0.45):
    """The counts as an exact ⋈ ANN equi-join sees them (NULL keys never
    match), each from its own pass."""
    n_hit = sum(1 for a in ann for x in exact if None not in a and a == x)
    return {
        "n_results": len(ann),
        "n_queries": len({q for q, _ in ann if q is not None}),
        "recall_ok": n_hit >= bound * len(exact),
    }


@pytest.mark.parametrize(
    "ann, exact",
    [
        ([(1, 2), (1, 2), (1, 3), (2, 4)], [(1, 2), (1, 2), (2, 5), (3, 6), (3, 7)]),
        ([(1, 2), (1, 3)], []),
        ([], [(1, 2), (1, 3)]),
        ([], []),
        ([(1, None), (None, 2), (1, 2)], [(1, None), (None, 2), (1, 2), (1, 5)]),
        ([(1, 2), (2, 3)], [(1, 2), (2, 4), (2, 5), (2, 6), (3, 7)]),
    ],
    ids=["duplicates", "empty-exact", "empty-ann", "both-empty", "null-keys", "below-bound"],
)
def test_recall_summary_matches_three_counts(spark, ann, exact):
    assert _summary(spark, ann, exact) == _three_counts(ann, exact)


# Jobs per dispatch of each bounds-checked ANN key at sf0.001, (build,
# action). sim_ann_pq's Spark Lloyd chains ran 19 and 14 before its fit
# moved to the driver; it keeps its slack in the action. The other keys
# are held at the counts they ran when they moved onto _ann_checked.
_ANN_JOBS = {
    "sim_ann_pq": (14, 9),
    "sim_ann_ivf": (13, 4),
    "sim_ann_lsh": (7, 4),
    "sim_ann_graph": (45, 4),
    "sim_ann_ivfpq": (27, 9),
    "sim_ann_persist": (15, 10),
    "sim_ann_index_append": (20, 16),
    "sim_ann_index_compact": (18, 18),
}


@pytest.mark.parametrize("key", list(_ANN_JOBS))
def test_ann_dispatch_job_counts(spark, sf_dir, key):
    """Jobs per dispatch, counted by job-id difference (fill threads
    included) after a warm dispatch has read the footers, compiled the
    classes and staged the stores."""
    QUERIES[key](spark, sf_dir).collect()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = int(dag.nextJobId())
    df = QUERIES[key](spark, sf_dir)
    built = int(dag.nextJobId())
    df.write.format("noop").mode("overwrite").save()
    acted = int(dag.nextJobId())
    build_jobs, action_jobs = _ANN_JOBS[key]
    assert built - before <= build_jobs
    assert acted - built <= action_jobs
