"""Distributed Lloyd's k-means (operators/kmeans.py): determinism,
agreement with a numpy reference, the exact-mean contract guard, and
empty-cell centroid retention."""

from __future__ import annotations

import numpy as np
import pytest

from osrs_dashboard_elt_spark.literals import literal_frame
from osrs_dashboard_elt_spark.operators.kmeans import (
    kmeans_assignments,
    kmeans_fit,
    kmeans_init,
    kmeans_iterate,
)


def _float32_vecs(spark, rows):
    """``(vec_id, [x, ...])`` rows as an ``array<float>`` column, built
    in the JVM (a VALUES relation) so the fits' jobs start no Python
    worker; every x must be float32-exact."""
    dim = len(rows[0][1])
    cols = [f"e{d}" for d in range(dim)]
    flat = literal_frame(
        spark,
        [(i, *v) for i, v in rows],
        "vec_id bigint, " + ", ".join(f"{c} double" for c in cols),
    )
    return flat.selectExpr(
        "vec_id", f"CAST(array({', '.join(cols)}) AS array<float>) AS embedding"
    )


@pytest.fixture(scope="module")
def vecs(spark):
    # three well-separated blobs in 4-d, float32 like the real column
    rng = np.random.default_rng(7)
    rows = []
    for i, center in enumerate(([0.5, 0.5, 0.0, 0.0], [0.0, 0.0, 0.5, 0.5],
                                [0.5, 0.0, 0.5, 0.0])):
        for j in range(30):
            v = (np.array(center) + rng.normal(0, 0.03, 4)).astype("float32")
            rows.append((i * 100 + j, [float(x) for x in v]))
    return _float32_vecs(spark, rows)


def _numpy_replay(vecs, k: int, n_iter: int, seed: int) -> np.ndarray:
    """Lloyd's rounds in float64 numpy from the same md5 init."""
    X = np.array(
        [r["embedding"] for r in vecs.orderBy("vec_id").collect()],
        dtype="float64",
    )
    C = np.array(kmeans_init(vecs, "embedding", k, "vec_id", seed))
    for _ in range(n_iter):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(2)
        lab = d2.argmin(1)
        for c in range(k):
            if (lab == c).any():
                C[c] = X[lab == c].mean(0)
    return C


def test_fit_is_deterministic_and_matches_numpy(spark, vecs):
    c1 = kmeans_fit(vecs, "embedding", k=3, n_iter=4, seed=11)
    c2 = kmeans_fit(vecs, "embedding", k=3, n_iter=4, seed=11)
    assert c1 == c2  # bit-for-bit across runs/partitionings

    C = _numpy_replay(vecs, 3, 4, 11)
    assert float(np.abs(np.array(c1) - C).max()) < 1e-9

    # with 3 clusters and 4 rounds every blob gets its own centroid
    sizes = (
        kmeans_assignments(vecs, "embedding", c1)
        .groupBy("cell")
        .count()
        .collect()
    )
    assert sorted(r["count"] for r in sizes) == [30, 30, 30]


def test_two_round_fit_is_deterministic_and_matches_numpy(spark, vecs):
    """k=3, two rounds, one determinism repeat, the numpy replay; then
    a bit-exact replay on elements near 2^-20 in cells of 3."""
    c1 = kmeans_fit(vecs, "embedding", k=3, n_iter=2, seed=11)
    assert kmeans_fit(vecs, "embedding", k=3, n_iter=2, seed=11) == c1
    C = _numpy_replay(vecs, 3, 2, 11)
    assert float(np.abs(np.array(c1) - C).max()) < 1e-9

    # Each mean must be ONE double rounding of the exact sum / n.  Here
    # the scaled means are ~2^30 with non-terminating thirds, so a
    # DECIMAL quotient (6 decimals of x*2^50) is coarser than a double
    # and would change their last bits; a cell's three elements sum
    # exactly in float64, so numpy's mean is that one rounding too.
    u = 2.0**-20
    tiny = _float32_vecs(spark, [
        (0, [u, 2 * u]), (1, [1.0625 * u, 2.125 * u]),
        (2, [1.1875 * u, 1.9375 * u]),
        (10, [0.25 * u, 0.375 * u]), (11, [0.28125 * u, 0.3125 * u]),
        (12, [0.3125 * u, 0.40625 * u]),
    ])
    got = kmeans_fit(tiny, "embedding", k=2, n_iter=2, seed=11)
    assert got == _numpy_replay(tiny, 2, 2, 11).tolist()


def test_empty_cell_keeps_previous_centroid(spark, vecs):
    # a centroid far from every point attracts nothing and must
    # survive the round unchanged
    far = [9.0, 9.0, 9.0, 9.0]
    init = kmeans_init(vecs, "embedding", 2, "vec_id", 11) + [far]
    out = kmeans_iterate(vecs, "embedding", init)
    assert out[2] == far
    assert out[0] != init[0]  # live cells did move


def test_exact_mean_contract_guard(spark):
    # one nonzero element below 2^-27 -> x*2^50 is not an integer ->
    # loud failure, not silent engine-dependent rounding
    rows = [(0, [2.0 ** -30, 0.5]), (1, [0.25, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="exact-mean contract"):
        kmeans_fit(df, "embedding", k=2, n_iter=1)


def test_assignment_tie_breaks_to_smallest_cell(spark):
    # a point exactly equidistant from two identical centroids must
    # land in cell 0 (first-index-at-max), the oracle's rank rule
    df = spark.createDataFrame(
        [(0, [0.5, 0.5])], "vec_id long, embedding array<float>"
    )
    cents = [[0.25, 0.25], [0.25, 0.25]]
    got = kmeans_assignments(df, "embedding", cents).collect()
    assert got[0]["cell"] == 0


def test_trained_centroids_drive_ivf_index(spark, vecs, tmp_path):
    """Close the loop the module docstring promises: kmeans_fit ->
    unit-normalize -> write_ivf_index -> partition-pruned probe whose
    full-coverage result equals brute-force cosine top-k."""
    import math

    from osrs_dashboard_elt_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk_at_rest,
        write_ivf_index,
    )

    cents = kmeans_fit(vecs, "embedding", k=3, n_iter=3, seed=11)
    cents_norm = [
        [x / math.sqrt(sum(v * v for v in c)) for x in c] for c in cents
    ]
    path = str(tmp_path / "ivf")
    write_ivf_index(vecs, path, "embedding", cents_norm)
    q = [0.5, 0.45, 0.05, 0.0]
    # nprobe = all cells -> must equal exact brute force
    at_rest = ivf_ann_topk_at_rest(
        spark, path, q, cents_norm, k=5, nprobe=3
    )
    brute = cosine_topk(vecs, "embedding", q, k=5)
    assert [(r.vec_id, r.score) for r in at_rest.collect()] == [
        (r.vec_id, r.score) for r in brute.collect()
    ]
    # trained cells are real: the index has one partition per centroid
    import glob

    assert len(glob.glob(f"{path}/cell=*")) == 3


def test_null_and_ragged_vectors_are_skipped(spark, vecs):
    """NULL or wrong-length vectors take no part in training or
    assignment (regression: a NULL assignment cell crashed the fit
    with `list indices must be integers`)."""
    dirty = vecs.unionByName(
        spark.createDataFrame(
            [(900, None), (901, [0.5]), (902, [0.5] * 9),
             (903, [0.5, None, 0.5, 0.5])],  # element-null
            "vec_id long, embedding array<float>",
        )
    )
    clean_fit = kmeans_fit(vecs, "embedding", k=3, n_iter=3, seed=11)
    dirty_fit = kmeans_fit(dirty, "embedding", k=3, n_iter=3, seed=11)
    assert dirty_fit == clean_fit  # invalid rows contributed nothing
    assigned = kmeans_assignments(dirty, "embedding", clean_fit)
    ids = {r.vec_id for r in assigned.collect()}
    assert {900, 901, 902, 903}.isdisjoint(ids)
    assert len(ids) == vecs.count()


def test_chunked_assignment_matches_numpy_at_large_k(spark, vecs):
    """k past the ~512-term janino budget routes through the chunked
    scores path; assignments (incl. the first-at-max tie rule) must
    match the numpy argmax exactly, and training must stay
    deterministic."""
    rng = np.random.default_rng(3)
    k = 20  # 20 * 4 dims is tiny, so force chunking via the budget
    from osrs_dashboard_elt_spark.operators import kmeans as km

    old = km._CHUNK_TERMS
    km._CHUNK_TERMS = 16  # 4 centroids per chunk at dim=4
    try:
        cents = [
            [float(x) for x in rng.normal(0, 0.5, 4).astype("float32")]
            for _ in range(k)
        ]
        got = {
            r.vec_id: r.cell
            for r in kmeans_assignments(vecs, "embedding", cents).collect()
        }
        X = {r.vec_id: np.array(r.embedding, dtype="float64")
             for r in vecs.collect()}
        C = np.array(cents, dtype="float64")
        for vid, x in X.items():
            scores = C @ x - 0.5 * (C * C).sum(axis=1)
            assert got[vid] == int(np.argmax(scores)), vid
        # chunked and single-array paths agree end-to-end THROUGH
        # TRAINING: k=5 > per=4 actually routes the fit through the
        # chunked branch while the budget override is active
        fit_chunked = kmeans_fit(vecs, "embedding", k=5, n_iter=2, seed=5)
    finally:
        km._CHUNK_TERMS = old
    assert fit_chunked == kmeans_fit(vecs, "embedding", k=5, n_iter=2, seed=5)
