"""Deterministic spherical k-means invariants: bit-exact agreement with
a single-machine replica of the same arithmetic (unit rows -> argmax ->
exact scaled-long sums -> normalized means), bit-identical centroids
under different partitionings (THE reason the operator exists — float
sums would break this), the empty-cell keep rule, objective improvement
over the seed quantizer, and the IVF integration."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from docling_api_spark.operators.kmeans import SCALE

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _unit(m):
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def _ref_sims(u: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """The assignment similarity spec: per-centroid strict left-to-right
    cumsum dot (shape-independent — BLAS matmul kernel choice varies
    with batch height, which could flip a near-tie argmax between
    partitionings)."""
    sims = np.empty((u.shape[0], cents.shape[0]), dtype=np.float64)
    for j in range(cents.shape[0]):
        prod = u * cents[j]
        prod[:, 0] = 0.0 + prod[:, 0]
        sims[:, j] = np.cumsum(prod, axis=1)[:, -1]
    return sims


def _ref_kmeans(mat: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Replica: mat rows sorted by id; init = first k rows."""
    cents = _unit(mat[:k].copy())
    k = cents.shape[0]
    for _ in range(iters):
        u = _unit(mat)
        cell = np.argmax(_ref_sims(u, cents), axis=1)
        sv = np.round(u * SCALE).astype(np.int64)
        counts = np.bincount(cell, minlength=k)
        sums = np.zeros((k, mat.shape[1]), dtype=np.int64)
        for c in range(k):
            if counts[c]:
                sums[c] = sv[cell == c].sum(axis=0, dtype=np.int64)
        new = cents.copy()
        nonempty = counts > 0
        means = sums[nonempty].astype(np.float64) / (
            counts[nonempty, None] * float(SCALE)
        )
        norms = np.linalg.norm(means, axis=1, keepdims=True)
        ok = norms[:, 0] > 0
        new[nonempty] = np.where(
            ok[:, None], means / np.maximum(norms, 1e-12), cents[nonempty]
        )
        if np.array_equal(new, cents):
            break
        cents = new
    return cents


def _emb_matrix(spark):
    rows = (
        spark.read.parquet(EMB)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = [r["vec_id"] for r in rows]
    return ids, np.array([r["embedding"] for r in rows], dtype=np.float64)


def test_matches_replica_and_partition_invariant(spark):
    from docling_api_spark.operators.kmeans import kmeans_centroids

    d = spark.read.parquet(EMB)
    ids, mat = _emb_matrix(spark)
    expect = _ref_kmeans(mat, k=8, iters=5)

    got2, info2 = kmeans_centroids(d.repartition(2), 64, k=8, iters=5)
    got13, info13 = kmeans_centroids(d.repartition(13), 64, k=8, iters=5)
    assert np.array_equal(got2, got13)  # bit-identical at any parallelism
    assert np.array_equal(got2, expect)
    assert info2["iters_run"] == info13["iters_run"]
    assert sum(info2["cell_sizes"]) == len(ids)
    # spherical: every centroid is unit-norm
    assert np.allclose(np.linalg.norm(got2, axis=1), 1.0, atol=1e-9)


def test_objective_improves_over_seed_quantizer(spark):
    from docling_api_spark.operators.kmeans import kmeans_centroids
    from docling_api_spark.operators.similarity import _centroids

    d = spark.read.parquet(EMB)
    _, mat = _emb_matrix(spark)
    u = _unit(mat)
    seed = _unit(_centroids(d, 64, 8, "vec_id", "embedding"))
    trained, info = kmeans_centroids(d, 64, k=8, iters=10)
    obj_seed = np.max(u @ seed.T, axis=1).mean()
    obj_trained = np.max(u @ trained.T, axis=1).mean()
    assert obj_trained > obj_seed
    assert info["iters_run"] >= 1


def test_empty_cell_keeps_previous_centroid(spark):
    from docling_api_spark.operators.kmeans import kmeans_centroids

    # two tight opposite directions, duplicated — with k=4 the two seed
    # centroids inside each bundle split it, but seeds 2/3 (copies of
    # seeds 0/1) go empty on argmax ties and must stay AT their seed
    e1 = [1.0, 0.0, 0.0, 0.0]
    e2 = [0.0, 1.0, 0.0, 0.0]
    rows = [(i, e1 if i % 2 == 0 else e2) for i in range(20)]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents, info = kmeans_centroids(d, 4, k=4, iters=3)
    assert info["converged"]
    # cells 0/1 hold all mass; 2/3 empty and unchanged from their seeds
    assert info["cell_sizes"][2] == 0 and info["cell_sizes"][3] == 0
    assert np.allclose(cents[0], e1) and np.allclose(cents[1], e2)
    assert np.allclose(cents[2], e1) and np.allclose(cents[3], e2)


def test_ivf_with_trained_quantizer_keeps_recall(spark):
    from docling_api_spark.operators.similarity import (
        cosine_topk, ivf_cosine_topk,
    )

    d = spark.read.parquet(EMB)
    q = d.filter(F.col("vec_id") < 20)
    exact = cosine_topk(d, q, k=3)
    truth = {
        (r["query_id"], r["cand_id"]) for r in exact.collect()
    }

    def recall(kmeans_iters):
        got = ivf_cosine_topk(
            d, q, 64, k=3, n_centroids=16, n_probe=4,
            kmeans_iters=kmeans_iters,
        ).collect()
        hits = sum((r["query_id"], r["cand_id"]) in truth for r in got)
        return hits / len(truth)

    r_seed, r_trained = recall(0), recall(5)
    assert r_trained >= 0.3  # the family's floor
    assert r_trained >= r_seed - 0.05  # never materially worse
