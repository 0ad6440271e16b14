"""Deterministic distributed spherical k-means over an embedding column.

Trains the coarse quantizer the IVF path (similarity.py) otherwise
fakes with "lowest-id vectors are the centroids", and doubles as a
corpus-clustering operator for data curation (cluster-balanced
sampling, per-cluster dedup budgets, topic mixing).

Why this isn't just pyspark.ml.KMeans: the repo-wide invariant is NO
partition-order dependence anywhere (SURVEY §4.3), and a float-sum
centroid update is order-dependent (float addition doesn't associate —
local[4] and local[32] would learn different centroids). Here every
per-cell sum is an EXACT integer sum: each vector is unit-normalized in
its own row (order-free), quantized to 2^24-scaled longs, and the
per-(cell, dim) sums are long sums — associative, commutative, exact —
so the learned centroids are bit-identical at any parallelism. The
2^-24 quantization is deterministic noise on a COARSE quantizer (cells,
not scores); candidate scoring downstream stays full float.

Plan shape / scale (Lloyd's is iterative by nature):
  - each iteration is one corpus pass: mapInArrow assigns cells with a
    numpy matmul per Arrow batch (the measured-fast path — see the ANN
    verify lore) against the BROADCAST k x dim centroid matrix, then a
    posexplode + groupBy(cell, dim) long-sum — map-side combined, so
    the shuffle carries at most k*dim*partitions rows.
  - driver state is k x dim sums (k<=4096: trivially collectable);
    the corpus is never collected.
  - early stop when centroids are bit-stable; empty cells keep their
    previous centroid (deterministic rule, no re-seeding randomness).
  - callers iterating many times should persist the input frame; each
    iteration re-reads it (documented Lloyd's price).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1 << 24


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    return mat / np.maximum(
        np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
    )


def _assign_cells(unit: np.ndarray, cn: np.ndarray) -> np.ndarray:
    """Nearest-centroid argmax with SHAPE-INDEPENDENT float arithmetic:
    per-centroid strict left-to-right cumsum dots (the _seq_dot fold)
    instead of a BLAS matmul, whose kernel/accumulation order varies
    with the batch's row count — a near-tie vector could flip cells
    between a 1-row tail batch and a 100-row batch, breaking the
    bit-identical-at-any-parallelism claim the exact long sums exist
    for. Ties break to the lowest cell id (np.argmax)."""
    from docling_api_spark.operators.similarity import _seq_dot

    sims = np.empty((unit.shape[0], cn.shape[0]), dtype=np.float64)
    for j in range(cn.shape[0]):
        sims[:, j] = _seq_dot(unit, np.broadcast_to(cn[j], unit.shape))
    return np.argmax(sims, axis=1).astype(np.int32)


def _batch_mat(batch: pa.RecordBatch, vec_col: str) -> np.ndarray:
    return np.array(batch.column(vec_col).to_pylist(), dtype=np.float64)


def kmeans_centroids(
    df: DataFrame,
    dim: int,
    k: int = 16,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, dict]:
    """Lloyd's spherical k-means; returns (centroids (k, dim) unit rows,
    info dict with iterations run / convergence / cell sizes)."""
    from docling_api_spark.operators.similarity import _centroids

    spark = df.sparkSession
    cents = _unit_rows(_centroids(df, dim, k, id_col, vec_col))
    k = cents.shape[0]  # corpus smaller than k: fewer cells, same rules
    info = {"iters_run": 0, "converged": False, "cell_sizes": []}

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cents)

        def stage(batches: Iterator[pa.RecordBatch],
                  ) -> Iterator[pa.RecordBatch]:
            cn = bc.value
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                unit = _unit_rows(_batch_mat(batch, vec_col))
                cell = _assign_cells(unit, cn)
                sv = np.round(unit * SCALE).astype(np.int64)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(cell, pa.int32()),
                     pa.array(sv.tolist(), pa.list_(pa.int64()))],
                    ["cell", "svec"],
                )

        rows = (
            df.select(vec_col)
            .mapInArrow(stage, "cell int, svec array<long>")
            .select("cell", F.posexplode("svec").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        # this iteration's broadcast is dead once the collect returns —
        # a long-lived session must not accumulate iters x calls copies
        bc.unpersist(blocking=False)
        sums = np.zeros((k, dim), dtype=np.int64)
        counts = np.zeros(k, dtype=np.int64)
        for r in rows:
            sums[r["cell"], r["pos"]] = r["s"]
            counts[r["cell"]] = r["n"]
        new = cents.copy()
        nonempty = counts > 0
        means = sums[nonempty].astype(np.float64) / (
            counts[nonempty, None] * float(SCALE)
        )
        norms = np.linalg.norm(means, axis=1, keepdims=True)
        ok = norms[:, 0] > 0
        upd = np.where(ok[:, None], means / np.maximum(norms, 1e-12),
                       cents[nonempty])
        new[nonempty] = upd
        info["iters_run"] += 1
        info["cell_sizes"] = counts.tolist()
        if np.array_equal(new, cents):
            info["converged"] = True
            break
        cents = new
    return cents, info
