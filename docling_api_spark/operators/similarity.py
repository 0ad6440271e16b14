"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a single scan of the corpus with
the (small) query set broadcast; the pairwise score is computed with
``zip_with`` + ``aggregate`` higher-order functions (JVM-side, no
Python). Scale path: random-hyperplane LSH bucketing (deterministic
hyperplanes, numpy matmul in a vectorized pandas UDF) so only same-bucket
candidates are scored — O(N) bucket rows instead of O(N·Q) pairs.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise UNROUNDED dot product with the higher-order fold's EXACT
    float semantics, vectorized: ``aggregate(zip_with(a,b,*), 0.0, +)``
    is a strict left-to-right running sum starting at 0.0, which is
    precisely ``cumsum`` over the product matrix (after folding the
    initial ``0.0 + p₁``, which normalizes a -0.0 first product). Same
    doubles in the same order as the interpreted JVM expression and as
    DuckDB's ``list_dot_product`` — hash parity holds — at numpy C-loop
    speed instead of per-element lambda interpretation. (An unrolled
    64-term JVM expression was measured 6x SLOWER than even the
    interpreted fold: the tree exceeds codegen limits and evaluates as a
    128-deep boxed interpreter recursion — don't retry that. numpy's
    ``einsum``/``dot`` use pairwise summation — a DIFFERENT order; only
    cumsum reproduces the fold.) Rounding is NOT applied here: callers
    round JVM-side with ``F.round`` (HALF_UP) so the DuckDB-verified
    paths keep one rounding definition."""
    prod = a * b
    prod[:, 0] = 0.0 + prod[:, 0]
    return np.cumsum(prod, axis=1)[:, -1]


def _cosine_batch(va, vb) -> np.ndarray:
    """Batched cosine, rounded to 6 places with numpy's round-half-even —
    the same semantics as the pure-Python ``round(x, 6)`` the pytest
    soundness oracles assert against. Shared by every ANN verify stage so
    the clamp/rounding definition exists exactly once. The DuckDB-hash-
    verified exact paths (cosine_topk, the O(N^2) near-dup baseline) keep
    the JVM-side expression with HALF_UP rounding to stay bit-identical
    with the SQL oracle."""
    a = np.vstack([np.asarray(v, dtype=np.float64) for v in va])
    b = np.vstack([np.asarray(v, dtype=np.float64) for v in vb])
    dot = np.einsum("ij,ij->i", a, b)
    na = np.linalg.norm(a, axis=1)
    nb = np.linalg.norm(b, axis=1)
    return np.round(dot / np.maximum(na * nb, 1e-12), 6)


@F.pandas_udf(T.DoubleType())
def _np_cosine(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Vectorized cosine for the ANN candidate-verify stages: one numpy
    einsum per Arrow batch instead of the interpreted higher-order
    aggregate (~2x end-to-end on a 255k-pair verify)."""
    if len(va) == 0:
        return pd.Series([], dtype="float64")
    return pd.Series(_cosine_batch(va, vb))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Per query, the ``k`` highest-cosine candidates, ties broken by the
    lower candidate id: (query_id, cand_id, cosine, rank), rank from 1."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def cosine_topk(df: DataFrame, queries: DataFrame, k: int = 3) -> DataFrame:
    """Brute-force cosine top-k per query.

    ``queries`` (few rows) is broadcast; the corpus is scanned once. The
    per-query top-k is a window ranked by score — with Q queries the
    shuffle is Q·N score rows of ~24 bytes, and AQE coalesces it.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    pairs = df.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cvec")
    ).join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "cand_id",
        F.round(
            _dot(F.col("qvec"), F.col("cvec"))
            / F.greatest(_norm(F.col("qvec")) * _norm(F.col("cvec")), F.lit(1e-12)),
            6,
        ).alias("cosine"),
    )
    return _top_k(scored, k)


_BC_REGISTRY: list = []  # corpus-sized broadcasts from prior calls
_BC_LOCK = threading.Lock()


def exact_cosine_pairs(emb: DataFrame, threshold: float) -> DataFrame:
    """Exact O(N²) near-dup baseline: every ``id_a < id_b`` pair with
    ``round(cosine, 6) >= threshold``. Declared exact-pair baseline only —
    the 100 TB path is the LSH-bucketed variant (candidates within hash
    buckets); this one exists to be the DuckDB-verifiable ground truth
    the ANN recall floors are measured against.

    The corpus is by definition single-node-sized here (the exact
    baseline is quadratic — at real scale you run the LSH variant), so it
    ships to the executors ONCE as a Spark broadcast variable and the
    pair stage joins nothing but ids: the BroadcastNestedLoopJoin emits
    16-byte (id_a, id_b) rows instead of duplicating two 64-dim vectors
    into every pair (2 GB of Arrow traffic for 2 M pairs — measured 4x
    end-to-end). The scoring kernel gathers rows from the broadcast
    matrix and uses the sequential-sum dot (:func:`_seq_dot`) for both
    dots and norms — bit-identical to the JVM fold and to DuckDB's
    ``list_dot_product``. Rounding and the threshold filter run JVM-side
    on the UDF's single output column, so the one HALF_UP rounding
    definition is shared with every DuckDB-verified path and the
    mapInPandas stage executes exactly once."""
    spark = emb.sparkSession
    pdf = emb.select(
        F.col("vec_id").cast("long").alias("id"), F.col("embedding").alias("v")
    ).toPandas()
    if len(pdf) == 0:
        # np.vstack rejects zero arrays; an empty corpus has no pairs
        return spark.createDataFrame([], "id_a long, id_b long, cosine double")
    if pdf["id"].isna().any():
        raise ValueError(
            "exact_cosine_pairs: 'vec_id' contains nulls or values "
            "that do not cast to long — use a numeric surrogate id"
        )
    order = np.argsort(pdf["id"].to_numpy(), kind="stable")
    ids = pdf["id"].to_numpy()[order]
    # strict uniqueness makes the searchsorted gather exact BY
    # CONSTRUCTION: a duplicated id would gather the leftmost copy's
    # vector for both rows and double-emit its pairs — silently wrong
    # ground truth for the ANN recall floors
    if len(ids) > 1 and not (np.diff(ids) > 0).all():
        raise ValueError(
            "exact_cosine_pairs: duplicate 'vec_id' values in the "
            "corpus — ids must be unique"
        )
    mat = np.vstack(pdf["v"].to_numpy()[order]).astype(np.float64)
    if mat.shape[1] == 0:
        raise ValueError(
            "exact_cosine_pairs: embeddings are zero-dimensional "
            "(empty arrays) — cosine similarity is undefined"
        )
    bc = spark.sparkContext.broadcast((ids, mat))
    # evict broadcasts from prior calls so a long-lived session invoking
    # this repeatedly doesn't pin one corpus copy per call on the
    # executors: keep the IMMEDIATELY-prior broadcast alive — its result
    # DataFrame may still be lazily pending in an interleaved caller —
    # and evict older ones, under a lock (concurrent driver threads may
    # share this module global). unpersist (NOT destroy) is safe for
    # still-referenced plans: the value stays on the driver and re-ships
    # on demand.
    with _BC_LOCK:
        while len(_BC_REGISTRY) > 1:
            try:
                _BC_REGISTRY.pop(0).unpersist(blocking=False)
            except Exception:
                pass  # broadcast from a stopped SparkContext
        _BC_REGISTRY.append(bc)

    # Build the pair-generation id frame FROM THE DRIVER SNAPSHOT, not by
    # re-selecting from `emb`: a second distributed scan would (a)
    # re-evaluate the whole upstream subtree — an extra full pass when
    # emb is a computed frame rather than a parquet scan — and (b) race a
    # non-deterministic upstream (sample/limit) into ids absent from the
    # broadcast matrix, which searchsorted would silently score against
    # the WRONG vector. The snapshot ids are already on the driver; this
    # guarantees the kernel's gather indices are always exact.
    id_df = spark.createDataFrame(pdf[["id"]].astype({"id": "int64"}))
    # The streamed side of the BroadcastNestedLoopJoin inherits the id
    # frame's input splits — a small corpus reads as ONE split, so the
    # O(N²) pair generation AND the Python scoring stage would run on a
    # single core (measured: the whole 2M-pair stage on 1 of 32 cores).
    # Repartitioning the streamed ids (tiny: one long per row) fans the
    # quadratic work across the cluster.
    par = emb.sparkSession.sparkContext.defaultParallelism
    a = id_df.repartition(par).select(F.col("id").alias("id_a"))
    b = id_df.select(F.col("id").alias("id_b"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("_raw_cosine", T.DoubleType()),
    ])

    def score(batches):
        ids_w, mat_w = bc.value
        # norms with the same sequential fold (sqrt of the running sum of
        # squares) — computed once per task, not per batch
        norms = np.sqrt(_seq_dot(mat_w, mat_w))
        for pdf_b in batches:
            if len(pdf_b) == 0:
                continue
            ia = np.searchsorted(ids_w, pdf_b["id_a"].to_numpy())
            ib = np.searchsorted(ids_w, pdf_b["id_b"].to_numpy())
            # defense in depth: ids now come from the same snapshot as
            # the broadcast, so a miss is impossible by construction —
            # but a silent wrong-vector gather is the worst failure mode
            # an ANN ground-truth baseline can have, so assert anyway
            if (ia >= len(ids_w)).any() or (ib >= len(ids_w)).any() or \
                    (ids_w[np.minimum(ia, len(ids_w) - 1)]
                     != pdf_b["id_a"].to_numpy()).any() or \
                    (ids_w[np.minimum(ib, len(ids_w) - 1)]
                     != pdf_b["id_b"].to_numpy()).any():
                raise RuntimeError(
                    "exact_cosine_pairs: pair id missing from the "
                    "broadcast corpus snapshot"
                )
            dot = _seq_dot(mat_w[ia], mat_w[ib])
            raw = dot / np.maximum(norms[ia] * norms[ib], 1e-12)
            yield pd.DataFrame({
                "id_a": pdf_b["id_a"],
                "id_b": pdf_b["id_b"],
                "_raw_cosine": raw,
            })

    return (
        pairs.mapInPandas(score, out_schema)
        .select("id_a", "id_b", F.round("_raw_cosine", 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic hyperplanes — fixed seed, generated identically on
    every worker (no runtime randomness; SURVEY.md §4.3)."""
    rs = np.random.RandomState(42)
    return rs.standard_normal((n_planes, dim)).astype(np.float64)


N_PLANES = 6   # sign bits per table -> 64 buckets/table
N_TABLES = 8   # independent tables; candidate = same bucket in ANY table


def _bucket_vals(mat: np.ndarray) -> np.ndarray:
    """(N, N_TABLES) base bucket ids: sign pattern of v·Hᵀ per table,
    offset by ``table << N_PLANES`` so ids never collide across tables."""
    planes = _hyperplanes(mat.shape[1], N_TABLES * N_PLANES)
    signs = (mat @ planes.T) > 0  # (N, T*P)
    weights = 1 << np.arange(N_PLANES)
    vals = signs.reshape(len(mat), N_TABLES, N_PLANES) @ weights  # (N, T)
    return vals + (np.arange(N_TABLES) << N_PLANES)  # per-table id space


def lsh_bucket_udf():
    """Vectorized multi-table bucketing: one array column of
    ``N_TABLES`` bucket ids per vector. Multi-table is the standard
    random-hyperplane construction: a single table's recall at cosine c
    is (1-θ/π)^planes — a few percent for moderate similarity — while
    the union over T tables is 1-(1-p)^T. One numpy matmul per Arrow
    batch over the whole plane pool."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        vals = _bucket_vals(mat)
        return pd.Series([row.astype("int32").tolist() for row in vals])

    return buckets


def lsh_probe_udf():
    """Multi-probe bucketing (Lv et al., VLDB'07): per vector, the
    ``N_TABLES`` BASE buckets followed by the ``N_TABLES·N_PLANES``
    single-bit-flip probe buckets (Hamming-distance-1 neighbors — the
    buckets a near neighbor most likely landed in when one hyperplane
    disagreed). Probing from the QUERY/left side only keeps the index
    side at one bucket per table, so a pair is still found whenever the
    two sign patterns differ by ≤1 bit in ANY table: per-table match
    probability rises from p^P to p^P + P·p^(P-1)(1-p) before the
    1-(1-·)^T table union — measured recall on the tracked corpus rose
    0.36 → ~0.9 (near-dup @ cosine 0.40). Layout: entries [0, T) are the
    base buckets (posexplode pos < N_TABLES selects the index side from
    the same single UDF pass), [T, T·(1+P)) the flips — the XOR touches
    only the low ``N_PLANES`` bits, never the table offset."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(vecs: pd.Series) -> pd.Series:
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        base = _bucket_vals(mat)  # (N, T)
        weights = 1 << np.arange(N_PLANES)
        flips = base[:, :, None] ^ weights[None, None, :]  # (N, T, P)
        allb = np.concatenate([base, flips.reshape(len(mat), -1)], axis=1)
        return pd.Series([row.astype("int32").tolist() for row in allb])

    return probes


def lsh_cosine_topk(df: DataFrame, queries: DataFrame,
                    k: int = 3) -> DataFrame:
    """ANN variant: score only candidates sharing a bucket with the query
    in ANY of the LSH tables. Recall < 1 by construction; the scale path
    for 100 TB corpora (the corpus-side bucket column would be
    precomputed and partition-pruned; the explode costs N_TABLES rows per
    vector — still O(N), never O(N·Q)). The QUERY side multi-probes the
    Hamming-1 neighbor buckets (lsh_probe_udf) — recall rises sharply
    while the corpus side stays at one bucket per table, so the probe
    fan-out multiplies only the broadcast query rows (Q·T·(1+P) ints),
    never anything O(N)."""
    bucket = lsh_bucket_udf()
    probe = lsh_probe_udf()
    # Explode only (id, bucket) — 8 bytes/table — NOT the float vector:
    # at 100 TB the exploded-vector variant shuffles the embedding column
    # N_TABLES times; this shape shuffles it zero times (candidates join
    # back to the corpus by id, AQE turns it into a broadcast when the
    # candidate set is small).
    corpus_b = df.select(
        F.col("vec_id").alias("cand_id"),
        F.explode(bucket(F.col("embedding"))).alias("bucket"),
    )
    q_b = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.explode(probe(F.col("embedding"))).alias("bucket"),
    )
    cand = (
        corpus_b.join(F.broadcast(q_b), "bucket")
        .filter(F.col("cand_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "cand_id"])  # collide in >1 table
    )
    pairs = cand.join(
        df.select(F.col("vec_id").alias("cand_id"),
                  F.col("embedding").alias("cvec")),
        "cand_id",
    )
    scored = pairs.select(
        "query_id",
        "cand_id",
        _np_cosine(F.col("qvec"), F.col("cvec")).alias("cosine"),
    )
    return _top_k(scored, k)


def embedding_near_duplicates(df: DataFrame,
                              threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup detection: multi-table LSH self-join
    (pairs only within buckets, deduped across tables), exact cosine
    verify at ``threshold``. The LEFT side of the self-join multi-probes
    the Hamming-1 neighbor buckets while the right side keeps the base
    buckets — with the ``id_a < id_b`` filter this finds every pair whose
    sign patterns differ by ≤1 bit in any table (if a and b differ in bit
    j of table t, flipping bit j of EITHER lands exactly in the other's
    base bucket, so orientation never loses a pair). One UDF pass emits
    both roles: posexplode positions < N_TABLES are the base buckets."""
    probe = lsh_probe_udf()
    # Bucket rows carry only (id, bucket); the float vectors are joined
    # back once per SIDE of the surviving candidate pairs instead of
    # riding through the N_TABLES-way explode + self-join (which would
    # shuffle the embedding column 8x at 100 TB). The two id-equi-joins
    # shuffle the candidate set (tiny after dedup) and the corpus once
    # each; AQE broadcasts the candidate side when it is small.
    b = df.select(
        F.col("vec_id").alias("bid"),
        F.posexplode(probe(F.col("embedding"))).alias("pos", "bucket"),
    )
    left = b.select("bucket", F.col("bid").alias("id_a"))
    right = (b.filter(F.col("pos") < N_TABLES)
             .select("bucket", F.col("bid").alias("id_b")))
    cand = (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return verify_candidate_pairs(cand, df, threshold)


def verify_candidate_pairs(cand: DataFrame, df: DataFrame,
                           threshold: float) -> DataFrame:
    """Exact-cosine verification of an (id_a, id_b) candidate frame:
    vectors join back once per candidate SIDE (candidates carry only ids
    through their generator), and score + threshold fuse in a single
    mapInPandas stage — a plain
    `select(udf).filter(col)` evaluates the scalar UDF twice (Spark
    extracts one ArrowEvalPython for the pushed filter and another for
    the projection), doubling the Arrow transfer of the vector pairs.
    Fusing also means only the surviving pairs ever leave Python."""
    va = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    vb = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    out_schema = T.StructType([
        pairs.schema["id_a"],
        pairs.schema["id_b"],
        T.StructField("cosine", T.DoubleType()),
    ])

    def verify(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cos = _cosine_batch(pdf["va"], pdf["vb"])
            keep = cos >= threshold
            yield pd.DataFrame({
                "id_a": pdf["id_a"][keep],
                "id_b": pdf["id_b"][keep],
                "cosine": cos[keep],
            })

    return pairs.mapInPandas(verify, out_schema)


def _centroids(df: DataFrame, n_centroids: int) -> np.ndarray:
    """Deterministic coarse quantizer: the ``n_centroids`` lowest-id
    vectors ARE the centroids (no runtime randomness, SURVEY.md §4.3).
    A production deployment would train k-means|| offline and ship the
    codebook like any model artifact (broadcast, S8-style)."""
    rows = (
        df.orderBy(F.col("vec_id").asc()).limit(n_centroids)
        .select("embedding").collect()
    )
    return np.vstack([np.asarray(r[0], dtype=np.float64) for r in rows])


def _cell_assign_udf(cents: np.ndarray, n_probe: int):
    """Vectorized IVF cell assignment: one matmul per Arrow batch ranks
    centroids by cosine; returns the top ``n_probe`` cell ids."""
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vecs: pd.Series) -> pd.Series:
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cn.T
        order = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return assign


def ivf_cosine_topk(df: DataFrame, queries: DataFrame, k: int = 3,
                    n_centroids: int = 16, n_probe: int = 4) -> DataFrame:
    """IVF ANN: corpus vectors live in their single nearest-centroid cell
    (precomputable + partitionable at 100 TB — the scan prunes to probed
    cells); each query probes its ``n_probe`` nearest cells and scores
    only those candidates. Recall < 1 by construction; the exact
    brute-force path (cosine_topk) is the correctness baseline."""
    cents = _centroids(df, n_centroids)
    one = _cell_assign_udf(cents, 1)
    probe = _cell_assign_udf(cents, n_probe)
    corpus = df.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cvec"),
        F.element_at(one(F.col("embedding")), 1).alias("cell"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"),
        F.explode(probe(F.col("embedding"))).alias("cell"),
    )
    pairs = corpus.join(F.broadcast(q), "cell").filter(
        F.col("cand_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id", "cand_id",
        _np_cosine(F.col("qvec"), F.col("cvec")).alias("cosine"),
    ).dropDuplicates(["query_id", "cand_id"])
    return _top_k(scored, k)
