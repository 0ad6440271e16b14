"""Two-pass heavy-hitter salting and ANN operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_heavy_hitter_detection_and_salting(spark):
    from docling_api_spark.plans.pipeline import (
        SALT_BLOCK,
        heavy_conversations,
        skew_aware_repartition,
    )

    # conv 'big' has 3 salt blocks of turns; 50 small convs have 4 each
    big = spark.range(3 * SALT_BLOCK).select(
        F.lit("big").alias("conv_id"), F.col("id").cast("int").alias("turn_idx")
    )
    small = spark.range(50 * 4).select(
        F.concat(F.lit("c"), (F.col("id") % 50)).alias("conv_id"),
        (F.col("id") / 50).cast("int").alias("turn_idx"),
    )
    df = big.unionByName(small)

    heavy = heavy_conversations(df)
    assert [r["conv_id"] for r in heavy.collect()] == ["big"]

    out = skew_aware_repartition(df, num_partitions=16, heavy=heavy)
    # no rows lost or duplicated by the flag/salt/drop roundtrip
    assert out.count() == df.count()
    assert out.columns == df.columns

    parts = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("conv_id").agg(F.countDistinct("pid").alias("n_parts"))
    )
    by_conv = {r["conv_id"]: r["n_parts"] for r in parts.collect()}
    # the heavy conv spreads across multiple partitions (one per salt block,
    # minus hash collisions); small convs stay whole
    assert by_conv["big"] > 1
    assert all(v == 1 for c, v in by_conv.items() if c != "big")


def test_minhash_lsh_big_duplicate_clusters_not_dropped(spark):
    """The no-silent-caps fix: a 100-copy identical cluster and an
    80-member near-identical cluster (> MAX_BUCKET=64, previously dropped
    entirely) must both surface with every member reachable from its
    cluster hub."""
    from docling_api_spark.operators.dedup import MAX_BUCKET, minhash_near_duplicates

    base_a = ("the quick brown fox jumps over the lazy dog again and again "
              "while the band plays on through the long afternoon hours")
    base_b = ("every distributed shuffle moves partitioned rows between "
              "executors according to the hash of the chosen join keys "
              "and the configured partition count for the exchange stage")
    rows = []
    # cluster A: 100 byte-identical copies (ids 0..99)
    rows += [(i, base_a) for i in range(100)]
    # cluster B: 80 DISTINCT near-identical docs (ids 200..279) — all land
    # in the same LSH buckets, bucket size 80 > MAX_BUCKET
    rows += [(200 + i, base_b + f" trailing marker {i}") for i in range(80)]
    # unrelated docs
    rows += [(900 + i, f"completely different text body number {i} with "
                       f"unique words galaxy{i} nebula{i} quasar{i} comet{i} "
                       f"meteor{i} star{i} dust{i} void{i} flare{i}")
             for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert 80 > MAX_BUCKET

    out = minhash_near_duplicates(df, threshold=0.5).collect()
    edges = {(r["id_a"], r["id_b"]) for r in out}

    # cluster A: every copy reachable from keeper 0 with jaccard 1.0
    assert {(0, b) for b in range(1, 100)} <= edges
    assert all(r["jaccard"] == 1.0 for r in out if r["id_a"] == 0 and r["id_b"] < 100)

    # cluster B: union-find over the emitted edges must connect all 80
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    b_roots = {find(200 + i) for i in range(80)}
    assert len(b_roots) == 1, f"cluster B split into {len(b_roots)} components"
    # no cross-cluster or unrelated false edges at this threshold
    for a, b in edges:
        assert (a < 200 and b < 200) or (200 <= a < 300 and 200 <= b < 300)


def test_ivf_topk_matches_bruteforce_recall(spark):
    """IVF with n_probe == n_centroids degenerates to exact search —
    results must equal the brute-force baseline."""
    from docling_api_spark.operators.similarity import cosine_topk, ivf_cosine_topk

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
    )
    queries = emb.filter(F.col("vec_id") < 3)
    exact = cosine_topk(emb, queries, k=3).collect()
    full_probe = ivf_cosine_topk(
        emb, queries, k=3, n_centroids=8, n_probe=8
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, full_probe), key=lambda t: (t[0], t[3])) == \
        sorted(map(tuple, exact), key=lambda t: (t[0], t[3]))

    # partial probe: proper subset behavior — every returned row must be a
    # true candidate with correct score (checked against exact scores)
    part = ivf_cosine_topk(emb, queries, k=3, n_centroids=8, n_probe=2)
    exact_scores = {
        (r["query_id"], r["cand_id"]): r["cosine"]
        for r in cosine_topk(emb, queries, k=10**6).collect()
    }
    for r in part.collect():
        assert exact_scores[(r["query_id"], r["cand_id"])] == r["cosine"]
