"""Deterministic fixed-point PageRank over a link graph.

Web-scale curation ranks DOMAINS by link authority (Common Crawl
publishes exactly this: harmonic/PageRank centrality over the domain
graph) and feeds the rank into keep/sample decisions alongside
operators/domains.py policy. This is the standard power-iteration
PageRank, made DETERMINISTIC the same way the rest of this repo is:

  - ranks are scaled longs (RANK_SCALE units of probability mass);
  - each out-contribution is exact integer division
    floor(rank·D_NUM / (D_DEN·outdeg)) — a per-row pure function;
  - per-node accumulation is an exact LONG sum (associative), so every
    iteration's rank vector is bit-identical at any parallelism. Float
    PageRank sums contributions in partition order and never is.
  - damping d = D_NUM/D_DEN is a RATIONAL (17/20 = 0.85), never a
    float.

Each floor loses < 1 scaled unit per edge per iteration (bounded,
documented mass leak — with RANK_SCALE = 2^40 that is ~1e-12 of total
mass per iteration; rank ORDER, the thing curation consumes, is
unaffected; determinism, the contract, is exact).

Shape at 100 TB: per iteration one join (ranks ⋈ edges on src) and one
groupBy(dst) long-sum — both partial-agg/shuffle-friendly. The edge
table is hash-partitioned by src ONCE and persisted by the caller (see
``prepare_edges``); each iteration then shuffles only the rank vector
(#nodes rows, ≪ #edges). Dangling mass is a 1-row aggregate folded into
the SAME job as the rank update (broadcast nested-loop join of the
scalar — no driver round-trip per iteration; the collect-per-iteration
variant measured ~2x this fixed floor on a 1k-node graph). Iteration
count is FIXED (no convergence races): the plan is cut per iteration
with an eager localCheckpoint — ``ranks`` feeds both the dangling
scalar and the contribution join, so an uncut plan would double in
cost every round.

Reference parity: no reference analog (per-document gateway); part of
the training-data-pipeline layer the brief adds (SURVEY §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RANK_SCALE = 1 << 40
D_NUM, D_DEN = 17, 20  # damping 0.85 as an exact rational


def prepare_edges(edges: DataFrame) -> DataFrame:
    """Distinct (src, dst) edges, hash-partitioned by src and PERSISTED —
    pay the edge shuffle once, not once per iteration. Caller
    unpersists."""
    e = edges.select("src", "dst").distinct().repartition("src")
    e.persist()
    return e


def pagerank(edges: DataFrame, n_iter: int = 10, scale: int = RANK_SCALE,
             cut_lineage: bool = True) -> DataFrame:
    """(node, rank_scaled, rank): ``rank_scaled`` is the exact long the
    iteration produced (the determinism contract — compare THIS across
    runs/engines); ``rank`` is its single-division float convenience.
    Nodes are distinct(src) ∪ distinct(dst); every node starts at
    floor(scale/N).

    ``cut_lineage=False`` skips the per-iteration checkpoint, leaving
    the whole iteration lazily composed — for plan audits only (the
    branching on ``ranks`` doubles recomputation per round), results
    are identical."""
    e = prepare_edges(edges)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        e.unpersist()
        return nodes.select(
            "node", F.lit(0).cast("long").alias("rank_scaled"),
            F.lit(0.0).alias("rank"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # node frame carrying outdeg (0 = dangling), reused every iteration
    nd = nodes.join(
        outdeg.withColumnRenamed("src", "node"), "node", "left"
    ).select(
        "node", F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg")
    ).localCheckpoint(eager=True)

    base = (scale * (D_DEN - D_NUM)) // (D_DEN * n)
    ranks = nd.select(
        "node", "outdeg",
        F.lit(scale // n).cast("long").alias("rank_scaled"),
    ).localCheckpoint(eager=True)

    for _ in range(n_iter):
        # this iteration's dangling mass as a 1-row frame, broadcast into
        # the rank update below — the whole iteration is ONE Spark job
        # (the eager checkpoint), with no driver collect in the loop
        dangling = ranks.filter("outdeg = 0").agg(
            F.coalesce(F.sum("rank_scaled"), F.lit(0).cast("long"))
            .alias("_dm")
        )
        # floor((dangling·D_NUM) / (D_DEN·n)) — same exact long floor as
        # the contribution term (`div` truncates toward zero; both
        # operands are nonnegative, so trunc == floor)
        dang_term = F.expr(f"(_dm * {D_NUM}) div {D_DEN * n}")
        contrib = (
            ranks.filter("outdeg > 0")
            .join(e, ranks["node"] == e["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank_scaled") * F.lit(D_NUM).cast("long"))
                .alias("_num"),
                (F.lit(D_DEN).cast("long") * F.col("outdeg")).alias("_den"),
            )
            # floor(rank·D_NUM / (D_DEN·outdeg)) via the INTEGRAL `div`
            # operator — exact LONG division at any scale (a double
            # division would round above 2^53, breaking the exactness
            # contract for large `scale` values)
            .select("node", F.expr("_num div _den").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = nd.join(contrib, "node", "left").crossJoin(
            F.broadcast(dangling)
        ).select(
            "node", "outdeg",
            (F.lit(base).cast("long") + dang_term
             + F.coalesce("in_mass", F.lit(0).cast("long")))
            .alias("rank_scaled"),
        )
        if cut_lineage:
            ranks = ranks.localCheckpoint(eager=True)

    e.unpersist()
    return ranks.select(
        "node", "rank_scaled",
        (F.col("rank_scaled").cast("double") / F.lit(float(scale)))
        .alias("rank"),
    )
