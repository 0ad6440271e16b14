"""Distributed connected components over an edge DataFrame.

Turns near-duplicate PAIRS (the output of the dedup family —
minhash-LSH, simhash, embedding-cosine) into duplicate CLUSTERS: every
node gets the minimum node id reachable from it as its component label.
This is the step a 100 TB dedup pipeline actually keeps — "which keeper
does each document collapse to" — not the raw pair list.

Algorithm: min-label propagation + pointer jumping (path doubling).
Each round does
  1. neighbor step:  comp[v] <- min(comp[v], min over neighbors u of comp[u])
  2. pointer jump:   comp[v] <- comp[comp[v]]
Both are joins + partial-agg groupBys on long keys (whole-stage codegen,
no Python). The neighbor step alone needs O(diameter) rounds on a path
graph — and our LSH chain expansion (operators/dedup.py) deliberately
emits long paths for oversized buckets — but the pointer jump halves the
remaining depth each round, giving O(log n) rounds overall. Every round
is ``localCheckpoint``-ed (truncate the lineage: an iterative plan
otherwise doubles in size per round and re-executes from the scan), and
convergence is detected with a 2-value aggregate: comp is monotone
non-increasing per node, so sum(comp) is strictly decreasing until the
fixed point — no edge-set compare, no extra join.

Invariant (why the fixed point is correct): comp[v] always holds the id
of a node REACHABLE from v (the neighbor step takes labels from
neighbors; the jump takes the label of the node whose id comp[v] is —
both stay inside v's component). At a fixed point, for every edge (u,v)
comp[u] <= comp[v] and comp[v] <= comp[u], so comp is constant per
component; the minimum node m of a component has comp[m] ∈ [m, m] — so
the constant is the component's minimum id.

Reference parity: the reference has no graph operator (it is a
per-document gateway); this is part of the training-data-pipeline layer
the brief adds on top (dedup clusters at crawl scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _as_long(c: str, op: str):
    """Cast column ``c`` to long, failing LOUDLY on lossy input.

    try_cast, not cast: under ANSI mode (Spark 4 default) a plain cast
    raises its own opaque CAST_INVALID_INPUT mid-job, and under non-ANSI
    it silently NULLs — try_cast gives NULL in both modes so the branch
    below is the single, clearly-messaged error path regardless of
    session config. A NULL-producing cast (string 'doc-123') would
    otherwise flow on as NULL — connected_components would return an
    empty labels frame ("zero duplicate clusters" with no error) — and
    a TRUNCATING cast (double 1.2 and 1.7 both -> 1) would silently merge
    distinct nodes. The round-trip-through-double equality check catches
    truncation for every numeric input type (both sides pass through the
    same double conversion, so >2^53 longs compare equal to themselves).
    """
    raw = F.col(c)
    casted = raw.try_cast("long")
    bad = raw.isNotNull() & (
        casted.isNull()
        | (casted.cast("double") != raw.cast("double"))
    )
    return F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(
                    f"{op}: node id does not cast losslessly to long "
                    "(use a numeric surrogate id): "
                ),
                raw.cast("string"),
            )
        ).cast("long"),
    ).otherwise(casted)


def connected_components(edges: DataFrame) -> DataFrame:
    """Label each node of the undirected (id_a, id_b) graph ``edges`` with
    the minimum node id in its connected component. Returns (id, comp)
    for every node that appears in at least one edge (isolated nodes
    never enter the frame — by construction they are singleton
    clusters). Self-loops are ignored; duplicate / reversed edges are
    deduped.

    Raises RuntimeError if 50 rounds do not converge (fail loudly rather
    than return a partial clustering) — with pointer jumping, 50 rounds
    covers graphs astronomically deeper than any real dedup output.

    Node ids must cast losslessly to long (min-label propagation needs a
    totally ordered numeric id). A non-castable id (e.g. a string
    'doc-123' or UUID) raises inside the first job rather than silently
    casting to NULL and returning an empty clustering — callers with
    string ids should ``zipWithIndex``/``monotonically_increasing_id``
    a numeric surrogate first. Edges with a NULL endpoint are dropped
    (a pair list never legitimately contains them).
    """

    e = (
        edges.select(
            _as_long("id_a", "connected_components").alias("a"),
            _as_long("id_b", "connected_components").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    # symmetrize by exploding both directions out of ONE pass — a
    # self-union (e ∪ reversed(e)) would evaluate the upstream edge
    # subtree twice, and edge sources are typically the expensive part
    # of a dedup pipeline (measured 2x on the exact-cosine edge source)
    sym = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
        .localCheckpoint(eager=True)
    )

    labels = (
        sym.select(F.col("a").alias("id")).distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    for _ in range(50):
        # 1. neighbor step, FUSED: neighbor label candidates UNION each
        # node's own label, then one groupBy-min. Replaces the groupBy +
        # left-join-back shape (min over neighbors, then join onto
        # labels) with a single partial-agg shuffle — the union's map
        # side pre-mins before the exchange, and the self branch makes
        # the left join's coalesce unnecessary. Measured 3.4s vs 5.6s
        # cold / 2.8s vs 3.4s warm on the sf0.1 near-dup graph, identical
        # labels, same round count.
        nbr = (
            sym.join(
                labels.select(F.col("id").alias("b"),
                              F.col("comp").alias("_c")),
                "b",
            )
            .select(F.col("a").alias("id"), "_c")
        )
        # the round's label frame is LAZY-checkpointed below: it
        # materializes (and persists) during the convergence aggregate
        # instead of paying a dedicated eager job each round — measured
        # 2x on a 3000-node path. (`stepped` is deliberately NOT
        # checkpointed even though the pointer jump references it twice:
        # a per-round persist of the intermediate costs more than the
        # duplicated neighbor join saves — measured 11.1s vs 6.3s.)
        stepped = (
            nbr.unionByName(
                labels.select("id", F.col("comp").alias("_c"))
            )
            .groupBy("id")
            .agg(F.min("_c").alias("comp"))
        )
        # 2. pointer jump: comp <- comp[comp] (comp is always a node id).
        # Exactly ONE jump per round: a second jump (comp <- comp[comp]
        # again before the checkpoint) saves ~1 round of convergence but
        # its extra self-join references the un-checkpointed round
        # subtree again, and the duplicated lineage compounds across
        # rounds — measured 37.2s vs 5.9s on the sf0.1 near-dup graph
        # (920 edges). Don't retry.
        parents = stepped.select(F.col("id").alias("_pid"),
                                 F.col("comp").alias("_pcomp"))
        labels = (
            stepped.join(parents, stepped["comp"] == parents["_pid"], "left")
            .select(
                "id",
                F.coalesce(F.col("_pcomp"), F.col("comp")).alias("comp"),
            )
            .localCheckpoint(eager=False)
        )
        # (two more shapes measured NO better on the sf0.1 near-dup graph,
        # interleaved min-of-3: convergence-check every 2nd round — 3.73 s
        # vs 3.58 s, one extra round; and a lazy jump-ONLY compression
        # round fused after each neighbor round — 4.42 s, 10 collects vs
        # 11, the extra self-join outweighs the saved rounds. Don't retry.)
        # decimal(38,0) sum: comp is monotone non-increasing per node, so
        # an unchanged TRUE sum means a fixed point — but an int64 sum
        # over billions of long ids could wrap (non-ANSI mode wraps
        # silently) and alias two different label states. 38 digits
        # cannot wrap for any physical graph (< 1e19 nodes x 1e19 ids).
        agg = labels.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).collect()[0]
        if agg["s"] == prev_sum:
            return labels
        prev_sum = agg["s"]
    raise RuntimeError(
        "connected_components did not converge in 50 rounds"
    )


def cluster_assignments(edges: DataFrame, id_alias: str = "doc_id") -> DataFrame:
    """Components + cluster sizes in one result: (id_alias, cluster_id,
    cluster_size), the grain a dedup pipeline joins back onto the corpus
    to pick keepers / drop members. Every clustered node has size >= 2
    (singletons never appear in the edge list)."""
    comp = connected_components(edges)
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "comp").select(
        F.col("id").alias(id_alias),
        F.col("comp").alias("cluster_id"),
        "cluster_size",
    )
