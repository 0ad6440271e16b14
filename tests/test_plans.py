"""Physical-plan properties the scale design rests on, asserted on the
static plans over the sf0.001 test data: predicates pushed into the
parquet scan, pruned scans, broadcast joins for small sides, whole-stage
codegen around non-UDF stages, and no Exchange between the scan and
extraction (the registry queries, a few pytest-only operators, and the
production `cli run` / `cli corpus` plans)."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from tests.conftest import TESTDATA

SF = str(TESTDATA / "sf0.001")
DOCS = f"{SF}/documents.parquet"


@pytest.fixture(scope="module")
def static_spark(spark):
    # AQE off in THIS module only, so the formatted plan is the static one
    # and carries its `[codegen id : N]` annotations (AdaptiveSparkPlan
    # hides them until execution); every other test runs with session.py's
    # AQE on
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def plan_of(df) -> str:
    """The formatted physical plan (codegen ids, each node's Arguments),
    then the simple one, whose one-line nodes carry their partitioning, so
    a fragment can name a node with it (`Exchange hashpartitioning`)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
        df.explain()
    return buf.getvalue()


def exchange_nodes(plan: str) -> int:
    """Exchange-named nodes (Exchange, BroadcastExchange, ReusedExchange)
    in the formatted plan's node list."""
    return len(re.findall(r"^\(\d+\) \w*Exchange", plan, re.M))


def checkpointed_plans(monkeypatch) -> list[str]:
    """Record the plan of every frame ``localCheckpoint``-ed from here on,
    taken before the checkpoint cuts it. The classic DataFrame is the
    class whose method runs; patching ``pyspark.sql.DataFrame`` catches
    no call."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans, real = [], DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(plan_of(self))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    return plans


def _build_spandedup(spark, monkeypatch):
    from docling_api_spark.operators.spandedup import remove_duplicated_spans

    d = spark.read.parquet(DOCS).select("doc_id", "text")
    return plan_of(remove_duplicated_spans(d, "doc_id", "text", k=20))


def _build_pagerank_iter(spark, monkeypatch):
    from docling_api_spark.operators.pagerank import pagerank

    d = spark.read.parquet(DOCS)
    edges = d.select(
        F.pmod("doc_id", F.lit(50)).alias("src"),
        F.pmod(F.col("doc_id") * 7, F.lit(37)).alias("dst"),
    ).filter("src != dst")
    plans = checkpointed_plans(monkeypatch)
    pagerank(edges, n_iter=1)
    # nodes, node outdegrees, initial ranks, then the one iteration
    assert len(plans) == 4
    return plans[-1]


def _build_profile(spark, monkeypatch):
    from docling_api_spark.operators.profile import corpus_profile

    return plan_of(corpus_profile(spark.read.parquet(DOCS)))


def _build_dsir(spark, monkeypatch):
    from docling_api_spark.operators.dsir import dsir_select

    d = spark.read.parquet(DOCS).select("doc_id", "text")
    return plan_of(dsir_select(
        d, d.filter("doc_id % 7 = 0"), d.filter("doc_id % 7 = 1"), k=100
    ))


def _build_c4_clean(spark, monkeypatch):
    from docling_api_spark.operators.heuristics import c4_clean_lines

    d = spark.read.parquet(DOCS).select("doc_id", "text")
    return plan_of(c4_clean_lines(d))


def _build_global_shuffle(spark, monkeypatch):
    from docling_api_spark.operators.ordering import global_shuffle

    d = spark.read.parquet(DOCS).select("doc_id", "text")
    return plan_of(global_shuffle(d, ["doc_id"]))


def _build_domain_policy(spark, monkeypatch):
    from docling_api_spark.operators.domains import (
        apply_domain_policy, domain_policy, domain_stats)

    d = spark.read.parquet(DOCS).select("doc_id", "text", "source")
    pol = domain_policy(domain_stats(d), min_docs=2, max_dup_rate=0.5)
    return plan_of(apply_domain_policy(d, pol))


def _build_nb_score(spark, monkeypatch):
    from docling_api_spark.operators.classifier import nb_score, nb_train

    d = spark.read.parquet(DOCS).select("doc_id", "text")
    seed = d.select(
        "doc_id", "text",
        F.when(F.col("doc_id") % 2 == 0, "good").otherwise("junk")
        .alias("label"),
    )
    weights, meta = nb_train(seed, positive="good", n_buckets=1 << 12)
    return plan_of(nb_score(d, weights, meta))


# plan name -> fragments the plan must / must not contain, and what that
# asserts. A plan with no "build" is the `__spark_entry__.queries()`
# entry of that name; "build" plans pytest-only operators directly (the
# registry is held at its 50 slots).
PLANS = {
    "q1_pricing_summary": {
        "must": ["PushedFilters: [IsNotNull(l_shipdate)", "codegen id",
                 "HashAggregate"],
        "must_not": [],
        "note": "filter pushed to parquet scan; two-phase (partial+final) hash "
                "aggregate; scan reads only the 7 referenced columns",
    },
    "j1_fk_rollup_join": {
        "must": ["BroadcastHashJoin", "codegen id"],
        "must_not": ["SortMergeJoin"],
        "note": "small dimension broadcast — no shuffle of the fact side for "
                "the join itself",
    },
    "j2_point_lookup": {
        "must": ["PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,42)]"],
        "must_not": ["Exchange"],
        "note": "point predicate reaches the scan (row-group min/max pruning "
                "at scale); no shuffle anywhere",
    },
    "extract_documents": {
        "must": ["MapInArrow"],
        "must_not": ["Exchange"],
        "note": "extraction runs straight off the scan: no Exchange between "
                "the parquet scan and MapInArrow (per-turn independence)",
    },
    "dedup_exact": {
        "must": ["HashAggregate", "sha2", "hashpartitioning(content_hash"],
        "must_not": ["min_by"],
        "note": "shuffle key is the 32-byte sha2, never the document bytes; "
                "partial aggregation runs map-side; the keeper rule's "
                "min_by text carry is pruned, the query never reads it",
    },
    "w2_turn_ordering": {
        "must": ["Window", "hashpartitioning(user_id"],
        "must_not": [],
        "note": "single shuffle on the partition key, sort within partitions "
                "only (no global sort)",
    },
    "sim_cosine_topk": {
        "must": ["BroadcastNestedLoopJoin"],
        "must_not": [],
        "note": "query side broadcast; corpus scanned once; per-query top-k "
                "via windowed rank on the (small) scored side",
    },
    "extract_doc_json": {
        "must": ["MapInArrow"],
        "must_not": ["Exchange"],
        "note": "json-gated extraction is scan -> MapInArrow -> project: no "
                "shuffle anywhere in the job",
    },
    "tier_usage_pricing": {
        "must": ["BroadcastHashJoin", "HashAggregate"],
        "must_not": ["SortMergeJoin"],
        "note": "the literal tiers table broadcasts into the per-user-minute "
                "rollup; both aggregations partial-agg map-side",
    },
    "dedup_minhash_lsh": {
        "must": ["HashAggregate", "Generate"],
        "must_not": ["CartesianProduct"],
        "note": "explode -> map-side-combined 16-min signature agg -> banded "
                "bucket join; pair expansion only inside buckets (chain for "
                "oversized ones) — never an all-pairs product",
    },
    "skew_salted_rollup": {
        "must": ["BroadcastHashJoin LeftOuter", "HashAggregate"],
        "must_not": ["SortMergeJoin", "CartesianProduct"],
        "note": "two-pass skew shuffle: the (tiny) heavy-key set broadcasts "
                "into the salting join; the per-(conv, block) partial agg and "
                "the final per-conv agg are both hash aggregates — no single "
                "reducer ever materializes a whole heavy conversation",
    },
    "dedup_embedding_lsh": {
        "must": ["Generate", "MapInPandas", "ReusedExchange"],
        "must_not": ["CartesianProduct"],
        "note": "the 8-table explode carries only (id, bucket) — the float "
                "vectors join back by id AFTER candidate dedup (the vb side "
                "reuses the va exchange: one corpus vector scan); score + "
                "threshold are fused in a single mapInPandas verify stage",
    },
    "join_temporal": {
        "must": ["Union", "hashpartitioning(user_id", "Window"],
        "must_not": ["SortMergeJoin", "CartesianProduct",
                     "BroadcastNestedLoopJoin"],
        "note": "as-of + 10-minute range count via the union + window trick: "
                "ONE shuffle on user_id (the single mid-plan Exchange) feeds "
                "all three window passes over the same sort order — no join "
                "operator, no per-pair expansion, no per-key Python",
    },
    "dedup_cc_clusters": {
        "must": ["HashAggregate"],
        "must_not": ["CartesianProduct"],
        "note": "connected components converges OUTSIDE this final plan "
                "(O(log n) label-propagation + pointer-jumping rounds, each "
                "localCheckpointed so lineage stays bounded); the visible "
                "plan is just labels ⋈ per-cluster sizes — the per-round "
                "shuffles are each a single hash partition on the node id",
    },
    "decontaminate_ngrams": {
        "must": ["BroadcastHashJoin", "Generate"],
        "must_not": ["SortMergeJoin", "CartesianProduct"],
        "note": "eval-set grams (the small side by construction) broadcast; "
                "training grams explode map-side straight into the broadcast "
                "hash join — the 100 TB corpus' n-grams are never shuffled, "
                "only the per-doc hit counts are",
    },
    "spandedup_remove_duplicated_spans": {
        "build": _build_spandedup,
        "must": ["BroadcastHashJoin", "Generate", "MapInArrow"],
        "must_not": ["CartesianProduct", "SortMergeJoin"],
        "note": "the duplicated-hash set (groupBy output) BROADCASTS into "
                "the O(corpus-tokens) window stream — the window rows are "
                "never shuffled for the join-back; only docs that actually "
                "contain cross-doc spans reach the Arrow cutter; clean docs "
                "union back JVM-side",
    },
    "classifier_nb_score": {
        "build": _build_nb_score,
        "must": ["BroadcastHashJoin", "Generate", "HashAggregate"],
        "must_not": ["SortMergeJoin", "CartesianProduct"],
        "note": "the hashed-feature weight table (bounded by n_buckets) "
                "BROADCASTS into the corpus token stream: scan -> hash -> "
                "explode -> broadcast left join -> partial agg -> ONE "
                "exchange on doc_id; the seed-corpus training subtree is "
                "small by construction",
    },
    "domain_policy_apply": {
        "build": _build_domain_policy,
        "must": ["BroadcastHashJoin", "HashAggregate", "sha2"],
        "must_not": ["SortMergeJoin", "CartesianProduct"],
        "note": "domain stats are ONE partial-agg groupBy on the domain "
                "key (text dedups via 32-byte sha2 inside the agg, never "
                "shuffles); the per-domain verdict table (#domains rows) "
                "BROADCASTS back onto the corpus",
    },
    "dsir_select": {
        "build": _build_dsir,
        "must": ["TakeOrderedAndProject", "BroadcastHashJoin"],
        "must_not": ["SortMergeJoin", "CartesianProduct"],
        "note": "Gumbel-top-k selection is per-partition heaps + a "
                "k-row driver merge (TakeOrderedAndProject) on top of "
                "the classifier's broadcast scoring pass — never a "
                "corpus-wide sort",
    },
    "c4_clean_lines": {
        "build": _build_c4_clean,
        "must": ["Project"],
        "must_not": ["Exchange", "ArrowEvalPython", "BatchEvalPython",
                     "Generate"],
        "note": "the whole C4 rule set is ONE shuffle-free codegen "
                "projection (HOF filters over split('\\n')) — no Python, "
                "no explode; it fuses into whatever scan feeds it",
    },
    "ordering_global_shuffle": {
        "build": _build_global_shuffle,
        "must": ["Exchange", "Sort", "Window"],
        "must_not": ["rangepartitioning", "CartesianProduct"],
        "note": "deterministic training-order shuffle is ONE hash "
                "exchange on the shard id + a per-shard sort — never the "
                "range-partitioned global orderBy (which would add a "
                "sampling pass and a driver-computed range table)",
    },
    "curation_group_split": {
        "must": ["md5"],
        "must_not": ["Exchange hashpartitioning", "ArrowEvalPython",
                     "BatchEvalPython", "CartesianProduct"],
        "note": "leakage-free source-grain split is a pure codegen md5 "
                "projection — no shuffle in the assignment itself (the "
                "only exchange is the presentation orderBy), no Python",
    },
    "curation_chunk_documents": {
        "must": ["Generate"],
        "must_not": ["Exchange hashpartitioning", "ArrowEvalPython",
                     "BatchEvalPython", "CartesianProduct"],
        "note": "token-window chunking is one JVM HOF explode chain "
                "(split -> sequence -> explode -> slice) straight off the "
                "scan — shard-local, shuffle-free, no Python",
    },
    "curation_domain_stats": {
        "must": ["HashAggregate", "sha2"],
        "must_not": ["SortMergeJoin", "CartesianProduct",
                     "ArrowEvalPython", "BatchEvalPython"],
        "note": "domain rollup is ONE partial-agg groupBy on the domain "
                "key; within-domain dup detection rides the agg as a "
                "32-byte sha2 distinct-count — the document text never "
                "shuffles",
    },
    "curation_mixture": {
        "must": ["BroadcastHashJoin", "Generate", "md5"],
        "must_not": ["SortMergeJoin", "CartesianProduct",
                     "ArrowEvalPython", "BatchEvalPython"],
        "note": "mixture materialization is a BROADCAST join of the tiny "
                "rate plan + one explode(sequence) epoch fan-out + a "
                "codegen md5 fractional-epoch filter — the corpus never "
                "shuffles for the mix itself (the only exchanges are the "
                "per-source count rollup and the audit rollup)",
    },
    "pagerank_iteration": {
        "build": _build_pagerank_iter,
        "must": ["BroadcastNestedLoopJoin", "HashAggregate"],
        "must_not": ["CartesianProduct"],
        "note": "one power iteration = contribution join + ONE partial-agg "
                "long-sum on dst, with the dangling-mass scalar folded in "
                "as a broadcast 1-row aggregate (BroadcastNestedLoopJoin) — "
                "no driver collect inside the loop; per iteration only the "
                "rank vector shuffles, the edge table stays partitioned",
    },
    "corpus_funnel": {
        "must": ["sha2", "HashAggregate"],
        "must_not": ["CartesianProduct", "ArrowEvalPython",
                     "BatchEvalPython"],
        "note": "the production composition's only post-extraction "
                "shuffle: a sha-keyed partial-agg keeper groupBy joined "
                "back onto the (checkpointed once) annotated frame — "
                "extraction/C4/quality/split all fused upstream of the "
                "checkpoint, asserted by their own sections",
    },
    "dedup_index_matches": {
        "must": ["sha2", "HashAggregate"],
        "must_not": ["CartesianProduct", "ArrowEvalPython",
                     "BatchEvalPython"],
        "note": "cross-snapshot matching joins the NEW snapshot's 32-byte "
                "shas against the committed signature index — the "
                "committed corpus text is never re-read, only the compact "
                "index flows into the join",
    },
    "corpus_profile": {
        "build": _build_profile,
        "must": ["Project", "sha2"],
        "must_not": ["Exchange", "CartesianProduct"],
        "note": "the corpus-card stats frame is ONE shuffle-free projection "
                "that drops the text column (~50 bytes/doc survives); the "
                "card's one aggregation query (cli report and the "
                "registry's corpus_profile) runs over its materialization, "
                "never the corpus",
    },
}


@pytest.mark.parametrize("name", sorted(PLANS))
def test_plan_properties(static_spark, monkeypatch, name):
    import __spark_entry__ as entry

    spec = PLANS[name]
    if "build" in spec:
        plan = spec["build"](static_spark, monkeypatch)
    else:
        plan = plan_of(entry.queries()[name](static_spark, SF))
    missing = [f for f in spec["must"] if f not in plan]
    present = [f for f in spec["must_not"] if f in plan]
    assert not missing and not present, (
        f"{name}: {spec['note']}\nmissing {missing}, present {present}\n{plan}"
    )


def test_run_and_compact_plans_have_no_exchange(static_spark, tmp_path,
                                                monkeypatch):
    """`cli run` is one stage per task (scan -> MapInArrow -> write) on a
    fresh run, a partial run and its resume; `compact` rewrites the
    committed view with no exchange either."""
    from docling_api_spark.gen import transcripts_df
    from docling_api_spark.plans import pipeline

    src, out = str(tmp_path / "transcripts"), str(tmp_path / "out")
    transcripts_df(static_spark, 40, partitions=4).write.parquet(src)
    transcripts = static_spark.read.parquet(src)
    written, real_write_run = [], pipeline.write_run

    def spy_write_run(spark, output_dir, df, run_id):
        written.append(plan_of(df))
        return real_write_run(spark, output_dir, df, run_id)

    monkeypatch.setattr(pipeline, "write_run", spy_write_run)
    pipeline.run_extraction(static_spark, transcripts, str(tmp_path / "fresh"),
                            n_buckets=8)
    pipeline.run_extraction(static_spark, transcripts, out, n_buckets=8,
                            limit_buckets=3)
    pipeline.run_extraction(static_spark, transcripts, out, n_buckets=8)
    pipeline.compact(static_spark, out)

    *extractions, compaction = written
    assert len(extractions) == 3
    for plan in extractions:
        assert "MapInArrow" in plan and "Scan parquet" in plan, plan
        assert "Exchange" not in plan, plan
    assert "Exchange" not in compaction, compaction


# `build_training_examples` on the input below at local[8], AQE off, as
# last measured: 8 localCheckpoint calls, and 34 Exchange-named nodes
# across their plans plus 1 in `annotated` (the per-content verdict
# table labels representatives from one keeper-label join, with no
# cluster-size join). Upper bounds only: ROADMAP item 4 (fewer Spark
# jobs per `cli corpus` pass) lowers them.
CORPUS_CHECKPOINTS = 8
CORPUS_EXCHANGES = 35


def test_corpus_plan_shape_is_bounded(static_spark, monkeypatch):
    from docling_api_spark.plans.corpus_pipeline import (
        build_training_examples,
    )

    docs = static_spark.read.parquet(DOCS).select("doc_id", "text")
    plans = checkpointed_plans(monkeypatch)
    annotated, _, _ = build_training_examples(
        static_spark, docs, docs.filter("doc_id % 50 = 0"), ctx_len=64
    )
    annotated_plan = plan_of(annotated)
    assert "Exchange hashpartitioning" not in annotated_plan, annotated_plan
    assert len(plans) <= CORPUS_CHECKPOINTS
    assert sum(map(exchange_nodes, plans + [annotated_plan])) \
        <= CORPUS_EXCHANGES


def test_shuffle_partitions_follow_master(spark):
    # conftest builds local[8] without naming a partition count
    assert spark.sparkContext.getConf().get(
        "spark.sql.shuffle.partitions") == "8"
