"""Physical-plan audit: dump `.explain("formatted")` for the headline
queries and assert the plan properties the scale design depends on
(PushedFilters reaching the parquet scan, pruned ReadSchema, broadcast
joins on small dims, WholeStageCodegen around non-UDF stages, no
input-side shuffle before extraction). Writes PLANS.md.

Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import pathlib
import sys
from contextlib import redirect_stdout

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# (query name, properties that MUST appear, properties that must NOT)
CHECKS = {
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
        "must_not": [],
        "note": "extraction runs straight off the scan: no Exchange between "
                "the parquet scan and MapInArrow (per-turn independence)",
    },
    "dedup_exact": {
        "must": ["HashAggregate", "sha2", "hashpartitioning(_groupingexpression"],
        "must_not": [],
        "note": "shuffle key is the 32-byte sha2, never the document bytes; "
                "partial aggregation runs map-side",
        "optional": True,
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
}


def _build_spandedup(spark, sf_dir):
    from docling_api_spark.operators.spandedup import remove_duplicated_spans

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return remove_duplicated_spans(d, "doc_id", "text", k=20)


def _build_pagerank_iter(spark, sf_dir):
    from pyspark.sql import functions as F

    from docling_api_spark.operators.pagerank import pagerank

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = d.select(
        F.pmod("doc_id", F.lit(50)).alias("src"),
        F.pmod(F.col("doc_id") * 7, F.lit(37)).alias("dst"),
    ).filter("src != dst")
    # one un-checkpointed iteration exposes the full lazy plan
    return pagerank(edges, n_iter=1, cut_lineage=False)


def _build_profile(spark, sf_dir):
    from docling_api_spark.operators.profile import corpus_profile

    return corpus_profile(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def _build_dsir(spark, sf_dir):
    from pyspark.sql import functions as F

    from docling_api_spark.operators.dsir import dsir_select

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return dsir_select(
        d, d.filter("doc_id % 7 = 0"), d.filter("doc_id % 7 = 1"), k=100
    )


def _build_c4_clean(spark, sf_dir):
    from docling_api_spark.operators.heuristics import c4_clean_lines

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return c4_clean_lines(d)


def _build_global_shuffle(spark, sf_dir):
    from docling_api_spark.operators.ordering import global_shuffle

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return global_shuffle(d, ["doc_id"])


def _build_domain_policy(spark, sf_dir):
    from docling_api_spark.operators.domains import (
        apply_domain_policy, domain_policy, domain_stats)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    pol = domain_policy(domain_stats(d), min_docs=2, max_dup_rate=0.5)
    return apply_domain_policy(d, pol)


def _build_lm_score(spark, sf_dir):
    from docling_api_spark.operators.lm import score_lm, train_lm

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    model = train_lm(d.filter("doc_id % 2 = 0"), n_buckets=1 << 12)
    return score_lm(d, *model)


def _build_nb_score(spark, sf_dir):
    from pyspark.sql import functions as F

    from docling_api_spark.operators.classifier import nb_score, nb_train

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    seed = d.select(
        "doc_id", "text",
        F.when(F.col("doc_id") % 2 == 0, "good").otherwise("junk")
        .alias("label"),
    )
    weights, meta = nb_train(seed, positive="good", n_buckets=1 << 12)
    return nb_score(d, weights, meta)


# pytest-only operators (registry held at 50): audited by building the
# DataFrame directly instead of through entry.queries()
EXTRA_CHECKS = {
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
    "lm_perplexity_score": {
        "build": _build_lm_score,
        "must": ["BroadcastHashJoin", "Generate", "HashAggregate"],
        "must_not": ["SortMergeJoin", "CartesianProduct"],
        "note": "both LM tables (bigram lp + context miss lp, bounded by "
                "the reference corpus / hashed vocab) BROADCAST into the "
                "corpus bigram stream — the KenLM ship-the-model posture; "
                "ONE exchange on doc_id for the per-document sums",
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
                "three report aggregations run over its materialization, "
                "never the corpus",
    },
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entry

    from docling_api_spark.session import get_spark

    # AQE disabled HERE ONLY so the static formatted plan carries the
    # `[codegen id : N]` annotations (AdaptiveSparkPlan hides them until
    # execution); production sessions run with AQE on (session.py).
    spark = get_spark(app_name="explain_audit", master="local[4]",
                      shuffle_partitions=4,
                      extra_conf={"spark.sql.adaptive.enabled": "false"})
    q = entry.queries()

    sections = []
    failures = []
    all_checks = dict(CHECKS)
    all_checks.update(EXTRA_CHECKS)
    for name, spec in all_checks.items():
        if "build" in spec:
            plan = plan_of(spec["build"](spark, sf_dir))
        else:
            plan = plan_of(q[name](spark, sf_dir))
        verdicts = []
        for frag in spec["must"]:
            ok = frag in plan
            verdicts.append(f"- {'PASS' if ok else 'FAIL'}: plan contains `{frag}`")
            if not ok:
                failures.append((name, frag))
        for frag in spec["must_not"]:
            ok = frag not in plan
            verdicts.append(f"- {'PASS' if ok else 'FAIL'}: plan does NOT contain `{frag}`")
            if not ok:
                failures.append((name, f"NOT {frag}"))
        sections.append(
            f"## {name}\n\n{spec['note']}.\n\n" + "\n".join(verdicts)
            + f"\n\n```\n{plan.strip()}\n```\n"
        )

    md = (
        "# PLANS — physical-plan audit of the headline queries\n\n"
        "Generated by `scripts/explain_audit.py` (re-run any time). Each\n"
        "section asserts the plan properties the 100 TB design depends on —\n"
        "predicate pushdown into the parquet scan, column pruning, broadcast\n"
        "joins for small dims, whole-stage codegen around non-UDF stages, and\n"
        "no input-side shuffle before extraction. Plans are rendered with AQE\n"
        "disabled so `[codegen id : N]` annotations are visible in the static\n"
        "plan; production sessions run with AQE + skew-join handling on\n"
        "(docling_api_spark/session.py).\n\n"
        + "\n".join(sections)
    )
    (REPO / "PLANS.md").write_text(md)
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all plan checks passed; PLANS.md written "
          f"({len(all_checks)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
