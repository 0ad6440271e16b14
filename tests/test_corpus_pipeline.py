"""Wiring tests for the end-to-end training-corpus builder
(plans/corpus_pipeline.py). Stage SEMANTICS are oracle-tested in each
operator's own module; here we verify the composition: funnel
arithmetic, flag consistency on injected known cases (an exact copy, a
near-dup, an eval-set leak), split/chunk/pack integrity, and totality
under a gate that drops everything."""

from __future__ import annotations

from pyspark.sql import functions as F

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _corpus(spark):
    """sf0.001 documents + three injected documents with known verdicts:
    10001 = byte-identical copy of doc 1 (exact dup), 10002 = doc 2's
    payload with a word appended (near dup), 10003 = unique text that IS
    the eval set (contamination)."""
    d = spark.read.parquet(DOCS).select("doc_id", "text")
    base1 = d.filter(F.col("doc_id") == 1).select("text").collect()[0][0]
    base2 = d.filter(F.col("doc_id") == 2).select("text").collect()[0][0]
    leak = " ".join(f"leakword{i}" for i in range(40))
    injected = spark.createDataFrame(
        [
            (10001, base1),
            (10002, base2 + " appendix"),
            (10003, leak),
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(90001, leak)], "doc_id long, text string"
    )
    return d.unionByName(injected), eval_docs


def test_funnel_flags_and_examples(spark):
    from docling_api_spark.plans.corpus_pipeline import (
        build_training_examples,
    )

    docs, eval_docs = _corpus(spark)
    annotated, examples, funnel = build_training_examples(
        spark, docs, eval_docs, ctx_len=64, stride=48,
        quality_floor=0.0, near_threshold=0.25,
    )

    # --- funnel arithmetic (one aggregation, self-consistent) ---
    assert funnel["n_input"] == docs.count()
    assert funnel["n_input"] >= funnel["n_extracted"] >= funnel["n_quality"]
    assert funnel["n_kept"] == (
        funnel["n_quality"]
        - funnel["n_exact_dropped"]
        - funnel["n_near_dropped"]
        - funnel["n_snapshot_dropped"]
        - funnel["n_contaminated"]
    )
    assert funnel["n_snapshot_dropped"] == 0  # no index passed
    assert funnel["n_kept"] == (
        funnel["n_train"] + funnel["n_val"] + funnel["n_test"]
    )
    assert funnel["n_exact_dropped"] >= 1
    assert funnel["n_near_dropped"] >= 1
    assert funnel["n_contaminated"] >= 1

    # --- injected verdicts ---
    by_id = {
        r["doc_id"]: r
        for r in annotated.filter(F.col("doc_id") >= 10000).collect()
    }
    a = by_id[10001]  # byte-identical copy of doc 1
    assert a["is_exact_dup"] and a["exact_keeper"] == 1
    assert not a["final_keep"]
    b = by_id[10002]  # near-dup of doc 2
    assert b["is_near_dup"] and b["cluster_id"] == 2
    assert not b["is_exact_dup"] and not b["final_keep"]
    c = by_id[10003]  # the eval-set leak
    assert c["contaminated"] and not c["final_keep"]
    assert not c["is_exact_dup"] and not c["is_near_dup"]
    # flags are mutually consistent everywhere: near-dup only on exact
    # keepers; any flag forces final_keep false
    bad = annotated.filter(
        (F.col("is_near_dup") & (F.col("exact_keeper") != F.col("doc_id")))
        | (
            F.col("final_keep")
            & (
                F.col("is_exact_dup")
                | F.col("is_near_dup")
                | F.col("contaminated")
                | ~F.col("ok_quality")
            )
        )
    ).count()
    assert bad == 0

    # --- examples: train-split keepers only, fully covered, bins valid ---
    kept_train = {
        r["doc_id"]
        for r in annotated.filter(
            F.col("final_keep") & (F.col("split") == "train")
        ).collect()
    }
    ex = examples.collect()
    assert {r["doc_id"] for r in ex} == kept_train
    assert funnel["n_chunks"] == len(ex)
    # chunk coverage: disjoint-prefix tokens reconstruct each doc's count
    tok_counts = {
        r["doc_id"]: r["n_extracted_tokens"]
        for r in annotated.filter(F.col("doc_id").isin(list(kept_train)))
        .collect()
    }
    per_doc: dict[int, int] = {}
    for r in ex:
        per_doc[r["doc_id"]] = max(
            per_doc.get(r["doc_id"], 0), r["token_start"] + r["n_tokens"]
        )
    assert per_doc == tok_counts
    # bin budget: sum of chunk tokens per (shard, bin) <= ctx_len unless
    # the bin is a single flagged-oversize chunk (ctx-sized chunks can't
    # exceed ctx, so no bin may be oversize here)
    bins: dict[tuple, int] = {}
    for r in ex:
        assert not r["bin_oversize"]
        bins[(r["shard"], r["bin_idx"])] = (
            bins.get((r["shard"], r["bin_idx"]), 0) + r["n_tokens"]
        )
    assert all(v <= 64 for v in bins.values())

    # determinism: the same corpus yields the same funnel + examples
    _, ex2, funnel2 = build_training_examples(
        spark, docs, eval_docs, ctx_len=64, stride=48,
        quality_floor=0.0, near_threshold=0.25,
    )
    assert funnel2 == funnel
    assert sorted(map(tuple, ex)) == sorted(map(tuple, ex2.collect()))


def test_cluster_labels_equal_full_graph_components(spark):
    """annotate_corpus runs connected components over the exact
    REPRESENTATIVES only and propagates the labels through the keepers;
    every gated doc's cluster_id must equal its min-label component over
    the full graph (exact-copy stars + verified near pairs) of the gated
    extracted texts, and be NULL when the doc is in no edge. The input
    adds byte-identical copies under new ids (the docs_dup input of
    scripts/package_check.sh), so the keeper path runs."""
    from docling_api_spark.operators.dedup import minhash_near_duplicates
    from docling_api_spark.operators.graph import connected_components
    from docling_api_spark.plans.corpus_pipeline import annotate_corpus

    d = spark.read.parquet(DOCS).select("doc_id", "text")
    copies = d.filter("doc_id < 30").selectExpr(
        "doc_id + 1000000 AS doc_id", "text")
    near_threshold = 0.25
    annotated = annotate_corpus(
        d.unionByName(copies), d.filter("doc_id % 10 = 8"),
        near_threshold=near_threshold,
    ).localCheckpoint(eager=True)
    gated = annotated.filter("ok_quality and not domain_drop")
    assert gated.filter("is_exact_dup").count() > 0
    assert gated.filter("is_near_dup").count() > 0

    full = connected_components(minhash_near_duplicates(
        gated.select("doc_id", F.col("extracted_text").alias("text")),
        near_threshold,
    ))
    comp = {r["id"]: r["comp"] for r in full.collect()}
    got = {r["doc_id"]: r["cluster_id"]
           for r in gated.select("doc_id", "cluster_id").collect()}
    assert got == {i: comp.get(i) for i in got}
    assert annotated.filter(
        "not (ok_quality and not domain_drop) and cluster_id is not null"
    ).count() == 0


def test_snapshot_index_gate(spark):
    """--index wiring: a doc byte-identical to a PREVIOUS crawl (exact
    sha in the committed signature index) and a doc near-duplicating one
    are flagged snapshot_dup and dropped; a doc that is BOTH a snapshot
    dup and an eval leak is flagged snapshot_dup ONLY (flags stay
    disjoint — the funnel arithmetic depends on it)."""
    from docling_api_spark.operators.dedup import signature_index
    from docling_api_spark.plans.corpus_pipeline import (
        build_training_examples,
    )

    docs, eval_docs = _corpus(spark)
    leak = eval_docs.collect()[0]["text"]
    old1 = docs.filter(F.col("doc_id") == 7).collect()[0]["text"]
    old2 = docs.filter(F.col("doc_id") == 8).collect()[0]["text"]
    # previous crawl: doc 7's exact payload, a near-variant of doc 8's,
    # and the eval-leak text (so doc 10003 is snapshot dup AND leak)
    prev = spark.createDataFrame(
        [
            (90101, old1),
            (90102, old2 + " trailing variant"),
            (90103, leak),
        ],
        "doc_id long, text string",
    )
    index = signature_index(prev).localCheckpoint(eager=True)

    annotated, examples, funnel = build_training_examples(
        spark, docs, eval_docs, ctx_len=64, quality_floor=0.0,
        near_threshold=0.25, snapshot_index=index,
        snapshot_threshold=0.35,
    )
    by_id = {r["doc_id"]: r for r in annotated.filter(
        F.col("doc_id").isin(7, 8, 10003)
    ).collect()}
    assert by_id[7]["snapshot_dup"] and not by_id[7]["final_keep"]
    assert by_id[8]["snapshot_dup"] and not by_id[8]["final_keep"]
    # disjointness: the eval-leak doc is snapshot-flagged, NOT contam
    assert by_id[10003]["snapshot_dup"]
    assert not by_id[10003]["contaminated"]
    assert funnel["n_snapshot_dropped"] >= 3
    assert funnel["n_kept"] == (
        funnel["n_quality"]
        - funnel["n_exact_dropped"]
        - funnel["n_near_dropped"]
        - funnel["n_snapshot_dropped"]
        - funnel["n_contaminated"]
    )
    # no flag overlap anywhere
    assert annotated.filter(
        F.col("snapshot_dup")
        & (F.col("is_exact_dup") | F.col("is_near_dup")
           | F.col("contaminated"))
    ).count() == 0
    # dropped docs never reach examples
    ex_ids = {r["doc_id"] for r in examples.collect()}
    assert not {7, 8, 10003} & ex_ids


def test_span_dedup_stage(spark):
    """span_k wiring: docs 3/5/7 get the same 30-token boilerplate tail;
    they are otherwise distinct (no doc-level dup), so only the span
    stage can cut it — keeper (min id 3) keeps it, 5 and 7 lose it."""
    from docling_api_spark.plans.corpus_pipeline import (
        build_training_examples,
    )

    boiler = " ".join(f"boilerplate{i}" for i in range(30))
    d = spark.read.parquet(DOCS).select("doc_id", "text").withColumn(
        "text",
        F.when(
            F.col("doc_id").isin(3, 5, 7),
            F.concat(F.col("text"), F.lit(" " + boiler)),
        ).otherwise(F.col("text")),
    )
    eval_docs = spark.createDataFrame(
        [(90001, "nothing contaminates here")], "doc_id long, text string"
    )

    annotated, examples, funnel = build_training_examples(
        spark, d, eval_docs, ctx_len=64, quality_floor=0.0, span_k=10
    )
    # all three survive the doc-level gates (the premise of the test)
    kept_flags = {
        r["doc_id"]: (r["final_keep"], r["split"])
        for r in annotated.filter(F.col("doc_id").isin(3, 5, 7)).collect()
    }
    assert all(keep for keep, _ in kept_flags.values())

    # funnel: the span stage reported its work (the generated corpus
    # also has NATURAL containments — whole docs embedded in lower-id
    # docs — which legitimately empty; they must be counted, not silent)
    assert funnel["n_span_docs_cut"] >= 2
    assert funnel["n_spans_cut"] >= funnel["n_span_docs_cut"]
    assert funnel["n_span_tokens_cut"] >= 2 * 30

    # train-split examples: emptied docs excluded (bounded by the funnel
    # count), the boilerplate survives ONLY in doc 3
    kept_train = {d for d, (_, s) in kept_flags.items() if s == "train"} | {
        r["doc_id"]
        for r in annotated.filter(
            F.col("final_keep") & (F.col("split") == "train")
        ).collect()
    }
    per_doc: dict[int, str] = {}
    for r in examples.collect():
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], "") + " " + \
            r["chunk_text"]
    assert set(per_doc) <= kept_train
    assert len(kept_train - set(per_doc)) <= funnel["n_span_emptied"]
    for did, (_, split) in kept_flags.items():
        if split != "train":
            continue
        assert ("boilerplate0" in per_doc.get(did, "")) == (did == 3), did

    # span_k=None leaves the funnel schema and counts untouched
    _, _, funnel_off = build_training_examples(
        spark, d, eval_docs, ctx_len=64, quality_floor=0.0
    )
    assert "n_span_docs_cut" not in funnel_off
    for k in ("n_input", "n_quality", "n_kept", "n_train"):
        assert funnel_off[k] == funnel[k]


def test_gate_that_drops_everything_is_total(spark):
    from docling_api_spark.plans.corpus_pipeline import (
        build_training_examples,
    )

    docs, eval_docs = _corpus(spark)
    annotated, examples, funnel = build_training_examples(
        spark, docs, eval_docs, ctx_len=64, quality_floor=1.1
    )
    assert funnel["n_quality"] == 0 and funnel["n_kept"] == 0
    assert funnel["n_chunks"] == 0 and examples.count() == 0
    assert annotated.count() == funnel["n_input"]


def test_domain_stage_wiring(spark):
    """Opt-in domain stage: blocklisted, dup-heavy and too-small domains
    drop wholesale BEFORE dedup — the too-small one is the NULL domain,
    whose drop verdict must gate NULL-source docs too — flags stay
    disjoint, funnel arithmetic extends by n_domain_dropped, and
    off-mode is unchanged."""
    from docling_api_spark.plans.corpus_pipeline import (
        build_training_examples,
    )

    d = spark.read.parquet(DOCS).select("doc_id", "text", "source")
    injected = spark.createDataFrame(
        [
            # blocklisted domain: two perfectly fine unique docs
            (20001, " ".join(f"evilword{i}" for i in range(50)), "evil.x"),
            (20002, " ".join(f"evilword{i}" for i in range(50, 100)),
             "evil.x"),
            # dup-heavy domain: 5 docs, 1 distinct text (dup_rate 0.8)
            *[
                (20010 + i,
                 " ".join(f"pasta{j}" for j in range(40)), "copy.pasta")
                for i in range(5)
            ],
            # NULL domain with one doc: dropped by min_docs=2
            (20020, " ".join(f"nullword{i}" for i in range(50)), None),
        ],
        "doc_id long, text string, source string",
    )
    docs = d.unionByName(injected)
    eval_docs = spark.createDataFrame(
        [(90001, "nothing leaks here at all")], "doc_id long, text string"
    )
    bl = spark.createDataFrame([("evil.x",)], "domain string")
    annotated, _, funnel = build_training_examples(
        spark, docs, eval_docs, ctx_len=64, quality_floor=0.0,
        domain_col="source", domain_blocklist=bl,
        domain_max_dup_rate=0.75, domain_min_docs=2,
    )
    flags = {
        r["doc_id"]: r
        for r in annotated.filter(F.col("doc_id") >= 20000).collect()
    }
    assert all(f["domain_drop"] for f in flags.values())
    assert flags[20020]["domain_drop"]  # the NULL-domain verdict holds
    # disjoint: a domain-dropped doc never carries a later-stage flag
    for f in flags.values():
        assert not f["is_exact_dup"] and not f["is_near_dup"]
        assert not f["contaminated"] and not f["final_keep"]
    assert funnel["n_domain_dropped"] == 8
    assert funnel["n_kept"] == (
        funnel["n_quality"]
        - funnel["n_domain_dropped"]
        - funnel["n_exact_dropped"]
        - funnel["n_near_dropped"]
        - funnel["n_snapshot_dropped"]
        - funnel["n_contaminated"]
    )

    # off-mode: no domain drops, every shared funnel key unchanged vs
    # a run over the un-injected corpus
    _, _, funnel_off = build_training_examples(
        spark, d, eval_docs, ctx_len=64, quality_floor=0.0
    )
    assert funnel_off["n_domain_dropped"] == 0
    # the injected docs all pass quality and all domain-drop, so the
    # post-domain funnel is identical to the clean-corpus run
    assert funnel_off["n_quality"] == (
        funnel["n_quality"] - funnel["n_domain_dropped"]
    )
    for k in ("n_exact_dropped", "n_near_dropped",
              "n_contaminated", "n_kept"):
        assert funnel_off[k] == funnel[k], k


def test_shuffle_shards_wiring(spark):
    """Opt-in training-order shuffle: every example gets a unique dense
    (shard, position) slot, the permutation is salt-stable, and
    off-mode leaves the examples schema untouched."""
    from docling_api_spark.plans.corpus_pipeline import (
        build_training_examples,
    )

    docs, eval_docs = _corpus(spark)
    _, ex, _ = build_training_examples(
        spark, docs, eval_docs, ctx_len=64, stride=48, quality_floor=0.0,
        shuffle_shards=4,
    )
    rows = ex.select("chunk_id", "shard", "bin_idx",
                     "order_shard", "order_pos").collect()
    # permutation is at the BIN grain: all chunks of one packed bin
    # share one slot, slots are unique per bin and dense per shard
    per_bin = {}
    for r in rows:
        per_bin.setdefault((r["shard"], r["bin_idx"]), set()).add(
            (int(r["order_shard"]), int(r["order_pos"])))
    assert all(len(s) == 1 for s in per_bin.values())
    slots = [next(iter(s)) for s in per_bin.values()]
    assert len(set(slots)) == len(per_bin)
    for s in range(4):
        poss = sorted(p for sh, p in slots if sh == s)
        assert poss == list(range(len(poss)))
    # same salt -> same permutation
    _, ex2, _ = build_training_examples(
        spark, docs, eval_docs, ctx_len=64, stride=48, quality_floor=0.0,
        shuffle_shards=4,
    )
    a = {r["chunk_id"]: (r["order_shard"], r["order_pos"]) for r in rows}
    b = {r["chunk_id"]: (r["order_shard"], r["order_pos"])
         for r in ex2.select("chunk_id", "order_shard",
                             "order_pos").collect()}
    assert a == b

    _, ex_off, _ = build_training_examples(
        spark, docs, eval_docs, ctx_len=64, stride=48, quality_floor=0.0,
    )
    assert "order_shard" not in ex_off.columns


def test_c4_stage_wiring(spark):
    """Opt-in C4 stage: line cleaning rewrites the trained text, the
    document gate folds into ok_quality with its own disjoint counter,
    and off-mode is byte-identical to before."""
    from docling_api_spark.plans.corpus_pipeline import (
        build_training_examples,
    )

    # the extraction kernel collapses single newlines inside a block and
    # separates markdown blocks with \n\n — so post-extraction, C4's
    # "line" unit is the block; the test corpus uses paragraph breaks
    good = (
        "This is a perfectly fine long sentence ending properly.\n\n"
        "cookie settings banner line that the cleaner must remove\n\n"
        "Another suitably long and properly terminated sentence here!\n\n"
        "A third long sentence keeps the page over the gate easily."
    )
    bad = ("word salad with no terminal punctuation on any line\n\n"
           "more words and still no sentence ending anywhere")
    docs = spark.createDataFrame(
        [(1, good), (2, bad), (3, good + "\n\nExtra closing line with "
                                         "plenty of words right here.")],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(9, "nothing leaks")], "doc_id long, text string")
    annotated, examples, funnel = build_training_examples(
        spark, docs, eval_docs, ctx_len=64, quality_floor=0.0, c4=True,
    )
    flags = {r["doc_id"]: r for r in annotated.collect()}
    assert funnel["n_c4_dropped"] == 1
    assert flags[2]["c4_drop"] and not flags[2]["ok_quality"]
    assert not flags[1]["c4_drop"] and flags[1]["ok_quality"]
    # the boilerplate line is gone from the text every later stage sees
    assert "cookie" not in flags[1]["extracted_text"]
    assert flags[2]["extracted_text"].startswith("word salad")  # audit copy
    # funnel arithmetic still closes (c4 drops live inside n_quality's
    # complement)
    assert funnel["n_kept"] == (
        funnel["n_quality"]
        - funnel["n_domain_dropped"]
        - funnel["n_exact_dropped"]
        - funnel["n_near_dropped"]
        - funnel["n_snapshot_dropped"]
        - funnel["n_contaminated"]
    )

    # off-mode: counter present but zero, text untouched
    _, _, funnel_off = build_training_examples(
        spark, docs, eval_docs, ctx_len=64, quality_floor=0.0,
    )
    assert funnel_off["n_c4_dropped"] == 0


def test_all_stages_enabled_together(spark, tmp_path):
    """The maximal recipe — C4 + domain policy + cross-snapshot index +
    span dedup + training-order shuffle all on at once: stages compose,
    the funnel closes with every counter present, and the run is
    deterministic end-to-end."""
    from docling_api_spark.operators.dedup import signature_index
    from docling_api_spark.plans.corpus_pipeline import (
        build_training_examples,
    )

    # unique tokens every 2-3 positions so no 8-gram is shared between
    # DIFFERENT ranges (a constant template would share grams with the
    # eval set and decontaminate the whole corpus)
    sent = ("Topic t%d covers idea i%d with angle a%d and detail "
            "d%d today.")
    body = lambda a, b: "\n\n".join(
        sent % (i, i, i, i) for i in range(a, b))
    shared = ("A shared boilerplate passage of exactly enough tokens "
              "to form one duplicated span across many documents easily. "
              * 2).strip()
    docs = spark.createDataFrame(
        [
            # healthy domain, unique docs; 6 of these 7 carry the
            # shared passage (doc 7 does not)
            *[(i, body(i * 10, i * 10 + 6) + "\n\n" + shared + ".",
               "good.org") for i in range(1, 7)],
            (7, body(900, 908), "good.org"),
            # C4 reject (word salad, no terminal punctuation)
            (20, "salad words no punctuation here at all\n\nstill none",
             "good.org"),
            # blocklisted domain
            (21, body(100, 106), "evil.x"),
            # exact dup pair inside the healthy domain
            (22, body(200, 206), "good.org"),
            (23, body(200, 206), "good.org"),
            # snapshot dup (same text as a previous crawl's doc)
            (24, body(300, 306), "good.org"),
            # eval leak
            (25, body(400, 406), "good.org"),
        ],
        "doc_id long, text string, source string",
    )
    prev = spark.createDataFrame(
        [(90001, body(300, 306))], "doc_id long, text string")
    eval_docs = spark.createDataFrame(
        [(80001, body(400, 406))], "doc_id long, text string")
    bl = spark.createDataFrame([("evil.x",)], "domain string")
    index = signature_index(prev).localCheckpoint(eager=True)

    def run():
        return build_training_examples(
            spark, docs, eval_docs, ctx_len=32, quality_floor=0.0,
            near_threshold=0.9,
            c4=True, c4_min_words=5, c4_min_sentences=3,
            langs=("en",), para_dedup=True,
            domain_col="source", domain_blocklist=bl,
            snapshot_index=index, snapshot_threshold=0.9,
            span_k=12, shuffle_shards=2,
        )

    annotated, examples, funnel = run()
    flags = {r["doc_id"]: r for r in annotated.collect()}
    assert flags[20]["c4_drop"] and not flags[20]["ok_quality"]
    assert flags[21]["domain_drop"]
    assert flags[23]["is_exact_dup"] and flags[23]["exact_keeper"] == 22
    assert flags[24]["snapshot_dup"]
    assert flags[25]["contaminated"]
    # every drop flag disjoint; funnel closes
    assert funnel["n_c4_dropped"] == 1
    assert funnel["n_domain_dropped"] == 1
    assert funnel["n_kept"] == (
        funnel["n_quality"] - funnel["n_domain_dropped"]
        - funnel["n_exact_dropped"] - funnel["n_near_dropped"]
        - funnel["n_snapshot_dropped"] - funnel["n_contaminated"]
    )
    assert funnel["n_span_docs_cut"] >= 1  # the shared passage was cut
    ex = examples.collect()
    assert funnel["n_chunks"] == len(ex)
    assert {"order_shard", "order_pos"} <= set(examples.columns)
    # the duplicated span survives in at most one kept doc's chunks
    span_docs = {r["doc_id"] for r in ex
                 if "shared boilerplate passage" in r["chunk_text"]}
    assert len(span_docs) <= 1

    # end-to-end determinism of the maximal recipe
    annotated2, examples2, funnel2 = run()
    assert funnel2 == funnel
    assert sorted(map(tuple, ex)) == sorted(
        map(tuple, examples2.collect()))


def test_lang_gate_wiring(spark):
    """Opt-in language gate: out-of-set docs fold into the quality gate
    with a disjoint counter; off-mode leaves everything kept."""
    from docling_api_spark.plans.corpus_pipeline import (
        build_training_examples,
    )

    docs = spark.createDataFrame(
        [
            (1, "the model and the data with the features of the run "
                "and the rest of the words in the text"),   # en
            (2, "质量 数据 模型 训练 语料 清洗 去重 分词"),        # zh
            (3, "xyzzy plugh qwerty assembler bitmask voxel"),  # und
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(9, "nothing leaks")], "doc_id long, text string")
    annotated, _, funnel = build_training_examples(
        spark, docs, eval_docs, ctx_len=32, quality_floor=0.0,
        langs=("en",),
    )
    flags = {r["doc_id"]: r for r in annotated.collect()}
    assert not flags[1]["lang_drop"] and flags[1]["ok_quality"]
    assert flags[2]["lang_drop"] and not flags[2]["ok_quality"]
    assert flags[3]["lang_drop"] and not flags[3]["ok_quality"]
    assert funnel["n_lang_dropped"] == 2
    assert funnel["n_kept"] == 1

    _, _, funnel_off = build_training_examples(
        spark, docs, eval_docs, ctx_len=32, quality_floor=0.0,
    )
    assert funnel_off["n_lang_dropped"] == 0
    assert funnel_off["n_kept"] == 3


def test_para_dedup_stage(spark):
    """Opt-in in-document paragraph dedup: a rewrite (never a drop) that
    runs before every gate; repeated blocks vanish from the trained
    text, the funnel sums the cuts, off-mode reports zero."""
    from docling_api_spark.plans.corpus_pipeline import (
        build_training_examples,
    )

    menu = "Home About Products Contact Careers."
    body = ("A first proper sentence with plenty of words sits here.\n\n"
            + menu + "\n\n"
            "A second proper sentence with plenty of words follows!\n\n"
            + menu + "\n\n"
            "A third proper sentence with plenty of words closes it.")
    docs = spark.createDataFrame(
        [(1, body), (2, "One unique ordinary document with words.")],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(9, "nothing leaks")], "doc_id long, text string")
    annotated, _, funnel = build_training_examples(
        spark, docs, eval_docs, ctx_len=64, quality_floor=0.0,
        para_dedup=True,
    )
    flags = {r["doc_id"]: r for r in annotated.collect()}
    # post-extraction blocks: [s1, menu, s2, menu, s3] -> one menu cut
    assert flags[1]["n_paras_dropped"] == 1
    assert flags[1]["extracted_text"].count("Home About") == 1
    assert flags[2]["n_paras_dropped"] == 0
    assert funnel["n_paras_deduped"] == 1
    assert funnel["n_kept"] == 2  # rewrite, not a drop

    _, _, funnel_off = build_training_examples(
        spark, docs, eval_docs, ctx_len=64, quality_floor=0.0,
    )
    assert funnel_off["n_paras_deduped"] == 0


def test_oversize_cap_in_funnel(spark):
    """The per-document payload cap is a per-job option: an over-cap doc
    is an is_oversize error row counted by the funnel (n_oversize), and
    raising max_payload_chars extracts it (VERDICT r03 item 2)."""
    from docling_api_spark.plans.corpus_pipeline import (
        annotate_corpus,
        corpus_funnel,
    )

    big = "<p>" + ("Unique oversized words here. " * 3000) + "</p>"
    assert len(big) > 65_536
    docs = spark.createDataFrame(
        [(1, "<p>A normal document with plenty of words to keep.</p>"),
         (2, big)],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(9, "eval words nothing shared")], "doc_id long, text string"
    )

    annotated = annotate_corpus(docs, eval_docs, quality_floor=0.0)
    funnel = corpus_funnel(annotated)
    assert funnel["n_oversize"] == 1
    assert funnel["n_extracted"] == 1
    row = {r["doc_id"]: r for r in annotated.collect()}
    assert row[2]["is_oversize"] and row[2]["status"] == "error"
    assert not row[1]["is_oversize"]

    # raised cap: the same doc extracts and the counter drops to zero
    annotated2 = annotate_corpus(docs, eval_docs, quality_floor=0.0,
                                 max_payload_chars=len(big))
    funnel2 = corpus_funnel(annotated2)
    assert funnel2["n_oversize"] == 0
    assert funnel2["n_extracted"] == 2
    row2 = {r["doc_id"]: r for r in annotated2.collect()}
    assert row2[2]["status"] == "success"
    assert "Unique oversized words" in row2[2]["extracted_text"]


def test_corpus_commit_survives_a_crash_mid_write(spark, tmp_path):
    """``write_corpus`` commits annotated/, examples/ and funnel.json as
    one version: a rerun whose examples/ write dies after annotated/ is
    written leaves INDEX.json on the previous version, which stays whole;
    the next rerun commits the next version, equal to the in-process
    build."""
    import json

    import pytest

    from docling_api_spark.plans.checkpoint import (
        current_version,
        version_dir,
    )
    from docling_api_spark.plans.corpus_pipeline import (
        build_training_examples,
        write_corpus,
    )

    docs, eval_docs = _corpus(spark)
    annotated, examples, funnel = build_training_examples(
        spark, docs, eval_docs, ctx_len=128, stride=96,
    )
    out = tmp_path / "corpus"
    assert write_corpus(str(out), annotated, examples, funnel) == {"version": 0}

    broken = examples.withColumn("chunk_text", F.when(
        F.col("chunk_idx") >= 0, F.raise_error(F.lit("injected failure"))
    ).otherwise(F.col("chunk_text")))
    with pytest.raises(Exception, match="injected failure"):
        write_corpus(str(out), annotated, broken, funnel)
    assert (version_dir(out, 1) / "annotated").is_dir()  # written, orphaned
    assert current_version(out) == {"version": 0}
    v0 = version_dir(out, 0)
    committed = json.loads((v0 / "funnel.json").read_text())
    assert committed == funnel
    assert spark.read.parquet(str(v0 / "annotated")).count() \
        == committed["n_input"]
    assert spark.read.parquet(str(v0 / "examples")).count() \
        == committed["n_chunks"]

    assert write_corpus(str(out), annotated, examples, funnel) == {"version": 1}
    v1 = version_dir(out, 1)
    assert json.loads((v1 / "funnel.json").read_text()) == funnel
    for name, df in (("annotated", annotated), ("examples", examples)):
        got = spark.read.parquet(str(v1 / name))
        assert got.columns == df.columns
        assert sorted(map(repr, got.collect())) \
            == sorted(map(repr, df.collect())), name
    assert v0.is_dir()  # the previous version is retained
