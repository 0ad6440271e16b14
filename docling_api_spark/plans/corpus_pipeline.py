"""End-to-end training-corpus builder: the composition a 100 TB data
pipeline actually runs, wired from the operator layer —

    extract -> quality gate -> exact dedup -> near-dup clustering ->
    eval decontamination -> group split -> chunk -> pack

The design principle is ANNOTATE, DON'T RE-SCAN: every stage writes its
verdict as a column on one per-document frame (``annotate_corpus``), so
the whole funnel is a single DAG over one corpus pass plus the dedup/
decontam shuffles the operators already need. Per-stage funnel counts
come from ONE aggregation over the annotated frame — not one count-job
per stage, which at scale would re-execute every upstream stage per
count. The corpus is materialized exactly once (the eager localCheckpoint
of the extracted+gated base); the annotated frame is that base plus one
(broadcast when small) join against a checkpointed rep-sized verdict
table, cheap enough to re-run per consumer action — the funnel, the
kept-corpus filter, and chunk/pack never re-execute extraction or the
dedup machinery.

Gating is a strict funnel (a stage only examines survivors of the
previous one): near-dup clustering runs over quality-passing extractions
only, decontamination over dedup keepers only — matching how each stage
is priced at crawl scale (dedup over everything is wasted shuffle when
quality already dropped a third of it).

Every verdict is deterministic (content hashes, group hashes — no
runtime randomness), so the same corpus yields the same training
examples at any parallelism, the repo-wide invariant.

Reference parity: the reference is a per-document gateway with no
corpus pipeline; this composes the training-data-pipeline layer the
brief adds on top. Stage semantics are each oracle-tested in their own
operator modules; tests/test_corpus_pipeline.py checks the WIRING
(funnel arithmetic, flag consistency, leakage-freedom).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SPLITS = (("train", 9000), ("val", 500), ("test", 500))

# Assembly broadcast bound: the per-content verdict table (one row per
# DISTINCT content that survived the quality/domain gates — Spark sha2
# returns a 64-char HEX STRING, so 64 B of hash + 2 longs + 2 bools +
# UnsafeRow overhead ≈ 110 B/row) is broadcast into the corpus join when
# it is provably small, which removes the corpus-side exchange entirely.
# Above the bound the hint is omitted and the planner shuffles the
# corpus ONCE on _sha — at real crawl scale (billions of distinct
# contents) that single hash exchange is the honest minimum for
# attaching per-content verdicts, and AQE still downgrades to broadcast
# when runtime stats allow. 500k rows ≈ 55 MB, just under the session's
# 64 MB autoBroadcastJoinThreshold (1M rows would be ~110 MB — 2x over).
_BROADCAST_CONTENT_ROWS = 500_000


def annotate_corpus(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_floor: float = 0.35,
    near_threshold: float = 0.6,
    decontam_n: int = 8,
    splits=DEFAULT_SPLITS,
    split_salt: str = "split",
    snapshot_index: DataFrame | None = None,
    snapshot_threshold: float = 0.6,
    domain_col: str | None = None,
    domain_blocklist: DataFrame | None = None,
    domain_min_docs: int = 1,
    domain_max_dup_rate: float | None = None,
    domain_min_quality: float | None = None,
    c4: bool = False,
    c4_min_words: int = 5,
    c4_min_sentences: int = 3,
    langs: tuple[str, ...] | None = None,
    para_dedup: bool = False,
    max_payload_chars: int | None = None,
) -> DataFrame:
    """One row per input document carrying every stage's verdict:

    (id_col, status, is_oversize, n_paras_dropped, extracted_text,
     n_extracted_tokens, quality_score, ok_extract, c4_drop, lang_drop,
     ok_quality, domain_drop, exact_keeper, is_exact_dup, cluster_id,
     is_near_dup, snapshot_dup, contaminated, split, final_keep)

    ``max_payload_chars`` (optional) raises/lowers the per-document
    payload cap (ExtractOptions.max_payload_chars, default 65,536);
    documents over the cap fail extraction as ``is_oversize`` rows and
    the funnel reports their count as ``n_oversize`` — the signal that
    the cap is truncating the corpus's long-document tail.

    ``final_keep`` is the conjunction of the funnel gates; ``split`` is
    assigned for every extraction-passing document (so eval-set sizing
    is stable under upstream gate tuning), but only ``final_keep`` rows
    are training-corpus members.

    ``snapshot_index`` (optional) is a committed cross-snapshot
    signature index (plans/dedup_index.py, same grain as `cli
    dedup-index`: RAW ``text_col`` shas + minhash) — docs duplicating a
    PREVIOUS crawl are flagged ``snapshot_dup`` and dropped, so
    re-crawled content never trains twice. The check runs over this
    batch's dedup keepers only (strict funnel) and decontamination runs
    only over snapshot survivors, keeping every drop flag DISJOINT (the
    funnel arithmetic depends on it).

    ``domain_col`` (optional) enables the RefinedWeb-style domain stage
    (operators/domains.py): per-domain stats are rolled up over QUALITY
    SURVIVORS only, the policy verdict (blocklist -> min_docs ->
    dup_rate -> quality thresholds) broadcasts back, and
    ``domain_drop`` gates BEFORE dedup — a domain that is dropped
    wholesale never pays the dedup/decontam shuffles. Disjointness:
    domain_drop is only set on ok_quality docs, and every later flag is
    computed over domain survivors only.

    ``c4`` (optional) runs the C4 heuristic stage
    (operators/heuristics.py) FIRST, exactly where C4 runs it: line
    cleaning rewrites ``extracted_text`` for passing docs (so the
    quality score, content hashes, dedup, and chunking all see the
    cleaned text) and the document gate folds into the quality gate —
    a C4-rejected doc fails ok_quality with ``c4_drop`` set (reported
    as ``n_c4_dropped``: extraction-ok docs rejected by C4).

    ``para_dedup`` (optional) rewrites each document FIRST by collapsing
    byte-identical repeated blocks within it (template nav/footer
    repeats, operators/heuristics.py) — a rewrite, never a drop; the
    funnel reports the total as ``n_paras_deduped`` and each row carries
    its ``n_paras_dropped``.

    ``langs`` (optional) is the CCNet-style per-language gate: the
    heuristic language ID (textstats.with_lang_id) runs on the
    (possibly C4-cleaned) extracted text and documents predicted
    outside the allow-set fold into the quality gate with their own
    ``lang_drop`` flag / ``n_lang_dropped`` counter (a real pipeline
    then runs one LM/classifier per language downstream).

    Shape at scale: corpus-sized work is ONE extraction map stage, ONE
    sha-keyed groupBy (which also carries each content's representative
    text and copy count), and ONE _sha-keyed assembly join back. The
    minhash/LSH/verify/connected-components machinery runs over DISTINCT
    contents only — a crawl's million-copy boilerplate page costs the
    near-dup stage one row — and the per-content verdict (keeper id +
    propagated cluster label) re-attaches to the corpus by hash, never
    by re-clustering members (provably identical labels: every exact
    member connects to its min-id keeper by construction, so the full
    graph's min-label CC factors through the representative graph).
    """
    from docling_api_spark.operators.decontam import ngram_decontaminate
    from docling_api_spark.operators.dedup import (
        jaccard_verify, lsh_candidate_pairs, minhash_signature)
    from docling_api_spark.operators.extract import extract_text_column
    from docling_api_spark.operators.graph import cluster_assignments
    from docling_api_spark.operators.sampling import group_split
    from docling_api_spark.operators.textstats import with_quality_score

    # A) extract + quality score, one projection chain off the scan
    keep_cols = [id_col] + ([domain_col] if domain_col else [])
    ext_options = None
    if max_payload_chars is not None:
        from docling_api_spark.extraction.kernel import ExtractOptions

        ext_options = ExtractOptions(max_payload_chars=max_payload_chars)
    ext = extract_text_column(docs, keep_cols=keep_cols,
                              options=ext_options)
    if para_dedup:
        from docling_api_spark.operators.heuristics import (
            dedup_paragraphs_within_doc)

        # pure rewrite (no gate): in-doc repeated blocks collapse BEFORE
        # C4 counts sentences / the quality score sees the text; the
        # per-doc drop count rides along into the funnel sum
        ext = dedup_paragraphs_within_doc(
            ext, text_col="extracted_text", sep="\n\n"  # markdown blocks
        ).withColumn(
            "extracted_text",
            F.coalesce(F.col("para_deduped_text"),
                       F.col("extracted_text")),
        ).drop("para_deduped_text", "n_paras")
    else:
        ext = ext.withColumn("n_paras_dropped", F.lit(0))
    if c4:
        from docling_api_spark.operators.heuristics import c4_clean_lines

        # line cleaning REWRITES the text for passing docs (C4's order:
        # heuristics before everything downstream); rejected docs keep
        # the uncleaned text for audit — they never train
        ext = c4_clean_lines(
            ext, text_col="extracted_text",
            min_words=c4_min_words, min_sentences=c4_min_sentences,
        ).withColumn(
            "extracted_text",
            F.when(F.col("c4_keep"), F.col("clean_text"))
            .otherwise(F.col("extracted_text")),
        ).drop("clean_text", "n_lines", "n_lines_kept", "n_short_lines",
               "n_no_terminal_lines", "n_boilerplate_lines",
               "n_sentences")
    else:
        ext = ext.withColumn("c4_keep", F.lit(True))
    if langs:
        from docling_api_spark.operators.textstats import with_lang_id

        ext = with_lang_id(ext, text_col="extracted_text").withColumn(
            "lang_keep", F.col("lang_pred").isin(list(langs))
        ).drop("lang_pred")
    else:
        ext = ext.withColumn("lang_keep", F.lit(True))
    q = with_quality_score(ext, text_col="extracted_text")
    base = q.select(
        id_col,
        *([domain_col] if domain_col else []),
        "status",
        (F.col("payload_kind") == "oversize").alias("is_oversize"),
        "n_paras_dropped",
        "extracted_text",
        F.when(
            F.col("extracted_text").isNull()
            | (F.trim("extracted_text") == ""),
            F.lit(0),
        )
        .otherwise(F.size(F.split(F.trim("extracted_text"), r"\s+")))
        .cast("long")
        .alias("n_extracted_tokens"),
        "quality_score",
        (F.col("status") == "success").alias("ok_extract"),
        # C4 rejections are quality failures with their own counter;
        # only extraction-ok docs count (a failed extraction is not a
        # C4 verdict)
        ((F.col("status") == "success") & ~F.col("c4_keep"))
        .alias("c4_drop"),
        # language rejections gate AFTER C4 (disjoint: only C4 keepers)
        ((F.col("status") == "success") & F.col("c4_keep")
         & ~F.col("lang_keep")).alias("lang_drop"),
        # hashed HERE so the exact-dedup stage reads the 32-byte column
        # off the materialized base instead of re-hashing the full text
        F.sha2("extracted_text", 256).alias("_sha"),
        # coalesce: a NULL quality under a success status must gate to
        # FALSE, not propagate NULL through the conjunctions downstream
        F.coalesce(
            (F.col("status") == "success")
            & F.col("c4_keep")
            & F.col("lang_keep")
            & (F.col("quality_score") >= quality_floor),
            F.lit(False),
        ).alias("ok_quality"),
    )
    # the base subtree feeds the exact-dedup groupBy, the near-dup
    # operator, decontam, and the final assembly — one materialization
    base = group_split(
        base, id_col, splits=list(splits), salt=split_salt
    ).localCheckpoint(eager=True)

    # A') optional domain stage (RefinedWeb posture): stats over quality
    # survivors, verdict broadcasts back, gates BEFORE dedup — all off
    # the already-checkpointed base, one extra groupBy on the domain key
    if domain_col is not None:
        from docling_api_spark.operators.domains import (
            apply_domain_policy, domain_policy, domain_stats)

        pol = domain_policy(
            domain_stats(
                base.filter("ok_quality"), domain_col=domain_col,
                text_col="extracted_text", quality_col="quality_score",
                hash_col="_sha",  # reuse the dedup stage's precomputed sha
            ),
            blocklist=domain_blocklist, min_docs=domain_min_docs,
            max_dup_rate=domain_max_dup_rate,
            min_mean_quality=domain_min_quality,
        )
        # apply_domain_policy joins eqNullSafe: a drop verdict against
        # the NULL-domain group gates NULL-source docs too
        base = apply_domain_policy(base, pol, domain_col).withColumn(
            "domain_drop", F.col("ok_quality") & ~F.col("keep"),
        ).drop("keep", "drop_reason")
    else:
        base = base.withColumn("domain_drop", F.lit(False))

    # B) exact dedup over quality+domain survivors: ONE content groupBy
    # produces the min-id keeper, the keeper's text, and the copy count
    # per distinct content. min_by carries the representative text
    # INSIDE the partial agg (one candidate text per content hash per
    # map task — a crawl's 10⁶-copy boilerplate page crosses the wire
    # once per input partition), so the corpus text never shuffles by
    # itself. Materialized once (eager localCheckpoint): it feeds the
    # minhash signature, both sides of jaccard_verify, the keeper
    # filter, and the per-content assembly join — AQE submits those
    # consumer stages concurrently, so a lazily-shared node would race
    # and recompute.
    gated = base.filter("ok_quality and not domain_drop")
    keepers = (
        gated.select(id_col, "_sha", "extracted_text")
        .groupBy("_sha")
        .agg(
            F.min(id_col).alias("exact_keeper"),
            F.min_by("extracted_text", F.col(id_col))
            .alias("extracted_text"),
            F.count(F.lit(1)).alias("_n_copies"),
        )
        .localCheckpoint(eager=True)
    )

    # C) near-dup clustering over the exact REPRESENTATIVES only —
    # never the corpus. Every byte-identical member is connected to its
    # keeper by construction and each keeper is its group's MIN id, so
    # the min-label CC of the full graph (exact stars + verified near
    # pairs, what minhash_near_duplicates emits) equals the CC of the
    # representative-pair graph propagated through the keeper map: a
    # component's min node id = the min over its representatives. The
    # previous shape ran CC over the star edges too — an O(corpus)-edge
    # iteration (every duplicate doc contributed a star edge, each CC
    # round shuffling the whole id space); this one iterates over the
    # verified pairs among DISTINCT contents and propagates with one
    # (AQE-broadcast when small) join. Measured at 16M docs / 3200x
    # duplication it removes every corpus-sized CC shuffle from the DAG.
    reps = keepers.select(
        F.col("exact_keeper").alias(id_col), "extracted_text")
    rep_edges = jaccard_verify(
        reps,
        lsh_candidate_pairs(
            minhash_signature(reps, id_col, "extracted_text"), id_col),
        id_col, "extracted_text", near_threshold,
    ).select("id_a", "id_b")
    rep_clusters = cluster_assignments(rep_edges, id_alias="_rep").select(
        "_rep", F.col("cluster_id").alias("_rep_cluster"))

    # per-CONTENT verdict row (one row per distinct _sha): the keeper id
    # and the propagated cluster label — a rep in a near-dup component
    # takes its component's min rep id; a pure-exact group (>1 copy,
    # rep unclustered) labels by its keeper (matching CC over the full
    # star graph); unique unclustered content stays NULL. The snapshot
    # and contamination verdicts fold in below (stages D/E), so the
    # assembly is ONE _sha join — per-doc verdicts cost ZERO corpus-
    # sized shuffles beyond the keeper groupBy itself.
    content_info = (
        keepers.join(
            rep_clusters, F.col("exact_keeper") == F.col("_rep"), "left")
        .select(
            "_sha", "exact_keeper",
            F.coalesce(
                F.col("_rep_cluster"),
                F.when(F.col("_n_copies") > 1, F.col("exact_keeper")),
            ).alias("cluster_id"),
        )
    )

    # D) cross-snapshot dedup over this batch's dedup keepers only: the
    # committed corpus text is never read (compact sha+minhash index);
    # raw text re-joins from the input because the index grain is the
    # pre-extraction payload (what `cli dedup-index` commits). Keepers =
    # unclustered reps + cluster-leading reps, read straight off the
    # (distinct-contents-sized) keeper frame — no corpus join.
    dedup_keepers = (
        reps.join(rep_clusters, F.col(id_col) == F.col("_rep"), "left")
        .filter(
            F.col("_rep_cluster").isNull()
            | (F.col("_rep_cluster") == F.col(id_col))
        )
        .select(id_col, "extracted_text")
    )
    if snapshot_index is not None:
        from docling_api_spark.operators.dedup import (
            incremental_near_duplicates,
        )

        keeper_raw = docs.select(id_col, text_col).join(
            dedup_keepers.select(id_col), id_col
        )
        snap = (
            incremental_near_duplicates(
                keeper_raw, snapshot_index, id_col, text_col,
                snapshot_threshold,
            )
            .select(F.col("new_id").alias(id_col))
            .distinct()
            .withColumn("snapshot_dup", F.lit(True))
        )
    else:
        snap = None

    # E) decontamination over snapshot survivors only
    fresh_keepers = (
        dedup_keepers if snap is None
        else dedup_keepers.join(snap.select(id_col), id_col, "left_anti")
    )
    contaminated = ngram_decontaminate(
        fresh_keepers,
        eval_docs.select(
            F.col(id_col), F.col(text_col).alias("extracted_text")
        ),
        id_col,
        "extracted_text",
        decontam_n,
    ).select(id_col, F.lit(True).alias("contaminated"))

    # fold the snapshot/contamination verdicts (keyed on KEEPER ids —
    # both frames only ever contain dedup-keeper ids) into the per-
    # content row, then materialize it ONCE (eager localCheckpoint):
    # the whole rep-sized machinery above — minhash, LSH, verify, CC,
    # snapshot probe, decontamination — runs exactly once here instead
    # of re-executing per consumer action, and what the consumers see
    # is a tiny (distinct-gated-contents × 5 narrow columns) table.
    ci = content_info.join(
        contaminated.select(F.col(id_col).alias("_cont_id")),
        F.col("exact_keeper") == F.col("_cont_id"), "left",
    ).withColumn("_content_cont", F.col("_cont_id").isNotNull()
                 ).drop("_cont_id")
    if snap is not None:
        ci = ci.join(
            snap.select(F.col(id_col).alias("_snap_id")),
            F.col("exact_keeper") == F.col("_snap_id"), "left",
        ).withColumn("_content_snap", F.col("_snap_id").isNotNull()
                     ).drop("_snap_id")
    else:
        ci = ci.withColumn("_content_snap", F.lit(False))
    ci = ci.localCheckpoint(eager=True)

    # assembly: per-content verdicts re-attach on the 32-byte _sha in
    # ONE left join (content rows are unique per _sha). The join is
    # hinted broadcast when the verdict table is provably small (the
    # count is free — ci is checkpointed), which removes the corpus-
    # side exchange entirely; see _BROADCAST_CONTENT_ROWS for the
    # at-scale story. The annotated frame itself is NOT materialized:
    # base is the corpus's single materialization, and every consumer
    # action (funnel agg, kept filter, chunking) re-runs only this
    # broadcast join over base's cached blocks — measured at 16M docs
    # the second corpus-sized checkpoint cost ~57 s of GC-bound wall
    # (the two frames together overflow the storage pool) plus two
    # corpus shuffles, all for joins that broadcast anyway.
    if ci.count() <= _BROADCAST_CONTENT_ROWS:
        ci = F.broadcast(ci)
    joined = base.join(ci, "_sha", "left")
    # the when(gate, ...) guard keeps dedup columns NULL on docs that
    # never entered the dedup funnel (failed quality / dropped domain)
    # even when their bytes coincide with a gated document's; the
    # keeper-identity conjunct (id == exact_keeper) reproduces the old
    # id-keyed snapshot/contamination joins exactly — only the keeper
    # row of a flagged content carries the flag, never its copies
    # (those drop as exact/near dups).
    gate = F.col("ok_quality") & ~F.col("domain_drop")
    annotated = (
        joined.select(
            base["*"],
            F.when(gate, F.col("exact_keeper")).alias("exact_keeper"),
            F.coalesce(
                gate & (F.col("exact_keeper") != F.col(id_col)),
                F.lit(False),
            ).alias("is_exact_dup"),
            F.when(gate, F.col("cluster_id")).alias("cluster_id"),
            F.coalesce(
                gate & (F.col("cluster_id") != F.col(id_col))
                & (F.col("exact_keeper") == F.col(id_col)),
                F.lit(False),
            ).alias("is_near_dup"),
            F.coalesce(
                gate & F.col("_content_snap")
                & (F.col("exact_keeper") == F.col(id_col)),
                F.lit(False),
            ).alias("snapshot_dup"),
            F.coalesce(
                gate & F.col("_content_cont")
                & (F.col("exact_keeper") == F.col(id_col)),
                F.lit(False),
            ).alias("contaminated"),
        )
        .withColumn(
            "final_keep",
            F.col("ok_quality")
            & ~F.col("domain_drop")
            & ~F.col("is_exact_dup")
            & ~F.col("is_near_dup")
            & ~F.col("snapshot_dup")
            & ~F.col("contaminated"),
        )
        .drop("_sha")  # internal scratch, not part of the verdict schema
    )
    return annotated


def corpus_funnel(annotated: DataFrame) -> dict:
    """The whole per-stage funnel from ONE aggregation job."""
    row = annotated.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.col("ok_extract").cast("long")).alias("n_extracted"),
        F.sum(F.col("is_oversize").cast("long")).alias("n_oversize"),
        F.sum(F.col("ok_quality").cast("long")).alias("n_quality"),
        F.sum(F.col("c4_drop").cast("long")).alias("n_c4_dropped"),
        F.sum(F.col("lang_drop").cast("long")).alias("n_lang_dropped"),
        F.sum(F.col("n_paras_dropped").cast("long"))
        .alias("n_paras_deduped"),
        F.sum(F.col("domain_drop").cast("long")).alias("n_domain_dropped"),
        F.sum(F.col("is_exact_dup").cast("long")).alias("n_exact_dropped"),
        F.sum(F.col("is_near_dup").cast("long")).alias("n_near_dropped"),
        F.sum(F.col("snapshot_dup").cast("long")).alias("n_snapshot_dropped"),
        F.sum(F.col("contaminated").cast("long")).alias("n_contaminated"),
        F.sum(F.col("final_keep").cast("long")).alias("n_kept"),
        F.sum(
            (F.col("final_keep") & (F.col("split") == "train")).cast("long")
        ).alias("n_train"),
        F.sum(
            (F.col("final_keep") & (F.col("split") == "val")).cast("long")
        ).alias("n_val"),
        F.sum(
            (F.col("final_keep") & (F.col("split") == "test")).cast("long")
        ).alias("n_test"),
    ).collect()[0]
    # empty corpus: count() is 0 but the sums aggregate to NULL
    return {k: int(row[k]) if row[k] is not None else 0
            for k in row.asDict()}


_BLANK_RE = "^[ \\t\\n\\x0B\\f\\r]*$"  # Java-\\s-only content


def build_training_examples(
    spark: SparkSession,
    docs: DataFrame,
    eval_docs: DataFrame,
    ctx_len: int = 512,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_k: int | None = None,
    shuffle_shards: int | None = None,
    shuffle_salt: str = "epoch0",
    **annotate_kwargs,
) -> tuple[DataFrame, DataFrame, dict]:
    """The full pipeline: returns (annotated, examples, funnel).

    ``examples`` is the packed train-split corpus at the training-example
    grain: every kept train document is chunked into ctx_len-token
    windows and the chunks greedily packed into (shard, bin_idx) slots —
    one row per chunk with its bin assignment. Chunk ids are
    ``"<doc_id>#<chunk_idx>"`` (stable, engine-independent).

    ``span_k`` (optional) enables cross-document duplicated-SPAN removal
    (operators/spandedup.py) over the kept corpus before chunking: any
    k-token passage shared by >= 2 kept documents survives only in the
    min-id document — the substring-granularity step doc-level dedup
    cannot do (Lee et al. 2021). It runs over ALL final_keep docs (not
    just train) so a passage straddling splits is cut down to one
    occurrence corpus-wide. Funnel gains ``n_span_docs_cut`` /
    ``n_spans_cut`` / ``n_span_tokens_cut`` / ``n_span_emptied``; docs
    cut to whitespace-only are dropped from examples (counted, never
    silent).

    ``shuffle_shards`` (optional) appends a deterministic training-order
    permutation (operators/ordering.py) to every example: (shard,
    position) keyed on the packed BIN (shard_id, bin_idx) under
    ``shuffle_salt`` — every example packed into a bin shares its slot,
    so a bin's sequences stay adjacent in training order. Fold the epoch
    number into the salt for per-epoch reshuffles.
    """
    from docling_api_spark.operators.chunking import chunk_documents
    from docling_api_spark.operators.packing import pack_sequences

    annotated = annotate_corpus(
        docs, eval_docs, id_col, text_col, **annotate_kwargs
    )
    funnel = corpus_funnel(annotated)

    train = annotated.filter(
        F.col("final_keep") & (F.col("split") == "train")
    ).select(id_col, "extracted_text")

    if span_k:
        from docling_api_spark.operators.spandedup import (
            remove_duplicated_spans,
        )

        kept = annotated.filter("final_keep").select(
            id_col, "extracted_text"
        )
        # materialized once: feeds the span-funnel agg AND the train join
        cut = remove_duplicated_spans(
            kept, id_col, "extracted_text", k=span_k
        ).withColumn(
            # emptied BY THE SPAN STAGE only: a doc that was already
            # whitespace-only (and uncut) keeps its span_k-off behavior
            "_blank",
            F.col("extracted_text").rlike(_BLANK_RE)
            & (F.col("n_spans_removed") > 0),
        ).localCheckpoint(eager=True)
        srow = cut.agg(
            F.sum((F.col("n_spans_removed") > 0).cast("long"))
            .alias("n_span_docs_cut"),
            F.sum("n_spans_removed").alias("n_spans_cut"),
            F.sum("n_tokens_removed").alias("n_span_tokens_cut"),
            F.sum(F.col("_blank").cast("long")).alias("n_span_emptied"),
        ).collect()[0]
        funnel.update({k: int(srow[k]) if srow[k] is not None else 0
                       for k in srow.asDict()})
        train = (
            train.select(id_col)
            .join(cut.filter(~F.col("_blank")), id_col)
            .select(id_col, "extracted_text")
        )
    chunks = chunk_documents(
        train, ctx_len, stride, id_col=id_col, text_col="extracted_text"
    ).withColumn(
        "chunk_id",
        F.concat(F.col(id_col).cast("string"), F.lit("#"), "chunk_idx"),
    )
    packed = pack_sequences(
        chunks,
        ctx_len=ctx_len,
        id_col="chunk_id",
        token_count_col="n_tokens",
    )
    examples = chunks.select(
        "chunk_id", id_col, "chunk_idx", "token_start", "chunk_text"
    ).join(packed, "chunk_id")
    if shuffle_shards:
        from docling_api_spark.operators.ordering import global_shuffle

        # permute at the BIN grain (a packed bin is one training
        # example): chunks of the same (shard, bin_idx) share one
        # (order_shard, order_pos) slot and stay contiguous
        examples = global_shuffle(
            examples, ["shard", "bin_idx"], salt=shuffle_salt,
            n_shards=shuffle_shards,
            shard_col="order_shard", pos_col="order_pos",
        )
    # materialize once: the chunk explode + packing shuffle + join (and
    # the optional order window) otherwise re-execute for the funnel
    # count AND again for every caller action (the CLI's parquet write)
    examples = examples.localCheckpoint(eager=True)
    funnel["n_chunks"] = examples.count()
    return annotated, examples, funnel
