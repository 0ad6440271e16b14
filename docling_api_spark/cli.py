"""spark-submit entry point.

Ships via ``spark-submit --py-files docling_api_spark.zip cli.py ...``
(see README for packaging). Subcommands:

  run     --input <transcripts parquet/dir> --output <dir> [--snapshot S]
  resume  (same as run: the manifest makes every run a resume)
  status  --output <dir>
  compact --output <dir> [--vacuum]   (fold small files; optionally vacuum)
  dedup-index --input <docs parquet> --index <dir>
          (report new-batch duplicates vs the committed signature index,
           then commit the batch's unseen contents as the next version)
  report  --input <docs parquet> [--output report.json]
          (corpus card: counts, exact token percentiles, quality avg,
           language distribution, duplicate-rate estimate)
  corpus  --input <docs parquet> --eval <eval parquet> --output <dir>
          (full training-corpus build: extract ->
           [--para-dedup: collapse in-doc repeated blocks] ->
           [--c4: heuristic line cleaning + doc gate] ->
           [--langs: language allow-set gate] -> quality ->
           [--domain-col: per-source policy gate, with --blocklist /
           --domain-min-docs / --domain-max-dup-rate /
           --domain-min-quality] -> dedup ->
           [--index: drop docs duplicating a previous crawl] ->
           decontam -> split -> [--span-k: cut duplicated spans] ->
           chunk -> pack -> [--shuffle-shards: deterministic
           training-order permutation at the bin grain];
           writes annotated/ and examples/ parquet plus
           funnel.json, prints the funnel)

  select  --input <corpus> --target <seed parquet> --raw <seed parquet>
          -k N --output <dir>
          (DSIR data selection: hashed-n-gram importance vs the target
           seed, deterministic Gumbel-top-k sample of k docs; writes the
           selected (id, score, key) parquet)

Every --input-bearing subcommand also accepts ``--input-format jsonl``
(one JSON document per line — the shape crawl dumps land in).

The perf harness is perfbench/run.py at the repo root (not a subcommand
here).
"""

from __future__ import annotations

import argparse
import json
import sys


def _read_input(spark, path: str, fmt: str):
    """--input reader: parquet (default) or jsonl (the shape crawl dumps
    actually land in — one JSON object per line; schema inferred, which
    costs one extra read pass at ingestion only)."""
    if fmt == "jsonl":
        # FAILFAST, not the PERMISSIVE default: a truncated crawl line
        # would otherwise become a silent all-null row (plus an injected
        # _corrupt_record column) and flow into the funnel as fake data
        return spark.read.option("mode", "FAILFAST").json(path)
    return spark.read.parquet(path)


def _parse_langs(spec: str | None):
    """Validate --langs against the CLOSED code set the heuristic
    lang-ID emits — a typo ('EN', 'english', trailing comma) would
    otherwise run the whole build and silently lang-drop every doc."""
    if spec is None:
        return None
    from docling_api_spark.operators.textstats import LANG_CODES

    langs = tuple(s.strip() for s in spec.split(","))
    bad = [s for s in langs if s not in LANG_CODES]
    if bad:
        raise SystemExit(
            f"--langs: unknown code(s) {bad}; the heuristic lang-ID "
            f"emits exactly {list(LANG_CODES)}")
    return langs


def _add_input_format(sp) -> None:
    sp.add_argument("--input-format", default="parquet",
                    choices=("parquet", "jsonl"),
                    help="format of --input (jsonl = one JSON doc per "
                         "line)")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="docling_api_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in ("run", "resume"):
        r = sub.add_parser(name)
        r.add_argument("--input", required=True)
        _add_input_format(r)
        r.add_argument("--output", required=True)
        r.add_argument("--snapshot", default="snap-0")
        r.add_argument("--buckets", type=int, default=64)
        r.add_argument("--limit-buckets", type=int, default=None)
        r.add_argument("--output-format", default="markdown",
                       choices=("markdown", "json", "both"),
                       help="P2 export gating (reference schemas.py:112)")
        r.add_argument("--no-tables", action="store_true",
                       help="disable C3 table extraction "
                            "(reference schemas.py:118)")
        r.add_argument("--max-payload-chars", type=int, default=None,
                       help="per-turn payload cap; longer turns become "
                            "oversize error rows (default 65536 — the "
                            "frozen-fixture constant; the reference "
                            "accepts 100 MB files, api/config.py:56-59)")
    s = sub.add_parser("status")
    s.add_argument("--output", required=True)
    c = sub.add_parser("compact")
    c.add_argument("--output", required=True)
    c.add_argument("--files-per-bucket", type=int, default=1)
    c.add_argument("--vacuum", action="store_true",
                   help="delete orphaned run dirs after compaction "
                        "(in-flight runs are leased at id reservation and "
                        "spared until the grace period lapses)")
    c.add_argument("--force", action="store_true",
                   help="with --vacuum: also reclaim dirs of leased "
                        "(possibly in-flight) runs — asserts no runs are "
                        "currently in flight")
    d = sub.add_parser("dedup-index")
    _add_input_format(d)
    d.add_argument("--input", required=True,
                   help="parquet of the new ingest batch (id + text)")
    d.add_argument("--index", required=True,
                   help="signature-index dir (created on first run)")
    d.add_argument("--threshold", type=float, default=0.6,
                   help="minhash-estimated Jaccard floor for near matches")
    d.add_argument("--matches-out", default=None,
                   help="optional parquet dir for the per-pair match report")
    d.add_argument("--id-col", default="doc_id")
    d.add_argument("--text-col", default="text")
    r = sub.add_parser("report")
    _add_input_format(r)
    r.add_argument("--input", required=True,
                   help="parquet of documents to profile")
    r.add_argument("--output", default=None,
                   help="optional path for the report JSON file")
    r.add_argument("--text-col", default="text")
    r.add_argument("--rsd", type=float, default=0.05,
                   help="relative error of the distinct-content estimate")
    r.add_argument("--top-spans", type=int, default=0,
                   help="also report the N most-duplicated k-token "
                        "windows with exemplar snippets (default: off)")
    r.add_argument("--span-k", type=int, default=20,
                   help="window size for --top-spans")
    r.add_argument("--top-tokens", type=int, default=0,
                   help="also report the N most frequent tokens "
                        "(default: off)")
    r.add_argument("--id-col", default="doc_id")
    k = sub.add_parser("corpus")
    _add_input_format(k)
    k.add_argument("--input", required=True,
                   help="parquet of raw documents (id + payload text)")
    k.add_argument("--eval", required=True, dest="evalset",
                   help="held-out eval documents to decontaminate "
                        "against")
    k.add_argument("--eval-format", default="parquet",
                   choices=("parquet", "jsonl"),
                   help="format of --eval")
    k.add_argument("--output", required=True,
                   help="writes <output>/annotated, <output>/examples "
                        "parquet and <output>/funnel.json")
    k.add_argument("--ctx-len", type=int, default=512)
    k.add_argument("--stride", type=int, default=None,
                   help="token advance between chunk windows "
                        "(default: ctx-len, disjoint)")
    k.add_argument("--quality-floor", type=float, default=0.35)
    k.add_argument("--near-threshold", type=float, default=0.6)
    k.add_argument("--span-k", type=int, default=None,
                   help="enable cross-doc duplicated-span removal at "
                        "k-token granularity (default: off)")
    k.add_argument("--index", default=None,
                   help="committed dedup-index dir: drop docs that "
                        "duplicate a PREVIOUS crawl (raw-text grain, "
                        "same index `dedup-index` commits)")
    k.add_argument("--index-threshold", type=float, default=0.6)
    k.add_argument("--domain-col", default=None,
                   help="enable the domain-policy stage over this "
                        "column (e.g. source): per-domain stats over "
                        "quality survivors, verdict gates before dedup")
    k.add_argument("--blocklist", default=None,
                   help="text file of blocklisted domains, one per line "
                        "(requires --domain-col)")
    k.add_argument("--c4", action="store_true",
                   help="run the C4 heuristic stage first: line "
                        "cleaning rewrites the extracted text, the "
                        "document gate folds into the quality gate")
    k.add_argument("--c4-min-words", type=int, default=5)
    k.add_argument("--c4-min-sentences", type=int, default=3)
    k.add_argument("--para-dedup", action="store_true",
                   help="collapse byte-identical repeated blocks within "
                        "each document before any gate (pure rewrite)")
    k.add_argument("--langs", default=None,
                   help="comma-separated language allow-set (heuristic "
                        "lang-ID gate folds into the quality gate)")
    k.add_argument("--domain-min-docs", type=int, default=1)
    k.add_argument("--domain-max-dup-rate", type=float, default=None)
    k.add_argument("--domain-min-quality", type=float, default=None)
    k.add_argument("--shuffle-shards", type=int, default=None,
                   help="append a deterministic training-order "
                        "permutation: (shard, position) per example")
    k.add_argument("--shuffle-salt", default="epoch0",
                   help="permutation salt (fold the epoch number in "
                        "for per-epoch reshuffles)")
    k.add_argument("--id-col", default="doc_id")
    k.add_argument("--text-col", default="text")
    k.add_argument("--max-payload-chars", type=int, default=None,
                   help="per-document payload cap (default 65536); "
                        "longer docs become oversize error rows, "
                        "counted as n_oversize in the funnel")
    sel = sub.add_parser("select")
    _add_input_format(sel)
    sel.add_argument("--input", required=True,
                     help="corpus to select from (id + text)")
    sel.add_argument("--target", required=True,
                     help="parquet of target-domain seed docs")
    sel.add_argument("--raw", required=True,
                     help="parquet of raw-domain seed docs (typically a "
                          "uniform hash-sample of the corpus)")
    sel.add_argument("-k", type=int, required=True,
                     help="number of documents to select")
    sel.add_argument("--output", required=True,
                     help="parquet dir for the selected "
                          "(id, score_scaled, dsir_key) rows")
    sel.add_argument("--temperature", type=float, default=1.0)
    sel.add_argument("--salt", default="dsir",
                     help="resample = a new salt (fold an epoch in)")
    sel.add_argument("--id-col", default="doc_id")
    sel.add_argument("--text-col", default="text")
    g = sub.add_parser("gate-stream")
    g.add_argument("--input", required=True,
                   help="parquet dir watched for newly landed document "
                        "files (id + text); reruns with the same "
                        "checkpoint only process files not yet seen")
    g.add_argument("--output", required=True,
                   help="kept docs under <output>/kept/batch=<id>/, "
                        "per-batch funnels under <output>/gate_log/")
    g.add_argument("--checkpoint", required=True,
                   help="Structured Streaming checkpoint dir (exactly-"
                        "once replay state)")
    g.add_argument("--seed", required=True,
                   help="parquet of labeled seed docs to train the NB "
                        "quality gate (id, text, label)")
    g.add_argument("--label-col", default="label")
    g.add_argument("--positive", default="good")
    g.add_argument("--c4", action="store_true",
                   help="also apply the C4 heuristic gate per batch")
    g.add_argument("--max-files-per-trigger", type=int, default=8)
    g.add_argument("--id-col", default="doc_id")
    g.add_argument("--text-col", default="text")
    args = p.parse_args(argv)
    # fail fast on a bad --langs BEFORE any Spark work (a typo would
    # otherwise run the whole build and silently drop every doc)
    langs = (_parse_langs(args.langs)
             if getattr(args, "langs", None) else None)

    from docling_api_spark.session import get_spark

    spark = get_spark(app_name=f"docling_api_spark-{args.cmd}")
    if args.cmd in ("run", "resume"):
        from docling_api_spark.extraction.kernel import ExtractOptions
        from docling_api_spark.plans.pipeline import run_extraction

        transcripts = _read_input(spark, args.input, args.input_format)
        opt_kwargs = ({"max_payload_chars": args.max_payload_chars}
                      if args.max_payload_chars is not None else {})
        summary = run_extraction(
            spark, transcripts, args.output, snapshot_id=args.snapshot,
            n_buckets=args.buckets, limit_buckets=args.limit_buckets,
            options=ExtractOptions(args.output_format,
                                   not args.no_tables, **opt_kwargs),
        )
        print(json.dumps(summary))
    elif args.cmd == "status":
        from docling_api_spark.plans.pipeline import job_status

        job_status(spark, args.output).show(200, truncate=False)
    elif args.cmd == "compact":
        from docling_api_spark.plans.pipeline import compact, vacuum

        summary = compact(spark, args.output, args.files_per_bucket)
        if args.vacuum:
            summary["vacuumed"] = vacuum(args.output, force=args.force)
        print(json.dumps(summary))
    elif args.cmd == "dedup-index":
        from docling_api_spark.plans.dedup_index import update_index

        summary = update_index(
            spark, _read_input(spark, args.input, args.input_format), args.index,
            id_col=args.id_col, text_col=args.text_col,
            threshold=args.threshold, matches_out=args.matches_out,
        )
        print(json.dumps(summary))
    elif args.cmd == "report":
        from docling_api_spark.operators.profile import corpus_report

        docs = _read_input(spark, args.input, args.input_format)
        report = corpus_report(docs, text_col=args.text_col, rsd=args.rsd)
        if args.top_spans > 0:
            from docling_api_spark.operators.spandedup import frequent_spans

            report["top_spans"] = [
                r.asDict()
                for r in frequent_spans(
                    docs, args.id_col, args.text_col,
                    k=args.span_k, top_n=args.top_spans,
                ).collect()
            ]
        if args.top_tokens > 0:
            from docling_api_spark.operators.profile import top_tokens

            report["top_tokens"] = [
                [r["token"], int(r["n_occurrences"])]
                for r in top_tokens(
                    docs, args.top_tokens, args.text_col
                ).collect()
            ]
        if args.output:
            with open(args.output, "w") as f:
                json.dump(report, f, sort_keys=True)
        print(json.dumps(report, sort_keys=True))
    elif args.cmd == "select":
        from pyspark.sql import functions as F

        from docling_api_spark.operators.dsir import dsir_select

        corpus = _read_input(spark, args.input, args.input_format)
        selected = dsir_select(
            corpus,
            spark.read.parquet(args.target),
            spark.read.parquet(args.raw),
            k=args.k,
            id_col=args.id_col, text_col=args.text_col,
            temperature=args.temperature, salt=args.salt,
        ).localCheckpoint(eager=True)
        selected.write.mode("overwrite").parquet(args.output)
        stats = selected.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("score_scaled").alias("min_score_scaled"),
            F.max("score_scaled").alias("max_score_scaled"),
        ).collect()[0]
        report = {
            "k": args.k, "selected": int(stats["n"]),
            "salt": args.salt, "temperature": args.temperature,
        }
        # min/max aggregates over zero rows are NULL — an empty corpus
        # (or k over an empty selection) must not TypeError on int(None)
        if report["selected"] > 0:
            report["min_score_scaled"] = int(stats["min_score_scaled"])
            report["max_score_scaled"] = int(stats["max_score_scaled"])
        print(json.dumps(report, sort_keys=True))
    elif args.cmd == "gate-stream":
        import glob
        import os

        from docling_api_spark.operators.classifier import nb_train
        from docling_api_spark.streaming.curate import curation_gate_stream

        seed = spark.read.parquet(args.seed)
        weights, meta = nb_train(
            seed, positive=args.positive, label_col=args.label_col,
            id_col=args.id_col, text_col=args.text_col,
        )
        q = curation_gate_stream(
            spark, args.input, args.output, args.checkpoint,
            weights, meta, c4=args.c4,
            id_col=args.id_col, text_col=args.text_col,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        q.awaitTermination()
        # the summary is CUMULATIVE across invocations on the same
        # output/checkpoint: gate_log is first-write-wins per batch id,
        # kept/batch=<id> dirs are idempotent overwrites — so
        # exactly_once compares the rows actually on disk against the
        # funnel's kept total (double-writes or replay drift would
        # break the equality)
        entries = []
        for p in sorted(glob.glob(
                os.path.join(args.output, "gate_log", "batch-*.json"))):
            with open(p) as f:
                entries.append(json.load(f))
        n_kept = sum(e["n_kept"] for e in entries)
        kept_rows = 0
        if any(e["n_kept"] for e in entries):
            kept_rows = spark.read.parquet(
                os.path.join(args.output, "kept")).count()
        summary = {
            "n_batches": len(entries),
            "batch_ids": [e["batch_id"] for e in entries],
            "n_in": sum(e["n_in"] for e in entries),
            "n_kept": n_kept,
            "n_fail_valid": sum(e.get("n_fail_valid", 0) for e in entries),
            "n_fail_classifier": sum(e.get("n_fail_classifier", 0)
                                     for e in entries),
            "kept_rows_on_disk": kept_rows,
            "exactly_once": kept_rows == n_kept,
        }
        print(json.dumps(summary, sort_keys=True))
    elif args.cmd == "corpus":
        import os

        from docling_api_spark.plans.corpus_pipeline import (
            build_training_examples,
        )

        snapshot_index = None
        if args.index is not None:
            from docling_api_spark.plans.dedup_index import load_index

            snapshot_index, state = load_index(spark, args.index)
            if snapshot_index is None:
                raise SystemExit(
                    f"--index {args.index}: no committed index version "
                    "(run `dedup-index` first)"
                )
        blocklist = None
        if args.blocklist is not None:
            if args.domain_col is None:
                raise SystemExit("--blocklist requires --domain-col")
            with open(args.blocklist) as f:
                domains = [(ln.strip(),) for ln in f if ln.strip()]
            blocklist = spark.createDataFrame(domains, "domain string")
        annotated, examples, funnel = build_training_examples(
            spark,
            _read_input(spark, args.input, args.input_format),
            _read_input(spark, args.evalset, args.eval_format),
            ctx_len=args.ctx_len,
            stride=args.stride,
            id_col=args.id_col,
            text_col=args.text_col,
            quality_floor=args.quality_floor,
            near_threshold=args.near_threshold,
            span_k=args.span_k,
            shuffle_shards=args.shuffle_shards,
            shuffle_salt=args.shuffle_salt,
            snapshot_index=snapshot_index,
            snapshot_threshold=args.index_threshold,
            c4=args.c4,
            c4_min_words=args.c4_min_words,
            c4_min_sentences=args.c4_min_sentences,
            langs=langs,
            para_dedup=args.para_dedup,
            max_payload_chars=args.max_payload_chars,
            domain_col=args.domain_col,
            domain_blocklist=blocklist,
            domain_min_docs=args.domain_min_docs,
            domain_max_dup_rate=args.domain_max_dup_rate,
            domain_min_quality=args.domain_min_quality,
        )
        annotated.write.mode("overwrite").parquet(
            os.path.join(args.output, "annotated")
        )
        examples.write.mode("overwrite").parquet(
            os.path.join(args.output, "examples")
        )
        with open(os.path.join(args.output, "funnel.json"), "w") as f:
            json.dump(funnel, f, sort_keys=True)
        print(json.dumps(funnel, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
