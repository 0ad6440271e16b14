"""The timed jobs and their output checks, one class per job shape.

Each job calls the package's public entry points exactly as the CLI
does: ``plans.pipeline.run_extraction`` for ``cli run`` and
``plans.corpus_pipeline.build_training_examples`` plus the two parquet
writes for ``cli corpus``. The benchmark times its own calls; nothing
inside the package is patched.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow.parquet as pq

N_BUCKETS = 64  # `cli run --buckets` default
CTX_LEN = 512  # `cli corpus --ctx-len` default
SAMPLE_ROWS = 64  # turns compared against in-process extraction per pass


class CheckFailed(Exception):
    """An output of the program under test is wrong."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class _Job:
    """A staged input and how the job reads it."""

    keep_cols = None  # extract_text_column default: all but the payload

    def __init__(self, paths: dict):
        self.input = paths["input"]

    def read(self, spark):
        return spark.read.parquet(self.input)

    def texts(self) -> list:
        return pq.read_table(self.input, columns=["text"]).column("text").to_pylist()


class ExtractJob(_Job):
    """``cli run``: run_extraction into a fresh output directory."""

    def __init__(self, paths: dict, seed: int):
        super().__init__(paths)
        table = pq.read_table(self.input, columns=["conv_id", "turn_idx", "text"])
        self.n_rows = table.num_rows
        rng = random.Random(f"perfbench-check:{seed}")
        idx = rng.sample(range(self.n_rows), min(SAMPLE_ROWS, self.n_rows))
        convs = table.column("conv_id").to_pylist()
        turns = table.column("turn_idx").to_pylist()
        texts = table.column("text").to_pylist()
        self.sample = {(convs[i], turns[i]): texts[i] for i in idx}

    def run(self, spark, out: str, tracer) -> dict:
        from docling_api_spark.plans.pipeline import run_extraction

        with tracer.span("run_extraction") as sp:
            summary = run_extraction(spark, self.read(spark), out,
                                     n_buckets=N_BUCKETS)
        return {"wall": sp.seconds, "rows": summary["rows"],
                "summary": summary, "spans": {"job": (sp.start, sp.end)}}

    def check(self, spark, out: str, res: dict) -> int:
        """Every check of one pass; returns the error-row count."""
        from pyspark.sql import functions as F

        from docling_api_spark.extraction.kernel import extract_flat
        from docling_api_spark.plans.checkpoint import Manifest, committed_view

        summary = res["summary"]
        _require(summary["rows"] == self.n_rows,
                 f"summary rows {summary['rows']} != staged {self.n_rows}")
        _require(summary["buckets"] == list(range(N_BUCKETS)),
                 "summary does not list every bucket")
        _require(Manifest(out).committed_buckets() == set(range(N_BUCKETS)),
                 "not every bucket is committed")

        totals = ("rows", "n_success", "n_error", "n_oversize", "pages")
        lin = pq.read_table(f"{out}/lineage").to_pydict()
        lineage = {"rows": sum(lin["rows_out"]),
                   **{k: sum(lin[k]) for k in totals[1:]}}
        # one scan of the committed data: the lineage totals and the
        # sampled turns
        keys = sorted(self.sample)
        in_sample = (F.col("conv_id").isin(sorted({c for c, _ in keys}))
                     & F.col("turn_idx").isin(sorted({t for _, t in keys})))
        got = committed_view(spark, out).agg(
            F.count(F.lit(1)),
            F.sum((F.col("status") == "success").cast("long")),
            F.sum((F.col("status") == "error").cast("long")),
            F.sum((F.col("payload_kind") == "oversize").cast("long")),
            F.sum("pages"),
            F.collect_list(F.when(in_sample, F.struct(
                "conv_id", "turn_idx", "status", "payload_kind",
                "extracted_text", "spans"))),
        ).collect()[0]
        committed = dict(zip(totals, map(int, got[:5])))
        _require(lineage == committed,
                 f"lineage {lineage} != committed data {committed}")
        _require(committed["rows"] == self.n_rows,
                 f"committed rows {committed['rows']} != staged {self.n_rows}")

        rows = got[5]
        seen = {(r["conv_id"], r["turn_idx"]): r for r in rows}
        want = extract_flat([self.sample[k] for k in keys])
        off = want["span_offsets"]
        for i, k in enumerate(keys):
            r = seen.get(k)
            _require(r is not None, f"sampled turn {k} missing from output")
            spans = list(zip(want["span_start"][off[i]:off[i + 1]],
                             want["span_end"][off[i]:off[i + 1]],
                             want["span_node_id"][off[i]:off[i + 1]],
                             want["span_kind"][off[i]:off[i + 1]]))
            got_row = (r["status"], r["payload_kind"], r["extracted_text"],
                       [tuple(s) for s in r["spans"]])
            want_row = (want["status"][i], want["payload_kind"][i],
                        want["extracted_text"][i], spans)
            _require(got_row == want_row,
                     f"turn {k}: committed output differs from extract_flat")
        return lineage["n_error"]


class CorpusJob(_Job):
    """``cli corpus``: build_training_examples with the CLI's default
    flags, then the annotated/ and examples/ parquet writes and
    funnel.json."""

    keep_cols = ["doc_id"]  # what annotate_corpus keeps through extraction

    def __init__(self, paths: dict, seed: int):
        super().__init__(paths)
        self.eval = paths["eval"]
        self.n_rows = pq.read_table(self.input, columns=["doc_id"]).num_rows
        # funnel of this (seed, size) recorded by the first run that built it
        self.funnel_record = os.path.join(os.path.dirname(self.input),
                                          "funnel.json")
        self.first_funnel: dict | None = None

    def run(self, spark, out: str, tracer) -> dict:
        from docling_api_spark.plans.corpus_pipeline import (
            build_training_examples,
        )

        with tracer.span("corpus_job") as job:
            with tracer.span("build_training_examples") as build:
                annotated, examples, funnel = build_training_examples(
                    spark, self.read(spark), spark.read.parquet(self.eval),
                    ctx_len=CTX_LEN)
            with tracer.span("write_outputs") as write:
                annotated.write.mode("overwrite").parquet(f"{out}/annotated")
                examples.write.mode("overwrite").parquet(f"{out}/examples")
                with open(f"{out}/funnel.json", "w") as f:
                    json.dump(funnel, f, sort_keys=True)
        return {"wall": job.seconds, "rows": funnel["n_input"],
                "funnel": funnel,
                "spans": {"job": (job.start, job.end),
                          "build": (build.start, build.end),
                          "write": (write.start, write.end)}}

    def check(self, spark, out: str, res: dict) -> int:
        from pyspark.sql import functions as F

        f = res["funnel"]
        _require(f["n_input"] == self.n_rows,
                 f"funnel n_input {f['n_input']} != staged {self.n_rows}")
        _require(f["n_input"] >= f["n_extracted"] >= f["n_quality"],
                 "funnel is not monotone")
        _require(f["n_kept"] == f["n_quality"] - f["n_domain_dropped"]
                 - f["n_exact_dropped"] - f["n_near_dropped"]
                 - f["n_snapshot_dropped"] - f["n_contaminated"],
                 "n_kept != n_quality minus the drops")
        _require(f["n_train"] + f["n_val"] + f["n_test"] == f["n_kept"],
                 "splits do not sum to n_kept")
        n_annotated, n_error = spark.read.parquet(f"{out}/annotated").agg(
            F.count(F.lit(1)),
            F.sum((F.col("status") == "error").cast("long"))).collect()[0]
        _require(n_annotated == f["n_input"], "annotated/ row count != n_input")
        _require(spark.read.parquet(f"{out}/examples").count() == f["n_chunks"],
                 "examples/ row count != n_chunks")
        if self.first_funnel is None:
            self.first_funnel = f
        _require(f == self.first_funnel, "funnel changed between passes")
        if os.path.exists(self.funnel_record):
            with open(self.funnel_record) as fh:
                _require(json.load(fh) == f,
                         "funnel differs from an earlier run on this input")
        else:
            with open(self.funnel_record, "w") as fh:
                json.dump(f, fh, sort_keys=True)
        return int(n_error)


JOBS = {"extract": ExtractJob, "corpus": CorpusJob}
