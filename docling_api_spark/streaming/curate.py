"""Continuous-crawl curation gate: Structured Streaming quality
filtering with batch-trained models.

The production shape for a living corpus: models are trained OFFLINE on
seed/reference sets (operators/classifier.py returns a broadcast-sized
weight table), then every micro-batch of newly landed documents is
scored and gated as it arrives. The stateless stages (C4 heuristics, NB
scoring) need no streaming state at all — they run inside foreachBatch
exactly as in batch mode, so the batch and streaming paths share ONE
implementation and cannot drift.

Exactly-once without a transactional sink: the checkpoint replays a
failed micro-batch with the same batch_id, and both side effects are
idempotent — kept documents overwrite their batch-keyed directory
``out_dir/kept/batch=<id>``, and the per-batch funnel JSON under
``out_dir/gate_log/`` is first-write-wins.

Reference parity: the reference's async job surface (SURVEY §3.3) is a
per-document gateway; this is the corpus-scale continuous analog the
brief's training-data mandate adds (SURVEY §2.12).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

GATE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])


def gate_batch(batch: DataFrame, weights: DataFrame, meta: dict,
               c4: bool = False,
               id_col: str = "doc_id",
               text_col: str = "text") -> tuple[DataFrame, list]:
    """One batch through the gate chain — the SAME code batch and
    streaming callers run. Returns (annotated, gate_cols): every input
    row with per-gate verdict columns plus ``gate_keep`` (their
    conjunction); gate order validity -> C4 -> classifier, later gates
    evaluated on all rows (the funnel counts are per-gate marginals, the
    conjunction is the decision).

    ``id_col`` must be unique per batch among non-NULL ids — duplicate
    ids would have their texts scored as ONE merged document by the
    id-grain scorers (the streaming wrapper asserts this per
    micro-batch). NULL-id rows are never scored and never kept: they
    fail ``gate_valid`` and ride the score joins as left-join misses
    (an inner join would silently DROP them from the annotated output
    and the funnel counts)."""
    # validity first: the batch pipeline blocks NULL payloads via
    # ok_extract; without this a NULL-text row would ride the
    # classifier's prior-only score straight into the kept corpus.
    # NULL ids are invalid too — the id-grain score joins cannot carry
    # a verdict back to an unaddressable row
    out = batch.withColumn(
        "gate_valid",
        F.col(text_col).isNotNull() & F.col(id_col).isNotNull(),
    )
    gates = ["gate_valid"]
    if c4:
        from docling_api_spark.operators.heuristics import c4_document_flags

        out = c4_document_flags(out, text_col=text_col)
        out = out.withColumnRenamed("c4_keep", "gate_c4")
        gates.append("gate_c4")
    from docling_api_spark.operators.classifier import nb_score

    # score only addressable rows; LEFT join the verdicts back so
    # NULL-id rows stay in the annotated output (inner-join semantics
    # never match NULL keys — the rows would vanish from the kept
    # output AND the funnel denominators). Their NULL gate columns
    # coalesce to False in the conjunction below.
    addressable = out.filter(F.col(id_col).isNotNull())
    scored = nb_score(addressable, weights, meta, id_col, text_col).select(
        id_col, F.col("score_scaled").alias("clf_score_scaled"),
        F.col("keep").alias("gate_classifier"),
    )
    out = out.join(scored, id_col, "left")
    gates.append("gate_classifier")
    keep = F.lit(True)
    for g in gates:
        keep = keep & F.coalesce(F.col(g), F.lit(False))
    return out.withColumn("gate_keep", keep), gates


def curation_gate_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    weights: DataFrame,
    meta: dict,
    c4: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 8,
):
    """Start the streaming gate over newly landed parquet files. Kept
    docs land under ``out_dir/kept/batch=<id>/`` (idempotent overwrite),
    per-batch funnels under ``out_dir/gate_log/`` (first-write-wins).
    Callers use Trigger.AvailableNow + awaitTermination to drain what is
    on disk; reruns only see files the checkpoint has not."""
    stream = (
        spark.readStream.schema(GATE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        annotated, gates = gate_batch(
            batch_df, weights, meta, c4, id_col, text_col,
        )
        annotated = annotated.localCheckpoint(eager=True)
        # gate_batch scores at id grain: duplicate ids within a batch
        # would have been scored as one merged document — fail the batch
        # loudly (the checkpoint replays it after the producer is fixed)
        dup = annotated.agg(
            (F.count(F.col(id_col))
             - F.count_distinct(F.col(id_col))).alias("d")
        ).collect()[0]["d"]
        if dup:
            raise ValueError(
                f"curation_gate_stream: batch {batch_id} has {dup} "
                f"duplicate non-NULL {id_col} rows — ids must be unique "
                "per micro-batch (they are scored at id grain)"
            )
        annotated.filter("gate_keep").write.mode("overwrite").parquet(
            os.path.join(out_dir, "kept", f"batch={batch_id}")
        )
        row = annotated.agg(
            F.count(F.lit(1)).alias("n_in"),
            F.sum(F.col("gate_keep").cast("long")).alias("n_kept"),
            *[F.sum((~F.coalesce(F.col(g), F.lit(False))).cast("long"))
              .alias(f"n_fail_{g[5:]}") for g in gates],
        ).collect()[0]
        entry = {k: int(row[k]) if row[k] is not None else 0
                 for k in row.asDict()}
        entry["batch_id"] = batch_id
        log_dir = os.path.join(out_dir, "gate_log")
        os.makedirs(log_dir, exist_ok=True)
        path = os.path.join(log_dir, f"batch-{batch_id:08d}.json")
        if not os.path.exists(path):  # first-write-wins on replay
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(entry, f, sort_keys=True)
            os.replace(tmp, path)

    return (
        stream.writeStream.foreachBatch(_gate)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
