"""Streaming curation gate: batch/stream equivalence (the same
gate_batch code runs in both, so the kept set must match a plain batch
run exactly), multi-batch drains, per-batch funnel logs, and rerun
idempotency via the checkpoint."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _models(spark):
    from docling_api_spark.operators.classifier import nb_train

    docs = spark.read.parquet(DOCS).select("doc_id", "text")
    seed = docs.select(
        "doc_id", "text",
        F.when(F.col("doc_id") % 3 != 0, "good").otherwise("junk")
        .alias("label"),
    ).limit(300)
    weights, meta = nb_train(seed, positive="good", n_buckets=1 << 12)
    return weights, meta


def test_stream_matches_batch_and_is_idempotent(spark, tmp_path):
    from docling_api_spark.streaming.curate import (
        curation_gate_stream, gate_batch)

    weights, meta = _models(spark)
    docs = spark.read.parquet(DOCS).select("doc_id", "text")
    # land the corpus as several files so multiple triggers fire
    in_dir = str(tmp_path / "in")
    docs.repartition(5).write.parquet(in_dir)
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    q = curation_gate_stream(
        spark, in_dir, out_dir, ck, weights, meta, c4=False,
    )
    q.awaitTermination()

    kept = spark.read.parquet(os.path.join(out_dir, "kept"))
    got = {int(r["doc_id"]) for r in kept.collect()}
    # batch equivalence: same gate code over the whole corpus at once
    ann, _ = gate_batch(docs, weights, meta, False)
    want = {int(r["doc_id"])
            for r in ann.filter("gate_keep").collect()}
    assert got == want and got  # non-trivial gate
    # some docs were actually rejected
    assert len(got) < docs.count()

    # per-batch funnel logs cover exactly the input
    logs = [
        json.load(open(os.path.join(out_dir, "gate_log", p)))
        for p in sorted(os.listdir(os.path.join(out_dir, "gate_log")))
    ]
    assert sum(e["n_in"] for e in logs) == docs.count()
    assert sum(e["n_kept"] for e in logs) == len(got)
    assert all("n_fail_classifier" in e for e in logs)

    # rerun: checkpoint has seen every file -> no new batches, no
    # double-writes
    before = sorted(os.listdir(os.path.join(out_dir, "gate_log")))
    q2 = curation_gate_stream(
        spark, in_dir, out_dir, ck, weights, meta, c4=False,
    )
    q2.awaitTermination()
    assert sorted(os.listdir(os.path.join(out_dir, "gate_log"))) == before
    got2 = {int(r["doc_id"]) for r in spark.read.parquet(
        os.path.join(out_dir, "kept")).collect()}
    assert got2 == got


def test_c4_gate_column_present(spark, tmp_path):
    from docling_api_spark.streaming.curate import gate_batch

    weights, meta = _models(spark)
    docs = spark.createDataFrame(
        [(1, "A long properly terminated sentence sits right here.\n\n"
             "Another one follows with enough words to pass the gate!\n\n"
             "And a third keeps the page over the sentence floor too."),
         (2, "no punctuation word salad line without any ending")],
        "doc_id long, text string",
    )
    ann, gates = gate_batch(docs, weights, meta, c4=True)
    assert gates[:2] == ["gate_valid", "gate_c4"]
    rows = {int(r["doc_id"]): r for r in ann.collect()}
    assert rows[1]["gate_c4"] and not rows[2]["gate_c4"]
    assert not rows[2]["gate_keep"]


def test_null_text_never_kept(spark):
    from docling_api_spark.streaming.curate import gate_batch

    weights, meta = _models(spark)
    # a seed split with more positives than negatives -> positive prior,
    # the exact configuration where an ungated NULL row would slip in
    assert meta["n_pos"] > meta["n_neg"]
    docs = spark.createDataFrame(
        [(1, None), (2, "a perfectly ordinary document body")],
        "doc_id long, text string",
    )
    ann, gates = gate_batch(docs, weights, meta)
    assert gates[0] == "gate_valid"
    rows = {int(r["doc_id"]): r for r in ann.collect()}
    assert not rows[1]["gate_valid"] and not rows[1]["gate_keep"]
    assert rows[2]["gate_valid"]


def test_null_id_rows_survive_annotation_and_never_kept(spark):
    """ADVICE r03: NULL doc_id rows used to be silently DROPPED by the
    inner score joins — they must stay in the annotated frame (funnel
    denominators count them) with gate_valid/gate_keep False."""
    from docling_api_spark.streaming.curate import gate_batch

    weights, meta = _models(spark)
    docs = spark.createDataFrame(
        [(None, "a perfectly ordinary document body right here"),
         (7, "another perfectly ordinary document body here too")],
        "doc_id long, text string",
    )
    ann, _ = gate_batch(docs, weights, meta, c4=True)
    rows = ann.collect()
    assert len(rows) == 2  # the NULL-id row did not vanish
    by_id = {r["doc_id"]: r for r in rows}
    assert not by_id[None]["gate_valid"]
    assert not by_id[None]["gate_keep"]
    assert by_id[7]["gate_valid"]


def test_stream_duplicate_ids_fail_loudly(spark, tmp_path):
    """ADVICE r03: duplicate doc_ids within a batch are scored as one
    merged document — the stream must fail the batch, not gate garbage."""
    import pytest

    from docling_api_spark.streaming.curate import curation_gate_stream

    weights, meta = _models(spark)
    docs = spark.createDataFrame(
        [(1, "first body of the duplicated id"),
         (1, "second body sharing that same id"),
         (2, "an honest unique document body")],
        "doc_id long, text string",
    )
    in_dir = str(tmp_path / "in")
    docs.coalesce(1).write.parquet(in_dir)
    q = curation_gate_stream(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ck"),
        weights, meta,
    )
    with pytest.raises(Exception, match="duplicate non-NULL doc_id"):
        q.awaitTermination()
