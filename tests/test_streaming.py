"""Structured Streaming test: the dedup-index continuous-ingest query,
driven synchronously over staged parquet."""

from __future__ import annotations


def test_dedup_index_streaming_ingest(spark, tmp_path):
    """Continuous-crawl ingestion (plans/dedup_index.dedup_index_ingest):
    micro-batches fold into the committed signature index exactly once —
    a second query run with the same checkpoint processes only files the
    first run never saw, and a third run with nothing new leaves the
    pointer and the ingest log untouched."""
    from pyspark.sql import functions as F

    from docling_api_spark.plans.dedup_index import (
        dedup_index_ingest,
        load_index,
        read_ingest_log,
        read_pointer,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = tmp_path / "src"
    idx = str(tmp_path / "sigidx")
    ckpt = str(tmp_path / "ckpt")
    matches = str(tmp_path / "matches")

    batch1 = d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    batch1.repartition(2).write.mode("overwrite").parquet(str(src))

    q = dedup_index_ingest(spark, str(src), idx, ckpt, threshold=0.25,
                           matches_dir=matches, max_files_per_trigger=1)
    q.awaitTermination(300)

    log1 = read_ingest_log(idx)
    assert len(log1) >= 2                       # 2 files, 1 file per trigger
    current, state = load_index(spark, idx)
    assert state["n_rows"] == current.count() == batch1.count()
    assert sum(e["n_added"] for e in log1) == state["n_rows"]
    assert all(e["committed"] for e in log1)

    # new files land: fresh docs + a byte-identical re-crawl of doc 1
    recrawl = (
        batch1.filter(F.col("doc_id") == 1)
        .select(F.lit(9001).cast("long").alias("doc_id"), "text")
    )
    batch2 = (
        d.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 240))
        .select("doc_id", "text")
        .unionByName(recrawl)
    )
    batch2.coalesce(1).write.mode("append").parquet(str(src))

    q = dedup_index_ingest(spark, str(src), idx, ckpt, threshold=0.25,
                           matches_dir=matches, max_files_per_trigger=1)
    q.awaitTermination(300)

    log2 = read_ingest_log(idx)
    assert len(log2) == len(log1) + 1           # only the NEW file ran
    last = log2[-1]
    assert last["matches"]["exact"] >= 1        # the re-crawled copy
    assert last["matches"]["minhash_est"] >= 1  # near-dups straddle batches
    current2, state2 = load_index(spark, idx)
    assert state2["version"] == state["version"] + 1
    assert state2["n_rows"] == state["n_rows"] + last["n_added"]
    # batch-keyed match report exists and never contains self-pairs
    mm = spark.read.parquet(f"{matches}/batch={last['batch_id']}")
    assert mm.count() == last["matches"]["exact"] + last["matches"]["minhash_est"]
    assert mm.filter(F.col("new_id") == F.col("match_id")).count() == 0

    # drained: nothing new on disk -> no batches, no commits, no log rows
    before = read_pointer(idx)
    q = dedup_index_ingest(spark, str(src), idx, ckpt, threshold=0.25,
                           matches_dir=matches, max_files_per_trigger=1)
    q.awaitTermination(300)
    assert read_pointer(idx) == before
    assert len(read_ingest_log(idx)) == len(log2)
