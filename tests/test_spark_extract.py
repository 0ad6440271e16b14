"""Spark pipeline vs golden fixtures: the J4 equality gate (SURVEY.md
§2.4 J4, reference parity check scripts/test_production.py:302 hardened
to full text equality) + batch/partition invariance (SURVEY.md §5.2.3)."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import canon_spans


def _spark_extract_pdf(spark, n_convs: int, partitions: int) -> pd.DataFrame:
    from docling_api_spark.extraction.kernel import ExtractOptions
    from docling_api_spark.gen import transcripts_df
    from docling_api_spark.operators.extract import extract_text_column

    df = transcripts_df(spark, n_convs, partitions=partitions)
    out = extract_text_column(df, options=ExtractOptions("both")).toPandas()
    out["spans_json"] = out["spans"].map(canon_spans)
    return (
        out.drop(columns=["spans"])
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


COMPARE_COLS = ["status", "payload_kind", "extracted_text", "doc_json",
                "pages", "n_nodes", "spans_json", "error"]


def _assert_equal(res: pd.DataFrame, ref: pd.DataFrame):
    assert len(res) == len(ref)
    merged = ref.merge(res, on=["conv_id", "turn_idx"], suffixes=("_ref", "_res"))
    assert len(merged) == len(ref), "join key mismatch"
    for col in COMPARE_COLS:
        left = merged[f"{col}_ref"]
        right = merged[f"{col}_res"]
        if left.dtype == object:
            bad = left.fillna("∅") != right.fillna("∅")
        else:
            bad = left != right
        assert not bad.any(), f"{col}: {int(bad.sum())} mismatches"


def test_spark_matches_golden_fixtures(spark, golden):
    """100% per-turn equality under stable (conv_id, turn_idx) ordering —
    the BASELINE.json correctness metric."""
    n_convs = golden["conv_id"].nunique()
    res = _spark_extract_pdf(spark, n_convs, partitions=8)
    _assert_equal(res, golden)


@pytest.mark.parametrize("partitions", [1, 3])
def test_partition_invariance(spark, golden, partitions):
    """Same input at different partition counts -> identical output
    (proves no batch-boundary dependence; SURVEY.md §4.3)."""
    sub = golden[golden["conv_id"] < "conv_00000040"]
    res = _spark_extract_pdf(spark, 40, partitions=partitions)
    _assert_equal(res, sub.reset_index(drop=True))


def test_arrow_batch_size_invariance(spark, golden):
    """Tiny Arrow batches vs default -> identical output."""
    sub = golden[golden["conv_id"] < "conv_00000040"].reset_index(drop=True)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
        res = _spark_extract_pdf(spark, 40, partitions=2)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    _assert_equal(res, sub)


def test_options_plumb_through_spark_operator(spark):
    """P2 gating + C3 toggle as UDF-closure constants, end-to-end through
    mapInArrow (the Spark analog of ConversionOptions plumbing)."""
    from pyspark.sql import functions as F

    from docling_api_spark.extraction.kernel import ExtractOptions
    from docling_api_spark.gen import transcripts_df
    from docling_api_spark.operators.extract import extract_text_column

    df = transcripts_df(spark, 30, partitions=2)
    md = extract_text_column(df).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("doc_json").alias("n_json"),
        F.count("extracted_text").alias("n_md"),
    ).collect()[0]
    assert md["n_json"] == 0 and md["n_md"] == md["n"]

    js = extract_text_column(df, options=ExtractOptions("json")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("doc_json").alias("n_json"),
        F.count("extracted_text").alias("n_md"),
        F.sum((F.col("status") == "success").cast("long")).alias("ok"),
    ).collect()[0]
    assert js["n_md"] == 0 and js["n_json"] == js["ok"]

    no_tbl = extract_text_column(
        df, options=ExtractOptions("both", enable_table_extraction=False)
    ).agg(
        F.sum(F.col("doc_json").contains('"kind":"table"').cast("long")).alias("t_json"),
        F.sum(F.exists("spans", lambda s: s["kind"] == F.lit("table")).cast("long")).alias("t_span"),
    ).collect()[0]
    assert (no_tbl["t_json"] or 0) == 0 and (no_tbl["t_span"] or 0) == 0


def test_documents_table_extraction(spark):
    """The driver's flagship path: extraction over the provided documents
    table (plain-text payloads) returns one success row per doc."""
    from docling_api_spark.operators.extract import extract_text_column

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = extract_text_column(df, keep_cols=["doc_id", "lang", "source"])
    pdf = out.toPandas()
    assert len(pdf) == df.count()
    assert (pdf["status"] == "success").all()
    assert (pdf.loc[pdf["payload_kind"] == "plain", "extracted_text"].str.len() > 0).all()
