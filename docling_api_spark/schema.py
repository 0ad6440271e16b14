"""Canonical schemas for the extraction engine.

Input table (BASELINE.json ``input_hint``): multi-turn transcripts.
Output table mirrors the reference's ``DocumentResult`` shape
(reference api/models/schemas.py:138-146) with spans added per the
north rule ("cleaned text plus span offsets").
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

SPAN_STRUCT = T.StructType(
    [
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("node_id", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
    ]
)

# Columns appended by the extraction operator (reference DocumentResult:
# status / pages / markdown / json / error — schemas.py:138-146; spans are
# ours). extracted_text / doc_json are NULL when not requested by the
# output_format option (P2 gating, docling_client.py:452-456).
EXTRACT_RESULT_FIELDS = [
    T.StructField("status", T.StringType(), False),
    T.StructField("payload_kind", T.StringType(), False),
    T.StructField("extracted_text", T.StringType(), True),
    T.StructField("doc_json", T.StringType(), True),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    T.StructField("pages", T.IntegerType(), False),
    T.StructField("n_nodes", T.IntegerType(), False),
    T.StructField("error", T.StringType(), True),
]

# Per-partition lineage row (north rule: source snapshot id, partition id,
# rows in/out, extraction error counts; analog of the reference's
# usage_records table, api/models/db_models.py:128-160).
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("snapshot_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("n_success", T.LongType(), False),
        T.StructField("n_error", T.LongType(), False),
        T.StructField("n_skipped_ocr", T.LongType(), False),
        # oversize errors broken out of n_error: the signal that the
        # per-turn payload cap (ExtractOptions.max_payload_chars) is
        # silently truncating the corpus's long-document tail
        T.StructField("n_oversize", T.LongType(), False),
        T.StructField("pages", T.LongType(), False),
        T.StructField("credits", T.LongType(), False),
    ]
)
