"""Token-window document chunking: long documents -> overlapping
fixed-budget windows.

The complement of sequence packing (operators/packing.py): packing fills
a context window with many SHORT documents; chunking splits one LONG
document into ctx_len-token windows advancing by ``stride`` tokens
(overlap = ctx_len - stride), the standard pretraining treatment so no
token is ever dropped and window boundaries don't orphan context.

Entirely JVM-side whole-stage codegen — split/filter/sequence/explode/
slice/array_join higher-order expressions, no Python in the plan — so it
runs at scan speed and parallelizes per document row: no shuffle, no
state, deterministic for any partitioning. A 100 TB corpus chunks in one
map stage.

Tokens are whitespace runs (the same engine-parity definition as
textstats/packing: split on ``\\s+`` after trim). Chunk text is the
token slice re-joined with single spaces — chunking operates on the
token stream, so original inter-token whitespace is normalized exactly
like a tokenizer would.

Empty/NULL documents emit one empty chunk (n_tokens = 0) rather than
disappearing — the never-drop accountability posture of the extraction
kernel (C10): every input id is present in the output.

Reference parity: the reference has no chunking operator (per-document
gateway); this is part of the training-data-pipeline layer the brief
adds on top. Exact pure-Python oracle: tests/test_packing.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_RESERVED = ("_toks", "_n", "_n_chunks", "chunk_idx")


def chunk_documents(
    df: DataFrame,
    ctx_len: int = 512,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Explode each document into overlapping token windows.

    Output, one row per (document, window): ``(id_col, chunk_idx,
    token_start, n_tokens, chunk_text)`` where ``token_start`` is the
    0-based token offset of the window and windows advance by ``stride``
    tokens (default ``ctx_len`` — disjoint windows, no overlap). Every
    token of every document is covered; consecutive windows overlap by
    ``ctx_len - stride`` tokens; only the LAST window of a document may
    be short.
    """
    stride = ctx_len if stride is None else stride
    if ctx_len <= 0:
        raise ValueError(f"ctx_len must be positive, got {ctx_len}")
    if not 0 < stride <= ctx_len:
        raise ValueError(
            f"stride must be in (0, ctx_len={ctx_len}], got {stride}"
        )
    clash = [c for c in _RESERVED if c in df.columns and c != id_col]
    if clash:
        raise ValueError(
            f"chunk_documents: input columns {clash} collide with "
            "reserved scratch/output names"
        )

    toks = (
        df.select(
            id_col,
            F.when(
                F.col(text_col).isNull() | (F.trim(text_col) == ""),
                F.array().cast("array<string>"),
            )
            .otherwise(F.split(F.trim(text_col), r"\s+"))
            .alias("_toks"),
        )
        .withColumn("_n", F.size("_toks"))
    )
    # window count covering _n tokens: ceil((n - ctx)/stride) + 1
    # for n > ctx, else 1 — integer `div` on the biased numerator, no
    # float round-trip at any document length.
    n_chunks = F.when(
        F.col("_n") <= ctx_len, F.lit(1)
    ).otherwise(
        F.expr(
            f"(_n - {ctx_len} + {stride} - 1) div {stride}"
        ).cast("int") + F.lit(1)
    )
    return (
        toks.withColumn("_n_chunks", n_chunks)
        .select(
            id_col,
            "_toks",
            F.explode(
                F.sequence(F.lit(0), F.col("_n_chunks") - 1)
            ).alias("chunk_idx"),
        )
        .select(
            id_col,
            "chunk_idx",
            (F.col("chunk_idx") * stride).alias("token_start"),
            F.slice(
                F.col("_toks"), F.col("chunk_idx") * stride + 1, ctx_len
            ).alias("_w"),
        )
        .select(
            id_col,
            "chunk_idx",
            "token_start",
            F.size("_w").alias("n_tokens"),
            F.array_join("_w", " ").alias("chunk_text"),
        )
    )
