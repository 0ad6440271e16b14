"""Sequence packing: assign documents to fixed-budget training examples.

The step after dedup/quality filtering in an LLM data pipeline: greedy
contiguous packing of documents into context-window-sized bins so the
tokenizer/loader can emit dense training examples. Exact greedy packing
is inherently sequential, so it cannot be a window cumsum (a document
that would overflow RESETS the running total — `floor(cumsum/ctx)` would
split documents across bins, which training-example assembly must never
do). The distributed design is SHARD-LOCAL packing:

- each document hashes to one of ``n_shards`` deterministic shards
  (32-byte shuffle key semantics, same pattern as the dedup family);
- one ``applyInPandas`` pass per shard packs its documents in
  deterministic ``id`` order with a tight greedy loop — a shard is
  bounded at ``corpus/n_shards`` docs, so the Python loop is over a
  bounded, Arrow-delivered batch, and all shards pack in parallel;
- bins are only ever under-full at each shard's tail, so the global
  waste is bounded by ``n_shards * (ctx_len - 1)`` tokens — noise at
  100 TB — while NO document is ever split or dropped.

Documents longer than ``ctx_len`` get a bin of their own flagged
``oversize`` (the truncation policy belongs to the tokenizer, not the
packer — same error-capsuling posture as the extraction kernel, C10).

Determinism: shard assignment is a hash of the id, in-shard order is a
sort on the id — independent of input partitioning, batch boundaries,
and engine. Exact pure-Python oracle: tests/test_packing.py.

Reference parity: the reference has no packing operator (per-document
gateway); this is part of the training-data-pipeline layer the brief
adds on top.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SHARDS = 1024

_OUT_FIELDS = [
    ("shard", T.IntegerType()),
    ("bin_idx", T.LongType()),
    ("offset_in_bin", T.LongType()),
    ("n_tokens", T.LongType()),
    ("bin_oversize", T.BooleanType()),
]


def pack_greedy(ids_tokens: list[tuple], ctx_len: int) -> list[tuple]:
    """Pure greedy packer over (id, n_tokens) pairs IN INPUT ORDER:
    returns (id, bin_idx, offset_in_bin, n_tokens, bin_oversize) rows.
    Shared verbatim by the operator (per shard) and the pytest oracle
    (whole corpus per shard) — one definition of the packing rule."""
    out = []
    bin_idx = -1
    fill = 0
    force_new = True  # first doc always opens a bin (a fill sentinel
    # would mis-place zero-token docs: fill + 0 > ctx_len is never true)
    for doc_id, n in ids_tokens:
        n = int(n)
        if n >= ctx_len:
            # oversize (or exactly full): its own bin, flagged when the
            # doc alone exceeds the budget
            bin_idx += 1
            out.append((doc_id, bin_idx, 0, n, n > ctx_len))
            force_new = True  # the NEXT doc opens a fresh bin
            continue
        if force_new or fill + n > ctx_len:
            bin_idx += 1
            fill = 0
            force_new = False
        out.append((doc_id, bin_idx, fill, n, False))
        fill += n
    return out


def pack_sequences(
    df: DataFrame,
    ctx_len: int,
    id_col: str,
    token_count_col: str,
    n_shards: int = DEFAULT_SHARDS,
) -> DataFrame:
    """Pack each document into a (shard, bin_idx) training-example slot.

    ``token_count_col`` names the document's token-count column. Output:
    one row per document with (id, shard, bin_idx, offset_in_bin, n_tokens,
    bin_oversize); ``(shard, bin_idx)`` is the training-example key and
    ``sum(n_tokens) <= ctx_len`` holds per key unless the key is a
    single flagged-oversize document.
    """
    if ctx_len <= 0:
        raise ValueError(f"ctx_len must be positive, got {ctx_len}")
    id_field = df.schema[id_col]
    counted = df.select(id_col, F.col(token_count_col).cast("long").alias("_nt"))
    sharded = counted.withColumn(
        "shard",
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_shards))
        .cast("int"),
    )
    out_schema = T.StructType(
        [T.StructField(id_col, id_field.dataType)]
        + [T.StructField(n, t) for n, t in _OUT_FIELDS]
    )

    def pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="stable")
        rows = pack_greedy(
            list(zip(pdf[id_col].tolist(), pdf["_nt"].tolist())), ctx_len
        )
        shard = int(pdf["shard"].iloc[0]) if len(pdf) else 0
        return pd.DataFrame(
            {
                id_col: [r[0] for r in rows],
                "shard": shard,
                "bin_idx": [r[1] for r in rows],
                "offset_in_bin": [r[2] for r in rows],
                "n_tokens": [r[3] for r in rows],
                "bin_oversize": [r[4] for r in rows],
            }
        )

    return sharded.groupBy("shard").applyInPandas(pack_shard, out_schema)

