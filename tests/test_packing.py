"""Pure-Python-oracle tests for the sequence-packing operator: the Spark
result is compared against a brute-force per-shard recompute (the shared
``pack_greedy`` rule applied to the same deterministic shard/order
definition), plus the packing invariants that must hold on ANY input."""

from __future__ import annotations

import random


def _spark_shards(spark, rows, n_shards):
    """The operator's exact shard definition, recomputed independently
    through the engine (pmod(xxhash64(id), n) has no pure-Python twin —
    xxhash64 seeds differ — so the oracle derives shard ids from a
    one-column Spark job and does everything else in Python)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(r[0],) for r in rows], "doc_id string")
    got = df.select(
        "doc_id",
        F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(n_shards))
        .cast("int").alias("shard"),
    ).collect()
    return {r["doc_id"]: r["shard"] for r in got}


def _oracle(rows, shard_of, ctx_len):
    from docling_api_spark.operators.packing import pack_greedy

    by_shard: dict[int, list] = {}
    for doc_id, n in rows:
        by_shard.setdefault(shard_of[doc_id], []).append((doc_id, n))
    want = {}
    for shard, docs in by_shard.items():
        docs.sort(key=lambda d: d[0])
        for doc_id, bin_idx, off, n, oversize in pack_greedy(docs, ctx_len):
            want[doc_id] = (shard, bin_idx, off, n, oversize)
    return want


def _case(spark, rows, ctx_len, n_shards):
    from docling_api_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(rows, "doc_id string, n_tokens long")
    got = {
        r["doc_id"]: (r["shard"], r["bin_idx"], r["offset_in_bin"],
                      r["n_tokens"], r["bin_oversize"])
        for r in pack_sequences(df, ctx_len, "doc_id", "n_tokens",
                                n_shards=n_shards).collect()
    }
    want = _oracle(rows, _spark_shards(spark, rows, n_shards), ctx_len)
    assert got == want


def test_pack_sequences_randomized(spark):
    rng = random.Random(77)
    rows = [(f"doc_{i:05d}", rng.choice([0, 1, 3, 10, 40, 120, 300]))
            for i in range(400)]
    _case(spark, rows, ctx_len=128, n_shards=8)


def test_pack_invariants(spark):
    """Invariants on a skewed corpus: no bin over budget unless it is a
    single flagged-oversize doc; offsets tile each bin contiguously; no
    doc dropped or duplicated; result independent of input partitioning."""
    from docling_api_spark.operators.packing import pack_sequences

    rng = random.Random(5)
    rows = [(f"d{i:04d}", rng.randrange(0, 200)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id string, n_tokens long")
    packed = pack_sequences(df, 96, "doc_id", "n_tokens", n_shards=4)
    rs = packed.collect()
    assert len(rs) == len(rows) and len({r["doc_id"] for r in rs}) == len(rows)
    bins: dict[tuple, list] = {}
    for r in rs:
        bins.setdefault((r["shard"], r["bin_idx"]), []).append(r)
    for key, members in bins.items():
        members.sort(key=lambda r: r["offset_in_bin"])
        total = sum(r["n_tokens"] for r in members)
        if any(r["bin_oversize"] for r in members):
            assert len(members) == 1 and total > 96
        else:
            assert total <= 96
        off = 0
        for r in members:
            assert r["offset_in_bin"] == off
            off += r["n_tokens"]
    # partitioning invariance: same assignment from a repartitioned input
    again = {
        r["doc_id"]: (r["shard"], r["bin_idx"], r["offset_in_bin"])
        for r in pack_sequences(df.repartition(13), 96, "doc_id",
                                "n_tokens", n_shards=4).collect()
    }
    assert again == {r["doc_id"]: (r["shard"], r["bin_idx"],
                                   r["offset_in_bin"]) for r in rs}


def test_pack_precomputed_counts_and_edge_cases(spark):
    from docling_api_spark.operators.packing import pack_sequences

    import pytest as _pytest

    df = spark.createDataFrame(
        [("a", 50), ("b", 100), ("c", 101), ("d", 0)],
        "doc_id string, n_tok long",
    )
    got = {
        r["doc_id"]: r
        for r in pack_sequences(df, 100, "doc_id", "n_tok",
                                n_shards=1).collect()
    }
    # exactly-full doc gets its own unflagged bin; the over-budget one
    # is flagged; zero-token doc packs normally
    assert got["b"]["bin_oversize"] is False
    assert got["c"]["bin_oversize"] is True
    assert {r["n_tokens"] for r in got.values()} == {50, 100, 101, 0}
    with _pytest.raises(ValueError, match="positive"):
        pack_sequences(df, 0, "doc_id", "n_tok")


# --- token-window chunking (operators/chunking.py) --------------------------


def _chunk_oracle(rows, ctx_len, stride):
    """Pure-Python twin of chunk_documents: Spark-parity tokens (trim is
    SPACE-only; split is Java-\\s+ i.e. ASCII [ \\t\\n\\x0B\\f\\r]+ with
    limit -1, so leading non-space whitespace yields an empty first
    token) windowed by the n_chunks_for rule."""
    import re

    from tests.oracles import n_chunks_for

    want = set()
    for doc_id, text in rows:
        t = (text or "").strip(" ")
        toks = [] if t == "" else re.split("[ \t\n\x0b\f\r]+", t)
        k = n_chunks_for(len(toks), ctx_len, stride)
        for i in range(k):
            w = toks[i * stride: i * stride + ctx_len]
            want.add((doc_id, i, i * stride, len(w), " ".join(w)))
    return want


def test_chunk_documents_matches_oracle(spark):
    from pyspark.sql import functions as F

    from docling_api_spark.operators.chunking import chunk_documents

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    rows = [(r["doc_id"], r["text"]) for r in d.collect()]
    for ctx_len, stride in [(32, 32), (32, 24), (7, 1), (100000, 100000)]:
        got = {
            tuple(r)
            for r in chunk_documents(d, ctx_len, stride).collect()
        }
        assert got == _chunk_oracle(rows, ctx_len, stride), (ctx_len, stride)
    # partitioning invariance
    g1 = {tuple(r) for r in chunk_documents(d.repartition(7), 32, 24).collect()}
    assert g1 == _chunk_oracle(rows, 32, 24)


def test_chunk_documents_edges_and_invariants(spark):
    from pyspark.sql import functions as F

    from docling_api_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame(
        [
            (1, None),                      # NULL -> one empty chunk
            (2, ""),                        # empty -> one empty chunk
            (3, "   "),                     # spaces only -> one empty chunk
            (4, "a"),                       # single token
            (5, " ".join(f"t{i}" for i in range(10))),   # exact multiple
            (6, " ".join(f"t{i}" for i in range(11))),   # one over
            (7, "\tlead tab"),              # Spark trim is space-only:
                                            # leading tab -> empty token
        ],
        "doc_id long, text string",
    )
    got = {tuple(r) for r in chunk_documents(df, 5, 5).collect()}
    assert got == _chunk_oracle(
        [(r["doc_id"], r["text"]) for r in df.collect()], 5, 5
    )
    # never-drop: every input id appears
    assert {r[0] for r in got} == {1, 2, 3, 4, 5, 6, 7}
    # empty docs are one zero-token chunk, not absent
    assert (1, 0, 0, 0, "") in got and (3, 0, 0, 0, "") in got
    # doc 5 (10 tokens, ctx 5 disjoint): 2 full windows; doc 6: 3rd short
    assert sum(1 for g in got if g[0] == 5) == 2
    assert sum(1 for g in got if g[0] == 6) == 3

    # overlap semantics: with stride < ctx consecutive windows share
    # exactly ctx-stride tokens, and disjoint stride reconstructs the
    # token stream in order
    text = " ".join(f"w{i}" for i in range(23))
    one = spark.createDataFrame([(9, text)], "doc_id long, text string")
    over = sorted(
        (r["chunk_idx"], r["chunk_text"])
        for r in chunk_documents(one, 8, 5).collect()
    )
    for (_, a), (_, b) in zip(over, over[1:]):
        assert a.split()[5:] == b.split()[: len(a.split()) - 5]
    flat = sorted(
        (r["chunk_idx"], r["chunk_text"])
        for r in chunk_documents(one, 8, 8).collect()
    )
    assert " ".join(t for _, t in flat) == text

    import pytest as _pytest

    with _pytest.raises(ValueError, match="stride"):
        chunk_documents(df, 8, 9)
    with _pytest.raises(ValueError, match="ctx_len"):
        chunk_documents(df, 0)
    with _pytest.raises(ValueError, match="reserved"):
        chunk_documents(df.withColumn("chunk_idx", F.lit(1)), 8)
