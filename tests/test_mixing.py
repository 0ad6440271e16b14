"""Mixture-builder invariants: exact multiset equality against a
first-principles Python oracle (md5 bucket + factor arithmetic recomputed
from scratch), realized token mass near the target share, determinism,
and loud failures on mis-stated mixes."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _bucket_py(key, salt: str) -> int:
    h = hashlib.md5((str(key) + salt).encode()).hexdigest()[:7]
    return int(h, 16) % 10000


def _counts(spark):
    d = spark.read.parquet(DOCS)
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return d.groupBy("source").agg(F.sum(toks).alias("n_tokens")), d


def test_mixture_matches_python_oracle_exactly(spark):
    from docling_api_spark.operators.mixing import build_mixture, mixture_rates

    counts, d = _counts(spark)
    budget = 120_000
    have = {r["source"]: r["n_tokens"] for r in counts.collect()}
    weights = {s: 1 + i % 4 for i, s in enumerate(sorted(have))}
    rates = mixture_rates(counts, budget, weights=weights)
    plan = {r["source"]: (r["n_copies"], r["frac_bp"]) for r in rates.collect()}
    got = {
        (r["doc_id"], r["epoch"])
        for r in build_mixture(d, rates).select("doc_id", "epoch").collect()
    }
    # first-principles oracle: recompute factors from the weights and
    # the raw counts
    total = sum(weights.values())
    expect = set()
    for row in d.select("doc_id", "source").collect():
        share = weights[row["source"]] / total
        factor = budget * share / have[row["source"]]
        n_copies = int(factor)
        frac_bp = round((factor - n_copies) * 10000)
        if frac_bp == 10000:
            n_copies, frac_bp = n_copies + 1, 0
        assert plan[row["source"]] == (n_copies, frac_bp)
        for e in range(n_copies):
            expect.add((row["doc_id"], e))
        if _bucket_py(row["doc_id"], "mix") < frac_bp:
            expect.add((row["doc_id"], n_copies))
    assert got == expect


def test_mixture_hits_target_token_shares(spark):
    from docling_api_spark.operators.mixing import build_mixture, mixture_rates

    counts, d = _counts(spark)
    srcs = sorted(r["source"] for r in counts.select("source").collect())
    a, b = srcs[0], srcs[1]
    budget = 200_000
    rates = mixture_rates(counts, budget, weights={a: 3.0, b: 1.0})
    mixed = build_mixture(d, rates)
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    by = {
        r["source"]: r["t"]
        for r in mixed.groupBy("source").agg(F.sum(toks).alias("t")).collect()
    }
    # only weighted sources appear; realized mass within 5% of target
    assert set(by) <= {a, b}
    assert abs(by[a] - budget * 0.75) / (budget * 0.75) < 0.05
    assert abs(by[b] - budget * 0.25) / (budget * 0.25) < 0.05
    # up-sampled source carries multiple epochs; every copy is a real doc
    n_docs_a = d.filter(F.col("source") == a).count()
    n_rows_a = mixed.filter(F.col("source") == a).count()
    if by[a] > 1.5 * counts.filter(F.col("source") == a).collect()[0]["n_tokens"]:
        assert n_rows_a > n_docs_a
    # deterministic: second materialization is identical
    again = {
        (r["doc_id"], r["epoch"])
        for r in build_mixture(d, rates).select("doc_id", "epoch").collect()
    }
    first = {
        (r["doc_id"], r["epoch"])
        for r in mixed.select("doc_id", "epoch").collect()
    }
    assert first == again


def test_mixture_rates_fails_loudly(spark):
    from docling_api_spark.operators.mixing import mixture_rates

    counts, _ = _counts(spark)
    src = counts.select("source").collect()[0]["source"]
    with pytest.raises(ValueError, match="positive"):
        mixture_rates(counts, 0, weights={src: 1.0})
    with pytest.raises(ValueError, match="unknown sources"):
        mixture_rates(counts, 1000, weights={"no_such_source": 1.0})
    with pytest.raises(ValueError, match="full epochs"):
        mixture_rates(counts, 10**15, weights={src: 1.0})
