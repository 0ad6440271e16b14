"""Hashed-n-gram NB classifier vs a first-principles Python replica:
feature extraction and (feature, class) counts exactly, weights within
the documented ±1 scaled-unit log ulp, scoring EXACTLY given the trained
weight table. Plus parallelism invariance and an end-to-end quality-
filter separation check on real sf0.001 documents + synthetic junk."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from tests.oracles import java_ws_split, spark_xxhash64, spark_xxhash64_longs

DOCS = "/root/testdata/sf0.001/documents.parquet"
V, SCALE, ALPHA = 1 << 12, 1 << 20, 1


def py_features(text: str, n_buckets: int = V):
    """Replica of hashed_features: unigram pmod(xxhash64(tok), V); bigram
    pmod(xxhash64(h_i, h_{i+1}), V) over adjacent token hashes."""
    toks = java_ws_split(text.lower())
    th = [spark_xxhash64(t) for t in toks]
    return [h % n_buckets for h in th] + [
        spark_xxhash64_longs([th[i], th[i + 1]]) % n_buckets
        for i in range(len(th) - 1)
    ]


def py_train(rows, positive, n_buckets=V, alpha=ALPHA, scale=SCALE):
    """(counts, weights, prior, default) replica of nb_train."""
    c_pos, c_neg = Counter(), Counter()
    n_pos = n_neg = 0
    for label, text in rows:
        if text is None:
            continue
        tgt = c_pos if label == positive else c_neg
        if label == positive:
            n_pos += 1
        else:
            n_neg += 1
        for f in py_features(text, n_buckets):
            tgt[f] += 1
    t_pos, t_neg = sum(c_pos.values()), sum(c_neg.values())
    const = math.log(t_neg + alpha * n_buckets) - math.log(
        t_pos + alpha * n_buckets)
    weights = {
        f: round((math.log(c_pos[f] + alpha) - math.log(c_neg[f] + alpha)
                  + const) * scale)
        for f in set(c_pos) | set(c_neg)
    }
    prior = round((math.log(n_pos) - math.log(n_neg)) * scale)
    return (c_pos, c_neg), weights, prior, round(const * scale)


JUNK = [
    "buy cheap pills online now " * 12,
    "click here win prize click here win prize " * 8,
    "free money free money free money casino bonus " * 7,
    "viagra discount viagra discount best price " * 9,
    "subscribe like share subscribe like share " * 10,
    "hot singles in your area click now " * 11,
]


@pytest.fixture(scope="module")
def labeled(spark):
    """sf0.001 docs (positives) + synthetic junk (negatives), split into
    train/held-out by doc_id parity. Returns (train_df, held_df,
    train_rows, held_rows)."""
    base = [
        (int(r["doc_id"]), r["text"])
        for r in spark.read.parquet(DOCS)
        .select("doc_id", "text").limit(60).collect()
    ]
    junk = [(10_000 + i, t) for i, t in enumerate(JUNK * 3)]
    rows = [(i, t, "good") for i, t in base] + [
        (i, t, "junk") for i, t in junk
    ]
    train_rows = [r for r in rows if r[0] % 2 == 0]
    held_rows = [r for r in rows if r[0] % 2 == 1]
    mk = lambda rs: spark.createDataFrame(
        rs, "doc_id long, text string, label string")
    return mk(train_rows), mk(held_rows), train_rows, held_rows


def _model(labeled):
    from docling_api_spark.operators.classifier import nb_train

    train_df, _, _, _ = labeled
    return nb_train(train_df, positive="good", n_buckets=V)


def test_counts_and_weights_match_replica(spark, labeled):
    from docling_api_spark.operators.classifier import (
        hashed_features, nb_train)

    train_df, _, train_rows, _ = labeled
    got = sorted(
        (int(r["doc_id"]), int(r["feature"]))
        for r in hashed_features(train_df, n_buckets=V).collect()
        if r["feature"] is not None
    )
    want = sorted(
        (i, f) for i, t, _ in train_rows for f in py_features(t)
    )
    assert got == want

    weights, meta = nb_train(train_df, positive="good", n_buckets=V)
    (c_pos, c_neg), py_w, py_prior, py_default = py_train(
        [(lbl, t) for _, t, lbl in train_rows], "good")
    assert meta["t_pos"] == sum(c_pos.values())
    assert meta["t_neg"] == sum(c_neg.values())
    got_w = {int(r["feature"]): int(r["weight_scaled"])
             for r in weights.collect()}
    assert set(got_w) == set(py_w)
    # per-feature JVM Math.log vs Python math.log: documented ±1 ulp
    # at the quantization boundary
    off = {f: (got_w[f], py_w[f]) for f in py_w
           if abs(got_w[f] - py_w[f]) > 1}
    assert not off, off
    assert abs(meta["prior_scaled"] - py_prior) <= 1
    assert abs(meta["default_scaled"] - py_default) <= 1


def test_scoring_exact_given_trained_table(spark, labeled):
    """Given the Spark-trained weight table, scores replicate EXACTLY in
    pure Python (long sums are order-free)."""
    from docling_api_spark.operators.classifier import nb_score

    _, held_df, _, held_rows = labeled
    weights, meta = _model(labeled)
    table = {int(r["feature"]): int(r["weight_scaled"])
             for r in weights.collect()}
    got = {
        int(r["doc_id"]): (int(r["n_features"]), int(r["score_scaled"]),
                           bool(r["keep"]))
        for r in nb_score(held_df, weights, meta).collect()
    }
    assert set(got) == {i for i, _, _ in held_rows}
    for i, t, _ in held_rows:
        feats = py_features(t)
        want = meta["prior_scaled"] + sum(
            table.get(f, meta["default_scaled"]) for f in feats)
        assert got[i] == (len(feats), want, want >= 0), i


def test_null_text_scores_prior_only(spark, labeled):
    from docling_api_spark.operators.classifier import nb_score

    weights, meta = _model(labeled)
    df = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string")
    rows = {int(r["doc_id"]): r for r in
            nb_score(df, weights, meta).collect()}
    assert rows[1]["n_features"] == 0
    assert int(rows[1]["score_scaled"]) == meta["prior_scaled"]
    # empty string tokenizes to one empty token (split semantics), so it
    # carries exactly one unigram feature — present, not dropped
    assert rows[2]["n_features"] == 1


def test_parallelism_invariance(spark, labeled):
    from docling_api_spark.operators.classifier import nb_score

    _, held_df, _, _ = labeled
    weights, meta = _model(labeled)

    def run(df):
        return sorted(
            (int(r["doc_id"]), int(r["score_scaled"]))
            for r in nb_score(df, weights, meta).collect()
        )

    assert run(held_df.repartition(1)) == run(held_df.repartition(7))


def test_separates_junk_from_real_docs(spark, labeled):
    from docling_api_spark.operators.classifier import nb_score

    _, held_df, _, held_rows = labeled
    weights, meta = _model(labeled)
    got = {int(r["doc_id"]): bool(r["keep"])
           for r in nb_score(held_df, weights, meta).collect()}
    labels = {i: lbl for i, _, lbl in held_rows}
    acc = sum(got[i] == (labels[i] == "good") for i in got) / len(got)
    assert acc >= 0.9, acc


def test_single_class_training_raises(spark, labeled):
    from docling_api_spark.operators.classifier import nb_train

    train_df, _, _, _ = labeled
    with pytest.raises(ValueError):
        nb_train(train_df.filter("label = 'good'"), positive="good")


def test_null_labels_raise(spark, labeled):
    from docling_api_spark.operators.classifier import nb_train
    from pyspark.sql import functions as F

    train_df, _, _, _ = labeled
    nulled = train_df.withColumn(
        "label",
        F.when(F.col("doc_id") % 10 == 0, F.lit(None)).otherwise(
            F.col("label")),
    )
    with pytest.raises(ValueError, match="NULL"):
        nb_train(nulled, positive="good")
