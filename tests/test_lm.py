"""Bigram-LM perplexity filter vs a first-principles Python replica:
pair stream and (prev, cur)/context counts exactly, log-prob tables
within the documented ±1 scaled-unit log ulp, scoring EXACTLY given the
trained tables. Plus parallelism invariance and the CCNet sanity check:
reference-like held-out text scores lower perplexity than gibberish."""

from __future__ import annotations

import math
from collections import Counter

from tests.oracles import java_ws_split, spark_xxhash64

DOCS = "/root/testdata/sf0.001/documents.parquet"
V, SCALE, ALPHA = 1 << 12, 1 << 20, 1
BOS = V


def py_pairs(text: str, n_buckets: int = V):
    tb = [spark_xxhash64(t) % n_buckets
          for t in java_ws_split(text.lower())]
    return list(zip([BOS] + tb[:-1], tb))


def py_train(texts, n_buckets=V, alpha=ALPHA, scale=SCALE):
    c_bi = Counter()
    for t in texts:
        if t is not None:
            c_bi.update(py_pairs(t, n_buckets))
    c_ctx = Counter()
    for (p, _), n in c_bi.items():
        c_ctx[p] += n
    av = float(alpha * n_buckets)
    bigrams = {
        pc: round((math.log(n + alpha) - math.log(c_ctx[pc[0]] + av))
                  * scale)
        for pc, n in c_bi.items()
    }
    contexts = {
        p: round((math.log(alpha) - math.log(n + av)) * scale)
        for p, n in c_ctx.items()
    }
    return c_bi, c_ctx, bigrams, contexts


def _split(spark):
    rows = [
        (int(r["doc_id"]), r["text"])
        for r in spark.read.parquet(DOCS)
        .select("doc_id", "text").limit(80).collect()
    ]
    train = [r for r in rows if r[0] % 2 == 0]
    held = [r for r in rows if r[0] % 2 == 1]
    mk = lambda rs: spark.createDataFrame(rs, "doc_id long, text string")
    return mk(train), mk(held), train, held


def test_counts_and_tables_match_replica(spark):
    from docling_api_spark.operators.lm import _pair_stream, train_lm

    train_df, _, train_rows, _ = _split(spark)
    got_pairs = sorted(
        (int(r["doc_id"]), int(r["prev"]), int(r["cur"]))
        for r in _pair_stream(train_df, "doc_id", "text", V).collect()
    )
    want_pairs = sorted(
        (i, p, c) for i, t in train_rows for p, c in py_pairs(t)
    )
    assert got_pairs == want_pairs

    bigrams, contexts, meta = train_lm(train_df, n_buckets=V, scale=SCALE)
    _, _, py_bi, py_ctx = py_train([t for _, t in train_rows])
    got_bi = {(int(r["prev"]), int(r["cur"])): int(r["lp_scaled"])
              for r in bigrams.collect()}
    got_ctx = {int(r["prev"]): int(r["miss_lp_scaled"])
               for r in contexts.collect()}
    assert set(got_bi) == set(py_bi) and set(got_ctx) == set(py_ctx)
    assert all(abs(got_bi[k] - py_bi[k]) <= 1 for k in py_bi)
    assert all(abs(got_ctx[k] - py_ctx[k]) <= 1 for k in py_ctx)
    assert meta["unseen_scaled"] == round(-math.log(V) * SCALE)


def test_scoring_exact_given_trained_tables(spark):
    from docling_api_spark.operators.lm import score_lm, train_lm

    train_df, held_df, _, held_rows = _split(spark)
    bigrams, contexts, meta = train_lm(train_df, n_buckets=V, scale=SCALE)
    bi = {(int(r["prev"]), int(r["cur"])): int(r["lp_scaled"])
          for r in bigrams.collect()}
    ctx = {int(r["prev"]): int(r["miss_lp_scaled"])
           for r in contexts.collect()}
    got = {
        int(r["doc_id"]): (int(r["n_pred"]), int(r["logprob_scaled"]),
                           r["avg_logprob"], r["perplexity"])
        for r in score_lm(held_df, bigrams, contexts, meta).collect()
    }
    assert set(got) == {i for i, _ in held_rows}
    for i, t in held_rows:
        pairs = py_pairs(t)
        lp = sum(
            bi.get(pc, ctx.get(pc[0], meta["unseen_scaled"]))
            for pc in pairs
        )
        n, glp, gavg, gppl = got[i]
        assert (n, glp) == (len(pairs), lp), i
        want_avg = float(lp) / (float(len(pairs)) * float(SCALE))
        assert gavg == want_avg, i
        assert abs(gppl - math.exp(-want_avg)) <= 1e-9 * abs(gppl)


def test_null_and_empty_text(spark):
    from docling_api_spark.operators.lm import score_lm, train_lm

    train_df, _, _, _ = _split(spark)
    model = train_lm(train_df, n_buckets=V, scale=SCALE)
    df = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string")
    rows = {int(r["doc_id"]): r for r in score_lm(df, *model).collect()}
    assert rows[1]["n_pred"] == 0 and rows[1]["avg_logprob"] is None
    assert rows[1]["perplexity"] is None
    # empty string tokenizes to one empty token -> one BOS prediction
    assert rows[2]["n_pred"] == 1


def test_parallelism_invariance(spark):
    from docling_api_spark.operators.lm import score_lm, train_lm

    train_df, held_df, _, _ = _split(spark)
    model = train_lm(train_df, n_buckets=V, scale=SCALE)

    def run(df):
        return sorted(
            (int(r["doc_id"]), int(r["logprob_scaled"]))
            for r in score_lm(df, *model).collect()
        )

    assert run(held_df.repartition(1)) == run(held_df.repartition(7))


def test_reference_text_beats_gibberish(spark):
    """In-domain held-out text must score lower perplexity than
    token-salad over the same vocabulary — the CCNet filtering signal.
    The sf corpus is itself a near-random bag of words (no bigram
    structure to learn), so the reference here is a constructed corpus
    with real phrase structure."""
    from docling_api_spark.operators.lm import score_lm, train_lm

    sents = [
        "the query planner pushes the filter below the scan",
        "the shuffle writes sorted blocks to local disk",
        "a broadcast join ships the small table to every worker",
        "the optimizer prunes unused columns from the scan",
        "each executor caches the hot partition in memory",
        "the stream commits one batch after every trigger",
    ]
    train = [
        (i, ". ".join(sents[j % 6] for j in range(i, i + 4)))
        for i in range(60)
    ]
    held = [
        (1000 + i, ". ".join(sents[(i * 3 + 1) % 6] for _ in range(3)))
        for i in range(12)
    ]
    gib = []
    for i, t in held:
        toks = sorted(set(java_ws_split(t.lower())),
                      key=lambda w: spark_xxhash64(w))
        gib.append((100_000 + i, " ".join(toks * 3)))
    model = train_lm(
        spark.createDataFrame(train, "doc_id long, text string"),
        n_buckets=V, scale=SCALE)
    both = spark.createDataFrame(held + gib, "doc_id long, text string")
    ppl = {int(r["doc_id"]): r["perplexity"]
           for r in score_lm(both, *model).collect()}
    worst_real = max(ppl[i] for i, _ in held)
    best_fake = min(ppl[i] for i, _ in gib)
    # every in-domain doc beats every scrambled doc, with a wide margin
    # at the medians
    assert worst_real < best_fake
    real = sorted(ppl[i] for i, _ in held)
    fake = sorted(ppl[i] for i, _ in gib)
    assert real[len(real) // 2] * 5 < fake[len(fake) // 2]
