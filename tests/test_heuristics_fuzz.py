"""Engine-parity fuzz for the new text operators: ONE Spark job over a
deterministic adversarial batch (seeded generator — whitespace classes
incl. vertical tab and NBSP, quote/bracket terminators, boilerplate
words, unicode), every row compared to the pure-Python replicas. This
is the cross-engine analog of the kernel property tests: Java regex \\s
vs Python, trim-vs-strip, split-limit edges."""

from __future__ import annotations

import random

from tests.test_classifier import py_features
from tests.test_heuristics import py_clean

_WORDS = [
    "alpha", "beta.", "gamma!", "delta?", "eps ilon", "javascript",
    "cookie", "policy", "Lorem", "ipsum", "{code}", 'quote."', "par)",
    "x", "", "tab\there", "9.81", "it's",
]
_WS = [" ", "  ", "\t", "\x0b", "\f", "\r", " ", ""]


def _gen_texts(n=300, seed=7):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        n_lines = rng.randint(0, 6)
        lines = []
        for _ in range(n_lines):
            n_tok = rng.randint(0, 12)
            toks = [rng.choice(_WORDS) for _ in range(n_tok)]
            sep = rng.choice(_WS) or " "
            line = rng.choice(_WS) + sep.join(toks) + rng.choice(_WS)
            lines.append(line)
        out.append((i, "\n".join(lines) if lines else rng.choice(
            ["", " ", "\x0b", " "])))
    out.append((n, None))
    return out


def test_c4_matches_replica_on_adversarial_batch(spark):
    from docling_api_spark.operators.heuristics import c4_clean_lines

    rows = _gen_texts()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {int(r["doc_id"]): r.asDict()
           for r in c4_clean_lines(df).collect()}
    for i, t in rows:
        want = py_clean(t)
        have = {k: got[i][k] for k in want}
        assert have == want, (i, repr(t), have, want)


def test_features_match_replica_on_adversarial_batch(spark):
    from docling_api_spark.operators.classifier import hashed_features

    rows = _gen_texts(n=150, seed=11)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_f = {}
    for r in hashed_features(df, n_buckets=1 << 12).collect():
        if r["feature"] is not None:
            got_f.setdefault(int(r["doc_id"]), []).append(int(r["feature"]))
    for i, t in rows:
        want = sorted(py_features(t, 1 << 12)) if t is not None else []
        assert sorted(got_f.get(i, [])) == want, (i, repr(t))


def test_domain_tokens_match_replica_on_adversarial_batch(spark):
    from docling_api_spark.operators.domains import domain_stats
    from tests.oracles import java_ws_split

    rows = _gen_texts(n=150, seed=23)
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # domain token totals over the adversarial corpus, one domain per
    # parity bucket
    dom = df.withColumn(
        "source", (df.doc_id % 3).cast("string"))
    got_d = {r["domain"]: r["total_tokens"]
             for r in domain_stats(dom).collect()}
    want_d = {}
    for i, t in rows:
        k = str(i % 3)
        n = len(java_ws_split(t.lower())) if t is not None else 0
        want_d[k] = want_d.get(k, 0) + n
    assert got_d == want_d
