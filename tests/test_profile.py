"""Corpus-report invariants vs a first-principles Python replica: token
counts, quality fixed-point arithmetic, language heuristic, histogram
percentiles, and the duplicate-rate estimate are recomputed from scratch
over the real sf0.001 documents; plus crafted corpora with hand-checked
values (dups, empty corpus, percentile edge rule)."""

from __future__ import annotations

import re

import pandas as pd

from docling_api_spark.operators.textstats import STOPWORDS

DOCS = "/root/testdata/sf0.001/documents.parquet"
_JAVA_WS = re.compile(r"[ \t\n\x0B\f\r]+")
_STOP = set(STOPWORDS)


def _toks(text: str) -> list[str]:
    return _JAVA_WS.split(text.strip(" "))


def _ratio_e4(num: int, den: int) -> float:
    return ((2 * 10000 * num + den) // (2 * den)) / 10000


def _py_doc_stats(text: str) -> dict:
    toks = _toks(text)
    n_tok = max(len(toks), 1)
    n_stop = sum(1 for t in toks if t.lower() in _STOP)
    q_num = (min(len(text), 500) * 2 * n_tok
             + 1000 * min(5 * n_stop, n_tok))
    q_den = 2000 * n_tok
    # lang-ID tokenizes lower(text) independently
    ltoks = _JAVA_WS.split(text.lower().strip(" "))
    ln_tok = max(len(ltoks), 1)
    ln_stop = sum(1 for t in ltoks if t in _STOP)
    if re.search("[一-鿿]", text):
        lang = "zh"
    elif re.search("[Ѐ-ӿ]", text):
        lang = "ru"
    elif re.search("[Ͱ-Ͽ]", text):
        lang = "el"
    elif ln_stop / ln_tok >= 0.03:
        lang = "en"
    else:
        lang = "und"
    return {
        "n_tokens": len(toks),
        "n_chars": len(text),
        "q_e4": (2 * 10000 * q_num + q_den) // (2 * q_den),
        "lang": lang,
    }


def _py_report(texts: list[str], percentiles=(50, 90, 99)) -> dict:
    stats = [_py_doc_stats(t) for t in texts]
    n = len(stats)
    counts = sorted(s["n_tokens"] for s in stats)
    rep = {
        "n_docs": n,
        "n_tokens_total": sum(s["n_tokens"] for s in stats),
        "n_chars_total": sum(s["n_chars"] for s in stats),
        "tokens_min": counts[0],
        "tokens_max": counts[-1],
        "avg_tokens": ((2 * 100 * sum(s["n_tokens"] for s in stats) + n)
                       // (2 * n)) / 100,
        "avg_quality": ((2 * 10000 * sum(s["q_e4"] for s in stats)
                         + 10000 * n) // (2 * 10000 * n)) / 10000,
        "n_unique_exact": len(set(texts)),
        "lang_dist": {},
    }
    for s in stats:
        rep["lang_dist"][s["lang"]] = rep["lang_dist"].get(s["lang"], 0) + 1
    for p in percentiles:
        need = -((-p * n) // 100)
        rep[f"tokens_p{p}"] = counts[need - 1]
    return rep


def test_report_matches_python_replica_on_real_docs(spark):
    from docling_api_spark.operators.profile import corpus_report

    texts = list(pd.read_parquet(DOCS)["text"])
    expect = _py_report(texts)
    got = corpus_report(spark.read.parquet(DOCS))

    for k in ("n_docs", "n_tokens_total", "n_chars_total", "tokens_min",
              "tokens_max", "avg_tokens", "avg_quality", "tokens_p50",
              "tokens_p90", "tokens_p99", "lang_dist"):
        assert got[k] == expect[k], k
    # HLL estimate: within the configured rsd (3 sigma) of exact
    exact = expect["n_unique_exact"]
    assert abs(got["n_unique_est"] - exact) <= max(3, 3 * 0.05 * exact)
    assert got["dup_rate_est"] == _ratio_e4(
        got["n_docs"] - got["n_unique_est"], got["n_docs"]
    )
    assert got["distinct_rsd"] == 0.05


def test_report_crafted_and_empty(spark):
    from docling_api_spark.operators.profile import corpus_report

    rows = [
        ("the cat sat on the mat",),       # en (2/6 stopwords)
        ("the cat sat on the mat",),       # exact dup
        ("xyzzy plugh qwerty",),           # und
        ("你好 world",),           # zh
        ("one two three four five six seven eight nine ten",),
    ]
    df = spark.createDataFrame(rows, "text string")
    got = corpus_report(df, percentiles=(50, 100))
    assert got["n_docs"] == 5
    assert got["n_tokens_total"] == 6 + 6 + 3 + 2 + 10
    assert got["tokens_min"] == 2 and got["tokens_max"] == 10
    # histogram [2,3,6,6,10]: p50 -> ceil(2.5)=3rd value = 6; p100 -> 10
    assert got["tokens_p50"] == 6 and got["tokens_p100"] == 10
    assert got["lang_dist"] == {"en": 2, "und": 2, "zh": 1}
    assert got["n_unique_est"] == 4  # tiny n: HLL is exact here
    assert got["dup_rate_est"] == 0.2
    assert got["avg_tokens"] == 5.4

    empty = corpus_report(
        spark.createDataFrame([], "text string"), percentiles=(50,)
    )
    assert empty["n_docs"] == 0 and empty["tokens_p50"] == 0
    assert empty["lang_dist"] == {} and empty["dup_rate_est"] == 0.0

    # NULL text profiles as the empty document — never a crash
    withnull = corpus_report(
        spark.createDataFrame(
            [("the cat sat on a mat",), (None,)], "text string"
        ),
        percentiles=(50,),
    )
    assert withnull["n_docs"] == 2
    assert withnull["tokens_min"] == 1  # split("") == [""] -> 1 token
    assert withnull["n_chars_total"] == 20


def test_top_tokens_match_replica(spark):
    from collections import Counter

    from docling_api_spark.operators.profile import top_tokens
    from tests.oracles import java_ws_split

    docs = spark.read.parquet(DOCS).select("doc_id", "text")
    got = [(r["token"], int(r["n_occurrences"]))
           for r in top_tokens(docs, 25).collect()]
    c = Counter()
    for r in docs.collect():
        if r["text"] is not None:
            c.update(t for t in java_ws_split(r["text"].lower()) if t)
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
    assert got == want
    # deterministic under repartitioning
    got2 = [(r["token"], int(r["n_occurrences"]))
            for r in top_tokens(docs.repartition(13), 25).collect()]
    assert got2 == got
