"""DSIR selection vs a first-principles replica: the Gumbel key
recomputed from the pure-Python xxhash64 and the Spark-trained weight
table (u's division is correctly rounded on both engines, but the two
nested logs are libm calls — compared with relative tolerance, matching
the repo's documented Math.log-vs-math.log ulp posture), selection-shift
sanity (target-like docs overrepresented), salt independence, and
parallelism invariance."""

from __future__ import annotations

import math

from tests.oracles import SPARK_SEED, _signed, _xxh64_long, xxh64_bytes

SCALE = 1 << 20
_U_BITS = 40
_U_DEN = float((1 << _U_BITS) + 1)

TARGETY = [
    "the spark planner prunes columns and pushes filters to the scan "
    "while the optimizer reorders joins " * 3,
    "broadcast joins ship small tables to workers and skip the "
    "shuffle exchange entirely " * 3,
    "adaptive execution re-plans skewed shuffles at runtime using "
    "observed partition sizes " * 3,
]
RAWY = [
    "win free prizes now click here subscribe today " * 4,
    "cheap deals best price limited offer buy now " * 4,
    "celebrity gossip shocking photos you will not believe " * 4,
]


def _hash_str_long(s: str, v: int) -> int:
    h = xxh64_bytes(s.encode("utf-8"), SPARK_SEED)
    return _signed(_xxh64_long(v, h))


def py_gumbel_key(doc_id: int, score_scaled: int, scale=SCALE,
                  temperature=1.0, salt="dsir") -> float:
    u = (_hash_str_long(salt, doc_id) % (1 << _U_BITS) + 1) / _U_DEN
    assert 0.0 < u < 1.0
    g = -math.log(-math.log(u))
    return score_scaled / (float(scale) * float(temperature)) + g


def _frames(spark):
    """Corpus = interleaved target-like and raw-like docs (ids encode
    the kind); seeds are held-out paraphrases of each side."""
    corpus = [
        (i, (TARGETY if i % 2 == 0 else RAWY)[i % 3] + f" v{i}")
        for i in range(60)
    ]
    target = [(1000 + i, t) for i, t in enumerate(TARGETY)]
    raw = [(2000 + i, t) for i, t in enumerate(RAWY)]
    mk = lambda rs: spark.createDataFrame(rs, "doc_id long, text string")
    return mk(corpus), mk(target), mk(raw), corpus


def test_selection_matches_replica(spark):
    from docling_api_spark.operators.dsir import (
        dsir_importance, dsir_select)

    corpus, target, raw, _ = _frames(spark)
    scored, _ = dsir_importance(corpus, target, raw)
    scores = {int(r["doc_id"]): int(r["score_scaled"])
              for r in scored.collect()}
    got = [(int(r["doc_id"]), float(r["dsir_key"]))
           for r in dsir_select(corpus, target, raw, k=10).collect()]
    want_keys = {i: py_gumbel_key(i, s) for i, s in scores.items()}
    want = sorted(want_keys.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    # same ids in the same order; keys to relative tolerance (the two
    # nested libm logs may differ by an ulp between JVM and CPython)
    assert [i for i, _ in want] == [i for i, _ in got]
    for (i, wk), (_, gk) in zip(want, got):
        assert abs(gk - wk) <= 1e-9 * max(1.0, abs(wk)), i


def test_selection_shifts_toward_target(spark):
    from docling_api_spark.operators.dsir import dsir_select

    corpus, target, raw, rows = _frames(spark)
    sel = {int(r["doc_id"]) for r in
           dsir_select(corpus, target, raw, k=20).collect()}
    n_targety = sum(1 for i in sel if i % 2 == 0)
    # corpus is 50/50; the selection must be strongly target-shifted
    assert n_targety >= 16, n_targety
    # low temperature sharpens further (greedy top-k by score)
    sharp = {int(r["doc_id"]) for r in
             dsir_select(corpus, target, raw, k=20,
                         temperature=1e-6).collect()}
    assert sum(1 for i in sharp if i % 2 == 0) >= n_targety


def test_salt_and_invariance(spark):
    from docling_api_spark.operators.dsir import dsir_select

    corpus, target, raw, _ = _frames(spark)

    def run(c, salt="dsir"):
        return [int(r["doc_id"]) for r in
                dsir_select(c, target, raw, k=12, salt=salt).collect()]

    a = run(corpus)
    assert a == run(corpus.repartition(7))
    b = run(corpus, salt="resample1")
    assert a != b  # a fresh resample is a different draw
    assert len(set(a)) == 12 and len(set(b)) == 12
