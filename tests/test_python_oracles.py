"""Independent pure-Python oracles for the engine-hash operators the
DuckDB contract cannot check (VERDICT r01: 'shrink the no_oracle set').

Each test recomputes the operator's output from first principles —
tests/oracles.py's XXH64 (validated against the live Spark expression in
the first test), Java-\\s tokenization, shingling, banding — and demands
exact equality with the Spark DataFrame result. A regression in any of
dedup_simhash / dedup_minhash_lsh / text_fingerprint now fails loudly
instead of showing up only as a row-count drift; the embedding-LSH /
ANN queries get strict soundness (every emitted row re-verified in
numpy) plus deterministic-recall floors against the exact baseline.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.oracles import (
    band_keys_py,
    java_ws_split,
    minhash_sig_py,
    spark_xxhash64,
    spark_xxhash64_long_int,
    spark_xxhash64_longs,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"
EMB = "/root/testdata/sf0.001/embeddings.parquet"


def test_xxh64_matches_spark(spark):
    """Validates the oracle's XXH64 against Spark's xxhash64 expression on
    adversarial inputs: every byte-length class (empty/<4/<8/<32/>=32),
    unicode, salts, and long chains."""
    samples = ["", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
               "x" * 31, "y" * 32, "z" * 33, "w" * 100,
               "café naïve résumé 中文 текст", "line\nbreak\ttab\x0bvt"]
    df = spark.createDataFrame([(t,) for t in samples], "t string")
    rows = df.select(
        "t",
        F.xxhash64("t").alias("h"),
        *[F.xxhash64("t", F.lit(i)).alias(f"h{i}") for i in range(3)],
    ).collect()
    for r in rows:
        assert spark_xxhash64(r["t"]) == r["h"], repr(r["t"])
        for i in range(3):
            assert spark_xxhash64(r["t"], i) == r[f"h{i}"], (repr(r["t"]), i)
    longs = [(1, 2, 3, 4), (-5, 2 ** 40, -(2 ** 40), 0),
             (-(2 ** 63), 2 ** 63 - 1, -1, 42)]
    dl = spark.createDataFrame(longs, "a long, b long, c long, d long")
    for r in dl.select("a", "b", "c", "d",
                       F.xxhash64("a", "b", "c", "d").alias("h")).collect():
        assert spark_xxhash64_longs([r["a"], r["b"], r["c"], r["d"]]) == r["h"]


def _bits_pm1(hashes: list[int]) -> np.ndarray:
    """Per-token ±1 contributions for each of the 64 bits."""
    h = np.array([x & 0xFFFFFFFFFFFFFFFF for x in hashes], dtype=np.uint64)
    bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
            & np.uint64(1)).astype(np.int64)
    return bits * 2 - 1


def test_simhash_matches_python_oracle(spark):
    from docling_api_spark.operators.dedup import simhash64

    d = spark.read.parquet(DOCS)
    got = {r["doc_id"]: r["simhash"] for r in simhash64(d).collect()}
    hash_cache: dict[str, int] = {}
    for r in d.select("doc_id", "text").collect():
        toks = java_ws_split(r["text"])  # duplicates count (explode semantics)
        hs = []
        for t in toks:
            v = hash_cache.get(t)
            if v is None:
                v = hash_cache[t] = spark_xxhash64(t)
            hs.append(v)
        sums = _bits_pm1(hs).sum(axis=0)
        sim = 0
        for b in range(64):
            if sums[b] > 0:
                sim |= 1 << b
        if sim >= 1 << 63:
            sim -= 1 << 64
        assert sim == got[r["doc_id"]], f"doc {r['doc_id']}"
    assert len(got) == d.count()


def test_minhash_lsh_matches_python_oracle(spark):
    """Full-pipeline oracle: exact-dup prefilter, 16 minhashes, 4 bands,
    hybrid all-pairs/chain expansion, exact token-set Jaccard — recomputed
    in pure Python and compared as an exact edge set."""
    import hashlib

    from docling_api_spark.operators.dedup import (
        LSH_BANDS,
        MAX_BUCKET,
        MINHASH_HASHES,
        SHINGLE_WORDS,
        minhash_near_duplicates,
    )

    d = spark.read.parquet(DOCS).filter(F.col("doc_id") < 120)
    threshold = 0.5
    got = {(r["id_a"], r["id_b"], r["jaccard"])
           for r in minhash_near_duplicates(d, threshold=threshold).collect()}

    rows = [(r["doc_id"], r["text"]) for r in d.select("doc_id", "text").collect()]
    text_by = dict(rows)
    # exact-dup prefilter
    groups: dict[str, list[int]] = {}
    for i, t in rows:
        groups.setdefault(hashlib.sha256(t.encode()).hexdigest(), []).append(i)
    edges: set[tuple] = set()
    reps: list[int] = []
    for ids in groups.values():
        ids.sort()
        reps.append(ids[0])
        edges |= {(ids[0], m, 1.0) for m in ids[1:]}
    # signatures over representatives — the operator's string-free shingle
    # scheme (first-principles replica factored into tests/oracles.py and
    # shared with the incremental-dedup oracle below)
    tok_cache: dict[str, int] = {}
    salt_cache: dict[int, list[int]] = {}
    sig: dict[int, list[int]] = {
        rid: minhash_sig_py(text_by[rid], MINHASH_HASHES, SHINGLE_WORDS,
                            tok_cache, salt_cache)
        for rid in reps
    }
    # bands -> buckets -> hybrid candidate expansion
    buckets: dict[tuple, list[int]] = {}
    for rid in reps:
        for key in band_keys_py(sig[rid], LSH_BANDS):
            buckets.setdefault(key, []).append(rid)
    cands: set[tuple] = set()
    for ids in buckets.values():
        if len(ids) < 2:
            continue
        ids = sorted(ids)
        if len(ids) <= MAX_BUCKET:
            cands |= {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]}
        else:  # chain expansion over sorted ids
            cands |= set(zip(ids, ids[1:]))
    # exact token-set Jaccard verify
    tokset = {rid: set(java_ws_split(text_by[rid])) for rid in reps}
    for a, b in cands:
        inter = len(tokset[a] & tokset[b])
        union = max(len(tokset[a] | tokset[b]), 1)
        j = inter / union
        if j >= threshold:
            edges.add((a, b, j))
    assert got == edges, (
        f"spark-only: {sorted(got - edges)[:5]}, "
        f"oracle-only: {sorted(edges - got)[:5]}"
    )


def test_incremental_dedup_matches_python_oracle(spark):
    """Cross-snapshot dedup oracle: the committed signature index and the
    new-batch matching (exact sha hits + minhash-estimated Jaccard with
    representative fan-out) recomputed in pure Python and compared as an
    exact (new_id, match_id, est, method) set. Also asserts the
    extend_signature_index anti-join idempotency."""
    import hashlib

    from docling_api_spark.operators.dedup import (
        LSH_BANDS,
        MINHASH_HASHES,
        SHINGLE_WORDS,
        extend_signature_index,
        incremental_near_duplicates,
        signature_index,
    )

    d = spark.read.parquet(DOCS)
    old = d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    # the new batch: fresh docs PLUS re-crawls — one byte-identical copy of
    # a committed doc, and two MORE copies of the same text inside the
    # batch itself (they collapse to one batch representative; fan-out must
    # report all three) — the dominant real cross-snapshot dup shape
    recrawl_text = old.filter(F.col("doc_id") == 1).select("text")
    copies = recrawl_text.crossJoin(
        spark.range(3).select((F.col("id") + 9001).cast("long").alias("doc_id"))
    ).select("doc_id", "text")
    new = (
        d.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 240))
        .select("doc_id", "text")
        .unionByName(copies)
    )
    threshold = 0.25

    index = signature_index(old).localCheckpoint(eager=True)
    got = {
        (r["new_id"], r["match_id"], r["jaccard_est"], r["method"])
        for r in incremental_near_duplicates(new, index,
                                             threshold=threshold).collect()
    }

    # --- pure-Python replica ------------------------------------------
    old_rows = [(r["doc_id"], r["text"])
                for r in old.select("doc_id", "text").collect()]
    new_rows = [(r["doc_id"], r["text"])
                for r in new.select("doc_id", "text").collect()]

    def reps_of(rows):
        groups: dict[str, list[int]] = {}
        text_by = dict(rows)
        for i, t in rows:
            groups.setdefault(hashlib.sha256(t.encode()).hexdigest(),
                              []).append(i)
        return {min(ids): sha for sha, ids in
                ((s, g) for s, g in groups.items())}, text_by

    tok_cache: dict[str, int] = {}
    salt_cache: dict[int, list[int]] = {}

    old_reps, old_text = reps_of(old_rows)
    idx_sig = {rid: minhash_sig_py(old_text[rid], MINHASH_HASHES,
                                   SHINGLE_WORDS, tok_cache, salt_cache)
               for rid in old_reps}
    idx_sha = {old_reps[rid]: rid for rid in old_reps}

    new_reps, new_text = reps_of(new_rows)
    new_sig = {rid: minhash_sig_py(new_text[rid], MINHASH_HASHES,
                                   SHINGLE_WORDS, tok_cache, salt_cache)
               for rid in new_reps}

    # index-side band buckets
    idx_buckets: dict[tuple, list[int]] = {}
    for rid, sg in idx_sig.items():
        for key in band_keys_py(sg, LSH_BANDS):
            idx_buckets.setdefault(key, []).append(rid)

    rep_matches: set[tuple] = set()
    for rid, sha in new_reps.items():
        exact_mid = idx_sha.get(sha)
        if exact_mid is not None:
            rep_matches.add((rid, exact_mid, 1.0, "exact"))
        cand = set()
        for key in band_keys_py(new_sig[rid], LSH_BANDS):
            cand.update(idx_buckets.get(key, ()))
        for mid in cand:
            if exact_mid is not None and mid == exact_mid:
                continue
            est = sum(a == b for a, b in
                      zip(new_sig[rid], idx_sig[mid])) / MINHASH_HASHES
            if est >= threshold:
                rep_matches.add((rid, mid, est, "minhash_est"))

    # fan representative matches out to every new doc via content sha
    rep_by_sha = {sha: rid for rid, sha in new_reps.items()}
    expected = set()
    for nid, t in new_rows:
        rep = rep_by_sha[hashlib.sha256(t.encode()).hexdigest()]
        for (_r, mid, est, meth) in rep_matches:
            if _r == rep:
                expected.add((nid, mid, est, meth))

    assert got == expected, (
        f"spark-only: {sorted(got - expected)[:5]}, "
        f"oracle-only: {sorted(expected - got)[:5]}"
    )
    # the corpus must actually exercise both match methods
    assert any(m == "exact" for (_, _, _, m) in got)
    assert any(m == "minhash_est" for (_, _, _, m) in got)

    # idempotent growth: re-adding the same batch is a no-op
    add = signature_index(new)
    grown = extend_signature_index(index, add)
    grown2 = extend_signature_index(grown, add)
    assert grown.count() == index.count() + add.count()
    assert grown2.count() == grown.count()


def test_fingerprint_matches_python_oracle(spark):
    from docling_api_spark.operators.textstats import fingerprint64

    d = spark.read.parquet(DOCS).filter(F.col("doc_id") < 60)
    got = {r["doc_id"]: r["fingerprint"]
           for r in d.select("doc_id", fingerprint64(F.col("text"))
                             .alias("fingerprint")).collect()}
    M = (1 << 64) - 1
    for r in d.select("doc_id", "text").collect():
        t = r["text"]
        if not t:
            exp = 0
        else:
            b = t.encode("utf-8")
            if len(b) < 8:
                b = b + b"\x00" * (8 - len(b))
            best = None
            for s in range(len(b) - 8 + 1):
                h = 0
                for k in range(8):
                    h = (h * 257 + b[s + k]) & M
                best = h if best is None else min(best, h)
            exp = best - (1 << 64) if best >= (1 << 63) else best
        assert exp == got[r["doc_id"]], f"doc {r['doc_id']}"


@pytest.fixture(scope="module")
def emb_np(spark):
    rows = (spark.read.parquet(EMB)
            .select("vec_id", "embedding").orderBy("vec_id").collect())
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, mat


def _exact_cosines(mat: np.ndarray) -> np.ndarray:
    n = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    return n @ n.T


def test_embedding_lsh_sound_and_recall(spark, emb_np):
    """dedup_embedding_lsh: every emitted pair must be a true >=threshold
    pair with the exactly-rounded cosine (soundness), and deterministic
    recall vs the exact O(N²) baseline must hold its floor."""
    from docling_api_spark.operators.similarity import embedding_near_duplicates

    ids, mat = emb_np
    emb = spark.read.parquet(EMB).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    got = embedding_near_duplicates(emb, threshold=0.40).collect()
    cos = _exact_cosines(mat)
    idx = {int(v): i for i, v in enumerate(ids)}
    exact_pairs = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids)) for j in range(i + 1, len(ids))
        if round(cos[i, j], 6) >= 0.40
    }
    for r in got:
        a, b = r["id_a"], r["id_b"]
        assert a < b
        expected = round(float(cos[idx[a], idx[b]]), 6)
        assert abs(r["cosine"] - expected) < 1e-9
        assert (a, b) in exact_pairs
    # deterministic fixed corpus + fixed hyperplanes => recall is a constant
    recall = len(got) / max(len(exact_pairs), 1)
    # multi-probe LSH measures 0.955 here (was 0.36 single-probe)
    assert recall >= 0.85, f"LSH near-dup recall degraded: {recall}"


def test_lsh_and_ivf_topk_sound_vs_exact(spark, emb_np):
    """sim_lsh_topk / sim_ivf_topk: every returned (query, cand, cosine)
    must carry the true exact cosine; per-query mean recall@3 vs the
    brute-force baseline must hold a floor (all deterministic)."""
    from docling_api_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        lsh_cosine_topk,
    )

    ids, mat = emb_np
    idx = {int(v): i for i, v in enumerate(ids)}
    cos = _exact_cosines(mat)
    emb = spark.read.parquet(EMB).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=3).collect()
    exact_by_q: dict[int, set[int]] = {}
    for r in exact:
        exact_by_q.setdefault(r["query_id"], set()).add(r["cand_id"])
    for name, ann in (
        ("lsh", lsh_cosine_topk(emb, queries, k=3).collect()),
        ("ivf", ivf_cosine_topk(emb, queries, k=3).collect()),
    ):
        hits = 0
        for r in ann:
            expected = round(float(cos[idx[r["query_id"]], idx[r["cand_id"]]]), 6)
            assert abs(r["cosine"] - expected) < 1e-9, (name, r)
            hits += r["cand_id"] in exact_by_q[r["query_id"]]
        recall = hits / sum(len(v) for v in exact_by_q.values())
        # multi-probe lsh measures 0.933 (was 0.53), ivf 1.0
        assert recall >= 0.85, f"{name} recall@3 degraded: {recall}"
