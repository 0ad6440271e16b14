"""Deduplication operators for training-data pipelines.

MinHash+LSH (exact content-hash collapse -> shingle -> minhash -> band
-> bucket-join -> verify), SimHash, and n-gram Jaccard — all expressed with
JVM-side DataFrame ops + higher-order functions (whole-stage codegen; the
only shuffles are the groupBys on doc/bucket keys, all partial-agg
friendly). No Python in any hot path.

One place per rule: ``exact_representatives`` is the exact-duplicate
collapse and ``near_duplicate_pairs`` the near-duplicate pass over its
representatives; every dedup path here, in plans/ and in the
``__spark_entry__`` registry goes through them.

Scale notes (100 TB): the LSH pattern shuffles one (band, bucket) row per
doc per band — O(B·N) small rows, not O(N²) pairs; candidate pairs are
generated only within buckets. Verification re-joins the two small
candidate sides back to the docs, broadcast when the candidate set is
small. Skew/no-silent-caps policy: byte-identical copies (the dominant
crawl-data case — boilerplate pages) are collapsed by exact content hash
BEFORE minhashing, and an oversized LSH bucket emits CHAIN candidate
pairs over its sorted ids (O(M) rows) instead of O(M²) all-pairs —
no bucket is ever dropped, and candidate-level connectivity is complete
at linear cost (verified connectivity then depends on each chain link
passing the exact-Jaccard check, which a true near-dup cluster does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MINHASH_HASHES = 16
LSH_BANDS = 4  # 4 rows per band
SHINGLE_WORDS = 5
# skew guard: buckets bigger than this switch from all-pairs (O(M²)) to
# chain expansion over sorted ids (O(M)) — never dropped
MAX_BUCKET = 64


def _tokens(text_col):
    return F.split(F.trim(F.lower(text_col)), r"\s+")


def shingles_of_tokens(toks, n: int = SHINGLE_WORDS):
    """Word n-gram shingles from an ALREADY-MATERIALIZED token array
    column. Callers must bind ``toks`` to a real column (select /
    withColumn it first), not an inline ``split``: Catalyst does not CSE
    a subtree referenced inside a ``transform`` lambda, so an inline
    tokenization re-runs once per shingle — measured 5x slower on the
    sf0.1 decontamination gram pass (4.4 s -> 0.7 s). Same trap and same
    fix as the minhash token-hash materialization below."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def minhash_signature(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """MinHash signature per doc: sig[i] = min over shingle hashes of
    xxhash64(hb, salt=i). One explode + one groupBy — the agg is a
    fixed-width array of mins, partial-aggregated map-side.

    No shingle STRING is ever built: each token is hashed once to a long
    (HOF transform, materialized as a column so element_at is O(1) — an
    inline transform inside the window lambda re-evaluates the whole
    array per access, measured 5x SLOWER than strings), and each shingle
    hash folds the n consecutive token hashes with multi-arg fixed-width
    xxhash64. vs concat_ws shingle strings + one string hash per shingle
    this avoids O(corpus·n) bytes of string allocation and re-hashing
    every token n times — measured 6x faster (3.1 s -> 0.5 s warm,
    sf0.1); at 10^12 shingles the signature agg input is the dominant
    cost of the whole dedup. Docs shorter than n tokens hash their
    space-joined whole text (one string hash, same value as the previous
    string scheme). The 16 salted values then derive from the 8-byte hb
    via long+int fast paths. Independent pytest oracle (same definition
    recomputed from first principles): tests/test_python_oracles.py."""
    toks = _tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("_toks")).select(
        F.col(id_col), F.col("_toks"),
        F.transform("_toks", lambda t: F.xxhash64(t)).alias("_th"),
    )
    n = SHINGLE_WORDS
    shingle_hashes = F.when(
        F.size("_toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("_toks") - n),
            lambda i: F.xxhash64(
                *[F.element_at(F.col("_th"), i + 1 + k) for k in range(n)]
            ),
        ),
    ).otherwise(F.array(F.xxhash64(F.concat_ws(" ", "_toks"))))
    hb = base.select(F.col(id_col), F.explode(shingle_hashes).alias("hb"))
    mins = [
        F.min(F.xxhash64(F.col("hb"), F.lit(i))).alias(f"h{i}")
        for i in range(MINHASH_HASHES)
    ]
    sig = hb.groupBy(id_col).agg(*mins)
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(MINHASH_HASHES)])
        .alias("minhash"),
    )


def _band_key_structs():
    """Array of (band, bucket) structs derived from a ``minhash`` column:
    bucket = fixed-width xxhash64 fold of the band's signature rows. The
    SINGLE definition of LSH banding — shared by the batch self-join path
    (lsh_candidate_pairs) and the incremental index path so the two can
    never drift (the pytest oracle freezes it)."""
    rows_per_band = MINHASH_HASHES // LSH_BANDS
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col("minhash")[b * rows_per_band + r]
                  for r in range(rows_per_band)]
            ).alias("bucket"),
        )
        for b in range(LSH_BANDS)
    ])


def lsh_candidate_pairs(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Band the signatures, bucket-join within bands, emit candidate pairs
    (a < b). O(docs·bands) shuffle rows; pair expansion only inside
    buckets. Buckets up to ``MAX_BUCKET`` expand all-pairs; larger
    (degenerate/skewed) buckets expand as a CHAIN over the sorted ids —
    linear in bucket size, never dropped. A chain (not a hub star)
    survives verification robustly: a false-positive member only breaks
    its own two links, while a false-positive star hub would sever the
    whole bucket. Full verified connectivity still holds only for
    members whose chain neighbors are true near-duplicates (all-pairs
    would cost O(M²)); candidate-level connectivity is always complete."""
    banded = sig.select(
        F.col(id_col),
        F.explode(_band_key_structs()).alias("bk"),
    ).select(id_col, "bk.band", "bk.bucket")
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    sorted_ids = F.array_sort("ids")
    small = buckets.filter(F.size("ids") <= MAX_BUCKET)
    big = buckets.filter(F.size("ids") > MAX_BUCKET)
    all_pairs = small.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.size(sorted_ids) - 2),
                    lambda i: F.transform(
                        F.slice(sorted_ids, i + 2, F.size(sorted_ids)),
                        lambda y: F.struct(
                            F.element_at(sorted_ids, i + 1).alias("a"),
                            y.alias("b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
    chain_pairs = big.select(
        F.explode(
            F.zip_with(
                F.slice(sorted_ids, 1, F.size(sorted_ids) - 1),
                F.slice(sorted_ids, 2, F.size(sorted_ids) - 1),
                lambda a, b: F.struct(a.alias("id_a"), b.alias("id_b")),
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    return all_pairs.unionByName(chain_pairs).distinct()


def jaccard_verify(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", threshold: float = 0.6) -> DataFrame:
    """Exact token-set Jaccard on candidate pairs. The docs side is joined
    twice; candidate sets are tiny relative to the corpus, so Catalyst/AQE
    broadcasts the pairs."""
    toks = df.select(
        F.col(id_col),
        F.array_distinct(_tokens(F.col(text_col))).alias("tokset"),
    )
    a = toks.select(F.col(id_col).alias("id_a"), F.col("tokset").alias("tok_a"))
    b = toks.select(F.col(id_col).alias("id_b"), F.col("tokset").alias("tok_b"))
    j = (
        pairs.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a", "id_b",
            (
                F.size(F.array_intersect("tok_a", "tok_b"))
                / F.greatest(F.size(F.array_union("tok_a", "tok_b")), F.lit(1))
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def exact_representatives(df: DataFrame, id_col: str, text_col: str,
                          sha_col: str) -> DataFrame:
    """THE exact-duplicate collapse: one row per distinct ``sha_col``
    (a content hash the caller computed) with the min-id keeper as
    ``id_col``, its text as ``text_col`` and the copy count as
    ``n_copies``. A NULL hash is one group like any other.

    min_by carries the keeper's text inside the partial aggregation, so
    a content crosses the exchange at most once per map task and the
    text never shuffles by itself (joining texts back to keepers on the
    hash measured 2x the near-dup stage's wall at 4M docs / 800x
    duplication). Lazy: a plan that feeds the result to several
    consumers materializes it where they share it (annotate_corpus,
    minhash_near_duplicates and signature_index each checkpoint theirs)."""
    return df.groupBy(sha_col).agg(
        F.min(id_col).alias(id_col),
        F.min_by(F.col(text_col), F.col(id_col)).alias(text_col),
        F.count(F.lit(1)).alias("n_copies"),
    )


def near_duplicate_pairs(reps: DataFrame, id_col: str, text_col: str,
                         threshold: float) -> DataFrame:
    """THE near-duplicate pass over exact representatives: minhash ->
    LSH bands -> candidate pairs -> exact-Jaccard verification. Output
    (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold."""
    sig = minhash_signature(reps, id_col, text_col)
    return jaccard_verify(reps, lsh_candidate_pairs(sig, id_col),
                          id_col, text_col, threshold)


def minhash_near_duplicates(df: DataFrame,
                            threshold: float = 0.6) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline with an exact-dup prefilter.

    1. Byte-identical copies collapse by content hash FIRST
       (exact_representatives): each group emits star edges (keeper ->
       member, jaccard = 1.0). A crawl's 10⁶-copy boilerplate page costs
       10⁶-1 edge rows here instead of flooding an LSH bucket.
    2. near_duplicate_pairs runs over the distinct REPRESENTATIVES only;
       oversized buckets chain-expand (see lsh_candidate_pairs) — no
       silent drops.

    Output edges (exact-group stars + verified near-dup representative
    pairs) carry the duplicate-cluster structure at O(docs + pairs) rows
    rather than O(cluster²): every byte-identical copy is reachable from
    its keeper, and near-identical members connect through their
    verified chain/pair links.
    """
    hashed = df.select(
        F.col("doc_id"), F.col("text"),
        F.sha2(F.col("text"), 256).alias("_h"),
    )
    # reps feeds the star edges, the minhash and the verify join-back,
    # which Catalyst prunes to different aggregates: lazy, each would
    # rescan the input and re-hash every text, so materialize it once.
    reps = exact_representatives(
        hashed, "doc_id", "text", "_h"
    ).localCheckpoint(eager=True)
    # Star edges need only (id, hash): the corpus is re-derived from the
    # caller's frame (typically an already-materialized upstream
    # checkpoint) and shuffles 40 bytes/row, never the text. Two reads
    # of the input beat one read + one full-text shuffle + one full-text
    # checkpoint write/read.
    exact_pairs = (
        hashed.select("doc_id", "_h")
        .join(reps.select("_h", F.col("doc_id").alias("_keeper")), "_h")
        .filter(F.col("doc_id") != F.col("_keeper"))
        .select(
            F.col("_keeper").alias("id_a"),
            F.col("doc_id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    near = near_duplicate_pairs(reps, "doc_id", "text", threshold)
    return near.unionByName(exact_pairs).orderBy("id_a", "id_b")


def simhash64(df: DataFrame) -> DataFrame:
    """64-bit SimHash per doc: per-token xxhash64; each output bit is the
    sign of the sum of per-token ±1 contributions. One explode + one
    64-column conditional agg (all codegen'd). A numpy mapInArrow variant
    (JVM token hashes -> Arrow -> bit-matrix cumsum, bit-identical) was
    measured SLOWER under interleaved trials at sf0.1 (median 1.66 s vs
    1.22 s): the Arrow hop costs more than the 64 codegen'd sums save —
    don't retry."""
    tok = df.select(
        F.col("doc_id"), F.explode(_tokens(F.col("text"))).alias("tok")
    ).withColumn("th", F.xxhash64("tok"))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_aggs)
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b))
            .otherwise(F.lit(0).cast("long"))
        )
    return agg.select(F.col("doc_id"), sim.alias("simhash"))


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact word-trigram Jaccard for given id pairs (the J4-style
    verification join shape)."""
    grams = df.select(
        F.col("doc_id"), _tokens(F.col("text")).alias("_toks")
    ).select(
        F.col("doc_id"),
        F.array_distinct(
            shingles_of_tokens(F.col("_toks"), 3)
        ).alias("grams"),
    )
    a = grams.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("g_a"))
    b = grams.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("g_b"))
    # HALF_UP(inter/union, 6) by exact integer division — float round()
    # splits engines on true rational ties (an odd intersection over a
    # 128-gram union is exactly x.xxxxxx5). ONE definition of the rule:
    # textstats._ratio_e4 (function-level import; textstats imports this
    # module only inside function bodies, so there is no cycle)
    from docling_api_spark.operators.textstats import _ratio_e4

    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a", "id_b",
            _ratio_e4(
                F.size(F.array_intersect("g_a", "g_b")),
                F.greatest(F.size(F.array_union("g_a", "g_b")), F.lit(1)),
                6,
            ).alias("ngram_jaccard"),
        )
    )


# --- incremental (cross-snapshot) dedup -------------------------------------
#
# The production shape for a GROWING corpus: dedup each new ingest batch
# against everything already committed WITHOUT re-reading or re-shuffling the
# old corpus text. The committed state is a compact signature index — one row
# per DISTINCT content (exact-dup representative), carrying
# (doc_id, content_sha, minhash) ≈ 170 bytes/row — maintained alongside the
# output snapshots (same manifest/anti-join idempotency as plans/checkpoint).
# Mirrors the reference's idempotent event processing (stripe_service.py:
# 214-231: dedupe new events against committed state, never reprocess).


def signature_index(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Build the committed dedup index for a corpus/batch: byte-identical
    docs collapse to their min-id representative FIRST through
    exact_representatives (a 10⁶-copy boilerplate page is ONE index row,
    so no index-side LSH bucket inherits crawl skew), then one minhash
    signature per representative, as in near_duplicate_pairs.

    Output: (id_col, content_sha, minhash) — one row per distinct
    content, also when an input row repeats. NULL-text docs are never
    indexed: they have no content to match."""
    hashed = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.col(text_col),
        F.sha2(F.col(text_col), 256).alias("content_sha"),
    )
    # materialized once: the (id, sha) side and the minhash side prune
    # reps to different aggregates, each a rescan + re-hash if lazy
    reps = exact_representatives(
        hashed, id_col, text_col, "content_sha"
    ).localCheckpoint(eager=True)
    sig = minhash_signature(reps, id_col, text_col)
    return reps.select(id_col, "content_sha").join(sig, id_col)


def extend_signature_index(index: DataFrame, additions: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """Idempotently grow the index: only additions whose id is absent are
    appended (the ST4 anti-join shape — re-running an ingest batch cannot
    double-insert). Content-level dedup across batches is the CALLER's
    report from incremental_near_duplicates; the index keeps every batch's
    representatives so later matches name a real committed doc."""
    fresh = additions.join(index.select(id_col), id_col, "left_anti")
    return index.unionByName(fresh)


def incremental_near_duplicates(new_df: DataFrame, index: DataFrame,
                                id_col: str = "doc_id",
                                text_col: str = "text",
                                threshold: float = 0.6,
                                new_sig: DataFrame | None = None) -> DataFrame:
    """Flag docs of a NEW ingest batch that duplicate the already-committed
    corpus, touching only the batch's text and the compact index.

    Per new doc (EVERY new doc is reported, not just batch representatives):
      - method='exact'      byte-identical to a committed doc (sha equi-join)
      - method='minhash_est' signature-estimated Jaccard ≥ threshold
        (fraction of equal minhash components — the standard unbiased
        estimator; exact k/MINHASH_HASHES values, no float drift)

    Shuffle budget: O(batch·bands) band rows from the new side against the
    index's band rows — the committed corpus TEXT is never read. Matching
    runs at batch-representative level (byte-identical new docs minhash
    once) and fans back out to every new doc via its content_sha. Pairs
    already reported exact are anti-joined out of the estimate path.
    Within-batch duplicates are minhash_near_duplicates' job — compose:
    dedup the batch, then check its survivors against the index, then
    extend_signature_index. Exact verification (vs estimation) would need
    the old text: re-join matched ids against the committed snapshot —
    candidate-count rows, not corpus — via jaccard_verify if required.

    ``new_sig`` accepts the batch's precomputed (materialized)
    signature_index so a caller that also extends the index afterwards
    (plans/dedup_index.py) pays the batch scan+minhash once, not twice."""
    if new_sig is None:
        new_sig = signature_index(
            new_df, id_col, text_col
        ).localCheckpoint(eager=True)  # feeds bands + join-backs + fan-out
    idx = index.select(
        F.col(id_col).alias("match_id"),
        F.col("content_sha").alias("_sha_m"),
        F.col("minhash").alias("_mh_m"),
    )
    rep_exact = (
        new_sig.select(F.col(id_col).alias("_rep"), "content_sha")
        .join(idx, F.col("content_sha") == F.col("_sha_m"))
        .select(
            "_rep", "match_id",
            F.lit(1.0).alias("jaccard_est"),
            F.lit("exact").alias("method"),
        )
    )
    bandkeys = _band_key_structs()
    nb = new_sig.select(
        F.col(id_col).alias("_rep"), F.explode(bandkeys).alias("bk")
    ).select("_rep", "bk.band", "bk.bucket")
    ib = index.select(
        F.col(id_col).alias("match_id"), F.explode(bandkeys).alias("bk")
    ).select("match_id", "bk.band", "bk.bucket")
    cands = (
        nb.join(ib, ["band", "bucket"])
        .select("_rep", "match_id")
        .distinct()
        .join(rep_exact.select("_rep", "match_id"),
              ["_rep", "match_id"], "left_anti")
    )
    rep_est = (
        cands
        .join(new_sig.select(F.col(id_col).alias("_rep"),
                             F.col("minhash").alias("_mh_n")), "_rep")
        .join(idx.select("match_id", "_mh_m"), "match_id")
        .select(
            "_rep", "match_id",
            (
                F.size(F.filter(
                    F.zip_with("_mh_n", "_mh_m", lambda a, b: a == b),
                    lambda x: x,
                )) / F.lit(MINHASH_HASHES)
            ).alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= threshold)
        .withColumn("method", F.lit("minhash_est"))
    )
    rep_matches = rep_exact.unionByName(rep_est)
    # fan representative-level matches back out to every new doc
    fan = new_df.select(
        F.col(id_col).alias("new_id"),
        F.sha2(F.col(text_col), 256).alias("content_sha"),
    ).join(new_sig.select(F.col(id_col).alias("_rep"), "content_sha"),
           "content_sha")
    return (
        fan.join(rep_matches, "_rep")
        .select("new_id", "match_id", "jaccard_est", "method")
        # an EXACT self-pair is an idempotent batch re-run (the doc is
        # byte-identical to its own committed row) — pure noise, drop.
        # A MINHASH self-pair is the opposite: the same id re-crawled
        # with DRIFTED content that still nears its old version — that
        # drift signal must be reported (exact pairs are anti-joined out
        # of the estimate path, so the two cases cannot overlap).
        .filter(
            ~((F.col("new_id") == F.col("match_id"))
              & (F.col("method") == "exact"))
        )
    )
