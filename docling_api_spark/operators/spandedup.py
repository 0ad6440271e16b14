"""Cross-document duplicated-span removal (exact substring dedup).

Removes long verbatim passages that appear in MORE THAN ONE document —
the "exact substring deduplication" step of training-data pipelines
(Lee et al. 2021, "Deduplicating Training Data Makes Language Models
Better": duplicated ~50-token spans are memorization fuel even when the
containing documents are not near-duplicates). Doc-level dedup
(dedup.py) cannot catch a shared boilerplate paragraph inside otherwise
distinct pages; this operator cuts the paragraph itself.

Granularity: k consecutive whitespace tokens (exact, case-sensitive —
substring dedup is about verbatim bytes, unlike the lowercased
similarity shingles in dedup.py). A span duplicated across >= 2 docs is
KEPT in the min-id document (all its occurrences there) and removed from
every other document; overlapping duplicated windows merge into one cut.

Plan shape / scale (100 TB):
  - window hashes reuse the minhash idiom (dedup.py): each token hashed
    once to a long via a materialized HOF transform, each k-window folded
    with one multi-arg fixed-width xxhash64 — no window STRING is built.
  - duplicated hashes come from groupBy(window_hash).agg(min/max(id)) —
    partial-agg friendly, so a boilerplate window shared by 10^6 docs
    collapses map-side before the shuffle (no hot-key skew; a window-
    function formulation would buffer the hot partition instead).
  - the window stream is deliberately RECOMPUTED for the join-back
    against the duplicated-hash set rather than checkpointed: it is
    O(corpus tokens) rows, so materializing it would cost more storage
    than the corpus itself; the second pass is the documented price.
  - only documents that actually contain cross-doc spans cross the Arrow
    boundary into the Python cutter (inner join); clean documents pass
    through JVM-side untouched.
"""

from __future__ import annotations

import re
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SPAN_TOKENS = 20

# Java regex \s (Spark split) = ASCII [ \t\n\x0B\f\r]; Python re mirrors
# this exact class so the cutter's token offsets align 1:1 with the JVM
# token indices (Python's own \s is unicode-wide — NOT equivalent).
_NON_WS = re.compile(r"[^ \t\n\x0B\f\r]+")
_WS_CHARS = " \t\n\x0b\f\r"


def window_hashes(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = SPAN_TOKENS) -> DataFrame:
    """(id, pos, wh) for every k-token window: wh = fixed-width xxhash64
    fold of the k consecutive token hashes (token hashed once, transform
    materialized as a column — see minhash_signature's measured 5x note).
    Docs shorter than k tokens have no windows."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .filter(F.size("_toks") >= k)
        .select(
            id_col, "_toks",
            F.transform("_toks", lambda t: F.xxhash64(t)).alias("_th"),
        )
    )
    wins = F.transform(
        F.sequence(F.lit(0), F.size("_toks") - k),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.xxhash64(
                *[F.element_at(F.col("_th"), i + 1 + j) for j in range(k)]
            ).alias("wh"),
        ),
    )
    return base.select(F.col(id_col), F.explode(wins).alias("w")).select(
        id_col, F.col("w.pos").alias("pos"), F.col("w.wh").alias("wh")
    )


def duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     k: int = SPAN_TOKENS) -> DataFrame:
    """Window hashes present in >= 2 distinct documents:
    (wh, keeper_id, max_id). min(id) != max(id) is exactly "appears in
    more than one doc" without a countDistinct expand."""
    wins = window_hashes(df, id_col, text_col, k)
    return (
        wins.groupBy("wh")
        .agg(F.min(id_col).alias("keeper_id"), F.max(id_col).alias("max_id"))
        .filter(F.col("keeper_id") != F.col("max_id"))
    )


def frequent_spans(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", k: int = SPAN_TOKENS,
                   top_n: int = 20) -> DataFrame:
    """Boilerplate discovery: the ``top_n`` most-duplicated k-token
    windows across the corpus, with a human-readable exemplar snippet —
    the report a pipeline operator reads BEFORE choosing span-dedup /
    quality thresholds ("what IS the boilerplate in this crawl?").

    Output (one row per window hash, most frequent first):
    (wh, n_docs, n_occurrences, example_id, snippet).

    Scale shape: two map-side-combined aggregations over the window
    stream — (wh, id) then (wh) — so a window shared by 10^6 docs
    collapses before either shuffle; only the top_n winners (driver-
    bounded) have their exemplar text fetched, via an id-pushdown scan
    of at most top_n documents."""
    spark = df.sparkSession
    wins = window_hashes(df, id_col, text_col, k)
    per_doc = wins.groupBy("wh", id_col).agg(
        F.count(F.lit(1)).alias("_c"), F.min("pos").alias("_p")
    )
    top = (
        per_doc.groupBy("wh")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_c").alias("n_occurrences"),
            F.min(F.struct(F.col(id_col), F.col("_p"))).alias("_ex"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_occurrences"), F.asc("wh"))
        .limit(top_n)
        .collect()
    )
    out_schema = (
        "wh long, n_docs long, n_occurrences long, "
        f"example_id {df.select(id_col).schema[id_col].simpleString().split(':')[1]}, "
        "snippet string"
    )
    if not top:
        return spark.createDataFrame([], out_schema)
    ex_ids = [r["_ex"][0] for r in top]
    texts = {
        r[id_col]: r[text_col]
        for r in df.filter(F.col(id_col).isin(ex_ids))
        .select(id_col, text_col).collect()
    }
    rows = []
    for r in top:
        ex_id, pos = r["_ex"][0], r["_ex"][1]
        body = texts[ex_id].strip(" ")
        spans = _token_spans(body)
        snippet = body[spans[pos][0]: spans[pos + k - 1][1]]
        rows.append((r["wh"], r["n_docs"], r["n_occurrences"], ex_id,
                     snippet))
    return spark.createDataFrame(rows, out_schema)


def _token_spans(body: str) -> list[tuple[int, int]]:
    """Char spans of Spark's split(trim(text), '\\s+') tokens within the
    space-trimmed body, INCLUDING the leading/trailing empty-string
    tokens Spark's limit=-1 split emits when the trimmed body starts or
    ends with non-space whitespace (e.g. a tab)."""
    spans = [m.span() for m in _NON_WS.finditer(body)]
    if body and body[0] in _WS_CHARS:
        spans.insert(0, (0, 0))
    if body and body[-1] in _WS_CHARS:
        spans.append((len(body), len(body)))
    return spans or [(0, 0)]  # split("") == [""]


def _merge_ranges(positions: list[int], k: int) -> list[tuple[int, int]]:
    ranges: list[tuple[int, int]] = []
    for p in positions:  # already sorted
        if ranges and p <= ranges[-1][1]:
            ranges[-1] = (ranges[-1][0], max(ranges[-1][1], p + k))
        else:
            ranges.append((p, p + k))
    return ranges


def _cut_doc(text: str, positions: list[int], k: int) -> tuple[str, int, int]:
    if not positions:  # total: the join feeds only cut docs, but be safe
        return text, 0, 0
    lead = len(text) - len(text.lstrip(" "))
    rest = text[lead:]  # trail from the remainder: an all-space doc must
    trail = len(rest) - len(rest.rstrip(" "))  # not double-count its pad
    body = rest[: len(rest) - trail]
    spans = _token_spans(body)
    ranges = _merge_ranges(positions, k)
    if ranges[-1][1] > len(spans):  # invariant: JVM/Python token parity
        raise ValueError(
            f"spandedup: cut range {ranges[-1]} beyond {len(spans)} tokens"
        )
    kept, cursor, n_tokens = [], 0, 0
    for s, e in ranges:
        start_char = spans[s][0]
        # swallow the whitespace run after the cut so kept pieces keep
        # their ORIGINAL separators and never double up
        end_char = spans[e][0] if e < len(spans) else len(body)
        kept.append(body[cursor:start_char])
        cursor = end_char
        n_tokens += e - s
    kept.append(body[cursor:])
    out = " " * lead + "".join(kept) + " " * trail
    return out, len(ranges), n_tokens


def remove_duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            k: int = SPAN_TOKENS) -> DataFrame:
    """Cut every cross-doc duplicated k-window from every NON-keeper doc.

    Output: (id_col, text_col, n_spans_removed, n_tokens_removed) for
    every input doc — clean docs (and keepers) pass through JVM-side with
    zero counts and byte-identical text. Caveat shared with Lee et al.:
    cutting can butt two previously-separated passages together, so NEW
    k-grams can form across a cut boundary; the guarantee is that every
    ORIGINAL cross-doc duplicated window is gone from non-keeper docs.
    """
    wins = window_hashes(df, id_col, text_col, k)
    dups = duplicated_spans(df, id_col, text_col, k).select(
        "wh", F.col("keeper_id").alias("_keeper")
    )
    cuts = (
        wins.join(dups, "wh")
        .filter(F.col(id_col) != F.col("_keeper"))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("pos")).alias("_cut_pos"))
    )
    to_cut = df.select(id_col, text_col).join(cuts, id_col)

    # id column passes through the Arrow batch untouched, so any id type
    # (long, int, string) works — the schema is derived, not hardcoded
    id_type = df.select(id_col).schema[id_col].simpleString().split(":")[1]
    out_schema = (
        f"{id_col} {id_type}, {text_col} string, "
        "n_spans_removed int, n_tokens_removed int"
    )

    def cutter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            texts = batch.column(text_col).to_pylist()
            poss = batch.column("_cut_pos").to_pylist()
            texts_out, n_spans, n_toks = [], [], []
            for t, p in zip(texts, poss):
                cut, ns, nt = _cut_doc(t, p, k)
                texts_out.append(cut)
                n_spans.append(ns)
                n_toks.append(nt)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(id_col),
                    pa.array(texts_out, pa.string()),
                    pa.array(n_spans, pa.int32()),
                    pa.array(n_toks, pa.int32()),
                ],
                [id_col, text_col, "n_spans_removed", "n_tokens_removed"],
            )

    cleaned = to_cut.mapInArrow(cutter, out_schema)
    untouched = (
        df.select(id_col, text_col)
        .join(cuts.select(id_col), id_col, "left_anti")
        .select(
            F.col(id_col),
            F.col(text_col),
            F.lit(0).alias("n_spans_removed"),
            F.lit(0).alias("n_tokens_removed"),
        )
    )
    return cleaned.unionByName(untouched)
