"""Corpus profiling report — the "corpus card" a training-data pipeline
produces before committing 100 TB to a tokenizer run: document counts,
token/char totals, exact token-count percentiles, quality average,
language distribution, and a duplicate-rate estimate.

Plan shape / scale:
  - ONE projection pass derives per-document stats (token count, chars,
    quality score, language, content sha) and immediately DROPS the text
    column; the resulting frame is ~50 bytes/doc, so materializing it
    (localCheckpoint) is bounded even at 10^10 documents. ``corpus_card``
    is one query over that frame, never the corpus, returning the card
    as one row. ``corpus_report`` (`cli report`) shapes that row into a
    dict; the registry's ``corpus_profile`` query projects the same row,
    so the DuckDB contract checks the numbers `cli report` prints.
  - percentiles are EXACT and deterministic without collecting values:
    groupBy(n_tokens).count() yields at most max-doc-length distinct
    rows (a token-count histogram); a running-count window over those
    rows (one partition, histogram-sized) reads the percentile off with
    a fixed rule (smallest value whose cumulative count reaches
    ceil(p/100 * n), in integer arithmetic). approx_percentile's
    sketch merge is partition-order sensitive — rejected for the
    repo-wide determinism invariant.
  - distinct-content counting uses approx_count_distinct (HLL++):
    single-pass, mergeable, order-independent — THE scale choice; the
    relative error (rsd) is part of the report so the consumer knows
    the estimate's quality. An exact countDistinct would force a second
    full shuffle of 32-byte hashes for a number the consumer only needs
    to ~1%.
  - the averages are exact scaled-integer sums (the e4-fixed-point
    quality_score recovered to a long per doc) divided HALF_UP by
    ``textstats._ratio_e4`` — no float sum anywhere (float sums are
    partition-order dependent; CLAUDE.md invariant).

Reference parity: the reference exposes per-request usage analytics only
(SURVEY §2.5); corpus-level profiling is part of the training-data-
pipeline layer the build brief adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from docling_api_spark.operators.textstats import (
    LANG_CODES,
    _ratio_e4,
    with_lang_id,
    with_quality_score,
    with_token_stats,
)

DEFAULT_PERCENTILES = (50, 90, 99)


def corpus_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats frame, text dropped: (n_tokens, n_chars,
    quality_score, lang_pred, _sha)."""
    # NULL text profiles as the empty document (deterministic, total) —
    # a raw crawl table always has some; the report must not crash on it
    base = df.select(
        F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )
    p = with_lang_id(
        with_quality_score(with_token_stats(base, text_col), text_col),
        text_col,
    )
    return p.select(
        "n_tokens",
        F.col("n_chars_m").alias("n_chars"),
        "quality_score",
        "lang_pred",
        F.sha2(text_col, 256).alias("_sha"),
    )


def corpus_card(df: DataFrame, text_col: str, percentiles,
                rsd: float) -> DataFrame:
    """The corpus card as ONE row, computed by one Spark query over the
    materialized stats frame: n_docs, n_tokens_total, n_chars_total,
    tokens_min, tokens_max, avg_tokens, avg_quality, n_unique_est,
    dup_rate_est, tokens_p<p> per requested percentile, and n_lang_<code>
    per ``LANG_CODES`` entry. An empty corpus yields the zeroed row."""
    stats = corpus_profile(df, text_col).localCheckpoint(eager=True)
    tot = stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens_total"),
        F.sum("n_chars").alias("n_chars_total"),
        F.min("n_tokens").alias("tokens_min"),
        F.max("n_tokens").alias("tokens_max"),
        # quality_score is an e4 fixed-point value carried as a double;
        # *1e4 lands within 1e-9 of the integer, so round() here is the
        # sanctioned single-fixed-point-value case, never a .5 tie
        F.sum(F.round(F.col("quality_score") * 10000).cast("long"))
        .alias("q_e4_sum"),
        F.approx_count_distinct("_sha", rsd).alias("_hll"),
        *[F.count(F.when(F.col("lang_pred") == c, 1)).alias(f"n_lang_{c}")
          for c in LANG_CODES],
    )
    # the bounded token-count histogram, its running count, and (a
    # whole-frame window) the corpus size the percentile rank needs
    cum = stats.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("cnt"))
    cum = cum.select(
        "n_tokens",
        F.sum("cnt").over(
            Window.orderBy("n_tokens")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n_docs"),
    )
    # smallest value whose cumulative count reaches ceil(p/100 * n):
    # (p*n + 99) div 100, no floats
    pct = cum.agg(*[
        F.min(F.when(F.col("cum") >= F.expr(f"({p} * n_docs + 99) div 100"),
                     F.col("n_tokens"))).alias(f"tokens_p{p}")
        for p in percentiles
    ])
    n = F.col("n_docs")
    uniq = F.least(F.col("_hll"), n)

    def avg(num, den, decimals):
        # guarded: under ANSI a zero divisor raises, even for 0/0
        return F.when(n > 0, _ratio_e4(num, den, decimals)).otherwise(0.0)

    return tot.crossJoin(pct).select(
        "n_docs",
        *[F.coalesce(c, F.lit(0)).alias(c) for c in (
            "n_tokens_total", "n_chars_total", "tokens_min", "tokens_max")],
        avg(F.col("n_tokens_total"), n, 2).alias("avg_tokens"),
        avg(F.col("q_e4_sum"), n * F.lit(10000).cast("long"), 4)
        .alias("avg_quality"),
        uniq.alias("n_unique_est"),
        avg(n - uniq, n, 4).alias("dup_rate_est"),
        *[F.coalesce(f"tokens_p{p}", F.lit(0)).alias(f"tokens_p{p}")
          for p in percentiles],
        *[f"n_lang_{c}" for c in LANG_CODES],
    )


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    percentiles=DEFAULT_PERCENTILES,
    rsd: float = 0.05,
) -> dict:
    """The corpus card, as a flat JSON-able dict. Empty corpus yields a
    zeroed report (never raises)."""
    card = corpus_card(df, text_col, percentiles, rsd).first().asDict()
    lang = {c: card.pop(f"n_lang_{c}") for c in sorted(LANG_CODES)}
    pcts = {f"tokens_p{p}": card.pop(f"tokens_p{p}") for p in percentiles}
    return {**card, "distinct_rsd": rsd,
            "lang_dist": {c: k for c, k in lang.items() if k}, **pcts}


def top_tokens(df: DataFrame, n: int = 50,
               text_col: str = "text") -> DataFrame:
    """The n most frequent (lowercased, whitespace) tokens:
    (token, n_occurrences), count-desc with token-asc tie-break (total
    deterministic order). One explode + one partial-agg groupBy — the
    Zipf head collapses map-side, so the shuffle carries per-partition
    distinct tokens, not occurrences; the top-n is a per-partition heap
    (TakeOrdered), never a full sort. Empty/whitespace-only documents
    tokenize to one '' token (split semantics) — filtered, it is not a
    word and would pollute the user-facing report."""
    from docling_api_spark.operators.dedup import _tokens

    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(_tokens(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(n)
    )
