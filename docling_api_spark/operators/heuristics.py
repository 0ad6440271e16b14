"""C4-style heuristic line and document cleaning (Raffel et al. 2020).

The C4 pipeline's rule set — the workhorse heuristics every web-scale
corpus build runs BEFORE model-based filtering:

  line level:  keep only lines that end in terminal punctuation, carry
               at least ``min_words`` words, and do not mention
               javascript/cookie boilerplate;
  doc level:   drop pages with fewer than ``min_sentences`` surviving
               sentences, or containing "lorem ipsum" or a curly brace
               (code fragments).

``c4_clean_lines`` is the transformation (cleaned text + exact counters,
annotate-don't-drop: the document row always survives with a
``c4_keep`` verdict); ``c4_document_flags`` is the cheap flags-only
variant when the caller only gates.

Composition note: the extraction kernel collapses single newlines
inside a block and separates markdown blocks with a blank line, so when
this stage runs POST-extraction (the corpus pipeline's ``c4=True``),
the "line" unit is the markdown block — the faithful analog of C4's
web-text line; the blank separator lines are short-line drops by
construction.

Everything is JVM higher-order functions over one split('\\n') array —
one codegen projection, no shuffle, no Python, no regex backtracking
hazards (all classes are bounded). Deterministic by construction
(pure string ops), so bit-identical at any parallelism. At 100 TB this
is a map-only pass that fuses into whatever scan feeds it.

Reference parity: no reference analog (per-document gateway); part of
the training-data-pipeline layer the brief adds (SURVEY §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# C4's terminal punctuation: . ! ? plus closing quote/bracket after one.
# Anchored with Java's \z (ABSOLUTE end) — '$' silently matches before a
# final line terminator in Java but not Python re, so '$' would classify
# a CRLF-split "text.\r" line differently across engines (found by the
# adversarial-batch fuzz). The stray \r of CRLF corpora is consumed as
# trailing whitespace instead. The Python replica pairs with re's \Z.
TERMINAL_RE = r'[.!?]["\')\]]?[ \t\r]*\z'
_BOILER_RE = r"(?i)javascript|cookies? (?:policy|settings|enabled)"
MIN_WORDS = 5
MIN_SENTENCES = 3


def _clean_struct(text_col, min_words: int):
    """Struct(kept_lines array, n_lines, n_short, n_no_terminal,
    n_boiler) for one document — a single HOF chain over split('\\n')."""
    lines = F.split(text_col, "\n")
    trimmed = F.transform(lines, lambda ln: F.trim(ln))
    is_short = lambda ln: F.size(F.split(ln, r"[ \t]+")) < min_words
    no_term = lambda ln: ~ln.rlike(TERMINAL_RE)
    boiler = lambda ln: ln.rlike(_BOILER_RE)
    kept = F.filter(
        trimmed,
        lambda ln: ~is_short(ln) & ~no_term(ln) & ~boiler(ln),
    )
    return F.struct(
        kept.alias("kept"),
        F.size(lines).alias("n_lines"),
        F.size(F.filter(trimmed, is_short)).alias("n_short"),
        F.size(F.filter(trimmed, no_term)).alias("n_no_terminal"),
        F.size(F.filter(trimmed, boiler)).alias("n_boiler"),
    )


def c4_clean_lines(df: DataFrame, text_col: str = "text",
                   min_words: int = MIN_WORDS,
                   min_sentences: int = MIN_SENTENCES) -> DataFrame:
    """Append (clean_text, n_lines, n_lines_kept, n_short_lines,
    n_no_terminal_lines, n_boilerplate_lines, n_sentences, c4_keep).

    ``clean_text`` is the newline-join of surviving lines (NULL text
    stays NULL, counters 0, c4_keep false). ``n_sentences`` counts
    terminal-punctuation marks in the CLEANED text (C4's "at least 3
    sentences" gate applies post-cleaning). ``c4_keep`` additionally
    rejects lorem-ipsum and curly-brace documents — flags computed on
    the RAW text, as C4 does (a code fragment on a dropped line still
    damns the page)."""
    out = df.withColumn("_c4", _clean_struct(F.col(text_col), min_words))
    clean = F.array_join(F.col("_c4.kept"), "\n")
    n_sent = F.size(F.split(clean, r"[.!?]")) - 1
    raw_lower = F.lower(F.col(text_col))
    return (
        out.withColumn("clean_text", F.when(
            F.col(text_col).isNotNull(), clean))
        .withColumn("n_lines", F.coalesce(
            F.col("_c4.n_lines"), F.lit(0)))
        .withColumn("n_lines_kept", F.coalesce(
            F.size("_c4.kept"), F.lit(0)))
        .withColumn("n_short_lines", F.coalesce(
            F.col("_c4.n_short"), F.lit(0)))
        .withColumn("n_no_terminal_lines", F.coalesce(
            F.col("_c4.n_no_terminal"), F.lit(0)))
        .withColumn("n_boilerplate_lines", F.coalesce(
            F.col("_c4.n_boiler"), F.lit(0)))
        .withColumn("n_sentences", F.coalesce(
            F.when(F.col(text_col).isNotNull(), n_sent), F.lit(0)))
        .withColumn(
            "c4_keep",
            F.coalesce(
                (F.col("n_sentences") >= min_sentences)
                & ~raw_lower.contains("lorem ipsum")
                & ~F.col(text_col).contains("{"),
                F.lit(False),
            ),
        )
        .drop("_c4")
    )


def c4_document_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flags-only variant: (c4_keep, n_lines_kept, n_sentences) without
    materializing the cleaned text column (the gate-only caller's
    projection stays ~16 bytes/doc)."""
    full = c4_clean_lines(df, text_col)
    return full.drop("clean_text", "n_lines", "n_short_lines",
                     "n_no_terminal_lines", "n_boilerplate_lines")


def dedup_paragraphs_within_doc(df: DataFrame, text_col: str = "text",
                                sep: str = "\n") -> DataFrame:
    """IN-document paragraph dedup: a page's nav menu / footer / cookie
    banner often repeats VERBATIM inside one document (template engines
    emit it per section) — spandedup.py cuts passages duplicated ACROSS
    documents, this cuts exact repeats WITHIN one. First occurrence
    kept in place, later byte-identical paragraphs dropped
    (order-preserving), counters exact. One shuffle-free codegen
    projection: split once (materialized — an inline array referenced
    inside HOFs re-evaluates per element, the documented 5x trap), then
    ``array_distinct`` — which is exactly order-preserving
    first-occurrence (verified against a positional-filter reference),
    O(P) in P = paragraph count. Byte-grain equality: whitespace
    variants are distinct. NULL text passes through NULL.

    ``sep`` is the paragraph boundary, used verbatim as both the split
    pattern and the join string (regex-neutral literals only — newlines
    are): '\\n' for line-shaped text, '\\n\\n' for post-extraction
    markdown where blocks are blank-line separated (otherwise the empty
    separator lines would count as repeats of each other)."""
    reserved = {"para_deduped_text", "n_paras", "n_paras_dropped",
                "_pd_lines", "_pd_kept"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"dedup_paragraphs_within_doc: input already carries "
            f"{sorted(clash)} (reserved output/scratch names — same "
            "contract as textstats.with_repetition_stats)")
    return (
        df.withColumn("_pd_lines", F.split(F.col(text_col), sep))
        .withColumn("_pd_kept", F.array_distinct("_pd_lines"))
        .withColumn(
            "para_deduped_text",
            F.when(F.col(text_col).isNotNull(),
                   F.array_join(F.col("_pd_kept"), sep)),
        )
        .withColumn(
            "n_paras",
            F.when(F.col(text_col).isNotNull(), F.size("_pd_lines"))
            .otherwise(F.lit(0)),
        )
        .withColumn(
            "n_paras_dropped",
            F.when(
                F.col(text_col).isNotNull(),
                F.size("_pd_lines") - F.size("_pd_kept"),
            ).otherwise(F.lit(0)),
        )
        .drop("_pd_lines", "_pd_kept")
    )
