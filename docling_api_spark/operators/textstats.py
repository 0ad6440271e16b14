"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All built from JVM-side ``pyspark.sql.functions`` (whole-stage codegen,
no Python in the hot path) except the rolling-hash fingerprint, which is
a vectorized pandas UDF. Designed for the ``documents`` table shape
(doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# small English stopword list, fixed (deterministic heuristic)
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]


def _tokens(col):
    return F.split(F.trim(col), r"\s+")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + char count + average token length."""
    toks = _tokens(F.col(text_col))
    return df.withColumn("n_tokens", F.size(toks)).withColumn(
        "n_chars_m", F.length(text_col)
    ).withColumn(
        "avg_token_len",
        F.round(
            (F.length(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", ""))
             / F.greatest(F.size(toks), F.lit(1))).cast("double"),
            4,
        ),
    )


def _ratio_e4(num, den, decimals: int = 4):
    """HALF_UP(num/den, decimals) in EXACT integer arithmetic:
    floor((2*10^d*num + den) / (2*den)) for non-negative long num/den,
    emitted as the scaled integer / 10^d double. Engine-portable where
    float `round` is NOT: Spark HALF_UPs the double's shortest DECIMAL
    string while DuckDB rounds the BINARY value, so a true rational tie
    like 8040/32000 = 0.25125 rounds to 0.2513 vs 0.2512 (hit at
    sf0.001, doc 311). Integer div sidesteps both: the same scaled
    integer (exact in double) on every engine. The inner division is
    (a - pmod(a,b))/b — exactly divisible, so the double division is
    exact; no `div` operator needed inside a composed expression."""
    scale = 10 ** decimals
    a = F.lit(2 * scale).cast("long") * num.cast("long") + den.cast("long")
    b = F.lit(2).cast("long") * den.cast("long")
    return ((a - F.pmod(a, b)) / b) / F.lit(float(scale))


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality features: stopword ratio, punctuation ratio,
    and a length-saturating score in [0,1]. (The C4/C5-free analog of the
    reference's content 'accuracy' keyword scoring,
    scripts/test_production.py:356-368.) All three columns are
    HALF_UP-rounded rationals computed in exact integer arithmetic
    (see _ratio_e4) so every engine produces bit-identical doubles."""
    toks = _tokens(F.col(text_col))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    n_tok = F.greatest(F.size(toks), F.lit(1))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
    chars = F.greatest(F.length(text_col), F.lit(1))
    # quality = min(len,500)/1000 + min(5*n_stop, n_tok)/(2*n_tok)
    #         = (min(len,500)*2*n_tok + 1000*min(5*n_stop, n_tok))
    #           / (2000*n_tok)                       — one exact rational
    q_num = (
        F.least(F.length(text_col).cast("long"), F.lit(500).cast("long"))
        * F.lit(2).cast("long") * n_tok.cast("long")
        + F.lit(1000).cast("long")
        * F.least(F.lit(5).cast("long") * n_stop.cast("long"),
                  n_tok.cast("long"))
    )
    q_den = F.lit(2000).cast("long") * n_tok.cast("long")
    return (
        df.withColumn("stopword_ratio", _ratio_e4(n_stop, n_tok))
        .withColumn("punct_ratio", _ratio_e4(punct, chars))
        .withColumn("quality_score", _ratio_e4(q_num, q_den))
    )


# the CLOSED set with_lang_id can emit — gate callers validate their
# allow-lists against it (an unknown code would silently drop everything)
LANG_CODES = ("zh", "ru", "el", "en", "und")


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram-free heuristic language ID: script detection (CJK/Cyrillic/
    Greek) then English-stopword density; 'und' when nothing matches.
    Emits exactly the codes in ``LANG_CODES``."""
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    toks = _tokens(F.lower(F.col(text_col)))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_tok = F.greatest(F.size(toks), F.lit(1))
    return df.withColumn(
        "lang_pred",
        F.when(F.col(text_col).rlike("[\\u4e00-\\u9fff]"), F.lit("zh"))
        .when(F.col(text_col).rlike("[\\u0400-\\u04ff]"), F.lit("ru"))
        .when(F.col(text_col).rlike("[\\u0370-\\u03ff]"), F.lit("el"))
        .when((n_stop / n_tok) >= 0.03, F.lit("en"))
        .otherwise(F.lit("und")),
    )


# GPT-2-style pre-tokenizer pattern, restricted to constructs shared by
# Java regex (Spark) and RE2 (DuckDB): contractions, space-prefixed word /
# number / punctuation runs, whitespace runs. No lookarounds, no \p
# classes — and no \s: Java's \s includes vertical tab \x0B while RE2's
# does not, so whitespace is an explicit class identical in both engines.
BPE_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+"
    r"| ?[^A-Za-z0-9 \t\n\r\f']+|[ \t\n\r\f]+"
)


def with_bpe_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish token counting: split with the GPT-2-style regex entirely
    JVM-side (`regexp_extract_all`), alongside the whitespace count. At
    100 TB this is the cheap 'how many tokens am I about to train on'
    estimator — one codegen'd projection, no Python."""
    toks = F.regexp_extract_all(text_col, F.lit(BPE_PATTERN), 0)
    return df.withColumn("n_bpe_tokens", F.size(toks)).withColumn(
        "n_ws_tokens", F.size(_tokens(F.col(text_col)))
    )


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition features: the fraction of duplicate word
    2-grams / 3-grams inside each document (high values flag boilerplate
    and degenerate generations — a standard pre-training quality filter).
    Pure higher-order array expressions: no explode, no shuffle; tokens
    are materialized once as a column (shared by both gram sizes) because
    the shingling transform re-evaluates inline subtrees per element —
    see shingles_of_tokens."""
    from docling_api_spark.operators.dedup import _tokens, shingles_of_tokens

    if "_rep_toks" in df.columns:
        # the scratch column would silently clobber (and then drop) the
        # caller's column — same reserved-name contract as joins.asof_join
        raise ValueError("column name '_rep_toks' is reserved")

    def dup_frac(n: int):
        # 1 - distinct/total = (max(total,1) - distinct)/max(total,1),
        # HALF_UP at 6 by exact integer division (rational ties split
        # Spark/DuckDB float round, see _ratio_e4)
        g = shingles_of_tokens(F.col("_rep_toks"), n)
        total = F.greatest(F.size(g), F.lit(1))
        return _ratio_e4(total - F.size(F.array_distinct(g)), total, 6)

    return (
        df.withColumn("_rep_toks", _tokens(F.col(text_col)))
        .withColumn("dup_2gram_frac", dup_frac(2))
        .withColumn("dup_3gram_frac", dup_frac(3))
        .drop("_rep_toks")
    )


def with_pii_mask(df: DataFrame, name_col: str = "c_name",
                  numeric_col: str = "c_acctbal") -> DataFrame:
    """PII scrubbing primitives for corpus preparation: digit masking
    (all but the last 4), sha-256 pseudonymization (reference key-hash
    pattern, db_models.py:31-33), and numeric generalization to coarse
    buckets (k-anonymity style). All codegen'd string/number expressions."""
    n = F.length(name_col)
    # names of <= 4 chars mask fully — the keep-last-4 form would return
    # garbage (negative substr lengths differ per engine)
    masked = F.when(
        n > 4,
        F.concat(
            F.regexp_replace(F.col(name_col).substr(F.lit(1), n - 4),
                             "[0-9]", "*"),
            F.col(name_col).substr(n - 3, F.lit(4)),
        ),
    ).otherwise(F.regexp_replace(F.col(name_col), "[0-9]", "*"))
    return df.select(
        *df.columns,
        F.sha2(F.col(name_col), 256).alias("name_hash"),
        masked.alias("masked_name"),
        (F.floor(F.col(numeric_col) / 1000) * 1000).cast("double")
        .alias("balance_bucket"),
    )


_FP_SCHEMA = T.LongType()
_FP_WINDOW = 8
_FP_BASE = 257


@F.pandas_udf(_FP_SCHEMA)
def fingerprint64(texts: pd.Series) -> pd.Series:
    """Document fingerprint: min of rolling polynomial hashes over byte
    windows (winnowing-style), computed in uint64 with well-defined
    mod-2^64 wraparound (the previous mod-(2^61-1) variant silently
    overflowed int64 before the reduction — deterministic but not the
    polynomial it claimed to be). Min is taken in the unsigned domain,
    then reinterpreted as a signed long for storage. Vectorized per Arrow
    batch; numpy inner loop over the 8 window offsets, not over rows.
    Independent pure-Python oracle: tests/test_python_oracles.py."""
    import numpy as np

    base = np.uint64(_FP_BASE)
    out = []
    with np.errstate(over="ignore"):  # uint64 wraparound is the definition
        for t in texts:
            if not t:
                out.append(0)
                continue
            b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
            if len(b) < _FP_WINDOW:
                b = np.pad(b, (0, _FP_WINDOW - len(b)))
            h = np.zeros(len(b) - _FP_WINDOW + 1, dtype=np.uint64)
            for k in range(_FP_WINDOW):  # 8 iterations, vectorized over all windows
                h = h * base + b[k: len(b) - _FP_WINDOW + 1 + k]
            fp = int(h.min())
            out.append(fp - (1 << 64) if fp >= (1 << 63) else fp)
    return pd.Series(out, dtype="int64")

