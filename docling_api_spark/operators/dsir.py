"""DSIR: Data Selection with Importance Resampling (Xie et al. 2023).

Select a k-document training subset from a raw corpus so that its
distribution matches a small TARGET corpus (e.g. pick the most
Wikipedia-like slice of a crawl): estimate per-document importance
log-weights log(p_target(x)/p_raw(x)) under hashed-n-gram bag models,
then GUMBEL-TOP-K sample — adding iid Gumbel noise to the log-weights
and taking the top k is exactly sampling-without-replacement
proportional to the importance weights (the Gumbel-max trick), in one
pass, with no sequential draws.

Composition, not reimplementation: the hashed-n-gram log-ratio IS the
Naive-Bayes log-odds of operators/classifier.py with classes
(target, raw) — nb_train's exact integer counting and scaled-long
weights carry over, so the importance score of every document is one
exact long (bit-identical at any parallelism; the class-prior term
shifts every document equally and cannot change the selection).

Determinism: the Gumbel noise is HASH-derived, not random —
u = (xxhash64(salt, id) mod 2^40 + 1) / (2^40 + 1) ∈ (0,1) STRICTLY
(numerator ≤ 2^40 and denominator are both exactly representable
doubles, so u is one correctly-rounded division on both engines and
can never round to 0.0 or 1.0 — a 2^53-grained u could: float(2^53+1)
IS 2^53, making u = 1.0 reachable and g = +Inf),
g = -log(-log(u)) — a per-row pure double of the document id. The
selection key (score/temperature + g, tie-broken by id) is therefore a
pure function of (corpus, seeds, salt): the same inputs select the same
k documents on any cluster. A fresh resample is a new salt.

Shape at 100 TB: scoring is the classifier's broadcast-join pass; the
top-k is Spark's TakeOrdered (per-partition heaps, k rows to the
driver) — k is the selected-subset size, bounded by the training budget
by construction. No corpus sort, no sequential sampling loop.

Reference parity: no reference analog (per-document gateway); part of
the training-data-pipeline layer the brief adds (SURVEY §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .classifier import WEIGHT_SCALE, nb_score, nb_train

_U_BITS = 40  # see module docstring: exact-representability bound
_U_DEN = float((1 << _U_BITS) + 1)


def dsir_importance(corpus: DataFrame, target: DataFrame, raw: DataFrame,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> tuple[DataFrame, dict]:
    """Score every corpus document with the hashed-n-gram importance
    log-ratio (as ``score_scaled``, an exact long; see module
    docstring). ``target``/``raw`` are the two seed frames (raw is
    typically a uniform hash-sample of the corpus itself,
    operators/sampling.py)."""
    labeled = target.select(
        F.col(id_col), F.col(text_col), F.lit("target").alias("label")
    ).unionByName(raw.select(
        F.col(id_col), F.col(text_col), F.lit("raw").alias("label")
    ))
    weights, meta = nb_train(
        labeled, positive="target", id_col=id_col, text_col=text_col,
    )
    return nb_score(corpus, weights, meta, id_col, text_col), meta


def gumbel_key(id_col_expr, score_scaled_expr, temperature: float,
               salt: str):
    """score/temperature + hash-Gumbel(id): the Gumbel-top-k selection
    key as a column expression (per-row pure doubles of exact inputs —
    deterministic)."""
    u = (
        (F.pmod(F.xxhash64(F.lit(salt), id_col_expr),
                F.lit(1 << _U_BITS).cast("long")) + 1).cast("double")
        / F.lit(_U_DEN)
    )
    g = -F.log(-F.log(u))
    return (
        score_scaled_expr.cast("double")
        / F.lit(float(WEIGHT_SCALE) * float(temperature))
        + g
    )


def dsir_select(corpus: DataFrame, target: DataFrame, raw: DataFrame,
                k: int, id_col: str = "doc_id", text_col: str = "text",
                temperature: float = 1.0, salt: str = "dsir") -> DataFrame:
    """The k selected documents: (id, score_scaled, dsir_key), highest
    Gumbel-perturbed importance first, ties broken by id (total,
    deterministic order). ``temperature`` < 1 sharpens toward the
    highest-importance docs, > 1 flattens toward uniform."""
    scored, _ = dsir_importance(corpus, target, raw, id_col, text_col)
    keyed = scored.select(
        id_col, "score_scaled",
        gumbel_key(F.col(id_col), F.col("score_scaled"), temperature,
                   salt).alias("dsir_key"),
    )
    return keyed.orderBy(F.desc("dsir_key"), F.col(id_col)).limit(k)
