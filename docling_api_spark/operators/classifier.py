"""Hashed n-gram quality classifier (fastText / CCNet-style filtering).

Web-scale training corpora are quality-filtered with a cheap linear
classifier trained on seed sets ("wiki-like" positives vs raw-crawl
negatives): CCNet (Wenzek et al. 2020) and fastText (Joulin et al. 2017)
hash word unigrams+bigrams into a fixed feature space and score every
document with a linear model. This module implements the same shape as a
multinomial Naive Bayes over hashed features — chosen because training
reduces to exact integer COUNTING, which Spark aggregates exactly and
deterministically at any parallelism (a gradient-descent trainer would be
iteration-order dependent).

Determinism contract (repo invariant: bit-identical at any parallelism):
  - all corpus-wide accumulation is exact integer counting (token
    occurrence counts per (feature, class) — partial-agg friendly longs);
  - each per-feature log is a PER-ROW pure double function of exact
    integers (no cross-row float accumulation), then quantized to a
    scaled long;
  - scoring sums the scaled-long weights exactly (long addition is
    associative), so a document's score is one long, identical under any
    partitioning. The float `score` is derived from that single long.

Shape at 100 TB:
  - feature hashing bounds the weight table to ``n_buckets`` rows by
    construction, independent of corpus vocabulary — so the trained model
    BROADCASTS into the scoring pass (one map-side join, no shuffle of
    corpus tokens against the model);
  - training shuffles one (feature, class) pair per token occurrence,
    collapsed map-side by the partial agg (hot features — stopwords —
    combine before the exchange, no skew);
  - driver/executor materialization is bounded by construction: a
    handful of scalar totals plus one localCheckpoint of the
    ≤ n_buckets-row count table (so the seed-counting pass runs once,
    not once per consumer) — same posture as the IVF quantizer's
    16-row centroid collect (similarity._centroids).

Feature definition (mirrors the string-free minhash idiom, dedup.py):
token hashed once to a long via a materialized HOF transform; unigram
feature = pmod(xxhash64(token), V); bigram feature = pmod(xxhash64(h_i,
h_{i+1}), V) folding the two adjacent token hashes with one multi-arg
fixed-width xxhash64 — no bigram string is ever built. Unigrams and
bigrams share the same V-bucket space (fastText's trick), so the
smoothing vocabulary is exactly V.

Reference parity: no reference analog (per-document gateway); part of
the training-data-pipeline layer the brief adds (SURVEY §2.12).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _tokens

N_BUCKETS = 1 << 16
WEIGHT_SCALE = 1 << 20
ALPHA = 1  # add-one smoothing; integer so every count stays exact


def hashed_features(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", n_buckets: int = N_BUCKETS,
                    carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """One row per token-occurrence feature: (id, carry..., feature).

    Documents with NULL text (or whose tokenization is null) emit exactly
    one row with a NULL feature — explode_outer keeps every document
    visible to the scorer (and sidesteps the InferFiltersFromGenerate
    plan inflation documented at decontam.py: the non-outer Generate
    would push the whole tokenize+hash pipeline into a filter below the
    projection). Training callers filter ``feature IS NOT NULL``.
    """
    toks = _tokens(F.col(text_col))
    base = df.select(
        F.col(id_col), *[F.col(c) for c in carry_cols],
        F.transform(toks, lambda t: F.xxhash64(t)).alias("_th"),
    )
    v = F.lit(n_buckets).cast("long")
    uni = F.transform(F.col("_th"), lambda h: F.pmod(h, v))
    bi = F.when(
        F.size("_th") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("_th") - 2),
            lambda i: F.pmod(
                F.xxhash64(
                    F.element_at(F.col("_th"), i + 1),
                    F.element_at(F.col("_th"), i + 2),
                ),
                v,
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return base.select(
        F.col(id_col), *[F.col(c) for c in carry_cols],
        F.explode_outer(F.concat(uni, bi)).alias("feature"),
    )


def nb_train(labeled: DataFrame, positive, label_col: str = "label",
             id_col: str = "doc_id", text_col: str = "text",
             n_buckets: int = N_BUCKETS) -> tuple[DataFrame, dict]:
    """Train the NB log-odds model. Returns ``(weights, meta)``:
    ``weights`` is a DataFrame[(feature long, weight_scaled long)] of at
    most ``n_buckets`` rows; ``meta`` carries the scaled prior, the
    default weight for features unseen in training, and the exact totals.

    weight(f) = log(c_pos(f)+α) − log(T_pos+αV) − log(c_neg(f)+α)
              + log(T_neg+αV), quantized HALF_UP to ``WEIGHT_SCALE`` units.
    The two denominator logs are driver-side constants folded into one
    literal; the two count logs run per feature ROW in the JVM (pure
    per-row doubles — deterministic; the pytest oracle allows ±1 scaled
    unit for the Math.log vs math.log ulp).
    """
    nn = labeled.filter(F.col(text_col).isNotNull())
    is_pos = F.col(label_col) == F.lit(positive)
    # doc counts FIRST (cheap scan) — and a loud failure on NULL labels:
    # `label == positive` is NULL for them, and every when(is_pos, ...)
    # would otherwise silently route them into the negative class
    docs = nn.agg(
        F.coalesce(F.sum(F.when(is_pos, 1).otherwise(0)), F.lit(0))
        .alias("n_pos"),
        F.coalesce(F.sum(F.when(is_pos, 0).otherwise(1)), F.lit(0))
        .alias("n_neg"),
        F.coalesce(
            F.sum(F.col(label_col).isNull().cast("long")), F.lit(0)
        ).alias("n_null"),
    ).collect()[0]
    if docs["n_null"] > 0:
        raise ValueError(
            f"nb_train: {docs['n_null']} documents carry a NULL "
            f"{label_col!r} — label every seed doc (any non-positive "
            "label is the negative class, but NULL is ambiguous)")
    if docs["n_pos"] == 0 or docs["n_neg"] == 0:
        raise ValueError("nb_train needs at least one document per class")
    feats = hashed_features(
        nn, id_col, text_col, n_buckets, carry_cols=(label_col,)
    ).filter(F.col("feature").isNotNull())
    # materialized once (<= n_buckets rows by construction): the counting
    # pass otherwise re-executes for the totals agg AND for every scoring
    # action that consumes the weights
    counts = feats.groupBy("feature").agg(
        F.sum(F.when(is_pos, 1).otherwise(0)).alias("c_pos"),
        F.sum(F.when(is_pos, 0).otherwise(1)).alias("c_neg"),
    ).localCheckpoint(eager=True)
    # bounded driver materialization: 2 scalars (see module docstring)
    tot = counts.agg(
        F.coalesce(F.sum("c_pos"), F.lit(0)).alias("t_pos"),
        F.coalesce(F.sum("c_neg"), F.lit(0)).alias("t_neg"),
    ).collect()[0]
    logden_pos = math.log(tot["t_pos"] + ALPHA * n_buckets)
    logden_neg = math.log(tot["t_neg"] + ALPHA * n_buckets)
    const = logden_neg - logden_pos
    weights = counts.select(
        "feature",
        F.round(
            (F.log(F.col("c_pos") + ALPHA) - F.log(F.col("c_neg") + ALPHA)
             + F.lit(const)) * WEIGHT_SCALE
        ).cast("long").alias("weight_scaled"),
    )
    meta = {
        "prior_scaled": int(round(
            (math.log(docs["n_pos"]) - math.log(docs["n_neg"]))
            * WEIGHT_SCALE)),
        "default_scaled": int(round(const * WEIGHT_SCALE)),
        "n_buckets": n_buckets,
        "alpha": ALPHA,
        "scale": WEIGHT_SCALE,
        "t_pos": int(tot["t_pos"]), "t_neg": int(tot["t_neg"]),
        "n_pos": int(docs["n_pos"]), "n_neg": int(docs["n_neg"]),
    }
    return weights, meta


def nb_score(df: DataFrame, weights: DataFrame, meta: dict,
             id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Score every document: (id, n_features, score_scaled, score, keep).

    score_scaled = prior + Σ weight(feature occurrence), an EXACT long
    (unseen features take the smoothed default; NULL-text documents keep
    their row with a prior-only score). ``score`` is that single long
    divided by the scale (one per-row double op); ``keep`` is the NB
    decision score ≥ 0. The weight table broadcasts (≤ n_buckets rows by
    construction)."""
    feats = hashed_features(df, id_col, text_col, meta["n_buckets"])
    default = F.lit(meta["default_scaled"]).cast("long")
    contrib = F.when(F.col("feature").isNull(), F.lit(0).cast("long")) \
        .otherwise(F.coalesce(F.col("weight_scaled"), default))
    scored = (
        feats.join(F.broadcast(weights), "feature", "left")
        .groupBy(id_col)
        .agg(
            F.count("feature").alias("n_features"),
            (F.sum(contrib) + F.lit(meta["prior_scaled"]).cast("long"))
            .alias("score_scaled"),
        )
    )
    return scored.select(
        id_col,
        "n_features",
        "score_scaled",
        (F.col("score_scaled").cast("double") / F.lit(float(meta["scale"])))
        .alias("score"),
        (F.col("score_scaled") >= 0).alias("keep"),
    )
