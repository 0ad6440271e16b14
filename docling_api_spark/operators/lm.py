"""N-gram language-model perplexity filtering (CCNet-style).

CCNet (Wenzek et al. 2020) filters web crawl by perplexity under a
KenLM n-gram model trained on a trusted reference corpus (Wikipedia):
low-perplexity documents read like the reference, high-perplexity ones
are noise/gibberish. This module is the distributed equivalent: a
bigram LM with add-α smoothing over a HASHED vocabulary, trained with
exact integer counting and scored with exact long sums — deterministic
at any parallelism (the same contract as operators/classifier.py).

Model tables (both produced by one counting pass over the reference):
  - bigrams:  (prev, cur) -> lp_scaled        = ⌊scale·log p̂(cur|prev)⌉
  - contexts: (prev)      -> miss_lp_scaled   = ⌊scale·log p̂(unseen|prev)⌉
  - meta.unseen_scaled: log p̂ for a completely unseen context.
p̂(cur|prev) = (c(prev,cur)+α) / (c(prev)+αV) with V = n_buckets; every
log is a PER-ROW pure double of exact integers quantized to a scaled
long — no cross-row float accumulation anywhere, so scores are single
longs, bit-identical under any partitioning.

Shape at 100 TB:
  - the reference corpus is small by construction (CCNet trains on
    Wikipedia, scores Common Crawl), so both model tables BROADCAST into
    the scoring pass — exactly KenLM's posture of shipping the .arpa
    binary to every worker. Scoring is scan -> hash -> pair-explode ->
    two broadcast left joins -> ONE exchange on doc_id. A reference too
    large to broadcast would flip the bigram join to a shuffle join with
    the same semantics (documented trade, not taken by default).
  - the hashed vocabulary bounds the context table to V+1 rows and the
    bigram table to the reference's distinct hashed bigrams (never V²).
  - training runs the reference pass ONCE into two model-sized
    checkpointed count tables (no driver collect beyond meta constants);
    scoring shuffles only the per-document partial sums.

Reference parity: no reference analog (per-document gateway); part of
the training-data-pipeline layer the brief adds (SURVEY §2.12).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _tokens

N_BUCKETS = 1 << 16
LM_SCALE = 1 << 20
ALPHA = 1


def _pair_stream(df: DataFrame, id_col: str, text_col: str,
                 n_buckets: int,
                 carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """(id, carry..., prev, cur): one row per bigram PREDICTION — the
    first token is predicted from the reserved BOS context (bucket id ==
    n_buckets, outside the pmod range). NULL text emits one row with
    NULL prev/cur (explode_outer keeps the document visible; also avoids
    the InferFiltersFromGenerate plan inflation noted in decontam.py).
    `_tokens` never yields an empty array (split('') -> ['']), so the
    pair array of a non-null text has >= 1 element and sequence(1, n)
    is always ascending."""
    bos = F.lit(n_buckets).cast("long")
    v = F.lit(n_buckets).cast("long")
    base = df.select(
        F.col(id_col), *[F.col(c) for c in carry_cols],
        F.transform(
            _tokens(F.col(text_col)), lambda t: F.pmod(F.xxhash64(t), v)
        ).alias("_tb"),
    )
    pairs = F.when(
        F.col("_tb").isNotNull(),
        F.transform(
            F.sequence(F.lit(1), F.size("_tb")),
            lambda i: F.struct(
                F.when(i == 1, bos)
                .otherwise(F.element_at(F.col("_tb"), i - 1))
                .alias("prev"),
                F.element_at(F.col("_tb"), i).alias("cur"),
            ),
        ),
    )
    return base.select(
        F.col(id_col), *[F.col(c) for c in carry_cols],
        F.explode_outer(pairs).alias("_p"),
    ).select(
        F.col(id_col), *[F.col(c) for c in carry_cols],
        F.col("_p.prev").alias("prev"), F.col("_p.cur").alias("cur"),
    )


def train_lm(ref: DataFrame, id_col: str = "doc_id",
             text_col: str = "text", n_buckets: int = N_BUCKETS,
             alpha: int = ALPHA,
             scale: int = LM_SCALE) -> tuple[DataFrame, DataFrame, dict]:
    """Train the smoothed bigram LM on the reference corpus. Returns
    ``(bigrams, contexts, meta)`` — see module docstring for the table
    contracts. The count tables are materialized ONCE (eager
    localCheckpoint; both are model-sized by construction): left lazy,
    the reference counting pass would re-execute for each of the two
    broadcast tables score_lm builds from them."""
    pairs = _pair_stream(
        ref.filter(F.col(text_col).isNotNull()), id_col, text_col,
        n_buckets,
    ).filter(F.col("cur").isNotNull())
    c_bi = pairs.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).alias("c_bi")
    ).localCheckpoint(eager=True)
    c_ctx = c_bi.groupBy("prev").agg(F.sum("c_bi").alias("c_prev")) \
        .localCheckpoint(eager=True)
    av = F.lit(float(alpha * n_buckets))
    bigrams = (
        c_bi.join(F.broadcast(c_ctx), "prev")
        .select(
            "prev", "cur",
            F.round(
                (F.log(F.col("c_bi") + alpha)
                 - F.log(F.col("c_prev") + av)) * scale
            ).cast("long").alias("lp_scaled"),
        )
    )
    contexts = c_ctx.select(
        "prev",
        F.round(
            (F.lit(math.log(alpha)) - F.log(F.col("c_prev") + av)) * scale
        ).cast("long").alias("miss_lp_scaled"),
    )
    meta = {
        "unseen_scaled": int(round(
            (math.log(alpha) - math.log(alpha * n_buckets)) * scale)),
        "n_buckets": n_buckets, "alpha": alpha, "scale": scale,
    }
    return bigrams, contexts, meta


def score_lm(df: DataFrame, bigrams: DataFrame, contexts: DataFrame,
             meta: dict, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Per-document perplexity under the trained LM:
    (id, n_pred, logprob_scaled, avg_logprob, perplexity).

    logprob_scaled = Σ lp(prediction), an EXACT long: seen bigram -> its
    lp; unseen bigram in a seen context -> that context's miss lp; unseen
    context -> meta.unseen_scaled. NULL-text documents keep their row
    with n_pred = 0 and NULL avg/perplexity. avg_logprob and perplexity
    are per-row doubles derived from the single exact long."""
    pairs = _pair_stream(df, id_col, text_col, meta["n_buckets"])
    lp = F.when(F.col("cur").isNull(), F.lit(0).cast("long")).otherwise(
        F.coalesce(
            F.col("lp_scaled"), F.col("miss_lp_scaled"),
            F.lit(meta["unseen_scaled"]).cast("long"),
        )
    )
    scored = (
        pairs.join(F.broadcast(bigrams), ["prev", "cur"], "left")
        .join(F.broadcast(contexts), ["prev"], "left")
        .groupBy(id_col)
        .agg(
            F.count("cur").alias("n_pred"),
            F.sum(lp).alias("logprob_scaled"),
        )
    )
    avg = F.when(
        F.col("n_pred") > 0,
        F.col("logprob_scaled").cast("double")
        / (F.col("n_pred").cast("double") * F.lit(float(meta["scale"]))),
    )
    return scored.select(
        id_col, "n_pred", "logprob_scaled",
        avg.alias("avg_logprob"),
        F.exp(-avg).alias("perplexity"),
    )
