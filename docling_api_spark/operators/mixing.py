"""Deterministic training-data mixture builder.

Assembles a training mix from a multi-source corpus: each source is
down-sampled (keep a deterministic fraction) or up-sampled (repeat whole
epochs plus a deterministic fractional epoch) so the realized token mass
per source hits a target share of a token budget — the standard
"data mixture" step in front of chunking/packing (cf. temperature-based
sampling for multilingual pretraining and published source-weight mixes).

The target shares are explicit ``weights`` {source: weight},
normalized over the given sources; sources without a weight are dropped
from the mix.

Determinism (SURVEY §4.3: no runtime randomness): the fractional epoch
keeps a doc iff its md5 ``hash_bucket`` (sampling.py — the same
cross-engine-stable primitive the stratified sampler uses) falls under
the fractional rate, so the same mixture is produced on every run, every
engine, and at every cluster size.

Scale: rate planning touches one tiny per-source counts row per source
(collected to the driver — O(#sources), documented); materialization is
a broadcast join + ``explode(sequence(...))`` + codegen filter over the
corpus — no shuffle of document text, no Python in the hot path.
Up-sampled rows carry an ``epoch`` column so downstream shuffling /
packing can keep repeats apart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docling_api_spark.operators.sampling import hash_bucket

# loud guard, not a silent cap: a source whose target share implies more
# than MAX_EPOCHS full repeats is almost certainly a mis-stated mix
# (e.g. a 10-doc source asked to fill 50% of a trillion-token budget).
MAX_EPOCHS = 1000


def mixture_rates(counts: DataFrame, budget_tokens: int, *,
                  weights: dict[str, float]) -> DataFrame:
    """Plan per-source sampling factors for a token budget.

    ``counts`` is the tiny per-source rollup (source, n_tokens). Returns
    one row per mixed source: (source, n_tokens, share_bp, n_copies,
    frac_bp) where the sampling factor is n_copies + frac_bp/10000, so
    the expected realized tokens are budget_tokens * share_bp/10000 per
    source.
    """
    if budget_tokens <= 0:
        raise ValueError("mixture_rates: budget_tokens must be positive")
    rows = counts.select(
        F.col("source").cast("string").alias("source"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    ).collect()  # O(#sources) — the planning table, not the corpus
    have = {r["source"]: r["n_tokens"] for r in rows}
    bad = [s for s, n in have.items() if s is None or n is None or n <= 0]
    if bad:
        raise ValueError(f"mixture_rates: non-positive/NULL counts: {bad}")
    missing = set(weights) - set(have)
    if missing:
        raise ValueError(
            f"mixture_rates: weights name unknown sources: {sorted(missing)}"
        )
    if any(w < 0 for w in weights.values()):
        raise ValueError("mixture_rates: weights must be >= 0")
    mass = {s: float(w) for s, w in weights.items() if w > 0}
    total = sum(mass.values())
    if total <= 0:
        raise ValueError("mixture_rates: all mixture weights are zero")
    plan = []
    for s in sorted(mass):
        share = mass[s] / total
        factor = budget_tokens * share / have[s]
        n_copies = int(factor)
        frac_bp = round((factor - n_copies) * 10000)
        if frac_bp == 10000:  # float landed on the next integer
            n_copies, frac_bp = n_copies + 1, 0
        if n_copies >= MAX_EPOCHS:
            raise ValueError(
                f"mixture_rates: source {s!r} needs factor {factor:.1f} "
                f"(>= {MAX_EPOCHS} full epochs) — mis-stated mix?"
            )
        plan.append((s, have[s], round(share * 10000), n_copies, frac_bp))
    return counts.sparkSession.createDataFrame(
        plan,
        "source string, n_tokens long, share_bp int, n_copies int, frac_bp int",
    )


def build_mixture(df: DataFrame, rates: DataFrame) -> DataFrame:
    """Materialize the mixture: every doc of a mixed source appears
    ``n_copies`` times (epochs 0..n_copies-1) plus once more in epoch
    ``n_copies`` iff its hash bucket falls under ``frac_bp``. Sources
    absent from ``rates`` are dropped (explicit mix — same inner-join
    posture as stratified_sample). Output = input columns + ``epoch``.

    The epoch fan-out is ``explode(sequence(...))`` over the broadcast
    rates join — pure codegen, no shuffle; a doc kept once is kept
    forever (reproducible mixes)."""
    plan = rates.select("source", "n_copies", "frac_bp")
    joined = df.join(F.broadcast(plan), "source")
    fanned = joined.withColumn(
        "epoch", F.explode(F.sequence(F.lit(0), F.col("n_copies")))
    )
    keep = (F.col("epoch") < F.col("n_copies")) | (
        hash_bucket(F.col("doc_id"), "mix") < F.col("frac_bp")
    )
    return fanned.filter(keep).drop("n_copies", "frac_bp")
