"""Deterministic sampling operators for training-data pipelines.

`rand()`/TABLESAMPLE are nondeterministic across runs and engines, which
breaks both reproducible training mixes and the cross-engine oracle
(SURVEY §4.3: no runtime randomness). Sampling here is content-hash
based: a row's md5-derived bucket in [0, 10000) decides membership, so
the same row is kept by every engine, every run, at every cluster size —
and changing the sampling rate grows/shrinks the kept set monotonically
(a row kept at 20% is still kept at 30%).

Scale: a pure codegen projection + filter, no shuffle, no state; the
stratified variant adds one broadcast join against the (tiny) rates
table. The md5 prefix is 28 bits (7 hex digits), so the %10000 fold's
bias is < 0.004% relative (268435456 % 10000 = 5456 → one extra source
value on 5456 of the 10000 buckets) and identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hash_bucket(key_col, salt: str = ""):
    """Uniform bucket in [0, 10000) from md5(key || salt): the first
    7 hex digits (28 bits) parsed as an int (conv is engine-portable —
    DuckDB mirrors it with a '0x' cast), folded modulo 10000."""
    key = F.concat(key_col.cast("string"), F.lit(salt))
    return (
        F.conv(F.substring(F.md5(key), 1, 7), 16, 10).cast("int") % 10000
    )


def stratified_sample(df: DataFrame, rates: DataFrame, strata_col: str,
                      key_col: str) -> DataFrame:
    """Per-stratum hash sampling: join the broadcast ``rates`` table
    (strata_col -> rate_bp) and keep rows whose bucket falls under their
    stratum's rate — the 'training-mix weights' primitive (e.g. keep 25%
    of web, 100% of books)."""
    joined = df.join(F.broadcast(rates), strata_col)
    return joined.filter(hash_bucket(F.col(key_col)) < F.col("rate_bp"))


def group_split(df: DataFrame, group_col: str,
                splits: list[tuple[str, int]] = (
                    ("train", 9000), ("val", 500), ("test", 500)),
                salt: str = "split") -> DataFrame:
    """Leakage-free train/val/test assignment: the bucket is hashed from
    the GROUP key (conversation, document, domain), so every row of a
    group lands in the same split — a conversation can never straddle
    train and eval. Weights are basis points and must sum to 10000
    (checked loudly: a silent renormalization would quietly change every
    assignment). Pure codegen projection — no shuffle, no state,
    identical assignment at every cluster size and in every engine."""
    splits = list(splits)
    total = sum(bp for _, bp in splits)
    if total != 10000:
        raise ValueError(
            f"group_split weights must sum to 10000 bp, got {total}"
        )
    if len({name for name, _ in splits}) != len(splits):
        raise ValueError("group_split names must be unique")
    # a NULL group key hashes to a NULL bucket, which would fall through
    # every when() to the LAST split — 100% of keyless rows silently
    # skewing the eval split. Fail loudly instead (same posture as
    # graph.connected_components on non-castable ids).
    key = F.when(
        F.col(group_col).isNull(),
        F.raise_error(F.lit(
            f"group_split: NULL {group_col} cannot be assigned a split "
            "(fill or filter keyless rows first)"
        )).cast("string"),
    ).otherwise(F.col(group_col).cast("string"))
    bucket = hash_bucket(key, salt)
    expr = None
    edge = 0
    for name, bp in splits[:-1]:
        edge += bp
        expr = (F.when(bucket < edge, name) if expr is None
                else expr.when(bucket < edge, name))
    last = F.lit(splits[-1][0]) if expr is None else expr.otherwise(
        splits[-1][0])
    return df.withColumn("split", last)
