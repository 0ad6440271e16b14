"""Persistent cross-snapshot dedup index — the production surface over
operators/dedup.py's incremental family.

Each update commits the next index version through plans/checkpoint.py's
``commit_version``: ``v<NNNN>/`` holds one row per distinct content,
``(id_col, content_sha, minhash)``, and ``INDEX.json`` is ``{"version":
N, "n_rows": M}``. Re-running a committed batch is a no-op: every id is
anti-joined away and no version is written (the ST4 idempotency shape).

One id names one text: a batch that gives one id two texts raises
``ValueError`` (their minhash would merge); a committed id that a later
batch brings with new text is counted as ``n_ids_reused``, not indexed.

At 100 TB the index is O(distinct contents) compact rows (~170 bytes
each); each update reads only the new batch's text plus the index
parquet, never the committed corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_api_spark.plans.checkpoint import (
    commit_version,
    current_version,
    version_dir,
)


def load_index(spark: SparkSession,
               index_dir: str) -> tuple[DataFrame | None, dict | None]:
    """The committed index and its pointer state; (None, None) before any."""
    state = current_version(index_dir)
    if state is None:
        return None, None
    return (spark.read.parquet(str(version_dir(index_dir, state["version"]))),
            state)


def update_index(
    spark: SparkSession,
    new_df: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    matches_out: str | None = None,
) -> dict:
    """One ingest-batch update: report which new docs duplicate the
    committed corpus (exact sha hit or minhash-estimated Jaccard >=
    ``threshold``), then commit the batch's unseen representatives as the
    next index version. Returns a JSON-able summary; per-pair matches
    are written to ``matches_out`` when given."""
    from docling_api_spark.operators.dedup import (
        extend_signature_index,
        incremental_near_duplicates,
        signature_index,
    )

    # one signature pass over the batch feeds BOTH the match report and
    # the index extension
    new_sig = signature_index(new_df, id_col, text_col).localCheckpoint(
        eager=True
    )
    index, state = load_index(spark, index_dir)
    n_sig, n_ids = new_sig.agg(F.count(F.lit(1)),
                               F.count_distinct(id_col)).collect()[0]
    if n_sig != n_ids:
        raise ValueError(
            f"update_index: {n_sig - n_ids} {id_col} values name more than "
            "one text in this batch — one id must name one text")

    summary: dict = {
        "n_input": new_df.count(),
        "n_input_distinct": n_sig,
        "threshold": threshold,
    }
    if index is None:
        # the first batch: nothing committed to match against or reuse,
        # so its (schema-stable, empty) report skips the match plan
        t = new_df.schema[id_col].dataType.simpleString()
        matches = spark.createDataFrame([], f"new_id {t}, match_id {t}, "
                                        "jaccard_est double, method string")
        n_fresh, n_reused, grown = n_sig, 0, new_sig
    else:
        matches = incremental_near_duplicates(
            new_df, index, id_col, text_col, threshold, new_sig=new_sig
        ).localCheckpoint(eager=True)  # consumed by counts + optional write
        # one pass over the batch's ids against the index: unseen ids are
        # fresh, a committed id arriving with another text is reused
        n_fresh, n_reused = new_sig.join(
            index.select(id_col, F.col("content_sha").alias("_sha")),
            id_col, "left",
        ).agg(
            F.count(F.when(F.col("_sha").isNull(), 1)),
            F.count_distinct(F.when(F.col("_sha") != F.col("content_sha"),
                                    F.col(id_col))),
        ).collect()[0]
        # ONE definition of the extension rule (operators/dedup.py)
        grown = extend_signature_index(index, new_sig, id_col)
    summary["matches"] = matches.agg(
        F.count(F.when(F.col("method") == "exact", 1)).alias("exact"),
        F.count(F.when(F.col("method") == "minhash_est", 1))
        .alias("minhash_est"),
        # in a struct, a NULL new_id counts as one id, as in distinct()
        F.count_distinct(F.struct("new_id")).alias("docs_matched"),
    ).first().asDict()
    if matches_out is not None:
        matches.write.mode("overwrite").parquet(matches_out)
        summary["matches_out"] = matches_out
    summary["n_ids_reused"] = n_reused
    if n_fresh == 0 and state is not None:
        # idempotent re-run: nothing to commit, pointer untouched
        summary.update(
            {"index_version": state["version"],
             "index_rows": state["n_rows"],
             "n_added": 0, "committed": False}
        )
        return summary

    def write(vdir) -> dict:
        grown.write.mode("overwrite").parquet(str(vdir))
        return {"n_rows": spark.read.parquet(str(vdir)).count()}  # read back

    state = commit_version(index_dir, write)
    summary.update(
        {"index_version": state["version"], "index_rows": state["n_rows"],
         "n_added": n_fresh, "committed": True}
    )
    return summary
