"""Persistent cross-snapshot dedup index — the production surface over
operators/dedup.py's incremental family.

Layout (same commit discipline as plans/checkpoint.py: data dirs are
written fully FIRST, then a tiny pointer file is swapped atomically via
tmp+``os.replace``; readers never lock):

    index_dir/
      INDEX.json      {"version": N, "n_rows": M}   (the atomic pointer)
      v0000/ ...      signature-index parquet, one row per distinct
      v0001/ ...      content: (id_col, content_sha, minhash)

A crash between the parquet write and the pointer swap orphans the new
``v*`` dir exactly like an uncommitted Iceberg file — the pointer still
names the last good version; re-running the batch overwrites the orphan
dir (same version number is recomputed) and then commits. Re-running an
ALREADY-committed batch is a no-op: every id is anti-joined away, no new
version is written, and the summary says so — the ST4 idempotency shape.

At 100 TB the index is O(distinct contents) compact rows (~170 bytes
each); each update reads only the new batch's text plus the index
parquet, never the committed corpus.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

INDEX_FILE = "INDEX.json"

def _pointer_path(index_dir: str) -> str:
    return os.path.join(index_dir, INDEX_FILE)


def read_pointer(index_dir: str) -> dict | None:
    p = _pointer_path(index_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_pointer(index_dir: str, state: dict) -> None:
    tmp = _pointer_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f, sort_keys=True)
    os.replace(tmp, _pointer_path(index_dir))  # atomic commit


def _version_dir(index_dir: str, version: int) -> str:
    return os.path.join(index_dir, f"v{version:04d}")


def load_index(spark: SparkSession,
               index_dir: str) -> tuple[DataFrame | None, dict | None]:
    """The current committed signature index (None before the first
    update)."""
    state = read_pointer(index_dir)
    if state is None:
        return None, None
    return spark.read.parquet(_version_dir(index_dir, state["version"])), state


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

    os.makedirs(index_dir, exist_ok=True)
    # one signature pass over the batch feeds BOTH the match report and
    # the index extension
    new_sig = signature_index(new_df, id_col, text_col).localCheckpoint(
        eager=True
    )
    index, state = load_index(spark, index_dir)

    summary: dict = {
        "n_input": new_df.count(),
        "n_input_distinct": new_sig.count(),
        "threshold": threshold,
        "matches": {"exact": 0, "minhash_est": 0, "docs_matched": 0},
    }

    if index is None:
        version = 0
        grown = new_sig
        n_fresh = summary["n_input_distinct"]
        if matches_out is not None:
            # the first batch has nothing to match against, but a
            # consumer of matches_out must still find a (schema-stable,
            # empty) report — not a missing path
            empty = spark.createDataFrame(
                [],
                T.StructType([
                    T.StructField("new_id",
                                  new_df.schema[id_col].dataType),
                    T.StructField("match_id",
                                  new_df.schema[id_col].dataType),
                    T.StructField("jaccard_est", T.DoubleType()),
                    T.StructField("method", T.StringType()),
                ]),
            )
            empty.write.mode("overwrite").parquet(matches_out)
            summary["matches_out"] = matches_out
    else:
        matches = incremental_near_duplicates(
            new_df, index, id_col, text_col, threshold, new_sig=new_sig
        ).localCheckpoint(eager=True)  # consumed by counts + optional write
        if matches_out is not None:
            matches.write.mode("overwrite").parquet(matches_out)
            summary["matches_out"] = matches_out
        by_method = {
            r["method"]: r["n"]
            for r in matches.groupBy("method")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        summary["matches"] = {
            "exact": int(by_method.get("exact", 0)),
            "minhash_est": int(by_method.get("minhash_est", 0)),
            "docs_matched": matches.select("new_id").distinct().count(),
        }
        fresh = new_sig.join(index.select(id_col), id_col, "left_anti")
        n_fresh = fresh.count()
        if n_fresh == 0:
            # idempotent re-run: nothing to commit, pointer untouched
            summary.update(
                {"index_version": state["version"],
                 "index_rows": state["n_rows"],
                 "n_added": 0, "committed": False}
            )
            return summary
        # ONE definition of the extension rule (operators/dedup.py) —
        # its internal anti-join over the already-disjoint `fresh` ids
        # is a no-op shuffle on compact id rows
        grown = extend_signature_index(index, fresh, id_col)
        version = state["version"] + 1

    out_dir = _version_dir(index_dir, version)
    grown.write.mode("overwrite").parquet(out_dir)
    n_rows = spark.read.parquet(out_dir).count()  # read back what committed
    _write_pointer(index_dir, {"version": version, "n_rows": n_rows})
    summary.update(
        {"index_version": version, "index_rows": n_rows,
         "n_added": n_fresh, "committed": True}
    )
    return summary
