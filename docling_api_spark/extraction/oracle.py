"""Single-node reference extractor (the pytest oracle).

Runs the SAME batch function as the ``mapInArrow`` worker
(``kernel.extract_flat``) over a pandas DataFrame, producing the golden
extraction table of FIXTURES.md §3. Spark-vs-oracle byte equality
therefore verifies the Spark plumbing (partitioning, ordering, Arrow
batching) — kernel regressions are caught separately by the COMMITTED
golden fixtures under fixtures/.

Reference parity target: the 'Railway vs Modal' output-equality check at
reference scripts/test_production.py:302, hardened to full text equality.
"""

from __future__ import annotations

import pandas as pd

from docling_api_spark.extraction.kernel import ExtractOptions, extract_flat
from docling_api_spark.schema import EXTRACT_RESULT_FIELDS

RESULT_COLS = [f.name for f in EXTRACT_RESULT_FIELDS]


def oracle_extract(pdf: pd.DataFrame, options: ExtractOptions) -> pd.DataFrame:
    """Extract every row of ``pdf``; returns the (conv_id, turn_idx) id
    columns + result columns, sorted by the id columns (fixtures are
    stored sorted; the Spark-side comparison is join-based and
    order-insensitive)."""
    id_cols = ["conv_id", "turn_idx"]
    cols = extract_flat(pdf["text"].tolist(), options)
    # flat span arrays + list offsets (the Arrow layout) -> per-row dicts
    flat = [{"start": s, "end": e, "node_id": n, "kind": k}
            for s, e, n, k in zip(cols["span_start"], cols["span_end"],
                                  cols["span_node_id"], cols["span_kind"])]
    offs = cols["span_offsets"]
    cols["spans"] = [flat[lo:hi] for lo, hi in zip(offs, offs[1:])]
    out = pdf[id_cols].copy().reset_index(drop=True)
    for c in RESULT_COLS:
        out[c] = cols[c]
    out["pages"] = out["pages"].astype("int32")
    out["n_nodes"] = out["n_nodes"].astype("int32")
    return out.sort_values(id_cols).reset_index(drop=True)


def spans_to_json(spans_col: pd.Series) -> pd.Series:
    """Canonical JSON encoding of the spans column for stable on-disk
    fixtures and cross-engine comparison (sorted keys, no whitespace)."""
    import json

    return spans_col.map(
        lambda spans: json.dumps(spans, sort_keys=True, separators=(",", ":"))
    )
