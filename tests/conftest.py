from __future__ import annotations

import json
import pathlib
import sys

import pandas as pd
import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

FIXTURE_PATH = REPO / "fixtures" / "golden_extractions.parquet"
TESTDATA = pathlib.Path("/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from docling_api_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[8]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def golden() -> pd.DataFrame:
    return pd.read_parquet(FIXTURE_PATH)


def canon_spans(obj) -> str:
    """Canonical JSON for a spans value coming from either pandas (list of
    dicts) or Spark collect (list of Rows)."""
    if obj is None:
        return "[]"
    items = []
    for it in obj:
        d = it.asDict() if hasattr(it, "asDict") else dict(it)
        items.append(
            {"start": int(d["start"]), "end": int(d["end"]),
             "node_id": int(d["node_id"]), "kind": d["kind"]}
        )
    return json.dumps(items, sort_keys=True, separators=(",", ":"))
