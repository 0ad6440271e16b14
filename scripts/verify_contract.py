"""Local replica of the driver's correctness gate: run every
``queries()`` entry at sf0.01 on Spark AND its ``oracle_sql()`` on
DuckDB; compare row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted by their string repr).

Runs on ``get_spark``'s default master, local[$SPARK_GRAFT_CPUS].

Usage: python scripts/verify_contract.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import hashlib
import pathlib
import sys
import time

import duckdb
import pandas as pd

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canonicalize(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object and len(col) and isinstance(col.dropna().iloc[0] if col.notna().any() else None, (list, tuple)):
            df[c] = col.map(lambda v: str(list(v)) if v is not None else "∅")
        elif str(col.dtype).startswith("datetime"):
            df[c] = col.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif col.dtype == "float64" or col.dtype == "float32":
            df[c] = col.map(lambda v: f"{v:.6f}" if pd.notna(v) else "∅")
        else:
            df[c] = col.astype(str).where(col.notna(), "∅")
    rows = sorted("||".join(map(str, r)) for r in df.itertuples(index=False))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entrymod
    from docling_api_spark.session import get_spark

    spark = get_spark(app_name="verify")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if pathlib.Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if name_filter and name_filter not in name:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"✗ {name}: SPARK FAILED: {e}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            status = "rows-only"
            ok = len(sdf) >= 0
            print(f"~ {name}: {len(sdf)} rows [{dt:.1f}s] (no oracle)")
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"✗ {name}: ORACLE SQL FAILED: {e}")
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            hs, ho = canonicalize(sdf), canonicalize(odf)
            if hs != ho:
                problems.append("value-hash mismatch")
                merged = sdf[sorted(sdf.columns)].reset_index(drop=True)
                omerged = odf[sorted(odf.columns)].reset_index(drop=True)
                print("  spark head:", merged.head(3).to_dict("records"))
                print("  duckdb head:", omerged.head(3).to_dict("records"))
        if problems:
            print(f"✗ {name}: {'; '.join(problems)} [{dt:.1f}s]")
            n_fail += 1
        else:
            print(f"✓ {name}: {len(sdf)} rows match [{dt:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
