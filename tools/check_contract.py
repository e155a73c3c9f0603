"""Local replay of the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB over the same sf dir, compare row count,
column names, and an order-insensitive value hash (columns sorted by name,
rows sorted by all values, everything stringified)."""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object and len(col) and isinstance(col.dropna().iloc[0] if col.notna().any() else None, (list, tuple)):
            df[c] = col.map(lambda v: str(list(v)) if v is not None else "@N@")
        elif pd.api.types.is_float_dtype(col):
            df[c] = col.map(lambda v: "@N@" if pd.isna(v) else f"{v:.6f}")
        elif pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.map(lambda v: "@N@" if pd.isna(v) else v.isoformat())
        else:
            df[c] = col.map(lambda v: "@N@" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    rows = sorted("\x1f".join(r) for r in df.astype(str).values.tolist())
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def main(sf_dir: str, only: list[str] | None = None) -> int:
    import __spark_entry__ as entry
    from data_quality_monitoring_spark.session import get_spark

    spark = get_spark(cores=8, extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries, oracles = entry.queries(), entry.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            failures += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems and norm_hash(sdf) != norm_hash(odf):
            problems.append("value hash mismatch")
            m = sdf[sorted(sdf.columns)].sort_values(sorted(sdf.columns)).reset_index(drop=True)
            o = odf[sorted(odf.columns)].sort_values(sorted(odf.columns)).reset_index(drop=True)
            if len(m) == len(o):
                for c in m.columns:
                    if not (m[c].astype(str).values == o[c].astype(str).values).all():
                        i = (m[c].astype(str).values != o[c].astype(str).values).argmax()
                        problems.append(f"first diff col={c} row={i}: spark={m[c].iloc[i]!r} duck={o[c].iloc[i]!r}")
                        break
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures += 1
        else:
            print(f"OK    {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
    spark.stop()  # full-battery runs otherwise linger minutes in JVM shutdown
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    sys.exit(1 if main(sf, only) else 0)
