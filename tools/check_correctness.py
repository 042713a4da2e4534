"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark AND its oracle_sql() on DuckDB at sf0.01,
compares row count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted, values stringified).  Exit 0 iff all
match.
"""
from __future__ import annotations

import hashlib
import os
import sys

import time

import duckdb
import pandas as pd

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import __spark_entry__ as entry_mod  # noqa: E402
from geowave_spark.session import local_session  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: repr(v))
    rows = sorted(df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    spark = local_session()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows (no oracle)")
            continue
        t_spark = time.monotonic() - t0
        t0 = time.monotonic()
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures.append(name)
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        elif norm_hash(sdf) != norm_hash(odf):
            problems.append("value-hash mismatch")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            # show a small diff for debugging
            if sorted(sdf.columns) == sorted(odf.columns) and len(sdf) and len(odf):
                cols = sorted(sdf.columns)
                s = sdf[cols].sort_values(cols).reset_index(drop=True)
                o = odf[cols].sort_values(cols).reset_index(drop=True)
                n = min(len(s), len(o))
                neq = (s.iloc[:n].astype(str).values != o.iloc[:n].astype(str).values).any(axis=1)
                if neq.any():
                    i = int(neq.argmax())
                    print(f"  first diff at sorted row {i}:\n  spark:  {s.iloc[i].to_dict()}\n  oracle: {o.iloc[i].to_dict()}")
            failures.append(name)
        else:
            t_duck = time.monotonic() - t0
            print(f"OK   {name}: {len(sdf)} rows"
                  f"  [spark {t_spark:.1f}s duck {t_duck:.1f}s]")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nALL MATCH")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
