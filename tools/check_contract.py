"""Local stand-in for the driver's correctness gate.

Runs every queries() entry at a given SF dir, runs its oracle_sql() through
DuckDB over the same parquet files, and compares row count + order-insensitive
values. Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        return round(v, 9)
    if hasattr(v, "item"):
        return norm_cell(v.item())
    return v


def df_to_rows(pdf):
    cols = sorted(pdf.columns)
    return sorted(
        tuple(norm_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from grenad_spark.session import get_spark

    spark = get_spark("contract-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        s_cols, o_cols = sorted(spdf.columns), sorted(opdf.columns)
        if s_cols != o_cols:
            failures.append(name)
            print(f"FAIL  {name}: columns spark={s_cols} oracle={o_cols}")
            continue
        srows, orows = df_to_rows(spdf), df_to_rows(opdf)
        if len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            continue
        if srows != orows:
            failures.append(name)
            diff = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
            print(f"FAIL  {name}: value mismatch, first diffs: {diff}")
            continue
        print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
