"""Local replica of the driver's correctness gate: run every
__spark_entry__ query against its DuckDB oracle at a given sf and compare
row count, column names, and order-insensitive values.

Usage: python scripts/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, "/root/repo")

import duckdb

import __spark_entry__ as entrymod
from upton_spark.plans.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style value normalization: fixed decimal repr
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("contract_check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"  [rows-only] {name}: {len(srows)} rows, cols={scols}")
            continue
        if oracles[name] is None:
            failures.append(name)
            print(f"  [FAIL] {name}: no oracle SQL generated")
            continue
        orel = con.execute(oracles[name])
        ocols = [d[0] for d in orel.description]
        orows = orel.fetchall()
        status = []
        if len(srows) != len(orows):
            status.append(f"ROWCOUNT spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            status.append(f"SCHEMA spark={sorted(scols)} oracle={sorted(ocols)}")
        if not status:
            sk = rows_key([tuple(r) for r in srows], scols)
            ok = rows_key(orows, ocols)
            if sk != ok:
                diff = [(a, b) for a, b in zip(sk, ok) if a != b][:3]
                status.append(f"VALUES diff e.g. {diff}")
        if status:
            failures.append(name)
            print(f"  [FAIL] {name}: {'; '.join(status)}")
        else:
            print(f"  [ok]   {name}: {len(srows)} rows")
    # entry smoke
    if not only:
        edf = entrymod.entry(spark)
        ecount = edf.count()
        print(f"  entry(): {ecount} rows, schema={edf.columns}")
        if ecount <= 0:
            failures.append("entry")
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
