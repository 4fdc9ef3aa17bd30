"""Self-check harness mirroring the driver's CORRECTNESS gate:
run every `queries()` entry on Spark AND its `oracle_sql()` on DuckDB at
sf0.01, compare row count + column set + order-insensitive values.

Usage: python scripts/check_oracles.py [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb
import pandas as pd

# check this checkout's package, wherever the checkout is
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "␀"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, (int,)):
        return str(v)
    return str(v)


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(r[c]) for c in cols) for _, r in df.iterrows()]
    return sorted(rows)


def main() -> None:
    import __spark_entry__ as entrymod
    from neosemantics_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark("oracle-check", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles[name]
        try:
            sdf = fn(spark, SF).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"[FAIL-spark] {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        try:
            odf = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"[FAIL-oracle] {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            failures.append(name)
            print(f"[FAIL-schema] {name}: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
            continue
        a, b = canon(sdf), canon(odf)
        if len(a) != len(b):
            failures.append(name)
            print(f"[FAIL-count] {name}: spark={len(a)} oracle={len(b)}")
            sa, sb = set(a), set(b)
            for r in list(sa - sb)[:3]:
                print("   spark-only:", r)
            for r in list(sb - sa)[:3]:
                print("   oracle-only:", r)
            continue
        if a != b:
            failures.append(name)
            sa, sb = set(a), set(b)
            print(f"[FAIL-values] {name}: {len(sa - sb)} spark-only / {len(sb - sa)} oracle-only of {len(a)}")
            for r in list(sa - sb)[:3]:
                print("   spark-only:", r)
            for r in list(sb - sa)[:3]:
                print("   oracle-only:", r)
            continue
        print(f"[OK] {name}: {len(a)} rows")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
