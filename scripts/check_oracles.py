"""Local differential check: run every __spark_entry__ query against
its DuckDB oracle (mimics the driver's CORRECTNESS gate).

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def normalize(rows, colnames):
    out = []
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from etl_core_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    sf_dir = os.path.abspath(sf_dir)
    # Spark's Python workers import etl_core_spark from the working directory
    os.chdir(ROOT)
    spark = get_spark(app_name="check_oracles")
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            failures.append(name)
            print(f"[SPARK-ERROR] {name}: {type(exc).__name__}: {str(exc)[:300]}")
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY ] {name}: {len(spark_rows)} rows, cols={spark_cols}")
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as exc:
            failures.append(name)
            print(f"[ORACLE-ERR ] {name}: {str(exc)[:300]}")
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            failures.append(name)
            print(f"[COLS-DIFF  ] {name}: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
            continue
        ns = normalize(spark_rows, spark_cols)
        nd = normalize(duck_rows, duck_cols)
        if len(ns) != len(nd):
            failures.append(name)
            print(f"[COUNT-DIFF ] {name}: spark={len(ns)} duck={len(nd)}")
            continue
        bad = [(a, b) for a, b in zip(ns, nd) if a != b]
        if bad:
            failures.append(name)
            print(f"[VALUE-DIFF ] {name}: {len(bad)}/{len(ns)} rows differ; first: ")
            print(f"    spark: {bad[0][0]}")
            print(f"    duck : {bad[0][1]}")
        else:
            print(f"[OK         ] {name}: {len(ns)} rows")
    print()
    if failures:
        print(f"FAILED: {len(failures)} -> {failures}")
        return 1
    print("ALL QUERIES MATCH")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
