"""Type-level oracle audit: the driver's value hash is type-sensitive
(DuckDB HUGEINT reaches pandas as float64/object while Spark bigint is
int64 — identical values then hash differently, the exact failure mode
of q12_priority_class in round 5). This script compares the DuckDB
DESCRIBE type of every oracle output column with the Spark query's
schema and flags any pairing that would survive a value-level check but
fail the driver's hash.

Usage: python scripts/check_types.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# DuckDB type -> acceptable Spark simpleStrings (EXACT matches — a
# prefix test would wave 'interval day to second' through as 'int').
# int32/int64 pairings are accepted in both directions: the driver's
# pandas-mediated hash treats them identically (driver-green rows
# ntile_deciles/text_metrics proved it); the HUGEINT class it was
# built to catch stays flagged. Anything not listed is flagged.
_OK = {
    "BIGINT": {"bigint", "int"},
    "INTEGER": {"int", "bigint"},
    "SMALLINT": {"smallint", "int", "bigint"},
    "TINYINT": {"tinyint", "int", "bigint"},
    "DOUBLE": {"double"},
    "FLOAT": {"float"},
    "VARCHAR": {"string"},
    "BOOLEAN": {"boolean"},
    "DATE": {"date"},
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
    "TIMESTAMP WITH TIME ZONE": {"timestamp", "timestamp_ltz"},
    "BLOB": {"binary"},
}


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from etl_core_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    sf_dir = os.path.abspath(sf_dir)
    # Spark's Python workers import etl_core_spark from the working directory
    os.chdir(ROOT)
    spark = get_spark(app_name="check_types")
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    bad = []
    for name, sql in oracles.items():
        if only and name not in only:
            continue
        try:
            duck = {
                r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()
            }
            sdf = queries[name](spark, sf_dir)
            spark_types = {f.name: f.dataType.simpleString() for f in sdf.schema}
        except Exception as exc:  # noqa: BLE001
            bad.append((name, "ERROR", str(exc)[:160]))
            continue
        if set(duck) != set(spark_types):
            bad.append((name, "COLS", f"duck={sorted(duck)} spark={sorted(spark_types)}"))
            continue
        for col, dt in duck.items():
            st = spark_types[col]
            base = dt.split("(")[0].strip()
            if base.startswith("DECIMAL"):
                ok = st.startswith("decimal") or st == "double"
            elif base in ("HUGEINT", "UHUGEINT"):
                ok = False
            elif base.endswith("[]"):
                ok = st.startswith("array")
            else:
                # unknown DuckDB types FLAG (the stated contract) —
                # a default-pass here would wave through exactly the
                # q12-HUGEINT class of bug for e.g. UBIGINT
                allowed = _OK.get(base)
                ok = bool(allowed) and st in allowed
            if not ok:
                bad.append((name, col, f"duckdb={dt} spark={st}"))
    for row in bad:
        print("MISMATCH", *row)
    print(f"checked {len([n for n in oracles if not only or n in only])} oracles, "
          f"{len(bad)} mismatches")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
