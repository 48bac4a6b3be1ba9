"""Dump .explain("formatted") for declared queries to plans/<outdir>/.

Usage: python scripts/dump_plans.py <outdir-under-plans> <suffix> [query ...]

Writes plans/<outdir>/<query>_<suffix>.txt for each query (all queries
when none are named). Driver-only work: builds each DataFrame and
captures its formatted plan without executing it.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    import __spark_entry__ as entrymod
    from etl_core_spark.session import get_spark

    outdir = os.path.join(REPO, "plans", sys.argv[1])
    suffix = sys.argv[2]
    only = set(sys.argv[3:])
    os.makedirs(outdir, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = os.path.abspath(sf_dir)
    # Spark's Python workers import etl_core_spark from the working directory
    os.chdir(REPO)
    spark = get_spark(app_name="dump_plans")

    n = 0
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 - keep dumping the rest
            plan = f"PLAN DUMP FAILED: {type(exc).__name__}: {exc}"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        n += 1
    print(f"dumped {n} plans to {outdir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
