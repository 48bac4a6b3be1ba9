"""A/B a config (or code) change on a subset of declared queries.

Usage:
  python scripts/ab_bench.py --reps 2 [--conf "k=v;k2=v2"] q1 q2 ...

Starts a fresh session (honoring SPARK_GRAFT_EXTRA_CONF via --conf),
runs bench.py's warm-up, then times each named query rep times through
the noop sink (min over reps, bench methodology) and prints a JSON
line {query: seconds}. Compare two invocations to judge a change.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--conf", default="")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.conf:
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = args.conf

    import __spark_entry__ as entrymod
    from etl_core_spark.session import get_spark, release_intermediates

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = os.path.abspath(sf_dir)
    # Spark's Python workers import etl_core_spark from the working directory
    os.chdir(ROOT)
    spark = get_spark(app_name="ab_bench")
    # mirror bench.py warm-up
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(1000).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    for _tbl in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        try:
            spark.read.parquet(f"{sf_dir}/{_tbl}.parquet").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception:  # noqa: BLE001
            pass
    spark.range(10_000).selectExpr(
        "id", "row_number() OVER (PARTITION BY id % 7 ORDER BY id) AS rn"
    ).write.format("noop").mode("overwrite").save()

    qmap = entrymod.queries()
    names = args.queries or list(qmap)
    out = {}
    for name in names:
        best = None
        for _ in range(args.reps):
            t0 = time.monotonic()
            qmap[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.monotonic() - t0
            release_intermediates()
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    out["__total__"] = round(sum(v for k, v in out.items() if k != "__total__"), 3)
    with open("/proc/loadavg") as fh:
        out["__load__"] = fh.read().split()[0]
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
