"""VERDICT r13 #4: quantify the per-round BroadcastExchange rebuild
in the graph loops' small-graph regime.

When the per-round join's build side fits under
spark.sql.autoBroadcastJoinThreshold, AQE broadcasts it — and because
each round's plan re-instantiates the cached relation with fresh
expression ids, ReuseExchange never fires: the broadcast is rebuilt
every round. This script measures what that rebuild actually costs at
a size NEAR the 64 MB threshold (the worst case — biggest possible
rebuilt broadcast) by marginal-iteration costing:

    per-round cost = (t(iters=hi) - t(iters=lo)) / (hi - lo)

on a synthetic graph sized so the edge side sits just under the
threshold, under (a) default conf — broadcast regime — and (b)
autoBroadcastJoinThreshold=-1 — the SMJ regime whose per-round
exchange the r13 pre-partitioned cache already elides. If (a) >> (b)
per round, the rebuild is material and a join-strategy hint above a
size cutoff is warranted; if not, the item closes with the number.

Usage: python scripts/measure_broadcast_rebuild.py [n_edges] [mode]
  mode: default | smj   (run one mode per process — conf is
  session-wide; compare two invocations)
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 3_000_000
    mode = sys.argv[2] if len(sys.argv) > 2 else "default"
    if mode == "smj":
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = (
            "spark.sql.autoBroadcastJoinThreshold=-1"
        )

    from pyspark.sql import functions as F

    from etl_core_spark.operators.graph import pagerank
    from etl_core_spark.session import get_spark, release_intermediates

    # Spark's Python workers import etl_core_spark from the working directory
    os.chdir(ROOT)
    spark = get_spark(app_name=f"bc_rebuild_{mode}")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up

    # ~n_edges edges over n_edges/6 nodes: the cached edged relation
    # (s, t, w/d columns) lands near the broadcast threshold for
    # n_edges around 3M (measure, don't trust the estimate — the
    # BuildSide decision is printed below via the executed plan)
    n_nodes = max(n_edges // 6, 1)
    edges = (
        spark.range(n_edges)
        .select(
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_nodes)).alias("src"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_nodes)).alias("dst"),
        )
        .localCheckpoint()  # timing must exclude the generator
    )

    def run(iters: int) -> float:
        spark.sparkContext.setJobDescription(
            f"bc_rebuild {mode} iters={iters}"
        )
        t0 = time.monotonic()
        pagerank(edges, iterations=iters, undirected=False).write.format(
            "noop"
        ).mode("overwrite").save()
        dt = time.monotonic() - t0
        release_intermediates()
        return dt

    run(2)  # JIT/codegen warm-up for this exact shape, discarded
    lo = min(run(2) for _ in range(2))
    hi = min(run(8) for _ in range(2))
    per_round = (hi - lo) / 6.0
    out = {
        "mode": mode,
        "n_edges": n_edges,
        "t_iters2_s": round(lo, 3),
        "t_iters8_s": round(hi, 3),
        "per_round_s": round(per_round, 3),
        "load1": open("/proc/loadavg").read().split()[0],
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
