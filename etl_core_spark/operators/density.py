"""Density clustering: grid-celled DBSCAN (Ester et al. 1996) over
two numeric columns — the density family next to kmeans (centroid)
and the dedup/ANN clusters (similarity): arbitrary-shape clusters
plus an explicit NOISE verdict, the standard shape for embedding-map
cleanup (over a 2-D projection) and spatial/feature outlier gating.

Scale design (the kmeans/ANN discipline): points bucket into
``eps``-sized grid cells, so the only pair relation ever built is
point × 3×3-neighbor-cell candidates — a banded equi-join, never an
all-pairs scan. A bounded one-row probe guards against degenerate
cells (everything in one cell → quadratic) with a loud re-keying
error, the linkage ``max_block_size`` pattern. Core-core edges feed
the certified connected-components engine (union-find below the
driver bound, Kiveris star rounds above). Border points attach to
the SMALLEST adjacent core cluster id — textbook DBSCAN leaves
border assignment scan-order dependent; the min rule is the
deterministic variant, which is what makes the recursive-CTE oracle
a full-value certification.

With integer coordinates and integer ``eps`` every comparison
(dist² ≤ eps², count ≥ min_pts) is exact integer arithmetic —
bit-identical in any engine. Float coordinates work too (same IEEE
expressions both sides), quantized inputs are just the certifiable
special case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_core_spark.operators.base import OperatorConfigError, bind_operator, ensure


def _check_dbscan(eps, min_pts, **_) -> None:
    ensure(eps > 0, "dbscan eps must be > 0")
    ensure(min_pts >= 1, "dbscan min_pts must be >= 1")


@bind_operator("dbscan", check=_check_dbscan)
def dbscan(
    df: DataFrame,
    x_col: str,
    y_col: str,
    eps: float,
    min_pts: int,
    id_col: str = "id",
    max_cell_size: int = 5000,
) -> DataFrame:
    """DBSCAN over points ``(id, x, y)`` → ``(id, cluster, is_core)``:
    core points (``>= min_pts`` neighbors within ``eps``, self
    included) cluster by core-graph connectivity with cluster id =
    min member id; border points (non-core with a core neighbor)
    take the smallest adjacent core cluster; noise keeps
    ``cluster = NULL``. NULL coordinates drop."""
    if float(eps) <= 0:
        raise OperatorConfigError("dbscan eps must be > 0")
    if int(min_pts) < 1:
        raise OperatorConfigError("dbscan min_pts must be >= 1")
    if int(max_cell_size) < 1:
        raise OperatorConfigError("dbscan max_cell_size must be >= 1")
    from etl_core_spark.operators.dedup import connected_components
    from etl_core_spark.session import persist_intermediate

    e = F.lit(float(eps))
    pts = persist_intermediate(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(x_col).cast("double").alias("__x"),
            F.col(y_col).cast("double").alias("__y"),
        )
        .where(F.col("__x").isNotNull() & F.col("__y").isNotNull())
        .withColumn("__cx", F.floor(F.col("__x") / e))
        .withColumn("__cy", F.floor(F.col("__y") / e))
    )
    # degenerate-grid guard: ONE bounded probe; a cell holding the
    # whole dataset would make the candidate join quadratic
    top = pts.groupBy("__cx", "__cy").count().agg(
        F.max("count").alias("__mx")
    ).first()
    if top and top["__mx"] and int(top["__mx"]) > int(max_cell_size):
        raise OperatorConfigError(
            f"dbscan: a grid cell holds {int(top['__mx'])} points "
            f"(> max_cell_size={int(max_cell_size)}) — the candidate join "
            "would degenerate toward all-pairs. Shrink eps, pre-aggregate "
            "duplicate coordinates, or raise max_cell_size deliberately."
        )
    # candidates: every point against the 9 cells around it — a pure
    # banded equi-join (3x fanout per axis), never an all-pairs scan
    probe = pts.select(
        F.col("__id").alias("__qid"),
        F.col("__x").alias("__qx"),
        F.col("__y").alias("__qy"),
        F.explode(
            F.array(*[F.col("__cx") + F.lit(d) for d in (-1, 0, 1)])
        ).alias("__cx"),
        F.col("__cy").alias("__cy0"),
    ).select(
        "__qid",
        "__qx",
        "__qy",
        "__cx",
        F.explode(
            F.array(*[F.col("__cy0") + F.lit(d) for d in (-1, 0, 1)])
        ).alias("__cy"),
    )
    d2 = (F.col("__qx") - F.col("__x")) ** F.lit(2) + (
        F.col("__qy") - F.col("__y")
    ) ** F.lit(2)
    nbrs = persist_intermediate(
        probe.join(pts, on=["__cx", "__cy"])
        .where(d2 <= e * e)
        .select("__qid", F.col("__id").alias("__nid"))
    )
    counts = nbrs.groupBy("__qid").agg(F.count(F.lit(1)).alias("__n"))
    core = persist_intermediate(
        counts.where(F.col("__n") >= F.lit(int(min_pts))).select(
            F.col("__qid").alias("__id")
        )
    )
    # core-core adjacency -> certified CC engine; cluster = min id
    core_edges = (
        nbrs.where(F.col("__qid") < F.col("__nid"))
        .join(core.select(F.col("__id").alias("__qid")), on="__qid")
        .join(core.select(F.col("__id").alias("__nid")), on="__nid")
        .select(F.col("__qid").alias("id_a"), F.col("__nid").alias("id_b"))
    )
    cc = connected_components(core_edges)
    core_clusters = core.join(
        cc.select(F.col("id").alias("__id"), F.col("cluster_id")),
        on="__id",
        how="left",
    ).select(
        "__id",
        # a core point with no core neighbor is its own cluster
        F.coalesce(F.col("cluster_id"), F.col("__id")).alias("__cluster"),
    )
    # border points: smallest adjacent core cluster (deterministic
    # variant of the textbook's scan-order assignment)
    border = (
        nbrs.join(core.select(F.col("__id").alias("__nid")), on="__nid")
        .join(
            core.select(F.col("__id").alias("__qid")),
            on="__qid",
            how="left_anti",
        )
        .join(
            core_clusters.select(
                F.col("__id").alias("__nid"), F.col("__cluster")
            ),
            on="__nid",
        )
        .groupBy("__qid")
        .agg(F.min("__cluster").alias("__cluster"))
        .select(F.col("__qid").alias("__id"), "__cluster")
    )
    labeled = core_clusters.select(
        "__id", "__cluster", F.lit(True).alias("is_core")
    ).unionByName(
        border.select("__id", "__cluster", F.lit(False).alias("is_core"))
    )
    return (
        pts.select("__id")
        .join(labeled, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.col("__cluster").alias("cluster"),
            F.coalesce(F.col("is_core"), F.lit(False)).alias("is_core"),
        )
    )
