"""Similarity search over embedding columns (beyond-reference).

- ``brute_force_topk``: exact cosine top-k of every query vector
  against the corpus. The corpus side is broadcast when small; for a
  large corpus the join is a partitioned cross product — O(n·m) but
  embarrassingly parallel and shuffle-free after the broadcast.
  The per-pair dot product is a codegen'd higher-order-function
  expression (functions/vectors.py), no Python per row.
- ``lsh_topk``: random-hyperplane LSH — vectors bucket by the sign
  pattern of h fixed hyperplanes; candidates are bucket-mates, then
  exact cosine rescoring + top-k. At 100 TB this replaces the cross
  product with an equi-join on bucket id (one shuffle, prunable).
- ``cosine_near_dup_pairs``: all-pairs near-duplicate detection via
  the same LSH bucketing (embedding-cosine dedup).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_core_spark.functions import vectors as V
from etl_core_spark.operators.base import (
    Operator,
    OperatorConfigError,
    PortMap,
    bind_operator,
    ensure,
    register_operator,
)
from etl_core_spark.sources.base_io import SinkOperator


def _fits_broadcast(df: DataFrame, limit_bytes: int = 8 << 20) -> bool:
    """True iff optimizer stats say the relation is known-small.

    Unknown stats (LogicalRDD from createDataFrame, huge sentinels)
    → False: never *force* a broadcast on a relation whose size the
    optimizer can't bound. Spark hard-caps broadcasts at 8 GB and an
    explicit hint bypasses autoBroadcastJoinThreshold, so at 100 TB an
    unconditional hint is a guaranteed OOM — the guard keeps the hint
    a stats-backed promise (same policy as range_join,
    operators/asof.py)."""
    from etl_core_spark.session import estimated_size_bytes

    size = estimated_size_bytes(df)
    return size is not None and size <= limit_bytes


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    broadcast_corpus: bool | None = None,
) -> DataFrame:
    """Exact top-k by cosine; ties broken by corpus id for
    deterministic output. Returns (query_id, vec_id, cosine, rank).

    ``broadcast_corpus``: None (default) applies the broadcast hint
    only when optimizer stats bound the corpus under 8 MB (see
    ``_fits_broadcast``); True forces the hint (caller asserts the
    corpus fits); False never hints (Spark falls back to a partitioned
    cross product — the only correct shape for an unbounded corpus).
    """
    # normalize each side once; the quadratic stage is then a plain
    # dot product per pair
    c = V.select_unit(corpus, (F.col(id_col), "__corpus_id"), vec_col, "__corpus_vec")
    from etl_core_spark.session import ensure_parallelism

    # the cross-join output inherits the stream (query) side's
    # partitioning — spread it so pair scoring parallelizes
    # parallelize BEFORE normalizing: the stats probe then analyzes a
    # bare scan/filter subtree (HOF lambdas are expensive to analyze)
    # and the normalization itself runs on the widened partitioning
    q_raw = ensure_parallelism(
        queries.select(F.col(query_id_col).alias("__query_id"), F.col(vec_col).alias("__qv0"))
    )
    q = V.select_unit(q_raw, (F.col("__query_id"), "__query_id"), "__qv0", "__query_vec")
    if broadcast_corpus is None:
        # probe the RAW corpus relation, not the projected c: the
        # projection's stats inherit column-pruned estimates that can
        # undercount the materialized vectors
        broadcast_corpus = _fits_broadcast(corpus)
    right = F.broadcast(c) if broadcast_corpus else c
    scored = q.crossJoin(right).select(
        F.col("__query_id"),
        F.col("__corpus_id"),
        F.round(V.dot(F.col("__query_vec"), F.col("__corpus_vec")), 6).alias("cosine"),
    )
    w = Window.partitionBy("__query_id").orderBy(
        F.col("cosine").desc(), F.col("__corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__query_id").alias(query_id_col),
            F.col("__corpus_id").alias(id_col),
            "cosine",
            "rank",
        )
    )


def brute_force_topk_numpy(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    max_corpus_rows: int = 1_000_000,
) -> DataFrame:
    """Exact cosine top-k via an Arrow-batched numpy/BLAS kernel.

    Same contract as ``brute_force_topk`` (rank by 6-dp-rounded
    cosine desc, corpus id asc). The JVM expression path wins at
    small dim (no Arrow transfer); this path wins when dim is wide
    (d≳256) because the scoring becomes one SGEMM per query batch.
    The corpus matrix is collected once and broadcast — executors
    each hold one copy, queries stream through mapInPandas. That
    collect is driver-bounded by ``max_corpus_rows`` (checked with a
    short-circuiting limit probe, not a full count): past it, the
    broadcast-matrix design itself is wrong for the corpus — use
    ``lsh_topk`` or ``ivf_topk`` instead.
    """
    import numpy as np

    from etl_core_spark.session import ensure_parallelism

    limit = int(max_corpus_rows)
    probe = corpus.select(id_col).limit(limit + 1).count()
    if probe > limit:
        raise ValueError(
            f"brute_force_topk_numpy: corpus exceeds max_corpus_rows="
            f"{limit}; a driver-collected broadcast matrix does not "
            f"scale to this corpus — use lsh_topk or ivf_topk (or "
            f"raise max_corpus_rows if the driver can hold it)"
        )
    # id dtype follows the corpus schema ('Same contract as
    # brute_force_topk', which handles any orderable id type) — a
    # hardcoded int64 crashed on string ids at plan-build time
    id_type = corpus.schema[id_col].dataType.simpleString()
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    rows = corpus.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows])  # numeric or object dtype
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    mat = mat / np.maximum(norms, 1e-300)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]

    sc = corpus.sparkSession.sparkContext
    b_ids = sc.broadcast(ids)
    b_mat = sc.broadcast(mat)
    k_ = int(k)

    def score(batches):
        import numpy as np
        import pandas as pd

        c_ids, c_mat = b_ids.value, b_mat.value
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.array([list(v) for v in pdf[query_id_col + "__vec"]], dtype=np.float64)
            qn = np.linalg.norm(q, axis=1, keepdims=True)
            q = q / np.maximum(qn, 1e-300)
            sims = np.round(q @ c_mat.T, 6)
            out_rows = []
            for qi in range(sims.shape[0]):
                # rank by (-cosine, corpus id); c_ids already ascending
                top = np.lexsort((c_ids, -sims[qi]))[:k_]
                for rank, ci in enumerate(top, start=1):
                    cid = c_ids[ci]
                    out_rows.append(
                        (pdf[query_id_col].iloc[qi],
                         cid.item() if hasattr(cid, "item") else cid,
                         float(sims[qi][ci]), rank)
                    )
            yield pd.DataFrame(
                out_rows, columns=[query_id_col, id_col, "cosine", "rank"]
            )

    q_in = ensure_parallelism(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias(query_id_col + "__vec")
        )
    )
    return q_in.mapInPandas(
        score,
        schema=(
            f"{query_id_col} {qid_type}, {id_col} {id_type}, "
            "cosine double, rank long"
        ),
    )


def _seeded_planes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]


def lsh_bucketed(
    df: DataFrame, vec_col: str, dim: int, num_planes: int = 8, seed: int = 42,
    num_tables: int = 1,
) -> DataFrame:
    """Attach a ``__bucket`` column (one row per vector per table).

    ``num_tables`` > 1 is multi-table LSH: each table hashes with an
    independent seeded plane set, a vector explodes to one
    table-prefixed bucket key per table, and candidates are the union
    of per-table bucket-mates. Recall for a pair with per-table
    collision probability p rises from p to 1-(1-p)^T while each
    table's bucket population (the hot-bucket/shuffle width concern)
    stays what a single table would see — the standard way to buy
    recall without coarser buckets. Cost: the bucketed relation is T×
    rows and duplicate candidate pairs must be deduped downstream.
    """
    if num_tables <= 1:
        planes = _seeded_planes(dim, num_planes, seed)
        return df.withColumn(
            "__bucket", V.hyperplane_bucket(F.col(vec_col), planes).cast("string")
        )
    keys = F.array(
        *[
            F.concat(
                F.lit(f"{t}:"),
                V.hyperplane_bucket(
                    F.col(vec_col), _seeded_planes(dim, num_planes, seed + 1000 * t)
                ).cast("string"),
            )
            for t in range(num_tables)
        ]
    )
    return df.withColumn("__bucket", F.explode(keys))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    seed: int = 42,
    num_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: equi-join on hyperplane bucket, exact
    rescoring inside the bucket. Recall < 1 by construction; raise
    ``num_tables`` for recall (union of independent tables — see
    ``lsh_bucketed``), raise num_planes for precision / lower for
    recall within each table."""
    # hyperplane signs are scale-invariant → bucketing the unit
    # vectors gives identical buckets and a dot-only rescoring stage.
    # Zero-norm corpus vectors (failed-embedding-job output) all share
    # one sign pattern — millions of them is one hot bucket scoring
    # cosine 0.0 against every probing query — so they are dropped
    # pre-bucketing, same guard as cosine_near_dup_pairs.
    c_unit = V.select_unit(corpus, (F.col(id_col), "__corpus_id"), vec_col, "__cv")
    c = lsh_bucketed(
        c_unit.where(V.norm(F.col("__cv")) > 0),
        "__cv", dim, num_planes, seed, num_tables,
    )
    q = lsh_bucketed(
        V.select_unit(queries, (F.col(query_id_col), "__query_id"), vec_col, "__qv"),
        "__qv", dim, num_planes, seed, num_tables,
    )
    scored = q.join(c, on="__bucket").select(
        "__query_id",
        "__corpus_id",
        F.round(V.dot(F.col("__qv"), F.col("__cv")), 6).alias("cosine"),
    )
    if num_tables > 1:
        # the same pair surfaces once per colliding table; dedupe so
        # row_number ranks distinct candidates (identical rows — the
        # cosine is a pure function of the pair)
        scored = scored.dropDuplicates(["__query_id", "__corpus_id"])
    w = Window.partitionBy("__query_id").orderBy(
        F.col("cosine").desc(), F.col("__corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__query_id").alias(query_id_col),
            F.col("__corpus_id").alias(id_col),
            "cosine",
            "rank",
        )
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its nprobe nearest centroids (by dot on
    unit vectors; ties broken by centroid id). Centroids are expected
    small → broadcast."""
    scored = df.select(F.col(id_col), F.col(vec_col)).crossJoin(
        F.broadcast(centroids.select("__cid", "__cvec"))
    )
    scored = scored.withColumn("__sim", V.dot(F.col(vec_col), F.col("__cvec")))
    w = Window.partitionBy(id_col).orderBy(F.col("__sim").desc(), F.col("__cid").asc())
    return (
        scored.withColumn("__crn", F.row_number().over(w))
        .where(F.col("__crn") <= nprobe)
        .select(id_col, vec_col, "__cid")
    )


def ivf_assign_numpy(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """``ivf_assign(nprobe=1)`` as one BLAS matmul per Arrow batch.

    The JVM expression path evaluates k dot-product folds per row —
    fine for k ≲ 32, but SemDeDup-style workloads size k ∝ corpus
    (constant cell size), so assignment becomes the dominant O(n·k·d)
    term and the per-row fold is ~50× slower than SGEMM. Centroids
    are driver-collected (bounded by num_centroids — the IVF
    contract) and broadcast; rows stream through ``mapInPandas``
    with one ``(B×d)@(d×k)`` argmax per batch. Tie-break matches the
    expression path (first max = lowest cid, centroids sorted), with
    the documented caveat that BLAS summation order can flip a
    near-tie by 1 ulp — callers needing bit-stable assignment at
    small k keep the expression path (semdedup's default)."""
    import numpy as np

    cent_rows = centroids.select("__cid", "__cvec").collect()
    bad = [r["__cid"] for r in cent_rows if r["__cvec"] is None]
    if bad:
        raise OperatorConfigError(
            f"ivf_assign_numpy: centroids {bad} have NULL vectors — "
            "seed centroids from non-null embeddings"
        )
    cent_rows.sort(key=lambda r: r["__cid"])
    cids = np.array([r["__cid"] for r in cent_rows], dtype=np.int64)
    cmat = np.array([list(r["__cvec"]) for r in cent_rows], dtype=np.float64)
    sc = df.sparkSession.sparkContext
    b_cids, b_cmat = sc.broadcast(cids), sc.broadcast(cmat)
    id_type = df.schema[id_col].dataType.simpleString()
    vec_type = df.schema[vec_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, `{vec_col}` {vec_type}, __cid bigint"

    def assign(batches):
        import numpy as np
        import pandas as pd

        cids_, cmat_ = b_cids.value, b_cmat.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            best = np.argmax(m @ cmat_.T, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "__cid": cids_[best],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(assign, out_schema)


def refine_centroids(
    corpus_unit: DataFrame, cent: DataFrame, iters: int
) -> DataFrame:
    """Deterministic Lloyd's iterations on unit vectors.

    Each round: assign every corpus vector to its nearest centroid
    (broadcast narrow map), recompute each cell's elementwise mean
    (posexplode → map-side-combinable avg keyed by (cell, dim) —
    corpus-sized but partial-aggregated, the unavoidable k-means
    cost), unit-normalize. Empty cells keep their previous centroid
    (left-join coalesce) so the centroid count never shrinks. No
    randomness anywhere (seeded by the lowest-id vectors); the only
    run-to-run wobble is float-summation order inside avg, which
    moves centroids by ~1 ulp and cannot flip an assignment except
    on exact ties.

    Expects ``corpus_unit`` as (__corpus_id, __cv) unit vectors and
    ``cent`` as (__cid, __cvec).

    Per-round plan truncation: the centroid relation is
    ``num_centroids`` rows, so each round ends by collecting it and
    re-creating a literal DataFrame (bounded driver transfer, same
    contract as the CC edge probe). Without this, round i+1's plan
    chains through round i's join tree and both Catalyst analysis and
    execution re-run every previous round — measured 6.1 s → ~2 s on
    the sf0.1 bench query at 3 iterations.
    """
    spark = cent.sparkSession
    schema = cent.schema
    for _ in range(int(iters)):
        assigned = ivf_assign(corpus_unit, cent, "__corpus_id", "__cv", nprobe=1)
        means = (
            assigned.select("__cid", F.posexplode("__cv").alias("__pos", "__x"))
            .groupBy("__cid", "__pos")
            .agg(F.avg("__x").alias("__m"))
            .groupBy("__cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__m"))
                ).alias("__pm")
            )
            .select(
                "__cid",
                V.unit(F.transform("__pm", lambda s: s["__m"])).alias("__new"),
            )
        )
        cent = (
            cent.join(means, on="__cid", how="left")
            .select("__cid", F.coalesce("__new", "__cvec").alias("__cvec"))
        )
        cent = spark.createDataFrame(cent.collect(), schema)
    return cent


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: int = 8,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into
    centroid cells, search only the query's nprobe nearest cells.

    Centroid seeding is deterministic (the num_centroids lowest-id
    corpus vectors, unit-normalized); ``kmeans_iters`` > 0 runs that
    many deterministic Lloyd's rounds (``refine_centroids``) for
    better-balanced cells — still reproducible, but the oracle query
    keeps iters=0 where the SQL stays expressible. At scale: the
    corpus assignment is a broadcast-join narrow map done ONCE (then
    reused across query batches), and each query touches
    ~nprobe/num_centroids of the corpus — the classic IVF trade.
    """
    from etl_core_spark.session import ensure_parallelism

    cent = V.select_unit(
        corpus.orderBy(F.col(id_col).asc()).limit(num_centroids),
        (F.col(id_col), "__cid"), vec_col, "__cvec",
    )
    c_raw = ensure_parallelism(
        corpus.select(F.col(id_col).alias("__corpus_id"), F.col(vec_col).alias("__cv0"))
    )
    c_unit = V.select_unit(c_raw, (F.col("__corpus_id"), "__corpus_id"), "__cv0", "__cv")
    q_raw2 = ensure_parallelism(
        queries.select(F.col(query_id_col).alias("__query_id"), F.col(vec_col).alias("__qv0"))
    )
    q_unit = V.select_unit(q_raw2, (F.col("__query_id"), "__query_id"), "__qv0", "__qv")
    if kmeans_iters > 0:
        # the corpus unit-vector table is consumed once per Lloyd
        # round plus the final assignment — shared subtree, persist
        from etl_core_spark.session import persist_intermediate

        c_unit = persist_intermediate(c_unit)
        cent = refine_centroids(c_unit, cent, kmeans_iters)
    c_assigned = ivf_assign(c_unit, cent, "__corpus_id", "__cv", nprobe=1)
    q_assigned = ivf_assign(q_unit, cent, "__query_id", "__qv", nprobe=nprobe)
    scored = q_assigned.join(c_assigned, on="__cid").select(
        "__query_id",
        "__corpus_id",
        F.round(V.dot(F.col("__qv"), F.col("__cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("__query_id").orderBy(
        F.col("cosine").desc(), F.col("__corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col("__query_id").alias(query_id_col),
            F.col("__corpus_id").alias(id_col),
            "cosine",
            "rank",
        )
    )


# ------------------------------------------------------ persistent IVF index
#
# The embedding-side analog of the persistent MinHash index
# (operators/dedup.py): corpus vectors are assigned to centroid cells
# ONCE and stored as a parquet table PARTITIONED BY CELL, so a query
# batch (a) assigns itself against the tiny stored centroid table and
# (b) scans only its nprobe cells' partition directories — per-batch
# I/O ∝ probed cells, never the corpus, and the corpus assignment is
# never recomputed.

_IVF_META = "_ivf_meta.json"


def read_ivf_meta(index_path: str, spark=None) -> dict | None:
    """IVF index meta, read THROUGH the Hadoop FileSystem (sources/
    hadoop_fs.py) so a remote (HDFS/S3A) index is visible from any
    driver host — os.path would only see the local disk."""
    import json

    from pyspark.sql import SparkSession

    from etl_core_spark.sources.hadoop_fs import fs_read_text

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise OperatorConfigError("no active SparkSession for index meta I/O")
    raw = fs_read_text(spark, f"{str(index_path).rstrip('/')}/{_IVF_META}")
    return None if raw is None else json.loads(raw)


def ivf_index_update(
    corpus: DataFrame,
    index_path: str,
    num_centroids: int = 8,
    kmeans_iters: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Create or extend the persistent IVF index.

    Creation: centroids seed from the ``num_centroids`` lowest-id
    vectors (unit-normalized; optional deterministic Lloyd rounds),
    stored in ``centroids``; every corpus vector's nearest cell +
    unit vector lands in ``cells`` partitioned by ``__cid``.
    Extension (meta already pinned): NEW vectors are assigned to the
    EXISTING centroids and appended — standard IVF practice
    (centroids stay fixed between rebuilds, so earlier assignments
    remain valid; rebuild the index when distribution drift matters).
    Zero-norm vectors are dropped (same guard as lsh_topk). Parameter
    mismatch against the pinned meta raises."""
    import json
    import os

    meta = {
        "num_centroids": int(num_centroids),
        "kmeans_iters": int(kmeans_iters),
        "vec_col": vec_col,
        "id_col": id_col,
    }
    spark = corpus.sparkSession
    existing = read_ivf_meta(index_path, spark)
    if existing is not None and existing != meta:
        raise OperatorConfigError(
            f"IVF index at {index_path!r} was built with {existing}; "
            f"refusing update with {meta}"
        )
    from etl_core_spark.session import ensure_parallelism

    cent_path = os.path.join(str(index_path), "centroids")
    cells_path = os.path.join(str(index_path), "cells")
    c_raw = ensure_parallelism(
        corpus.select(F.col(id_col).alias("__corpus_id"), F.col(vec_col).alias("__cv0"))
    )
    # NO zero-norm filter here: the direct ivf_topk path keeps zero
    # vectors (unit() preserves them; they score cosine 0.0) and the
    # persisted path's contract is returning EXACTLY what the direct
    # path returns — the shared oracle certifies both. A corpus with
    # masses of failed-embedding zero vectors concentrates them in one
    # cell (all-ties -> lowest centroid id): drop them upstream before
    # indexing, same advice as lsh_topk gives for bucketing.
    c_unit = V.select_unit(
        c_raw, (F.col("__corpus_id"), "__corpus_id"), "__cv0", "__cv"
    )
    if existing is None:
        cent = V.select_unit(
            corpus.orderBy(F.col(id_col).asc()).limit(num_centroids),
            (F.col(id_col), "__cid"), vec_col, "__cvec",
        )
        if kmeans_iters > 0:
            from etl_core_spark.session import persist_intermediate

            c_unit = persist_intermediate(c_unit)
            cent = refine_centroids(c_unit, cent, kmeans_iters)
        cent.coalesce(1).write.mode("overwrite").parquet(cent_path)
    cent = spark.read.parquet(cent_path)
    from etl_core_spark.session import checkpoint

    assigned = checkpoint(ivf_assign(c_unit, cent, "__corpus_id", "__cv", nprobe=1))
    if assigned.isEmpty():
        return  # all-zero-norm batch: never create a file-less table
    assigned.write.mode("append").partitionBy("__cid").parquet(cells_path)
    if existing is None:
        from etl_core_spark.sources.hadoop_fs import fs_write_text

        fs_write_text(
            spark, f"{str(index_path).rstrip('/')}/{_IVF_META}", json.dumps(meta)
        )


def ivf_index_topk(
    queries: DataFrame,
    index_path: str,
    k: int = 10,
    nprobe: int = 1,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k against the persistent IVF index: the query
    batch unit-normalizes and assigns itself to its ``nprobe``
    nearest stored centroids (broadcast narrow map), then scans ONLY
    the probed cells — the probed-cell list is collected (bounded by
    ``num_centroids``) and applied as a partition filter, so the scan
    reads only those partition directories. Output contract matches
    ``ivf_topk``: (query_id, id, cosine@6dp, rank)."""
    import os

    spark = queries.sparkSession
    meta = read_ivf_meta(index_path, spark)
    if meta is None:
        raise OperatorConfigError(f"no IVF index meta at {index_path!r}")
    id_col = meta["id_col"]
    cent = spark.read.parquet(os.path.join(str(index_path), "centroids"))
    from etl_core_spark.session import checkpoint, ensure_parallelism

    q_raw = ensure_parallelism(
        queries.select(
            F.col(query_id_col).alias("__query_id"), F.col(vec_col).alias("__qv0")
        )
    )
    q_unit = V.select_unit(q_raw, (F.col("__query_id"), "__query_id"), "__qv0", "__qv")
    # checkpoint: the assignment subtree (crossJoin + window rank —
    # the dominant narrow-map cost) feeds BOTH the probed-cell collect
    # and the final join; without it the batch is assigned twice
    q_assigned = checkpoint(
        ivf_assign(q_unit, cent, "__query_id", "__qv", nprobe=nprobe)
    )
    # bounded collect: at most num_centroids distinct cells
    probed = [r[0] for r in q_assigned.select("__cid").distinct().collect()]
    cells_schema = spark.read.parquet(os.path.join(str(index_path), "cells")).schema
    if not probed:
        # schema-typed empty result: id/query-id types come from the
        # index and the query batch, never hardcoded (a 'long' guess
        # breaks unions/appends for string-id tables)
        from pyspark.sql import types as T

        empty = T.StructType([
            T.StructField(query_id_col, q_assigned.schema["__query_id"].dataType),
            T.StructField(id_col, cells_schema["__corpus_id"].dataType),
            T.StructField("cosine", T.DoubleType()),
            T.StructField("rank", T.LongType()),
        ])
        return spark.createDataFrame([], empty)
    cells = spark.read.parquet(os.path.join(str(index_path), "cells")).where(
        F.col("__cid").isin(probed)
    )
    scored = q_assigned.join(cells, on="__cid").select(
        "__query_id",
        "__corpus_id",
        F.round(V.dot(F.col("__qv"), F.col("__cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("__query_id").orderBy(
        F.col("cosine").desc(), F.col("__corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col("__query_id").alias(query_id_col),
            F.col("__corpus_id").alias(id_col),
            "cosine",
            "rank",
        )
    )


def _pq_lloyd(X, k: int, iters: int):
    """Deterministic Lloyd k-means for one PQ subspace. Seeds with
    the first k rows (callers pass id-sorted samples — the IVF seed
    convention); empty cells keep their previous codeword, so the
    codebook never shrinks. Distances via the expanded form (one
    matmul), never an (n, k, d) broadcast tensor."""
    import numpy as np

    C = X[: int(k)].copy()
    x2 = (X ** 2).sum(1)[:, None]
    for _ in range(int(iters)):
        d2 = x2 + (C ** 2).sum(1)[None, :] - 2.0 * (X @ C.T)
        a = d2.argmin(1)
        for j in range(C.shape[0]):
            members = X[a == j]
            if len(members):
                C[j] = members.mean(0)
    return C


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    k_codes: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    train_rows: int = 100_000,
    kmeans_iters: int = 5,
    refine_factor: int = 4,
    max_query_rows: int = 10_000,
) -> DataFrame:
    """Product-quantization ANN (Jégou, Douze & Schmid 2011): unit
    vectors split into ``m`` subspaces, each subvector quantized to
    one of ``k_codes`` codewords (per-subspace Lloyd k-means on a
    bounded id-sorted sample), the corpus stored as ``m`` small codes
    — d·8 bytes/vector becomes m bytes (64-dim float64 → 8 bytes at
    m=8, a 64× memory cut, THE lever that fits a 100 TB embedding
    corpus's index in executor memory. Queries score by ADC
    (asymmetric distance computation): one (m × k_codes) inner-
    product lookup table per query, approx_ip = Σ_j LUT[j, code_j].
    Candidates (``refine_factor``·k per query) re-rank by EXACT
    cosine, so the output contract matches the ann family: 6dp
    cosine desc, corpus id asc.

    Scale shape: codebooks train on a bounded driver sample
    (``train_rows``, id-sorted TakeOrdered — deterministic) and ride
    as a broadcast; the corpus is ENCODED and SCORED streaming
    through Arrow-batched ``mapInPandas`` — per batch one
    subspace-argmin matmul (encode) and one LUT gather (score), with
    per-batch top-(refine_factor·k) emission, so shuffle volume is
    batches × queries × refine_factor·k rows, never corpus-sized.
    The exact re-rank joins the bounded candidate set back to corpus
    vectors (keyed AQE join). Queries are driver-collected, bounded
    by ``max_query_rows`` with a loud error. Recall < 1 by
    construction (quantization); the recall floor is pytest-pinned,
    exactness is certified on the refined contract.
    """
    import numpy as np

    if int(m) < 1 or int(k_codes) < 2:
        raise OperatorConfigError("pq_topk needs m >= 1, k_codes >= 2")
    probe = queries.select(query_id_col).limit(int(max_query_rows) + 1).count()
    if probe > int(max_query_rows):
        raise OperatorConfigError(
            f"pq_topk: query batch exceeds max_query_rows="
            f"{max_query_rows}; split the batch (the LUT broadcast is "
            "queries-sized by design)"
        )
    # ---- train codebooks on a bounded deterministic sample ----
    sample = (
        corpus.select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull())
        .orderBy(id_col)
        .limit(int(train_rows))
        .collect()
    )
    if not sample:
        raise OperatorConfigError("pq_topk: corpus has no non-null vectors")
    S = np.array([list(r[1]) for r in sample], dtype=np.float64)
    S = S / np.maximum(np.linalg.norm(S, axis=1, keepdims=True), 1e-300)
    dim = S.shape[1]
    if dim % int(m) != 0:
        raise OperatorConfigError(
            f"pq_topk: dim {dim} not divisible by m={m}"
        )
    sub = dim // int(m)
    kc = min(int(k_codes), len(S))
    books = np.stack(
        [
            _pq_lloyd(S[:, j * sub : (j + 1) * sub], kc, kmeans_iters)
            for j in range(int(m))
        ]
    )  # (m, kc, sub)

    qrows = queries.select(query_id_col, vec_col).collect()
    null_q = [r[0] for r in qrows if r[1] is None]
    if null_q:
        raise OperatorConfigError(
            f"pq_topk: {len(null_q)} query rows have NULL {vec_col!r} "
            f"(e.g. {query_id_col}={null_q[0]!r}); drop or impute them "
            "before searching"
        )
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    qids = [r[0] for r in qrows]
    # per-query ADC tables: (q, m, kc) inner products
    lut = np.stack(
        [
            Q[:, j * sub : (j + 1) * sub] @ books[j].T
            for j in range(int(m))
        ],
        axis=1,
    )
    sc = corpus.sparkSession.sparkContext
    b_books, b_lut, b_qids = (
        sc.broadcast(books),
        sc.broadcast(lut),
        sc.broadcast(qids),
    )
    id_type = corpus.schema[id_col].dataType.simpleString()
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    cand_per_q = int(refine_factor) * int(k)
    m_, sub_ = int(m), sub

    def encode_score(batches):
        import numpy as np
        import pandas as pd

        bk, lt, qs = b_books.value, b_lut.value, b_qids.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            X = X / np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-300
            )
            # encode: per-subspace nearest codeword
            codes = np.empty((X.shape[0], m_), dtype=np.int64)
            for j in range(m_):
                Xj = X[:, j * sub_ : (j + 1) * sub_]
                d2 = (
                    (Xj ** 2).sum(1)[:, None]
                    + (bk[j] ** 2).sum(1)[None, :]
                    - 2.0 * (Xj @ bk[j].T)
                )
                codes[:, j] = d2.argmin(1)
            # ADC: scores (q, B) = sum over subspaces of LUT gathers
            scores = np.zeros((lt.shape[0], X.shape[0]))
            for j in range(m_):
                scores += lt[:, j, codes[:, j]]
            out = []
            n_take = min(cand_per_q, X.shape[0])
            ids_b = pdf[id_col].to_numpy()
            for qi in range(scores.shape[0]):
                top = np.lexsort((ids_b, -scores[qi]))[:n_take]
                for ci in top:
                    cid = ids_b[ci]
                    out.append(
                        (
                            qs[qi],
                            cid.item() if hasattr(cid, "item") else cid,
                            float(scores[qi][ci]),
                        )
                    )
            yield pd.DataFrame(
                out, columns=[query_id_col, id_col, "approx_ip"]
            )

    from etl_core_spark.session import persist_intermediate

    # NULL embeddings would crash the Arrow batch (list(None)); match
    # the brute_force/ivf convention of silently skipping them — a NULL
    # vector can never be a neighbor.
    cand = corpus.select(id_col, vec_col).where(
        F.col(vec_col).isNotNull()
    ).mapInPandas(
        encode_score,
        schema=(
            f"{query_id_col} {qid_type}, `{id_col}` {id_type}, "
            "approx_ip double"
        ),
    )
    # global candidate cut per query, then exact re-rank
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_ip").desc(), F.col(id_col).asc()
    )
    cand = (
        cand.withColumn("__arn", F.row_number().over(w))
        .where(F.col("__arn") <= cand_per_q)
        .select(query_id_col, id_col)
    )
    cvec = corpus.select(
        F.col(id_col), V.unit(F.col(vec_col)).alias("__cv")
    )
    qvec_df = persist_intermediate(
        queries.sparkSession.createDataFrame(
            [(qid, [float(x) for x in Q[i]]) for i, qid in enumerate(qids)],
            f"{query_id_col} {qid_type}, __qv array<double>",
        )
    )
    exact = (
        cand.join(cvec, on=id_col)
        .join(qvec_df, on=query_id_col)
        .withColumn(
            "cosine", F.round(V.dot(F.col("__qv"), F.col("__cv")), 6)
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= int(k))
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _check_cosine_near_dup_pairs(threshold, **_) -> None:
    ensure(0.0 < threshold <= 1.0, f"cosine_near_dup threshold must be in (0, 1], got {threshold}")


@bind_operator("cosine_near_dup", check=_check_cosine_near_dup_pairs)
def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    num_planes: int = 6,
    seed: int = 42,
    exact: bool = False,
    num_tables: int = 1,
) -> DataFrame:
    """Pairs (id_a < id_b, cosine ≥ threshold). ``exact=True`` does
    the full cross product (oracle-checkable); default prunes via LSH
    buckets (the 100 TB path). ``num_tables`` > 1 unions independent
    LSH tables for recall (see ``lsh_bucketed``)."""
    from etl_core_spark.session import ensure_parallelism

    base_raw = ensure_parallelism(
        df.select(F.col(id_col), F.col(vec_col).alias("__v0"))
    )
    base = V.select_unit(base_raw, (F.col(id_col), id_col), "__v0", "__unit")
    if exact:
        a = base.select(F.col(id_col).alias("id_a"), F.col("__unit").alias("__va"))
        b = base.select(F.col(id_col).alias("id_b"), F.col("__unit").alias("__vb"))
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    else:
        # zero-norm vectors (the classic failed-embedding-job output)
        # all hash to the SAME hyperplane sign pattern — a million of
        # them is one quadratic bucket — and their cosine with
        # anything is 0, below any positive threshold, so dropping
        # them pre-bucketing changes no verified pair (the empty-doc
        # guard from the text-dedup family, in vector form)
        nonzero = base.where(V.norm(F.col("__unit")) > 0)
        bucketed = lsh_bucketed(nonzero, "__unit", dim, num_planes, seed, num_tables)
        a = bucketed.select(
            F.col(id_col).alias("id_a"), F.col("__unit").alias("__va"), "__bucket"
        )
        b = bucketed.select(
            F.col(id_col).alias("id_b"), F.col("__unit").alias("__vb"), "__bucket"
        )
        pairs = a.join(b, on="__bucket").where(F.col("id_a") < F.col("id_b"))
        if num_tables > 1:
            pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return (
        pairs.withColumn("cosine", F.round(V.dot(F.col("__va"), F.col("__vb")), 6))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


@bind_operator("random_projection")
def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    dim: int,
    out_dim: int = 8,
    seed: int = 42,
    out_col: str = "proj",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: reduce ``vec_col``
    (``dim`` floats) to ``out_dim`` dimensions by dotting against
    ``out_dim`` seeded Gaussian directions scaled by 1/sqrt(out_dim)
    (the JL estimator — expected squared norm is preserved). The
    standard pre-ANN shrink: project once, then bucket/search in the
    cheap space.

    Scale shape: the directions are driver-side seeded literals
    (same policy as ``lsh_bucketed``), so the projection is a pure
    narrow map — zero shuffle, codegen'd higher-order-function dots,
    no Python per row. Components are quantized to 4dp by
    ``floor(x*1e4)/1e4`` rather than ``round``: floor has no rounding
    ties, so two engines that fold the dot product in the same order
    produce bit-identical output (Spark's ``round`` applies Java
    HALF_UP to the double's shortest decimal string while DuckDB/C
    round the binary value — on an exact ...5 tie they disagree,
    measured 4/500 rows in r7). Keep ``out_dim`` modest (≤ ~16):
    each component embeds ``dim`` literal floats in the plan, and
    giant literal expression trees evaluate worse than a broadcast
    join (measured: ROUND_NOTES r7 IVF negative result)."""
    if out_dim <= 0 or dim <= 0:
        raise OperatorConfigError("random_projection dims must be positive")
    planes = _seeded_planes(dim, out_dim, seed)
    scale = 1.0 / (float(out_dim) ** 0.5)
    comps = [
        F.floor(
            V.dot(
                F.col(vec_col),
                F.array(*[F.lit(float(x)) for x in p]),
            )
            * F.lit(scale)
            * F.lit(10000.0)
        ).cast("double")
        / F.lit(10000.0)
        for p in planes
    ]
    return df.withColumn(out_col, F.array(*comps))


def pca_fit(
    df: DataFrame,
    vec_col: str,
    dim: int,
    k: int = 4,
    center: bool = True,
) -> dict:
    """Fit a PCA basis over an embedding column, Spark-sized:

    1. per-partition partial moments via Arrow-batched
       ``mapInPandas`` — each batch contributes its d×d Gram matrix,
       d-vector sum and count (numpy matmul on the executor);
    2. the partials (d²+d+1 doubles per partition — KB, not data-
       sized) are summed by a single Spark aggregation;
    3. the d×d covariance eigendecomposition runs on the driver
       (``numpy.linalg.eigh`` — d is the embedding width, never the
       row count).

    Data flow is one narrow pass + one tiny aggregate: nothing
    row-sized ever reaches the driver, so the same plan holds at
    100 TB. Returns ``{"components": [k][dim], "mean": [dim],
    "explained_variance": [k]}`` with each eigenvector's sign fixed
    (largest-|coefficient| component positive) so the basis is
    deterministic up to eigenvalue ties."""
    import numpy as np

    if k <= 0 or dim <= 0 or k > dim:
        raise OperatorConfigError("pca_fit requires 0 < k <= dim")

    d = int(dim)

    def partial_moments(batches):
        import numpy as np
        import pandas as pd

        g = np.zeros((d, d), dtype=np.float64)
        s = np.zeros(d, dtype=np.float64)
        n = 0
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.array([list(v) for v in pdf["__vec"]], dtype=np.float64)
            if x.shape[1] != d:
                raise ValueError(
                    f"pca_fit: expected dim {d}, got {x.shape[1]}"
                )
            g += x.T @ x
            s += x.sum(axis=0)
            n += x.shape[0]
        if n:
            # one flat partial per partition: [gram (d*d) | sum (d) | n]
            yield pd.DataFrame(
                {"m": [g.ravel().tolist() + s.tolist() + [float(n)]]}
            )

    vecs = df.where(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).alias("__vec")
    )
    partials = vecs.mapInPandas(partial_moments, schema="m array<double>")
    # reduce the per-partition partials positionally: d*d+d+1 groups
    # regardless of partition count, so the collect is d-sized (KB),
    # never data- or cluster-sized
    moments = (
        partials.select(F.posexplode("m").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    flat = np.zeros(d * d + d + 1, dtype=np.float64)
    for row in moments:
        flat[row["i"]] = row["v"]
    n = int(round(flat[-1]))
    if n < 2:
        raise OperatorConfigError("pca_fit needs at least 2 vectors")
    gram = flat[: d * d].reshape(d, d)
    mean = flat[d * d : d * d + d] / n
    if center:
        cov = (gram - n * np.outer(mean, mean)) / (n - 1)
    else:
        cov = gram / (n - 1)
        mean = np.zeros(d)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = []
    var = []
    for idx in order:
        v = evecs[:, idx]
        # sign convention: the largest-|coefficient| entry is positive
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append([float(x) for x in v])
        var.append(float(evals[idx]))
    return {
        "components": comps,
        "mean": [float(x) for x in mean],
        "explained_variance": var,
    }


def pca_project(
    df: DataFrame,
    model: dict,
    vec_col: str,
    out_col: str = "pc",
) -> DataFrame:
    """Project ``vec_col`` onto a fitted PCA basis (``pca_fit``
    output): centered dot against each component, floor-quantized to
    4dp — the ``random_projection`` tie-free convention (floor has no
    rounding ties, so two engines that fold the dot in the same
    left-assoc order produce bit-identical output; Spark's ``round``
    HALF_UPs the decimal string and disagrees with C-style rounding
    on exact ...5 ties — observed 1/500 rows). Like
    ``random_projection`` this is a pure narrow map over literal
    directions — zero shuffle."""
    comps = model["components"]
    mean = model["mean"]
    mean_arr = F.array(*[F.lit(float(x)) for x in mean])
    centered = F.zip_with(
        F.col(vec_col), mean_arr, lambda x, m: x.cast("double") - m
    )
    out = [
        F.floor(
            V.dot(centered, F.array(*[F.lit(float(x)) for x in c]))
            * F.lit(10000.0)
        ).cast("double")
        / F.lit(10000.0)
        for c in comps
    ]
    return df.withColumn(out_col, F.array(*out))


@register_operator("pca")
class PCAOperator(Operator):
    """Fit-and-project in one operator (config: ``dim`` required,
    ``k``, ``vec_col``, ``out_col``, ``center``). The fitted basis is
    exposed on ``self.model`` after ``apply`` for callers that
    persist it."""

    in_ports = ("in",)
    out_ports = ("out",)

    def validate_config(self) -> None:
        if "dim" not in self.config:
            raise OperatorConfigError("pca requires 'dim'")

    def apply(self, inputs: PortMap) -> PortMap:
        c = self.config
        df = self.single_input(inputs)
        self.model = pca_fit(
            df,
            vec_col=c.get("vec_col", "embedding"),
            dim=int(c["dim"]),
            k=int(c.get("k", 4)),
            center=bool(c.get("center", True)),
        )
        return {
            "out": pca_project(
                df,
                self.model,
                vec_col=c.get("vec_col", "embedding"),
                out_col=c.get("out_col", "pc"),
            )
        }


@register_operator("similarity_search")
class SimilaritySearchOperator(Operator):
    in_ports = ("corpus", "queries")
    out_ports = ("out",)

    def validate_config(self) -> None:
        self.method = self.config.get("method", "brute_force")
        if self.method not in (
            "brute_force", "brute_force_numpy", "lsh", "ivf_index", "pq"
        ):
            raise OperatorConfigError(f"unknown similarity method {self.method!r}")
        if self.method == "ivf_index" and not self.config.get("index_path"):
            raise OperatorConfigError("ivf_index method requires 'index_path'")

    def apply(self, inputs: PortMap) -> PortMap:
        corpus = inputs.get("corpus")
        queries = inputs.get("queries", corpus)
        c = self.config
        if self.method == "ivf_index":
            # corpus lives in the persistent index (ivf_index sink);
            # only the query batch flows through the job
            if queries is None:
                raise OperatorConfigError(
                    "similarity_search(ivf_index) requires a 'queries' input"
                )
            return {
                "out": ivf_index_topk(
                    queries,
                    str(c["index_path"]),
                    k=int(c.get("k", 10)),
                    nprobe=int(c.get("nprobe", 1)),
                    vec_col=c.get("vec_col", "embedding"),
                    query_id_col=c.get("query_id_col", "query_id"),
                )
            }
        if corpus is None:
            raise OperatorConfigError("similarity_search requires a 'corpus' input")
        kwargs = dict(
            k=int(c.get("k", 10)),
            vec_col=c.get("vec_col", "embedding"),
            id_col=c.get("id_col", "vec_id"),
            query_id_col=c.get("query_id_col", "query_id"),
        )
        if self.method == "brute_force":
            out = brute_force_topk(corpus, queries, **kwargs)
        elif self.method == "brute_force_numpy":
            out = brute_force_topk_numpy(corpus, queries, **kwargs)
        elif self.method == "pq":
            out = pq_topk(
                corpus, queries,
                m=int(c.get("m", 8)),
                k_codes=int(c.get("k_codes", 256)),
                train_rows=int(c.get("train_rows", 100_000)),
                kmeans_iters=int(c.get("kmeans_iters", 5)),
                refine_factor=int(c.get("refine_factor", 4)),
                **kwargs,
            )
        else:
            out = lsh_topk(
                corpus, queries, dim=int(c.get("dim", 64)),
                num_planes=int(c.get("num_planes", 6)),
                num_tables=int(c.get("num_tables", 1)), **kwargs,
            )
        return {"out": out}


def _check_semdedup(keep, **_) -> None:
    ensure(keep in ("min_id", "far_from_centroid"), f"unknown semdedup keep policy {keep!r}")


@bind_operator("semdedup", check=_check_semdedup)
def semdedup(
    df: DataFrame,
    threshold: float = 0.95,
    num_centroids: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    kmeans_iters: int = 0,
    keep: str = "min_id",
    assign_method: str = "auto",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and dropping near-identical
    pairs WITHIN each cluster — the published recipe for pruning
    web-scale corpora (LAION/C4) by embedding similarity without an
    all-pairs pass.

    Pipeline: deterministic centroid seeding (the ``num_centroids``
    lowest-id vectors, unit-normalized — the ivf_topk convention;
    ``kmeans_iters`` > 0 adds Lloyd rounds), assign every vector to
    its nearest centroid, self-join WITHIN cells on 6dp-rounded
    cosine ≥ ``threshold``, then greedy survivor selection:

    - ``keep="min_id"``: drop the higher id of each pair (the
      engine-wide dedup convention, fully oracle-checkable);
    - ``keep="far_from_centroid"``: the paper's policy — within a
      duplicate pair keep the example LESS similar to its centroid
      (more atypical ⇒ more diverse corpus); ties fall back to id.

    Returns the surviving rows of ``df`` unchanged.

    100 TB shape: the cluster step is exactly IVF assignment — one
    broadcast of ``num_centroids`` unit vectors — and the pair join
    is an equi-join on cell id, so the quadratic term is bounded by
    the largest CELL, not the corpus (the paper runs k large for
    precisely this reason; size num_centroids ≈
    corpus/expected_cell). With k ∝ n, assignment itself is the
    dominant O(n·k·d) term: ``assign_method`` picks the kernel —
    ``expr`` (JVM fold window, bit-stable, the oracle path),
    ``numpy`` (one BLAS matmul per Arrow batch), or ``auto`` (numpy
    once num_centroids > 32). Measured on the 30× soak table
    (60k×64d): k=64 numpy 7.8 s vs expr 10.6 s; k=256 numpy 3.6 s
    vs expr 8.4 s — the BLAS edge grows with k, exactly where the
    k ∝ n sizing rule operates. Zero-norm vectors cosine 0 with
    everything and can never cross a positive threshold: excluded
    from pairing up front (the cosine_near_dup_pairs guard).
    """
    if not (0.0 < float(threshold) <= 1.0):
        raise OperatorConfigError(
            f"semdedup threshold must be in (0, 1], got {threshold}"
        )
    if keep not in ("min_id", "far_from_centroid"):
        raise OperatorConfigError(f"unknown semdedup keep policy {keep!r}")
    if assign_method not in ("auto", "expr", "numpy"):
        raise OperatorConfigError(
            f"unknown semdedup assign_method {assign_method!r}"
        )
    if int(num_centroids) < 1:
        raise OperatorConfigError(
            "semdedup num_centroids must be >= 1 (0 would silently "
            "dedup nothing: no cells, no pairs)"
        )
    from etl_core_spark.session import ensure_parallelism

    # centroid seeds must be usable directions: a NULL embedding in
    # the lowest-id rows (failed embedding job) crashed the numpy
    # kernel on the driver and a zero vector is no direction at all —
    # seed from the lowest-id NON-degenerate vectors (the oracle SQL
    # applies the identical filter)
    seedable = df.where(
        F.col(vec_col).isNotNull()
        & (
            F.aggregate(
                F.col(vec_col),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
            > 0
        )
    )
    cent = V.select_unit(
        seedable.orderBy(F.col(id_col).asc()).limit(int(num_centroids)),
        (F.col(id_col), "__cid"), vec_col, "__cvec",
    )
    raw = ensure_parallelism(
        df.select(F.col(id_col).alias("__sid"), F.col(vec_col).alias("__v0"))
    )
    unit = V.select_unit(raw, (F.col("__sid"), "__sid"), "__v0", "__v")
    if int(kmeans_iters) > 0:
        from etl_core_spark.session import persist_intermediate

        unit = persist_intermediate(unit)
        cent = refine_centroids(
            unit.select(F.col("__sid").alias("__corpus_id"),
                        F.col("__v").alias("__cv")),
            cent, int(kmeans_iters),
        )
    nonzero = unit.where(V.norm(F.col("__v")) > 0)
    use_numpy = assign_method == "numpy" or (
        assign_method == "auto" and int(num_centroids) > 32
    )
    if use_numpy:
        assigned = ivf_assign_numpy(nonzero, cent, "__sid", "__v")
    else:
        assigned = ivf_assign(nonzero, cent, "__sid", "__v", nprobe=1)
    from etl_core_spark.session import persist_intermediate

    if keep == "far_from_centroid":
        # carry each member's similarity to its OWN centroid so the
        # pair step can keep the atypical one (paper policy); a
        # broadcast join-back recomputes it only for the assigned cell
        assigned = (
            assigned.join(F.broadcast(cent), on="__cid")
            .withColumn("__csim", F.round(V.dot("__v", "__cvec"), 6))
            .select("__sid", "__v", "__cid", "__csim")
        )
    # both sides of the within-cell self-join read this subtree —
    # persist AFTER any csim augmentation so assignment (broadcast
    # dot + keyed window) and the join-back run once, not twice (the
    # minhash shingle-table discipline; persisting before the
    # augmentation left the atypical path re-assigning per side)
    assigned = persist_intermediate(assigned)
    a = assigned.select(
        F.col("__sid").alias("__ida"), F.col("__v").alias("__va"),
        "__cid",
        *([F.col("__csim").alias("__csa")] if keep == "far_from_centroid" else []),
    )
    b = assigned.select(
        F.col("__sid").alias("__idb"), F.col("__v").alias("__vb"),
        "__cid",
        *([F.col("__csim").alias("__csb")] if keep == "far_from_centroid" else []),
    )
    pairs = (
        a.join(b, on="__cid")
        .where(F.col("__ida") < F.col("__idb"))
        .withColumn("__cos", F.round(V.dot("__va", "__vb"), 6))
        .where(F.col("__cos") >= float(threshold))
    )
    if keep == "min_id":
        dropped = pairs.select(F.col("__idb").alias(id_col)).distinct()
    else:
        # drop the member MORE similar to the centroid (keep the
        # atypical one); exact tie → drop the higher id
        dropped = pairs.select(
            F.when(
                F.col("__csa") > F.col("__csb"), F.col("__ida")
            ).when(
                F.col("__csb") > F.col("__csa"), F.col("__idb")
            ).otherwise(F.col("__idb")).alias(id_col)
        ).distinct()
    return df.join(dropped, on=id_col, how="left_anti")


@register_operator("ivf_index")
class IVFIndexSink(SinkOperator):
    """Sink: assign a corpus batch to the persistent IVF index's
    centroid cells and append (``ivf_index_update`` — creates the
    index with deterministic seed centroids on first write). Config:
    ``index_path`` (required), ``num_centroids``, ``kmeans_iters``,
    ``vec_col``, ``id_col``."""

    def validate_config(self) -> None:
        if not self.config.get("index_path"):
            raise OperatorConfigError("ivf_index requires 'index_path'")

    def write(self, df: DataFrame) -> None:
        c = self.config
        ivf_index_update(
            df,
            str(c["index_path"]),
            num_centroids=int(c.get("num_centroids", 8)),
            kmeans_iters=int(c.get("kmeans_iters", 0)),
            vec_col=c.get("vec_col", "embedding"),
            id_col=c.get("id_col", "vec_id"),
        )


@bind_operator("knn_graph")
def knn_graph(
    df: DataFrame,
    k: int = 10,
    method: str = "brute_force",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    num_planes: int = 6,
    num_tables: int = 1,
    seed: int = 42,
) -> DataFrame:
    """k-nearest-neighbor graph over one embedding table →
    ``(src, dst, cosine, rank)`` — every vector's k most similar
    OTHER vectors. The construction step before graph analytics on
    semantic space: feed the edges straight into
    ``label_propagation`` (semantic communities), ``pagerank``
    (centrality-weighted curation) or ``connected_components``.

    Self-pairs are excluded by id AFTER the k+1 search and ranks are
    recomputed, because a duplicate vector with a smaller id
    legitimately outranks self at cosine 1.0 — dropping "rank 1"
    would silently drop a real duplicate edge instead of the self
    edge. Ranking: 6dp-rounded cosine desc, neighbor id asc (the
    shared similarity contract, engine-independent).

    Methods: ``brute_force`` (exact, JVM expressions),
    ``brute_force_numpy`` (exact, Arrow+BLAS — same contract),
    ``lsh`` (approximate: hyperplane-bucket equi-join, recall < 1 by
    construction; requires ``dim``). Scale shape is the underlying
    kernel's — for the exact kernels that is the corpus×corpus pair
    scoring (use ``lsh``/IVF above ~10^5 vectors); the re-rank
    window sees at most k+1 rows per vector.
    """
    if int(k) < 1:
        raise OperatorConfigError("knn_graph needs k >= 1")
    queries = df.select(
        F.col(id_col).alias("__knn_qid"), F.col(vec_col).alias(vec_col)
    )
    kk = int(k) + 1
    if method == "brute_force":
        base = brute_force_topk(df, queries, kk, vec_col, id_col, "__knn_qid")
    elif method == "brute_force_numpy":
        base = brute_force_topk_numpy(
            df, queries, kk, vec_col, id_col, "__knn_qid"
        )
    elif method == "lsh":
        if not dim:
            raise OperatorConfigError("knn_graph method=lsh requires dim")
        base = lsh_topk(
            df, queries, int(dim), kk, num_planes, vec_col, id_col,
            "__knn_qid", seed, num_tables,
        )
    else:
        raise OperatorConfigError(f"unknown knn_graph method {method!r}")
    w = Window.partitionBy("__knn_qid").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        base.where(F.col("__knn_qid") != F.col(id_col))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= int(k))
        .select(
            F.col("__knn_qid").alias("src"),
            F.col(id_col).alias("dst"),
            "cosine",
            "rank",
        )
    )


def _check_kmeans_cluster(k, **_) -> None:
    ensure(k >= 1, "kmeans_cluster k must be >= 1")


@bind_operator("kmeans_cluster", check=_check_kmeans_cluster)
def kmeans_cluster(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 0,
    emit_similarity: bool = True,
) -> DataFrame:
    """First-class k-means clustering over an embedding column →
    ``(id, cluster_id[, cosine])`` — the standalone surface of the
    IVF machinery semdedup/ivf_topk use internally: cluster-then-
    sample, per-cluster stats, and topic-bucketing workloads want
    the ASSIGNMENT TABLE itself, not a search result.

    Deterministic end to end: centroids seed from the ``k``
    lowest-id non-null vectors (unit-normalized), ``iterations``
    Lloyd rounds via ``refine_centroids`` (no randomness; empty
    cells keep their centroid), assignment by unit-dot argmax with
    ties to the lowest cluster id. ``iterations=0`` (pure seeded
    assignment) is the fully SQL-expressible certified shape —
    the refinement fixpoint keeps the ivf_topk_refined rows-only
    convention.

    Scale shape: centroids are a bounded broadcast (k rows);
    assignment is ONE broadcast crossJoin + per-id argmax window —
    a narrow map over the corpus; each Lloyd round adds one
    map-side-combinable (cell, dim) average (the unavoidable k-means
    cost). NULL vectors are dropped (cluster membership is undefined
    for them), matching the ANN family convention.
    """
    if int(k) < 1:
        raise OperatorConfigError("kmeans_cluster k must be >= 1")
    if int(iterations) < 0:
        raise OperatorConfigError("kmeans_cluster iterations must be >= 0")
    from etl_core_spark.session import (
        ensure_parallelism,
        persist_intermediate,
    )

    nn = df.where(F.col(vec_col).isNotNull())
    cent = V.select_unit(
        nn.orderBy(F.col(id_col).asc()).limit(int(k)),
        (F.col(id_col), "__cid"),
        vec_col,
        "__cvec",
    )
    # (__corpus_id, __cv): the refine_centroids input contract
    c_unit = V.select_unit(
        ensure_parallelism(
            nn.select(
                F.col(id_col).alias("__corpus_id"),
                F.col(vec_col).alias("__cv0"),
            )
        ),
        (F.col("__corpus_id"), "__corpus_id"),
        "__cv0",
        "__cv",
    )
    if int(iterations) > 0:
        c_unit = persist_intermediate(c_unit)
        cent = refine_centroids(c_unit, cent, int(iterations))
    scored = c_unit.crossJoin(F.broadcast(cent)).withColumn(
        "__sim", V.dot(F.col("__cv"), F.col("__cvec"))
    )
    w = Window.partitionBy("__corpus_id").orderBy(
        F.col("__sim").desc(), F.col("__cid").asc()
    )
    out = (
        scored.withColumn("__crn", F.row_number().over(w))
        .where(F.col("__crn") == 1)
        .select(
            F.col("__corpus_id").alias(id_col),
            F.col("__cid").cast("long").alias("cluster_id"),
            F.round(F.round(F.col("__sim"), 6), 4).alias("cosine"),
        )
    )
    return out if emit_similarity else out.select(id_col, "cluster_id")


def _check_mmr_rerank(k, fetch_n, lambda_, **_) -> None:
    ensure(0.0 <= lambda_ <= 1.0, "mmr_rerank lambda_ must be in [0, 1]")
    ensure(1 <= k <= fetch_n, "mmr_rerank needs 1 <= k <= fetch_n")


@bind_operator("mmr_rerank", in_ports=("in", "queries"), check=_check_mmr_rerank)
def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    fetch_n: int = 50,
    lambda_: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    broadcast_corpus: bool | None = None,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998): fetch ``fetch_n`` nearest candidates per query, then pick
    ``k`` greedily by ``λ·rel(c) − (1−λ)·max_{s∈selected}
    sim(c, s)`` — relevance traded against redundancy, the standard
    diversity pass over a retrieval shortlist (and the cheap coreset
    sampler for near-duplicate-heavy corpora). λ=1 is pure
    relevance; λ=0 pure diversity; the FIRST pick is always the
    top-relevance hit (max-sim over the empty set is 0).

    Determinism pins: relevance and pairwise similarity are
    6dp-rounded cosines (the ANN contract), λ-arithmetic runs on
    those rounded doubles with identical literals in any engine,
    and every argmax breaks ties on candidate id ascending — so the
    greedy trajectory is a pure function of the data and the SQL
    oracle can replay it step by step.

    Scale shape: stage 1 is the corpus-sized work and is exactly
    ``brute_force_topk`` (swap in the IVF/LSH path upstream for
    100 TB corpora and feed its shortlist in as ``corpus``); stage 2
    touches only queries × fetch_n rows — k chained rounds of ONE
    per-query window argmax + ONE keyed join each, all bounded by
    the shortlist size, never by the corpus.
    """
    if not 0.0 <= float(lambda_) <= 1.0:
        raise OperatorConfigError("mmr_rerank lambda_ must be in [0, 1]")
    if int(k) < 1 or int(fetch_n) < int(k):
        raise OperatorConfigError("mmr_rerank needs 1 <= k <= fetch_n")
    lam = float(lambda_)
    base = brute_force_topk(
        corpus,
        queries,
        k=int(fetch_n),
        vec_col=vec_col,
        id_col=id_col,
        query_id_col=query_id_col,
        broadcast_corpus=broadcast_corpus,
    )
    cvec = V.select_unit(
        corpus, (F.col(id_col), "__mmr_cid"), vec_col, "__cv"
    )
    state = (
        base.join(cvec, base[id_col] == cvec["__mmr_cid"])
        .select(
            F.col(query_id_col).alias("__qid"),
            F.col("__mmr_cid").alias("__cid"),
            F.col("cosine").alias("__rel"),
            F.col("__cv"),
            F.lit(0.0).alias("__ms"),
            F.lit(False).alias("__sel"),
        )
        # the greedy stage holds queries x fetch_n rows — pin it to a
        # few query-keyed partitions so the k round-trip windows and
        # joins don't each pay full shuffle-width task overhead
        .repartition(4, "__qid")
    )
    from etl_core_spark.session import checkpoint

    # checkpoint the shortlist ONCE: every round's winner job replays
    # its lineage, and without this each of the k rounds would re-run
    # the corpus-sized stage-1 scan (measured 5x the ANN cost)
    state = checkpoint(state, eager=False)

    picks = []
    for step in range(1, int(k) + 1):
        scored = state.where(~F.col("__sel")).withColumn(
            "__score",
            F.lit(lam) * F.col("__rel") - F.lit(1.0 - lam) * F.col("__ms"),
        )
        w = Window.partitionBy("__qid").orderBy(
            F.col("__score").desc(), F.col("__cid").asc()
        )
        win = checkpoint(
            scored.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(
                "__qid",
                F.col("__cid").alias("__wcid"),
                F.col("__cv").alias("__wv"),
                F.col("__rel").alias("__wrel"),
                F.col("__score").alias("__wscore"),
            ),
            eager=False,
        )
        picks.append(
            win.select(
                "__qid", "__wcid", "__wrel", "__wscore",
                F.lit(step).alias("rank"),
            )
        )
        if step < int(k):
            # each round keys off the previous round's CHECKPOINTED
            # winner, so the k-branch union below re-reads stored
            # blocks instead of recomputing the greedy prefix k times
            j = state.join(win, on="__qid", how="left")
            state = j.select(
                "__qid",
                "__cid",
                "__rel",
                "__cv",
                F.when(
                    F.col("__wcid").isNull()
                    | (F.col("__cid") == F.col("__wcid")),
                    F.col("__ms"),
                )
                .otherwise(
                    F.greatest(
                        F.col("__ms"),
                        F.round(V.dot(F.col("__cv"), F.col("__wv")), 6),
                    )
                )
                .alias("__ms"),
                (
                    F.col("__sel")
                    | (
                        F.col("__wcid").isNotNull()
                        & (F.col("__cid") == F.col("__wcid"))
                    )
                ).alias("__sel"),
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("__qid").alias(query_id_col),
        F.col("__wcid").alias(id_col),
        F.col("__wrel").alias("cosine"),
        F.col("__wscore").alias("mmr_score"),
        F.col("rank").cast("long").alias("rank"),
    )
