"""Generate a ~K×-scaled copy of the sf0.1 documents table for the
scale soak (scripts/scale_soak.py).

Replication rules, chosen so the WORK scales linearly with K and the
soak's ≈linear-cost assertion is meaningful:

- ids are salted per replica (``doc_id + k * 10_000_000``) — no key
  collisions across replicas;
- every TOKEN is suffixed with the replica index (``word`` →
  ``word_k``), so the shingle spaces of different replicas are
  DISJOINT: near-dup structure inside each replica is preserved
  exactly, but no cross-replica candidate pairs exist. Plain
  replication would make every base pair a K² cross-replica pair
  family — the output itself would grow quadratically and "linear
  per-row cost" would be unachievable by construction;
- a ``skew_key`` column lands ~50% of all rows on one hot key
  (key 0), the rest spread uniformly — the deliberately-skewed
  aggregation/join input the soak's skew family uses.

Usage: python scripts/gen_scaled.py [K] [src_dir] [out_dir]
Defaults: K=10, src=/root/testdata/sf0.1, out=/tmp/spark_graft_scaled
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def build_scaled_documents(spark, src_dir: str, k: int):
    from pyspark.sql import functions as F

    from etl_core_spark.tables import load_table

    docs = load_table(spark, src_dir, "documents")
    reps = None
    for i in range(k):
        r = docs.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            # suffix every token with the replica index -> disjoint
            # shingle spaces between replicas (see module docstring)
            F.regexp_replace(F.col("text"), r"(\S+)", f"$1_{i}").alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        reps = r if reps is None else reps.unionByName(r)
    return reps.withColumn(
        "skew_key",
        F.when(F.xxhash64("doc_id") % 2 == 0, F.lit(0)).otherwise(
            F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(1000))
        ),
    )


def build_scaled_embeddings(spark, src_dir: str, k: int):
    """K×-replicated embeddings with per-replica CIRCULAR ROTATION of
    the vector (shift by the replica index). Within each replica the
    pairwise-cosine structure is preserved exactly (rotation is an
    isometry); across replicas the cosine of two unit gaussians
    rotated differently is ~N(0, 1/d) — at d=64 a 0.4 threshold is a
    3.2σ event, so cross-replica near-dup pairs stay negligible and
    the soak's linear-work assertion is meaningful (the embedding
    analog of the token-suffix disjoint-shingle rule above)."""
    from pyspark.sql import functions as F

    from etl_core_spark.tables import load_table

    emb = load_table(spark, src_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    reps = None
    for i in range(k):
        shift = i % dim
        vec = (
            F.col("embedding")
            if shift == 0
            else F.concat(
                F.slice(F.col("embedding"), shift + 1, dim - shift),
                F.slice(F.col("embedding"), 1, shift),
            )
        )
        r = emb.select(
            (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
            vec.alias("embedding"),
        )
        reps = r if reps is None else reps.unionByName(r)
    return reps


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = sys.argv[3] if len(sys.argv) > 3 else "/tmp/spark_graft_scaled"

    from etl_core_spark.session import get_spark

    src, out = os.path.abspath(src), os.path.abspath(out)
    # Spark's Python workers import etl_core_spark from the working directory
    os.chdir(ROOT)
    spark = get_spark(app_name="gen_scaled")
    scaled = build_scaled_documents(spark, src, k)
    path = os.path.join(out, "documents.parquet")
    scaled.repartition(32).write.mode("overwrite").parquet(path)
    n = spark.read.parquet(path).count()
    print(f"wrote {n} rows ({k}x) to {path}")


if __name__ == "__main__":
    main()
