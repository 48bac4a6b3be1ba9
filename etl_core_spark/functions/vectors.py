"""Vector/embedding column expressions (beyond-reference).

Embeddings are ``array<float>`` columns; all arithmetic uses Spark
higher-order functions (``zip_with`` / ``aggregate``) so dot products
and norms run inside codegen — no Python in the per-row path. For
very wide vectors a Pandas-UDF/numpy path would win on SIMD; at
d=64 the JVM expression path avoids Arrow transfer entirely and is
the right default.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def unit(a: Column) -> Column:
    """Vector scaled to unit length (zero vector stays zero).

    Pre-normalizing each side once turns per-pair cosine into a bare
    dot product — at n×m pair scale this removes two norm scans +
    sqrt per pair (≈3× less arithmetic on the quadratic stage).

    PERF: the norm sub-expression ends up INSIDE the ``transform``
    lambda, and lambda bodies are re-evaluated per element — this
    single-Column form is O(dim²) per row. Fine for one-off scoring;
    for normalizing a whole relation use ``select_unit`` (staged
    two-projection form, O(dim) per row)."""
    n = norm(a)
    return F.when(n > 0, F.transform(a, lambda x: x.cast("double") / n)).otherwise(
        F.transform(a, lambda x: x.cast("double"))
    )


def unit_given_norm(a: Column, n: Column) -> Column:
    """``unit`` against an already-materialized norm column."""
    return F.when(n > 0, F.transform(a, lambda x: x.cast("double") / n)).otherwise(
        F.transform(a, lambda x: x.cast("double"))
    )


def select_unit(df, id_expr_alias, vec_col: str, out_alias: str):
    """``df.select(id AS alias, unit(vec) AS out_alias)`` in the
    staged O(dim)-per-row shape: the norm is materialized as its own
    projection and the division lambda references that scalar.
    ``norm()`` is non-cheap and referenced twice (the zero guard and
    the lambda body), so CollapseProject keeps the staging projection
    separate instead of inlining the aggregate back into the lambda —
    the same Catalyst contract the cast ladders rely on
    (operators/type_conversion.py:_stage_convert). At dim=64 this is
    a ~60× cut in normalization arithmetic; the previous inlined form
    re-ran the norm aggregate for every element."""
    id_expr, id_alias = id_expr_alias
    tmp_v, tmp_n = "__su_vec", "__su_norm"
    return (
        df.select(id_expr.alias(id_alias), F.col(vec_col).alias(tmp_v))
        .withColumn(tmp_n, norm(F.col(tmp_v)))
        .select(
            F.col(id_alias),
            unit_given_norm(F.col(tmp_v), F.col(tmp_n)).alias(out_alias),
        )
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: sign bit per plane packed into
    a long. ``planes`` are fixed (seeded) driver-side constants, so
    the bucket computation is a deterministic narrow map — the basis
    of the shuffle-free ANN candidate join."""
    bits = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bits.append(
            F.when(dot(vec, plane) >= 0, F.lit(2 ** i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out
