"""Skew-mitigation join (beyond-reference).

AQE's skew-join split (on by default in session.py) is the first
answer to hot keys, but it only rewrites sort-merge joins whose
skew is visible at shuffle time. ``salted_join`` is the explicit
fallback for the cases AQE can't touch: a probe side whose hot key
is *created* upstream in the same stage, plans forced to
shuffle-hash join, or clusters running without AQE. The salt is
DERIVED FROM DATA (xxhash64 of the full probe row), not from
``rand()`` — reruns, retries, and speculative tasks all agree, so
the join stays deterministic and exactly-once-safe.

Semantics: identical to the plain equi-join (pinned by the DuckDB
oracle row) — each probe row carries exactly one salt and matches
exactly the one matching replica of its build-side row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_core_spark.operators.base import OperatorConfigError, bind_operator


@bind_operator("salted_join", in_ports=("left", "right"))
def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "inner",
    salt_factor: int = 8,
    collapse_duplicates: bool = False,
) -> DataFrame:
    """Equi-join with the probe side's hot keys spread over
    ``salt_factor`` shuffle partitions.

    - ``left`` is the BIG/SKEWED probe side: it gains a deterministic
      salt in [0, salt_factor) hashed from the whole row, so the
      million rows of one hot key scatter across ``salt_factor``
      reducers instead of one straggler.
    - ``right`` is the build side: each row replicates
      ``salt_factor`` times (explode of a literal sequence — a narrow
      map), which multiplies the BUILD side's shuffle volume by the
      factor. That is the salting trade: pick the smaller relation as
      ``right`` and keep the factor modest (≈ executors-per-hot-key).

    ``how`` ∈ {inner, left}: the shapes where per-probe-row salting
    preserves exact join semantics (each left row joins only its own
    salt replica; unmatched left rows survive a left join unchanged).
    Right/full-outer would need the unmatched BUILD rows deduped
    across replicas — use the plain join there.

    LIMITATION of the row-hash salt: probe rows that are IDENTICAL
    tuples (common after projecting down to the join key) all hash to
    the same salt and do not spread. Layout-dependent salts (rand(),
    partition ids) would spread them but corrupt results under
    shuffle-retry recomputation — the reason the hash salt replaced
    them. The deterministic answer is ``collapse_duplicates=True``:
    identical probe rows pre-aggregate to one row + count (map-side
    combine — each mapper ships ONE partial per distinct row, so the
    hot row never travels in volume), the now-distinct rows join
    salted, and the count re-expands after. Exact bag semantics for
    inner AND left.
    """
    r = int(salt_factor)
    if r < 1:
        raise OperatorConfigError("salted_join salt_factor must be >= 1")
    if how not in ("inner", "left"):
        raise OperatorConfigError("salted_join supports inner/left")
    if not on:
        raise OperatorConfigError("salted_join requires join keys")
    missing = [c for c in on if c not in left.columns or c not in right.columns]
    if missing:
        raise OperatorConfigError(
            f"salted_join keys {missing} missing from an input"
        )
    if collapse_duplicates:
        cols = list(left.columns)
        collapsed = left.groupBy(*cols).agg(
            F.count(F.lit(1)).alias("__dup_n")
        )
        joined = salted_join(collapsed, right, list(on), how, r)
        return (
            joined.withColumn(
                "__dup_i",
                F.explode(F.sequence(F.lit(1), F.col("__dup_n"))),
            )
            .drop("__dup_n", "__dup_i")
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(r))
    l2 = left.withColumn("__salt", salt.cast("int"))
    r2 = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(r - 1)))
    )
    return l2.join(r2, on=list(on) + ["__salt"], how=how).drop("__salt")
