"""Market-basket association rules (beyond-reference).

Frequent item-pair mining with support / confidence / lift — the
classic co-occurrence analytics the A-priori family solves (Agrawal
& Srikant 1994): "customers who bought A also bought B" on order
baskets, co-occurring tags/domains/entities on document corpora,
template phrase pairs for boilerplate discovery. The reference
engine has no counterpart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_core_spark.operators.base import OperatorConfigError, bind_operator, ensure


def _check_assoc_rules(min_support_count, max_basket_size, **_) -> None:
    ensure(min_support_count >= 1, "assoc_rules min_support_count must be >= 1")
    ensure(
        max_basket_size is None or max_basket_size >= 2,
        "assoc_rules max_basket_size must be >= 2",
    )


@bind_operator("assoc_rules", check=_check_assoc_rules)
def assoc_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support_count: int = 2,
    max_basket_size: int | None = 10_000,
    quantize: int = 9,
) -> DataFrame:
    """Frequent unordered item pairs with the standard rule metrics
    (Agrawal & Srikant 1994) → one row per pair ``(antecedent <
    consequent)``::

        support        = count(A,B) / n_baskets
        confidence_ab  = count(A,B) / count(A)   (A -> B)
        confidence_ba  = count(A,B) / count(B)   (B -> A)
        lift           = count(A,B) * n_baskets / (count(A)*count(B))

    Duplicate (basket, item) observations collapse first (presence
    semantics); all counts are exact integers, so the engine and any
    oracle agree bit-for-bit on them, and each ratio is ONE double
    division over exact DECIMAL products, floor-quantized.

    Scale design: pair generation inside a basket is quadratic in
    basket size — the A-priori downward-closure prune runs FIRST
    (items below ``min_support_count`` cannot appear in a frequent
    pair, so they drop before pairing; on a heavy-tailed item
    distribution this removes most of the long tail), then a loud
    ``max_basket_size`` existence probe rejects degenerate baskets
    that would still fan out quadratically (the ``theil_sen``
    max_points discipline — re-key or raise the support floor;
    ``None`` skips the probe — one fewer eager job — for callers
    whose baskets are known-bounded).
    Plan shape: two group aggregates + one basket-keyed self-join +
    one pair aggregate + two item-keyed joins for the marginals;
    n_baskets rides as a broadcast one-row aggregate. No windows, no
    driver-sized collects.
    """
    if not basket_col or not item_col:
        raise OperatorConfigError(
            "assoc_rules requires basket_col and item_col"
        )
    if int(min_support_count) < 1:
        raise OperatorConfigError(
            "assoc_rules min_support_count must be >= 1"
        )
    if max_basket_size is not None and int(max_basket_size) < 2:
        raise OperatorConfigError(
            "assoc_rules max_basket_size must be >= 2"
        )
    from etl_core_spark.session import persist_intermediate

    q = float(10 ** int(quantize))
    dec = "decimal(38,0)"
    # the deduped observation relation feeds THREE consumers
    # (n_baskets, item counts, the pruned pairing relation) — persist
    # it once or the distinct shuffle repeats per consumer
    obs = persist_intermediate(
        df.select(
            F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
        )
        .where(F.col("__b").isNotNull() & F.col("__i").isNotNull())
        .distinct()
    )
    n_baskets = obs.select(
        F.countDistinct("__b").alias("__n")
    )
    item_cnt = persist_intermediate(
        obs.groupBy("__i")
        .agg(F.count(F.lit(1)).alias("__ci"))
        .where(F.col("__ci") >= int(min_support_count))
    )
    # pruned is consumed by the oversized-basket probe (groupBy __b)
    # and BOTH sides of the pair self-join (on __b) — cache it
    # PRE-PARTITIONED on the basket key (r14, guide §2.4, the graph
    # loops' keyed-persist discipline; this is the
    # in-session form of "bucket the basket key" from the r13 note).
    # At cluster scale the self-join plans as SMJ and the cached
    # layout satisfies both sides' required distribution: one upfront
    # exchange of |pruned| replaces two at the join plus the probe's.
    # At bench scale AQE broadcasts the 6 MB side and the layout is
    # timing-neutral. Counts are exact integers, so results are
    # placement-independent bit-for-bit.
    pruned = persist_intermediate(
        obs.join(item_cnt.select("__i"), on="__i"), key="__b"
    )
    # loud quadratic guard AFTER the A-priori prune: one existence
    # probe on the first offending basket, actionable message
    oversized = (
        pruned.groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__sz"))
        .where(F.col("__sz") > int(max_basket_size))
        .take(1)
    ) if max_basket_size is not None else []
    if oversized:
        # the run scope releases the abandoned caches on the way out
        raise OperatorConfigError(
            f"assoc_rules: basket {oversized[0]['__b']!r} still has "
            f"{oversized[0]['__sz']} frequent items after the support "
            f"prune (max_basket_size={int(max_basket_size)}) — pair "
            "fan-out would be quadratic; raise min_support_count, "
            "raise max_basket_size, or split the basket key"
        )
    pairs = (
        pruned.alias("x")
        .join(pruned.alias("y"), F.col("x.__b") == F.col("y.__b"))
        .where(F.col("x.__i") < F.col("y.__i"))
        .groupBy(
            F.col("x.__i").alias("__a"), F.col("y.__i").alias("__c")
        )
        .agg(F.count(F.lit(1)).alias("__cab"))
        .where(F.col("__cab") >= int(min_support_count))
    )
    ca = item_cnt.select(F.col("__i").alias("__a"), F.col("__ci").alias("__ca"))
    cb = item_cnt.select(F.col("__i").alias("__c"), F.col("__ci").alias("__cb"))
    joined = pairs.join(ca, on="__a").join(cb, on="__c").crossJoin(
        F.broadcast(n_baskets)
    )
    cab = F.col("__cab").cast(dec)
    nb = F.col("__n").cast(dec)
    ratio = lambda num, den: (  # noqa: E731
        F.floor(num.cast("double") / den.cast("double") * F.lit(q)) / F.lit(q)
    )
    return joined.select(
        F.col("__a").alias("antecedent"),
        F.col("__c").alias("consequent"),
        F.col("__cab").cast("long").alias("pair_count"),
        F.col("__ca").cast("long").alias("count_a"),
        F.col("__cb").cast("long").alias("count_b"),
        ratio(cab, nb).alias("support"),
        ratio(cab, F.col("__ca").cast(dec)).alias("confidence_ab"),
        ratio(cab, F.col("__cb").cast(dec)).alias("confidence_ba"),
        ratio(
            cab * nb, F.col("__ca").cast(dec) * F.col("__cb").cast(dec)
        ).alias("lift"),
    )
