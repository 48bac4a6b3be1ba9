"""assoc_rules: A-priori pair mining with exact-count metrics."""

from __future__ import annotations

import math

import pytest

from etl_core_spark.operators.base import OperatorConfigError, get_operator


def _rules(spark, rows, **cfg):
    df = spark.createDataFrame(rows, "b int, i string")
    out = get_operator("assoc_rules")(
        basket_col="b", item_col="i", **cfg
    ).apply({"in": df})["out"]
    return {(r["antecedent"], r["consequent"]): r.asDict()
            for r in out.collect()}


BASKETS = [
    (1, "milk"), (1, "bread"), (1, "eggs"),
    (2, "milk"), (2, "bread"),
    (3, "milk"), (3, "eggs"),
    (4, "bread"), (4, "eggs"),
    (5, "milk"), (5, "bread"),
    (6, "beer"),
]


def test_assoc_rules_hand_check(spark):
    got = _rules(spark, BASKETS, min_support_count=2)
    assert set(got) == {("bread", "milk"), ("bread", "eggs"),
                        ("eggs", "milk")}
    bm = got[("bread", "milk")]
    # 3 of 6 baskets; count(bread)=4, count(milk)=4
    assert (bm["pair_count"], bm["count_a"], bm["count_b"]) == (3, 4, 4)
    assert bm["support"] == 0.5
    assert bm["confidence_ab"] == 0.75 and bm["confidence_ba"] == 0.75
    assert bm["lift"] == math.floor(3 * 6 / (4 * 4) * 1e9) / 1e9


def test_assoc_rules_matches_python_reference(spark):
    import itertools
    import random

    rng = random.Random(31)
    rows = []
    baskets: dict[int, set] = {}
    for b in range(40):
        items = set(rng.sample("abcdefghij", rng.randint(1, 5)))
        baskets[b] = items
        rows += [(b, i) for i in items]
        # duplicate observations must collapse (presence semantics)
        rows += [(b, i) for i in list(items)[:1]]
    got = _rules(spark, rows, min_support_count=3)
    n = len(baskets)
    cnt: dict[str, int] = {}
    for items in baskets.values():
        for i in items:
            cnt[i] = cnt.get(i, 0) + 1
    freq = {i for i, c in cnt.items() if c >= 3}
    pair: dict[tuple, int] = {}
    for items in baskets.values():
        for a, b in itertools.combinations(sorted(items & freq), 2):
            pair[(a, b)] = pair.get((a, b), 0) + 1
    ref = {}
    fq = lambda x: math.floor(x * 1e9) / 1e9  # noqa: E731
    for (a, b), cab in pair.items():
        if cab >= 3:
            ref[(a, b)] = {
                "antecedent": a, "consequent": b, "pair_count": cab,
                "count_a": cnt[a], "count_b": cnt[b],
                "support": fq(cab / n),
                "confidence_ab": fq(cab / cnt[a]),
                "confidence_ba": fq(cab / cnt[b]),
                "lift": fq(cab * n / (cnt[a] * cnt[b])),
            }
    assert got == ref


def test_assoc_rules_apriori_prune_drops_rare_items(spark):
    # "beer" appears once -> never paired even at min_support_count=1
    # applied to pairs only if the item floor were skipped; with the
    # A-priori floor it is pruned before pairing
    got = _rules(spark, BASKETS, min_support_count=2)
    assert not any("beer" in k for k in got)


def test_assoc_rules_oversized_basket_raises(spark):
    rows = [(1, f"i{j}") for j in range(30)]
    rows += [(2, f"i{j}") for j in range(30)]  # every item count 2
    with pytest.raises(OperatorConfigError, match="max_basket_size"):
        _rules(spark, rows, min_support_count=2, max_basket_size=10)
    # raising the floor above every count empties the relation loudly
    # -> no error, no rows
    assert _rules(spark, rows, min_support_count=3) == {}


def test_assoc_rules_probe_raise_unpersists(spark):
    """When the max_basket_size probe raises, the three persisted
    intermediates are released as the run scope unwinds — the
    abandoned plan must not pin cached partitions in a long-lived
    session (ADVICE r11)."""
    from etl_core_spark.session import run_scope

    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    rows = [(1, f"i{j}") for j in range(30)]
    rows += [(2, f"i{j}") for j in range(30)]
    with pytest.raises(OperatorConfigError, match="max_basket_size"):
        with run_scope():
            _rules(spark, rows, min_support_count=2, max_basket_size=10)
    assert cm.isEmpty()


def test_assoc_rules_validation(spark):
    with pytest.raises(OperatorConfigError):
        get_operator("assoc_rules")(item_col="i").validate_config()
    with pytest.raises(OperatorConfigError):
        get_operator("assoc_rules")(
            basket_col="b", item_col="i", min_support_count=0
        ).validate_config()
    with pytest.raises(OperatorConfigError):
        get_operator("assoc_rules")(
            basket_col="b", item_col="i", max_basket_size=1
        ).validate_config()


def test_assoc_rules_empty_and_single_item_inputs(spark):
    empty = spark.createDataFrame([], "b int, i string")
    out = get_operator("assoc_rules")(
        basket_col="b", item_col="i"
    ).apply({"in": empty})["out"]
    assert out.count() == 0
    # single-item baskets: no pairs, no error
    single = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "b int, i string"
    )
    out2 = get_operator("assoc_rules")(
        basket_col="b", item_col="i"
    ).apply({"in": single})["out"]
    assert out2.count() == 0


def test_assoc_rules_probe_opt_out(spark):
    """max_basket_size=None skips the eager guard probe (the
    theil_sen opt-out) — zero Spark jobs at plan-build time."""
    rows = [(1, f"i{j}") for j in range(30)]
    rows += [(2, f"i{j}") for j in range(30)]
    df = spark.createDataFrame(rows, "b int, i string")
    sc = spark.sparkContext
    group = "assoc_probe_optout"
    sc.setJobGroup(group, "assoc_rules without probe must be lazy")
    try:
        out = get_operator("assoc_rules")(
            basket_col="b", item_col="i", min_support_count=2,
            max_basket_size=None,
        ).apply({"in": df})["out"]
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    # and it still computes: 30 items all count 2 -> C(30,2) pairs
    assert out.count() == 435
