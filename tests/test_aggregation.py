import pytest

from etl_core_spark.operators.base import OperatorConfigError, get_operator
from tests.conftest import assert_df_equal


def agg(**cfg):
    return get_operator("aggregation")(**cfg)


def test_all_ops_vs_oracle(tables, duck):
    op = agg(
        group_by=["l_returnflag"],
        aggregations=[
            {"src": "*", "op": "count", "dest": "n_rows"},
            {"src": "l_quantity", "op": "sum", "dest": "sum_qty"},
            {"src": "l_quantity", "op": "min", "dest": "min_qty"},
            {"src": "l_quantity", "op": "max", "dest": "max_qty"},
            {"src": "l_quantity", "op": "mean", "dest": "avg_qty"},
            {"src": "l_quantity", "op": "median", "dest": "med_qty"},
            {"src": "l_quantity", "op": "std", "dest": "std_qty"},
            {"src": "l_partkey", "op": "nunique", "dest": "n_parts"},
        ],
    )
    out = op.apply({"in": tables["lineitem"]})["out"]
    want = duck.execute(
        """
        SELECT l_returnflag, count(*), sum(l_quantity), min(l_quantity),
               max(l_quantity), avg(l_quantity), median(l_quantity),
               stddev_samp(l_quantity), count(DISTINCT l_partkey)
        FROM lineitem GROUP BY l_returnflag
        """
    ).fetchall()
    assert_df_equal(out, want, approx=1e-6)


def test_global_aggregation(tables, duck):
    op = agg(
        group_by=[],
        aggregations=[
            {"src": "*", "op": "count", "dest": "n"},
            {"src": "o_totalprice", "op": "mean", "dest": "avg_price"},
        ],
    )
    out = op.apply({"in": tables["orders"]})["out"]
    want = duck.execute("SELECT count(*), avg(o_totalprice) FROM orders").fetchall()
    assert_df_equal(out, want, approx=1e-6)


def test_null_group_keys_kept(spark):
    df = spark.createDataFrame(
        [("a", 1), (None, 2), (None, 3)], "k string, v int"
    )
    out = agg(
        group_by=["k"],
        aggregations=[{"src": "v", "op": "sum", "dest": "s"}],
    ).apply({"in": df})["out"]
    rows = {r["k"]: r["s"] for r in out.collect()}
    assert rows == {"a": 1, None: 5}


def test_count_star_counts_null_rows(spark):
    df = spark.createDataFrame([("a", None), ("a", 1)], "k string, v int")
    out = agg(
        group_by=["k"],
        aggregations=[
            {"src": "*", "op": "count", "dest": "n_rows"},
            {"src": "v", "op": "count", "dest": "n_v"},
        ],
    ).apply({"in": df})["out"].collect()[0]
    assert out["n_rows"] == 2  # grouped.size() semantics
    assert out["n_v"] == 1  # count(col) skips nulls


def test_config_validation(tables):
    with pytest.raises(OperatorConfigError):
        agg(group_by=["x"], aggregations=[])
    with pytest.raises(OperatorConfigError):
        agg(group_by=[], aggregations=[{"src": "*", "op": "sum", "dest": "d"}])
    with pytest.raises(OperatorConfigError):
        agg(
            group_by=[],
            aggregations=[
                {"src": "a", "op": "sum", "dest": "d"},
                {"src": "b", "op": "sum", "dest": "d"},
            ],
        )
    op = agg(group_by=["nope"], aggregations=[{"src": "*", "op": "count", "dest": "n"}])
    with pytest.raises(OperatorConfigError):
        op.apply({"in": tables["orders"]})


def test_column_paths_checked_against_the_schema(spark):
    """Paths that spell out schema fields pass without an analysis;
    any other path is judged by Spark's analyzer, so a case variant
    or a map key still passes and a missing field is still a config
    error naming the path."""
    df = spark.createDataFrame(
        [("g", (1.0, 2.0), {"x": 3.0})],
        "k string, s struct<a: double, B: double>, m map<string, double>",
    )

    def run(group_by, src):
        return agg(
            group_by=group_by, aggregations=[{"src": src, "op": "sum", "dest": "t"}]
        ).apply({"in": df})["out"]

    assert run(["k"], "s.a").collect() == [("g", 1.0)]
    assert run(["K"], "S.b").collect() == [("g", 2.0)]
    assert run([], "m.x").collect() == [(3.0,)]
    for group_by, src, bad in ((["k"], "s.nope", "s.nope"), (["k.x"], "s.a", "k.x")):
        with pytest.raises(OperatorConfigError, match=f"unknown column path '{bad}'"):
            run(group_by, src)


def test_extended_agg_ops(spark):
    """r8 additions: var/skewness/kurtosis (population moments — the
    Spark convention), any/all over boolean casts, mode, sorted
    collect_set; numpy differential for the moments."""
    import numpy as np

    from etl_core_spark.operators.base import get_operator

    vals = [1.0, 2.0, 2.5, 7.0, 9.5, 3.25, 7.0]
    rows = [("g", v, v > 3, "x" if i % 3 == 0 else "y")
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, v double, b boolean, c string")
    out = get_operator("aggregation")(
        group_by=["k"],
        aggregations=[
            {"src": "v", "op": "var", "dest": "var_v"},
            {"src": "v", "op": "skewness", "dest": "skew_v"},
            {"src": "v", "op": "kurtosis", "dest": "kurt_v"},
            {"src": "b", "op": "any", "dest": "any_b"},
            {"src": "b", "op": "all", "dest": "all_b"},
            {"src": "v", "op": "mode", "dest": "mode_v"},
            {"src": "c", "op": "collect_set", "dest": "cs"},
        ],
    ).apply({"in": df})["out"].collect()[0]
    x = np.array(vals)
    m2 = ((x - x.mean()) ** 2).mean()
    assert out["var_v"] == pytest.approx(x.var(ddof=1))
    assert out["skew_v"] == pytest.approx(((x - x.mean()) ** 3).mean() / m2 ** 1.5)
    assert out["kurt_v"] == pytest.approx(((x - x.mean()) ** 4).mean() / m2 ** 2 - 3)
    assert out["any_b"] is True and out["all_b"] is False
    assert out["mode_v"] == 7.0  # the only duplicated value
    assert out["cs"] == ["x", "y"]
