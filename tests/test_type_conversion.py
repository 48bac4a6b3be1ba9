import pytest

from etl_core_spark.functions.casts import CastError
from etl_core_spark.operators.base import OperatorConfigError, get_operator


def tc(**cfg):
    return get_operator("type_conversion")(**cfg)


def test_string_to_bool_table(spark):
    df = spark.createDataFrame(
        [("true",), ("T",), ("1",), ("yes",), ("Y",),
         ("false",), ("F",), ("0",), ("no",), ("N",),
         ("",), ("na",), ("NaN",), ("null",), ("none",), ("maybe",)],
        "v string",
    )
    out = tc(rules=[{"column_path": "v", "target": "boolean", "on_error": "null"}]).apply(
        {"in": df}
    )["out"]
    vals = [r["v"] for r in out.collect()]
    assert vals[:5] == [True] * 5
    assert vals[5:10] == [False] * 5
    assert vals[10:] == [None] * 6  # null markers + unconvertible


def test_string_to_int_float_fallback(spark):
    df = spark.createDataFrame([("3",), ("3.0",), ("3.5",), ("x",), ("",)], "v string")
    out = tc(rules=[{"column_path": "v", "target": "integer", "on_error": "null"}]).apply(
        {"in": df}
    )["out"]
    assert [r["v"] for r in out.collect()] == [3, 3, None, None, None]
    assert dict(out.dtypes)["v"] == "bigint"


def test_float_to_int_integral_only(spark):
    df = spark.createDataFrame([(3.0,), (3.7,), (None,)], "v double")
    out = tc(rules=[{"column_path": "v", "target": "integer", "on_error": "null"}]).apply(
        {"in": df}
    )["out"]
    assert [r["v"] for r in out.collect()] == [3, None, None]


def test_int_cast_out_of_int64_range_nulls_not_saturates(spark):
    # Non-ANSI Spark cast saturates 1e19 to Long.MaxValue; the ladder
    # must yield NULL instead (and 'raise' must detect it).
    df = spark.createDataFrame(
        [("1e19",), ("-1e19",), ("9223372036854775807",),  # parses to 2^63 as double → out
         ("-9223372036854775808",),  # exactly -2^63 as double → in range
         ("1e18",), ("123",)],
        "v string",
    )
    out = tc(rules=[{"column_path": "v", "target": "integer", "on_error": "null"}]).apply(
        {"in": df}
    )["out"]
    assert [r["v"] for r in out.collect()] == [
        None, None, None, -(2**63), 10**18, 123
    ]

    dbl = spark.createDataFrame([(1e19,), (-1e19,), (1e18,)], "v double")
    out2 = tc(rules=[{"column_path": "v", "target": "integer", "on_error": "null"}]).apply(
        {"in": dbl}
    )["out"]
    assert [r["v"] for r in out2.collect()] == [None, None, 10**18]

    op = tc(rules=[{"column_path": "v", "target": "integer", "on_error": "raise"}])
    with pytest.raises(CastError, match="not convertible"):
        op.apply({"in": spark.createDataFrame([("1e19",)], "v string")})


def test_bool_to_int_forbidden(spark):
    df = spark.createDataFrame([(True,), (False,)], "v boolean")
    out = tc(rules=[{"column_path": "v", "target": "integer", "on_error": "null"}]).apply(
        {"in": df}
    )["out"]
    assert [r["v"] for r in out.collect()] == [None, None]


def test_on_error_raise(spark):
    df = spark.createDataFrame([("3",), ("x",)], "v string")
    op = tc(rules=[{"column_path": "v", "target": "integer", "on_error": "raise"}])
    with pytest.raises(CastError, match="not convertible"):
        op.apply({"in": df})


def test_on_error_raise_passes_when_clean(spark):
    df = spark.createDataFrame([("3",), ("4",), ("",)], "v string")
    out = tc(rules=[{"column_path": "v", "target": "integer", "on_error": "raise"}]).apply(
        {"in": df}
    )["out"]
    # null-marker strings are legal nulls, not conversion errors
    assert [r["v"] for r in out.collect()] == [3, 4, None]


def test_repeated_path_chains_and_judges_each_rule_on_its_input(spark):
    # the second rule converts (and is judged on) the first rule's
    # output: "1.0" -> 1 -> True is no error, "2" -> 2 is no boolean
    df = spark.createDataFrame([("1.0",), ("2",), ("x",), (None,)], "v string")
    ports = tc(
        rules=[
            {"column_path": "v", "target": "integer", "on_error": "null"},
            {"column_path": "v", "target": "boolean", "on_error": "null"},
        ]
    ).apply({"in": df})
    assert [r["v"] for r in ports["out"].collect()] == [True, None, None, None]
    assert sorted(r["v"] for r in ports["errors"].collect()) == ["2", "x"]
    assert ports["errors"].columns == ["v"]


def test_repeated_nested_path_sees_the_converted_type(spark):
    # the second rule must see the first rule's output type (string);
    # judged on the stale boolean type it would pass the strings through
    df = spark.createDataFrame([([(True,), (False,)],)], "items array<struct<b:boolean>>")
    out = tc(
        rules=[
            {"column_path": "items.*.b", "target": "string", "on_error": "null"},
            {"column_path": "items.*.b", "target": "boolean", "on_error": "null"},
        ]
    ).apply({"in": df})["out"]
    assert out.schema.simpleString() == "struct<items:array<struct<b:boolean>>>"
    assert [x["b"] for x in out.collect()[0]["items"]] == [True, False]


def test_each_top_level_rule_compiles_its_ladder_once(spark, monkeypatch):
    from etl_core_spark.functions import casts

    calls = []
    real = casts._convert_stages

    def spy(col, source_type, target):
        calls.append(target)
        return real(col, source_type, target)

    monkeypatch.setattr(casts, "_convert_stages", spy)
    df = spark.createDataFrame([("3", "yes", 1)], "n string, b string, k long")
    ports = tc(
        rules=[
            {"column_path": "n", "target": "integer", "on_error": "raise"},
            {"column_path": "b", "target": "boolean", "on_error": "null"},
        ]
    ).apply({"in": df})
    assert calls == ["integer", "boolean"]
    assert ports["out"].columns == ["n", "b", "k"]


def test_nested_struct_path(spark):
    df = spark.createDataFrame([((("5",),),)], "payload struct<inner:struct<v:string>>")
    out = tc(rules=[{"column_path": "payload.inner.v", "target": "integer"}]).apply(
        {"in": df}
    )["out"]
    assert out.collect()[0]["payload"]["inner"]["v"] == 5
    assert "bigint" in out.schema["payload"].dataType["inner"].dataType["v"].dataType.simpleString()


def test_array_star_path(spark):
    df = spark.createDataFrame(
        [(["1", "2", "x"],)], "items array<string>"
    )
    out = tc(rules=[{"column_path": "items.*", "target": "integer", "on_error": "null"}]).apply(
        {"in": df}
    )["out"]
    assert out.collect()[0]["items"] == [1, 2, None]


def test_array_of_struct_star_path(spark):
    df = spark.createDataFrame(
        [([("3.5",), ("4",)],)], "items array<struct<price:string>>"
    )
    out = tc(
        rules=[{"column_path": "items.*.price", "target": "float", "on_error": "null"}]
    ).apply({"in": df})["out"]
    prices = [x["price"] for x in out.collect()[0]["items"]]
    assert prices == [3.5, 4.0]


def test_config_validation():
    with pytest.raises(OperatorConfigError):
        tc(rules=[])
    with pytest.raises(CastError):
        tc(rules=[{"column_path": "v", "target": "complex128"}])
    with pytest.raises(CastError):
        tc(rules=[{"column_path": "v", "target": "integer", "on_error": "explode"}])


def test_json_expand_malformed_and_drop_source(spark):
    from etl_core_spark.operators.base import OperatorConfigError, get_operator
    import pytest

    df = spark.createDataFrame(
        [(1, '{"k": 7}'), (2, "nope"), (3, None)], "id long, props string"
    )
    out = get_operator("json_expand")(
        json_col="props",
        fields=[{"name": "k", "data_type": "integer"}],
        drop_source=True,
    ).apply({"in": df})["out"]
    assert out.columns == ["id", "k"]
    got = {r["id"]: r["k"] for r in out.collect()}
    assert got == {1: 7, 2: None, 3: None}  # malformed/null -> NULL field
    with pytest.raises(OperatorConfigError, match="fields"):
        get_operator("json_expand")(json_col="props")
