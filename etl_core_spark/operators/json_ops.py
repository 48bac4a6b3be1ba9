"""JSON column expansion (beyond-reference convenience).

``json_expand``: declared top-level fields of a JSON string column
become typed columns via ONE ``from_json`` parse. The parse is
staged in its own projection (non-cheap + referenced once per
declared field), so CollapseProject cannot inline a separate parse
per output column — the same Catalyst contract the cast ladders use
(operators/type_conversion.py:_stage_convert); a plan test pins
``from_json`` to exactly one occurrence. Malformed JSON rows yield
NULL fields (from_json's PERMISSIVE default), matching the engine's
on_error='null' conversion posture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_core_spark.operators.base import OperatorConfigError, bind_operator
from etl_core_spark.schema import Schema


@bind_operator("json_expand")
def json_expand(
    df: DataFrame,
    json_col: str,
    fields: list[dict],
    drop_source: bool = False,
) -> DataFrame:
    """fields: ``[{name, data_type}]`` (top-level JSON keys)."""
    if not fields:
        raise OperatorConfigError("json_expand requires non-empty 'fields'")
    struct = Schema.from_dict({"fields": fields}).to_struct_type()
    tmp = f"__jx_{json_col}"
    out = df.withColumn(tmp, F.from_json(F.col(json_col), struct))
    replaces_source = any(f.name == json_col for f in struct.fields)
    for f in struct.fields:
        out = out.withColumn(f.name, F.col(f"{tmp}.{f.name}"))
    out = out.drop(tmp)
    # when an extracted field is NAMED like the source column, the
    # withColumn above already replaced the source — dropping the name
    # now would delete the freshly extracted field, not the raw JSON
    return out.drop(json_col) if drop_source and not replaces_source else out
