"""Type conversion operator.

Parity with the reference type_conversion component
(``src/etl_core/components/data_operations/type_conversion/
type_conversion_component.py:57-145``; semantics tables and the
``*`` array-path handling in
``receivers/.../type_conversion/type_conversion_helper.py:26-277``).

Each rule's cast ladder is compiled once, in config order, into one
staged frame, and all three uses read that compile:

- ``out`` takes each column's last converted value, in the input's
  column order;
- ``errors`` keeps the rows where some top-level rule failed, with
  their original columns. A rule failed on a row when the value it
  received is non-null and not a null marker, yet converted to NULL;
- an ``on_error='raise'`` rule probes its own failure flag at build
  time and raises ``CastError`` with the first offending value.

A path named by several rules chains: each rule converts the value
the previous rule produced, and its failure flag judges that value.
With rules ``integer`` then ``boolean``, ``"1.0"`` becomes ``True``
and is no error, while ``"2"`` (an integer, but no boolean) is one.

Paths: ``a.b`` descends into structs, ``a.items.*.price`` converts
each array element's field. Struct rebuilds use ``withField`` and
array rebuilds use ``F.transform`` — no explode/regroup shuffle, the
conversion stays a narrow map. Nested and ``*`` paths take no part in
``errors`` or the raise check: an element's failure is not
row-addressable.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_core_spark.functions import casts
from etl_core_spark.functions.casts import CastError, CastRule
from etl_core_spark.operators.base import Operator, OperatorConfigError, PortMap, register_operator


def _stage_convert(df: DataFrame, value: Column, src_type: T.DataType, target: str, out_name: str) -> DataFrame:
    """Add ``value`` converted to ``target`` as column ``out_name`` via
    a two-projection plan: the parse intermediate is materialized once
    as its own (non-cheap, multi-referenced) projection, so
    CollapseProject cannot inline it into every reference of the
    finishing ladder. The intermediate stays on the frame as
    ``<out_name>_prep``."""
    prep, finish = casts._convert_stages(value, src_type, target)
    if prep is None:
        return df.withColumn(out_name, finish(value))
    tmp = f"{out_name}_prep"
    return df.withColumn(tmp, prep).withColumn(out_name, finish(F.col(tmp)))


def _rebuild(col: Column, dtype: T.DataType, rest: list[str], target: str) -> Column:
    """Recursively rebuild struct/array columns, converting the leaf.
    The path was resolved against ``dtype`` already."""
    if not rest:
        return casts._convert(col, dtype, target)
    head, tail = rest[0], rest[1:]
    if isinstance(dtype, T.ArrayType):  # head is "*"
        return F.transform(col, lambda x: _rebuild(x, dtype.elementType, tail, target))
    return col.withField(head, _rebuild(col.getField(head), dtype[head].dataType, tail, target))


def _with_leaf(dtype: T.DataType, parts: list[str], leaf: T.DataType) -> T.DataType:
    """``dtype`` with the type at the (already resolved) path ``parts``
    replaced by ``leaf``: the schema a rule leaves behind, tracked
    without asking Spark."""
    if not parts:
        return leaf
    head, tail = parts[0], parts[1:]
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_with_leaf(dtype.elementType, tail, leaf), dtype.containsNull)
    return T.StructType([
        T.StructField(f.name, _with_leaf(f.dataType, tail, leaf), f.nullable) if f.name == head else f
        for f in dtype.fields
    ])


@register_operator("type_conversion")
class TypeConversionOperator(Operator):
    """Out ports:

    - ``out``: converted rows (all policies).
    - ``errors``: the ORIGINAL (pre-conversion) rows where any rule
      failed to convert a real value. This is the engine's answer to
      the reference's ``on_error='skip'`` mixed-dtype columns
      (type_conversion_helper.py:162,262-277) — Spark columns are
      typed, so instead of keeping originals inline, the originals
      route to a dedicated port (SURVEY.md §7.4 deviation, narrowed).
    """

    in_ports = ("in",)
    out_ports = ("out", "errors")

    def validate_config(self) -> None:
        rules = self.config.get("rules")
        if not rules:
            raise OperatorConfigError("type_conversion requires 'rules'")
        self.rules = [r if isinstance(r, CastRule) else CastRule(**r) for r in rules]

    def apply(self, inputs: PortMap) -> PortMap:
        df = self.single_input(inputs)
        schema = df.schema
        staged = df
        latest: dict[str, str] = {}  # column -> staged column holding its latest value
        internal: list[str] = []
        flags: list[Column] = []
        for i, rule in enumerate(self.rules):
            parts = rule.column_path.split(".")
            name = parts[0]
            src_type = casts._resolve_type(schema, rule.column_path)
            value = F.col(latest.get(name, name))
            conv = f"__tc_{i}"
            if len(parts) > 1:
                staged = staged.withColumn(conv, _rebuild(value, schema[name].dataType, parts[1:], rule.target))
            else:
                staged = _stage_convert(staged, value, src_type, rule.target, conv)
                internal.append(f"{conv}_prep")
                flag = value.isNotNull() & ~casts._null_marker(value) & F.col(conv).isNull()
                flags.append(flag)
                if rule.on_error == "raise":
                    # fails fast with the first offending value
                    # (≈ reference helper:149-162)
                    bad = staged.filter(flag).select(value.cast("string").alias("v")).limit(1).collect()
                    if bad:
                        raise CastError(
                            f"type_conversion(on_error=raise): value {bad[0]['v']!r} in "
                            f"'{rule.column_path}' is not convertible to {rule.target}"
                        )
            schema = _with_leaf(schema, parts, casts._TARGET_SPARK[rule.target])
            latest[name] = conv
            internal.append(conv)
        out = staged.withColumns({c: F.col(v) for c, v in latest.items()}).drop(*internal)
        errors = (
            staged.filter(functools.reduce(operator.or_, flags)).drop(*internal)
            if flags
            else df.limit(0)
        )
        return {"out": out, "errors": errors}
