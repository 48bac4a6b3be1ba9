"""Type-conversion cast ladders.

Capability parity with the reference's type_conversion component
(``src/etl_core/components/data_operations/type_conversion/
type_conversion_component.py:57-145`` and
``receivers/.../type_conversion/type_conversion_helper.py``):

- Rule: ``{column_path, target, on_error}``; paths support dots into
  structs and ``*`` for array elements (``payload.items.*.price``).
- ``on_error='raise'``: the first unconvertible value fails the
  build (the operator probes the rule's failure flag).
- ``on_error='null'``: unconvertible → NULL (``try_cast``).
- ``on_error='skip'``: the reference keeps the original value,
  producing a mixed-dtype pandas column — impossible in Spark's typed
  model. Documented deviation (SURVEY.md §7.4): 'skip' here keeps the
  original value only when it round-trips, else NULL, and the column
  is typed to the target; callers needing the untouched originals
  take them from the type_conversion operator's ``errors`` port.

Semantics tables reproduced from the reference
(``type_conversion_helper.py:51-53,92-144``):

- string→bool: true/t/1/yes/y → True; false/f/0/no/n → False
  (case/whitespace-insensitive); ''/na/nan/null/none → NULL.
- →int: bool is forbidden; floats only if integral; strings parsed
  with float fallback, again only if integral.
- null-marker strings ('', na, nan, null, none) → NULL for all
  numeric/bool targets.

All ladders compile to ``F.when`` chains + ``try_cast`` — pure
Catalyst expressions, codegen'd, no Python per row.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_core_spark.functions.literals import isin

TRUE_STRINGS = ("true", "t", "1", "yes", "y")
FALSE_STRINGS = ("false", "f", "0", "no", "n")
NULL_STRINGS = ("", "na", "nan", "null", "none")

_TARGET_SPARK: dict[str, T.DataType] = {
    "string": T.StringType(),
    "integer": T.LongType(),
    "float": T.DoubleType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
}

ON_ERROR = ("raise", "null", "skip")

# Int64 bounds as exact doubles: a double d is representable as a long
# iff -2^63 <= d < 2^63 (Long.MaxValue = 2^63-1 itself is not a double;
# the nearest double >= it is exactly 2^63, which overflows). Without
# this guard Spark's non-ANSI cast SATURATES out-of-range doubles to
# Long.Max/MinValue — silent corruption (reference's Python path keeps
# arbitrary-precision ints, so its unrepresentable-in-int64 values must
# become NULL/error here, reference type_conversion_helper.py:92-114).
_INT64_MIN_D = float(-(2**63))  # exactly representable
_INT64_MAX_EXCL_D = float(2**63)  # first double above Long.MaxValue


class CastError(ValueError):
    pass


@dataclasses.dataclass
class CastRule:
    column_path: str
    target: str
    on_error: str = "raise"

    def __post_init__(self) -> None:
        if self.target not in _TARGET_SPARK:
            raise CastError(f"unknown cast target: {self.target!r}")
        if self.on_error not in ON_ERROR:
            raise CastError(f"unknown on_error policy: {self.on_error!r}")


def _normalized_string(col: Column) -> Column:
    return F.lower(F.trim(col.cast("string")))


def _null_marker(col: Column) -> Column:
    return isin(_normalized_string(col), NULL_STRINGS)


def _integral_double_to_long(d: Column) -> Column:
    """double → long: integral AND inside int64 range, else NULL.

    The range guard prevents non-ANSI cast saturation (1e19 → Long.Max).
    """
    ok = (
        d.isNotNull()
        & (d == F.floor(d))
        & (d >= F.lit(_INT64_MIN_D))
        & (d < F.lit(_INT64_MAX_EXCL_D))
    )
    return F.when(ok, d.cast("long")).otherwise(F.lit(None).cast("long"))


def _convert_stages(col, source_type, target):
    """Build the conversion as (prep, finish).

    ``prep`` (a Column or None) is an intermediate worth materializing
    exactly once in its own projection; ``finish`` maps the
    materialized intermediate (or the original column when prep is
    None) to the final value. The split exists for performance:
    ``_integral_double_to_long`` references its input ~6×, and if that
    input is itself an expensive parse (try_cast of a JSON extract),
    Catalyst would otherwise duplicate the parse into every reference.
    Materializing ``prep`` as a separate non-cheap, multi-referenced
    projection keeps CollapseProject from inlining it, so the parse
    runs once per row. ``_convert`` composes the stages for callers
    that need a single expression.
    """
    if target == "string":
        return None, lambda c: c.cast("string")

    if target == "boolean":
        if isinstance(source_type, T.BooleanType):
            return None, lambda c: c
        if isinstance(source_type, (T.StringType,)):
            def finish_bool(s: Column) -> Column:
                # s is the normalized string; NULL iff the source was
                return (
                    F.when(
                        s.isNull() | isin(s, NULL_STRINGS),
                        F.lit(None).cast("boolean"),
                    )
                    .when(isin(s, TRUE_STRINGS), F.lit(True))
                    .when(isin(s, FALSE_STRINGS), F.lit(False))
                    .otherwise(F.lit(None).cast("boolean"))
                )

            return _normalized_string(col), finish_bool
        if isinstance(source_type, T.NumericType):
            # numeric→bool: 0/1 only (reference helper:126-144)
            def finish_num_bool(c: Column) -> Column:
                return (
                    F.when(c.isNull(), F.lit(None).cast("boolean"))
                    .when(c == 1, F.lit(True))
                    .when(c == 0, F.lit(False))
                    .otherwise(F.lit(None).cast("boolean"))
                )

            return None, finish_num_bool
        return None, lambda c: F.lit(None).cast("boolean")

    if target == "integer":
        if isinstance(source_type, T.BooleanType):
            # bool→int forbidden (reference helper:92-96)
            return None, lambda c: F.lit(None).cast("long")
        if isinstance(source_type, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            return None, lambda c: c.cast("long")
        if isinstance(source_type, (T.DoubleType, T.FloatType, T.DecimalType)):
            # floats accepted only if integral (reference helper:97-105)
            return col.cast("double"), _integral_double_to_long
        # strings: parse via double fallback, require integral
        parsed = F.when(_null_marker(col), F.lit(None).cast("double")).otherwise(
            F.trim(col.cast("string")).try_cast("double")
        )
        return parsed, _integral_double_to_long

    if target == "float":
        if isinstance(source_type, T.BooleanType):
            return None, lambda c: F.lit(None).cast("double")
        if isinstance(source_type, T.NumericType):
            return None, lambda c: c.cast("double")

        def finish_float(c: Column) -> Column:
            return F.when(_null_marker(c), F.lit(None).cast("double")).otherwise(
                F.trim(c.cast("string")).try_cast("double")
            )

        return None, finish_float

    if target in ("timestamp", "date"):
        return None, lambda c: c.try_cast(target)

    raise CastError(f"unreachable target {target!r}")


def _convert(col: Column, source_type: T.DataType, target: str) -> Column:
    """Build the conversion expression; unconvertible values → NULL.

    Single-expression composition of ``_convert_stages``, for
    nested-path rebuilds where a staged projection isn't available.
    The on_error policy is layered on top by the type_conversion
    operator.
    """
    prep, finish = _convert_stages(col, source_type, target)
    return finish(prep) if prep is not None else finish(col)


def _resolve_type(schema: T.StructType, path: str) -> T.DataType:
    parts = path.split(".")
    current: T.DataType = schema
    for part in parts:
        if isinstance(current, T.StructType):
            match = next((f for f in current.fields if f.name == part), None)
            if match is None:
                raise CastError(f"column path '{path}' not found (missing '{part}')")
            current = match.dataType
        elif isinstance(current, T.ArrayType) and part == "*":
            current = current.elementType
        else:
            raise CastError(f"cannot descend into {current} at '{part}' for path '{path}'")
    return current
