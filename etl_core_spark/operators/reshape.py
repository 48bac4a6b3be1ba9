"""Reshaping operators: pivot (long → wide) and unpivot (wide → long).

``pivot`` REQUIRES the value list in config. Spark can infer pivot
values with an extra distinct scan, but at 100 TB that is (a) a full
shuffle before the real work and (b) an unbounded output schema — a
single rogue value mints a column. A declared value list keeps the
plan single-pass and the schema a function of the config, matching
the engine's derived-output-schema contract (schema.py).

``unpivot`` is a zero-shuffle Expand projection (each input row emits
one row per listed column) — the melted shape feeds the profile
operator's consumers, long-format sinks, and ML feature tables.
NULL values are KEPT (parity with SQL UNPIVOT INCLUDE NULLS; dropping
them silently changes row counts and is the kind of surprise a
dirty corpus turns into a bug report).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_core_spark.operators.base import OperatorConfigError, bind_operator

_PIVOT_AGGS = {
    "count": lambda c: F.count(c if c != "*" else F.lit(1)),
    "sum": lambda c: F.sum(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "mean": lambda c: F.avg(c),
}


@bind_operator("pivot")
def pivot(
    df: DataFrame,
    group_by: list[str],
    pivot_col: str,
    values: list[str],
    agg: str = "count",
    agg_col: str = "*",
    fill: float | int | None = 0,
) -> DataFrame:
    if agg not in _PIVOT_AGGS:
        raise OperatorConfigError(f"pivot agg must be one of {sorted(_PIVOT_AGGS)}")
    if not values:
        raise OperatorConfigError(
            "pivot requires explicit 'values' (inference costs an extra "
            "distinct scan and unbounds the output schema)"
        )
    out = (
        df.groupBy(*group_by)
        .pivot(pivot_col, list(values))
        .agg(_PIVOT_AGGS[agg](agg_col))
    )
    if fill is not None:
        out = out.na.fill(fill, list(values))
    return out


@bind_operator("unpivot")
def unpivot(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    var_name: str = "metric",
    value_name: str = "value",
) -> DataFrame:
    if not value_cols:
        raise OperatorConfigError("unpivot requires 'value_cols'")
    missing = [c for c in id_cols + value_cols if c not in df.columns]
    if missing:
        raise OperatorConfigError(f"unpivot: unknown columns {missing}")
    return df.unpivot(list(id_cols), list(value_cols), var_name, value_name)
