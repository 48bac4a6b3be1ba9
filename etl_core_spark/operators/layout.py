"""Data-layout operator: expose the write-time z-order machinery
(functions/layout.py, already used by the parquet sink's
``zorder_by`` write option) as a first-class plan node, so a job can
compute the Morton key, inspect it, range-cluster on it, and hand the
result to ANY sink — not only the parquet writer.

Why an operator at all: at 100 TB the clustered write is a pipeline
stage of its own (compute key → range exchange → sorted write), and
pipelines want to meter/validate between stages. The math lives in
ONE place (functions/layout.py ``zvalue``); this file only routes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_core_spark.functions.layout import zvalue
from etl_core_spark.operators.base import OperatorConfigError, bind_operator, ensure


def _check_zorder_key(cols, method, **_) -> None:
    ensure(1 <= len(cols) <= 4, "zorder_key requires 1-4 'cols'")
    ensure(method in ("range", "quantile"), "zorder_key method must be range/quantile")


@bind_operator("zorder_key", check=_check_zorder_key)
def zorder_key(
    df: DataFrame,
    cols: list[str],
    method: str = "range",
    out_col: str = "zvalue",
    partitions: int | None = None,
) -> DataFrame:
    """Append the Morton (Z-order) key of ``cols`` as ``out_col``;
    with ``partitions`` set, also range-partition + sort on it — the
    write-ready clustered layout (what Delta's OPTIMIZE ZORDER BY
    produces). ``method="range"`` is closed-form deterministic
    min-max bucketing (the oracle-certified path); ``"quantile"``
    normalizes by approximate CDF for skewed dimensions (sketch-based
    by contract — see functions/layout.py).

    Scale shape: one tiny min/max (or percentile sketch) aggregate
    broadcast back + a narrow shift/mask codegen projection; the only
    wide operation is the optional range exchange the layout exists
    to produce. No UDFs anywhere.
    """
    if not cols:
        raise OperatorConfigError("zorder_key requires cols")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise OperatorConfigError(f"zorder_key: columns not found: {missing}")
    if not 1 <= len(cols) <= 4:
        raise OperatorConfigError("zorder_key supports 1-4 columns")
    if method not in ("range", "quantile"):
        raise OperatorConfigError(
            f"zorder_key method must be range/quantile, got {method!r}"
        )
    keyed = zvalue(df, list(cols), method=method).withColumnRenamed(
        "__z", out_col
    )
    if partitions:
        return keyed.repartitionByRange(
            int(partitions), F.col(out_col)
        ).sortWithinPartitions(out_col)
    return keyed
