"""Group-by aggregation operator.

Parity with the reference aggregation component
(``src/etl_core/components/data_operations/aggregation/
aggregation_component.py:25-175``, ops enum ``types.py:9-19``, pandas
implementation ``receivers/.../aggregation/aggregation_receiver.py``):

- config: ``group_by: [dotted paths]``,
  ``aggregations: [{src, op, dest}]`` with
  op ∈ {count,sum,min,max,mean,median,std,nunique}; ``src='*'`` with
  op=count is the group row count.
- empty group_by ⇒ global aggregation (the reference fakes this with
  a constant key — ``aggregation_receiver.py:70-84``; Spark's
  ``df.agg`` is native).
- null group keys are kept (pandas ``dropna=False`` ⇔ Spark default).
- ``std`` is sample stddev (pandas ddof=1 ⇔ ``stddev_samp``).
- ``median`` is the exact interpolated median (pandas ⇔ ``F.median``).

Scale notes: sum/min/max/count/mean are partial-aggregatable — Spark
does map-side combine before the shuffle automatically. ``median`` and
``nunique`` are the expensive ones (full shuffle of values per group);
``approx_*`` variants are exposed as separate ops (beyond-reference)
for the 100 TB path: ``approx_median``, ``approx_nunique``.
"""

from __future__ import annotations

import dataclasses
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_core_spark.operators.base import Operator, OperatorConfigError, PortMap, register_operator

_AGG_FUNCS: dict[str, Callable[[str], Column]] = {
    "count": lambda src: F.count(src),
    "sum": lambda src: F.sum(src),
    "min": lambda src: F.min(src),
    "max": lambda src: F.max(src),
    "mean": lambda src: F.avg(src),
    "median": lambda src: F.median(src),
    "std": lambda src: F.stddev_samp(src),
    "nunique": lambda src: F.countDistinct(src),
    # beyond-reference: sketch-based variants for the 100 TB path
    "approx_median": lambda src: F.percentile_approx(src, 0.5),
    "approx_nunique": lambda src: F.approx_count_distinct(src),
    # beyond-reference: the rest of the SQL-standard set (all
    # map-side-combinable except collect_set, whose state is
    # value-set-sized — bounded-domain columns only at scale)
    "var": lambda src: F.var_samp(src),
    "skewness": lambda src: F.skewness(src),
    "kurtosis": lambda src: F.kurtosis(src),
    "any": lambda src: F.max(F.col(src).cast("boolean")),
    "all": lambda src: F.min(F.col(src).cast("boolean")),
    "mode": lambda src: F.mode(src),  # tie winner is engine-chosen —
    # certified only on tie-free columns (documented)
    "collect_set": lambda src: F.array_sort(F.collect_set(src)),
}


def _names_fields(schema: T.StructType, path: str) -> bool:
    """True when each dot-separated part of ``path`` is the exact name
    of a struct field, and no other field of that struct has the same
    name in another case: such a path resolves whether or not
    ``spark.sql.caseSensitive`` is set. Backticks quote in Spark's
    name parser, so a path with one is never judged here."""
    if "`" in path:
        return False
    dtype: T.DataType = schema
    for part in path.split("."):
        if not isinstance(dtype, T.StructType):
            return False
        same = [f for f in dtype.fields if f.name.lower() == part.lower()]
        if len(same) != 1 or same[0].name != part:
            return False
        dtype = same[0].dataType
    return True


@dataclasses.dataclass
class AggSpec:
    src: str
    op: str
    dest: str

    def __post_init__(self) -> None:
        if self.op not in _AGG_FUNCS:
            raise OperatorConfigError(
                f"unknown aggregation op {self.op!r}; known: {sorted(_AGG_FUNCS)}"
            )
        if self.src == "*" and self.op != "count":
            raise OperatorConfigError("src='*' only valid with op='count'")
        if not self.dest:
            raise OperatorConfigError("aggregation requires a dest name")

    def to_column(self) -> Column:
        if self.src == "*":
            # group size incl. null values (reference
            # aggregation_receiver.py:113-126 uses grouped.size())
            return F.count(F.lit(1)).alias(self.dest)
        return _AGG_FUNCS[self.op](self.src).alias(self.dest)


@register_operator("aggregation")
class AggregationOperator(Operator):
    in_ports = ("in",)
    out_ports = ("out",)

    def validate_config(self) -> None:
        aggs = self.config.get("aggregations")
        if not aggs:
            raise OperatorConfigError("aggregation requires 'aggregations'")
        self.group_by: list[str] = list(self.config.get("group_by") or [])
        self.aggregations = [
            a if isinstance(a, AggSpec) else AggSpec(**a) for a in aggs
        ]
        dests = [a.dest for a in self.aggregations]
        dupes = {d for d in dests if dests.count(d) > 1}
        if dupes:
            raise OperatorConfigError(f"duplicate agg dest names: {sorted(dupes)}")

    def apply(self, inputs: PortMap) -> PortMap:
        df = self.single_input(inputs)
        self._prevalidate(df)
        specs = self.aggregations
        # mixing a sort-based aggregate (median) with a distinct
        # aggregate (nunique) in ONE agg forces Spark's Expand
        # strategy — every input row duplicated per distinct group and
        # the median re-evaluated over the expanded stream (measured
        # 4× the cost of either alone). Split that mix into two
        # single-purpose aggregations and join the per-group results
        # (tiny: one row per group, AQE broadcasts it).
        has_median = any(a.op == "median" for a in specs)
        distinct_specs = [a for a in specs if a.op == "nunique"]
        if has_median and distinct_specs:
            rest = [a for a in specs if a.op != "nunique"]
            left = self._aggregate(df, rest)
            right = self._aggregate(df, distinct_specs)
            if self.group_by:
                cond = None
                for k in self.group_by:
                    c = left[k].eqNullSafe(right[k])  # null keys are groups
                    cond = c if cond is None else cond & c
                joined = left.join(right, cond, "inner").select(
                    *[left[k] for k in self.group_by],
                    *[left[a.dest] for a in rest],
                    *[right[a.dest] for a in distinct_specs],
                )
            else:
                joined = left.crossJoin(right)
            # restore the configured column order
            out = joined.select(*self.group_by, *[a.dest for a in specs])
        else:
            out = self._aggregate(df, specs)
        return {"out": out}

    def _aggregate(self, df: DataFrame, specs: list[AggSpec]) -> DataFrame:
        cols = [a.to_column() for a in specs]
        if self.group_by:
            return df.groupBy(*[F.col(g) for g in self.group_by]).agg(*cols)
        return df.agg(*cols)

    def _prevalidate(self, df: DataFrame) -> None:
        # ≈ reference schema prevalidation aggregation_component.py:69-90.
        # A path that spells out fields of the schema needs no
        # analysis; any other (a map key, a qualifier, another case,
        # a missing column) is left to Spark's analyzer
        schema = df.schema
        for path in self.group_by + [a.src for a in self.aggregations if a.src != "*"]:
            if _names_fields(schema, path):
                continue
            try:
                df.select(path)
            except Exception as exc:  # AnalysisException
                raise OperatorConfigError(
                    f"aggregation references unknown column path {path!r}"
                ) from exc
