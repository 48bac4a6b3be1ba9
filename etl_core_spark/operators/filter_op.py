"""Filter operator: route rows to `pass` / `fail` ports by a rule tree.

Parity with the reference filter component
(``src/etl_core/components/data_operations/filter/filter_component.py:22-91``,
ports pass/fail at ``:33-37``; mask semantics in
``receivers/.../filter/filter_helper.py:57-214``).

Null handling matches pandas masks: a comparison on a null value is
False, so null rows land on the `fail` port (never dropped).

Scale note: both ports share one scan — Spark caches nothing here,
but Catalyst pushes `cond` down to the source for the `pass` branch
and `NOT cond` for `fail`; when both ports are consumed the source is
read twice, which is still cheaper than materializing (and at 100 TB
a .persist() would be worse than the second columnar scan unless the
upstream is expensive — the builder exposes `cache=True` for that
case).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import functions as F

from etl_core_spark.functions.rules import Rule, compile_rule, rule_from_dict
from etl_core_spark.operators.base import Operator, PortMap, register_operator


@register_operator("filter")
class FilterOperator(Operator):
    in_ports = ("in",)
    out_ports = ("pass", "fail")

    def validate_config(self) -> None:
        rule = self.config.get("rule")
        if rule is None:
            from etl_core_spark.operators.base import OperatorConfigError

            raise OperatorConfigError("filter requires a 'rule'")
        self.rule: Rule = rule_from_dict(rule) if isinstance(rule, dict) else rule
        self.cache: bool = bool(self.config.get("cache", False))

    def apply(self, inputs: PortMap) -> PortMap:
        df = self.single_input(inputs)
        if self.cache:
            # owned persist, not a bare .persist(): in a long-lived
            # session (the HTTP API) an ownerless cache accumulates
            # until executor eviction; persist_intermediate hands it
            # to the run scope like every other operator cache
            from etl_core_spark.session import persist_intermediate

            df = persist_intermediate(df)
        cond = compile_rule(self.rule)
        # pass: a bare filter treats NULL as false already, and the
        # un-wrapped predicate stays pushdown-eligible (a top-level
        # coalesce() would block parquet PushedFilters entirely).
        # fail: needs the explicit null→False coalesce so null-valued
        # rows route to `fail` instead of being dropped from both.
        return {
            "pass": df.filter(cond),
            "fail": df.filter(~F.coalesce(cond, F.lit(False))),
        }
