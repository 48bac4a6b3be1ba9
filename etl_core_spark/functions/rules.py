"""Boolean rule-tree → Column compiler.

Capability parity with the reference's filter rules
(``src/etl_core/components/data_operations/filter/comparison_rule.py:15-91``
and the pandas mask builder
``receivers/data_operations_receivers/filter/filter_helper.py:57-214``):

- Leaf: ``(column, operator, value)`` with operator in
  ``== != > < >= <= contains``.
- ``==`` with a list value is a membership test (→ ``isin``).
- ``contains`` is **case-insensitive**, literal (regex-escaped), and
  null-safe (null → False).
- Node: ``AND`` / ``OR`` over ≥1 sub-rules, ``NOT`` over exactly 1.

The reference hand-optimizes OR-of-equals into a single ``isin`` and
merges contains-regexes (``filter_helper.py:104-133``); here Catalyst's
``OptimizeIn`` and predicate simplification make those rewrites
redundant — the compiler stays a direct structural translation.
"""

from __future__ import annotations

import dataclasses
from typing import Any, Sequence, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_core_spark.functions.literals import isin

COMPARISON_OPERATORS = ("==", "!=", ">", "<", ">=", "<=", "contains")
LOGICAL_OPERATORS = ("AND", "OR", "NOT")


class RuleError(ValueError):
    """Invalid rule configuration."""


@dataclasses.dataclass
class ComparisonRule:
    column: str
    operator: str
    value: Any

    def __post_init__(self) -> None:
        if self.operator not in COMPARISON_OPERATORS:
            raise RuleError(f"unknown comparison operator: {self.operator!r}")
        if not self.column:
            raise RuleError("comparison rule requires a column")


@dataclasses.dataclass
class LogicalRule:
    operator: str
    rules: list["Rule"]

    def __post_init__(self) -> None:
        if self.operator not in LOGICAL_OPERATORS:
            raise RuleError(f"unknown logical operator: {self.operator!r}")
        if self.operator == "NOT" and len(self.rules) != 1:
            raise RuleError("NOT requires exactly one sub-rule")
        if self.operator in ("AND", "OR") and not self.rules:
            raise RuleError(f"{self.operator} requires at least one sub-rule")


Rule = Union[ComparisonRule, LogicalRule]


def rule_from_dict(d: dict[str, Any]) -> Rule:
    """Parse the reference-shaped rule JSON.

    Leaf: ``{"column": c, "operator": op, "value": v}``;
    node: ``{"operator": "AND"/"OR"/"NOT", "rules": [...]}``.
    """
    op = d.get("operator")
    if op in LOGICAL_OPERATORS:
        subs = d.get("rules") or ([d["rule"]] if "rule" in d else [])
        return LogicalRule(operator=op, rules=[rule_from_dict(s) for s in subs])
    return ComparisonRule(column=d["column"], operator=d["operator"], value=d.get("value"))


def compile_rule(rule: Rule) -> Column:
    """Compile a rule tree to one boolean Column expression.

    The expression is pure Catalyst — it participates in predicate
    pushdown (a rule on a parquet source column reaches the scan as a
    PushedFilter) and whole-stage codegen.
    """
    if isinstance(rule, LogicalRule):
        compiled = [compile_rule(r) for r in rule.rules]
        if rule.operator == "NOT":
            # null-safe NOT: the reference's pandas masks treat null
            # comparisons as False, so NOT(False) must be True.
            inner = F.coalesce(compiled[0], F.lit(False))
            return ~inner
        out = compiled[0]
        for c in compiled[1:]:
            out = (out & c) if rule.operator == "AND" else (out | c)
        return out

    col = F.col(rule.column)
    op, value = rule.operator, rule.value
    if op == "==":
        if isinstance(value, (list, tuple, set)):
            # list value ⇒ membership (reference filter_helper.py:72-73)
            return isin(col, value)
        if value is None:
            return col.isNull()
        return col == F.lit(value)
    if op == "!=":
        # pandas semantics: NaN != v is True, so nulls pass a != rule
        if isinstance(value, (list, tuple, set)):
            return ~isin(col, value) | col.isNull()
        if value is None:
            return col.isNotNull()
        return (col != F.lit(value)) | col.isNull()
    if op == "contains":
        # case-insensitive literal substring, null → False
        # (reference filter_helper.py:75-77: str.contains(re.escape(v),
        # case=False, na=False))
        return col.isNotNull() & F.upper(col.cast("string")).contains(
            str(value).upper()
        )
    if op == ">":
        return col > F.lit(value)
    if op == "<":
        return col < F.lit(value)
    if op == ">=":
        return col >= F.lit(value)
    if op == "<=":
        return col <= F.lit(value)
    raise RuleError(f"unreachable operator {op!r}")


def rule_to_sql(rule: Rule, dialect: str = "ansi") -> str:
    """Render the same rule tree as an ANSI-SQL boolean expression —
    used by the differential-test oracle so Spark and DuckDB evaluate
    identical semantics."""
    if isinstance(rule, LogicalRule):
        if rule.operator == "NOT":
            return f"(NOT COALESCE({rule_to_sql(rule.rules[0])}, FALSE))"
        glue = f" {rule.operator} "
        return "(" + glue.join(rule_to_sql(r) for r in rule.rules) + ")"
    col, op, v = rule.column, rule.operator, rule.value
    if op == "contains":
        lit = _sql_lit(str(v).upper())
        return f"(({col} IS NOT NULL) AND contains(upper(CAST({col} AS VARCHAR)), {lit}))"
    if op == "==":
        if isinstance(v, (list, tuple, set)):
            return f"({col} IN ({', '.join(_sql_lit(x) for x in v)}))"
        if v is None:
            return f"({col} IS NULL)"
        return f"({col} = {_sql_lit(v)})"
    if op == "!=":
        if isinstance(v, (list, tuple, set)):
            return (
                f"(({col} NOT IN ({', '.join(_sql_lit(x) for x in v)})) "
                f"OR {col} IS NULL)"
            )
        if v is None:
            return f"({col} IS NOT NULL)"
        return f"(({col} <> {_sql_lit(v)}) OR {col} IS NULL)"
    return f"({col} {op} {_sql_lit(v)})"


def _sql_lit(v: Any) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    s = str(v).replace("'", "''")
    return f"'{s}'"
