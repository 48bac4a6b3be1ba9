"""Expression-level building blocks.

Everything here compiles engine config (rule trees, cast rules,
text/vector ops) to ``pyspark.sql.Column`` expressions so the hot
path stays inside the JVM / whole-stage codegen. Python executes only
at plan-build time, never per row.
"""

from etl_core_spark.functions.rules import ComparisonRule, LogicalRule, Rule, compile_rule, rule_from_dict
from etl_core_spark.functions.casts import CastRule

__all__ = [
    "ComparisonRule",
    "LogicalRule",
    "Rule",
    "compile_rule",
    "rule_from_dict",
    "CastRule",
]
