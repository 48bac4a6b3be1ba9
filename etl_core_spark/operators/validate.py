"""Schema / payload validation operator.

Parity with the reference's runtime payload validation
(``src/etl_core/components/wiring/validation.py:133-235``): required
columns present, no unknown extras (strict mode,
``utils/common_helpers.py:161-179``), non-nullable fields contain no
nulls, ENUM fields stay inside their declared domain.

Structural checks (columns/extras) run at plan-build time — free.
Row-level checks (nulls, enum domains) compile to ONE boolean Column;
rows route to `valid` / `invalid` ports (the reference raises on the
first bad row; routing is the distributed-friendly superset — a
`mode='raise'` option reproduces fail-fast via a limit-1 probe).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_core_spark.functions.literals import isin
from etl_core_spark.operators.base import (
    Operator,
    OperatorConfigError,
    PortMap,
    bind_operator,
    ensure,
    register_operator,
)
from etl_core_spark.schema import DataType, FieldDef, Schema


class ValidationError(ValueError):
    pass


def _field_checks(
    fd: FieldDef, path_prefix: str = "", parent: Column | None = None
) -> list[tuple[str, Column]]:
    """(description, is_valid_column) pairs for one field subtree.

    Checks on NESTED children are gated on the parent struct being
    present: with a NULLABLE parent p and a non-nullable child p.c, a
    row with p = NULL is VALID (the schema explicitly allows the
    whole struct to be absent) — ungated, ``p.c IS NOT NULL``
    evaluates false through the NULL parent and misroutes the row to
    the invalid port. An immediate-parent gate covers deeper
    ancestors too (a NULL grandparent nulls the parent)."""
    path = f"{path_prefix}{fd.name}"
    col = F.col(path)

    def gate(check: Column) -> Column:
        return check if parent is None else (parent.isNull() | check)

    checks: list[tuple[str, Column]] = []
    if not fd.nullable:
        checks.append((f"{path} not null", gate(col.isNotNull())))
    if fd.data_type == DataType.ENUM:
        assert fd.enum_values is not None
        checks.append(
            (f"{path} in enum", col.isNull() | isin(col, fd.enum_values))
        )
    if fd.data_type == DataType.OBJECT and fd.children:
        for child in fd.children:
            checks.extend(
                _field_checks(child, path_prefix=f"{path}.", parent=col)
            )
    return checks


def structural_check(df: DataFrame, schema: Schema, strict: bool = True) -> None:
    expected = {f.name for f in schema.fields}
    actual = set(df.columns)
    missing = sorted(expected - actual)
    if missing:
        raise ValidationError(f"missing required columns: {missing}")
    if strict:
        extra = sorted(actual - expected)
        if extra:
            raise ValidationError(f"unknown extra columns: {extra}")


def validity_column(schema: Schema) -> tuple[Column, list[str]]:
    checks = []
    for fd in schema.fields:
        checks.extend(_field_checks(fd))
    if not checks:
        return F.lit(True), []
    cond = checks[0][1]
    for _, c in checks[1:]:
        cond = cond & c
    return cond, [d for d, _ in checks]


@register_operator("validate")
class ValidateOperator(Operator):
    """Config: ``schema`` (reference-shaped field list), ``strict``
    (reject unknown columns, default True), ``mode`` ∈
    {route (default), raise}."""

    in_ports = ("in",)
    out_ports = ("valid", "invalid")

    def validate_config(self) -> None:
        s = self.config.get("schema")
        if s is None:
            raise OperatorConfigError("validate requires 'schema'")
        self.schema = s if isinstance(s, Schema) else Schema.from_dict(s)
        self.strict = bool(self.config.get("strict", True))
        self.mode = self.config.get("mode", "route")
        if self.mode not in ("route", "raise"):
            raise OperatorConfigError(f"unknown validate mode {self.mode!r}")

    def apply(self, inputs: PortMap) -> PortMap:
        df = self.single_input(inputs)
        structural_check(df, self.schema, self.strict)
        cond, descriptions = validity_column(self.schema)
        if self.mode == "raise":
            bad = df.filter(~F.coalesce(cond, F.lit(False))).limit(1).collect()
            if bad:
                raise ValidationError(
                    f"validation failed (checks: {descriptions}); "
                    f"first bad row: {bad[0].asDict()}"
                )
            return {"valid": df, "invalid": df.limit(0)}
        ok = F.coalesce(cond, F.lit(False))
        return {"valid": df.filter(ok), "invalid": df.filter(~ok)}


def _check_k_anonymize(k, mode, **_) -> None:
    ensure(k >= 1, "k_anonymize requires k >= 1")
    ensure(mode in ("drop", "flag"), "k_anonymize mode must be drop/flag")


@bind_operator("k_anonymize", check=_check_k_anonymize)
def k_anonymize(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
    mode: str = "drop",
    out_col: str = "k_anonymous",
) -> DataFrame:
    """k-anonymity suppression (Sweeney 2002): a row is k-anonymous
    when at least ``k`` rows share its full quasi-identifier
    combination — smaller equivalence classes re-identify
    individuals by linkage, so they are suppressed (``mode="drop"``)
    or flagged (``mode="flag"``) before a dataset leaves the
    trust boundary. The release-gate companion to PII redaction
    (functions/text.py): redaction scrubs direct identifiers,
    k-anonymity bounds what the remaining quasi-identifiers can
    leak in combination.

    NULL quasi-values form their own equivalence class (engine
    NULL-keeps rule — a NULL zip code is itself a linkable value).
    Generalization (coarsening values until classes reach k) is the
    caller's upstream step: compose with histogram bucketing /
    type_conversion, then gate here.

    Scale shape: ONE map-side-combinable count per equivalence class
    + ONE keyed join-back (AQE-sized; the class table is |distinct
    combos| rows, usually broadcastable) — the big side shuffles at
    most once and only for the join. Row-preserving in flag mode.
    """
    if not quasi_cols:
        raise OperatorConfigError("k_anonymize requires quasi_cols")
    missing = [c for c in quasi_cols if c not in df.columns]
    if missing:
        raise OperatorConfigError(
            f"k_anonymize: columns not found: {missing}"
        )
    if int(k) < 1:
        raise OperatorConfigError("k_anonymize requires k >= 1")
    if mode not in ("drop", "flag"):
        raise OperatorConfigError(
            f"k_anonymize mode must be drop/flag, got {mode!r}"
        )
    g = list(quasi_cols)
    classes = df.groupBy(*g).agg(F.count(F.lit(1)).alias("__cls_n"))
    cond = None
    for c in g:
        eq = F.col(f"__l_{c}").eqNullSafe(F.col(f"__r_{c}"))
        cond = eq if cond is None else (cond & eq)
    left = df.select(
        *[F.col(c) for c in df.columns],
        *[F.col(c).alias(f"__l_{c}") for c in g],
    )
    right = classes.select(
        *[F.col(c).alias(f"__r_{c}") for c in g], "__cls_n"
    )
    joined = left.join(right, on=cond, how="left").drop(
        *[f"__l_{c}" for c in g], *[f"__r_{c}" for c in g]
    )
    ok = F.col("__cls_n") >= int(k)
    if mode == "flag":
        return joined.withColumn(out_col, ok).drop("__cls_n")
    return joined.where(ok).drop("__cls_n")


def _check_l_diversity(mode, **_) -> None:
    ensure(mode in ("drop", "flag"), "l_diversity mode must be drop/flag")


@bind_operator("l_diversity", check=_check_l_diversity)
def l_diversity(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 2,
    mode: str = "drop",
    out_col: str = "l_diverse",
) -> DataFrame:
    """Distinct l-diversity (Machanavajjhala et al. 2007): a
    quasi-identifier equivalence class is safe only if it contains at
    least ``l`` DISTINCT sensitive values — the gap k-anonymity
    leaves open (a class of 50 rows that all share one diagnosis is
    k-anonymous and still discloses it). ``mode="drop"`` suppresses
    rows in under-diverse classes; ``"flag"`` appends ``out_col``.

    NULL quasi-values form their own class (the k_anonymize rule); a
    NULL sensitive value counts as one distinct value (it is a
    disclosure-relevant state of its own).

    Scale shape: one two-level aggregate — groupBy(quasi, sensitive)
    then groupBy(quasi) — both map-side combinable (the substring-
    dedup pattern; no count-distinct Expand), then ONE null-safe
    keyed join-back. Row-preserving in flag mode.
    """
    if not quasi_cols:
        raise OperatorConfigError("l_diversity requires quasi_cols")
    if not sensitive_col:
        raise OperatorConfigError("l_diversity requires sensitive_col")
    missing = [
        c for c in [*quasi_cols, sensitive_col] if c not in df.columns
    ]
    if missing:
        raise OperatorConfigError(
            f"l_diversity: columns not found: {missing}"
        )
    if int(l) < 1:
        raise OperatorConfigError("l_diversity requires l >= 1")
    if mode not in ("drop", "flag"):
        raise OperatorConfigError(
            f"l_diversity mode must be drop/flag, got {mode!r}"
        )
    g = list(quasi_cols)
    fine = df.groupBy(*g, sensitive_col).agg(F.count(F.lit(1)).alias("__n"))
    classes = fine.groupBy(*g).agg(F.count(F.lit(1)).alias("__ndv"))
    cond = None
    for c in g:
        eq = F.col(f"__l_{c}").eqNullSafe(F.col(f"__r_{c}"))
        cond = eq if cond is None else (cond & eq)
    left = df.select(
        *[F.col(c) for c in df.columns],
        *[F.col(c).alias(f"__l_{c}") for c in g],
    )
    right = classes.select(
        *[F.col(c).alias(f"__r_{c}") for c in g], "__ndv"
    )
    joined = left.join(right, on=cond, how="left").drop(
        *[f"__l_{c}" for c in g], *[f"__r_{c}" for c in g]
    )
    ok = F.col("__ndv") >= int(l)
    if mode == "flag":
        return joined.withColumn(out_col, ok).drop("__ndv")
    return joined.where(ok).drop("__ndv")
