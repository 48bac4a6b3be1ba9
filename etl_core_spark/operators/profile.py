"""Table profiling (beyond-reference): one-pass column statistics.

``profile`` answers "what is in this table" — row/null counts, NDV,
numeric range and mean, string length range — as a melted DataFrame
(one row per column), the shape a data-quality dashboard or a schema
drift monitor consumes.

Scale shape: ALL plain statistics for ALL columns come from ONE
aggregate pass (map-side combinable; the melt to rows is a
``stack`` projection over the single result row, not a per-column
scan). NDV is the special case:

- ``approx_ndv=True`` (default): ``approx_count_distinct`` rides in
  the SAME single pass — no extra scan, no shuffle amplification.
  This is the only sane default at 100 TB.
- ``approx_ndv=False``: exact ``count(DISTINCT c)`` for K columns
  makes Catalyst Expand the input K-fold before the shuffle (the
  same explosion operators/aggregation.py documents for nunique) —
  it runs as a second, separate aggregate so the cheap statistics
  never pay for it. Used by the oracle row, where exactness is the
  point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_core_spark.operators.base import OperatorConfigError, bind_operator

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


@bind_operator("profile")
def profile(
    df: DataFrame,
    columns: list[str] | None = None,
    approx_ndv: bool = True,
) -> DataFrame:
    """Melted per-column statistics: ``(column, n_rows, n_nulls, ndv,
    min_num, max_num, mean, min_str, max_str)``. Numeric-only stats
    are NULL for string columns and vice versa; ``mean`` is rounded
    to 6 dp for cross-engine comparability."""
    cols = list(columns) if columns else list(df.columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise OperatorConfigError(f"profile: unknown columns {missing}")

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        dt = df.schema[c].dataType
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nulls_{c}")
        )
        if isinstance(dt, _NUMERIC):
            aggs += [
                F.min(F.col(c)).cast("double").alias(f"__min_{c}"),
                F.max(F.col(c)).cast("double").alias(f"__max_{c}"),
                F.round(F.avg(F.col(c)), 6).alias(f"__mean_{c}"),
            ]
        elif isinstance(dt, T.StringType):
            aggs += [
                F.min(F.col(c)).alias(f"__smin_{c}"),
                F.max(F.col(c)).alias(f"__smax_{c}"),
            ]
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            # temporal range surfaces in the string slots, formatted
            # engine-neutrally (a raw cast's text form is dialect soup)
            fmt = "yyyy-MM-dd HH:mm:ss"
            aggs += [
                F.date_format(F.min(F.col(c)), fmt).alias(f"__smin_{c}"),
                F.date_format(F.max(F.col(c)), fmt).alias(f"__smax_{c}"),
            ]
        if approx_ndv:
            aggs.append(F.approx_count_distinct(c).alias(f"__ndv_{c}"))
    stats = df.agg(*aggs)

    if not approx_ndv:
        # exact NDV Expands the input K-fold — keep it out of the
        # cheap pass (see module docstring)
        ndv = df.agg(
            *[F.countDistinct(c).alias(f"__ndv_{c}") for c in cols]
        )
        stats = stats.crossJoin(F.broadcast(ndv))

    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    rows = []
    for c in cols:
        dt = df.schema[c].dataType
        is_num = isinstance(dt, _NUMERIC)
        is_str = isinstance(
            dt, (T.StringType, T.TimestampType, T.TimestampNTZType, T.DateType)
        )
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nulls_{c}").cast("long").alias("n_nulls"),
                F.col(f"__ndv_{c}").cast("long").alias("ndv"),
                (F.col(f"__min_{c}") if is_num else null_d).alias("min_num"),
                (F.col(f"__max_{c}") if is_num else null_d).alias("max_num"),
                (F.col(f"__mean_{c}") if is_num else null_d).alias("mean"),
                (F.col(f"__smin_{c}") if is_str else null_s).alias("min_str"),
                (F.col(f"__smax_{c}") if is_str else null_s).alias("max_str"),
            )
        )
    melted = stats.select(F.explode(F.array(*rows)).alias("__p"))
    return melted.select("__p.*")


@bind_operator("histogram")
def histogram(
    df: DataFrame,
    value_col: str,
    bins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Fixed-width histogram of a numeric column: one row per bin
    (ALL bins, empty ones included — a dashboard histogram with holes
    is a different chart) with inclusive-exclusive edges
    ``[lo_edge, hi_edge)``; the top bin additionally includes ``hi``
    so the maximum lands in-range.

    Bounds: explicit ``lo``/``hi`` clip NOTHING — out-of-range rows
    are dropped (documented; count them upstream with a filter if
    they matter). Omitted bounds come from the data via one min/max
    aggregate that rides the plan as a broadcast one-row cross join —
    no driver collect, no second scan scheduling barrier. NULL and
    NaN values are dropped. A constant column (lo == hi) degenerates
    to a single occupied bin 0 of zero width.

    Scale shape: bin assignment is a narrow codegen projection; the
    count is one map-side-combinable groupBy over ≤ ``bins`` keys;
    the bin spine (``spark.range(bins)``) left-joins the counts with
    the COUNTS side broadcast (≤ bins rows by construction). Edge
    arithmetic (``lo + i·width``, ``width = (hi−lo)/bins``) is a
    fixed IEEE expression tree, bit-identical in the SQL oracle.
    """
    if int(bins) < 1:
        raise OperatorConfigError("histogram bins must be >= 1")
    v = F.col(value_col).cast("double")
    vals = df.select(v.alias("__v")).where(
        F.col("__v").isNotNull() & ~F.isnan("__v")
    )
    if lo is None or hi is None:
        bounds = vals.agg(
            F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
        )
    else:
        bounds = vals.sparkSession.range(1).select(
            F.lit(float(lo)).alias("__lo"), F.lit(float(hi)).alias("__hi")
        )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(int(bins))
    raw_bin = F.floor((F.col("__v") - F.col("__lo")) / width)
    binned = (
        vals.crossJoin(F.broadcast(bounds))
        .where((F.col("__v") >= F.col("__lo")) & (F.col("__v") <= F.col("__hi")))
        .select(
            F.when(width == 0, F.lit(0))
            .otherwise(F.least(raw_bin, F.lit(int(bins) - 1)))
            .cast("long")
            .alias("bin")
        )
    )
    counts = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    spine = (
        df.sparkSession.range(int(bins))
        .select(F.col("id").alias("bin"))
        .crossJoin(F.broadcast(bounds))
    )
    return (
        spine.join(F.broadcast(counts), on="bin", how="left")
        .select(
            "bin",
            (F.col("__lo") + F.col("bin") * width).alias("lo_edge"),
            (F.col("__lo") + (F.col("bin") + 1) * width).alias("hi_edge"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
        .orderBy("bin")
    )


# Benford first-digit probabilities log10(1 + 1/d), d = 1..9, as
# repr'd double literals — the SAME strings are rendered into the
# Spark expression and any SQL oracle, so both engines fold the
# identical constants.
import math as _math

BENFORD_P = [_math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


@bind_operator("benford_deviation")
def benford_deviation(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    threshold: float | None = 15.507,
    quantize: int = 9,
) -> DataFrame:
    """Benford's-law first-digit conformance per group (Benford 1938;
    Nigrini's fraud/data-quality screen): naturally occurring
    positive amounts have first significant digit d with probability
    log10(1 + 1/d), and synthetic/corrupted/truncated feeds don't —
    a one-aggregate drift test for ingest pipelines, complementing
    ``ks_drift`` (distribution vs distribution) with distribution vs
    LAW.

    Emits per group: ``n`` (rows tested), ``chi2`` (Pearson statistic
    over the 9 digit bins, floor-quantized), ``mad`` (Nigrini's mean
    absolute deviation of digit shares), and ``alarm`` (chi2 >
    ``threshold``; default 15.507 = chi-square 0.95 critical value at
    8 degrees of freedom; None omits alarm values).

    Determinism pins: the first digit comes from the INTEGER cents
    string — ``substr(cast(floor(v*100 + 0.5) as bigint) as string),
    1, 1)`` — never from ``log10``, whose libm rounding at
    power-of-ten boundaries differs across engines; digit counts are
    exact integers, so shares and the fixed left-to-right chi2/mad
    sums replay identically anywhere. Rows with ``v*100 + 0.5 < 1``
    (non-positive or sub-cent) are excluded from the test.

    Scale shape: ONE map-side-combinable aggregate over conditional
    integer counts — no shuffle beyond the group-by, no UDF, no
    second pass.
    """
    if not value_col:
        raise OperatorConfigError("benford_deviation requires value_col")
    if threshold is not None and float(threshold) <= 0:
        raise OperatorConfigError("benford_deviation threshold must be > 0")
    gcols = list(group_cols or [])
    q = float(10 ** int(quantize))

    digit = F.substring(
        F.floor(F.col(value_col).cast("double") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .cast("string"),
        1,
        1,
    )
    base = df.where(
        F.col(value_col).isNotNull()
        & (
            F.floor(F.col(value_col).cast("double") * F.lit(100.0) + F.lit(0.5))
            >= F.lit(1)
        )
    ).select(*gcols, digit.alias("__d"))

    counts = [
        F.sum(F.when(F.col("__d") == str(d), 1).otherwise(0)).alias(f"__c{d}")
        for d in range(1, 10)
    ]
    agged = (
        base.groupBy(*gcols).agg(*counts)
        if gcols
        else base.agg(*counts)
    )

    n = None
    for d in range(1, 10):
        c = F.col(f"__c{d}")
        n = c if n is None else n + c
    n = n.alias("n")

    def share(d: int):
        return F.col(f"__c{d}").cast("double") / F.col("n").cast("double")

    chi2 = None
    mad = None
    for d in range(1, 10):
        p = F.lit(BENFORD_P[d - 1])
        term = (
            (share(d) - p) * (share(d) - p) / p
        )
        adev = F.abs(share(d) - p)
        chi2 = term if chi2 is None else chi2 + term
        mad = adev if mad is None else mad + adev
    chi2 = (F.col("n").cast("double") * chi2).alias("__chi2")

    out = agged.select(*gcols, n, *[F.col(f"__c{d}") for d in range(1, 10)])
    out = out.select(
        *gcols,
        "n",
        chi2,
        (mad / F.lit(9.0)).alias("__mad"),
    ).select(
        *gcols,
        "n",
        (F.floor(F.col("__chi2") * F.lit(q)) / F.lit(q)).alias("chi2"),
        (F.floor(F.col("__mad") * F.lit(q)) / F.lit(q)).alias("mad"),
        *(
            [(F.col("__chi2") > F.lit(float(threshold))).alias("alarm")]
            if threshold is not None
            else []
        ),
    )
    return out
