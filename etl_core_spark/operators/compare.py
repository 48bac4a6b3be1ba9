"""Dataset-comparison / dimension-maintenance operators
(beyond-reference ETL classics).

- ``diff_datasets``: keyed A/B comparison of two relations — every
  key classified ``added`` / ``removed`` / ``changed`` / ``unchanged``
  with the list of differing columns. The regression-testing and
  CDC-validation primitive (what changed between yesterday's export
  and today's?).
- ``scd2_merge``: slowly-changing-dimension type-2 maintenance —
  apply a batch of updates to a versioned dimension table, closing
  superseded versions (``valid_to`` = effective time) and opening new
  ones, Kimball SCD2 semantics.

Both are single-shuffle shapes: one keyed join, branches derived
without re-joining (scd2 emits all output rows from ONE pass over the
join via an array-of-structs explode).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_core_spark.operators.base import OperatorConfigError, bind_operator, ensure


def _all_eq(cond_pairs: list[tuple[Column, Column]]) -> Column:
    out = None
    for a, b in cond_pairs:
        eq = a.eqNullSafe(b)
        out = eq if out is None else (out & eq)
    return out if out is not None else F.lit(True)


@bind_operator("diff_datasets", in_ports=("left", "right"))
def diff_datasets(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    status_col: str = "diff_status",
) -> DataFrame:
    """Keyed comparison of two datasets: one output row per key with
    ``diff_status`` in {added, removed, changed, unchanged} (added =
    present only on the RIGHT/new side) and ``changed_cols`` — the
    sorted column names whose values differ (null-safe ``IS DISTINCT
    FROM`` semantics: NULL vs value is a change, NULL vs NULL is
    not). ``compare_cols`` defaults to every non-key column present
    on BOTH sides, in left-schema order. Keys are expected unique per
    side; duplicate keys compare bag-style through join fan-out
    (documented, not hidden).

    Scale shape: ONE full-outer equi-join on the keys (AQE-sized;
    null-safe so NULL keys pair instead of silently landing in both
    added and removed) — presence is decided by markers, never by key
    nullness. Everything else is a narrow projection; `changed_cols`
    is a filtered literal array, no explode.
    """
    if not key_cols:
        raise OperatorConfigError("diff_datasets requires key_cols")
    if not compare_cols:
        rcols = set(right.columns)
        compare_cols = [
            c for c in left.columns if c not in set(key_cols) and c in rcols
        ]
    lm = left.select(
        *[F.col(k) for k in key_cols],
        *[F.col(c).alias(f"__l_{c}") for c in compare_cols],
        F.lit(1).alias("__lp"),
    )
    rm = right.select(
        *[F.col(k).alias(f"__r_{k}") for k in key_cols],
        *[F.col(c).alias(f"__r_{c}") for c in compare_cols],
        F.lit(1).alias("__rp"),
    )
    cond = _all_eq([(F.col(k), F.col(f"__r_{k}")) for k in key_cols])
    j = lm.join(rm, on=cond, how="full_outer")
    differs = [
        (~F.col(f"__l_{c}").eqNullSafe(F.col(f"__r_{c}"))).alias(c)
        for c in compare_cols
    ]
    any_diff = None
    for d in differs:
        any_diff = d if any_diff is None else (any_diff | d)
    status = (
        F.when(F.col("__lp").isNull(), F.lit("added"))
        .when(F.col("__rp").isNull(), F.lit("removed"))
        .when(
            any_diff if any_diff is not None else F.lit(False),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    changed = F.when(
        F.col("__lp").isNotNull() & F.col("__rp").isNotNull(),
        F.array_sort(
            F.filter(
                F.array(
                    *[
                        F.when(
                            ~F.col(f"__l_{c}").eqNullSafe(F.col(f"__r_{c}")),
                            F.lit(c),
                        )
                        for c in compare_cols
                    ]
                )
                if compare_cols
                else F.array().cast("array<string>"),
                lambda x: x.isNotNull(),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return j.select(
        *[
            F.coalesce(F.col(k), F.col(f"__r_{k}")).alias(k)
            for k in key_cols
        ],
        status.alias(status_col),
        changed.alias("changed_cols"),
    )


@bind_operator("scd2_merge", in_ports=("current", "updates"))
def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    effective_col: str = "effective_at",
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Kimball slowly-changing-dimension type-2 merge: ``current`` is
    the versioned dimension (``valid_from`` / ``valid_to``, open
    version = NULL ``valid_to``); ``updates`` carries new attribute
    values with an effective time. Semantics per key:

    - tracked values unchanged (null-safe) → update is a no-op, the
      open version stays open (idempotent re-delivery is free);
    - tracked values differ → the open version CLOSES at the
      effective time and a new open version begins there;
    - key not in the dimension → a new open version is inserted;
    - closed history rows pass through untouched.

    Several updates for one key in a batch: the LATEST effective time
    wins (ties broken on the tracked values, descending — total and
    deterministic); intermediate versions within a single batch are
    NOT materialized, matching warehouse batch-merge practice.

    Scale shape: updates dedupe on one keyed window over the (small)
    batch; then ONE full-outer join between open versions and the
    batch, and every output row — kept-open, closed, new — is emitted
    from a single pass over that join via an array-of-structs explode
    (no three-branch re-scan of the join). History unions back
    untouched. Total: one join shuffle + one batch-side window.
    """
    if not key_cols or not tracked_cols:
        raise OperatorConfigError(
            "scd2_merge requires key_cols and tracked_cols"
        )
    from pyspark.sql import Window

    out_cols = [*key_cols, *tracked_cols, from_col, to_col]
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(effective_col).desc(), *[F.col(c).desc() for c in tracked_cols]
    )
    upd = (
        updates.select(*key_cols, *tracked_cols, effective_col)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    hist = current.select(*out_cols).where(F.col(to_col).isNotNull())
    open_ = current.select(*out_cols).where(F.col(to_col).isNull())
    um = upd.select(
        *[F.col(k).alias(f"__u_{k}") for k in key_cols],
        *[F.col(c).alias(f"__u_{c}") for c in tracked_cols],
        F.col(effective_col).alias("__eff"),
        F.lit(1).alias("__up"),
    )
    cond = _all_eq([(F.col(k), F.col(f"__u_{k}")) for k in key_cols])
    j = open_.withColumn("__op", F.lit(1)).join(um, on=cond, how="full_outer")
    same = _all_eq(
        [(F.col(c), F.col(f"__u_{c}")) for c in tracked_cols]
    )
    def _mk(keys_from_update: bool, tracked_from_update: bool,
            from_expr: Column, to_expr: Column) -> Column:
        return F.struct(
            *[
                (F.col(f"__u_{k}") if keys_from_update else F.col(k)).alias(k)
                for k in key_cols
            ],
            *[
                (
                    F.col(f"__u_{c}") if tracked_from_update else F.col(c)
                ).alias(c)
                for c in tracked_cols
            ],
            from_expr.alias(from_col),
            to_expr.alias(to_col),
        )

    null_to = F.lit(None).cast(open_.schema[to_col].dataType)
    # Late-arriving guard: an update whose effective time precedes
    # the open version's valid_from would emit a closed row with
    # valid_to < valid_from (an inverted interval). Clamp the
    # close/open boundary to greatest(effective, valid_from): the
    # late update is applied as a correction effective at the open
    # version's start (zero-length closed row, never inverted).
    # True late-arriving SCD2 backfill — splicing a version into
    # CLOSED history — is a different operation and out of scope
    # here. greatest() skips NULLs, so brand-new keys (no open row)
    # still open at their own effective time.
    boundary = F.greatest(F.col("__eff"), F.col(from_col))
    keep_open = _mk(False, False, F.col(from_col), null_to)
    closed = _mk(False, False, F.col(from_col), boundary)
    opened = _mk(True, True, boundary, null_to)
    rows = (
        # open version, no update for it (or a no-op update)
        F.when(
            F.col("__op").isNotNull()
            & (F.col("__up").isNull() | same),
            F.array(keep_open),
        )
        # changed: close the old version AND open the new one
        .when(
            F.col("__op").isNotNull() & F.col("__up").isNotNull(),
            F.array(closed, opened),
        )
        # brand-new key: just the new open version
        .otherwise(F.array(opened))
    )
    merged = j.select(F.explode(rows).alias("__v")).select("__v.*")
    return hist.unionByName(merged)


@bind_operator("ks_drift", in_ports=("left", "right"))
def ks_drift(
    left: DataFrame,
    right: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    quantize: int = 6,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic per group —
    the numeric-feature drift monitor (training-vs-serving skew,
    snapshot-over-snapshot shift): D = sup_x |F_left(x) -
    F_right(x)| over the empirical CDFs. 0 = identical samples,
    1 = fully separated ranges. NULL values drop (they have no place
    on a CDF); a group present on only ONE side reports the absent
    side's count as 0 and D = 1.0 by definition (all mass differs).

    Tie handling is the textbook one: the CDF difference is
    evaluated AFTER each distinct value absorbs all its ties —
    achieved by aggregating to per-(group, value) counts BEFORE the
    running sums, so both engines see identical step functions.

    Scale shape: both sides collapse to (group, value, count) first
    (map-side combinable — the window walks DISTINCT values, not
    rows), totals ride as a per-group broadcastable aggregate, then
    ONE ordered window per group computes running CDFs and one
    group-max takes D. NULL group keys form their own group (engine
    NULL-keeps rule).
    """
    from pyspark.sql import Window

    g = list(group_cols or [])
    lv = left.select(
        *g, F.col(value_col).alias("__v")
    ).where(F.col(value_col).isNotNull()).withColumn("__side", F.lit(0))
    rv = right.select(
        *g, F.col(value_col).alias("__v")
    ).where(F.col(value_col).isNotNull()).withColumn("__side", F.lit(1))
    both = lv.unionByName(rv)
    counts = both.groupBy(*g, "__v").agg(
        F.sum(F.when(F.col("__side") == 0, 1).otherwise(0)).alias("__c1"),
        F.sum(F.when(F.col("__side") == 1, 1).otherwise(0)).alias("__c2"),
    )
    totals = counts.groupBy(*g).agg(
        F.sum("__c1").alias("__n1"), F.sum("__c2").alias("__n2")
    )
    # try_divide in both branches: a one-sided group's absent side has
    # n=0 — NULL there (not an ANSI divide-by-zero crash), resolved to
    # the documented D=1.0 below
    if g:
        joined = counts.join(totals, on=g)
        w = Window.partitionBy(*g).orderBy("__v")
        run = joined.select(
            *g,
            "__n1",
            "__n2",
            (
                F.try_divide(F.sum("__c1").over(w), F.col("__n1"))
                - F.try_divide(F.sum("__c2").over(w), F.col("__n2"))
            ).alias("__d"),
        )
    else:
        # ungrouped: the running CDFs walk ALL distinct values — a
        # global window would be single-partition, so use the
        # distributed prefix-sum machinery instead (exact integer
        # cumulative counts; identical values, any partitioning)
        from etl_core_spark.operators.linkage import _global_prefix_sums

        ps = _global_prefix_sums(
            counts.crossJoin(F.broadcast(totals)),
            ["__v"],
            ["__c1", "__c2"],
        )
        run = ps.select(
            "__n1",
            "__n2",
            (
                F.try_divide(F.col("__ps___c1"), F.col("__n1"))
                - F.try_divide(F.col("__ps___c2"), F.col("__n2"))
            ).alias("__d"),
        )
    q = F.lit(float(10 ** int(quantize)))
    agg = run.groupBy(*g).agg(
        F.first("__n1").alias("n_left"),
        F.first("__n2").alias("n_right"),
        (F.floor(F.max(F.abs(F.col("__d"))) * q) / q).alias("ks_stat"),
    )
    # empty-side groups: __d is NULL (x/0) for every row -> max NULL;
    # the documented D for a one-sided group is 1.0
    return agg.select(
        *g,
        F.col("n_left").cast("long").alias("n_left"),
        F.col("n_right").cast("long").alias("n_right"),
        F.coalesce(
            F.col("ks_stat"),
            F.when(
                (F.col("n_left") == 0) | (F.col("n_right") == 0), F.lit(1.0)
            ),
        ).alias("ks_stat"),
    )


def bucket_index(vc: Column, edges: list[float]) -> Column:
    """Searched-CASE bucket index over strictly increasing edges:
    ``v < edges[0] -> 0, ..., else len(edges)`` — the shared binning
    expression for psi_drift and its streaming sibling (identical
    literals render into any SQL oracle)."""
    nb = len(edges) + 1
    expr = F.lit(nb - 1)
    for i in range(len(edges) - 1, -1, -1):
        expr = F.when(vc < F.lit(float(edges[i])), F.lit(i)).otherwise(expr)
    return expr


@bind_operator("psi_drift", in_ports=("left", "right"))
def psi_drift(
    left: DataFrame,
    right: DataFrame,
    value_col: str,
    edges: list[float],
    group_cols: list[str] | None = None,
    epsilon: float = 1e-4,
    threshold: float | None = 0.2,
    quantize: int = 6,
) -> DataFrame:
    """Population Stability Index per group — THE standard production
    ML drift score (banking scorecard lineage, the 0.1/0.2 bands):
    bucket both samples over FIXED edges and take

        PSI = sum_i (a_i - e_i) * ln(a_i / e_i)

    where ``e_i``/``a_i`` are the reference (``left``) and current
    (``right``) bucket shares. Complements the resident drift pair:
    ks_drift is exact but edge-free (sup of CDF gap), corpus_divergence
    is symmetric JS over token space; PSI is the fixed-binning,
    monitoring-dashboard convention with its published alert bands.

    Pins: ``edges`` are CONFIG-SUPPLIED (the cusum rule — quantile-
    derived edges would tie every score to an interpolation over a
    float sort); bucket b of B = len(edges)+1 is the searched-CASE
    index (v < edges[0] -> 0, ... else B-1), identical literals both
    engines; shares are Laplace-smoothed ``(c_i + eps) / (n + B*eps)``
    so empty buckets never hit ln(0) and the smoothing is a pure
    expression, not a data-dependent fixup; the bucket sum is
    left-associative in bucket order; floor-quantized. NULL values
    drop. A group on only one side keeps its PSI (the smoothed empty
    side's shares are uniform 1/B-ish — a large, honest score).

    Scale shape: ONE map-side-combinable conditional-count aggregate
    per side (B int columns), a keyed outer join on the group, and a
    fixed-size expression — no window, no UDF, nothing row-sized
    past the first aggregate.
    """
    if not value_col:
        raise OperatorConfigError("psi_drift requires value_col")
    if not edges or sorted(float(e) for e in edges) != [
        float(e) for e in edges
    ] or len(set(float(e) for e in edges)) != len(edges):
        raise OperatorConfigError(
            "psi_drift requires strictly increasing bucket edges "
            "(config-supplied, e.g. from a calibration window)"
        )
    if float(epsilon) <= 0:
        raise OperatorConfigError("psi_drift epsilon must be > 0")
    es = [float(e) for e in edges]
    nb = len(es) + 1
    eps = float(epsilon)
    q = float(10 ** int(quantize))
    g = list(group_cols or [])
    bucket = lambda vc: bucket_index(vc, es)  # noqa: E731

    def side_counts(df, prefix):
        v = F.col(value_col).cast("double")
        base = df.where(v.isNotNull()).select(*g, bucket(v).alias("__b"))
        aggs = [
            F.sum(F.when(F.col("__b") == i, 1).otherwise(0)).alias(
                f"__{prefix}{i}"
            )
            for i in range(nb)
        ]
        return base.groupBy(*g).agg(*aggs) if g else base.agg(*aggs)

    lc = side_counts(left, "e")
    rc = side_counts(right, "a")
    joined = (
        lc.join(rc, g, "full_outer")
        if g
        else lc.crossJoin(rc)  # two one-row aggregates
    )
    # a side absent for a group contributes zero counts
    zero = [
        F.coalesce(F.col(f"__{p}{i}"), F.lit(0)).alias(f"__{p}{i}")
        for p in ("e", "a")
        for i in range(nb)
    ]
    joined = joined.select(*g, *zero)

    def total(prefix):
        t = None
        for i in range(nb):
            c = F.col(f"__{prefix}{i}")
            t = c if t is None else t + c
        return t

    joined = joined.select(
        *g,
        *[F.col(f"__e{i}") for i in range(nb)],
        *[F.col(f"__a{i}") for i in range(nb)],
        total("e").alias("__ne"),
        total("a").alias("__na"),
    )

    def share(prefix, i, n):
        return (F.col(f"__{prefix}{i}").cast("double") + F.lit(eps)) / (
            n.cast("double") + F.lit(float(nb) * eps)
        )

    psi = None
    for i in range(nb):
        e_i = share("e", i, F.col("__ne"))
        a_i = share("a", i, F.col("__na"))
        term = (a_i - e_i) * F.log(a_i / e_i)
        psi = term if psi is None else psi + term

    out = joined.select(
        *g,
        F.col("__ne").cast("long").alias("n_left"),
        F.col("__na").cast("long").alias("n_right"),
        psi.alias("__psi"),
    )
    return out.select(
        *g,
        "n_left",
        "n_right",
        (F.floor(F.col("__psi") * F.lit(q)) / F.lit(q)).alias("psi"),
        *(
            [(F.col("__psi") > F.lit(float(threshold))).alias("drift")]
            if threshold is not None
            else []
        ),
    )


def _check_prop_ztest(control, treatment, **_) -> None:
    ensure(control != treatment, "prop_ztest control and treatment must differ")


@bind_operator("prop_ztest", check=_check_prop_ztest)
def prop_ztest(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    control: str,
    treatment: str,
    group_cols: list[str] | None = None,
    z_crit: float | None = 1.959963984540054,
    quantize: int = 9,
) -> DataFrame:
    """Two-proportion z-test per group — the A/B experiment readout:

        z = (p_t - p_c) / sqrt(p*(1-p) * (1/n_c + 1/n_t))

    with ``p`` the pooled success rate. Rows where ``variant_col``
    equals ``control``/``treatment`` split the sample; ``success_col``
    is a boolean column (NULL counts as failure — an unobserved
    conversion is a non-conversion). Emits per group: ``n_c``,
    ``x_c``, ``n_t``, ``x_t`` (exact counts), floor-quantized
    ``p_c``/``p_t``/``z``, and ``significant`` (|z| > ``z_crit``,
    default the two-sided 95% critical value; None omits it). ``z``
    is NULL when either arm is empty or the pooled rate is 0 or 1
    (no variance — the test is undefined, not "significant").

    Determinism: every input to the float expression is an exact
    integer count, the expression is fixed, and IEEE-754 ``sqrt`` is
    correctly rounded in every conforming engine — so no quantization
    slack is needed beyond rendering. p-values are deliberately NOT
    emitted: the normal CDF (erf) is NOT correctly rounded and
    differs across libms; compare ``z`` against ``z_crit`` instead.

    Scale shape: ONE map-side-combinable conditional-count aggregate.
    """
    if not variant_col or not success_col:
        raise OperatorConfigError(
            "prop_ztest requires variant_col and success_col"
        )
    if control == treatment:
        raise OperatorConfigError(
            "prop_ztest control and treatment must differ"
        )
    g = list(group_cols or [])
    q = float(10 ** int(quantize))

    is_c = F.col(variant_col) == F.lit(control)
    is_t = F.col(variant_col) == F.lit(treatment)
    ok = F.coalesce(F.col(success_col).cast("boolean"), F.lit(False))
    base = df.where(is_c | is_t).select(
        *g,
        F.when(is_c, 1).otherwise(0).alias("__c"),
        F.when(is_t, 1).otherwise(0).alias("__t"),
        F.when(is_c & ok, 1).otherwise(0).alias("__cx"),
        F.when(is_t & ok, 1).otherwise(0).alias("__tx"),
    )
    agged = (
        base.groupBy(*g) if g else base.groupBy()
    ).agg(
        F.sum("__c").alias("n_c"),
        F.sum("__cx").alias("x_c"),
        F.sum("__t").alias("n_t"),
        F.sum("__tx").alias("x_t"),
    )
    nc = F.col("n_c").cast("double")
    nt = F.col("n_t").cast("double")
    xc = F.col("x_c").cast("double")
    xt = F.col("x_t").cast("double")
    pc = xc / nc
    pt = xt / nt
    pp = (xc + xt) / (nc + nt)
    z = (pt - pc) / F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / nc + F.lit(1.0) / nt)
    )
    defined = (
        (F.col("n_c") > 0)
        & (F.col("n_t") > 0)
        & (F.col("x_c") + F.col("x_t") > 0)
        & (F.col("x_c") + F.col("x_t") < F.col("n_c") + F.col("n_t"))
    )
    zq = F.when(defined, F.floor(z * F.lit(q)) / F.lit(q))
    return agged.select(
        *g,
        "n_c",
        "x_c",
        "n_t",
        "x_t",
        F.when(
            F.col("n_c") > 0, F.floor(pc * F.lit(q)) / F.lit(q)
        ).alias("p_c"),
        F.when(
            F.col("n_t") > 0, F.floor(pt * F.lit(q)) / F.lit(q)
        ).alias("p_t"),
        zq.alias("z"),
        *(
            [
                F.when(defined, F.abs(z) > F.lit(float(z_crit))).alias(
                    "significant"
                )
            ]
            if z_crit is not None
            else []
        ),
    )


@bind_operator("cdc_apply", in_ports=("snapshot", "changes"))
def cdc_apply(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    value_cols: list[str] | None = None,
    delete_ops: list[str] | None = None,
) -> DataFrame:
    """Apply a change-data-capture log to a base snapshot — the
    warehouse "merge the CDC feed into the table" primitive
    (Debezium/Delta-CDF apply semantics). ``changes`` carries one row
    per captured event: the key, a per-key ordering column
    (``seq_col`` — LSN, binlog offset, commit timestamp), an
    operation code (``op_col``), and full-row images in
    ``value_cols``. Per key, the LATEST change wins:

    - latest op in ``delete_ops`` (default ``["D"]``) → the key is
      absent from the result (deleting a key the snapshot never had
      is a no-op, idempotent re-delivery is free);
    - any other latest op (insert, update, read/snapshot markers
      alike) → UPSERT: the result row takes the change's
      ``value_cols``; snapshot columns NOT in ``value_cols`` carry
      over from the snapshot (NULL for brand-new keys);
    - key untouched by the log → the snapshot row passes through.

    ``value_cols`` defaults to every non-key snapshot column also
    present in ``changes``. Several changes for one key: highest
    ``seq_col`` wins, ties broken on (op, value columns) descending —
    total and deterministic, matching ``scd2_merge``'s batch rule;
    NULL sequence numbers sort last (lowest priority) in BOTH engines
    (explicit NULLS LAST).

    Scale shape: the change batch dedupes on ONE keyed window (the
    log is the small side — a day of changes, not the table); then
    ONE null-safe full-outer equi-join against the snapshot and a
    narrow projection. No second pass, no per-branch re-join. At
    100 TB the snapshot side never shuffles twice: one hash exchange
    on the key feeds both the join and the (absent) downstream
    bucketing.
    """
    from pyspark.sql import Window

    if not key_cols:
        raise OperatorConfigError("cdc_apply requires key_cols")
    dels = [str(x) for x in (delete_ops if delete_ops is not None else ["D"])]
    if not value_cols:
        ccols = set(changes.columns)
        value_cols = [
            c for c in snapshot.columns
            if c not in set(key_cols) and c in ccols
        ]
    missing = [c for c in value_cols if c not in changes.columns]
    if missing:
        raise OperatorConfigError(
            f"cdc_apply value_cols missing from changes: {missing}"
        )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc_nulls_last(),
        F.col(op_col).desc_nulls_last(),
        *[F.col(c).desc_nulls_last() for c in value_cols],
    )
    last = (
        changes.select(*key_cols, seq_col, op_col, *value_cols)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            *[F.col(k).alias(f"__c_{k}") for k in key_cols],
            *[F.col(c).alias(f"__c_{c}") for c in value_cols],
            F.col(op_col).alias("__c_op"),
            F.lit(1).alias("__cp"),
        )
    )
    cond = _all_eq([(F.col(k), F.col(f"__c_{k}")) for k in key_cols])
    j = snapshot.withColumn("__sp", F.lit(1)).join(
        last, on=cond, how="full_outer"
    )
    kept = j.where(
        F.col("__cp").isNull() | ~F.col("__c_op").isin(dels)
    )
    out = []
    for c in snapshot.columns:
        if c in key_cols:
            out.append(F.coalesce(F.col(c), F.col(f"__c_{c}")).alias(c))
        elif c in set(value_cols):
            out.append(
                F.when(F.col("__cp").isNotNull(), F.col(f"__c_{c}"))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            # carried column: snapshot value when the key existed,
            # NULL for brand-new keys (the log has no image for it)
            out.append(F.col(c).alias(c))
    return kept.select(*out)


@bind_operator("mannwhitney_u", in_ports=("left", "right"))
def mannwhitney_u(
    left: DataFrame,
    right: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    z_crit: float | None = 1.959963984540054,
    quantize: int = 9,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test per group — the
    nonparametric location test: ranks both samples together
    (average ranks on ties) and asks whether one sample's ranks run
    systematically high. Completes the drift-test rack: ks_drift
    (any distributional difference), psi_drift (fixed-bin monitoring
    score), mannwhitney_u (median shift, outlier-robust).

    Emits per group: ``n_left``, ``n_right``, ``u`` (the U statistic
    for the RIGHT sample against the left), ``z`` (normal
    approximation WITH the tie correction), and ``significant``
    (|z| > ``z_crit``; None omits it). ``z`` is NULL when either
    side is empty or every value is tied (zero variance).

    Exactness: tie-averaged rank sums are sums of exact half-integer
    doubles (every term is k/2 with the total far below 2^53), so
    floating addition is EXACT and reduction-order independent —
    U is bit-identical in any engine, no quantization slack needed;
    z adds one fixed expression + IEEE sqrt. The same no-transcendental
    discipline as prop_ztest (no p-values; erf is libm-specific).

    Scale shape: one (group, value) count aggregate (map-side
    combinable — ranks walk DISTINCT values, not rows), one per-group
    ordered window for the cumulative rank offsets, one final
    aggregate. The ks_drift shape exactly.
    """
    if not value_col:
        raise OperatorConfigError("mannwhitney_u requires value_col")
    from pyspark.sql import Window

    g = list(group_cols or [])
    q = float(10 ** int(quantize))

    lv = left.select(*g, F.col(value_col).cast("double").alias("__v")).where(
        F.col(value_col).isNotNull()
    ).withColumn("__side", F.lit(0))
    rv = right.select(*g, F.col(value_col).cast("double").alias("__v")).where(
        F.col(value_col).isNotNull()
    ).withColumn("__side", F.lit(1))
    counts = lv.unionByName(rv).groupBy(*g, "__v").agg(
        F.sum(F.when(F.col("__side") == 0, 1).otherwise(0)).alias("__c1"),
        F.sum(F.when(F.col("__side") == 1, 1).otherwise(0)).alias("__c2"),
    )
    pre = counts.withColumn("__t", F.col("__c1") + F.col("__c2"))
    if g:
        w = Window.partitionBy(*g).orderBy("__v").rowsBetween(
            Window.unboundedPreceding, -1
        )
        ranked = pre.select(
            *g,
            "__c1",
            "__c2",
            F.col("__t").alias("__tt"),
            F.coalesce(F.sum("__t").over(w), F.lit(0))
            .cast("long")
            .alias("__before"),
        )
    else:
        # ungrouped: cumulative tie-block offsets walk ALL distinct
        # values — distributed prefix sum instead of a global window
        # (exact integer counts; identical values, any partitioning)
        from etl_core_spark.operators.linkage import _global_prefix_sums

        ranked = _global_prefix_sums(
            pre, ["__v"], ["__t"], exclusive=True
        ).select(
            "__c1",
            "__c2",
            F.col("__t").alias("__tt"),
            F.col("__ps___t").cast("long").alias("__before"),
        )
    # average rank of a distinct value's tie block: before + (t+1)/2
    # — an exact half-integer double
    avg_rank = (
        F.col("__before").cast("double")
        + (F.col("__tt").cast("double") + F.lit(1.0)) / F.lit(2.0)
    )
    agged = ranked.groupBy(*g).agg(
        F.sum("__c1").alias("n_left"),
        F.sum("__c2").alias("n_right"),
        F.sum(F.col("__c2").cast("double") * avg_rank).alias("__r2"),
        F.sum(
            F.col("__tt").cast("long") * F.col("__tt") * F.col("__tt")
            - F.col("__tt")
        ).alias("__ties"),
    )
    n1 = F.col("n_left").cast("double")
    n2 = F.col("n_right").cast("double")
    nn = n1 + n2
    u = F.col("__r2") - n2 * (n2 + F.lit(1.0)) / F.lit(2.0)
    mu = n1 * n2 / F.lit(2.0)
    sigma = F.sqrt(
        (n1 * n2 / F.lit(12.0))
        * (
            (nn + F.lit(1.0))
            - F.col("__ties").cast("double") / (nn * (nn - F.lit(1.0)))
        )
    )
    defined = (
        (F.col("n_left") > 0)
        & (F.col("n_right") > 0)
        & (sigma > F.lit(0.0))
    )
    z = (u - mu) / sigma
    return agged.select(
        *g,
        "n_left",
        "n_right",
        u.alias("u"),
        F.when(defined, F.floor(z * F.lit(q)) / F.lit(q)).alias("z"),
        *(
            [
                F.when(defined, F.abs(z) > F.lit(float(z_crit))).alias(
                    "significant"
                )
            ]
            if z_crit is not None
            else []
        ),
    )


def _check_welch_ttest(value_scale, **_) -> None:
    ensure(value_scale > 0, "welch_ttest value_scale must be > 0")


@bind_operator("welch_ttest", in_ports=("left", "right"), check=_check_welch_ttest)
def welch_ttest(
    left: DataFrame,
    right: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    value_scale: int = 100,
    t_crit: float | None = 1.959963984540054,
    quantize: int = 9,
) -> DataFrame:
    """Welch's unequal-variance t-test per group — the parametric
    mean-difference test completing the rack (prop_ztest:
    proportions; mannwhitney_u: ranks; this: means)::

        t = (m1 - m2) / sqrt(v1/n1 + v2/n2)

    with Welch-Satterthwaite degrees of freedom emitted alongside.

    Exactness (the ols_trend trick): values quantize to
    ``value_scale`` fixed-point units and every moment (Σy, Σy²)
    accumulates in DECIMAL(38,0) — reduction-order independent — so
    means and ddof-1 variances come out of EXACT integer arithmetic
    with one double division each; t and df are then fixed
    expressions + IEEE sqrt. ``significant`` compares |t| against
    ``t_crit`` (config; the z critical value is the df→∞ bar —
    p-values need the incomplete beta, which is libm-specific, the
    prop_ztest rule). NULL when either side has < 2 observations or
    both variances are zero.

    Scale shape: ONE map-side-combinable aggregate per side + a
    keyed outer join on the group.
    """
    if not value_col:
        raise OperatorConfigError("welch_ttest requires value_col")
    if int(value_scale) <= 0:
        raise OperatorConfigError("welch_ttest value_scale must be > 0")
    g = list(group_cols or [])
    q = float(10 ** int(quantize))
    vs = float(int(value_scale))
    dec = "decimal(38,0)"

    def side(df, p):
        y = F.floor(
            F.col(value_col).cast("double") * F.lit(vs) + F.lit(0.5)
        ).cast(dec)
        base = df.where(F.col(value_col).isNotNull()).select(
            *g, y.alias("__y")
        )
        return base.groupBy(*g).agg(
            F.count(F.lit(1)).alias(f"n_{p}"),
            F.sum("__y").alias(f"__s_{p}"),
            F.sum(F.col("__y") * F.col("__y")).alias(f"__ss_{p}"),
        )

    lc = side(left, "l")
    rc = side(right, "r")
    j = lc.join(rc, g, "full_outer") if g else lc.crossJoin(rc)
    j = j.select(
        *g,
        F.coalesce(F.col("n_l"), F.lit(0)).alias("n_left"),
        F.coalesce(F.col("n_r"), F.lit(0)).alias("n_right"),
        "__s_l", "__ss_l", "__s_r", "__ss_r",
    )

    def stats(p, n_col):
        n = F.col(n_col).cast(dec)
        s = F.col(f"__s_{p}")
        ss = F.col(f"__ss_{p}")
        mean = (
            s.cast("double") / F.col(n_col).cast("double")
        ) / F.lit(vs)
        # ddof=1 sample variance from exact integer moments
        var = (
            (n * ss - s * s).cast("double")
            / (
                F.col(n_col).cast("double")
                * (F.col(n_col).cast("double") - F.lit(1.0))
            )
        ) / F.lit(vs * vs)
        return mean, var

    m1, v1 = stats("l", "n_left")
    m2, v2 = stats("r", "n_right")
    n1d = F.col("n_left").cast("double")
    n2d = F.col("n_right").cast("double")
    se2 = v1 / n1d + v2 / n2d
    t = (m1 - m2) / F.sqrt(se2)
    dfree = (se2 * se2) / (
        (v1 / n1d) * (v1 / n1d) / (n1d - F.lit(1.0))
        + (v2 / n2d) * (v2 / n2d) / (n2d - F.lit(1.0))
    )
    defined = (
        (F.col("n_left") >= 2) & (F.col("n_right") >= 2) & (se2 > F.lit(0.0))
    )
    return j.select(
        *g,
        "n_left",
        "n_right",
        F.when(
            F.col("n_left") > 0, F.floor(m1 * F.lit(q)) / F.lit(q)
        ).alias("mean_left"),
        F.when(
            F.col("n_right") > 0, F.floor(m2 * F.lit(q)) / F.lit(q)
        ).alias("mean_right"),
        F.when(defined, F.floor(t * F.lit(q)) / F.lit(q)).alias("t"),
        F.when(defined, F.floor(dfree * F.lit(q)) / F.lit(q)).alias("df"),
        *(
            [
                F.when(defined, F.abs(t) > F.lit(float(t_crit))).alias(
                    "significant"
                )
            ]
            if t_crit is not None
            else []
        ),
    )


def _check_chi2_independence(categories_a, categories_b, **_) -> None:
    for key, categories in (("categories_a", categories_a), ("categories_b", categories_b)):
        ensure(
            len(categories) >= 2,
            f"chi2_independence {key!r} needs >= 2 categories "
            "(1-category margins make dof = 0)",
        )


@bind_operator("chi2_independence", check=_check_chi2_independence)
def chi2_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
    categories_a: list[str],
    categories_b: list[str],
    group_cols: list[str] | None = None,
    quantize: int = 9,
) -> DataFrame:
    """Pearson chi-square test of independence between two
    categorical columns over CONFIG-SUPPLIED category lists (the
    psi_drift fixed-edges rule: a data-derived category set would
    make the cell order — and so the float sum — depend on the
    data), plus Cramér's V effect size::

        chi2 = sum_ij (n_ij - e_ij)^2 / e_ij,  e_ij = r_i * c_j / n
        V = sqrt(chi2 / (n * (min(|A|, |B|) - 1)))

    Rows whose value falls outside the configured lists are EXCLUDED
    from the test (documented — list the long tail explicitly or
    bucket it upstream). Emits per group: ``n``, floor-quantized
    ``chi2``, ``dof``, ``cramers_v``; NULL chi2/V when any marginal
    is zero (the statistic is undefined on a degenerate table).

    Exactness: all |A|x|B| cell counts are exact conditional-sum
    integers; chi2/V are fixed expressions over them in configured
    category order — deterministic in any engine.

    Scale shape: ONE map-side-combinable aggregate (|A|*|B| int
    columns) + a fixed scalar projection.
    """
    if not col_a or not col_b:
        raise OperatorConfigError("chi2_independence requires col_a and col_b")
    if not categories_a or not categories_b:
        raise OperatorConfigError(
            "chi2_independence requires categories_a and categories_b "
            "(config-supplied — the psi_drift fixed-edges rule)"
        )
    if len(set(categories_a)) != len(categories_a) or len(
        set(categories_b)
    ) != len(categories_b):
        raise OperatorConfigError(
            "chi2_independence categories must be unique"
        )
    if len(categories_a) < 2 or len(categories_b) < 2:
        raise OperatorConfigError(
            "chi2_independence needs >= 2 categories on each side "
            "(a 1-category margin makes dof = 0 and Cramér's V divide "
            f"by zero; got |A|={len(categories_a)}, |B|={len(categories_b)})"
        )
    g = list(group_cols or [])
    q = float(10 ** int(quantize))
    ca = [str(c) for c in categories_a]
    cb = [str(c) for c in categories_b]
    na, nb_ = len(ca), len(cb)

    base = df.where(
        F.col(col_a).isin(ca) & F.col(col_b).isin(cb)
    ).select(*g, F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
    cells = [
        F.sum(
            F.when((F.col("__a") == ca[i]) & (F.col("__b") == cb[j]), 1)
            .otherwise(0)
        ).alias(f"__c_{i}_{j}")
        for i in range(na)
        for j in range(nb_)
    ]
    agged = base.groupBy(*g).agg(*cells)

    def cell(i, j):
        return F.col(f"__c_{i}_{j}")

    n = None
    for i in range(na):
        for j in range(nb_):
            n = cell(i, j) if n is None else n + cell(i, j)
    rows = [sum_or(None, [cell(i, j) for j in range(nb_)]) for i in range(na)]
    colsm = [sum_or(None, [cell(i, j) for i in range(na)]) for j in range(nb_)]

    agged = agged.select(
        *g,
        *[cell(i, j) for i in range(na) for j in range(nb_)],
        n.cast("long").alias("n"),
        *[rows[i].cast("long").alias(f"__r{i}") for i in range(na)],
        *[colsm[j].cast("long").alias(f"__k{j}") for j in range(nb_)],
    )

    nd = F.col("n").cast("double")
    chi2 = None
    for i in range(na):
        for j in range(nb_):
            e = (
                F.col(f"__r{i}").cast("double")
                * F.col(f"__k{j}").cast("double")
            ) / nd
            d = cell(i, j).cast("double") - e
            term = d * d / e
            chi2 = term if chi2 is None else chi2 + term
    dof = (na - 1) * (nb_ - 1)
    vden = nd * F.lit(float(min(na, nb_) - 1))
    ok = F.col("n") > 0
    for i in range(na):
        ok = ok & (F.col(f"__r{i}") > 0)
    for j in range(nb_):
        ok = ok & (F.col(f"__k{j}") > 0)
    return agged.select(
        *g,
        "n",
        F.when(ok, F.floor(chi2 * F.lit(q)) / F.lit(q)).alias("chi2"),
        F.lit(dof).alias("dof"),
        F.when(
            ok, F.floor(F.sqrt(chi2 / vden) * F.lit(q)) / F.lit(q)
        ).alias("cramers_v"),
    )


def sum_or(acc, cols):
    """Fixed-order left-associative column sum (chi2 helper)."""
    for c in cols:
        acc = c if acc is None else acc + c
    return acc
