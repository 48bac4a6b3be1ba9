"""As-of (time-series) and range joins (beyond-reference).

Spark has no native ASOF JOIN. The naive formulation —
``left JOIN right ON key AND r.ts <= l.ts`` then keep the latest
right row — explodes to O(|left|·|right-per-key|) intermediate rows.
The scalable formulation used here is **union-and-carry**:

1. tag right rows 0 and left rows 1, union them;
2. one sort-shuffle by (key, ts, tag);
3. ``last(value, ignorenulls)`` over rows unbounded-preceding carries
   the most recent right-side value forward;
4. keep the left rows.

One shuffle, no row explosion, state bounded by the window frame —
the same shape at 6 k rows and at 100 TB. (DuckDB's native ASOF JOIN
serves as the differential oracle.)

``range_join`` covers interval containment: intervals are exploded
to the fixed-width buckets they overlap, points map to one bucket,
and the candidate equi-join on bucket is verified with the exact
predicate — turning an inequality join into a prunable shuffle join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_core_spark.operators.base import OperatorConfigError, bind_operator, ensure


@bind_operator("as_of_join", in_ports=("left", "right"))
def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    strict: bool = False,
) -> DataFrame:
    """For each left row, attach ``value_cols`` from the latest right
    row with ``right_ts <= left_ts`` (or ``<`` when ``strict``) and
    the same ``on`` key. Left rows with no prior right row get NULLs.

    Ties on the same timestamp: a right row at exactly ``left_ts``
    matches (non-strict), and among equal right timestamps the
    last-sorted one wins — matching DuckDB ASOF JOIN semantics.

    All ``value_cols`` are carried as ONE struct so they always come
    from the SAME right row. Carrying each column independently with
    ``last(col, ignorenulls)`` would mix columns across rows whenever
    the latest right row holds a NULL in one of them (v1 from an older
    row, v2 from the newer — a row that never existed).
    """
    for c in value_cols:
        if c not in right.columns:
            raise OperatorConfigError(f"value column {c!r} not in right side")

    # strict mode: a right row at ts must NOT serve a left row at the
    # same ts → order right rows after left ones at equal timestamps
    right_tag, left_tag = (1, 0) if strict else (0, 1)

    r = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(right_tag).alias("__tag"),
        F.struct(*[F.col(c) for c in value_cols]).alias("__v"),
    )
    l_cols = left.columns
    l = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(left_tag).alias("__tag"),
        F.lit(None).cast(r.schema["__v"].dataType).alias("__v"),
        F.struct(*[F.col(c) for c in l_cols]).alias("__row"),
    )
    r = r.withColumn("__row", F.lit(None).cast(l.schema["__row"].dataType))

    unioned = r.unionByName(l)
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "__tag",
        "__row",
        F.last("__v", ignorenulls=True).over(w).alias("__c"),
    )
    out = carried.filter(F.col("__tag") == left_tag).select(
        *[F.col("__row")[c].alias(c) for c in l_cols],
        *[F.col("__c")[c].alias(c) for c in value_cols],
    )
    return out


@bind_operator("range_join", in_ports=("points", "intervals"))
def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
    how: str = "inner",
    broadcast_intervals: bool | None = None,
) -> DataFrame:
    """Join points into [lo, hi) intervals via bucketized candidates.

    Each interval explodes to the width-``bucket_width`` buckets it
    overlaps; each point maps to exactly one bucket; the equi-join on
    bucket replaces the O(n·m) inequality cross join and the exact
    predicate filters the candidates. Choose ``bucket_width`` near
    the median interval width: wider → fewer candidate duplicates,
    narrower → fewer false candidates.

    ``broadcast_intervals``: the usual shape is points ≫ intervals
    (bands, calendars, IP ranges), and the right 100 TB plan
    broadcasts the exploded intervals so the point side never
    shuffles. Local-relation intervals (``createDataFrame``) have
    unknown optimizer stats, so without the hint Spark may instead
    broadcast the POINT side — correct at test scale, fatal at 100×.
    True forces the hint; None (default) applies it when the
    POST-EXPLOSION size is known-small (<8 MB); False never does.

    Auto mode sizes what is actually broadcast: the hint lands on the
    exploded ``iv``, which fans out by (hi−lo)/bucket_width buckets
    per interval, so gating on the raw relation alone lets a mis-sized
    ``bucket_width`` force an arbitrarily larger broadcast. When the
    raw side passes the 8 MB stats gate, a one-row aggregate over it
    measures the average bucket fan-out and the product must still fit
    — a bounded probe (it scans a known-≤8 MB relation once, never the
    point side) rather than a guess. An explicit ``True`` skips the
    probe: the caller asserts the exploded side fits.
    """
    if how not in ("inner", "left"):
        raise OperatorConfigError("range_join supports inner/left")
    bw = float(bucket_width)
    # interval columns colliding with point columns get an _r suffix
    # (interval_join's convention): the unsuffixed join produced
    # ambiguous references that broke the `left` branch at analysis
    renames = {
        c: (c + "_r" if c in points.columns else c) for c in intervals.columns
    }
    intervals = intervals.select(
        *[F.col(c).alias(renames[c]) for c in intervals.columns]
    )
    lo_col, hi_col = renames[lo_col], renames[hi_col]
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bw).cast("long"),
                F.floor((F.col(hi_col) - 1e-12) / bw).cast("long"),
            )
        ),
    )
    if broadcast_intervals is None:
        from etl_core_spark.session import estimated_size_bytes

        try:
            size = estimated_size_bytes(intervals)
            if size is not None and size <= (8 << 20):
                probe = intervals.select(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.floor((F.col(hi_col) - 1e-12) / bw).cast("long")
                        - F.floor(F.col(lo_col) / bw).cast("long")
                        + F.lit(1)
                    ).alias("buckets"),
                ).first()
                n = probe["n"] or 0
                buckets = probe["buckets"] or 0
                fanout = (buckets / n) if n else 1.0
                broadcast_intervals = size * max(1.0, fanout) <= (8 << 20)
            else:
                broadcast_intervals = False
        except Exception:
            broadcast_intervals = False
    if broadcast_intervals:
        iv = F.broadcast(iv)
    pt = points.withColumn("__bucket", F.floor(F.col(point_col) / bw).cast("long"))
    cond = (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
    joined = pt.join(iv, on="__bucket", how="inner").filter(cond).drop("__bucket")
    if how == "inner":
        return joined
    # left: keep unmatched points with nulls
    matched_keys = joined.select(*points.columns)
    unmatched = pt.drop("__bucket").exceptAll(matched_keys)
    for c in intervals.columns:
        unmatched = unmatched.withColumn(c, F.lit(None).cast(dict(intervals.dtypes)[c]))
    return joined.unionByName(unmatched)


@bind_operator("interval_join", in_ports=("left", "right"))
def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float,
    suffix: str = "_r",
) -> DataFrame:
    """Interval-overlap join: pair every left [lo, hi) with every
    right [lo, hi) interval that overlaps it (``l.lo < r.hi AND
    r.lo < l.hi``) — the interval×interval sibling of ``range_join``'s
    point-in-interval.

    Scale shape: BOTH sides explode to the width-``bucket_width``
    buckets they cover and candidates come from an equi-join on the
    bucket id — never an inequality cross join. An overlapping pair
    shares every bucket its intersection covers, so the naive
    candidate join emits the pair once per shared bucket and needs a
    ``distinct`` (an extra full shuffle of the output). Instead each
    pair is emitted ONLY from the bucket containing the start of the
    intersection, ``floor(greatest(l.lo, r.lo) / w)`` — a constant-
    time predicate on columns already in hand — so the join output is
    exactly one row per overlapping pair with no dedup stage at all.

    Right-side columns that collide with left names get ``suffix``
    (pandas-merge convention, matching the schema_mapping operator).

    Degenerate intervals (``hi <= lo``) are dropped from BOTH sides
    before exploding: a half-open [x, x) is empty and overlaps
    nothing, and an inverted interval would make ``sequence`` emit a
    DESCENDING bucket range (Spark defaults the step to -1 when
    start > stop), producing spurious candidate rows.
    """
    bw = float(bucket_width)
    if bw <= 0:
        raise OperatorConfigError("interval_join requires bucket_width > 0")

    def exploded(df: DataFrame, lo: str, hi: str) -> DataFrame:
        return df.where(F.col(hi) > F.col(lo)).withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / bw).cast("long"),
                    F.floor((F.col(hi) - 1e-12) / bw).cast("long"),
                )
            ),
        )

    renames = {
        c: (c + suffix if c in left.columns else c) for c in right.columns
    }
    r = right.select(*[F.col(c).alias(renames[c]) for c in right.columns])
    r_lo, r_hi = renames[right_lo], renames[right_hi]

    le = exploded(left, left_lo, left_hi)
    re_ = exploded(r, r_lo, r_hi)
    overlap = (F.col(left_lo) < F.col(r_hi)) & (F.col(r_lo) < F.col(left_hi))
    start_bucket = F.floor(
        F.greatest(F.col(left_lo), F.col(r_lo)) / bw
    ).cast("long")
    return (
        le.join(re_, on="__bucket", how="inner")
        .where(overlap & (F.col("__bucket") == start_bucket))
        .drop("__bucket")
    )


def _check_temporal_join(how, **_) -> None:
    ensure(how in ("inner", "left"), "temporal_join how must be inner|left")


@bind_operator("temporal_join", in_ports=("facts", "dim"), check=_check_temporal_join)
def temporal_join(
    facts: DataFrame,
    dim: DataFrame,
    on: list[str],
    ts_col: str,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    how: str = "inner",
) -> DataFrame:
    """Point-in-time dimension lookup: each fact row joins the
    dimension VERSION that was valid at its event time —
    ``key match AND valid_from <= ts AND (ts < valid_to OR valid_to
    IS NULL)`` (NULL valid_to = the open version, the scd2_merge
    output convention). The event-to-SCD2 primitive: enriching
    events with the attribute values as they were THEN, not as they
    are now.

    Correctness guarantees: with non-overlapping version intervals
    per key (what scd2_merge produces) each fact matches AT MOST one
    version — pinned by a validation in the wrapper tests, not
    enforced per-row (an overlap check would cost a window pass the
    well-formed case never needs). ``how='left'`` keeps facts whose
    time falls in a coverage gap or before the first version
    (NULL-padded dimension columns).

    Scale shape: ONE keyed equi-join on the version keys — the
    interval predicate rides as a post-join filter, so the physical
    plan is hash-join-shaped, not cartesian; version fan-out per key
    is bounded by that key's version COUNT (dim history depth, not
    corpus size). Spark plans key-equality + range residual natively;
    for a dimension small enough to broadcast AQE does it from
    stats. Collision-safe: dimension columns that clash with fact
    columns get a ``_dim`` suffix (the pandas `_x/_y` convention,
    deterministic).
    """
    if how not in ("inner", "left"):
        raise OperatorConfigError("temporal_join how must be inner|left")
    if not on:
        raise OperatorConfigError("temporal_join requires join keys 'on'")
    fact_cols = set(facts.columns)
    d = dim
    renames = {}
    for c in dim.columns:
        if c in fact_cols and c not in on:
            new = f"{c}_dim"
            # the suffixed name must be FREE on both sides — a dim
            # holding both 'price' and 'price_dim' (or a fact already
            # holding 'price_dim') would otherwise yield two ambiguous
            # 'price_dim' output columns
            if new in fact_cols or new in dim.columns:
                raise OperatorConfigError(
                    f"temporal_join: cannot disambiguate column {c!r} — "
                    f"the collision suffix name {new!r} already exists; "
                    "rename it on one side first"
                )
            renames[c] = new
            d = d.withColumnRenamed(c, new)
    vf = renames.get(valid_from_col, valid_from_col)
    vt = renames.get(valid_to_col, valid_to_col)
    cond = None
    for k in on:
        eq = facts[k].eqNullSafe(d[k])
        cond = eq if cond is None else (cond & eq)
    cond = (
        cond
        & (d[vf] <= facts[ts_col])
        & (d[vt].isNull() | (facts[ts_col] < d[vt]))
    )
    joined = facts.join(d, cond, how)
    # collapse duplicated key columns to the fact side
    out_cols = [facts[c] for c in facts.columns] + [
        d[c] for c in d.columns if c not in on
    ]
    return joined.select(*out_cols)
