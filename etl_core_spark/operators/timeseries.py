"""Time-series / profiling operators (beyond-reference).

- ``zscore_outliers``: flag rows whose value deviates more than k
  standard deviations from their group mean. Two-pass shape: a tiny
  per-group stats aggregate broadcast back onto the stream — no
  window function, no per-group sort, so the big side stays a narrow
  map (the classic scalable outlier pass; a Window over the group
  would sort 100 TB for no reason).
- ``densify_buckets``: fill gaps in a per-key bucketed series — the
  missing (key, bucket) combinations materialize with a fill value.
  Built from ``sequence``/``explode`` over each key's observed
  [min, max] span + a left anti-ish join; the bucket span table is
  tiny (one row per key) and the explode is bounded by span/step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_core_spark.operators.base import (
    Operator,
    OperatorConfigError,
    PortMap,
    bind_operator,
    ensure,
    register_operator,
)


@bind_operator("zscore_outliers")
def zscore_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    threshold: float = 3.0,
    broadcast_stats: bool | None = None,
) -> DataFrame:
    """Annotate rows with (mean, std, zscore, is_outlier) computed
    per group (or globally when ``group_cols`` is empty). std is the
    sample standard deviation (ddof=1, matching the aggregation
    operator and DuckDB's ``stddev``); groups with std 0/NULL (single
    row or constant) get zscore 0 and are never outliers.

    ``broadcast_stats``: the stats relation is one row per group —
    tiny for low-cardinality groups but O(|groups|) for per-user /
    per-domain calls, so the broadcast hint is stats-gated like
    ``funnel``'s (``None`` default: hint only when the optimizer
    estimate fits 8 MB; ``True`` forces; ``False`` never — the join
    then shuffles both sides on the group keys)."""
    group_cols = list(group_cols or [])
    stats_aggs = [
        F.avg(value_col).alias("__mean"),
        F.stddev_samp(value_col).alias("__std"),
    ]
    if group_cols:
        stats = df.groupBy(*group_cols).agg(*stats_aggs)
        # eqNullSafe per key: groupBy KEEPS null-key groups (their
        # stats exist), but a plain equi-join would silently DROP
        # every null-key row on the way back — an annotate operator
        # must never change the row count (same bug class as
        # exact_dedup's survivor join)
        stats_r = stats.select(
            *[F.col(c).alias(f"__g_{c}") for c in group_cols], "__mean", "__std"
        )
        cond = None
        for c in group_cols:
            eq = F.col(c).eqNullSafe(F.col(f"__g_{c}"))
            cond = eq if cond is None else (cond & eq)
        joined = df.join(
            _maybe_broadcast(stats_r, broadcast_stats), on=cond
        ).drop(*[f"__g_{c}" for c in group_cols])
    else:
        # global stats: exactly one row — always broadcastable
        stats = df.agg(*stats_aggs)
        joined = df.crossJoin(F.broadcast(stats))
    z = F.when(
        F.col("__std").isNotNull() & (F.col("__std") > 0),
        (F.col(value_col) - F.col("__mean")) / F.col("__std"),
    ).otherwise(F.lit(0.0))
    return (
        joined.withColumn("zscore", F.round(z, 6))
        # a NULL value has no zscore (kept NULL — honest), but the
        # FLAG must be a real boolean: a NULL is_outlier row vanishes
        # from BOTH branches of a filter(is_outlier)/filter(~is_outlier)
        # split, breaking the row-preserving annotate contract
        .withColumn(
            "is_outlier",
            F.coalesce(F.abs(F.col("zscore")) > threshold, F.lit(False)),
        )
        .withColumn("mean", F.round("__mean", 6))
        .withColumn("std", F.round("__std", 6))
        .drop("__mean", "__std")
    )


@bind_operator("densify_buckets")
def densify_buckets(
    df: DataFrame,
    key_cols: list[str],
    bucket_col: str,
    step: Column | str,
    agg_cols: dict[str, str] | None = None,
    fill: float = 0.0,
) -> DataFrame:
    """Aggregate to (key, bucket) and fill the missing buckets in
    each key's observed [min(bucket), max(bucket)] span with ``fill``.

    ``step`` is the bucket stride — an INTERVAL expression string for
    timestamp buckets (e.g. ``"INTERVAL 1 HOUR"``) or a Column/long
    for numeric buckets. ``agg_cols`` maps output name → "sum:col" /
    "count:*" specs applied during bucketing.

    Plan shape: one aggregation to buckets; one tiny per-key span
    aggregate exploded via ``sequence`` (bounded by span/step rows
    per key); a FULL OUTER join between the dense spine and the
    sparse buckets — observed buckets that do not land on the
    min+k*step grid (irregular data) keep their rows and aggregates
    instead of being silently dropped by a spine-sided left join.
    The spine is proportional to the OUTPUT, never the input."""
    agg_cols = agg_cols or {"n": "count:*"}
    aggs = []
    for out_name, spec in agg_cols.items():
        op, _, col = spec.partition(":")
        if op == "count":
            aggs.append(F.count(F.lit(1)).alias(out_name))
        elif op == "sum":
            aggs.append(F.round(F.sum(col), 6).alias(out_name))
        else:
            raise OperatorConfigError(f"unknown densify agg {spec!r}")
    sparse = df.groupBy(*key_cols, bucket_col).agg(*aggs)

    step_expr = F.expr(step) if isinstance(step, str) else step
    spans = sparse.groupBy(*key_cols).agg(
        F.min(bucket_col).alias("__lo"), F.max(bucket_col).alias("__hi")
    )
    spine = spans.select(
        *key_cols,
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"), step_expr)).alias(
            bucket_col
        ),
    )
    # NULL-SAFE full outer join: groupBy keeps NULL-key groups and the
    # spine generates their buckets, but plain key equality never
    # matches NULL = NULL — each observed NULL-key bucket would come
    # out TWICE (real aggregate + fill row). Same eqNullSafe treatment
    # as zscore's join-back above.
    join_cols = [*key_cols, bucket_col]
    spine_r = spine.select(
        *[F.col(c).alias(f"__sp_{c}") for c in join_cols]
    )
    cond = None
    for c in join_cols:
        eq = F.col(f"__sp_{c}").eqNullSafe(F.col(c))
        cond = eq if cond is None else (cond & eq)
    out = spine_r.join(sparse, on=cond, how="full").select(
        *[
            F.coalesce(F.col(c), F.col(f"__sp_{c}")).alias(c)
            for c in join_cols
        ],
        *[F.col(n) for n in agg_cols],
    )
    for out_name in agg_cols:
        # fill in the column's OWN dtype (a count stays long; 0.0
        # would silently widen it to double and break schema parity)
        dtype = sparse.schema[out_name].dataType
        out = out.withColumn(
            out_name, F.coalesce(F.col(out_name), F.lit(fill).cast(dtype))
        )
    return out


def _maybe_broadcast(df: DataFrame, force: bool | None, cap_bytes: int = 8 << 20):
    """Stats-gated broadcast hint — delegates to the engine-wide
    policy (session.maybe_broadcast) so all gates stay in sync."""
    from etl_core_spark.session import maybe_broadcast

    return maybe_broadcast(df, force, cap_bytes)


@bind_operator("funnel")
def funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    broadcast_stages: bool | None = None,
) -> DataFrame:
    """Ordered-sequence (funnel) analysis: for each user, how many of
    ``steps`` completed in order, each step strictly after the one
    before it. Output: one row per user who reached step 1, with
    ``stage`` (1..len(steps)) = deepest step reached.

    Scale shape — cascaded conditional-min aggregates, NOT a per-user
    ``collect_list``: a power user with millions of events would blow
    per-task memory if the engine gathered their whole history into
    one array. Instead stage k is ``min(ts) WHERE type = step_k AND
    ts > t_{k-1}``: a map-side-combinable aggregate over the events
    relation joined to the one-row-per-user stage-(k-1) table.
    ``broadcast_stages``: the stage table is small for product-scale
    funnels but is O(|users|) — at web scale it can be hundreds of
    millions of rows, so the broadcast hint is stats-gated (``None``
    default: hint only when the estimate fits 8 MB; ``True`` forces —
    the events side then never shuffles; ``False`` never). len(steps)
    passes over the (already type-pruned) events; state per user is
    one timestamp.
    """
    if not steps:
        raise OperatorConfigError("funnel requires at least one step")
    ev = df.select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__type"),
    ).where(F.col(type_col).isin(list(steps)))

    reached = (
        ev.where(F.col("__type") == steps[0])
        .groupBy("__u")
        .agg(F.min("__ts").alias("__t1"))
    )
    for k, step in enumerate(steps[1:], start=2):
        nxt = (
            ev.where(F.col("__type") == step)
            .join(
                _maybe_broadcast(
                    reached.select("__u", f"__t{k - 1}"), broadcast_stages
                ),
                on="__u",
            )
            .where(F.col("__ts") > F.col(f"__t{k - 1}"))
            .groupBy("__u")
            .agg(F.min("__ts").alias(f"__t{k}"))
        )
        reached = reached.join(nxt, on="__u", how="left")
    stage = F.lit(1)
    for k in range(2, len(steps) + 1):
        stage = F.when(F.col(f"__t{k}").isNotNull(), F.lit(k)).otherwise(stage)
    # deepest non-null __tk wins; __tk is only non-null if __t{k-1} was
    return reached.select(
        F.col("__u").alias(user_col), stage.cast("int").alias("stage")
    )


_ROLLING_AGGS = ("sum", "count", "mean", "min", "max")


def rolling_aggregate(
    df: DataFrame,
    time_col: str,
    value_col: str,
    window_seconds: int,
    partition_cols: list[str] | None = None,
    aggs: tuple[str, ...] = ("sum", "count"),
    value_decimals: int = 2,
    out_prefix: str = "rolling_",
) -> DataFrame:
    """Per-row trailing time-window aggregates (moving sum / count /
    mean / min / max over the last ``window_seconds``, bounds
    inclusive — SQL ``RANGE BETWEEN x PRECEDING AND CURRENT ROW``
    semantics, so equal timestamps are peers and share a frame).

    Cross-engine float discipline: sums and means go through
    fixed-point cents (``round(value·10^d)`` as BIGINT — exact,
    order-independent addition) and come back to double via ONE
    division, because engines disagree on windowed double-sum
    accumulation order (Spark incremental, DuckDB segment tree).
    ``min``/``max`` are order-free and stay double. Rows whose time
    is NULL get NULL rolling columns (engines disagree on NULL
    ORDER-BY peer groups; a contract beats a quirk).

    Scale shape: ONE keyed shuffle (the window partition), no joins,
    no second scan. Empty ``partition_cols`` means a single global
    ordered partition — one reducer; only for small inputs
    (validated loudly at the operator surface).
    """
    from pyspark.sql import Window

    bad = [a for a in aggs if a not in _ROLLING_AGGS]
    if bad:
        raise OperatorConfigError(
            f"unknown rolling aggs {bad!r}; have {_ROLLING_AGGS}"
        )
    scale = 10 ** int(value_decimals)
    base = df.withColumn(
        "__ts", F.col(time_col).cast("timestamp").cast("long")
    )
    ok = base.where(F.col("__ts").isNotNull())
    nul = base.where(F.col("__ts").isNull())
    w = (
        Window.partitionBy(*(partition_cols or []))
        .orderBy("__ts")
        .rangeBetween(-int(window_seconds), 0)
    )
    cents = F.round(F.col(value_col).cast("double") * F.lit(scale)).cast(
        "long"
    )
    sum_cents = F.sum(cents).over(w)
    cnt = F.count(F.col(value_col)).over(w)
    out_exprs = {
        "sum": lambda: sum_cents.cast("double") / F.lit(float(scale)),
        "count": lambda: cnt,
        "mean": lambda: sum_cents.cast("double") / (cnt * F.lit(scale)),
        "min": lambda: F.min(F.col(value_col).cast("double")).over(w),
        "max": lambda: F.max(F.col(value_col).cast("double")).over(w),
    }
    for a in aggs:
        ok = ok.withColumn(out_prefix + a, out_exprs[a]())
        nul = nul.withColumn(
            out_prefix + a,
            F.lit(None).cast("long" if a == "count" else "double"),
        )
    return ok.unionByName(nul).drop("__ts")


@register_operator("rolling_aggregate")
class RollingAggregateOperator(Operator):
    """Config: ``time_col``, ``value_col``, ``window_seconds``
    (required); ``partition_cols``, ``aggs``, ``value_decimals``,
    ``out_prefix``."""

    in_ports = ("in",)
    out_ports = ("out",)

    def validate_config(self) -> None:
        for key in ("time_col", "value_col"):
            if not self.config.get(key):
                raise OperatorConfigError(f"rolling_aggregate requires {key!r}")
        # is-None check, not truthiness: window_seconds=0 is a legal
        # frame (current row + equal-timestamp peers only) — the
        # bucket_width pattern of range_join
        if self.config.get("window_seconds") is None:
            raise OperatorConfigError(
                "rolling_aggregate requires 'window_seconds'"
            )
        if not self.config.get("partition_cols") and not self.config.get(
            "allow_global_window"
        ):
            raise OperatorConfigError(
                "rolling_aggregate without partition_cols runs on ONE "
                "reducer; pass allow_global_window=true to accept that "
                "on a small input"
            )

    def apply(self, inputs: PortMap) -> PortMap:
        c = self.config
        return {
            "out": rolling_aggregate(
                self.single_input(inputs),
                c["time_col"],
                c["value_col"],
                int(c["window_seconds"]),
                list(c.get("partition_cols") or []),
                tuple(c.get("aggs") or ("sum", "count")),
                int(c.get("value_decimals", 2)),
                c.get("out_prefix", "rolling_"),
            )
        }


@bind_operator("mad_outliers")
def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    threshold: float = 3.5,
    broadcast_stats: bool | None = None,
) -> DataFrame:
    """Robust outlier annotation via the modified z-score (Iglewicz &
    Hoaglin 1993): ``0.6745 * (x - median) / MAD`` with the exact
    per-group median and median-absolute-deviation, flagged beyond
    ``threshold`` (their recommended 3.5). Survives the failure mode
    that breaks ``zscore_outliers`` — a few huge values inflate the
    mean and std until nothing is an outlier; median and MAD have a
    50% breakdown point. Groups with MAD 0/NULL (constant or
    single-row) get robust_z 0 and are never outliers; NULL values
    keep NULL robust_z but a real ``false`` flag (the annotate
    contract: a NULL flag would vanish from both filter branches).

    Cross-engine: Spark's exact ``percentile`` and DuckDB's
    ``quantile_cont`` share the linear-interpolation definition (the
    certified ``percentiles`` discipline) and the consistency
    constant is one shared literal, so robust_z matches bit-for-bit
    before its 6dp round.

    Scale shape: the median and the MAD are both tiny per-group
    percentile aggregates; the deviation pass joins the (broadcast)
    median table onto the data ONLY inside the MAD aggregate's
    lineage, and the annotated output is built from a SINGLE
    stats-gated broadcast join-back of the combined (median, MAD)
    table — the big side is joined once, never sorted or windowed.
    (A naive two-stage join-back re-shuffles the annotated relation
    for the second stats join because the optimizer has no size
    estimate for a post-join aggregate — measured as an extra
    SortMergeJoin of the full input; this shape avoids it
    structurally.) Exact percentile sorts values WITHIN the aggregate
    at 100 TB; the sketch alternative is ``approx_quantiles``.
    """
    group_cols = list(group_cols or [])
    # Iglewicz-Hoaglin consistency constant 1/1.4826 = qnorm(0.75):
    # one literal shared with the SQL oracle so the product is the
    # same IEEE expression tree in both engines
    c = F.lit(0.6744897501960817)
    v = F.col(value_col).cast("double")
    if group_cols:
        med = df.groupBy(*group_cols).agg(
            F.percentile(v, F.lit(0.5)).alias("__med")
        )
        med_r = med.select(
            *[F.col(g).alias(f"__g_{g}") for g in group_cols], "__med"
        )
        cond = None
        for g in group_cols:
            eq = F.col(g).eqNullSafe(F.col(f"__g_{g}"))
            cond = eq if cond is None else (cond & eq)
        # the median table comes straight off a scan aggregate, so the
        # optimizer CAN estimate it — the gated broadcast fires here
        dev = df.join(_maybe_broadcast(med_r, broadcast_stats), on=cond)
        mad = dev.groupBy(*[F.col(f"__g_{g}") for g in group_cols]).agg(
            F.percentile(F.abs(v - F.col("__med")), F.lit(0.5)).alias("__mad")
        )
        # tiny x tiny (both <= |groups| rows by construction): always
        # broadcastable regardless of the opaque post-join estimate
        stats = med_r.join(
            F.broadcast(mad), on=[f"__g_{g}" for g in group_cols], how="left"
        )
        with_mad = df.join(
            _maybe_broadcast(stats, broadcast_stats), on=cond
        ).drop(*[f"__g_{g}" for g in group_cols])
    else:
        med = df.agg(F.percentile(v, F.lit(0.5)).alias("__med"))
        mad = (
            df.crossJoin(F.broadcast(med))
            .agg(F.percentile(F.abs(v - F.col("__med")), F.lit(0.5)).alias("__mad"))
        )
        with_mad = df.crossJoin(F.broadcast(med)).crossJoin(F.broadcast(mad))
    z = F.when(
        F.col("__mad").isNotNull() & (F.col("__mad") > 0),
        c * (v - F.col("__med")) / F.col("__mad"),
    ).otherwise(F.when(v.isNotNull(), F.lit(0.0)))
    return (
        with_mad.withColumn("robust_z", F.round(z, 6))
        .withColumn(
            "is_outlier",
            F.coalesce(
                F.abs(
                    F.when(
                        F.col("__mad").isNotNull() & (F.col("__mad") > 0),
                        c * (v - F.col("__med")) / F.col("__mad"),
                    )
                )
                > F.lit(float(threshold)),
                F.lit(False),
            ),
        )
        .withColumn("median", F.round(F.col("__med"), 6))
        .withColumn("mad", F.round(F.col("__mad"), 6))
        .drop("__med", "__mad")
    )


@bind_operator("retention_cohorts")
def retention_cohorts(
    df: DataFrame,
    user_col: str,
    time_col: str,
    granularity: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the truncated
    bucket of their FIRST event; every (cohort, period-offset) cell
    counts the distinct users from that cohort active in that later
    period — the product-analytics retention triangle. Granularities:
    ``week`` (ISO Monday start — Spark and DuckDB agree) / ``day`` /
    ``month``. Offsets are exact bucket distances (weeks: day-diff/7,
    always integral since both ends are week starts; months: 12*year
    + month deltas).

    Scale shape: first-seen is one map-side-combinable min-aggregate
    per user; the join-back is a keyed AQE-sized equi-join (user
    cardinality is large — no broadcast assumption); the cell count
    is a distinct-per-cell aggregate. Integer counts → bit-exact
    cross-engine.
    """
    if granularity not in ("day", "week", "month"):
        raise OperatorConfigError(
            f"retention_cohorts granularity must be day/week/month, "
            f"got {granularity!r}"
        )
    ts = F.col(time_col).cast("timestamp")
    bucket = F.date_trunc(granularity, ts).cast("date")
    ev = df.where(ts.isNotNull() & F.col(user_col).isNotNull()).select(
        F.col(user_col).alias("__u"), bucket.alias("__b")
    )
    first = ev.groupBy("__u").agg(F.min("__b").alias("cohort"))
    joined = ev.join(first, on="__u")
    if granularity == "month":
        off = (
            (F.year("__b") - F.year("cohort")) * 12
            + (F.month("__b") - F.month("cohort"))
        ).cast("int")
    elif granularity == "week":
        off = (F.datediff(F.col("__b"), F.col("cohort")) / 7).cast("int")
    else:
        off = F.datediff(F.col("__b"), F.col("cohort")).cast("int")
    return (
        joined.select("cohort", off.alias("period_offset"), "__u")
        .groupBy("cohort", "period_offset")
        .agg(F.countDistinct("__u").alias("n_users"))
    )


@bind_operator("markov_transitions")
def markov_transitions(
    df: DataFrame,
    user_col: str,
    time_col: str,
    event_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """First-order Markov transition matrix over per-entity event
    sequences: for every adjacent (state → next state) hop, its
    count and conditional probability ``p = n / Σ n(from, ·)`` — the
    user-journey / clickstream-model primitive. Ordering within an
    entity is (time, *order_cols*): pass a unique tiebreaker (an
    event id) so equal timestamps order deterministically — the
    operator is only as reproducible as its sort key is total.

    Cross-engine: counts are integers and the probability is ONE
    IEEE division of exact integers — bit-identical in the SQL
    oracle before its 6dp round.

    Scale shape: one keyed window shuffle (partition by entity —
    sequences are per-user short) for the ``lead``; transition and
    row-total counts are map-side-combinable aggregates over the
    (small) state-pair vocabulary; the totals join is
    vocabulary-sized and AQE handles it. The pair-count table is
    PERSISTED before fanning into its two consumers (counts + totals)
    — without it each branch re-runs the full window shuffle and
    scan (Spark shares no common subplans across DataFrame
    references; measured as a doubled ``hashpartitioning(user)``
    exchange).
    """
    from pyspark.sql import Window

    from etl_core_spark.session import persist_intermediate

    order = [F.col(time_col).asc()] + [
        F.col(c).asc() for c in (order_cols or [])
    ]
    w = Window.partitionBy(user_col).orderBy(*order)
    seq = df.select(
        F.col(event_col).alias("from_event"),
        F.lead(F.col(event_col)).over(w).alias("to_event"),
    ).where(F.col("to_event").isNotNull())
    t = persist_intermediate(
        seq.groupBy("from_event", "to_event").agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    tot = t.groupBy("from_event").agg(F.sum("n").alias("__total"))
    return (
        t.join(tot, on="from_event")
        .select(
            "from_event",
            "to_event",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("__total").cast("double"), 6
            ).alias("p"),
        )
    )


@bind_operator("event_paths")
def event_paths(
    df: DataFrame,
    user_col: str,
    time_col: str,
    event_col: str,
    order_cols: list[str] | None = None,
    max_len: int = 8,
    top_k: int = 50,
) -> DataFrame:
    """Top user journeys: each entity's chronologically ordered event
    sequence (capped at its first ``max_len`` events) rendered as a
    ``a>b>c`` path string, counted across entities, top-k by
    frequency — the "most common paths" view every product-analytics
    tool ships next to the funnel. Ties rank deterministically
    (count desc, path asc). Rows with NULL entity/time/event are
    dropped (a journey needs all three). Pass a unique tiebreaker in
    ``order_cols`` so equal timestamps order totally.

    Scale shape: one groupBy-entity aggregate whose in-group order
    comes from ``array_sort`` over (time, tiebreak, event) structs
    INSIDE the aggregate — no window, no per-entity sort of the
    relation (the assemble_docs discipline); per-group state is
    bounded by ``max_len`` only after the slice, so journeys of
    pathological users still cap the OUTPUT (cap input upstream with
    cap_per_group if per-user event counts are unbounded). The path
    count is a map-side-combinable aggregate over path-string
    cardinality; top-k is TakeOrdered, never a global sort.

    Cross-engine: path strings and integer counts — bit-exact.
    """
    if int(max_len) < 1 or int(top_k) < 1:
        raise OperatorConfigError("event_paths max_len/top_k must be >= 1")
    extra = [F.col(c) for c in (order_cols or [])]
    ev = df.where(
        F.col(user_col).isNotNull()
        & F.col(time_col).isNotNull()
        & F.col(event_col).isNotNull()
    )
    seq = ev.groupBy(user_col).agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col(time_col).alias("__t"),
                                *[
                                    c.alias(f"__o{i}")
                                    for i, c in enumerate(extra)
                                ],
                                F.col(event_col).alias("__e"),
                            )
                        )
                    ),
                    lambda s: s["__e"],
                ),
                1,
                int(max_len),
            ),
            ">",
        ).alias("path")
    )
    return (
        seq.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(int(top_k))
    )


@bind_operator("interpolate")
def interpolate(
    df: DataFrame,
    key_cols: list[str],
    time_col: str,
    value_col: str,
    step: Column | str,
    method: str = "linear",
) -> DataFrame:
    """Resample each key's series onto a dense time grid and fill the
    gaps: ``linear`` interpolates interior NULL buckets between the
    surrounding observations (pandas ``interpolate`` semantics);
    ``ffill`` carries the last observation forward. The missing-value
    repair step between bucketing and any rolling/seasonal analysis.

    Contract: rows with NULL time pass through as their own rows
    (un-placeable on a grid) but are EXCLUDED from the neighbor
    window — they must not leak into ffill's leading gaps;
    duplicate (key, time) rows collapse by mean first
    (pre-aggregate upstream for anything else); observed values pass
    through BIT-UNCHANGED; filled values are floor-quantized at 6dp
    (division is involved — the Java-vs-C rounding-tie lesson);
    ``is_filled`` marks synthesized rows. Leading gaps stay NULL
    under both methods, trailing gaps stay NULL under ``linear``
    (no extrapolation). ``step`` is an INTERVAL string for timestamp
    grids or a Column/long for numeric grids; linear ratios use the
    time cast to double (epoch seconds for timestamps), identical in
    DuckDB's ``epoch``.

    Scale shape: the spine explode is bounded by span/step rows per
    key (proportional to OUTPUT, never input — the densify_buckets
    discipline) with a null-safe FULL OUTER join so off-grid
    observations survive; prev/next neighbor lookup is four framed
    window expressions over ONE (key, time) sort — Spark plans all
    four into a single Window exchange, no self-join, per-row state
    O(1). No driver collects.
    """
    if method not in ("linear", "ffill"):
        raise OperatorConfigError("interpolate method must be linear|ffill")
    if not key_cols:
        raise OperatorConfigError("interpolate requires key_cols")
    from pyspark.sql import Window

    # NULL-time observations are un-placeable on a grid AND would
    # sort NULLS FIRST in the neighbor window, carrying their value
    # into the earliest grid rows under ffill — violating the
    # leading-gaps-stay-NULL contract. They route AROUND the spine/
    # window pipeline (the rolling_aggregate nul-branch pattern) and
    # union back as pass-through rows at the end.
    all_obs = df.groupBy(*key_cols, time_col).agg(
        F.avg(value_col).alias("__v")
    )
    nul_obs = all_obs.where(F.col(time_col).isNull())
    obs = all_obs.where(F.col(time_col).isNotNull())
    step_expr = F.expr(step) if isinstance(step, str) else step
    spans = obs.groupBy(*key_cols).agg(
        F.min(time_col).alias("__lo"), F.max(time_col).alias("__hi")
    )
    spine = spans.select(
        *key_cols,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), step_expr)
        ).alias(time_col),
    )
    join_cols = [*key_cols, time_col]
    spine_r = spine.select(
        *[F.col(c).alias(f"__sp_{c}") for c in join_cols]
    )
    cond = None
    for c in join_cols:
        eq = F.col(f"__sp_{c}").eqNullSafe(F.col(c))
        cond = eq if cond is None else (cond & eq)
    dense = spine_r.join(obs, on=cond, how="full").select(
        *[
            F.coalesce(F.col(c), F.col(f"__sp_{c}")).alias(c)
            for c in join_cols
        ],
        "__v",
    )
    w = Window.partitionBy(*key_cols).orderBy(time_col)
    prev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nxt = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    t_obs = F.when(F.col("__v").isNotNull(), F.col(time_col))
    dense = dense.select(
        *join_cols,
        "__v",
        F.last("__v", ignorenulls=True).over(prev).alias("__pv"),
        F.last(t_obs, ignorenulls=True).over(prev).alias("__pt"),
        F.first("__v", ignorenulls=True).over(nxt).alias("__nv"),
        F.first(t_obs, ignorenulls=True).over(nxt).alias("__nt"),
    )
    tnum = F.col(time_col).cast("double")
    if method == "ffill":
        filled = F.col("__pv")
    else:
        ratio = (tnum - F.col("__pt").cast("double")) / (
            F.col("__nt").cast("double") - F.col("__pt").cast("double")
        )
        filled = F.when(
            F.col("__pv").isNotNull() & F.col("__nv").isNotNull(),
            F.floor(
                (F.col("__pv") + (F.col("__nv") - F.col("__pv")) * ratio)
                * F.lit(1e6)
            )
            / F.lit(1e6),
        )
    gridded = dense.select(
        *join_cols,
        F.coalesce(F.col("__v"), filled).alias(value_col),
        F.col("__v").isNull().alias("is_filled"),
    )
    return gridded.unionByName(
        nul_obs.select(
            *key_cols,
            F.col(time_col),
            F.col("__v").alias(value_col),
            F.lit(False).alias("is_filled"),
        )
    )


def _sequential_fold(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str | list[str],
    out_fields: list[tuple[str, str]],
    init,
    step,
) -> DataFrame:
    """Shared plumbing for the per-series recursive smoothers
    (ewma / holt_linear / holt_winters / cusum): ONE hash shuffle on
    the key, a partition-local sort on (key, order), then ONE
    Arrow-batched ``mapInPandas`` STREAM per partition whose fold
    state resets at key boundaries. Identical float sequences to a
    per-group ``applyInPandas`` (rows of a key are contiguous and
    ordered), but ~#partitions pandas invocations instead of #keys —
    measured 3-4x faster when keys are small, and the same per-task
    overhead discipline a 1000-executor run wants.

    ``init() -> carry``; ``step(carry, x) -> (carry, (out, ...))``
    with one output value per ``out_fields`` (name, spark type).
    ``value_col`` may be a list of column names, in which case ``x``
    is a tuple in that order.
    """
    cols = list(df.columns)
    out_schema = ", ".join(
        f"`{fld.name}` {fld.dataType.simpleString()}" for fld in df.schema.fields
    ) + "".join(f", `{n}` {t}" for n, t in out_fields)
    keys = list(key_cols)
    vcs = [value_col] if isinstance(value_col, str) else list(value_col)
    single = isinstance(value_col, str)
    n_out = len(out_fields)

    def gen(batches):
        import pandas as pd

        cur = object()  # never equals a real key tuple
        carry = None
        for pdf in batches:
            outs = [[] for _ in range(n_out)]
            key_iter = zip(*[pdf[k].values for k in keys])
            val_iter = (
                iter(pdf[vcs[0]])
                if single
                else zip(*[pdf[v] for v in vcs])
            )
            for key, x in zip(key_iter, val_iter):
                if key != cur:
                    cur = key
                    carry = init()
                carry, vals = step(carry, x)
                for lst, v in zip(outs, vals):
                    lst.append(v)
            res = pdf.copy()
            for (name, typ), lst in zip(out_fields, outs):
                dtype = "float64" if typ == "double" else "object"
                res[name] = pd.Series(lst, index=pdf.index, dtype=dtype)
            yield res

    return (
        df.repartition(*keys)
        .sortWithinPartitions(*keys, *order_cols)
        .mapInPandas(gen, out_schema)
        .select(*cols, *[n for n, _ in out_fields])
    )


def _check_ewma(alpha, **_) -> None:
    ensure(0 < alpha <= 1, "ewma alpha must be in (0, 1]")


@bind_operator("ewma", check=_check_ewma)
def ewma(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.3,
    out_col: str = "ewma",
    quantize: int = 9,
) -> DataFrame:
    """Exponentially weighted moving average per key —
    ``s_1 = x_1; s_t = alpha*x_t + (1-alpha)*s_{t-1}`` along
    ``order_cols`` (which must be a TOTAL order within each key for
    cross-engine determinism — add a row id to break timestamp
    ties). The standard smoother for drift/metric series the
    rolling_aggregate window can't express (EWMA weights every
    prior point, recursively).

    Rows with NULL ``value_col`` don't advance the smoother: they
    carry the previous state (NULL before the first observation).
    Row-preserving; ``out_col`` floor-quantized (graph-family
    convention — the recursion is the identical float sequence in
    both engines when the oracle parenthesizes ``alpha*x +
    (1e0-alpha)*s`` the same way, so quantization only pins the
    decimal rendering).

    Scale shape: ONE hash shuffle on the key + ONE Arrow-batched
    ``mapInPandas`` stream per partition with the fold state
    resetting at key boundaries (``_sequential_fold`` — EWMA is
    inherently sequential per series; Spark has no recursive
    window). Series length bounds the sequential span — the
    per-entity-history class (markov_transitions, event_paths); a
    single pathological mega-key is the caller's re-keying problem,
    as there.
    """
    if not key_cols:
        raise OperatorConfigError("ewma requires key_cols")
    if not order_cols:
        raise OperatorConfigError("ewma requires order_cols")
    if not 0 < float(alpha) <= 1:
        raise OperatorConfigError("ewma alpha must be in (0, 1]")
    a = float(alpha)
    q = float(10 ** int(quantize))

    def init():
        return None

    def step(s, x):
        import math

        if x is not None and not (isinstance(x, float) and math.isnan(x)):
            xf = float(x)
            s = xf if s is None else a * xf + (1.0 - a) * s
        return s, (None if s is None else math.floor(s * q) / q,)

    return _sequential_fold(
        df, key_cols, order_cols, value_col,
        [(out_col, "double")], init, step,
    )


def _check_winsorize(lower, upper, **_) -> None:
    ensure(0.0 <= lower < upper <= 1.0, "winsorize needs 0 <= lower < upper <= 1")


@bind_operator("winsorize", check=_check_winsorize)
def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    lower: float = 0.01,
    upper: float = 0.99,
    out_col: str | None = None,
    quantize: int = 6,
) -> DataFrame:
    """Winsorization: clip ``value_col`` to its per-group exact
    [``lower``, ``upper``] interpolated percentile bounds — the
    robust-scaling step before aggregates a heavy tail would wreck
    (means, z-scores, regression features). Complements mad_outliers
    (which FLAGS) and zscore (which SCORES): winsorize REPAIRS, so
    downstream stays dense.

    Pins: percentile bounds use the linear-interpolation definition
    shared bit-for-bit by Spark ``percentile`` and DuckDB
    ``quantile_cont`` (the q_percentiles precedent); NULL values stay
    NULL; NaN values pass through unclipped (they have no place on a
    quantile scale); a group whose bounds are NULL (all-NULL values)
    passes its rows through; the output is floor-quantized to
    ``quantize`` dp (engine-rendering hygiene). Row-preserving.

    Scale shape: ONE map-side-combinable percentile aggregate per
    group + ONE keyed join-back (AQE-sized; broadcast one-row
    crossJoin when ungrouped) + a narrow clip projection. Exact
    percentile sorts value-lists per group inside the aggregate —
    the approx_quantiles sketch is the looser/cheaper alternative at
    extreme group cardinality.
    """
    if not value_col:
        raise OperatorConfigError("winsorize requires value_col")
    if not 0.0 <= float(lower) < float(upper) <= 1.0:
        raise OperatorConfigError(
            "winsorize needs 0 <= lower < upper <= 1"
        )
    g = list(group_cols or [])
    oc = out_col or f"{value_col}_w"
    q = float(10 ** int(quantize))
    xd = F.col(value_col).cast("double")
    clean = F.when(~F.isnan(xd), xd)
    # percentile must see NaN-free input (NaN sorts above +inf and
    # would drag the upper bound); build bounds from the cleaned col
    bounds = df.select(*g, clean.alias("__v")).groupBy(*g).agg(
        F.percentile(F.col("__v"), F.lit(float(lower))).alias("__lo"),
        F.percentile(F.col("__v"), F.lit(float(upper))).alias("__hi"),
    )
    if g:
        joined = df.join(bounds, on=g, how="left")
    else:
        joined = df.crossJoin(F.broadcast(bounds))
    clipped = (
        F.when(xd.isNull() | F.isnan(xd), xd)
        .when(F.col("__lo").isNull(), xd)
        .otherwise(F.least(F.greatest(xd, F.col("__lo")), F.col("__hi")))
    )
    out = F.when(
        clipped.isNotNull() & ~F.isnan(clipped),
        F.floor(clipped * q) / q,
    ).otherwise(clipped)
    return joined.withColumn(oc, out).drop("__lo", "__hi")


def _check_holt_linear(alpha, beta, **_) -> None:
    ensure(0 < alpha <= 1, "holt_linear alpha must be in (0, 1]")
    ensure(0 <= beta <= 1, "holt_linear beta must be in [0, 1]")


@bind_operator("holt_linear", check=_check_holt_linear)
def holt_linear(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.2,
    level_col: str = "level",
    trend_col: str = "trend",
    quantize: int = 9,
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per key
    (Holt 1957) — the forecasting step up from ``ewma`` when the
    series drifts: a smoothed LEVEL plus a smoothed TREND, so the
    h-step forecast is ``level + h*trend``::

        l_1 = x_1;  b_1 = 0
        l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}

    Pins (the ewma conventions): ``order_cols`` must totally order
    rows within a key; NULL values don't advance the smoother (state
    carries, NULL level/trend before the first observation); both
    outputs floor-quantized; the recursion is the identical float
    sequence in any engine that parenthesizes ``a*x + (1-a)*(l+b)``
    and ``b*(l_new-l) + (1-b)*t`` the same way, with ``l_new``
    computed ONCE and reused.

    Scale shape: ONE hash shuffle on the key + ONE Arrow-batched
    ``mapInPandas`` stream per partition, state resetting at key
    boundaries (``_sequential_fold`` — inherently sequential per
    series, like ewma/markov; Spark has no recursive window).
    """
    if not key_cols:
        raise OperatorConfigError("holt_linear requires key_cols")
    if not order_cols:
        raise OperatorConfigError("holt_linear requires order_cols")
    if not 0 < float(alpha) <= 1 or not 0 <= float(beta) <= 1:
        raise OperatorConfigError(
            "holt_linear needs alpha in (0,1], beta in [0,1]"
        )
    a = float(alpha)
    bb = float(beta)
    q = float(10 ** int(quantize))

    def init():
        return (None, 0.0)

    def step(carry, x):
        import math

        lv, tv = carry
        if x is not None and not (isinstance(x, float) and math.isnan(x)):
            xf = float(x)
            if lv is None:
                lv, tv = xf, 0.0
            else:
                lnew = a * xf + (1.0 - a) * (lv + tv)
                tv = bb * (lnew - lv) + (1.0 - bb) * tv
                lv = lnew
        if lv is None:
            return (lv, tv), (None, None)
        return (lv, tv), (
            math.floor(lv * q) / q, math.floor(tv * q) / q,
        )

    return _sequential_fold(
        df, key_cols, order_cols, value_col,
        [(level_col, "double"), (trend_col, "double")], init, step,
    )


def _check_holt_winters(period, alpha, beta, gamma, **_) -> None:
    ensure(period >= 2, "holt_winters period must be >= 2")
    ensure(0 < alpha <= 1, "holt_winters alpha must be in (0, 1]")
    ensure(0 <= beta <= 1, "holt_winters beta must be in [0, 1]")
    ensure(0 <= gamma <= 1, "holt_winters gamma must be in [0, 1]")


@bind_operator("holt_winters", check=_check_holt_winters)
def holt_winters(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    period: int,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    level_col: str = "level",
    trend_col: str = "trend",
    seasonal_col: str = "seasonal",
    quantize: int = 9,
) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing per key
    (Winters 1960) — the seasonal step up from ``holt_linear`` when
    the series cycles with period ``m``: a smoothed LEVEL, a smoothed
    TREND, and ``m`` smoothed SEASONAL indices::

        l_1 = x_1;  b_1 = 0;  s_j = 0 for the initial ring
        l_t = alpha*(x_t - s_{t-m}) + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}
        s_t = gamma*(x_t - l_t) + (1-gamma)*s_{t-m}

    Zero seasonal init (rather than the textbook first-cycle means)
    keeps the recursion a pure left-to-right fold — a mean-based init
    would tie every output to a float sum's reduction order, the same
    reason ``cusum`` takes a config target. The indices converge to
    the cycle shape after a few periods regardless.

    Pins (the ewma/holt conventions): ``order_cols`` must totally
    order rows within a key; NULL values carry ALL state (the
    seasonal ring does not rotate on a NULL); level/trend/seasonal
    floor-quantized; the recursion is the identical float sequence in
    any engine that parenthesizes ``a*(x - s_old) + (1-a)*(l + b)``,
    ``b*(l_new - l) + (1-b)*t`` and ``g*(x - l_new) + (1-g)*s_old``
    the same way, with ``l_new`` computed ONCE and reused.

    Scale shape: ONE hash shuffle on the key + ONE Arrow-batched
    ``mapInPandas`` stream per partition, state (including the
    seasonal ring) resetting at key boundaries (``_sequential_fold``
    — inherently sequential per series, the ewma/holt/cusum family).
    """
    if not key_cols:
        raise OperatorConfigError("holt_winters requires key_cols")
    if not order_cols:
        raise OperatorConfigError("holt_winters requires order_cols")
    if int(period) < 2:
        raise OperatorConfigError("holt_winters period must be >= 2")
    if not 0 < float(alpha) <= 1:
        raise OperatorConfigError("holt_winters alpha must be in (0, 1]")
    if not 0 <= float(beta) <= 1 or not 0 <= float(gamma) <= 1:
        raise OperatorConfigError(
            "holt_winters needs beta and gamma in [0, 1]"
        )
    m = int(period)
    a = float(alpha)
    bb = float(beta)
    g = float(gamma)
    q = float(10 ** int(quantize))

    def init():
        import collections

        return (None, 0.0, 0.0, collections.deque([0.0] * m))

    def step(carry, x):
        import math

        lv, tv, sv, ring = carry
        if x is not None and not (isinstance(x, float) and math.isnan(x)):
            xf = float(x)
            if lv is None:
                lv, tv, sv = xf, 0.0, 0.0
            else:
                s_old = ring.popleft()
                lnew = a * (xf - s_old) + (1.0 - a) * (lv + tv)
                tv = bb * (lnew - lv) + (1.0 - bb) * tv
                sv = g * (xf - lnew) + (1.0 - g) * s_old
                lv = lnew
                ring.append(sv)
        if lv is None:
            return (lv, tv, sv, ring), (None, None, None)
        return (lv, tv, sv, ring), (
            math.floor(lv * q) / q,
            math.floor(tv * q) / q,
            math.floor(sv * q) / q,
        )

    return _sequential_fold(
        df, key_cols, order_cols, value_col,
        [(level_col, "double"), (trend_col, "double"),
         (seasonal_col, "double")],
        init, step,
    )


def _check_cusum(slack, **_) -> None:
    ensure(slack >= 0, "cusum slack must be >= 0")


@bind_operator("cusum", check=_check_cusum)
def cusum(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    target: float,
    slack: float = 0.0,
    threshold: float | None = None,
    quantize: int = 9,
) -> DataFrame:
    """Two-sided CUSUM change detection per key (Page 1954): the
    classic drift alarm for metric streams —

        s+_t = max(0, s+_{t-1} + (x_t - target - slack))
        s-_t = max(0, s-_{t-1} + (target - x_t - slack))

    with an alarm when either side exceeds ``threshold``. ``target``
    is the in-control mean and is CONFIG-SUPPLIED (from a calibration
    window or SLO), keeping the operator one-pass and the recursion a
    pure function of the data — a data-derived mean would make every
    alarm depend on a float sum's reduction order. ``slack`` is the
    usual k allowance (half the shift you want to detect).

    Pins (the ewma/holt conventions): ``order_cols`` totally order
    rows within a key; NULL values carry state; s+/s- floor-quantized;
    identical parenthesization in both engines.

    Scale shape: ONE key shuffle + ONE Arrow-batched ``mapInPandas``
    stream per partition, state resetting at key boundaries
    (``_sequential_fold`` — the sequential-per-series family).
    """
    if not key_cols:
        raise OperatorConfigError("cusum requires key_cols")
    if not order_cols:
        raise OperatorConfigError("cusum requires order_cols")
    if float(slack) < 0:
        raise OperatorConfigError("cusum slack must be >= 0")
    if threshold is not None and float(threshold) <= 0:
        raise OperatorConfigError("cusum threshold must be > 0")
    t0 = float(target)
    kk = float(slack)
    h = None if threshold is None else float(threshold)
    q = float(10 ** int(quantize))

    def init():
        return (0.0, 0.0)

    def step(carry, x):
        import math

        sp, sn = carry
        if x is not None and not (isinstance(x, float) and math.isnan(x)):
            xf = float(x)
            sp = max(0.0, sp + (xf - t0 - kk))
            sn = max(0.0, sn + (t0 - xf - kk))
        return (sp, sn), (
            math.floor(sp * q) / q,
            math.floor(sn * q) / q,
            None if h is None else bool(sp > h or sn > h),
        )

    return _sequential_fold(
        df, key_cols, order_cols, value_col,
        [("s_pos", "double"), ("s_neg", "double"), ("alarm", "boolean")],
        init, step,
    )


def _check_theil_sen(time_divisor, **_) -> None:
    ensure(time_divisor > 0, "theil_sen time_divisor must be > 0")


@bind_operator("theil_sen", check=_check_theil_sen)
def theil_sen(
    df: DataFrame,
    key_cols: list[str],
    time_col: str,
    value_col: str,
    time_divisor: float = 1.0,
    slope_col: str = "slope",
    intercept_col: str = "intercept",
    max_points: int | None = 10000,
    quantize: int = 9,
) -> DataFrame:
    """Theil-Sen robust trend per key (Theil 1950, Sen 1968): the
    slope estimate is the MEDIAN of all pairwise slopes
    ``(v_j - v_i) / ((t_j - t_i) / time_divisor)`` over observation
    pairs with ``t_i < t_j`` (strictly — equal-time pairs are
    excluded, their slope is undefined), and the intercept is the
    median of per-observation residuals ``v - slope * (t /
    time_divisor)``. Breakdown point ~29%: a fifth of the series can
    be corrupted and the trend barely moves, unlike OLS — the robust
    counterpart to ``holt_linear`` for drift estimation over noisy
    metric series.

    ``time_col`` must be numeric (convert timestamps upstream, e.g.
    ``unix_micros``); ``time_divisor`` rescales the slope unit (e.g.
    86400e6 for per-day over microsecond times) INSIDE the pair
    expression so both engines divide identically. NULL times/values
    are dropped before pairing. One output row per key: ``n_obs``,
    ``n_pairs``, floor-quantized slope and intercept.

    Cross-engine: the pairwise-slope multiset is order-independent,
    Spark's exact ``percentile`` and DuckDB's ``quantile_cont`` share
    the (n-1)*p linear-interpolation definition (the winsorize pin),
    and the intercept reuses the UNquantized slope double — identical
    math end-to-end, so floor-quantization only pins rendering.

    Scale shape: ONE hash shuffle on the key, then a within-key
    self-join — O(n²) pairs per series, the bounded-series-length
    class (markov_transitions, event_paths). ``max_points`` guards
    the quadratic blowup with a bounded one-row aggregate probe and a
    loud error naming the re-keying fix; pass None to skip the probe
    (one fewer job) when series lengths are known-bounded.
    """
    if not key_cols:
        raise OperatorConfigError("theil_sen requires key_cols")
    if not time_col or not value_col:
        raise OperatorConfigError("theil_sen requires time_col and value_col")
    if float(time_divisor) <= 0:
        raise OperatorConfigError("theil_sen time_divisor must be > 0")
    dv = float(time_divisor)
    q = float(10 ** int(quantize))

    obs = df.select(
        *[F.col(k) for k in key_cols],
        F.col(time_col).cast("double").alias("__t"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(F.col("__t").isNotNull() & F.col("__v").isNotNull())

    if max_points is not None:
        worst = obs.groupBy(*key_cols).count().agg(
            F.max("count").alias("mx")
        ).collect()[0]["mx"]
        if worst is not None and worst > int(max_points):
            raise OperatorConfigError(
                f"theil_sen: a key holds {worst} observations "
                f"(> max_points={max_points}); pairwise slopes are "
                "quadratic per series — re-key to shorter series "
                "(e.g. add a time bucket to key_cols) or raise "
                "max_points explicitly"
            )

    a = obs.alias("a")
    b = obs.alias("b")
    key_eq = [F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}")) for k in key_cols]
    pairs = a.join(b, key_eq, "inner").where(
        F.col("a.__t") < F.col("b.__t")
    ).select(
        *[F.col(f"a.{k}").alias(k) for k in key_cols],
        (
            (F.col("b.__v") - F.col("a.__v"))
            / ((F.col("b.__t") - F.col("a.__t")) / F.lit(dv))
        ).alias("__slope"),
    )
    slopes = pairs.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile(F.col("__slope"), F.lit(0.5)).alias("__m"),
    )
    # keyed join, NOT broadcast: `slopes` is one row per key, which
    # grows with the key count; both sides are already hash-
    # partitioned on the key from the groupBy, so this reuses the
    # exchange instead of shipping an unbounded build side.
    resid = obs.join(slopes, key_cols, "inner").select(
        *key_cols,
        "n_pairs",
        "__m",
        (F.col("__v") - F.col("__m") * (F.col("__t") / F.lit(dv))).alias("__r"),
    )
    return resid.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.first("n_pairs").alias("n_pairs"),
        (F.floor(F.first("__m") * F.lit(q)) / F.lit(q)).alias(slope_col),
        (
            F.floor(F.percentile(F.col("__r"), F.lit(0.5)) * F.lit(q))
            / F.lit(q)
        ).alias(intercept_col),
    )


def _check_ols_trend(value_scale, time_divisor, **_) -> None:
    ensure(value_scale > 0, "ols_trend value_scale must be > 0")
    ensure(time_divisor > 0, "ols_trend time_divisor must be > 0")


@bind_operator("ols_trend", check=_check_ols_trend)
def ols_trend(
    df: DataFrame,
    key_cols: list[str],
    time_col: str,
    value_col: str,
    x_offset: int = 0,
    value_scale: int = 100,
    time_divisor: float = 1.0,
    quantize: int = 9,
) -> DataFrame:
    """Exact closed-form OLS line fit per key — slope, intercept and
    R² from the textbook sums::

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx)

    The least-squares counterpart to ``theil_sen`` (one aggregate, no
    pair table) — use OLS when the series is clean, Theil-Sen when it
    isn't.

    Exactness design (what makes this full-value certifiable when a
    naive double implementation is not): every moment sum runs in
    EXACT fixed-point arithmetic — ``x`` as integer ticks minus
    ``x_offset``, ``y`` as ``floor(v*value_scale + 0.5)`` integer
    units — so Spark's DECIMAL(38,0) sums and any 128-bit engine get
    bit-identical moments REGARDLESS of reduction order (a double
    Σxy depends on the partition schedule; an integer one doesn't).
    The only float math is the final fixed expression over the six
    exact moments. Caller must keep magnitudes inside 128 bits:
    center times with ``x_offset`` (a year of microseconds ~3e13
    squares to ~9e26; uncentered epochs overflow). Outputs: ``n``,
    ``slope`` (value units per ``time_divisor`` ticks),
    ``intercept`` (value units at x = ``x_offset``), ``r2``; all
    floor-quantized; NULL when the x-variance or y-variance is zero
    (vertical / degenerate fits).

    Scale shape: ONE map-side-combinable aggregate — six decimal
    sums — and a fixed scalar expression. Nothing else.
    """
    if not key_cols:
        raise OperatorConfigError("ols_trend requires key_cols")
    if not time_col or not value_col:
        raise OperatorConfigError("ols_trend requires time_col and value_col")
    if int(value_scale) <= 0:
        raise OperatorConfigError("ols_trend value_scale must be > 0")
    if float(time_divisor) <= 0:
        raise OperatorConfigError("ols_trend time_divisor must be > 0")
    q = float(10 ** int(quantize))
    # value units per time_divisor ticks, from integer-unit slope
    factor = float(time_divisor) / float(value_scale)

    dec = "decimal(38,0)"
    x = (F.col(time_col).cast("long") - F.lit(int(x_offset))).cast(dec)
    y = F.floor(
        F.col(value_col).cast("double") * F.lit(float(value_scale))
        + F.lit(0.5)
    ).cast(dec)
    base = df.where(
        F.col(time_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(*key_cols, x.alias("__x"), y.alias("__y"))

    agg = base.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
    )

    nd = F.col("n").cast(dec)
    num = (nd * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
    den = (nd * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
    deny = (nd * F.col("__syy") - F.col("__sy") * F.col("__sy"))
    stats = agg.select(
        *key_cols,
        "n",
        "__sx",
        "__sy",
        num.alias("__num"),
        den.alias("__den"),
        deny.alias("__deny"),
    )
    sl = F.col("__num").cast("double") / F.col("__den").cast("double")
    icept = (
        (
            F.col("__sy").cast("double") - sl * F.col("__sx").cast("double")
        )
        / F.col("n").cast("double")
    ) / F.lit(float(value_scale))
    r2 = (F.col("__num").cast("double") * F.col("__num").cast("double")) / (
        F.col("__den").cast("double") * F.col("__deny").cast("double")
    )
    nz = (F.col("__den") != 0) & (F.col("__deny") != 0)
    return stats.select(
        *key_cols,
        "n",
        F.when(
            nz, F.floor(sl * F.lit(factor) * F.lit(q)) / F.lit(q)
        ).alias("slope"),
        F.when(nz, F.floor(icept * F.lit(q)) / F.lit(q)).alias("intercept"),
        F.when(nz, F.floor(r2 * F.lit(q)) / F.lit(q)).alias("r2"),
    )


@bind_operator("kaplan_meier")
def kaplan_meier(
    df: DataFrame,
    key_cols: list[str],
    duration_col: str,
    event_col: str,
    quantize: int = 9,
) -> DataFrame:
    """Kaplan-Meier product-limit survival estimator per key (Kaplan
    & Meier 1958) — the standard retention/churn/time-to-failure
    curve with right-censoring: subjects still alive when observation
    ends (``event_col`` false) leave the risk set without counting as
    deaths. At each distinct duration t::

        S(t) = prod_{t_j <= t} (1 - d_j / n_j)

    with ``d_j`` events and ``n_j`` subjects at risk at t_j. One row
    per (key, distinct duration): ``n_risk``, ``n_event``,
    ``n_censor``, floor-quantized ``survival``.

    Cross-engine: d/n come from exact integer aggregates and window
    cumsums; the product is a left-to-right fold along ascending
    duration (censor-only steps multiply by exactly 1.0 — a float
    no-op — so the recursion is uniform), replayed verbatim by a
    recursive-CTE oracle. NULL durations drop.

    Scale shape: one (key, duration) aggregate, one per-key window
    cumsum over DISTINCT durations (not rows), then the
    ``_sequential_fold`` stream for the product — the
    sequential-per-series family; series length = distinct durations
    per key.
    """
    if not key_cols:
        raise OperatorConfigError("kaplan_meier requires key_cols")
    if not duration_col or not event_col:
        raise OperatorConfigError(
            "kaplan_meier requires duration_col and event_col"
        )
    from pyspark.sql import Window

    q = float(10 ** int(quantize))
    ev = F.coalesce(F.col(event_col).cast("boolean"), F.lit(False))
    base = df.where(F.col(duration_col).isNotNull()).select(
        *key_cols,
        F.col(duration_col).cast("double").alias("t"),
        ev.alias("__e"),
    )
    agg = base.groupBy(*key_cols, "t").agg(
        F.sum(F.when(F.col("__e"), 1).otherwise(0)).alias("n_event"),
        F.sum(F.when(F.col("__e"), 0).otherwise(1)).alias("n_censor"),
    )
    w_cum = (
        Window.partitionBy(*key_cols)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*key_cols)
    staged = agg.select(
        *key_cols,
        "t",
        "n_event",
        "n_censor",
        (
            F.sum(F.col("n_event") + F.col("n_censor")).over(w_all)
            - F.sum(F.col("n_event") + F.col("n_censor")).over(w_cum)
            + F.col("n_event")
            + F.col("n_censor")
        ).cast("long").alias("n_risk"),
    )

    def init():
        return 1.0

    def step(s, x):
        import math

        d, n = x
        s = s * (1.0 - float(d) / float(n))
        return s, (math.floor(s * q) / q,)

    out = _sequential_fold(
        staged, key_cols, ["t"], ["n_event", "n_risk"],
        [("survival", "double")], init, step,
    )
    return out.select(
        *key_cols, "t", "n_risk", "n_event", "n_censor", "survival"
    )


def _check_seasonal_decompose(period, **_) -> None:
    ensure(period >= 2, "seasonal_decompose period must be >= 2")


@bind_operator("seasonal_decompose", check=_check_seasonal_decompose)
def seasonal_decompose(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    period: int,
    value_scale: int = 100,
    quantize: int = 9,
) -> DataFrame:
    """Classical additive seasonal decomposition per key
    (Macaulay's centered-moving-average method): ``y = trend +
    seasonal + residual`` with the textbook estimators —

    - ``trend``: centered moving average over one period (the 2xm
      double average when ``period`` is even — half weights at both
      ends — the plain m-window when odd); NULL at the first/last
      half-window of each series;
    - ``seasonal``: the phase means of the detrended series,
      centered to sum to zero across the m phases;
    - ``residual``: what's left.

    The model-free EDA complement to holt_winters (which FITS a
    recursion; this MEASURES the cycle). Phase = 0-based position in
    the series modulo m, so series are assumed phase-aligned at
    their first observation.

    Exactness design (what makes this full-value certifiable): the
    value quantizes to integer ``value_scale`` units, the centered
    MA numerator ``N_t`` and the detrended numerator
    ``D_t = y*K - N_t`` (K = 2m even / m odd) are INTEGER window
    sums — order-independent — and the phase means are exact-int
    sums with one division; only the final fixed expressions are
    float. Keys missing a full trend window for some phase emit
    NULL seasonal/residual everywhere in that key (a partial phase
    mean would silently bias the cycle — fail loud, not wrong).

    Scale shape: ONE key shuffle; per-key ordered window frames
    (rank, the +-half-window sums), one (key, phase) aggregate, one
    m-column pivot joined back — nothing data-sized on the driver,
    no UDF.
    """
    if not key_cols:
        raise OperatorConfigError("seasonal_decompose requires key_cols")
    if not order_cols:
        raise OperatorConfigError("seasonal_decompose requires order_cols")
    if int(period) < 2:
        raise OperatorConfigError("seasonal_decompose period must be >= 2")
    if int(value_scale) <= 0:
        raise OperatorConfigError(
            "seasonal_decompose value_scale must be > 0"
        )
    from pyspark.sql import Window

    m = int(period)
    vs = int(value_scale)
    even = m % 2 == 0
    h = m // 2 if even else (m - 1) // 2
    k_fac = 2 * m if even else m
    q = float(10 ** int(quantize))

    yc = F.floor(
        F.col(value_col).cast("double") * F.lit(float(vs)) + F.lit(0.5)
    ).cast("long")
    base = df.where(F.col(value_col).isNotNull()).select(
        *key_cols, *order_cols, yc.alias("__y")
    )
    w_ord = Window.partitionBy(*key_cols).orderBy(*order_cols)
    base = base.withColumn(
        "__p", (F.row_number().over(w_ord) - F.lit(1)) % F.lit(m)
    )
    if even:
        w_mid = w_ord.rowsBetween(-(h - 1), h - 1)
        n_expr = (
            F.lag("__y", h).over(w_ord)
            + F.lit(2) * F.sum("__y").over(w_mid)
            + F.lead("__y", h).over(w_ord)
        )
        full = (
            F.lag("__y", h).over(w_ord).isNotNull()
            & F.lead("__y", h).over(w_ord).isNotNull()
            & (F.count("__y").over(w_mid) == F.lit(2 * h - 1))
        )
    else:
        w_full = w_ord.rowsBetween(-h, h)
        n_expr = F.sum("__y").over(w_full)
        full = F.count("__y").over(w_full) == F.lit(m)
    staged = base.withColumn(
        "__n", F.when(full, n_expr)
    ).withColumn(
        "__d", F.col("__y") * F.lit(k_fac) - F.col("__n")
    )

    # phase means of the detrended numerator (exact int sums)
    ph = staged.groupBy(*key_cols).agg(
        *[
            F.sum(
                F.when(F.col("__p") == p, F.col("__d"))
            ).alias(f"__ds{p}")
            for p in range(m)
        ],
        *[
            F.sum(
                F.when(
                    F.col("__p") == p, F.when(F.col("__d").isNotNull(), 1)
                )
            ).alias(f"__dc{p}")
            for p in range(m)
        ],
    )
    denom = float(k_fac) * float(vs)

    def s_raw(p):
        return F.col(f"__ds{p}").cast("double") / (
            F.col(f"__dc{p}").cast("double") * F.lit(denom)
        )

    s_cols = [s_raw(p).alias(f"__s{p}") for p in range(m)]
    ph = ph.select(*key_cols, *s_cols)
    sbar = None
    for p in range(m):
        c = F.col(f"__s{p}")
        sbar = c if sbar is None else sbar + c
    ph = ph.select(
        *key_cols,
        *[F.col(f"__s{p}") for p in range(m)],
        (sbar / F.lit(float(m))).alias("__sbar"),
    )
    seas_cols = [
        (F.col(f"__s{p}") - F.col("__sbar")).alias(f"__seas{p}")
        for p in range(m)
    ]
    ph = ph.select(*key_cols, *seas_cols)

    joined = staged.join(ph, key_cols, "left")
    seas = None
    for p in range(m):
        c = F.col(f"__seas{p}")
        seas = (
            F.when(F.col("__p") == p, c)
            if seas is None
            else seas.when(F.col("__p") == p, c)
        )
    trend = F.col("__n").cast("double") / F.lit(denom)
    yq = F.col("__y").cast("double") / F.lit(float(vs))
    resid = yq - trend - seas
    return joined.select(
        *key_cols,
        *order_cols,
        (F.floor(trend * F.lit(q)) / F.lit(q)).alias("trend"),
        (F.floor(seas * F.lit(q)) / F.lit(q)).alias("seasonal"),
        (F.floor(resid * F.lit(q)) / F.lit(q)).alias("residual"),
    )


def _check_acf(max_lag, value_scale, **_) -> None:
    ensure(max_lag >= 1, "acf max_lag must be >= 1")
    ensure(value_scale > 0, "acf value_scale must be > 0")


@bind_operator("acf", check=_check_acf)
def acf(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    max_lag: int = 5,
    value_scale: int = 100,
    quantize: int = 9,
) -> DataFrame:
    """Sample autocorrelation function per key (Box & Jenkins 1970)
    → ``(key…, lag, n_pairs, acf)`` for lags 1..``max_lag``::

        r_k = sum_{t=1..n-k} (y_t - ybar)(y_{t+k} - ybar)
              / sum_{t=1..n} (y_t - ybar)^2

    the standard full-series-denominator estimator — the seasonality
    / burst-detection meter next to ``seasonal_decompose``: a spike
    at lag 24 on hourly buckets is a daily cycle, near-1 at lag 1
    means the series is trend-dominated, all-near-0 means white
    noise (|r_k| > 2/sqrt(n) is the usual significance rule).

    Exactness design (the ``ols_trend`` discipline): ``y`` becomes
    ``floor(v*value_scale + 0.5)`` integer units and every moment is
    a DECIMAL(38,0) sum, so the mean never materializes as a float —
    multiply r_k through by n^2 and both sides are exact integers::

        n^2 * num_k = n^2*S_yy'^k - n*S*(head_k + tail_k) + n_k*S^2
        n^2 * den   = n*(n*S_y2 - S^2)

    (S_yy'^k = sum of y_t*y_{t+k}; head/tail = sums of the paired
    prefix/suffix). The only float math is the final division,
    floor-quantized. Bit-identical across engines regardless of
    reduction order. Magnitude bound: n^3*y^2 must stay inside 38
    digits — per-key series up to ~10^8 points at value_scale 100;
    beyond it the moments would overflow DECIMAL(38,0) to NULL, which
    the final projection detects (NULL moment with n_pairs > 0 cannot
    be zero variance) and raises loudly instead of emitting a NULL
    acf indistinguishable from a constant series.

    ``order_cols`` must be a TOTAL order within each key (add a
    unique id as tiebreak) or lead() is nondeterministic. Rows with
    NULL value drop first. Lags with no pairs (n <= k) emit no row;
    constant series (den = 0) emit NULL acf.

    Scale shape: ONE key-partitioned window sort carrying all
    ``max_lag`` lead columns + ONE map-side-combinable groupBy(key)
    producing the 3*max_lag+3 exact moments + a per-key explode to
    long form. No global window, no driver collects, fully lazy.
    """
    if not key_cols:
        raise OperatorConfigError("acf requires key_cols")
    if not order_cols:
        raise OperatorConfigError("acf requires order_cols")
    if not value_col:
        raise OperatorConfigError("acf requires value_col")
    if int(max_lag) < 1:
        raise OperatorConfigError("acf max_lag must be >= 1")
    if int(value_scale) <= 0:
        raise OperatorConfigError("acf value_scale must be > 0")
    from pyspark.sql import Window

    L = int(max_lag)
    q = float(10 ** int(quantize))
    dec = "decimal(38,0)"
    y = F.floor(
        F.col(value_col).cast("double") * F.lit(float(value_scale))
        + F.lit(0.5)
    ).cast(dec)
    base = df.where(F.col(value_col).isNotNull()).select(
        *key_cols, *[c for c in order_cols if c not in key_cols],
        y.alias("__y"),
    )
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    led = base.select(
        *key_cols,
        "__y",
        *[F.lead("__y", k).over(w).alias(f"__y{k}") for k in range(1, L + 1)],
    )
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.sum("__y").alias("__s"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
    ]
    for k in range(1, L + 1):
        lead_k = F.col(f"__y{k}")
        aggs += [
            F.count(lead_k).alias(f"__np{k}"),
            F.sum(F.col("__y") * lead_k).alias(f"__sp{k}"),
            F.sum(F.when(lead_k.isNotNull(), F.col("__y"))).alias(
                f"__h{k}"
            ),
            F.sum(lead_k).alias(f"__t{k}"),
        ]
    g = led.groupBy(*key_cols).agg(*aggs)
    nd = F.col("__n").cast(dec)
    den = nd * (nd * F.col("__syy") - F.col("__s") * F.col("__s"))
    lag_structs = [
        F.struct(
            F.lit(k).alias("lag"),
            F.col(f"__np{k}").cast("long").alias("n_pairs"),
            (
                nd * nd * F.col(f"__sp{k}")
                - nd * F.col("__s") * (F.col(f"__h{k}") + F.col(f"__t{k}"))
                + F.col(f"__np{k}").cast(dec) * F.col("__s") * F.col("__s")
            ).alias("num"),
        )
        for k in range(1, L + 1)
    ]
    exploded = g.select(
        *key_cols,
        den.alias("__den"),
        F.explode(F.array(*lag_structs)).alias("__e"),
    ).where(F.col("__e.n_pairs") > 0)
    r = F.col("__e.num").cast("double") / F.col("__den").cast("double")
    # DECIMAL(38,0) moments overflow silently to NULL in non-ANSI
    # Spark once n^3*y^2 exceeds 38 digits (~10^8 points per key at
    # value_scale 100). A legitimately constant series yields den = 0
    # (never NULL) with n_pairs > 0, so NULL den/num here can ONLY be
    # overflow — raise loudly instead of emitting a NULL acf that is
    # indistinguishable from zero variance.
    overflow = F.col("__den").isNull() | F.col("__e.num").isNull()
    return exploded.select(
        *key_cols,
        F.col("__e.lag").cast("int").alias("lag"),
        F.col("__e.n_pairs").alias("n_pairs"),
        F.when(
            overflow,
            F.raise_error(F.lit(
                "acf: DECIMAL(38,0) moment overflow — n^3*y^2 "
                "exceeded 38 digits for a key; lower value_scale or "
                "shard the key"
            )).cast("double"),
        ).when(
            F.col("__den") != 0, F.floor(r * F.lit(q)) / F.lit(q)
        ).alias("acf"),
    )


def _check_ccf(max_lag, value_scale, **_) -> None:
    ensure(max_lag >= 0, "ccf max_lag must be >= 0")
    ensure(value_scale > 0, "ccf value_scale must be > 0")


@bind_operator("ccf", check=_check_ccf)
def ccf(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    x_col: str,
    y_col: str,
    max_lag: int = 5,
    value_scale: int = 100,
    quantize: int = 9,
) -> DataFrame:
    """Sample cross-correlation function per key (Box & Jenkins 1970)
    → ``(key…, lag, n_pairs, ccf)`` for lags -``max_lag``..+``max_lag``
    between two aligned series::

        r_xy(k) = sum_{t} (x_t - xbar)(y_{t+k} - ybar)
                  / sqrt( sum (x_t - xbar)^2 * sum (y_t - ybar)^2 )

    positive lag = y LAGS x by k rows (x leads: a peak at k=+2 means
    x predicts y two steps ahead); negative lag mirrors with x
    lagging. Lag 0 is the plain Pearson numerator on the shared
    grid. The lead-lag diagnostic next to ``acf``: does search
    volume lead purchases, does error rate lead latency.

    Lags are ROW lags on the provided grid — align/densify the two
    series upstream (``interpolate``/``densify_buckets``) if
    calendar lags are meant. Rows where EITHER value is NULL drop
    first (pairwise-complete on the aligned grid).

    Exactness: the ``acf`` discipline — integer units, DECIMAL(38,0)
    moments, r multiplied through by n² so numerator and both
    variance terms are exact integers; the only float math is
    CAST → sqrt → sqrt → divide, all IEEE correctly-rounded and
    therefore bit-identical across engines, then floor-quantize.
    Zero x- or y-variance → NULL.

    Scale shape: ONE key-partitioned window carrying 2·max_lag lead
    columns + ONE map-side-combinable groupBy(key) + a per-key
    explode. No global window, no driver collects, fully lazy.
    """
    if not key_cols:
        raise OperatorConfigError("ccf requires key_cols")
    if not order_cols:
        raise OperatorConfigError("ccf requires order_cols")
    if not x_col or not y_col:
        raise OperatorConfigError("ccf requires x_col and y_col")
    if int(max_lag) < 0:
        raise OperatorConfigError("ccf max_lag must be >= 0")
    if int(value_scale) <= 0:
        raise OperatorConfigError("ccf value_scale must be > 0")
    from pyspark.sql import Window

    L = int(max_lag)
    q = float(10 ** int(quantize))
    dec = "decimal(38,0)"

    def units(col: str):
        return F.floor(
            F.col(col).cast("double") * F.lit(float(value_scale))
            + F.lit(0.5)
        ).cast(dec)

    base = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        *key_cols,
        *[c for c in order_cols if c not in key_cols],
        units(x_col).alias("__x"),
        units(y_col).alias("__y"),
    )
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    lead_cols = []
    for k in range(1, L + 1):
        lead_cols.append(F.lead("__y", k).over(w).alias(f"__yl{k}"))
        lead_cols.append(F.lead("__x", k).over(w).alias(f"__xl{k}"))
    led = base.select(*key_cols, "__x", "__y", *lead_cols)
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy0"),
    ]
    for k in range(1, L + 1):
        yl, xl = F.col(f"__yl{k}"), F.col(f"__xl{k}")
        aggs += [
            # +k: x_t against y_{t+k}
            F.count(yl).alias(f"__np{k}"),
            F.sum(F.col("__x") * yl).alias(f"__sp{k}"),
            F.sum(F.when(yl.isNotNull(), F.col("__x"))).alias(f"__hx{k}"),
            F.sum(yl).alias(f"__ty{k}"),
            # -k: y_t against x_{t+k}
            F.sum(F.col("__y") * xl).alias(f"__sm{k}"),
            F.sum(F.when(xl.isNotNull(), F.col("__y"))).alias(f"__hy{k}"),
            F.sum(xl).alias(f"__tx{k}"),
        ]
    g = led.groupBy(*key_cols).agg(*aggs)
    nd = F.col("__n").cast(dec)
    dx = nd * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    dy = nd * F.col("__syy") - F.col("__sy") * F.col("__sy")

    def num(k: int):
        """n^2-scaled cross-covariance numerator at row lag k."""
        if k == 0:
            return (
                nd * nd * F.col("__sxy0")
                - nd * F.col("__sx") * F.col("__sy")
            )
        if k > 0:
            return (
                nd * nd * F.col(f"__sp{k}")
                - nd * F.col("__sy") * F.col(f"__hx{k}")
                - nd * F.col("__sx") * F.col(f"__ty{k}")
                + F.col(f"__np{k}").cast(dec)
                * F.col("__sx") * F.col("__sy")
            )
        m = -k
        return (
            nd * nd * F.col(f"__sm{m}")
            - nd * F.col("__sx") * F.col(f"__hy{m}")
            - nd * F.col("__sy") * F.col(f"__tx{m}")
            + F.col(f"__np{m}").cast(dec)
            * F.col("__sx") * F.col("__sy")
        )

    def npairs(k: int):
        return (
            F.col("__n") if k == 0 else F.col(f"__np{abs(k)}")
        ).cast("long")

    lag_structs = [
        F.struct(
            F.lit(k).alias("lag"),
            npairs(k).alias("n_pairs"),
            num(k).alias("num"),
        )
        for k in range(-L, L + 1)
    ]
    exploded = g.select(
        *key_cols,
        "__n",
        dx.alias("__dx"),
        dy.alias("__dy"),
        F.explode(F.array(*lag_structs)).alias("__e"),
    ).where(F.col("__e.n_pairs") > 0)
    # num is n^2-scaled; dx/dy are n-scaled (n*Sxx - Sx^2 = n*D), so
    # sqrt(dx)*sqrt(dy) carries one factor of n — divide the other
    # out explicitly. The float chain (3 casts, 2 sqrts, 2 muls,
    # 1 div) is IEEE correctly-rounded end-to-end and mirrored
    # operation-for-operation in the oracle.
    r = F.col("__e.num").cast("double") / (
        F.col("__n").cast("double")
        * F.sqrt(F.col("__dx").cast("double"))
        * F.sqrt(F.col("__dy").cast("double"))
    )
    # same overflow contract as acf: NULL moments with n_pairs > 0
    # can only be DECIMAL(38,0) overflow (constant series → 0, not
    # NULL) — raise loudly rather than emit an ambiguous NULL
    overflow = (
        F.col("__dx").isNull()
        | F.col("__dy").isNull()
        | F.col("__e.num").isNull()
    )
    return exploded.select(
        *key_cols,
        F.col("__e.lag").cast("int").alias("lag"),
        F.col("__e.n_pairs").alias("n_pairs"),
        F.when(
            overflow,
            F.raise_error(F.lit(
                "ccf: DECIMAL(38,0) moment overflow — n^3*v^2 "
                "exceeded 38 digits for a key; lower value_scale or "
                "shard the key"
            )).cast("double"),
        ).when(
            (F.col("__dx") != 0) & (F.col("__dy") != 0),
            F.floor(r * F.lit(q)) / F.lit(q),
        ).alias("ccf"),
    )
