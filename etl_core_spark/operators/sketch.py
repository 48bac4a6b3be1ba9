"""Sketch aggregates (beyond-reference; the 100 TB pre-aggregation
story).

Exact ``count(DISTINCT x)`` re-shuffles the full column every time a
question is asked. The sketch pattern computes a tiny mergeable
summary ONCE at fine granularity and answers every coarser rollup by
merging summaries — no second pass over the data:

- ``hll_distinct``: per-group approximate NDV via Apache DataSketches
  HLL (``hll_sketch_agg``). Map-side combinable; state per group is
  the 2^lg_k-register sketch (~4 KB at lg_k=12), not the value set.
- ``hll_build`` / ``hll_merge``: the rollup algebra. Build binary
  sketches at (a, b) once; ``hll_merge`` to (a), (b), or () unions
  the sketches. Union is lossless at the REGISTER level (max per
  register), but DataSketches keeps a more accurate order-dependent
  HIP estimator while inserting which a union discards — so a merged
  estimate can differ by a fraction of the error bound from a direct
  scan at the coarse granularity (both stay within the rse bound; the
  tests pin that, not bit-equality). This is how a 100 TB fact table
  serves interactive "distinct users by <any dimension subset>"
  dashboards without rescanning.
- ``approx_quantiles``: per-group percentile_approx (GK sketch) with
  a tunable accuracy/state trade; deterministic for a given accuracy.
- ``cms_build`` / ``cms_estimate``: Count-Min frequency sketch —
  point-queryable heavy-hitter counts at O(1/eps) state per group,
  ``true <= est <= true + eps*N`` with the configured confidence.

All three compose with Structured Streaming unchanged (they are
ordinary aggregates; the windowed-HLL streaming test pins it).

Estimates are approximate BY CONTRACT (DataSketches HLL rse ≈
1.04/sqrt(2^lg_k) ≈ 1.6 % at the default lg_k=12), so these operators
carry pytest error-bound + merge-algebra certification instead of a
DuckDB hash oracle (DuckDB's HLL is a different implementation; the
estimates legitimately differ).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_core_spark.operators.base import (
    Operator,
    OperatorConfigError,
    PortMap,
    bind_operator,
    ensure,
    register_operator,
)

_SKETCH_TYPE = "HLL_8"


def hll_build(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-group binary HLL sketch of ``value_col`` (column
    ``__hll``). The sketch column is opaque binary — store it in a
    rollup table and answer coarser groupings later via
    ``hll_merge`` without touching the source again."""
    if not 4 <= int(lg_k) <= 21:
        raise OperatorConfigError("hll lg_k must be in [4, 21]")
    agg = F.hll_sketch_agg(value_col, int(lg_k)).alias("__hll")
    if group_cols:
        return df.groupBy(*group_cols).agg(agg)
    return df.agg(agg)


def hll_merge(sketches: DataFrame, to_cols: list[str]) -> DataFrame:
    """Roll sketches up to ``to_cols`` granularity (a subset of the
    build grouping) and return the estimated NDV per group. Merging
    shuffles only the sketch table — one row per fine group — never
    the source relation."""
    agg = F.hll_sketch_estimate(
        F.hll_union_agg("__hll", allowDifferentLgConfigK=False)
    ).alias("est_ndv")
    if to_cols:
        return sketches.groupBy(*to_cols).agg(agg)
    return sketches.agg(agg)


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """One-shot per-group approximate NDV (build + estimate fused:
    the optimizer sees a single aggregate, partials combine
    map-side)."""
    if not 4 <= int(lg_k) <= 21:
        raise OperatorConfigError("hll lg_k must be in [4, 21]")
    est = F.hll_sketch_estimate(
        F.hll_sketch_agg(value_col, int(lg_k))
    ).alias("est_ndv")
    if group_cols:
        return df.groupBy(*group_cols).agg(est)
    return df.agg(est)


def approx_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    probabilities: list[float],
    accuracy: int = 10000,
) -> DataFrame:
    """Per-group approximate quantiles (Greenwald-Khanna): guaranteed
    rank error <= 1/accuracy at O(accuracy) state per group, vs the
    exact ``percentile``'s full sort. Output: one ``q_<pct>`` column
    per requested probability."""
    probs = [float(p) for p in probabilities]
    if not probs or any(not 0.0 <= p <= 1.0 for p in probs):
        raise OperatorConfigError("probabilities must be in [0, 1]")
    agg = F.percentile_approx(
        value_col, probs, int(accuracy)
    ).alias("__qs")
    g = df.groupBy(*group_cols).agg(agg) if group_cols else df.agg(agg)

    def qname(p: float) -> str:
        # enough precision that distinct probabilities get distinct
        # names: int(p*100) folded 0.999 and 1.0 both into q_100
        s = f"{p * 100:.4f}".rstrip("0").rstrip(".").replace(".", "_")
        return f"q_{s}"

    names = [qname(p) for p in probs]
    if len(set(names)) != len(names):
        raise OperatorConfigError(
            f"duplicate probabilities produce duplicate columns: {names}"
        )
    return g.select(
        *(group_cols or []),
        *[F.col("__qs")[i].alias(names[i]) for i in range(len(probs))],
    )


def cms_build(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """Per-group Count-Min sketch of ``value_col`` frequencies
    (column ``__cms``, opaque binary). One map-side-combinable
    aggregate; state is O(1/eps · ln(1/confidence)) counters per
    group, independent of cardinality. The point-query side is
    ``cms_estimate`` — CMS guarantees ``true <= est <= true +
    eps·N`` with probability ``confidence``."""
    if not 0 < float(eps) < 1 or not 0 < float(confidence) < 1:
        raise OperatorConfigError("cms eps/confidence must be in (0, 1)")
    agg = F.count_min_sketch(
        value_col, F.lit(float(eps)), F.lit(float(confidence)), F.lit(int(seed))
    ).alias("__cms")
    if group_cols:
        return df.groupBy(*group_cols).agg(agg)
    return df.agg(agg)


def cms_estimate(spark, sketch: bytes, items: list) -> dict:
    """Point-query a serialized Count-Min sketch for candidate
    ``items`` (driver-side: the sketch is a few KB; candidates come
    from elsewhere — a sample, a dictionary, an alert list). Returns
    {item: estimated_count}."""
    jvm = spark._jvm
    bis = jvm.java.io.ByteArrayInputStream(bytes(sketch))
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)
    return {it: cms.estimateCount(it) for it in items}


@register_operator("hll_distinct")
class HllDistinctOperator(Operator):
    in_ports = ("in",)
    out_ports = ("out",)

    def validate_config(self) -> None:
        if not self.config.get("value_col"):
            raise OperatorConfigError("hll_distinct requires 'value_col'")

    def apply(self, inputs: PortMap) -> PortMap:
        c = self.config
        return {
            "out": hll_distinct(
                self.single_input(inputs),
                list(c.get("group_cols") or []),
                c["value_col"],
                int(c.get("lg_k", 12)),
            )
        }


@register_operator("approx_quantiles")
class ApproxQuantilesOperator(Operator):
    in_ports = ("in",)
    out_ports = ("out",)

    def validate_config(self) -> None:
        for key in ("value_col", "probabilities"):
            if not self.config.get(key):
                raise OperatorConfigError(f"approx_quantiles requires {key!r}")

    def apply(self, inputs: PortMap) -> PortMap:
        c = self.config
        return {
            "out": approx_quantiles(
                self.single_input(inputs),
                list(c.get("group_cols") or []),
                c["value_col"],
                list(c["probabilities"]),
                int(c.get("accuracy", 10000)),
            )
        }


@bind_operator("approx_topk")
def approx_topk(
    df: DataFrame,
    col: str,
    k: int = 50,
    capacity: int = 4096,
) -> DataFrame:
    """Heavy hitters (top-k most frequent values) with BOUNDED memory:
    Misra-Gries summaries per partition, then an EXACT recount of the
    surviving candidate set.

    Guarantee (the classical MG bound + an averaging argument across
    partitions): every value with global frequency > n/capacity
    appears in some partition with local frequency > n_p/capacity and
    so survives that partition's summary — the candidate union is a
    SUPERSET of the true heavy hitters. The second pass recounts
    candidates exactly (semi-join + plain count), so returned counts
    are exact and the top-k is the true top-k whenever the k-th true
    frequency exceeds n/capacity (size capacity accordingly; below
    that bar membership — not counts — may miss). Ties rank
    deterministically (count desc, value asc). NULLs are ignored
    (count them with a plain aggregate if they matter).

    Scale shape: pass 1 is an Arrow-batched ``mapInPandas`` keeping at
    most ``capacity`` counters per PARTITION — this is the justified
    Python case (a streaming decrement sketch has no Catalyst
    expression form) and its output is ≤ capacity rows per partition,
    never the data; the candidate table (≤ capacity x partitions) is
    distinct-folded and broadcast into the exact recount, which is a
    map-side-combinable count over candidate cardinality. Top-k is
    TakeOrdered. Two scans total, no full-column shuffle of raw
    values (the exact-top-k alternative shuffles every distinct value;
    at 100 TB with a web-scale vocabulary that IS the cost this
    operator removes).
    """
    if int(k) < 1 or int(capacity) < int(k):
        raise OperatorConfigError(
            "approx_topk needs k >= 1 and capacity >= k"
        )
    cap = int(capacity)
    vals = df.select(F.col(col).cast("string").alias("__v")).where(
        F.col("__v").isNotNull()
    )

    def mg_partition(batches):
        # batched Misra-Gries: merge each Arrow batch's value_counts
        # (C speed, never a per-row Python loop), then when over
        # capacity subtract the (cap+1)-th largest count from ALL
        # counters and drop the non-positive — equivalent to running
        # that many classic decrement-all steps at once, so the
        # total-decrement bound (<= n_p/cap per partition) and with
        # it the superset guarantee are preserved
        import pandas as pd

        counters = pd.Series(dtype="int64")
        for pdf in batches:
            counters = counters.add(pdf["__v"].value_counts(), fill_value=0)
            if len(counters) > cap:
                t = counters.nlargest(cap + 1).iloc[-1]
                counters = counters - t
                counters = counters[counters > 0]
        yield pd.DataFrame({"__v": counters.index.astype(str)})

    candidates = vals.mapInPandas(mg_partition, "__v string").distinct()
    exact = (
        vals.join(F.broadcast(candidates), on="__v", how="left_semi")
        .groupBy("__v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.orderBy(F.col("n").desc(), F.col("__v").asc())
        .limit(int(k))
        .select(F.col("__v").alias("value"), "n")
    )


def _check_bloom_membership(mode, **_) -> None:
    ensure(mode in ("flag", "drop", "keep"), "bloom_membership mode must be flag/drop/keep")


@bind_operator("bloom_membership", in_ports=("in", "keys"), check=_check_bloom_membership)
def bloom_membership(
    big: DataFrame,
    keys: DataFrame,
    key_col: str,
    keys_col: str | None = None,
    m_bits: int = 1 << 20,
    k: int = 4,
    mode: str = "flag",
    out_col: str = "bloom_hit",
    salt: str = "bloom",
) -> DataFrame:
    """Bloom-filter membership test of ``big[key_col]`` against the
    key set in ``keys`` — the shuffle-free decontamination / join
    pruning primitive (Bloom 1970). The filter is represented as the
    DISTINCT set of its SET BIT POSITIONS (≤ ``m_bits`` rows, a few
    MB even at the default m=2^20), broadcast to every executor; the
    big side probes it with ``k`` hash functions. Guarantees are the
    textbook ones: NO false negatives (a key in ``keys`` always
    hits), false positives at ~(1-e^(-kn/m))^k — deterministic, not
    random: positions come from md5 (``hash_bucket``), so the same
    inputs produce the same hits in any engine, which is what makes
    this oracle-checkable.

    ``mode``: ``flag`` appends boolean ``out_col``; ``drop`` keeps
    only non-hits (decontaminate: survivors are PROVABLY absent from
    the key set); ``keep`` keeps only hits (approximate semi-join:
    a superset of the true matches, to be exactified downstream).

    NULL keys hash via the ``hash_bucket`` NULL sentinel on BOTH
    sides, so a NULL probe hits iff the key set contained a NULL —
    membership semantics, not SQL-equality semantics (documented
    divergence from ``=``; it is what decontamination wants).

    Scale shape: the 100 TB side NEVER shuffles — the bit-position
    table aggregates map-side to ≤ m distinct longs, broadcasts
    once, and the probe is k BROADCAST hash joins + a narrow
    conjunction. Saturation is the caller's dial: at n distinct keys
    ≫ m/k every probe hits and ``drop`` mode degenerates to keeping
    nothing — size m_bits ≥ ~10×n·k for ~1% FP. This is the sketch
    counterpart of decontaminate's exact n-gram anti-join: use bloom
    to cheaply pre-prune at full scale, exact-join the survivors.
    """
    from etl_core_spark.operators.sampling import hash_bucket

    if mode not in ("flag", "drop", "keep"):
        raise OperatorConfigError(
            f"bloom_membership mode must be flag/drop/keep, got {mode!r}"
        )
    if int(k) < 1 or int(m_bits) < 2:
        raise OperatorConfigError("bloom_membership needs k >= 1, m_bits >= 2")
    if key_col not in big.columns:
        raise OperatorConfigError(f"bloom_membership: {key_col!r} not in big")
    kc = keys_col or key_col
    if kc not in keys.columns:
        raise OperatorConfigError(f"bloom_membership: {kc!r} not in keys")
    m = int(m_bits)
    kk = int(k)

    def pos(col, i):
        return (hash_bucket(col, salt=f"{salt}:{i}:") % m).cast("long")

    bits = (
        keys.select(
            F.explode(
                F.array(*[pos(F.col(kc), i) for i in range(kk)])
            ).alias("__pos")
        )
        .distinct()
    )
    probe = big
    hit = None
    for i in range(kk):
        tbl = bits.select(
            F.col("__pos").alias(f"__pos{i}"), F.lit(1).alias(f"__hit{i}")
        )
        probe = probe.join(
            F.broadcast(tbl),
            on=pos(F.col(key_col), i) == F.col(f"__pos{i}"),
            how="left",
        )
        h = F.col(f"__hit{i}").isNotNull()
        hit = h if hit is None else (hit & h)
    drop_aux = [c for i in range(kk) for c in (f"__pos{i}", f"__hit{i}")]
    flagged = probe.withColumn(out_col, hit).drop(*drop_aux)
    if mode == "flag":
        return flagged
    if mode == "drop":
        return flagged.where(~F.col(out_col)).drop(out_col)
    return flagged.where(F.col(out_col)).drop(out_col)
