"""Deterministic sampling / dataset splitting (beyond-reference).

Training-data pipelines need samples and train/val/test splits that
are (a) stable across reruns and engines, (b) independent of
partitioning, and (c) cheap. Random sampling (`df.sample`) is none of
those. The standard production trick is hash-bucket assignment: a row
belongs to a split according to md5(key) — reproducible anywhere md5
exists (so the DuckDB oracle checks it bit-for-bit), and a narrow map
at any scale.

The first 8 md5 hex chars give a uniform 32-bit integer; a row is
sampled when that value < rate·2³², and split k of n when
value mod n == k.
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

_HASH_SPACE = 16 ** 8  # first 8 md5 hex chars


def hash_bucket(key: Column, salt: str = "") -> Column:
    """Uniform integer in [0, 16^8) derived from md5(salt || key).

    NULL keys hash as a distinct sentinel instead of propagating NULL:
    md5(concat(..NULL..)) is NULL, every range predicate on a NULL
    bucket is false, and a corpus's NULL-id rows would silently vanish
    from EVERY split/sample — the same NULL-key loss class exact_dedup
    and zscore guard against. The sentinel contains a NUL byte no real
    stringified key produces, so it cannot collide."""
    rendered = F.coalesce(key.cast("string"), F.lit("\x00__NULL_KEY__"))
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), rendered)), 1, 8), 16, 10
    ).cast("long")


@bind_operator("hash_sample")
def hash_sample(df: DataFrame, key_col: str, rate: float = 0.1, salt: str = "") -> DataFrame:
    """Keep ≈rate of rows, deterministically by key."""
    if not 0.0 <= rate <= 1.0:
        raise OperatorConfigError("rate must be in [0, 1]")
    threshold = int(rate * _HASH_SPACE)
    return df.filter(hash_bucket(F.col(key_col), salt) < threshold)


def hash_split(
    df: DataFrame, key_col: str, weights: dict[str, float], salt: str = ""
) -> dict[str, DataFrame]:
    """Partition into named splits by hash range, e.g.
    {"train": .9, "val": .05, "test": .05}. Every row lands in
    exactly one split; assignment is key-stable under reruns,
    repartitioning, and engine changes."""
    total = sum(weights.values())
    if not weights or abs(total - 1.0) > 1e-9:
        raise OperatorConfigError("split weights must sum to 1.0")
    bucket = hash_bucket(F.col(key_col), salt)
    out: dict[str, DataFrame] = {}
    lo = 0.0
    items = list(weights.items())
    for i, (name, w) in enumerate(items):
        hi = lo + w
        lower = int(lo * _HASH_SPACE)
        upper = _HASH_SPACE if i == len(items) - 1 else int(hi * _HASH_SPACE)
        out[name] = df.filter((bucket >= lower) & (bucket < upper))
        lo = hi
    return out


def _check_stratified_hash_sample(rates, **_) -> None:
    ensure(isinstance(rates, dict), "stratified_sample requires 'rates' dict")


@bind_operator("stratified_sample", check=_check_stratified_hash_sample)
def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum (e.g.
    language, source domain) keeps its own fraction — the standard
    rebalancing pass when one slice of a crawl dominates the corpus.
    Still a narrow codegen'd map (a literal CASE over the stratum
    column and one md5), no shuffle; a NULL stratum uses
    ``default_rate``."""
    rates = {str(s): float(r) for s, r in rates.items()}
    for s, r in rates.items():
        if not 0.0 <= float(r) <= 1.0:
            raise OperatorConfigError(f"rate for stratum {s!r} must be in [0, 1]")
    if not 0.0 <= default_rate <= 1.0:
        raise OperatorConfigError("default_rate must be in [0, 1]")
    threshold = F.lit(int(default_rate * _HASH_SPACE))
    for s, r in sorted(rates.items()):
        threshold = F.when(
            F.col(strata_col) == s, F.lit(int(float(r) * _HASH_SPACE))
        ).otherwise(threshold)
    return df.filter(hash_bucket(F.col(key_col), salt) < threshold)


@bind_operator("cap_per_group")
def cap_per_group(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    max_rows: int = 1000,
    salt: str = "",
    order_col: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """Deterministic per-group downsample: keep at most ``max_rows``
    rows per group. Default selection is hash order (stable across
    reruns, partitioning, and engines — NOT "first seen"): the
    balancing cap a training mix applies per source/domain/user.
    With ``order_col`` it becomes top-N per group BY THE METRIC
    (``descending`` by default — "best N docs per domain by quality
    score"), tie-broken by the key so selection stays total-ordered
    and oracle-checkable either way.

    One shuffle (window partitioned by the group); Spark's
    WindowGroupLimit pre-cuts each input partition to max_rows per
    group on the map side before the exchange in both modes. Scale
    note: a pathologically hot group serializes into one task's sort
    — for billions-per-group caps, pre-filter with ``hash_sample`` at
    ≈max_rows/count first so the window sees a bounded group."""
    from pyspark.sql import Window

    if max_rows < 1:
        raise OperatorConfigError("max_rows must be >= 1")
    if order_col is not None:
        metric = F.col(order_col).desc() if descending else F.col(order_col).asc()
        order = [metric, F.col(key_col)]
    else:
        order = [hash_bucket(F.col(key_col), salt), F.col(key_col)]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= max_rows)
        .drop("__rn")
    )


@register_operator("hash_split")
class HashSplitOperator(Operator):
    """Config: ``key_col``, ``weights`` ({port: fraction}), optional
    ``salt``. Out ports = the weight names."""

    in_ports = ("in",)

    def validate_config(self) -> None:
        if not self.config.get("key_col"):
            raise OperatorConfigError("hash_split requires 'key_col'")
        weights = self.config.get("weights")
        if not isinstance(weights, dict) or not weights:
            raise OperatorConfigError("hash_split requires 'weights' dict")
        self.weights = {k: float(v) for k, v in weights.items()}
        if abs(sum(self.weights.values()) - 1.0) > 1e-9:
            raise OperatorConfigError("weights must sum to 1.0")
        self.out_ports = tuple(self.weights)

    def apply(self, inputs: PortMap) -> PortMap:
        df = self.single_input(inputs)
        return hash_split(
            df, self.config["key_col"], self.weights, self.config.get("salt", "")
        )


@bind_operator("pack_sequences")
def pack_sequences(
    df: DataFrame,
    key_col: str,
    token_count_col: str,
    capacity: int,
    shards: int = 64,
    salt: str = "",
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences —
    the GPT-style packing model where documents are concatenated in a
    deterministic order and cut every ``capacity`` tokens. Each doc
    gets (shard, bin_id, offset_in_bin): the sequence it STARTS in
    and where. Offsets are exact concatenation arithmetic, so the
    trainer can replay the identical layout from this table alone.
    Row-preserving (r10): input columns ride through — the exported
    layout keeps the payload/provenance columns a trainer actually
    reads; stale same-named layout columns from an earlier pack are
    replaced (the selection-stage composability convention).

    Scale shape: a single global concatenation order would serialize
    a 100 TB corpus into one sorted task. Instead docs are
    hash-sharded (deterministically, by key) and packed WITHIN each
    shard: the running-offset window partitions by shard, so the sort
    parallelizes ``shards``-wide and each shard's layout is
    independent of every other's. Hash order inside the shard doubles
    as shuffling — adjacent docs are unrelated, which is what
    pretraining wants anyway.
    """
    if capacity < 1:
        raise OperatorConfigError("capacity must be >= 1")
    if shards < 1:
        raise OperatorConfigError("shards must be >= 1")
    from pyspark.sql import Window

    h = hash_bucket(F.col(key_col), salt)
    shard = (h % shards).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("__h"), F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    keep = [
        c
        for c in df.columns
        if c not in ("shard", "bin_id", "offset_in_bin", "n_tokens")
    ]
    staged = df.select(
        *keep,
        F.col(token_count_col).cast("long").alias("__n"),
        h.alias("__h"),
        shard,
    )
    cum = staged.withColumn("__end", F.sum("__n").over(w))
    start = F.col("__end") - F.col("__n")
    return cum.select(
        *keep,
        F.col("shard").cast("int").alias("shard"),
        F.floor(start / capacity).cast("long").alias("bin_id"),
        (start % capacity).cast("long").alias("offset_in_bin"),
        F.col("__n").alias("n_tokens"),
    )


@bind_operator("mix_corpora")
def mix_corpora(
    df: DataFrame,
    key_col: str,
    group_col: str,
    weights: dict[str, float],
    target_tokens: int,
    token_col: str | None = None,
    text_col: str = "text",
    salt: str = "mix",
) -> DataFrame:
    """Training-data mixture sampling: downsample each source/domain
    group toward a TARGET TOKEN BUDGET split by ``weights`` — the
    "data mixing" step of every LLM pre-training pipeline (The Pile /
    Gopher style mixture weights), expressed as deterministic
    hash sampling so reruns, engines, and partitionings agree on the
    exact kept set.

    For group g: target_g = normalized_weight(g) * target_tokens;
    keep_fraction_g = min(1, target_g / current_tokens_g); a row
    survives iff hash_bucket(key, salt) < fraction_g * 16^8. Groups
    absent from ``weights`` are DROPPED (mixture weights are a
    whitelist; pass weight 0.0 explicitly if you want that read
    loudly). Fractions cap at 1 — this operator only downsamples;
    upsampling (epoch repetition) is a training-loader concern, not a
    data-engine rewrite.

    Token counts come from ``token_col`` when given (pre-computed,
    e.g. real tokenizer counts) else whitespace token_count(text).
    Scale shape: one group-sized aggregate (map-side combinable),
    joined back stats-gated broadcast (group cardinality ~ sources,
    tiny); the keep decision is then a narrow filter. Weights are
    normalized config-side in exact float arithmetic and embedded as
    literals, so the oracle can embed the SAME literals.
    """
    from etl_core_spark.functions.text import token_count
    from etl_core_spark.session import maybe_broadcast

    if not weights:
        raise OperatorConfigError("mix_corpora requires non-empty weights")
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise OperatorConfigError("mixture weights must be >=0 with a positive sum")
    if target_tokens <= 0:
        raise OperatorConfigError("target_tokens must be positive")
    wsum = sum(weights.values())
    norm = {g: w / wsum for g, w in weights.items()}

    tok = (
        F.col(token_col).cast("long")
        if token_col
        else token_count(F.col(text_col)).cast("long")
    )
    with_tok = df.withColumn("__tok", tok)
    totals = with_tok.groupBy(group_col).agg(F.sum("__tok").alias("__gtok"))

    target_expr = None
    for g, w in norm.items():
        t = F.lit(float(w * target_tokens))
        target_expr = (
            F.when(F.col(group_col) == g, t)
            if target_expr is None
            else target_expr.when(F.col(group_col) == g, t)
        )
    # zero-token groups keep everything: there is nothing to
    # downsample, and the guard keeps the division out of ANSI-mode's
    # divide-by-zero error path. The target_expr.isNotNull() gate must
    # come FIRST: least(1.0, NULL) SKIPS the null (Spark least ignores
    # nulls), which would silently keep unlisted groups at fraction 1
    # instead of dropping them.
    frac = F.when(
        target_expr.isNotNull() & (F.col("__gtok") > 0),
        F.least(F.lit(1.0), target_expr / F.col("__gtok").cast("double")),
    ).when(target_expr.isNotNull(), F.lit(1.0))
    kept = (
        with_tok.join(maybe_broadcast(totals, None), on=group_col)
        .withColumn("__frac", frac)
        .where(F.col("__frac").isNotNull())
        .where(
            hash_bucket(F.col(key_col), salt)
            < F.col("__frac") * F.lit(float(_HASH_SPACE))
        )
    )
    return kept.drop("__tok", "__gtok", "__frac")


@bind_operator("quantile_filter")
def quantile_filter(
    df: DataFrame,
    value_col: str,
    q: float,
    keep: str = "top",
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Keep the rows above (``keep="top"``) or below (``"bottom"``)
    the corpus's q-quantile of ``value_col`` — the percentile gate a
    quality pipeline applies to a scored column ("drop the worst 10%
    by LM score": q=0.1, keep="top").

    The threshold rides the plan as a broadcast one-row aggregate
    (scalar-subquery discipline — no collected literal, composes into
    one job). Default ``exact=False`` computes it with
    approx_percentile (GK sketch, mergeable map-side state — the
    100 TB path); ``exact=True`` uses the exact interpolated
    ``percentile`` (global sort-shaped aggregate, and the DuckDB
    ``quantile_cont`` parity surface the oracle checks). Rows with
    NULL ``value_col`` are dropped either way (no rank, fails the
    threshold comparison) — score before you gate.
    """
    if not 0.0 <= q <= 1.0:
        raise OperatorConfigError("quantile_filter q must be in [0, 1]")
    if keep not in ("top", "bottom"):
        raise OperatorConfigError("quantile_filter keep must be 'top' or 'bottom'")
    # Column-based aggregates, not an F.expr SQL string: interpolating
    # value_col into SQL breaks on any name that needs quoting
    # ("lm score", reserved words) — F.col handles them like every
    # other operator here
    agg = (
        F.percentile(F.col(value_col), F.lit(float(q)))
        if exact
        else F.percentile_approx(F.col(value_col), F.lit(float(q)), F.lit(int(accuracy)))
    )
    thr = df.agg(agg.alias("__thr"))
    cond = (
        F.col(value_col) >= F.col("__thr")
        if keep == "top"
        else F.col(value_col) <= F.col("__thr")
    )
    return df.join(F.broadcast(thr)).where(cond).drop("__thr")


@bind_operator("weighted_sample")
def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    scale: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic importance sampling: each row survives with
    probability min(1, weight * scale) — "keep documents proportional
    to quality score" without an RNG. The decision is the usual
    md5-threshold on the key, so the kept set is stable under reruns,
    partitioning, and engines, and a row's fate only changes when its
    OWN weight changes. NULL or negative weights drop the row
    (no silent keep-everything). Pure narrow map."""
    if scale <= 0:
        raise OperatorConfigError("weighted_sample scale must be positive")
    prob = F.least(
        F.lit(1.0), F.greatest(F.col(weight_col).cast("double"), F.lit(0.0)) * scale
    )
    return df.where(
        hash_bucket(F.col(key_col), salt) < prob * F.lit(float(_HASH_SPACE))
    )


@bind_operator("take_tokens_per_group")
def take_tokens_per_group(
    df: DataFrame,
    group_col: str,
    budget_tokens: int,
    key_col: str,
    token_col: str | None = None,
    text_col: str = "text",
    order_col: str | None = None,
    descending: bool = True,
    salt: str = "",
) -> DataFrame:
    """EXACT per-group token budget: within each group, rows are taken
    in order until the cumulative token count would exceed
    ``budget_tokens`` — the deterministic counterpart to mix_corpora's
    probabilistic fractions when the recipe says "exactly N tokens of
    source X". Default order is hash-of-key (a uniform sample of the
    group); with ``order_col`` it takes the best-first prefix ("the
    highest-quality docs up to N tokens per domain"), tie-broken by
    the key so the prefix is total-ordered and engine-independent.

    Take-while semantics on the running sum INCLUDING the current row:
    a row that would overflow the budget is dropped and, because the
    running sum only grows, so is everything after it — the kept set
    is a clean prefix, not a best-fit repack (deterministic beats
    optimal here; bin-packing is pack_sequences' job).

    One window shuffle (partition by group); same hot-group caveat as
    cap_per_group — pre-sample pathological groups first. Emits
    ``__cum_tokens`` dropped; adds nothing to the schema."""
    from pyspark.sql import Window

    if budget_tokens <= 0:
        raise OperatorConfigError("budget_tokens must be positive")
    from etl_core_spark.functions.text import token_count

    tok = (
        F.col(token_col).cast("long")
        if token_col
        else token_count(F.col(text_col)).cast("long")
    )
    if order_col is not None:
        metric = F.col(order_col).desc() if descending else F.col(order_col).asc()
        order = [metric, F.col(key_col)]
    else:
        order = [hash_bucket(F.col(key_col), salt), F.col(key_col)]
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("__cum_tokens", F.sum(tok).over(w))
        .where(F.col("__cum_tokens") <= int(budget_tokens))
        .drop("__cum_tokens")
    )


@bind_operator("shuffle_rows")
def shuffle_rows(
    df: DataFrame,
    key_col: str,
    salt: str = "",
    n_buckets: int = 256,
    pos_col: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic global pseudo-shuffle for training-data export:
    assigns every row a stable 0-based position ``pos_col`` equal to
    its rank in the permutation ordered by
    ``(bucket, md5(salt||key), key)`` — reproducible across reruns,
    partitionings, and engines (epoch reshuffles = new ``salt``).

    100 TB shape: a naive ``row_number() OVER (ORDER BY hash)`` is a
    single-reducer global sort. Instead the hash's top bits pick one
    of ``n_buckets`` DATA-DERIVED buckets (no spark_partition_id /
    monotonically_increasing_id — both are physical-layout-dependent
    and move under AQE), ranks are computed per bucket in parallel
    (one keyed window shuffle), and each bucket's global offset (the
    running count of smaller buckets) joins back as a broadcast of
    ``n_buckets`` rows. The result is IDENTICAL to the naive global
    row_number over (bucket, hash, key) — which is exactly what the
    DuckDB oracle runs — because bucket is the leading sort key.
    Collect is bounded by ``n_buckets`` (one count per bucket).

    Position ties are impossible when ``key_col`` is unique (the
    contract); duplicate keys get arbitrary-but-stable order within
    their identical (bucket, hash, key) run.
    """
    from pyspark.sql import Window

    if int(n_buckets) < 1:
        raise OperatorConfigError("shuffle_rows n_buckets must be >= 1")
    from etl_core_spark.session import persist_intermediate

    h = hash_bucket(F.col(key_col), salt)
    bucket = (h % int(n_buckets)).cast("long")
    # persisted: the bucket counts collected below and the ranked
    # plan returned to the caller must see the SAME evaluation — a
    # non-deterministic upstream (sample, limit without order) would
    # otherwise produce offsets that disagree with the ranks and
    # break the 0..n-1 permutation contract (and every caller would
    # pay a duplicate full scan)
    with_h = persist_intermediate(
        df.withColumn("__h", h).withColumn("__b", bucket)
    )
    counts = with_h.groupBy("__b").count().collect()  # bounded:
    # one row per bucket (n_buckets total), never data-sized
    by_bucket = sorted((r["__b"], r["count"]) for r in counts)
    offsets, acc = [], 0
    for b, n in by_bucket:
        offsets.append((b, acc))
        acc += n
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets, "__b long, __off long")
    w = Window.partitionBy("__b").orderBy("__h", F.col(key_col))
    return (
        with_h.withColumn("__rnk", F.row_number().over(w))
        .join(F.broadcast(off_df), on="__b")
        .withColumn(pos_col, (F.col("__off") + F.col("__rnk") - 1).cast("long"))
        .drop("__h", "__b", "__rnk", "__off")
    )


def _check_systematic_sample(step, offset, **_) -> None:
    ensure(step >= 1, "systematic_sample step must be >= 1")
    ensure(0 <= offset < step, "systematic_sample offset must be in [0, step)")


@bind_operator("systematic_sample", check=_check_systematic_sample)
def systematic_sample(
    df: DataFrame,
    sort_cols: list[str],
    step: int,
    offset: int = 0,
    rank_col: str | None = None,
) -> DataFrame:
    """Systematic sampling (the survey-methodology classic): every
    ``step``-th record of the global ``sort_cols`` order, starting at
    ``offset`` (0-based). Complements the resident samplers —
    hash_sample is per-record independent, stratified/weighted are
    per-group; systematic guarantees EXACTLY-even coverage along an
    axis (time, id, score), the standard shape for eval holdouts and
    QA spot-check panels ("every 100th document by ingest order").

    ``sort_cols`` must be a TOTAL order (add the id column to break
    ties) — with ties unbroken, membership would depend on the
    shuffle. Row-preserving columns plus optionally the 1-based
    global rank (``rank_col``).

    Scale shape: the distributed global rank (range shuffle +
    partition-local row_number + a #partitions-sized offset
    broadcast — see linkage._global_rank, shared machinery with
    sorted-neighborhood linkage), then a narrow modulo filter.
    """
    from etl_core_spark.operators.linkage import _global_rank

    if not sort_cols:
        raise OperatorConfigError("systematic_sample requires sort_cols")
    if int(step) < 1:
        raise OperatorConfigError("systematic_sample step must be >= 1")
    if not 0 <= int(offset) < int(step):
        raise OperatorConfigError(
            "systematic_sample offset must be in [0, step)"
        )
    cols = list(df.columns)
    if rank_col and rank_col in cols:
        raise OperatorConfigError(
            f"systematic_sample rank_col {rank_col!r} already exists in the "
            "input — pick an unused name (duplicate column names break "
            "downstream resolution)"
        )
    ranked = _global_rank(df, list(sort_cols))
    out = ranked.where(
        (F.col("__rn") - F.lit(1)) % F.lit(int(step)) == F.lit(int(offset))
    )
    if rank_col:
        return out.select(*cols, F.col("__rn").alias(rank_col))
    return out.select(*cols)


def _check_negative_sample(k, buckets, **_) -> None:
    ensure(k >= 1, "negative_sample k must be >= 1")
    ensure(buckets >= 2, "negative_sample buckets must be >= 2")
    ensure(k < buckets, "negative_sample needs k < buckets")


@bind_operator("negative_sample", check=_check_negative_sample)
def negative_sample(
    df: DataFrame,
    id_col: str,
    k: int = 5,
    buckets: int = 64,
    salt: str = "",
) -> DataFrame:
    """Deterministic uniform-ish negative sampling for contrastive
    training pairs → ``(anchor, neg_rank 1..k, negative)``: every id
    in the corpus gets up to ``k`` pseudo-random OTHER ids (the
    random-negatives half of a contrastive set; the hard-negatives
    half is ``knn_graph``). Hash-derived end to end (the
    ``hash_sample`` md5 machinery), so the assignment is stable
    across reruns, partitionings, and engines — reproducible
    training data, replayable by any engine with md5.

    Construction: candidates land in ``buckets`` md5 buckets and are
    ranked inside each bucket by an independent md5 (ties broken by
    id — a total order). Anchor ``a`` with offset ``j`` targets
    bucket ``(bucket(a)+j) mod buckets`` and picks the member at
    rank ``md5(a#j) mod size``: each (anchor, j) resolves by ONE
    equi-join row, so the whole sampler is two narrow maps + one
    (bucket, rank) equi-join — n·k join rows total, no candidate
    fan-out, no windows over the corpus (per-bucket rank windows are
    bounded by n/buckets; raise ``buckets`` with the corpus).
    Self-picks are structurally impossible — offsets ``1..k < B``
    never target the anchor's own bucket (a belt-and-braces
    inequality filter keeps the invariant loud in the plan). A
    bucket count above the corpus size leaves some buckets empty and
    those (anchor, j) rows drop — the documented "up to k" contract;
    keep ``buckets`` << corpus size. NULL ids drop.
    """
    if not id_col:
        raise OperatorConfigError("negative_sample requires id_col")
    if int(k) < 1:
        raise OperatorConfigError("negative_sample k must be >= 1")
    if int(buckets) < 2:
        raise OperatorConfigError("negative_sample buckets must be >= 2")
    if int(k) >= int(buckets):
        raise OperatorConfigError(
            "negative_sample needs k < buckets (offsets must hit "
            "distinct buckets)"
        )
    from pyspark.sql import Window

    from etl_core_spark.session import persist_intermediate

    B = int(buckets)
    ids = df.select(F.col(id_col).alias("__id")).where(
        F.col(id_col).isNotNull()
    ).distinct()
    bucket = F.pmod(hash_bucket(F.col("__id"), salt), F.lit(B))
    rank_hash = hash_bucket(F.col("__id"), salt + "#rank")
    w = Window.partitionBy("__bkt").orderBy("__rh", "__id")
    ranked = persist_intermediate(
        ids.select(
            "__id", bucket.alias("__bkt"), rank_hash.alias("__rh")
        ).withColumn("__rank", F.row_number().over(w) - F.lit(1))
    )
    sizes = ranked.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__sz"))
    offsets = ranked.select(
        F.col("__id").alias("__a"), F.col("__bkt").alias("__ab")
    ).select(
        "__a", "__ab",
        F.explode(
            F.array(*[F.lit(j) for j in range(1, int(k) + 1)])
        ).alias("__j"),
    ).withColumn("__tb", F.pmod(F.col("__ab") + F.col("__j"), F.lit(B)))
    pick = offsets.join(
        F.broadcast(sizes.withColumnRenamed("__bkt", "__tb")), on="__tb"
    ).withColumn(
        "__r",
        F.pmod(
            hash_bucket(
                F.concat(
                    F.col("__a").cast("string"),
                    F.lit("#"),
                    F.col("__j").cast("string"),
                ),
                salt + "#pick",
            ),
            F.col("__sz"),
        ),
    )
    return (
        pick.join(
            ranked.select(
                F.col("__bkt").alias("__tb"),
                F.col("__rank").alias("__r"),
                F.col("__id").alias("__neg"),
            ),
            on=["__tb", "__r"],
        )
        .where(F.col("__neg") != F.col("__a"))
        .select(
            F.col("__a").alias("anchor"),
            F.col("__j").cast("int").alias("neg_rank"),
            F.col("__neg").alias("negative"),
        )
    )
