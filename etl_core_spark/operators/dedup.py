"""Deduplication operators (beyond-reference, first-class).

Four strategies, each as an operator node + a plain function:

- ``exact``: hash-groupBy on key columns (or md5 of a text column),
  deterministic survivor = min(id). One shuffle on the dedup key.
- ``minhash_lsh``: shingle → MinHash signature → LSH bands →
  band-bucket self-join → Jaccard verify. The join is on band keys,
  so candidate generation is linear-ish (no O(n²) cross join); at
  100 TB the band-key join is the only shuffle and it is key-salted
  by construction (16 bands spread hot docs).
- ``simhash``: 60-bit fingerprint; near-dup candidates share the
  fingerprint bucket (exact-match buckets here; hamming-ball probing
  would add rotations of the key).
- ``ngram_jaccard``: exact n-gram Jaccard verify over LSH candidates
  (the verify stage of minhash_lsh exposed standalone).

Embedding-cosine near-dup lives in ``similarity.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_core_spark.functions import text as X
from etl_core_spark.operators.base import (
    Operator,
    OperatorConfigError,
    PortMap,
    bind_operator,
    ensure,
    register_operator,
)
from etl_core_spark.sources.base_io import SinkOperator


def exact_dedup(df: DataFrame, keys: list[str], id_col: str | None = None) -> DataFrame:
    """Keep one row per key combination.

    With ``id_col``: deterministic survivor = row with min id
    (groupBy + self-join on (key, min_id) — semantically stable under
    re-partitioning, unlike ``dropDuplicates`` whose survivor is
    partition-order dependent). Without: plain ``dropDuplicates``.

    NULL dedup keys are real keys (a dirty corpus has null-text docs
    on day one): groupBy already groups NULLs together, and the
    survivors join compares keys with ``eqNullSafe`` so the NULL group
    keeps its min-id row instead of silently vanishing (a plain
    equi-semi-join never matches NULL = NULL — that was exactly the
    bug). The id comparison is null-safe too, with one documented
    edge: a group whose ids are ALL NULL has no orderable survivor, so
    every row in it survives (matching ``dropDuplicates``'s "can't
    distinguish them" spirit rather than dropping the group).
    """
    if id_col is None:
        return df.dropDuplicates(keys)
    survivors = df.groupBy(*keys).agg(F.min(id_col).alias(id_col))
    s = survivors.select(
        *[F.col(c).alias(f"__sv_{c}") for c in keys],
        F.col(id_col).alias(f"__sv_{id_col}"),
    )
    cond = df[id_col].eqNullSafe(s[f"__sv_{id_col}"])
    for c in keys:
        cond = cond & df[c].eqNullSafe(s[f"__sv_{c}"])
    return df.join(s, cond, how="left_semi")


def _shingle_table(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int,
    persist: bool = True,
) -> DataFrame:
    """(id, distinct-shingle-array) — the one expensive narrow map
    every MinHash stage derives from. Persisted by default because
    candidate generation and Jaccard verification each consume it (a
    self-join would otherwise recompute the tokenize+shingle+md5
    subtree up to 4×; at 100 TB this is the difference between one
    corpus scan and four). Owned by the run scope
    (``persist_intermediate``), which releases it when the run ends.

    ``persist=False`` for SINGLE-consumer plans (signature-only,
    candidates-only): there the cache materialization is pure
    overhead — measured ~1.4× on the signature query at sf0.1 —
    with zero reuse to pay for it."""
    from etl_core_spark.session import ensure_parallelism, persist_intermediate

    sh = ensure_parallelism(df).select(
        F.col(id_col),
        F.array_distinct(X.shingles(F.col(text_col), shingle_n)).alias("sh"),
    )
    return persist_intermediate(sh) if persist else sh


def minhash_sig_table(sh_table: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(id, m0..m{n-1}) MinHash signature columns via explode +
    groupBy-min.

    Equivalent to the higher-order-function formulation
    (functions/text.minhash_signature) but faster in practice: HOF
    lambdas are interpreted per element, while explode + hash + min
    stays inside whole-stage codegen with a map-side partial min
    before the (32-byte-per-hash) shuffle. explode_outer keeps
    zero-shingle docs with NULL signatures (md5/concat of NULL is
    NULL, min of the single NULL row is NULL)."""
    ex = sh_table.select(F.col(id_col), F.explode_outer("sh").alias("__s"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("__s")))).alias(f"m{j}")
        for j in range(num_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def minhash_candidates_from_shingles(
    sh_table: DataFrame, id_col: str, num_hashes: int, bands: int,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band.

    Zero-shingle documents (empty/whitespace/null text) are dropped
    BEFORE banding. Their signatures are all-NULL, and ``concat_ws``
    renders an all-NULL band as ``""`` — so without the filter every
    empty doc in the corpus lands in ONE shared band bucket and the
    candidate self-join goes quadratic in the empty-doc count (a real
    crawl corpus has millions of empty docs). Dropping them never
    changes verified output: Jaccard over an empty shingle set is 0.0,
    below any positive threshold.

    ``max_band_freq`` (optional) drops band keys shared by more than
    that many documents before the self-join — the guard for
    mass-duplicated content (a boilerplate page crawled a million
    times is a LEGITIMATE band collision, and still quadratic). Same
    idea as winnowing's ``max_doc_freq``. Off by default because it
    trades recall on exactly the hottest duplicate groups; exact
    dedup (or a first exact pass on ``md5(text)``) is the right tool
    for identical content, and pairs within a dropped hot band are
    identical-signature by construction.
    """
    if bands < 1 or num_hashes % bands != 0:
        # bands > num_hashes would give zero rows per band — every doc
        # the SAME band keys and an O(n²) self-join; a non-dividing
        # bands silently ignores trailing hashes. Both are config
        # mistakes, not tunings: fail loudly.
        raise OperatorConfigError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    rows = num_hashes // bands
    # zero-shingle docs are excluded BEFORE the signature aggregate
    # (size 0 <=> all-NULL signature, so this is the same doc set as
    # the post-agg m0-IS-NOT-NULL filter, minus computing+shuffling
    # signatures for docs that were about to be dropped — a crawl
    # corpus's millions of empties never enter the explode at all)
    sig = minhash_sig_table(sh_table.where(F.size("sh") > 0), id_col, num_hashes)
    # band key = xxhash64 long, not an md5 string: the key only ever
    # meets an equality join, so any collision-safe hash gives the
    # SAME candidate membership while shuffling 8 bytes instead of a
    # 32-char string. (The signature values themselves stay md5 — they
    # are the cross-engine oracle surface; post m0-filter every m_i is
    # non-null, so no NULL-collapse hazard here.)
    band_cols = [
        F.xxhash64(
            F.lit(b),
            F.concat_ws("|", *[F.col(f"m{b * rows + r}") for r in range(rows)]),
        )
        for b in range(bands)
    ]
    exploded = sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band_key")
    )
    if max_band_freq is not None:
        rare = (
            exploded.groupBy("band_key")
            .agg(F.count(F.lit(1)).alias("__bf"))
            .where(F.col("__bf") <= int(max_band_freq))
            .select("band_key")
        )
        exploded = exploded.join(rare, on="band_key")
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(b, on="band_key")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    max_band_freq: int | None = None,
) -> DataFrame:
    # single consumer of the shingle table -> no persist (see
    # _shingle_table)
    sh = _shingle_table(df, text_col, id_col, shingle_n, persist=False)
    return minhash_candidates_from_shingles(
        sh, id_col, num_hashes, bands, max_band_freq
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    max_band_freq: int | None = None,
) -> DataFrame:
    """LSH candidates verified with exact shingle-set Jaccard ≥
    threshold. Returns (id_a, id_b, jaccard)."""
    sh = _shingle_table(df, text_col, id_col, shingle_n)
    cands = minhash_candidates_from_shingles(
        sh, id_col, num_hashes, bands, max_band_freq
    )
    return (
        cands.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), on="id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), on="id_b")
        .withColumn("jaccard", F.round(X.jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------- incremental MinHash index
#
# A daily-crawl pipeline can't re-run pairwise dedup over the whole
# historical corpus for every new batch. The index persists each doc's
# MinHash SIGNATURE once (plain parquet); a new batch then computes
# signatures only for ITSELF, equi-joins band keys against the stored
# index, and estimates Jaccard from signature agreement — per-batch
# cost is one index scan + a (typically broadcast) band join, never a
# corpus-wide shingle recompute. Signatures are md5-derived (the
# cross-engine oracle surface) and band keys are md5 strings derived
# from the stored columns at read time, so the index holds ONLY the
# num_hashes signature columns.

_INDEX_META = "_index_meta.json"


def _index_meta_path(index_path: str) -> str:
    return f"{str(index_path).rstrip('/')}/{_INDEX_META}"


def read_index_meta(index_path: str, spark=None) -> dict | None:
    """Index meta, read THROUGH the Hadoop FileSystem (sources/
    hadoop_fs.py) so a remote (HDFS/S3A) index is visible from any
    driver host — os.path would only see the local disk."""
    import json

    from pyspark.sql import SparkSession

    from etl_core_spark.sources.hadoop_fs import fs_read_text

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise OperatorConfigError("no active SparkSession for index meta I/O")
    raw = fs_read_text(spark, _index_meta_path(index_path))
    return None if raw is None else json.loads(raw)


def _band_val_cols(num_hashes: int, bands: int) -> list:
    """md5 band-key columns over signature columns m0..m{n-1}. The
    band index is embedded in the hashed string, so a flat explode +
    equi-join on the VALUE can never match band b of one doc against
    band b' of another. md5 strings (not xxhash64 longs) because the
    stored index must be recomputable by any engine — including the
    DuckDB oracle."""
    rows = num_hashes // bands
    return [
        F.md5(
            F.concat_ws(
                "|", F.lit(str(b)), *[F.col(f"m{b * rows + r}") for r in range(rows)]
            )
        )
        for b in range(bands)
    ]


def minhash_index_update(
    df: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    mode: str = "append",
) -> None:
    """Create or extend the persistent signature index at
    ``index_path``. Zero-shingle docs are excluded (they can never
    verify against anything). ``mode``:

    - ``append`` (default): new doc ids appended — the steady-state
      crawl case, I/O ∝ the batch;
    - ``upsert``: re-crawled ids REPLACE their stored signatures via
      ``upsert_parquet`` keyed on the id — documented full-table
      rewrite cost on an unpartitioned index; run it at re-crawl
      cadence, not per batch.

    The index parameters are pinned in ``_index_meta.json`` at
    creation; a later update with different parameters raises instead
    of silently mixing incompatible signatures."""
    import json

    if bands < 1 or num_hashes % bands != 0:
        raise OperatorConfigError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    if mode not in ("append", "upsert"):
        raise OperatorConfigError(f"unknown index update mode {mode!r}")
    meta = {
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "shingle_n": int(shingle_n),
        "id_col": id_col,
    }
    spark = df.sparkSession
    existing = read_index_meta(index_path, spark)
    if existing is not None and existing != meta:
        raise OperatorConfigError(
            f"index at {index_path!r} was built with {existing}; "
            f"refusing update with {meta}"
        )
    sh = _shingle_table(df, text_col, id_col, shingle_n, persist=False)
    from etl_core_spark.session import checkpoint, release

    sig = checkpoint(minhash_sig_table(sh.where(F.size("sh") > 0), id_col, num_hashes))
    if sig.isEmpty():
        # a batch of only zero-shingle docs must not CREATE a sigs
        # directory with no parquet files (meta-without-data or a
        # schema-less dir would break every later read — the same
        # failure class the streaming rate soak exposed)
        release(sig)
        return
    table = f"{str(index_path).rstrip('/')}/sigs"
    if mode == "append":
        sig.write.mode("append").parquet(table)
    else:
        from etl_core_spark.sources.parquet_io import upsert_parquet

        upsert_parquet(sig, table, keys=[id_col])
    if existing is None:
        from etl_core_spark.sources.hadoop_fs import fs_write_text

        fs_write_text(spark, _index_meta_path(index_path), json.dumps(meta))
    release(sig)  # written out; blocks no longer needed


def minhash_index_compact(spark, index_path: str, by: str = "row") -> int:
    """Compact the signature table: ``by="row"`` removes exact
    duplicate ROWS — the artifact an at-least-once re-run of an
    append batch leaves (identical rows by construction), and the
    escape hatch ``streaming_incremental_dedup`` documents;
    ``by="id"`` keeps ONE row per id (min signature tuple — an
    arbitrary-but-deterministic pick for ids re-appended with
    different content; prefer ``mode="upsert"`` updates when which
    version wins matters). Rewrites the table compacted; returns the
    number of rows removed."""
    import os

    meta = read_index_meta(index_path, spark)
    if meta is None:
        raise OperatorConfigError(f"no index meta at {index_path!r}")
    table = os.path.join(str(index_path), "sigs")
    sigs = spark.read.parquet(table)
    before = sigs.count()
    if by == "row":
        compacted = sigs.dropDuplicates()
    elif by == "id":
        id_col = meta["id_col"]
        others = [c for c in sigs.columns if c != id_col]
        # min over the WHOLE tuple as one struct: per-column mins
        # would splice two different signatures into a chimera that
        # matches neither document (the as_of_join carry-atomically
        # lesson)
        compacted = (
            sigs.groupBy(id_col)
            .agg(F.min(F.struct(*others)).alias("__t"))
            .select(id_col, *[F.col(f"__t.{c}").alias(c) for c in others])
        )
    else:
        raise OperatorConfigError(f"unknown compact mode {by!r}")
    from etl_core_spark.session import checkpoint, release

    # detach from the files about to be overwritten
    compacted = checkpoint(compacted)
    after = compacted.count()
    compacted.write.mode("overwrite").parquet(table)
    release(compacted)  # rewritten; blocks not needed
    return before - after


def incremental_near_dup_pairs(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """(id_new, id_corpus, est_jaccard) pairs between a NEW batch and
    the indexed corpus, ``est_jaccard`` = fraction of agreeing MinHash
    components (the standard unbiased Jaccard estimator — the index
    stores signatures, not shingle sets, so verification is
    signature-level by design; at 16 hashes the estimate is coarse
    but monotone, and the band join already requires a full-band
    agreement).

    Scale shape: the batch's signatures are computed once (persisted —
    consumed by the band explode AND the estimate join); the index
    side is a narrow column scan + band derivation, equi-joined on the
    band value. AQE broadcasts the (small) batch side, so the corpus
    signatures never shuffle. Docs whose id already exists in the
    index don't pair with themselves."""
    spark = new_docs.sparkSession
    meta = read_index_meta(index_path, spark)
    if meta is None:
        raise OperatorConfigError(f"no index meta at {index_path!r}")
    num_hashes, bands = int(meta["num_hashes"]), int(meta["bands"])
    shingle_n = int(meta["shingle_n"])
    idx_id = meta["id_col"]
    from etl_core_spark.session import persist_intermediate

    import os
    sig_old = spark.read.parquet(os.path.join(str(index_path), "sigs"))
    sh = _shingle_table(new_docs, text_col, id_col, shingle_n, persist=False)
    sig_new = persist_intermediate(
        minhash_sig_table(sh.where(F.size("sh") > 0), id_col, num_hashes)
    )
    bvals = F.array(*_band_val_cols(num_hashes, bands))
    bn = sig_new.select(
        F.col(id_col).alias("id_new"), F.explode(bvals).alias("__bv")
    )
    bo = sig_old.select(
        F.col(idx_id).alias("id_corpus"), F.explode(bvals).alias("__bv")
    )
    cand = (
        bn.join(bo, on="__bv")
        .where(F.col("id_new") != F.col("id_corpus"))
        .select("id_new", "id_corpus")
        .distinct()
    )
    a = sig_new.select(
        F.col(id_col).alias("id_new"),
        *[F.col(f"m{j}").alias(f"__a{j}") for j in range(num_hashes)],
    )
    b = sig_old.select(
        F.col(idx_id).alias("id_corpus"),
        *[F.col(f"m{j}").alias(f"__b{j}") for j in range(num_hashes)],
    )
    agree = None
    for j in range(num_hashes):
        term = F.when(F.col(f"__a{j}") == F.col(f"__b{j}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    return (
        cand.join(a, on="id_new")
        .join(b, on="id_corpus")
        .withColumn(
            "est_jaccard", F.round(agree / F.lit(float(num_hashes)), 6)
        )
        .where(F.col("est_jaccard") >= float(threshold))
        .select("id_new", "id_corpus", "est_jaccard")
    )


def jaccard_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    shingle_n: int = 3,
    max_token_freq: int | None = None,
    positional: bool = True,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs for ``jaccard_dedup_pairs``
    — exposed separately so the positional filter's pruning is
    directly measurable. See jaccard_dedup_pairs for the filter
    derivations; ``positional=False`` disables the positional filter
    (size + prefix only). ``sh`` lets the caller pass an
    already-persisted shingle table (the pairs operator shares one
    between candidate generation and verification)."""
    if not 0 < threshold <= 1:
        raise OperatorConfigError("jaccard threshold must be in (0, 1]")
    if sh is None:
        sh = _shingle_table(df, text_col, id_col, shingle_n, persist=False)
    nonempty = sh.where(F.size("sh") > 0)
    # carry the FULL distinct-shingle size: the size filter and prefix
    # length must be computed on the same set the verify stage measures
    # Jaccard on, or max_token_freq's frequency filtering would shrink
    # __n and wrongly size-reject pairs that share rare tokens.
    #
    # The candidate phase runs on xxhash64(shingle) LONGS, not shingle
    # strings (r13 optimization, guide §2.3 "shuffle keys, not
    # payloads" — the containment_pairs precedent): the doc-frequency
    # aggregate, the rarity sort and the prefix equi-join shuffle an
    # 8-byte key instead of the n-gram text, and the sort/join compare
    # longs. Correctness: the prefix-filter theorem holds under ANY
    # global total order on ANY key domain whose equality is implied
    # by token equality — a hash collision can only MERGE keys, which
    # raises the counted overlap and can only ADD candidates; the
    # verify stage measures exact Jaccard on the raw shingle STRINGS,
    # so the emitted pair set is identical. (Under ``max_token_freq``
    # a collision could also merge a rare token's count into a hot
    # key and hot-filter both — the same 2^-64 collision budget the
    # containment operator documents.)
    ex = nonempty.select(
        F.col(id_col), F.size("sh").alias("__n"), F.explode("sh").alias("__s")
    ).withColumn("__s", F.xxhash64("__s"))
    freq = ex.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    if max_token_freq is not None:
        freq = freq.where(F.col("__df") <= int(max_token_freq))
    # rarest-first per-doc ordering; prefix = the tokens that MUST
    # overlap for any partner above the threshold.
    #
    # The per-doc aggregate's exchange is pinned to an EXPLICIT
    # partition count (r14, guide §2.2): everything downstream — the
    # rarity array_sort, the prefix self-join, the candidate distinct
    # and (in jaccard_dedup_pairs) the exact-Jaccard verify — FUSES
    # onto this exchange's reduce side because it is keyed on the
    # doc id, and all of it is CPU-per-row work on few bytes, which
    # AQE's byte-based coalescing collapses to a handful of tasks
    # (r13 measured 6 → 4 tasks / ~10 s of re-serialized expression
    # CPU once the candidate phase shuffled hashed longs). A keyed
    # repartition with an explicit count is reused by the groupBy
    # (same key — no extra exchange) and is never AQE-coalesced; the
    # count comes from ``spark.sql.shuffle.partitions`` so cluster
    # deployments keep sizing it the standard way (no local-core
    # constant, and collect_list has no partial-aggregation byte
    # reduction, so the exchanged volume is unchanged).
    width = int(ex.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ordered = (
        ex.join(freq, on="__s")
        .repartition(width, id_col)
        .groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("__df", "__s"))).alias("__os"),
            F.first("__n").alias("__n"),
        )
    )
    n = F.col("__n")
    prefix_len = (n - F.ceil(F.lit(float(threshold)) * n) + 1).cast("int")
    prefixes = ordered.select(
        F.col(id_col),
        n.alias("__n"),
        F.posexplode(
            F.transform(
                F.slice("__os", 1, prefix_len), lambda s: s["__s"]
            )
        ).alias("__pos", "__tok"),
    )
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    t = float(threshold)
    cond = (
        (F.col("a.__tok") == F.col("b.__tok"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (F.col("a.__n") >= t * F.col("b.__n"))
        & (F.col("b.__n") >= t * F.col("a.__n"))
    )
    if positional:
        # positional filter (Xiao et al. §3.2): a match at 0-based
        # rarity positions (i, j) bounds the overlap by
        #   O <= 1 + min(|A|-i-1, |B|-j-1)
        # (every shared token is >= the first shared token in the
        # global rarity order), while Jaccard >= t needs
        #   O >= t/(1+t) * (|A|+|B|).
        # Kill the candidate ROW when the bound can't reach the
        # requirement; the PAIR always survives via its first shared
        # prefix token, for which the bound is valid-and-sufficient,
        # so completeness is preserved. Under max_token_freq, __pos is
        # the position in the frequency-FILTERED order <= the full
        # position, so the bound only loosens — still complete.
        ubound = 1 + F.least(
            F.col("a.__n") - F.col("a.__pos") - 1,
            F.col("b.__n") - F.col("b.__pos") - 1,
        )
        cond = cond & (
            ubound >= F.lit(t / (1.0 + t)) * (F.col("a.__n") + F.col("b.__n"))
        )
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    shingle_n: int = 3,
    max_token_freq: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via prefix filtering
    (PPJoin-style; Xiao et al., "Efficient Similarity Joins for Near
    Duplicate Detection") — the COMPLETE alternative to MinHash LSH:
    every pair with Jaccard >= threshold is found, no probabilistic
    miss, at the cost of an exact-verify join driven by a provably
    sufficient candidate set.

    Filters, in order:

    - **size filter**: |A| >= t|B| and |B| >= t|A| (Jaccard >= t
      bounds the size ratio) — a predicate on sizes already in hand.
    - **prefix filter**: order each doc's shingles globally by
      (document frequency ASC, shingle ASC) — rarest first — and keep
      the first ``|S| - ceil(t*|S|) + 1``. Two sets with
      Jaccard >= t MUST share a token within these prefixes
      (pigeonhole on the overlap bound), so an equi-join on prefix
      tokens is a complete candidate generator. Prefix tokens are
      each doc's RAREST shingles, so the join keys are
      skew-resistant by construction; ``max_token_freq`` additionally
      caps pathological tokens (same trade as minhash's
      ``max_band_freq`` — pairs sharing ONLY ultra-hot shingles are
      boilerplate better handled by exact dedup). Sizes (``__n``) and
      the prefix length are always computed on the FULL shingle set —
      the same set the verify stage measures Jaccard on — so under
      ``max_token_freq`` the ONLY miss mode is a pair whose shared
      prefix tokens are all hot-filtered, never a size-filter
      mismatch.
    - **positional filter**: a prefix-token match at rarity positions
      (i, j) bounds the achievable overlap by the tokens remaining
      AFTER the match; candidate rows whose bound can't reach the
      Jaccard-implied overlap requirement are killed inside the join
      condition (derivation in ``jaccard_candidates``). At crawl
      scale this materially shrinks the verify join's input.

    Scale shape: one doc-frequency aggregate, one shuffle to re-sort
    shingles by rarity (the PPJoin preprocessing cost), one candidate
    equi-join on prefix tokens (with the positional filter pruning
    candidate rows in the join condition), one verify join on the
    persisted shingle table. Zero-shingle docs are excluded up front
    (Jaccard over an empty set is 0)."""
    sh = _shingle_table(df, text_col, id_col, shingle_n)
    cands = jaccard_candidates(
        df, text_col, id_col, threshold, shingle_n, max_token_freq, sh=sh
    )
    # The exact-Jaccard verify projection fuses onto the candidate
    # phase's pinned-width stage (see the jaccard_candidates rarity
    # exchange comment) when the shingle sides broadcast — the
    # common case, since sh is the smaller persisted relation — so
    # the CPU-dense verify keeps the session's full shuffle width
    # instead of AQE's byte-coalesced handful of tasks.
    return (
        cands.join(
            sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"),
            on="id_a",
        )
        .join(
            sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"),
            on="id_b",
        )
        .withColumn("jaccard", F.round(X.jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


_SIMHASH_LANE_BITS = 20  # per-bit popcount lane width
_SIMHASH_LANES_PER_LONG = 3  # 3 × 20-bit lanes per packed long


def winnow_fingerprint_table(
    df: DataFrame, text_col: str, id_col: str, k: int = 8, window: int = 4
) -> DataFrame:
    """(id, fingerprints, n_fingerprints, digest) winnowing rolling-
    hash fingerprints (functions/text.winnow_gram_hashes/_select).
    The k-gram hash array is materialized in its own projection so
    the window stage references it as an attribute instead of
    re-hashing the document per window. Zero shuffle; near-dup
    candidates are then ``explode(fingerprints)`` + equi-join, the
    same scale shape as MinHash banding."""
    from etl_core_spark.session import ensure_parallelism

    hashed = ensure_parallelism(df).select(
        F.col(id_col), X.winnow_normalize(F.col(text_col)).alias("__norm")
    ).select(
        F.col(id_col),
        X.winnow_gram_hashes(F.col("__norm"), k, normalized=True).alias("__gh"),
    )
    fps = hashed.select(
        F.col(id_col), X.winnow_select(F.col("__gh"), window).alias("fingerprints")
    )
    return fps.select(
        F.col(id_col),
        "fingerprints",
        F.size("fingerprints").alias("n_fingerprints"),
        F.md5(F.array_join("fingerprints", ",")).alias("digest"),
    )


def winnow_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: int = 10,
) -> DataFrame:
    """(id_a, id_b, n_shared) document pairs sharing ≥ ``min_shared``
    winnowing fingerprints — explode + equi-join on fingerprint, the
    same scale shape as MinHash banding (no all-pairs comparison).

    ``max_doc_freq`` drops fingerprints appearing in more than that
    many documents before the join. This is load-bearing, not a
    tuning nicety: a fingerprint of a GENERIC 11-char substring
    ("the data is") can occur in thousands of documents, and one such
    hot key alone makes the self-join quadratic. Capping document
    frequency bounds the join fan-out at ``max_doc_freq²`` per
    fingerprint — the stop-words idea applied to fingerprints
    (standard in MOSS-style dedup at corpus scale)."""
    fp = winnow_fingerprint_table(df, text_col, id_col, k, window)
    # explode_outer, deliberately: plain explode makes Catalyst infer a
    # `size(fingerprints) > 0` filter (InferFiltersFromGenerate) and
    # predicate pushdown inlines the ENTIRE fingerprint expression
    # into it — with the hash transform nested inside the window
    # lambda, i.e. O(n²·w) md5s per document. Winnowing arrays are
    # never empty (≥1 selection by construction), so outer is
    # semantically identical; null fingerprints (null text) drop at
    # the filter below.
    from etl_core_spark.session import persist_intermediate

    # join key = xxhash64 of the selected fingerprint: selection
    # stays md5-lexicographic (the oracle surface), but the 3×-reused
    # exploded table and the self-join shuffle 8-byte longs instead
    # of 32-char strings; shared-count output is hash-invariant.
    # NULL entries (explode_outer of an empty doc) are dropped before
    # hashing: they could never match in the inner join with ``rare``,
    # xxhash64(NULL) is the non-null seed that would fuse every empty
    # doc into one hot join key, and even kept as NULL they would all
    # land in one hot partition of the keyed cache.
    # cached PRE-PARTITIONED on the fingerprint key (r14, guide §2.4):
    # all three consumers are keyed on __fp — the doc-freq groupBy
    # runs exchange-free, its output keeps the layout so the rare
    # semi-join is zero-exchange, and both self-join sides inherit
    # it. One upfront exchange instead of up to four in the SMJ shape.
    ex = persist_intermediate(  # consumed 3× (doc-freq filter + both join sides)
        fp.select(F.col(id_col), F.explode_outer("fingerprints").alias("__fp0"))
        .where(F.col("__fp0").isNotNull())
        .select(F.col(id_col), F.xxhash64("__fp0").alias("__fp")),
        key="__fp",
    )
    rare = (
        ex.groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") <= max_doc_freq)
        .select("__fp")
    )
    ex = ex.join(rare, on="__fp")
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(b, on="__fp")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int = 2, bits: int = 60
) -> DataFrame:
    """SimHash with packed-counter aggregation.

    The naive form — one ``sum(when(shiftright(h,b)%2*2-1))`` aggregate
    per bit — puts 60 conditional expressions inside HashAggregateExec;
    the generated Java blows past the JIT/codegen method-size limits
    and the whole aggregate runs interpreted (measured 17 s on 5k docs
    at sf0.1). Instead we pack 3 per-bit popcount lanes of 20 bits into
    each of 20 longs in a *projection* (codegen-friendly), aggregate
    with 20 plain ``sum(long)`` + one ``count`` (map-side combinable,
    40 bytes of state per doc), and unpack lanes + majority-vote in a
    final cheap projection. Fingerprint bit b = 1 iff
    ``2*popcount(b) > n_shingles`` — identical to sign-of-sum-of-±1.

    Lane width 20 bits caps a document at 2^20 (~1M) shingles before a
    lane overflows into its neighbor; a document at/over the cap fails
    the query loudly (``raise_error`` in the final projection — the
    check costs one comparison against the already-computed count) so
    corruption can't pass silently; beyond-cap corpora need wider
    lanes. Zero-shingle docs get the all-zero fingerprint (count 0 →
    no majority anywhere).
    """
    g = _simhash_packed(df, text_col, id_col, shingle_n, bits)
    lanes, lw = _SIMHASH_LANES_PER_LONG, _SIMHASH_LANE_BITS
    bit_chars = []
    for b in range(bits - 1, -1, -1):
        pop = _simhash_pop(b)
        bit_chars.append(
            F.when(pop * 2 > F.col("__cnt"), F.lit("1")).otherwise(F.lit("0"))
        )
    fingerprint = _simhash_overflow_guard(F.concat(*bit_chars), id_col)
    return g.select(F.col(id_col), fingerprint.alias("simhash"))


def _simhash_packed(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int, bits: int
) -> DataFrame:
    """Shared aggregation stage: one row per doc with the packed
    popcount lanes (p0..pN) and the shingle count (__cnt)."""
    from etl_core_spark.session import ensure_parallelism

    ex = ensure_parallelism(df).select(
        F.col(id_col),
        F.explode_outer(X.shingles(F.col(text_col), shingle_n)).alias("__s"),
    )
    h = F.conv(F.substring(F.md5("__s"), 1, 15), 16, 10).cast("long")
    ex = ex.withColumn("__h", h)

    lanes = _SIMHASH_LANES_PER_LONG
    lw = _SIMHASH_LANE_BITS
    n_packed = (bits + lanes - 1) // lanes
    packed_cols = []
    for j in range(n_packed):
        lane_exprs = []
        for k in range(lanes):
            b = j * lanes + k
            if b >= bits:
                break
            bit = F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1))
            lane_exprs.append(F.shiftleft(bit, k * lw))
        packed = lane_exprs[0]
        for e in lane_exprs[1:]:
            packed = packed + e
        packed_cols.append(F.coalesce(packed, F.lit(0)).alias(f"p{j}"))
    ex = ex.select(F.col(id_col), F.col("__h"), *packed_cols)

    aggs = [F.sum(f"p{j}").alias(f"p{j}") for j in range(n_packed)] + [
        F.count("__h").alias("__cnt")
    ]
    return ex.groupBy(id_col).agg(*aggs)


def _simhash_pop(b: int):
    """Popcount of bit ``b`` unpacked from its lane."""
    lanes, lw = _SIMHASH_LANES_PER_LONG, _SIMHASH_LANE_BITS
    j, k = b // lanes, b % lanes
    return F.shiftrightunsigned(F.col(f"p{j}"), k * lw).bitwiseAND(
        F.lit((1 << lw) - 1)
    )


def _simhash_overflow_guard(expr, id_col: str):
    lw = _SIMHASH_LANE_BITS
    return F.when(F.col("__cnt") < F.lit(1 << lw), expr).otherwise(
        F.raise_error(
            F.concat(
                F.lit("simhash lane overflow: document "),
                F.col(id_col).cast("string"),
                F.lit(f" has >= 2^{lw} shingles; use wider lanes (bits/lanes config)"),
            )
        )
    )


def simhash_fingerprints_long(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int = 2, bits: int = 60
) -> DataFrame:
    """Same fingerprint as ``simhash_fingerprints`` but packed into a
    LONG (bit b of the long == character ``bits-1-b`` of the string
    form). The pairs pipeline uses this: an 8-byte long shuffles ~7×
    narrower than a 60-char bit string, band keys come from shifts
    instead of substrings, and the hamming verify is one
    ``bit_count(a ^ b)`` with no string→long conversion."""
    g = _simhash_packed(df, text_col, id_col, shingle_n, bits)
    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp + F.shiftleft(
            F.when(_simhash_pop(b) * 2 > F.col("__cnt"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
            b,
        )
    return g.select(
        F.col(id_col), _simhash_overflow_guard(fp, id_col).alias("simhash64")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 2,
    max_hamming: int = 3,
    bits: int = 60,
    max_band_freq: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs whose simhash fingerprints differ
    in at most ``max_hamming`` bits.

    Exact-bucket simhash grouping only finds IDENTICAL fingerprints;
    real near-dups differ in a few bits. Probing the full hamming
    ball explicitly is C(bits, k) keys per doc — hopeless. The
    pigeonhole banding used here is the standard scalable form: split
    the fingerprint into ``max_hamming + 1`` disjoint bands; k
    differing bits cannot touch all k+1 bands, so any pair within
    distance k agrees EXACTLY on at least one band. Candidates are an
    equi-join on (band index, band bits) — the same scale shape as
    MinHash banding, no all-pairs stage — and the verify is one XOR +
    popcount on the 60-bit fingerprints as longs.

    Zero-shingle docs (null/empty/whitespace text) are excluded up
    front: they'd all share the all-zero fingerprint and every band
    bucket, the same dirty-corpus quadratic the MinHash path guards
    against. ``max_band_freq`` optionally drops hotter-than-cap band
    keys (mass-identical content), as in ``minhash_candidates``.
    """
    from etl_core_spark.session import persist_intermediate

    if int(max_hamming) >= int(bits):
        # same guard as hamming_near_dup_pairs: a budget >= bits
        # admits EVERY pair, and the banding cannot build
        # max_hamming+1 non-empty bands out of `bits` bits — that
        # config is an all-pairs request, not a near-dup search.
        raise OperatorConfigError(
            "simhash_near_dup_pairs max_hamming must be < bits"
        )
    # zero shingles ⇔ zero tokens ⇔ empty trimmed text (functions/
    # text.tokens); NULL text fails the predicate too
    clean = df.where(F.length(F.trim(F.col(text_col))) > 0)
    # consumed 3× (banding + both verify sides); without the persist
    # the whole shingle→hash→aggregate subtree runs three times.
    # LONG fingerprints throughout: ~7× narrower shuffles than the
    # 60-char bit-string form, shift/mask band keys, one-XOR verify
    # (the string form stays available via simhash_fingerprints for
    # the cross-engine signature oracle).
    fp = persist_intermediate(
        simhash_fingerprints_long(clean, text_col, id_col, shingle_n, bits)
    )
    n_bands = max_hamming + 1
    # Balanced band boundaries: band i spans bit positions
    # [i*bits//n_bands, (i+1)*bits//n_bands). Every band is non-empty
    # whenever n_bands <= bits (floor boundaries strictly increase),
    # unlike the uniform-width ceil(bits/n_bands) split, whose
    # trailing bands fall PAST the fingerprint for some (bits,
    # max_hamming) combos — here a past-the-end shift would yield a
    # constant-0 band key shared by every row, i.e. an accidental
    # all-pairs candidate generator.
    cuts = [i * bits // n_bands for i in range(n_bands + 1)]
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftrightunsigned(F.col("simhash64"), cuts[i])
                .bitwiseAND(F.lit((1 << (cuts[i + 1] - cuts[i])) - 1))
                .alias("band_val"),
            )
            for i in range(n_bands)
        ]
    )
    ex = fp.select(F.col(id_col), F.explode(bands).alias("__b")).select(
        F.col(id_col), F.col("__b.band_idx"), F.col("__b.band_val")
    )
    band_cols = ["band_idx", "band_val"]
    if max_band_freq is not None:
        rare = (
            ex.groupBy(*band_cols)
            .agg(F.count(F.lit(1)).alias("__bf"))
            .where(F.col("__bf") <= int(max_band_freq))
            .select(*band_cols)
        )
        ex = ex.join(rare, on=band_cols)
    a, b = ex.alias("a"), ex.alias("b")
    cands = (
        a.join(b, on=band_cols)
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    fa = fp.select(F.col(id_col).alias("id_a"), F.col("simhash64").alias("__fa"))
    fb = fp.select(F.col(id_col).alias("id_b"), F.col("simhash64").alias("__fb"))
    ham = F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb")))
    return (
        cands.join(fa, on="id_a")
        .join(fb, on="id_b")
        .withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _check_hamming_near_dup_pairs(max_hamming, bits, max_band_freq, **_) -> None:
    ensure(max_hamming >= 0, "hamming_near_dup_pairs max_hamming must be >= 0")
    ensure(1 <= bits <= 1024, "hamming_near_dup_pairs bits must be in [1, 1024]")
    ensure(max_hamming < bits, "hamming_near_dup_pairs max_hamming must be < bits")
    ensure(
        max_band_freq is None or max_band_freq >= 1,
        "hamming_near_dup_pairs max_band_freq must be >= 1",
    )


@bind_operator("hamming_near_dup_pairs", check=_check_hamming_near_dup_pairs)
def hamming_near_dup_pairs(
    df: DataFrame,
    fp_col: str,
    id_col: str,
    max_hamming: int = 6,
    bits: int = 64,
    max_band_freq: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs whose PRECOMPUTED bit-string
    fingerprints differ in at most ``max_hamming`` bits — the
    ``simhash_near_dup_pairs`` pigeonhole banding generalized to any
    fingerprint column: a 64-bit perceptual image hash
    (``image_phash``), an externally computed simhash, an audio
    fingerprint. This is the join primitive behind perceptual image
    dedup: decode → ``image_phash`` → hamming band-join.

    Scale shape (identical to simhash): the fingerprint splits into
    ``max_hamming + 1`` disjoint bands covering all ``bits`` bits; k
    differing bits cannot touch all k+1 bands, so every pair within
    distance k agrees EXACTLY on at least one band. Candidates are an
    equi-join on (band index, band bits) — never all-pairs — and the
    verify is XOR + popcount over 32-bit chunks (`F.conv` of each
    32-char slice into a long; 32-bit chunks always fit a signed
    long, so any ``bits`` ≤ 1024 works without unsigned overflow).

    NULL fingerprints (e.g. ``image_phash`` error rows in
    ``on_error='null'`` mode) are excluded up front. A non-NULL
    fingerprint that is not exactly ``bits`` of [01] raises loudly at
    execution — a malformed fingerprint is a pipeline bug, not data
    to skip. ``max_band_freq`` optionally drops hotter-than-cap band
    keys (mass-identical content), as in ``minhash_candidates``.
    """
    from etl_core_spark.session import persist_intermediate

    if int(max_hamming) < 0:
        raise OperatorConfigError(
            "hamming_near_dup_pairs max_hamming must be >= 0"
        )
    if int(bits) < 1 or int(bits) > 1024:
        raise OperatorConfigError(
            "hamming_near_dup_pairs bits must be in [1, 1024]"
        )
    if int(max_hamming) >= int(bits):
        # a budget >= bits means EVERY pair qualifies — the banding
        # would need max_hamming+1 non-empty bands but only `bits`
        # exist, so the pigeonhole guarantee breaks (two maximally
        # distant fingerprints agree only on bands PAST the end of
        # the string, which carry no join key). That config is an
        # all-pairs request, not a near-dup search: raise.
        raise OperatorConfigError(
            "hamming_near_dup_pairs max_hamming must be < bits "
            "(a budget >= bits selects every pair — that is a cross "
            "join, not a near-dup search)"
        )
    if max_band_freq is not None and int(max_band_freq) < 1:
        raise OperatorConfigError(
            "hamming_near_dup_pairs max_band_freq must be >= 1"
        )
    bits = int(bits)
    fp_raw = F.col(fp_col)
    fp = F.when(
        fp_raw.rlike(f"^[01]{{{bits}}}$"), fp_raw
    ).otherwise(
        F.raise_error(F.concat(
            F.lit(
                f"hamming_near_dup_pairs: {fp_col!r} must be a "
                f"{bits}-char [01] fingerprint, got "
            ),
            fp_raw,
        )).cast("string")
    )
    n_chunks = -(-bits // 32)
    chunks = [
        F.conv(F.substring(fp, j * 32 + 1, 32), 2, 10)
        .cast("long")
        .alias(f"__c{j}")
        for j in range(n_chunks)
    ]
    # consumed 3x (banding + both verify sides)
    base = persist_intermediate(
        df.where(fp_raw.isNotNull()).select(F.col(id_col), fp.alias("__fp"), *chunks)
    )
    n_bands = int(max_hamming) + 1
    # Balanced band boundaries: band i spans 1-based positions
    # [cuts[i]+1, cuts[i+1]]. Every band is non-empty whenever
    # n_bands <= bits (guaranteed above by max_hamming < bits) —
    # unlike the uniform-width ceil(bits/n_bands) split, where for
    # some (bits, max_hamming) combos (e.g. bits=64, max_hamming=8:
    # width=8 covers 64 bits in 8 bands, leaving band 9 EMPTY) the
    # trailing bands are empty substrings: conv('', 2, 10) is NULL,
    # NULL band keys never equi-join, the effective band count drops
    # below max_hamming+1, and the pigeonhole guarantee silently
    # breaks (missed qualifying pairs). On the xxhash64 fallback the
    # same empty bands hash to one constant key instead — an
    # accidental all-pairs candidate generator. Balanced cuts remove
    # both failure modes.
    cuts = [i * bits // n_bands for i in range(n_bands + 1)]
    max_width = max(cuts[i + 1] - cuts[i] for i in range(n_bands))
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                # band key as a long for a narrow shuffle; widths
                # <= 62 keep conv inside a signed long.
                F.conv(
                    F.substring(
                        F.col("__fp"), cuts[i] + 1, cuts[i + 1] - cuts[i]
                    ),
                    2,
                    10,
                ).cast("long").alias("band_val"),
            )
            for i in range(n_bands)
        ]
    ) if max_width <= 62 else F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.xxhash64(
                    F.substring(
                        F.col("__fp"), cuts[i] + 1, cuts[i + 1] - cuts[i]
                    )
                ).alias("band_val"),
            )
            for i in range(n_bands)
        ]
    )
    ex = base.select(F.col(id_col), F.explode(bands).alias("__b")).select(
        F.col(id_col), F.col("__b.band_idx"), F.col("__b.band_val")
    )
    band_cols = ["band_idx", "band_val"]
    if max_band_freq is not None:
        rare = (
            ex.groupBy(*band_cols)
            .agg(F.count(F.lit(1)).alias("__bf"))
            .where(F.col("__bf") <= int(max_band_freq))
            .select(*band_cols)
        )
        ex = ex.join(rare, on=band_cols)
    a, b = ex.alias("a"), ex.alias("b")
    cands = (
        a.join(b, on=band_cols)
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    fa = base.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"__c{j}").alias(f"__ca{j}") for j in range(n_chunks)],
    )
    fb = base.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"__c{j}").alias(f"__cb{j}") for j in range(n_chunks)],
    )
    ham = sum(
        (
            F.bit_count(F.col(f"__ca{j}").bitwiseXOR(F.col(f"__cb{j}")))
            for j in range(n_chunks)
        ),
        F.lit(0),
    )
    return (
        cands.join(fa, on="id_a")
        .join(fb, on="id_b")
        .withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= int(max_hamming))
        .select("id_a", "id_b", "hamming")
    )


def typo_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_len: int = 64,
) -> DataFrame:
    """(id_a, id_b, dist) pairs whose normalized strings are within
    edit distance 1 — typo-tolerant matching for SHORT strings
    (names, titles, codes; rows longer than ``max_len`` chars are
    excluded — long-text near-dup belongs to MinHash/winnowing).

    Scale shape: SymSpell-style deletion neighborhoods. Each string
    emits itself plus every single-character deletion as candidate
    keys; two strings at distance 1 ALWAYS share a key (substitution
    → both delete position i; insertion/deletion → the shorter string
    IS a deletion of the longer), so an equi-join on the neighborhood
    key finds every true pair with no cross join — O(n·L) keys, one
    shuffle. Verification is exact ``levenshtein`` ≤ 1 (built-in in
    Spark AND DuckDB, so the whole operator oracle-checks).
    Candidates that merely share a deletion but sit at distance 2
    (e.g. 'abc'/'axc' share 'ac'... those are distance 1; rather
    'ab'/'ba' share 'a'/'b') are filtered by the verify stage."""
    norm = F.lower(F.trim(F.col(text_col)))
    base = (
        df.select(F.col(id_col), norm.alias("__t"))
        .where(F.length("__t").between(1, max_len))
    )
    # the deletion neighborhood is built with a SQL-text lambda:
    # substring's position argument must reference the lambda
    # variable, which the Python F.substring signature can't express
    keyed = base.select(
        F.col(id_col),
        F.col("__t"),
        F.explode(
            F.array_union(
                F.array(F.col("__t")),
                F.expr(
                    "transform(sequence(1, length(__t)), i -> "
                    "concat(substring(__t, 1, i - 1), substring(__t, i + 1, len(__t))))"
                ),
            )
        ).alias("__k"),
    )
    a = keyed.select(
        F.col(id_col).alias("id_a"), F.col("__t").alias("__ta"), F.col("__k")
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"), F.col("__t").alias("__tb"), F.col("__k")
    )
    return (
        a.join(b, on="__k")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__ta", "__tb")
        .distinct()
        .withColumn("dist", F.levenshtein(F.col("__ta"), F.col("__tb")).cast("long"))
        .where(F.col("dist") <= 1)
        .select("id_a", "id_b", "dist")
    )


def _union_find_labels(edges: list) -> dict:
    """Driver-side union-find (union by min root, path compression)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
        parent.setdefault(a, find(a))
        parent.setdefault(b, find(b))
    return {x: find(x) for x in parent}


def _star_overlap_probe(e: DataFrame) -> bool:
    """True when no star member (u) ever appears as a root (v) — the
    join-shaped half of the CC convergence test. Module-level so tests
    can count how often the expensive probe actually runs."""
    overlap = (
        e.select("u").join(e.select(F.col("v").alias("u")), on="u")
        .limit(1)
        .count()
    )
    return overlap == 0


@bind_operator("near_dup_clusters", in_ports=("pairs",))
def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair list →
    ``(id, cluster_id)`` with ``cluster_id`` = min id in the
    component. The standard transitive-closure dedup semantic: a
    chain a~b~c is ONE cluster even when a~c was never verified
    (the pair-greedy policy in ``DedupOperator`` keeps every local
    minimum instead — both are legitimate; this is the one
    large-scale training-data pipelines usually want).

    Two execution paths, picked by a count of the (already small)
    pair relation:

    - ``≤ driver_max_edges``: collect the edges and union-find on
      the driver. The pair list is the verified product of LSH — a
      tiny fraction of the corpus — and a distributed round costs
      whole Spark jobs; a million-edge union-find is milliseconds.
      This is NOT a driver-side loop over corpus data: only edges
      (two ids each) ever leave the executors.
    - larger graphs: alternating large-star/small-star rounds
      (Kiveris et al., "Connected Components in MapReduce and
      Beyond") — converges in O(log n) rounds on ANY graph shape,
      including the long chains that defeat O(diameter) min-label
      propagation. Each round is two groupBy+join passes over the
      edge relation; the edge frontier is eagerly
      ``localCheckpoint``-ed EVERY round — one round's plan
      references the previous relation ~8x, so without per-round
      truncation the logical plan (and Catalyst analysis time) grows
      exponentially. On a real cluster prefer ``setCheckpointDir`` +
      ``checkpoint()`` for executor-loss resilience. Raises after
      ``max_iters`` rounds rather than returning unconverged labels.
    """
    from etl_core_spark.session import checkpoint, persist_intermediate, release

    raw = pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("t"))
    if driver_max_edges > 0:
        # ONE bounded collect doubles as the size probe (limit keeps
        # it driver-safe; an over-limit graph pays one bounded fetch
        # and falls through to the distributed loop)
        head = raw.limit(driver_max_edges + 1).collect()
        if len(head) <= driver_max_edges:
            labels = _union_find_labels([(r["s"], r["t"]) for r in head])
            spark = pairs.sparkSession
            id_type = pairs.schema[id_a].dataType
            from pyspark.sql import types as T

            schema = T.StructType(
                [T.StructField("id", id_type), T.StructField("cluster_id", id_type)]
            )
            return spark.createDataFrame(sorted(labels.items()), schema)

    # ---- large-star/small-star ------------------------------------
    # Edges live oriented (u > v). Invariants per phase:
    #   large-star: every node u connects its LARGER neighbors to the
    #     min of its neighborhood (incl. itself) — emits (bigger, m)
    #   small-star: every node u connects itself and its SMALLER
    #     neighbors to the min of the smaller neighborhood
    # Alternating the two halves the effective component height every
    # round; at the fixed point every component is a star rooted at
    # its minimum node.
    nodes = persist_intermediate(
        raw.select(F.col("s").alias("id"))
        .union(raw.select(F.col("t").alias("id")))
        .distinct()
    )
    edges = persist_intermediate(
        raw.where(F.col("s") != F.col("t"))
        .select(
            F.greatest("s", "t").alias("u"), F.least("s", "t").alias("v")
        )
        .distinct()
    )

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.join(mins, on="u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # e is oriented u > v, so the per-u rows ARE the smaller
        # neighborhood; m = min(v) < u always
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        moved = (
            e.join(mins, on="u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select(F.col("u"), F.col("m").alias("v")))
        )
        return moved.where(F.col("u") != F.col("v")).distinct()

    prev_sig = None
    for i in range(max_iters):
        # EAGER localCheckpoint every round: one round's plan
        # references the previous edge relation ~8x (sym union + two
        # self-joins), so without truncation the LOGICAL plan grows
        # exponentially and Catalyst re-analysis dominates (measured
        # minutes by round 8 on a 60-edge chain). The checkpoint
        # replaces the plan with a LogicalRDD — per-round analysis
        # stays O(1) and the materialization doubles as the round's
        # cache (persist would materialize anyway for the star test).
        new_edges = checkpoint(_small_star(_large_star(edges)))
        # Exact convergence test, staged so the expensive half only
        # runs at the fixed point. A min-rooted star set IS the fixed
        # point of both operations (large-star and small-star are
        # identities on it) and every fixed point is such a star set,
        # characterized by:
        #   (a) every member u appears exactly once, and
        #   (b) no member ever appears as a root.
        # The O(|edges|) self-join probe for (b) is gated on a cheap
        # per-round SIGNATURE plateau — (count, distinct u,
        # sum(xxhash64(u,v))) from one map-side aggregate over the
        # checkpointed edges. Count alone can't gate: on a chain every
        # round keeps n = nodes - roots constant while labels still
        # move; the content hash changes until roots stop moving. A
        # stable signature almost surely means an unchanged edge set
        # (= fixed point); the probe then verifies EXACTLY, so a
        # signature collision costs one wasted probe, never a wrong
        # answer. Detection lands one identity round after the true
        # fixed point — two joins once, in exchange for dropping a
        # join-shaped action from every one of the O(log n) rounds.
        # xxhash64 handles any id type (string doc ids included); the
        # decimal sum is exact, overflow-free and order-independent —
        # a double sum would be order-dependent across rounds, so two
        # identical edge sets could compare unequal and stall
        # detection behind max_iters
        sig = tuple(
            new_edges.agg(
                F.count(F.lit(1)),
                F.count_distinct("u"),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            ).first()
        )
        # the probe also runs on the LAST allowed iteration regardless
        # of plateau: a graph that reaches the fixed point exactly at
        # round max_iters-1 (e.g. max_iters=1 on an already-star
        # input) must be detected there, not raise — the plateau gate
        # may only delay detection where spare rounds exist
        converged = (
            (sig == prev_sig or i == max_iters - 1)
            and sig[0] == sig[1]
            and _star_overlap_probe(new_edges)
        )
        prev_sig = sig
        # free the superseded round NOW: new_edges is already
        # materialized (eager localCheckpoint), so nothing references
        # the previous relation — waiting for scope exit instead pins
        # O(rounds x |edges|) of executor storage across the run
        release(edges)
        edges = new_edges
        if converged:
            # fixed point: edges are (member, component-min-root);
            # the checkpoint blocks ARE the cache (no extra persist)
            # and the returned plan reads them until the scope exits
            stars = edges.select(
                F.col("u").alias("id"), F.col("v").alias("__root")
            )
            return (
                nodes.join(stars, on="id", how="left")
                .select(
                    "id",
                    F.coalesce(F.col("__root"), F.col("id")).alias("cluster_id"),
                )
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} "
        "large-star/small-star rounds — rounds grow O(log n), so this "
        "indicates a defect or an extraordinarily large graph; raise "
        "max_iters"
    )


def simhash_dup_groups(df: DataFrame, text_col: str, id_col: str, shingle_n: int = 2) -> DataFrame:
    """Groups of docs sharing an identical simhash fingerprint."""
    fp = simhash_fingerprints(df, text_col, id_col, shingle_n)
    return (
        fp.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_id"))
        .where(F.col("n_docs") > 1)
    )


def _drop_dups(df: DataFrame, pairs: DataFrame, id_col: str, config: dict) -> DataFrame:
    """Survivor selection from verified near-dup pairs.

    ``survivor_policy``:

    - ``greedy`` (default): drop the higher id of every pair — keeps
      every LOCAL minimum of the pair graph. A doc survives unless a
      smaller-id doc was directly verified similar to it; two docs
      that merely share a neighbor both survive. Lazy, one anti-join.
    - ``cluster``: transitive closure (``connected_components``) —
      one survivor (min id) per connected component, the standard
      training-corpus semantic. Eager (iterative convergence), one
      extra join.
    - ``best``: transitive closure, but the survivor is the member
      with the LARGEST ``survivor_order_col`` (NUMERIC — e.g. an
      lm_score / quality_classifier score; NULL scores always lose),
      ties by smallest id — "keep the highest-quality duplicate",
      the curation-aware refinement of ``cluster``. Argmax via
      struct-min per component (the LPA pattern), no window sort.
    """
    policy = config.get("survivor_policy", "greedy")
    if policy == "greedy":
        dups = pairs.select(F.col("id_b").alias(id_col)).distinct()
        return df.join(dups, on=id_col, how="left_anti")
    if policy in ("cluster", "best"):
        clusters = connected_components(pairs, max_iters=int(config.get("max_iters", 50)))
        if policy == "cluster":
            dups = (
                clusters.where(F.col("id") != F.col("cluster_id"))
                .select(F.col("id").alias(id_col))
            )
            return df.join(dups, on=id_col, how="left_anti")
        order_col = config.get("survivor_order_col")
        if not order_col:
            raise OperatorConfigError(
                "survivor_policy='best' requires 'survivor_order_col'"
            )
        member = clusters.join(
            df.select(
                F.col(id_col).alias("id"),
                # NULL scores must LOSE, not win the struct-min:
                # coalesce to -inf before negating
                (-F.coalesce(
                    F.col(order_col).cast("double"),
                    F.lit(float("-inf")),
                )).alias("__neg"),
            ),
            on="id",
        )
        best = (
            member.groupBy("cluster_id")
            .agg(
                F.min(
                    F.struct(
                        F.col("__neg").alias("s"), F.col("id").alias("i")
                    )
                ).alias("__b")
            )
            .select(F.col("__b.i").alias("__keep"))
        )
        dups = member.join(
            best, member["id"] == best["__keep"], "left_anti"
        ).select(F.col("id").alias(id_col))
        return df.join(dups, on=id_col, how="left_anti")
    raise OperatorConfigError(f"unknown survivor_policy {policy!r}")


@register_operator("dedup")
class DedupOperator(Operator):
    """Config: ``method`` ∈ {exact, minhash_lsh, simhash, typo,
    ngram_jaccard, embedding_cosine}; per-method keys as in the
    functions above. Near-dup methods accept ``survivor_policy`` ∈
    {greedy, cluster, best} (+ ``survivor_order_col`` for best; see
    ``_drop_dups``)."""

    in_ports = ("in",)
    out_ports = ("out",)

    def validate_config(self) -> None:
        self.method = self.config.get("method", "exact")
        if self.method not in (
            "exact", "minhash_lsh", "simhash", "typo", "ngram_jaccard",
            "embedding_cosine",
        ):
            raise OperatorConfigError(f"unknown dedup method {self.method!r}")

    def apply(self, inputs: PortMap) -> PortMap:
        df = self.single_input(inputs)
        c = self.config
        if self.method == "exact":
            keys = c.get("keys")
            if not keys:
                raise OperatorConfigError("exact dedup requires 'keys'")
            return {"out": exact_dedup(df, list(keys), c.get("id_col"))}
        if self.method == "typo":
            # short-string edit-distance-1 dedup (names/titles/codes)
            pairs = typo_near_dup_pairs(
                df,
                c.get("text_col", "text"),
                c.get("id_col", "doc_id"),
                int(c.get("max_len", 64)),
            )
            return {"out": _drop_dups(df, pairs, c.get("id_col", "doc_id"), c)}
        if self.method == "ngram_jaccard":
            mtf = c.get("max_token_freq")
            pairs = jaccard_dedup_pairs(
                df,
                c.get("text_col", "text"),
                c.get("id_col", "doc_id"),
                float(c.get("threshold", 0.7)),
                int(c.get("shingle_n", 3)),
                int(mtf) if mtf is not None else None,
            )
            return {"out": _drop_dups(df, pairs, c.get("id_col", "doc_id"), c)}
        if self.method == "embedding_cosine":
            # near-dup over an embedding column (LSH-bucketed pair
            # mining by default; exact=True for small oracle runs)
            from etl_core_spark.operators.similarity import (
                cosine_near_dup_pairs,
            )

            id_col = c.get("id_col", "vec_id")
            pairs = cosine_near_dup_pairs(
                df,
                threshold=float(c.get("threshold", 0.95)),
                vec_col=c.get("vec_col", "embedding"),
                id_col=id_col,
                dim=int(c.get("dim", 64)),
                num_planes=int(c.get("num_planes", 6)),
                seed=int(c.get("seed", 42)),
                exact=bool(c.get("exact", False)),
                num_tables=int(c.get("num_tables", 1)),
            )
            return {"out": _drop_dups(df, pairs, id_col, c)}
        if self.method == "minhash_lsh":
            mbf = c.get("max_band_freq")
            pairs = minhash_dedup_pairs(
                df,
                c.get("text_col", "text"),
                c.get("id_col", "doc_id"),
                float(c.get("threshold", 0.7)),
                int(c.get("num_hashes", 16)),
                int(c.get("bands", 8)),
                int(c.get("shingle_n", 3)),
                int(mbf) if mbf is not None else None,
            )
            return {"out": _drop_dups(df, pairs, c.get("id_col", "doc_id"), c)}
        # simhash
        id_col = c.get("id_col", "doc_id")
        text_col = c.get("text_col", "text")
        shingle_n = int(c.get("shingle_n", 2))
        max_hamming = c.get("max_hamming")
        if max_hamming is not None:
            # near-dup mode: drop the higher id of every pair within
            # the hamming budget (banded candidates, no all-pairs)
            pairs = simhash_near_dup_pairs(
                df, text_col, id_col, shingle_n, int(max_hamming)
            )
            return {"out": _drop_dups(df, pairs, id_col, c)}
        fp = simhash_fingerprints(df, text_col, id_col, shingle_n)
        keep = fp.groupBy("simhash").agg(F.min(id_col).alias(id_col))
        return {"out": df.join(keep, on=id_col, how="left_semi")}


@register_operator("incremental_dedup")
class IncrementalDedupOperator(Operator):
    """New-batch near-dup against a persistent MinHash index
    (``minhash_index_update`` / the ``minhash_index`` sink). Config:
    ``index_path`` (required), ``threshold``, ``text_col``,
    ``id_col``, ``action`` ∈ {annotate, drop}. ``annotate`` adds
    ``n_corpus_matches`` / ``is_corpus_dup`` to every batch row;
    ``drop`` anti-joins the matched rows out. Writing survivors back
    into the index is the ``minhash_index`` SINK's job — this
    operator stays a pure transform."""

    in_ports = ("in",)
    out_ports = ("out",)

    def validate_config(self) -> None:
        if not self.config.get("index_path"):
            raise OperatorConfigError("incremental_dedup requires 'index_path'")
        self.action = self.config.get("action", "annotate")
        if self.action not in ("annotate", "drop"):
            raise OperatorConfigError(f"unknown action {self.action!r}")

    def apply(self, inputs: PortMap) -> PortMap:
        df = self.single_input(inputs)
        c = self.config
        id_col = c.get("id_col", "doc_id")
        pairs = incremental_near_dup_pairs(
            df,
            str(c["index_path"]),
            c.get("text_col", "text"),
            id_col,
            float(c.get("threshold", 0.7)),
        )
        matched = pairs.groupBy("id_new").agg(
            F.count(F.lit(1)).alias("n_corpus_matches")
        )
        if self.action == "drop":
            dups = matched.select(F.col("id_new").alias(id_col))
            return {"out": df.join(dups, on=id_col, how="left_anti")}
        joined = df.join(
            matched.withColumnRenamed("id_new", id_col), on=id_col, how="left"
        )
        return {
            "out": joined.select(
                *df.columns,
                F.coalesce("n_corpus_matches", F.lit(0)).alias("n_corpus_matches"),
                (F.coalesce("n_corpus_matches", F.lit(0)) > 0).alias(
                    "is_corpus_dup"
                ),
            )
        }


@register_operator("minhash_index")
class MinHashIndexSink(SinkOperator):
    """Sink: write a batch's MinHash signatures into the persistent
    index. Config: ``index_path`` (required), ``text_col``,
    ``id_col``, ``num_hashes``, ``bands``, ``shingle_n``, ``mode`` ∈
    {append, upsert}. Compose after ``incremental_dedup`` with
    ``action=drop`` so only surviving docs enter the index."""

    def validate_config(self) -> None:
        if not self.config.get("index_path"):
            raise OperatorConfigError("minhash_index requires 'index_path'")

    def write(self, df: DataFrame) -> None:
        c = self.config
        minhash_index_update(
            df,
            c.get("text_col", "text"),
            c.get("id_col", "doc_id"),
            str(c["index_path"]),
            int(c.get("num_hashes", 16)),
            int(c.get("bands", 8)),
            int(c.get("shingle_n", 3)),
            str(c.get("mode", "append")),
        )


def _check_containment_pairs(threshold, **_) -> None:
    ensure(0 < threshold <= 1, "containment threshold must be in (0, 1]")


@bind_operator("containment_pairs", check=_check_containment_pairs)
def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_shingle_freq: int | None = 100,
) -> DataFrame:
    """ASYMMETRIC containment pairs (Broder 1997, "On the resemblance
    and containment of documents"): ``containment = |A ∩ B| / |A|``
    over distinct shingle sets — "what fraction of A also appears in
    B". The dedup-ladder member resemblance misses: a short document
    QUOTED inside a long one has high containment but low Jaccard
    (the union is dominated by the long side), so near-dup passes
    keep both while the short one is pure redundancy. Output is
    ORDERED pairs ``(id_a, id_b, n_shared, containment)`` — A
    contained in B; both directions emitted when both clear the
    threshold.

    Scale shape: the shingle table (computed once, persisted) feeds
    an exploded xxhash64-keyed equi-join — 8-byte join keys, the
    winnow_near_dup_pairs discipline — with ``max_shingle_freq``
    capping join fan-out at cap² per shingle (hot boilerplate
    shingles are exactly what exact/substring dedup handles; capped
    shingles still count toward |A|, so containment can only
    UNDERCOUNT — the conservative direction). One pair-keyed
    aggregate; no all-pairs comparison anywhere.
    """
    if not 0 < float(threshold) <= 1:
        raise OperatorConfigError(
            "containment threshold must be in (0, 1]"
        )
    from etl_core_spark.session import persist_intermediate

    sh = _shingle_table(df, text_col, id_col, shingle_n)
    sized = sh.where(F.size("sh") > 0).select(
        F.col(id_col), F.size("sh").alias("__n"), "sh"
    )
    # cached PRE-PARTITIONED on the shingle key (r14, guide §2.4):
    # the freq-cap groupBy, its semi-join back, and both self-join
    # sides are all keyed on __s — one upfront exchange replaces up
    # to four in the SMJ shape.
    ex = persist_intermediate(  # consumed by the freq cap + both join sides
        sized.select(
            F.col(id_col),
            "__n",
            F.explode("sh").alias("__s0"),
        ).select(F.col(id_col), "__n", F.xxhash64("__s0").alias("__s")),
        key="__s",
    )
    if max_shingle_freq is not None:
        rare = (
            ex.groupBy("__s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= int(max_shingle_freq))
            .select("__s")
        )
        ex = ex.join(rare, on="__s")
    a = ex.select(
        F.col(id_col).alias("id_a"), F.col("__n").alias("__na"), "__s"
    )
    b = ex.select(F.col(id_col).alias("id_b"), "__s")
    return (
        a.join(b, on="__s")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.first("__na").alias("__na"),
        )
        .withColumn(
            "containment",
            F.round(F.col("n_shared") / F.col("__na"), 6),
        )
        .where(F.col("containment") >= float(threshold))
        .select("id_a", "id_b", "n_shared", "containment")
    )
