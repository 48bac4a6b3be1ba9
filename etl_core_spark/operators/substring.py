"""Cross-document exact-substring deduplication (beyond-reference).

Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better", §3 EXACTSUBSTR) remove every substring of >= 50 tokens that
appears verbatim in MORE THAN ONE place in the corpus — the curation
step that kills shared boilerplate (licenses, headers, templated
prose) which whole-document MinHash/SimHash Jaccard can't see. The
paper builds a single suffix array; a distributed engine gets the
same span coverage from token k-grams (every duplicated span of
>= k tokens contains a duplicated k-gram, and tiling the duplicated
k-grams covers exactly the tokens inside maximal duplicated spans).

This module is the CROSS-DOCUMENT member of the dedup ladder
(exact -> minhash -> simhash -> semantic -> substring): a k-gram
counts as duplicated only when it occurs in >= ``min_docs`` DISTINCT
documents. Within-document repetition alone (chorus lines, tables)
is deliberately out of scope here — ``strip_duplicate_spans``
(operators/text_analysis.py) covers total-occurrence tiling.

Two surfaces:

- ``substring_dup_spans`` — the inspection/annotation table:
  one row per MAXIMAL duplicated span per document,
  ``(doc_id, span_start, span_end, span_len, n_grams)`` in token
  coordinates (start inclusive, end exclusive).
- ``substring_dedup`` — the row-preserving rewrite (the
  strip_duplicate_spans output contract: ``<text>_dedup``,
  ``n_tokens_kept``, ``n_tokens_dropped``, ``dup_span_frac``).
  ``keep_one=True`` (the paper's "remove all but one") preserves the
  CANONICAL occurrence of each duplicated k-gram — the hit with the
  smallest ``(doc_id, position)`` — so exactly one copy of every
  duplicated passage survives the corpus; ``keep_one=False`` strips
  every occurrence.

Scale shape (100 TB):

- The gram table is ONE narrow posexplode of xxhash64 k-gram keys —
  8-byte join keys, never gram strings, the winnowing discipline
  (gram-hash collisions carry the usual ~2^-64 phantom-span risk).
- Cross-document detection is a TWO-LEVEL aggregate — groupBy
  (gram, doc) then groupBy gram — both map-side combinable; no
  count-distinct expand, no suffix array, nothing driver-sized.
- The only joins are gram-keyed equi-joins (hit table vs the
  duplicated-gram table: fan-out 1:1 per hit) and one id-keyed join
  back to documents. There is NO doc-pair join anywhere, so hot
  boilerplate grams cause no quadratic blowup — unlike
  winnow_near_dup_pairs, a document-frequency cap is not needed for
  safety. ``max_doc_freq`` is still offered for the STOPWORD trade
  (treat ultra-hot grams as template noise to keep, e.g. boilerplate
  you intend to dedup with a dedicated pass); default None = the
  paper's semantics.
- Span assembly is the classic gaps-and-islands window PARTITIONED
  BY DOCUMENT (hit counts per doc are bounded by doc length), then
  one groupBy — no per-position explode, no driver collect.

Reference counterpart: none (the reference engine has no dedup
family); the behavioral spec is the public Lee et al. 2022 paper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_core_spark.functions import text as X
from etl_core_spark.operators.base import OperatorConfigError, bind_operator, ensure


def _gram_hits(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, __s, __gh): one row per k-gram occurrence — 0-based token
    start + xxhash64 of the space-joined gram. Documents shorter than
    k tokens contribute nothing. NULL text = empty document."""
    toks = F.coalesce(
        X.tokens(F.col(text_col)), F.array().cast("array<string>")
    )
    toked = df.select(F.col(id_col), toks.alias("__toks"))
    starts = F.when(
        F.size("__toks") >= k, F.sequence(F.lit(0), F.size("__toks") - k)
    ).otherwise(F.array().cast("array<int>"))
    return toked.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                starts,
                lambda i: F.xxhash64(
                    F.array_join(F.slice("__toks", i + 1, k), " ")
                ),
            )
        ).alias("__s", "__gh"),
    )


def _dup_grams(
    hits: DataFrame,
    id_col: str,
    min_docs: int,
    max_doc_freq: int | None,
) -> DataFrame:
    """Grams occurring in >= min_docs distinct documents, with the
    canonical (smallest doc, then smallest start) occurrence. Two
    map-side-combinable aggregates — no count-distinct expand."""
    per_doc = hits.groupBy("__gh", id_col).agg(F.min("__s").alias("__ms"))
    g = per_doc.groupBy("__gh").agg(
        F.count(F.lit(1)).alias("__nd"),
        F.min(F.struct(F.col(id_col).alias("d"), F.col("__ms").alias("s"))).alias(
            "__canon"
        ),
    )
    g = g.where(F.col("__nd") >= int(min_docs))
    if max_doc_freq:
        g = g.where(F.col("__nd") <= int(max_doc_freq))
    return g


def _merge_islands(hits: DataFrame, id_col: str, k: int) -> DataFrame:
    """Maximal spans from k-gram hit starts: hits [s, s+k) within a
    document merge while the next start is <= previous start + k
    (coverage stays contiguous). One window partitioned by document +
    one groupBy."""
    w = Window.partitionBy(id_col).orderBy("__s")
    lag_s = F.lag("__s").over(w)
    brk = F.when(
        lag_s.isNull() | (F.col("__s") > lag_s + F.lit(int(k))), 1
    ).otherwise(0)
    isl = hits.withColumn("__brk", brk).withColumn(
        "__isl",
        F.sum("__brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return isl.groupBy(id_col, "__isl").agg(
        F.min("__s").cast("long").alias("span_start"),
        (F.max("__s") + F.lit(int(k))).cast("long").alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_grams"),
    )


def _check_span_tokens(span_tokens, **_) -> None:
    ensure(span_tokens >= 2, "span_tokens must be >= 2")


@bind_operator("substring_dup_spans", check=_check_span_tokens)
def substring_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 50,
    min_docs: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(id, span_start, span_end, span_len, n_grams): every MAXIMAL
    token span covered by k-grams shared with >= ``min_docs``-1 other
    documents. Token coordinates: 0-based start inclusive, end
    exclusive; ``n_grams`` = duplicated k-gram hits merged into the
    span. Documents with no cross-document duplicated grams emit no
    rows (this is the inspection surface; the row-preserving rewrite
    is ``substring_dedup``)."""
    k = int(span_tokens)
    if k < 2:
        raise OperatorConfigError("span_tokens must be >= 2")
    if int(min_docs) < 2:
        raise OperatorConfigError(
            "min_docs must be >= 2 (cross-document dedup; for "
            "within-document tiling use strip_duplicate_spans)"
        )
    from etl_core_spark.session import (
        ensure_parallelism,
        persist_intermediate,
    )

    hits = persist_intermediate(  # consumed twice: dup agg + hit join
        _gram_hits(ensure_parallelism(df), text_col, id_col, k)
    )
    dup = _dup_grams(hits, id_col, int(min_docs), max_doc_freq)
    dup_hits = hits.join(dup.select("__gh"), on="__gh")
    spans = _merge_islands(dup_hits, id_col, k)
    return spans.select(
        F.col(id_col),
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start")).alias("span_len"),
        "n_grams",
    )


@bind_operator("substring_dedup", check=_check_span_tokens)
def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 50,
    min_docs: int = 2,
    keep_one: bool = True,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Row-preserving cross-document substring rewrite (Lee et al.
    2022 EXACTSUBSTR semantics): a token is removed when a
    cross-document-duplicated k-gram covers its position — except,
    with ``keep_one=True``, tokens covered ONLY by CANONICAL
    occurrences (each duplicated gram's smallest ``(doc, start)``
    hit), so exactly one copy of every duplicated passage survives
    the corpus. Output contract matches strip_duplicate_spans:
    ``<text_col>_dedup`` (kept tokens joined by ' ' — whitespace
    normalized), ``n_tokens_kept``, ``n_tokens_dropped``,
    ``dup_span_frac``."""
    k = int(span_tokens)
    if k < 2:
        raise OperatorConfigError("span_tokens must be >= 2")
    if int(min_docs) < 2:
        raise OperatorConfigError(
            "min_docs must be >= 2 (cross-document dedup; for "
            "within-document tiling use strip_duplicate_spans)"
        )
    from etl_core_spark.session import (
        ensure_parallelism,
        persist_intermediate,
    )

    df = ensure_parallelism(df)
    hits = persist_intermediate(
        _gram_hits(df, text_col, id_col, k)
    )
    dup = _dup_grams(hits, id_col, int(min_docs), max_doc_freq)
    strip_hits = hits.join(dup, on="__gh")
    if keep_one:
        strip_hits = strip_hits.where(
            ~(
                (F.col(id_col) == F.col("__canon.d"))
                & (F.col("__s") == F.col("__canon.s"))
            )
        )
    doc_starts = strip_hits.groupBy(id_col).agg(
        F.collect_list("__s").alias("__starts")
    )
    toks = F.coalesce(
        X.tokens(F.col(text_col)), F.array().cast("array<string>")
    )
    joined = df.join(doc_starts, on=id_col, how="left").withColumn(
        "__starts", F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("__starts"), lambda s: (s <= i) & (i < s + k)
        ),
    )
    total = F.size(toks).cast("long")
    n_kept = F.size(kept).cast("long")
    return joined.select(
        *df.columns,
        F.array_join(kept, " ").alias(f"{text_col}_dedup"),
        n_kept.alias("n_tokens_kept"),
        (total - n_kept).alias("n_tokens_dropped"),
        F.round(
            F.when(total > 0, (total - n_kept) / total.cast("double"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("dup_span_frac"),
    )
