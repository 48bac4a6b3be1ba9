"""Text analysis operator (beyond-reference): language ID, quality
scoring, token counting, fingerprinting — the cheap single-pass
document metrics a training-data pipeline runs before dedup/filter.

All metrics are codegen'd column expressions (functions/text.py);
one narrow map over the documents table, no shuffle, no Python.
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

AVAILABLE_METRICS = (
    "n_chars",
    "n_tokens",
    "n_tokens_bpe",
    "punct_ratio",
    "stopword_ratio",
    "mean_token_length",
    "quality_score",
    "lang_pred",
    "lang_pred_ngram",
    "fingerprint",
    "dup_line_frac",
    "dup_line_char_frac",
    "top_bigram_char_frac",
    "alpha_token_frac",
    "bullet_line_frac",
    "ellipsis_line_frac",
    "symbol_token_ratio",
    "gopher_rules_pass",
)


@bind_operator("text_analysis")
def annotate(df: DataFrame, text_col: str = "text", metrics: tuple[str, ...] = AVAILABLE_METRICS) -> DataFrame:
    from etl_core_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    col = F.col(text_col)
    exprs = {
        "n_chars": lambda: X.char_count(col),
        "n_tokens": lambda: X.token_count(col),
        "n_tokens_bpe": lambda: F.size(X.bpe_ish_tokens(col)),
        "punct_ratio": lambda: F.round(X.punct_ratio(col), 6),
        "stopword_ratio": lambda: F.round(X.stopword_ratio(col), 6),
        "mean_token_length": lambda: F.round(X.mean_token_length(col), 6),
        "quality_score": lambda: X.quality_score(col),
        "lang_pred": lambda: X.lang_id(col),
        "lang_pred_ngram": lambda: X.lang_id_ngram(col),
        "fingerprint": lambda: F.md5(col),
        "dup_line_frac": lambda: F.round(X.dup_line_frac(col), 6),
        "dup_line_char_frac": lambda: F.round(X.dup_line_char_frac(col), 6),
        "top_bigram_char_frac": lambda: F.round(X.top_bigram_char_frac(col), 6),
        # Gopher web-corpus quality gates (Rae et al. 2021, A1.1)
        "alpha_token_frac": lambda: F.round(X.alpha_token_frac(col), 6),
        "bullet_line_frac": lambda: F.round(X.bullet_line_frac(col), 6),
        "ellipsis_line_frac": lambda: F.round(X.ellipsis_line_frac(col), 6),
        "symbol_token_ratio": lambda: F.round(X.symbol_token_ratio(col), 6),
        "gopher_rules_pass": lambda: X.gopher_rules_pass(col),
    }
    out = df
    for m in metrics or AVAILABLE_METRICS:
        if m not in exprs:
            raise OperatorConfigError(f"unknown text metric {m!r}")
        out = out.withColumn(m, exprs[m]())
    return out


def tf_idf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
) -> DataFrame:
    """Per-document top-k terms by smoothed TF-IDF.

    tf = term count within the document; idf = ln((N+1)/(df+1)) + 1
    (sklearn's smoothed variant — bounded, never zero). Classic
    keyword extraction / vocab-pruning pass for a training-data
    pipeline. Plan shape: explode → two hash aggregations (both
    map-side combinable) → join the per-term df table back → per-doc
    window top-k. The df join carries NO explicit broadcast hint:
    the relation is vocabulary-sized — small for one corpus, tens of
    millions of n-gram rows on a crawl — so an unconditional hint
    would bypass autoBroadcastJoinThreshold; AQE converts the join to
    broadcast at runtime whenever the vocabulary actually is small
    (both sides shuffle on ``term`` otherwise, which is the correct
    100 TB shape). Ties break on term asc so results are
    engine-independent; scores rounded to 6dp for cross-engine float
    equality.

    The corpus size N rides the plan as a broadcast one-row aggregate
    cross-joined into the scored rows — NOT a driver-side
    ``.count()``. Building this plan therefore launches zero Spark
    jobs (the engine's lazy contract, plans/builder.py) and costs no
    extra corpus scan; the previous eager-count form paid one full
    scan+shuffle per call at plan-construction time.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(X.tokens(F.lower(F.col(text_col)))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct(id_col).alias("__n_docs"))
    idf = F.log((F.col("__n_docs") + 1).cast("double") / (F.col("df") + 1)) + 1
    scored = (
        tf.join(doc_freq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            F.round(F.col("tf") * idf, 6).alias("tf_idf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf_idf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top_k)
        .select(id_col, "term", "tf_idf", "rank")
    )


@register_operator("clean_text")
class CleanTextOperator(Operator):
    """Text cleaning / PII redaction (beyond-reference): HTML-tag
    strip, entity unescape, email/IPv4/phone redaction, whitespace
    normalization, optional lowercasing — the standard scrub pass a
    corpus gets before dedup/tokenization. One narrow codegen'd map
    (functions/text.py clean chain), no shuffle, no Python; patterns
    stay in the Java-regex ∩ RE2 subset so the DuckDB oracle
    reproduces the output exactly."""

    in_ports = ("in",)
    out_ports = ("out",)

    def validate_config(self) -> None:
        self.text_col = self.config.get("text_col", "text")
        self.output_col = self.config.get("output_col", "text_clean")
        steps = tuple(self.config.get("steps") or X.DEFAULT_CLEAN_STEPS)
        for s in steps:
            if s not in X.CLEAN_STEPS:
                raise OperatorConfigError(
                    f"unknown clean_text step {s!r}; have {X.CLEAN_STEPS}"
                )
        self.steps = steps

    def apply(self, inputs: PortMap) -> PortMap:
        df = self.single_input(inputs)
        out = df.withColumn(
            self.output_col, X.clean_text(F.col(self.text_col), self.steps)
        )
        return {"out": out}


@bind_operator("chunk_documents")
def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 256,
    overlap: int = 32,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    embedding/RAG/pretraining preprocessing step. Output one row per
    chunk: (id, chunk_idx, chunk_text, n_tokens).

    Shape: tokens → sequence of window starts (stride = chunk_tokens
    − overlap) → explode → slice+join. Pure codegen array ops, zero
    shuffle, output rows ∝ input tokens / stride. A document shorter
    than one chunk yields exactly one chunk (its whole text,
    whitespace-normalized); empty/NULL docs yield no rows — a crawl
    corpus's empties must not become empty training rows.

    Deterministic and engine-portable: chunk boundaries are pure
    token arithmetic (no tokenizer state), so the DuckDB oracle
    reproduces byte-identical chunks.
    """
    if chunk_tokens < 1 or not 0 <= overlap < chunk_tokens:
        raise OperatorConfigError(
            "chunk_documents requires chunk_tokens >= 1 and 0 <= overlap < chunk_tokens"
        )
    from etl_core_spark.session import ensure_parallelism

    stride = chunk_tokens - overlap
    toks = X.tokens(F.col(text_col))
    n = F.size(toks)
    # last window start: the largest multiple of stride that still
    # begins inside the doc AND starts new content (start < n); for
    # n <= chunk_tokens that is just start 0
    n_starts = F.when(
        n > chunk_tokens, F.ceil((n - F.lit(overlap)) / F.lit(stride))
    ).otherwise(F.lit(1)).cast("int")
    base = ensure_parallelism(df).where(F.length(F.trim(F.col(text_col))) > 0)
    exploded = base.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0), n_starts - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * stride
    piece = F.slice(F.col("__toks"), start + 1, chunk_tokens)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        # chunk_idx FIRST: it is digits-only, so the FIRST ':' always
        # splits unambiguously even when document ids themselves
        # contain ':'. (id-first is also injective, but only under a
        # split-on-LAST-colon rule — consumers naturally split on the
        # first, and that rule DID collide for colon-bearing ids)
        F.concat_ws(
            ":", F.col("chunk_idx").cast("string"), F.col(id_col).cast("string")
        ).alias("chunk_id"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def _check_decontaminate(ngram_n, **_) -> None:
    ensure(ngram_n >= 1, "decontaminate requires ngram_n >= 1")


@bind_operator("decontaminate", in_ports=("docs", "benchmark"), check=_check_decontaminate)
def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    ngram_n: int = 8,
    max_matches: int = 0,
    hash_keys: bool = False,
) -> DataFrame:
    """Train-test decontamination: flag training documents sharing
    token n-grams with a benchmark/eval corpus (the GPT-3-style
    13-gram method; n defaults lower because the synthetic docs are
    short). Output: every input doc annotated with
    ``n_contaminated`` (distinct benchmark n-grams it contains),
    ``n_ngrams`` (its distinct n-gram count) and ``is_contaminated``
    (n_contaminated > ``max_matches``) — callers drop or quarantine
    flagged docs.

    Scale shape: both sides explode to distinct n-grams; the
    benchmark side collapses to its distinct n-gram SET (eval suites
    are millions of n-grams, not billions — but NOT broadcast: the
    join shuffles on the n-gram key, and AQE converts to broadcast at
    runtime when the benchmark really is small). One inner join +
    per-doc count + one left join back onto the docs relation (clean
    docs keep count 0). ``hash_keys=True`` joins on ``xxhash64``
    of the n-gram instead of the string — ~6× narrower shuffle with a
    ~2^-64 per-pair phantom-match probability, the right trade at
    crawl scale but off by default so the exact form is what the
    oracle certifies."""
    if ngram_n < 1:
        raise OperatorConfigError("decontaminate requires ngram_n >= 1")
    from etl_core_spark.session import ensure_parallelism

    bcol = bench_text_col or text_col
    key = (lambda c: F.xxhash64(c)) if hash_keys else (lambda c: c)
    bench_grams = (
        ensure_parallelism(benchmark)
        .select(F.explode(X.shingles(F.col(bcol), ngram_n)).alias("__g"))
        .select(key(F.col("__g")).alias("__k"))
        .distinct()
    )
    doc_grams = ensure_parallelism(docs).select(
        F.col(id_col),
        F.explode(F.array_distinct(X.shingles(F.col(text_col), ngram_n))).alias("__g"),
    )
    totals = doc_grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_ngrams"))
    hits = (
        doc_grams.select(F.col(id_col), key(F.col("__g")).alias("__k"))
        .join(bench_grams, on="__k")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        docs.join(totals, on=id_col, how="left")
        .join(hits, on=id_col, how="left")
        .withColumn("n_ngrams", F.coalesce("n_ngrams", F.lit(0)))
        .withColumn("n_contaminated", F.coalesce("n_contaminated", F.lit(0)))
        .withColumn("is_contaminated", F.col("n_contaminated") > int(max_matches))
    )


def _check_line_dedup(max_doc_frac, max_doc_freq, **_) -> None:
    ensure(
        (max_doc_frac is None) != (max_doc_freq is None),
        "line_dedup requires exactly one of max_doc_frac / max_doc_freq",
    )


@bind_operator("line_dedup", check=_check_line_dedup)
def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\\n",
    join_sep: str = "\n",
    max_doc_frac: float | None = None,
    max_doc_freq: int | None = None,
    min_line_chars: int = 1,
    normalize: bool = True,
) -> DataFrame:
    """CCNet-style line-level boilerplate removal (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Crawl
    Data"): split each document into lines, measure each distinct
    line's document frequency across the corpus, and REWRITE every
    document with its over-frequent lines removed — navigation bars,
    cookie banners, and license footers repeat across pages; body
    text does not. Row-preserving annotate contract: every input row
    comes back (a fully-boilerplate doc becomes the empty string),
    with ``n_lines_kept`` / ``n_lines_dropped`` counters (long).

    Exactly one of the thresholds must be set:

    - ``max_doc_frac``: drop lines appearing in more than this
      FRACTION of documents. The hot-line set is then bounded by
      (mean lines per doc) / frac INDEPENDENT of corpus size — so
      the rewrite runs as a pure narrow map: the hot set is gathered
      into a one-row broadcast (never a driver collect) and each doc
      filters its own line array in place. Zero shuffle touches the
      document table; the only shuffles aggregate the line
      doc-frequency table. This is the 100 TB default.
    - ``max_doc_freq``: drop lines appearing in more than this many
      documents ABSOLUTE. The hot set then grows with the corpus
      (O(total_lines / k)), so broadcasting is not scale-safe: the
      rewrite goes through an anti-join against the hot-line table
      plus a per-doc reassembly shuffle instead.

    ``normalize`` compares lines case-insensitively and
    whitespace-trimmed (the emitted text keeps the ORIGINAL bytes);
    lines shorter than ``min_line_chars`` after trim are dropped from
    frequency counting and from the rewritten output both (split
    artifacts).
    """
    from etl_core_spark.session import ensure_parallelism, maybe_broadcast

    if (max_doc_frac is None) == (max_doc_freq is None):
        raise OperatorConfigError(
            "line_dedup requires exactly one of max_doc_frac / max_doc_freq"
        )
    if max_doc_frac is not None and not 0 < max_doc_frac <= 1:
        raise OperatorConfigError("max_doc_frac must be in (0, 1]")
    df = ensure_parallelism(df)
    text = F.col(text_col)
    min_chars = int(min_line_chars)

    def norm(line):
        t = F.trim(line)
        return F.lower(t) if normalize else t

    def line_array(col):
        # NULL text behaves as an empty document (0 lines kept, 0
        # dropped, '' rewrite) instead of poisoning the counters with
        # size(NULL) and the rewrite with a NULL join
        return F.filter(
            F.coalesce(F.split(col, delimiter), F.array().cast("array<string>")),
            lambda ln: F.length(F.trim(ln)) >= min_chars,
        )

    # The document identity for BOTH frequency counting and (absolute
    # mode) reassembly is xxhash64(id, text), not id_col alone:
    # count_distinct(id_col) IGNORES NULL ids, so every line of a
    # NULL-id document would silently not count toward its document
    # frequency (boilerplate in NULL-id docs under-drops), and a plain
    # id join-back would wipe or merge those docs. Exact (id, text)
    # duplicate rows count as one document for frequency — the
    # conservative direction — with the usual ~2^-64 collision caveat.
    row_key = F.xxhash64(
        F.coalesce(F.col(id_col).cast("string"), F.lit("\x00__NULL_ID__")),
        F.coalesce(text, F.lit("\x00__NULL_TEXT__")),
    )
    with_key = df.withColumn("__rid", row_key)
    lines = with_key.select(
        "__rid", F.explode(line_array(text)).alias("__line")
    ).select("__rid", F.xxhash64(norm(F.col("__line"))).alias("__lk"))
    docfreq = lines.groupBy("__lk").agg(
        F.count_distinct("__rid").alias("__ldf")
    )

    if max_doc_frac is not None:
        # corpus size as a broadcast one-row aggregate (scalar-subquery
        # discipline), never a collected literal
        n_docs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
        hot = (
            docfreq.join(F.broadcast(n_docs))
            .where(
                F.col("__ldf").cast("double")
                > F.lit(float(max_doc_frac)) * F.col("__n_docs")
            )
            .agg(F.collect_list("__lk").alias("__hot"))
        )  # one row always (agg without groupBy), empty array when no hot lines
        with_hot = df.join(F.broadcast(hot))
        arr = line_array(text)
        kept = F.filter(
            arr,
            lambda ln: ~F.array_contains(F.col("__hot"), F.xxhash64(norm(ln))),
        )
        return with_hot.select(
            *df.columns,
            F.array_join(kept, join_sep).alias(f"{text_col}_dedup"),
            F.size(kept).cast("long").alias("n_lines_kept"),
            (F.size(arr) - F.size(kept)).cast("long").alias("n_lines_dropped"),
        )

    # absolute-threshold path: hot set scales with the corpus — keep it
    # distributed (anti-join + per-doc reassembly). Reassembly also
    # keys on __rid (see above): a plain id join-back never matches a
    # NULL id (wiping those docs to ''), and a groupBy over NULL ids
    # would merge every NULL-id document's lines into one.
    hot_tbl = docfreq.where(F.col("__ldf") > int(max_doc_freq)).select("__lk")
    pos_lines = with_key.select(
        "__rid",
        F.posexplode(line_array(text)).alias("__pos", "__line"),
    ).withColumn("__lk", F.xxhash64(norm(F.col("__line"))))
    kept_lines = pos_lines.join(
        maybe_broadcast(hot_tbl, None), on="__lk", how="left_anti"
    )
    rebuilt = kept_lines.groupBy("__rid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            join_sep,
        ).alias(f"{text_col}_dedup"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    total = F.size(line_array(text)).cast("long")
    return (
        with_key.withColumn("__total", total)
        .join(rebuilt, on="__rid", how="left")
        .select(
            *df.columns,
            F.coalesce(F.col(f"{text_col}_dedup"), F.lit("")).alias(
                f"{text_col}_dedup"
            ),
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).cast("long").alias(
                "n_lines_kept"
            ),
            (F.col("__total") - F.coalesce(F.col("n_lines_kept"), F.lit(0)))
            .cast("long")
            .alias("n_lines_dropped"),
        )
    )


def _bigram_table(df: DataFrame, text_col: str, id_col: str, lowercase: bool) -> DataFrame:
    """(id, __w1, __w2) bigram occurrences from a narrow zip_with over
    the token array — no window shuffle to pair neighbors."""
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toked = df.select(F.col(id_col), X.tokens(text).alias("__toks"))
    # the <2-token gate is load-bearing, not just an optimization:
    # slice(toks, 1, size-1) RAISES on an empty token array (length -1
    # is invalid), so an empty/whitespace-only document would abort
    # the whole job instead of contributing zero bigrams. NULL text
    # (NULL size) also routes through the otherwise-branch.
    pairs = F.when(
        F.size("__toks") >= 2,
        F.zip_with(
            F.slice(F.col("__toks"), 1, F.size("__toks") - 1),
            F.slice(F.col("__toks"), 2, F.size("__toks") - 1),
            lambda a, b: F.struct(a.alias("__w1"), b.alias("__w2")),
        ),
    ).otherwise(F.array().cast("array<struct<__w1:string,__w2:string>>"))
    return toked.select(F.col(id_col), F.explode(pairs).alias("__p")).select(
        F.col(id_col),
        F.col("__p.__w1").alias("__w1"),
        F.col("__p.__w2").alias("__w2"),
    )


@bind_operator("lm_score", in_ports=("in", "model"))
def lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    model_df: DataFrame | None = None,
    discount: float = 0.75,
    lowercase: bool = True,
) -> DataFrame:
    """Bigram language-model fluency score — the engine-native analog
    of CCNet's KenLM perplexity filter (Wenzek et al. 2020): documents
    whose word transitions are corpus-typical score near 0; gibberish
    and outlier documents score strongly negative (filter on a
    percentile of ``avg_logprob``).

    Probabilities use interpolated ABSOLUTE DISCOUNTING (Ney,
    Essen & Kneser 1994) with an add-one unigram backoff::

        p_uni(w)     = (c(w) + 1) / (T + V)
        p(w2 | w1)   = max(c(w1 w2) - D, 0) / c(w1 ·)
                       + (D * N1+(w1) / c(w1 ·)) * p_uni(w2)
        avg_logprob  = mean over the doc's bigrams of ln p(w2 | w1)

    The discount D (default 0.75, the textbook value) is what makes a
    SELF-trained model discriminative: raw MLE gives a singleton
    transition from a singleton prefix probability 1, so gibberish
    would score perfectly; discounting charges every rare transition
    and routes the mass through the backoff, where rare WORDS pay
    again via p_uni. Unseen prefixes (scoring new docs) fall back to
    p_uni; add-one keeps unseen words finite.

    ``model_df`` trains the counts on a DIFFERENT corpus (e.g. a
    trusted reference crawl) and scores ``df`` against it — the
    actual CCNet shape; default trains on ``df`` itself.

    Scale: statistics aggregate per (doc, bigram) first, so model
    joins touch distinct-bigram rows, not occurrences; all three
    count tables are vocabulary-sized (AQE decides broadcast). Row-
    preserving: docs with <2 tokens return n_bigrams=0, NULL score.
    """
    from etl_core_spark.session import ensure_parallelism

    if not 0 <= discount < 1:
        raise OperatorConfigError("lm_score discount must be in [0, 1)")
    df = ensure_parallelism(df)
    model = df if model_df is None else ensure_parallelism(model_df)

    mtext = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    uni = (
        model.select(F.explode(X.tokens(mtext)).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__cu"))
    )
    # T and V as a broadcast one-row aggregate (scalar-subquery
    # discipline), never a collected literal
    tv = uni.agg(
        F.sum("__cu").alias("__T"), F.count(F.lit(1)).alias("__V")
    )
    # self-scoring consumes the bigram table three times (c_bg, c_w1,
    # per-doc tf) — persist it once instead of re-tokenizing the corpus
    # per consumer; external-model scoring shares it twice (c_bg, c_w1)
    from etl_core_spark.session import persist_intermediate

    mbg = persist_intermediate(_bigram_table(model, text_col, id_col, lowercase))
    c_bg = mbg.groupBy("__w1", "__w2").agg(F.count(F.lit(1)).alias("__c2"))
    c_w1 = mbg.groupBy("__w1").agg(
        F.count(F.lit(1)).alias("__c1"),
        F.count_distinct("__w2").alias("__n1p"),
    )

    sbg = mbg if model_df is None else _bigram_table(df, text_col, id_col, lowercase)
    tf = sbg.groupBy(id_col, "__w1", "__w2").agg(F.count(F.lit(1)).alias("__tf"))
    D = F.lit(float(discount))
    joined = (
        tf.join(c_bg, on=["__w1", "__w2"], how="left")
        .join(c_w1, on="__w1", how="left")
        .join(uni.withColumnRenamed("__w", "__w2"), on="__w2", how="left")
        .join(F.broadcast(tv))
    )
    p_uni = (F.coalesce(F.col("__cu"), F.lit(0)) + 1) / (
        F.col("__T") + F.col("__V")
    ).cast("double")
    p_cond = F.when(
        F.col("__c1").isNotNull(),
        F.greatest(F.coalesce(F.col("__c2"), F.lit(0)) - D, F.lit(0.0))
        / F.col("__c1")
        + (D * F.col("__n1p") / F.col("__c1")) * p_uni,
    ).otherwise(p_uni)
    scored = joined.groupBy(id_col).agg(
        F.sum("__tf").alias("__nb"),
        F.sum(F.col("__tf") * F.log(p_cond)).alias("__sl"),
    )
    return df.join(scored, on=id_col, how="left").select(
        *df.columns,
        F.coalesce(F.col("__nb"), F.lit(0)).cast("long").alias("n_bigrams"),
        F.round(F.col("__sl") / F.col("__nb"), 6).alias("avg_logprob"),
    )


def _check_pii_annotate(kinds, **_) -> None:
    unknown = set(kinds or ()) - set(X.PII_PATTERNS)
    ensure(not unknown, f"unknown pii kinds {sorted(unknown)}; have {sorted(X.PII_PATTERNS)}")


@bind_operator("pii_scan", check=_check_pii_annotate)
def pii_annotate(
    df: DataFrame,
    text_col: str = "text",
    kinds: tuple[str, ...] | None = None,
    redact: bool = False,
    redacted_col: str | None = None,
) -> DataFrame:
    """Per-document PII load: one ``n_pii_<kind>`` count column per
    requested kind (functions/text.PII_PATTERNS: email, credit_card,
    ssn, ipv4, phone) plus ``n_pii_total`` — the filter signal a
    compliance pass runs BEFORE deciding between dropping a document
    and redacting it. ``redact=True`` additionally emits the
    placeholder-substituted text. Pure codegen'd regexp narrow map;
    zero shuffle, zero Python."""
    wanted = tuple(kinds or X.PII_PATTERNS)
    col = F.col(text_col)
    out = df
    total = None
    for kind in wanted:
        cnt = X.pii_count(col, kind)
        out = out.withColumn(f"n_pii_{kind}", cnt)
        total = cnt if total is None else (total + cnt)
    out = out.withColumn("n_pii_total", total if total is not None else F.lit(0).cast("long"))
    if redact:
        out = out.withColumn(
            redacted_col or f"{text_col}_redacted", X.redact_all_pii(col, wanted)
        )
    return out


@bind_operator("url_parts")
def extract_url_parts(
    df: DataFrame, url_col: str, prefix: str = "url_"
) -> DataFrame:
    """Decompose a URL column into scheme/host/domain/path/query
    (functions/text URL_*_RE; regex-only so the oracle mirrors it).
    Narrow map. Feed ``<prefix>domain`` into cap_per_group /
    groupBy for the per-domain crawl policies (politeness caps,
    domain mixing, URL-keyed dedup)."""
    col = F.col(url_col)
    return df.select(
        *df.columns,
        X.url_scheme(col).alias(f"{prefix}scheme"),
        X.url_host(col).alias(f"{prefix}host"),
        X.url_domain(col).alias(f"{prefix}domain"),
        X.url_path(col).alias(f"{prefix}path"),
        X.url_query(col).alias(f"{prefix}query"),
    )


@bind_operator("strip_duplicate_spans")
def strip_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring deduplication, n-gram-tiling approximation of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better", §3: remove every substring of >= 50 tokens that
    appears more than once in the corpus — they use suffix arrays; a
    distributed engine gets the same coverage guarantee from token
    n-grams: every duplicated span of >= span_tokens tokens contains
    a duplicated span_tokens-gram, so tiling duplicated grams covers
    exactly the tokens inside maximal duplicated spans).

    A token is removed when ANY corpus-duplicated span_tokens-gram
    (total occurrences >= min_count, within- and cross-document both,
    per the paper) covers its position. Row-preserving: emits
    ``<text_col>_dedup`` (kept tokens joined by ' ' — whitespace is
    normalized, this operates on the token stream), ``n_tokens_kept``,
    ``n_tokens_dropped``, and ``dup_span_frac``.

    Scale shape: gram table = one narrow posexplode (xxhash64 keys,
    8-byte shuffle); duplicated-gram detection is a map-side-combinable
    count; the only joins are gram-keyed equi-joins and one id-keyed
    join back; per-doc coverage is a narrow nested-HOF filter over the
    token array (no per-position explode). Gram collisions under
    xxhash64 are the usual ~2^-64 phantom-coverage risk.
    """
    from etl_core_spark.session import ensure_parallelism, persist_intermediate

    n = int(span_tokens)
    if n < 2:
        raise OperatorConfigError("span_tokens must be >= 2")
    if int(min_count) < 2:
        raise OperatorConfigError("min_count must be >= 2")
    df = ensure_parallelism(df)
    # NULL text behaves as an empty document (annotate contract: the
    # row comes back with '' / 0 / 0 / 0.0, same as line_dedup) —
    # tokens(NULL) is NULL and would otherwise null every counter
    toks = F.coalesce(X.tokens(F.col(text_col)), F.array().cast("array<string>"))
    toked = df.select(F.col(id_col), toks.alias("__toks"))
    starts_expr = F.when(
        F.size("__toks") >= n, F.sequence(F.lit(0), F.size("__toks") - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = persist_intermediate(  # consumed twice: dup counts + start lookup
        toked.select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    starts_expr,
                    lambda i: F.xxhash64(F.array_join(F.slice("__toks", i + 1, n), " ")),
                )
            ).alias("__s", "__gh"),
        )
    )
    dup = (
        grams.groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= int(min_count))
        .select("__gh")
    )
    doc_starts = (
        grams.join(dup, on="__gh")
        .groupBy(id_col)
        .agg(F.collect_list("__s").alias("__starts"))
    )
    joined = df.join(doc_starts, on=id_col, how="left").withColumn(
        "__starts", F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("__starts"), lambda s: (s <= i) & (i < s + n)
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


@bind_operator("assemble_docs")
def assemble_docs(
    df: DataFrame,
    key_col: str,
    part_col: str,
    order_col: str,
    sep: str = "\n",
) -> DataFrame:
    """Reassemble sharded documents: concatenate ``part_col`` pieces
    per ``key_col`` in ``order_col`` order (ties broken by the part
    text so the result is total-ordered and engine-independent) —
    the page/chunk → document assembly step of a crawl pipeline, and
    the inverse of chunk_documents. NULL parts are skipped; emits
    ``n_parts`` and the assembled ``<part_col>_doc``.

    One groupBy shuffle; the in-group ordering happens inside the
    aggregate via array_sort over (order, part) structs — no window,
    no secondary sort pass."""
    parts = df.where(F.col(part_col).isNotNull())
    return parts.groupBy(key_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(order_col), F.col(part_col)))
                ),
                lambda s: s[part_col],
            ),
            sep,
        ).alias(f"{part_col}_doc"),
        F.count(F.lit(1)).alias("n_parts"),
    )


@bind_operator("corpus_overlap")
def corpus_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Pairwise n-gram overlap between corpus slices (sources,
    languages, crawl snapshots): for every group pair, the distinct
    token-shingle intersection, per-group distinct counts, and the
    Jaccard similarity — the dataset-curation diagnostic for "how
    much of source B is already in source A" before mixing
    (the corpus-level face of ``decontaminate``, which answers the
    same question per document).

    Scale shape: ONE map-side-combinable aggregation — per shingle,
    ``collect_set`` of the groups containing it (the set is bounded
    by the GROUP count, small by construction: sources, languages —
    so partial-aggregate state stays tiny no matter the corpus) —
    then pair counts come from exploding the per-shingle group
    combinations and per-group sizes from exploding the same arrays.
    No shingle self-join: the raw exploded grams are shuffled exactly
    once, and everything downstream is per-shingle-array (≪ gram
    volume). NULL groups form their own slice (the engine-wide
    NULL-keeps rule); zero-shingle docs contribute nothing.
    """
    from etl_core_spark.functions.text import shingles

    grams = df.select(
        F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
        .alias("__g"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("__sh"),
    ).where(F.length("__sh") > 0)
    per_sh = grams.groupBy("__sh").agg(
        F.array_sort(F.collect_set("__g")).alias("__gs")
    )
    from etl_core_spark.session import persist_intermediate

    per_sh = persist_intermediate(per_sh)  # sizes + pair combos
    sizes = (
        per_sh.select(F.explode("__gs").alias("__g"))
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    inter = (
        per_sh.where(F.size("__gs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__gs, (x, i) -> "
                    "transform(slice(__gs, i + 2, size(__gs)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("__p")
        )
        .groupBy(
            F.col("__p.a").alias("group_a"), F.col("__p.b").alias("group_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("__g").alias("group_a"),
                                     F.col("__n").alias("n_a"))),
            on="group_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("__g").alias("group_b"),
                                     F.col("__n").alias("n_b"))),
            on="group_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .select("group_a", "group_b", "n_a", "n_b", "n_common", "jaccard")
    )


@bind_operator("collocations")
def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Corpus-level bigram association mining (collocation / phrase
    detection): for every adjacent token pair, its corpus count and
    LIFT — the observed-over-expected co-occurrence ratio
    ``p(w1,w2) / (p(w1)·p(w2))``. PMI is ``ln(lift)``; the ratio is
    returned instead of the log because it carries the same ranking
    while staying cross-engine bit-reproducible (``ln`` is not
    correctly-rounded in either engine, a 1-ulp divergence the
    rounding step would amplify — the random_projection lesson).
    The top-lift pairs are the merge candidates a tokenizer/vocab
    builder or phrase-aware dedup wants.

    Scale shape: bigram and unigram counts are both map-side
    combinable explode→groupBy aggregates; the two count joins are
    VOCABULARY-sized (AQE sizes them, never document-sized); corpus
    totals ride a one-row broadcast cross join; top-k is
    TakeOrdered — no global sort. Lift arithmetic is a fixed
    left-associated expression tree of IEEE ops over exact integer
    counts, so Spark and the SQL oracle produce identical doubles
    BEFORE the floor-quantization (floor has no rounding ties).
    """
    if int(min_count) < 1:
        raise OperatorConfigError("collocations min_count must be >= 1")
    toks = df.select(X.tokens(F.lower(F.col(text_col))).alias("toks"))
    uni = toks.select(F.explode("toks").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    totals = uni.agg(F.count(F.lit(1)).alias("U"))
    bg = toks.where(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1), "
                "(x, i) -> struct(x AS w1, toks[i + 1] AS w2))"
            )
        ).alias("b")
    )
    btot = bg.agg(F.count(F.lit(1)).alias("B"))
    bc = (
        bg.groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n12"))
        .where(F.col("n12") >= int(min_count))
    )
    lift = (
        F.col("n12").cast("double") * F.col("U") * F.col("U")
    ) / (F.col("B").cast("double") * F.col("n1") * F.col("n2"))
    return (
        bc.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(btot))
        .join(uc.select(F.col("w").alias("w1"), F.col("n").alias("n1")), on="w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("n").alias("n2")), on="w2")
        .orderBy(lift.desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(int(top_k))
        .select(
            "w1", "w2", "n12", "n1", "n2",
            (F.floor(lift * F.lit(1e6)) / F.lit(1e6)).alias("lift"),
        )
    )


@bind_operator("bm25")
def bm25_score(
    df: DataFrame,
    query: list[str] | str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int | None = None,
    lowercase: bool = True,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a term query
    (Robertson & Walker 1994; the idf variant is Lucene's
    non-negative ``ln(1 + (N - df + 0.5)/(df + 0.5))``) — the
    retrieval primitive behind "find the corpus documents most
    relevant to this probe" (decontamination triage, targeted
    corpus slicing, eval-set mining)::

        score(d) = sum over query terms t of
                   idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Row-preserving: every document comes back with ``n_matched``
    (query terms present) and ``score`` (0.0 when none match, the
    BM25 zero element — NULL/empty text scores 0.0 too). ``top_k``
    switches to retrieval mode: best-k docs, ties (score desc,
    id asc) deterministic.

    Scale shape: tokenize once, keep ONLY tokens in the literal
    query-term set before the (doc, term) aggregate — the exploded
    relation is proportional to query-term OCCURRENCES, never the
    corpus token count; df-per-term is at most |query| rows and N /
    avgdl ride as a broadcast one-row aggregate (scalar-subquery
    discipline, zero driver collects); the join-back to the full doc
    list is keyed on id with the scored side AQE-broadcastable. No
    window; ``top_k`` is TakeOrdered. Scores floor-quantized at 6dp
    (the Java-vs-C rounding-tie lesson: floor has no ties).
    """
    terms = (
        [t for t in query.split() if t] if isinstance(query, str) else list(query)
    )
    if lowercase:
        terms = [t.lower() for t in terms]
    terms = sorted(set(terms))
    if not terms:
        raise OperatorConfigError("bm25_score requires at least one query term")
    if float(k1) < 0 or not 0 <= float(b) <= 1:
        raise OperatorConfigError("bm25_score needs k1 >= 0 and b in [0, 1]")
    from etl_core_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    base = df.select(
        F.col(id_col), F.size(X.tokens(text)).alias("__dl"),
        X.tokens(text).alias("__toks"),
    )
    # N and avgdl over ALL docs (NULL text -> size -1 from NULL array;
    # normalize to 0 so empty and NULL docs weigh the same)
    base = base.withColumn(
        "__dl", F.greatest(F.coalesce(F.col("__dl"), F.lit(0)), F.lit(0))
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("__N"),
        F.avg("__dl").alias("__avgdl"),
    )
    qlit = F.array(*[F.lit(t) for t in terms])
    tf = (
        base.select(
            F.col(id_col), "__dl",
            F.explode(
                F.filter(
                    F.coalesce(
                        F.col("__toks"), F.array().cast("array<string>")
                    ),
                    lambda t: F.array_contains(qlit, t),
                )
            ).alias("__t"),
        )
        .groupBy(id_col, "__t")
        .agg(F.count(F.lit(1)).alias("__tf"), F.max("__dl").alias("__dl"))
    )
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    K1, B = F.lit(float(k1)), F.lit(float(b))
    idf = F.log(
        F.lit(1.0)
        + (F.col("__N") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    contrib = idf * (
        F.col("__tf") * (K1 + 1)
        / (F.col("__tf") + K1 * (1 - B + B * F.col("__dl") / F.col("__avgdl")))
    )
    scored = (
        tf.join(F.broadcast(dfreq), on="__t")
        .join(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum(contrib).alias("__s"),
        )
    )
    # join-back needs only the id list — a column-pruned scan, not a
    # third tokenization pass over the text column
    out = df.select(id_col).join(scored, on=id_col, how="left").select(
        F.col(id_col),
        F.coalesce(F.col("n_matched"), F.lit(0)).cast("long").alias("n_matched"),
        (
            F.floor(F.coalesce(F.col("__s"), F.lit(0.0)) * F.lit(1e6)) / F.lit(1e6)
        ).alias("score"),
    )
    if top_k is not None:
        out = out.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(
            int(top_k)
        )
    return out


@bind_operator("entropy_metrics")
def entropy_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    quantize: int = 6,
) -> DataFrame:
    """Shannon-entropy text-quality signals (the RefinedWeb /
    CCNet-adjacent randomness diagnostics): per-document character
    unigram entropy and whitespace-token entropy, plus the distinct
    counts behind them. Low char entropy flags repetition padding
    ("aaaa…", template spam); abnormally HIGH char entropy flags
    base64/binary junk; low token entropy flags keyword stuffing —
    the cheap complement to the Gopher rule gates and the bigram-LM
    score.

    H = ln(n) - Σ c·ln(c) / n  (algebraically -Σ (c/n)·ln(c/n),
    arranged with ONE division so the oracle reproduces the exact
    float sequence). Row-preserving; empty/NULL text yields NULL
    entropies and zero counts. Values floor-quantized at
    ``quantize`` dp.

    Scale shape: one char explode + one token explode (each a
    map-side-combinable (doc, sym) count), per-doc aggregate, one
    keyed join-back — no windows, no driver state. The char explode
    is the dominant relation (≈ doc bytes), the same order as any
    full-text scan.
    """
    q = F.lit(float(10 ** int(quantize)))
    t = F.trim(F.col(text_col))
    if lowercase:
        t = F.lower(t)

    def _h(sym_df):
        counts = sym_df.groupBy("__id", "__s").agg(
            F.count(F.lit(1)).alias("__c")
        )
        return counts.groupBy("__id").agg(
            F.count(F.lit(1)).alias("__distinct"),
            (
                F.log(F.sum("__c"))
                - F.sum(F.col("__c") * F.log("__c")) / F.sum("__c")
            ).alias("__h"),
        )

    base = df.select(F.col(id_col).alias("__id"), t.alias("__t"))
    chars = base.where(F.length("__t") > 0).select(
        "__id", F.explode(F.split("__t", "")).alias("__s")
    )
    toks = base.select(
        "__id", F.explode(X.tokens(F.col("__t"))).alias("__s")
    )
    hc = _h(chars)
    ht = _h(toks)
    joined = (
        df.join(hc, df[id_col] == hc["__id"], "left")
        .drop(hc["__id"])
        .withColumnRenamed("__distinct", "distinct_chars")
        .withColumnRenamed("__h", "__hc")
    )
    joined = (
        joined.join(ht, joined[id_col] == ht["__id"], "left")
        .drop(ht["__id"])
        .withColumnRenamed("__distinct", "distinct_tokens")
        .withColumnRenamed("__h", "__ht")
    )
    return joined.select(
        *[c for c in df.columns],
        F.coalesce(F.col("distinct_chars"), F.lit(0))
        .cast("long")
        .alias("distinct_chars"),
        (F.floor(F.col("__hc") * q) / q).alias("char_entropy"),
        F.coalesce(F.col("distinct_tokens"), F.lit(0))
        .cast("long")
        .alias("distinct_tokens"),
        (F.floor(F.col("__ht") * q) / q).alias("token_entropy"),
    )


@bind_operator("corpus_divergence")
def corpus_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    lowercase: bool = True,
    quantize: int = 6,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between corpus slices'
    token distributions — the DRIFT metric next to
    ``corpus_overlap``'s set Jaccard: overlap asks "how much of B is
    literally in A", JS asks "how differently do A and B USE
    language" (0 = identical distributions, ln 2 = disjoint). The
    snapshot-over-snapshot monitoring number for crawl pipelines and
    the source-distance input to mixture design.

    Identity used (natural log; P, Q token frequencies; M=(P+Q)/2)::

        JS = 0.5·[ Σ_{w∈A∩B} p·ln(2p/(p+q)) + (1-S_A)·ln 2 ]
           + 0.5·[ Σ_{w∈A∩B} q·ln(2q/(p+q)) + (1-S_B)·ln 2 ]

    where S_A = Σ_{w∈A∩B} p — tokens exclusive to one side
    contribute exactly ln 2 of their mass, so ONE inner join on the
    shared vocabulary suffices; no full-outer token union is ever
    materialized. Disjoint pairs (no shared tokens) come out exactly
    ln 2 via the pair spine.

    Scale shape: one (group, token) count aggregate (map-side
    combinable, vocabulary-sized), per-group totals as a G-row
    broadcast, the shared-vocab inner self-join keyed on token, and
    a G²-row pair spine from crossing the totals — G is the GROUP
    count (sources/languages/snapshots), small by construction.
    Output: (group_a, group_b, js_divergence, shared_tokens) for
    every unordered pair, group_a < group_b.
    """
    from etl_core_spark.session import persist_intermediate

    q = F.lit(float(10 ** int(quantize)))
    t = F.trim(F.col(text_col))
    if lowercase:
        t = F.lower(t)
    grams = df.select(
        F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
        .alias("__g"),
        F.explode(X.tokens(t)).alias("__w"),
    )
    counts = persist_intermediate(
        grams.groupBy("__g", "__w").agg(F.count(F.lit(1)).alias("__c"))
    )
    totals = counts.groupBy("__g").agg(F.sum("__c").alias("__n"))
    a = counts.select(
        F.col("__g").alias("__ga"), F.col("__w"), F.col("__c").alias("__ca")
    )
    b = counts.select(
        F.col("__g").alias("__gb"), F.col("__w"), F.col("__c").alias("__cb")
    )
    ta = totals.select(
        F.col("__g").alias("__ga"), F.col("__n").alias("__na")
    )
    tb = totals.select(
        F.col("__g").alias("__gb"), F.col("__n").alias("__nb")
    )
    shared = (
        a.join(b, on="__w")
        .where(F.col("__ga") < F.col("__gb"))
        .join(F.broadcast(ta), on="__ga")
        .join(F.broadcast(tb), on="__gb")
    )
    p = F.col("__ca") / F.col("__na")
    qq = F.col("__cb") / F.col("__nb")
    stats = shared.groupBy("__ga", "__gb").agg(
        F.sum(p * F.log(F.lit(2.0) * p / (p + qq))).alias("__ka"),
        F.sum(qq * F.log(F.lit(2.0) * qq / (p + qq))).alias("__kb"),
        F.sum(p).alias("__sa"),
        F.sum(qq).alias("__sb"),
        F.count(F.lit(1)).alias("__shared"),
    )
    ln2 = F.log(F.lit(2.0))
    spine = (
        ta.crossJoin(tb)
        .where(F.col("__ga") < F.col("__gb"))
        .select("__ga", "__gb")
    )
    out = spine.join(stats, on=["__ga", "__gb"], how="left")
    js = (
        F.lit(0.5)
        * (
            F.coalesce(F.col("__ka"), F.lit(0.0))
            + (F.lit(1.0) - F.coalesce(F.col("__sa"), F.lit(0.0))) * ln2
        )
        + F.lit(0.5)
        * (
            F.coalesce(F.col("__kb"), F.lit(0.0))
            + (F.lit(1.0) - F.coalesce(F.col("__sb"), F.lit(0.0))) * ln2
        )
    )
    return out.select(
        F.col("__ga").alias("group_a"),
        F.col("__gb").alias("group_b"),
        (F.floor(js * q) / q).alias("js_divergence"),
        F.coalesce(F.col("__shared"), F.lit(0))
        .cast("long")
        .alias("shared_tokens"),
    )


def _check_feature_hash(dim, **_) -> None:
    ensure(dim >= 2, "feature_hash dim must be >= 2")


@bind_operator("feature_hash", check=_check_feature_hash)
def feature_hash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 1024,
    signed: bool = True,
    lowercase: bool = True,
) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009) → the
    long-form sparse vector ``(id, idx, weight)``: every token maps
    to ``idx = md5(token) mod dim`` with a ±1 sign from an
    independent md5 bit, and ``weight`` is the signed term-frequency
    sum per (document, index). The fixed-dimension featurizer for
    linear/logistic baselines, dedup-classifier features, and
    quality-model inputs at corpus scale — no vocabulary pass, no
    fitted state, memory O(dim) per row downstream.

    The sign trick makes collisions cancel in expectation
    (E[w_collision] = 0, the paper's unbiasedness argument);
    ``signed=False`` gives plain counting-hash features. Weights are
    exact integers (a sum of ±1 per token occurrence), so the output
    is bit-exact across engines, partitionings, and reruns — md5
    end to end, replayable by any engine (the ``hash_sample``
    portability contract). Zero-weight cells (perfect cancellation)
    are EMITTED: the row set is then exactly "document × distinct
    hashed index", the same relation a counting implementation
    produces, and downstream consumers see collisions explicitly.
    Documents with no tokens emit nothing.

    Scale shape: ONE explode bounded by corpus token count + ONE
    map-side-combinable groupBy (id, idx). No joins, no windows, no
    driver state, fully lazy.
    """
    if not id_col or not text_col:
        raise OperatorConfigError(
            "feature_hash requires id_col and text_col"
        )
    if int(dim) < 2:
        raise OperatorConfigError("feature_hash dim must be >= 2")
    from etl_core_spark.functions.text import tokens
    from etl_core_spark.operators.sampling import hash_bucket

    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(text)).alias("__tok"),
    )
    idx = F.pmod(hash_bucket(F.col("__tok")), F.lit(int(dim)))
    if signed:
        sign = F.when(
            F.pmod(hash_bucket(F.col("__tok"), "#sign"), F.lit(2)) == 0,
            F.lit(1),
        ).otherwise(F.lit(-1))
    else:
        sign = F.lit(1)
    return (
        tok.select("__id", idx.alias("__idx"), sign.alias("__s"))
        .groupBy("__id", "__idx")
        .agg(F.sum("__s").alias("__w"))
        .select(
            F.col("__id").alias(id_col),
            F.col("__idx").cast("int").alias("idx"),
            F.col("__w").cast("long").alias("weight"),
        )
    )
