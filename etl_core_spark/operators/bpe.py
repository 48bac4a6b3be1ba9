"""Byte-pair-encoding tokenizer: train + distributed apply
(beyond-reference).

Classic word-level BPE (Sennrich, Haddow & Birch 2016): split every
word into characters plus an end-of-word marker, then repeatedly
merge the most frequent adjacent symbol pair. Token COUNTS are the
budget currency of every training-data pipeline (pack_sequences,
take_tokens_per_group, mix_corpora all consume them); whitespace
counts overestimate subword budgets by 30-50% on real corpora, so a
real learned-merge tokenizer is the difference between "about a
billion tokens" and a number a trainer can schedule against.

Design (100 TB shape):

- TRAINING is driver-side over a bounded, deterministic word-
  frequency table — NOT the corpus: the distributed side aggregates
  (word, count) pairs (map-side combinable, vocabulary-sized) and
  collects only the top ``max_train_words`` by (count desc, word
  asc). Merge selection is a pure function of that table
  (ties break lexicographically), so training is reproducible
  across runs and engines.
- APPLY is one Arrow-batched ``mapInPandas`` with the merge ranks
  broadcast as a dict; each word encodes greedily by lowest merge
  rank (the published algorithm), cached per distinct word within a
  batch (Zipf makes the cache hit rate ~99% on natural text).
- No per-row Python UDFs; the only Python is inside the Arrow batch
  loop, and the only driver state is the merge table
  (``num_merges`` rows) and the bounded word table.

Reference counterpart: none (the reference has no tokenizer); the
behavioral spec is the public BPE algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_core_spark.operators.base import OperatorConfigError, bind_operator, ensure

_EOW = "▁"  # end-of-word marker (the sentencepiece block char)


def _word_counts(
    df: DataFrame, text_col: str, lowercase: bool
) -> DataFrame:
    from etl_core_spark.functions.text import tokens

    t = F.trim(F.col(text_col))
    if lowercase:
        t = F.lower(t)
    return (
        df.select(F.explode(tokens(t)).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    max_train_words: int = 100_000,
    lowercase: bool = True,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus's word-
    frequency table. Deterministic: the table is the top
    ``max_train_words`` words by (count desc, word asc) — a bounded
    TakeOrdered collect — and pair selection breaks count ties
    lexicographically."""
    if int(num_merges) < 1:
        raise OperatorConfigError("bpe num_merges must be >= 1")
    rows = (
        _word_counts(df, text_col, lowercase)
        .orderBy(F.desc("__c"), F.asc("__w"))
        .limit(int(max_train_words))
        .collect()
    )
    vocab = {}
    for r in rows:
        w = r["__w"]
        if w:
            vocab[tuple(list(w) + [_EOW])] = int(r["__c"])
    merges: list[tuple[str, str]] = []
    for _ in range(int(num_merges)):
        pairs: dict = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        # highest count; ties by lexicographically smallest pair
        best_pair = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best_pair)
        merged = best_pair[0] + best_pair[1]
        new_vocab = {}
        for syms, c in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == best_pair[0]
                    and syms[i + 1] == best_pair[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def _encode_word(word: str, ranks: dict) -> list[str]:
    syms = list(word) + [_EOW]
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    emit_tokens: bool = False,
) -> DataFrame:
    """Apply learned merges: adds ``n_bpe_tokens`` (and, with
    ``emit_tokens``, the space-joined subword string — a scalar
    column by the harness contract, split downstream if needed).
    Greedy lowest-rank merge order — the published BPE apply."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    sc = df.sparkSession.sparkContext
    b_ranks = sc.broadcast(ranks)
    emit = bool(emit_tokens)
    lc = bool(lowercase)
    cols = list(df.columns)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", n_bpe_tokens bigint" + (", bpe_tokens string" if emit else "")

    def encode(batches):
        import pandas as pd

        r = b_ranks.value
        cache: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            counts = []
            toks_out = []
            for text in pdf[text_col]:
                if text is None or not str(text).strip():
                    counts.append(0)
                    toks_out.append("")
                    continue
                t = str(text).strip()
                if lc:
                    t = t.lower()
                n = 0
                parts = []
                for w in t.split():
                    got = cache.get(w)
                    if got is None:
                        got = _encode_word(w, r)
                        cache[w] = got
                    n += len(got)
                    if emit:
                        parts.extend(got)
                counts.append(n)
                toks_out.append(" ".join(parts) if emit else "")
            out = pdf.copy()
            out["n_bpe_tokens"] = pd.Series(counts, index=pdf.index, dtype="int64")
            if emit:
                out["bpe_tokens"] = pd.Series(toks_out, index=pdf.index)
            yield out

    return df.mapInPandas(encode, out_schema)


def _check_bpe_tokenize(num_merges, **_) -> None:
    ensure(num_merges >= 1, "bpe_tokenize num_merges must be >= 1")


@bind_operator("bpe_tokenize", in_ports=("in", "train"), check=_check_bpe_tokenize)
def bpe_tokenize(
    df: DataFrame,
    train_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_merges: int = 200,
    max_train_words: int = 100_000,
    lowercase: bool = True,
    emit_tokens: bool = False,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Train on ``train_df`` (default: ``df`` itself — the
    self-trained shape) and encode ``df``. A pinned ``merges`` table
    skips training entirely — the production shape once a tokenizer
    is frozen (and the full-value-certifiable one: encoding with
    fixed merges is deterministic)."""
    if merges is None:
        merges = bpe_train_merges(
            train_df if train_df is not None else df,
            text_col,
            num_merges,
            max_train_words,
            lowercase,
        )
    else:
        merges = [tuple(p) for p in merges]
        if any(len(p) != 2 for p in merges):
            raise OperatorConfigError(
                "bpe merges must be (left, right) pairs"
            )
    return bpe_encode(df, merges, text_col, id_col, lowercase, emit_tokens)
