import math

import pytest
from pyspark.sql import functions as F

from etl_core_spark.functions import text as X
from etl_core_spark.operators.base import get_operator
from etl_core_spark.operators.dedup import (
    exact_dedup,
    minhash_candidates,
    minhash_dedup_pairs,
    simhash_dup_groups,
)
from etl_core_spark.operators.similarity import (
    brute_force_topk,
    brute_force_topk_numpy,
    cosine_near_dup_pairs,
    lsh_topk,
)
from etl_core_spark.operators.text_analysis import annotate


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different text about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_deterministic_survivor(docs):
    out = exact_dedup(docs.withColumn("h", F.md5("text")), ["h"], id_col="doc_id")
    ids = {r["doc_id"] for r in out.collect()}
    assert 4 not in ids  # higher-id exact dup dropped
    assert 1 in ids and 2 in ids and 3 in ids and 5 in ids


def test_minhash_finds_near_dups(docs):
    pairs = minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 4) in found  # exact dup: jaccard 1.0
    assert (1, 2) in found or (2, 4) in found  # near dup
    assert all(r["jaccard"] >= 0.5 for r in pairs)


def test_minhash_candidates_no_self_pairs(docs):
    cands = minhash_candidates(docs, "text", "doc_id").collect()
    assert all(r["id_a"] < r["id_b"] for r in cands)


def test_dedup_operator_minhash(docs):
    out = get_operator("dedup")(
        method="minhash_lsh", text_col="text", id_col="doc_id", threshold=0.9
    ).apply({"in": docs})["out"]
    ids = {r["doc_id"] for r in out.collect()}
    assert 4 not in ids  # exact dup removed at 0.9
    assert {1, 2, 3, 5} <= ids  # near-dup at j≈0.8 survives 0.9 threshold


def test_simhash_exact_dups_same_fingerprint(docs):
    groups = simhash_dup_groups(docs, "text", "doc_id").collect()
    assert any(g["n_docs"] >= 2 and g["min_id"] == 1 for g in groups)


def test_simhash_lane_overflow_fails_loudly(spark, monkeypatch):
    # shrink the lane width so the cap is reachable: lw=4 → a doc with
    # >= 16 shingles must raise instead of silently corrupting lanes
    import etl_core_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_SIMHASH_LANE_BITS", 4)
    monkeypatch.setattr(dd, "_SIMHASH_LANES_PER_LONG", 3)
    big = spark.createDataFrame(
        [(1, " ".join(f"tok{i}" for i in range(40)))], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="lane overflow"):
        dd.simhash_fingerprints(big, "text", "doc_id").collect()
    small = spark.createDataFrame(
        [(1, "a b c d")], "doc_id long, text string"
    )
    assert len(dd.simhash_fingerprints(small, "text", "doc_id").collect()) == 1


def test_brute_force_topk_self_query(spark, tables):
    emb = tables["embeddings"]
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=5).collect()
    by_query = {}
    for r in out:
        by_query.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_query.items():
        assert len(rows) == 5
        assert rows[0]["vec_id"] == qid  # self is nearest
        assert rows[0]["cosine"] == pytest.approx(1.0, abs=1e-4)
        ranks = [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert ranks == [1, 2, 3, 4, 5]


def test_brute_force_numpy_guards_corpus_size(spark, tables):
    emb = tables["embeddings"]
    queries = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="lsh_topk or ivf_topk"):
        brute_force_topk_numpy(emb, queries, k=3, max_corpus_rows=10)
    # under the ceiling the kernel matches the JVM-expression path
    exact = brute_force_topk(emb, queries, k=3).collect()
    kernel = brute_force_topk_numpy(emb, queries, k=3).collect()
    assert {(r["query_id"], r["vec_id"], r["rank"]) for r in exact} == {
        (r["query_id"], r["vec_id"], r["rank"]) for r in kernel
    }


def test_lsh_topk_recall_vs_exact(spark, tables):
    emb = tables["embeddings"]
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, k=3).collect()
    approx = lsh_topk(emb, queries, dim=64, k=3, num_planes=4).collect()
    exact_pairs = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_pairs = {(r["query_id"], r["vec_id"]) for r in approx}
    # self-match always lands in the same bucket → recall > 0
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.3


def test_cosine_near_dup_exact_vs_lsh(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = cosine_near_dup_pairs(df, threshold=0.95, dim=4, exact=True).collect()
    assert {(r["id_a"], r["id_b"]) for r in exact} == {(1, 2)}
    lsh = cosine_near_dup_pairs(df, threshold=0.95, dim=4, num_planes=2, exact=False).collect()
    assert {(r["id_a"], r["id_b"]) for r in lsh} <= {(1, 2)}


def test_text_metrics(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox!"), (2, ""), (3, "der die das und ist nicht")],
        "doc_id long, text string",
    )
    out = annotate(df).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n_tokens"] == 4
    assert by_id[1]["n_chars"] == 20
    assert by_id[1]["n_tokens_bpe"] == 5  # four words + '!'
    assert by_id[1]["punct_ratio"] == pytest.approx(1 / 20, abs=1e-6)
    assert by_id[2]["n_tokens"] == 0
    assert by_id[2]["lang_pred"] == "und"
    assert by_id[3]["lang_pred"] == "de"
    assert by_id[1]["lang_pred"] == "en"
    assert by_id[1]["fingerprint"] is not None
    assert 0.0 <= by_id[1]["quality_score"] <= 1.0


def test_lang_id_on_documents_table(tables):
    # the synthetic docs are token-soup; just verify the expression
    # runs at table scale and yields only known labels
    out = annotate(tables["documents"], metrics=("lang_pred",))
    labels = {r["lang_pred"] for r in out.select("lang_pred").distinct().collect()}
    assert labels <= {"en", "de", "fr", "es", "zh", "und"}


def test_quality_and_tokens_match_duckdb(tables, duck):
    out = (
        annotate(tables["documents"], metrics=("n_tokens",))
        .groupBy()
        .agg(F.sum("n_tokens").alias("total_tokens"))
        .collect()[0]["total_tokens"]
    )
    want = duck.execute(
        "SELECT sum(len(regexp_split_to_array(trim(text), '\\s+'))) FROM documents WHERE length(trim(text)) > 0"
    ).fetchone()[0]
    assert out == want


def test_winnow_shared_substring_guarantee(spark):
    from etl_core_spark.operators.dedup import winnow_fingerprint_table

    # winnowing guarantee: any shared substring of length >= k+w-1
    # (= 11 here) yields at least one shared fingerprint
    common = "the stolen paragraph about spark"
    docs = spark.createDataFrame(
        [
            (1, f"intro text alpha {common} closing words"),
            (2, f"completely different framing. {common}. and more"),
            (3, "nothing in common with the others at all"),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprint_table(docs, "text", "doc_id", k=8, window=4)
    rows = {r["doc_id"]: set(r["fingerprints"]) for r in fp.collect()}
    assert rows[1] & rows[2]
    assert not (rows[1] & rows[3])
    # deterministic digest
    d1 = {r["doc_id"]: r["digest"] for r in fp.collect()}
    d2 = {r["doc_id"]: r["digest"] for r in fp.collect()}
    assert d1 == d2


def test_tf_idf_top_terms(spark):
    from etl_core_spark.operators.text_analysis import tf_idf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "rare spark engine engine"),
            (2, "common words common words"),
            (3, "common words again"),
        ],
        "doc_id long, text string",
    )
    out = tf_idf_top_terms(docs, "text", "doc_id", top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["tf_idf"]))
    # doc 1: 'engine' tf=2 and appears in 1 doc → top term
    assert sorted(by_doc[1])[0][1] == "engine"
    # every doc gets exactly top_k rows (ties broken deterministically)
    assert all(len(v) == 2 for v in by_doc.values())
    # idf ordering: unique terms outscore corpus-wide ones at equal tf
    d1 = {t: s for _, t, s in by_doc[1]}
    assert d1["engine"] > max(s for _, t, s in by_doc[2])


def test_winnow_near_dup_pairs(spark):
    from etl_core_spark.operators.dedup import winnow_near_dup_pairs

    common = "the stolen paragraph about spark engines"
    docs = spark.createDataFrame(
        [
            (1, f"intro alpha {common} closing"),
            (2, f"other frame. {common}. more"),
            (3, "nothing shared with anybody here"),
        ],
        "doc_id long, text string",
    )
    pairs = winnow_near_dup_pairs(docs, "text", "doc_id", min_shared=2).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["n_shared"] >= 2

    # a corpus of mostly empty docs (the NULL-fingerprint hot key)
    # still matches the DuckDB oracle
    import duckdb
    import pyarrow as pa

    from __spark_entry__ import _SQL_WINNOW_PAIRS

    rows = [(i, ["", "   ", None][i % 3]) for i in range(60)]
    rows += [
        (100, f"intro alpha {common} closing"),
        (101, f"other frame. {common}. more"),
        (102, f"{common} and yet another copy"),
        (103, "nothing shared with anybody here"),
    ]
    empties = spark.createDataFrame(rows, "doc_id long, text string")
    got = winnow_near_dup_pairs(
        empties, "text", "doc_id", k=8, window=4, min_shared=2, max_doc_freq=5
    ).collect()
    con = duckdb.connect()
    con.register("documents", pa.table(
        {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}
    ))
    want = con.execute(_SQL_WINNOW_PAIRS).fetchall()
    assert sorted(map(tuple, got)) == sorted(want)
    assert len(want) == 3


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    row = df.select(X.shingles(F.col("t"), 2).alias("s")).collect()[0]
    assert row["s"] == ["a b", "b c", "c d"]
    j = df.select(
        X.jaccard(F.array(F.lit("x"), F.lit("y")), F.array(F.lit("y"), F.lit("z"))).alias("j")
    ).collect()[0]["j"]
    assert j == pytest.approx(1 / 3)


def test_ivf_kmeans_refinement_recovers_clusters(spark):
    """Adversarial seeding: all IVF seed centroids (lowest ids) sit in
    one cluster, so iters=0 mis-assigns two clusters; deterministic
    Lloyd rounds must migrate the centroids and recover full recall
    (measured 0.725 → 1.0 on this fixture). On uniform random
    embeddings refinement is a no-op by design — it's a
    clustered-data feature."""
    import random

    from etl_core_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        refine_centroids,
    )

    rng = random.Random(7)
    dim, rows = 16, []
    for i in range(90):
        c = 0 if i < 3 else i % 3  # seeds (ids 0-2) all in cluster 0
        base = [0.0] * dim
        base[c * 5] = 1.0
        rows.append((i, [b + rng.gauss(0, 0.05) for b in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(
        F.col("vec_id").isin([10, 11, 20, 22, 31, 40, 50, 61])
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=5, broadcast_corpus=True).collect()
    }

    def recall(iters):
        got = {
            (r["query_id"], r["vec_id"])
            for r in ivf_topk(
                emb, queries, k=5, num_centroids=3, nprobe=1, kmeans_iters=iters
            ).collect()
        }
        return len(exact & got) / len(exact)

    r0, r5 = recall(0), recall(5)
    assert r5 == 1.0 and r0 < r5

    # refinement preserves the centroid count (empty cells keep their
    # previous centroid instead of disappearing)
    from etl_core_spark.functions import vectors as V

    c_unit = emb.select(
        F.col("vec_id").alias("__corpus_id"), V.unit(F.col("embedding")).alias("__cv")
    )
    cent0 = (
        emb.orderBy("vec_id").limit(3)
        .select(F.col("vec_id").alias("__cid"), V.unit(F.col("embedding")).alias("__cvec"))
    )
    assert refine_centroids(c_unit, cent0, 3).count() == 3


def test_simhash_long_matches_string_fingerprints(spark, tables):
    """The pairs pipeline's long fingerprints are the same bits as the
    oracle-certified string form (bit b of the long == char bits-1-b
    of the string)."""
    from etl_core_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_fingerprints_long,
    )

    docs = tables["documents"].limit(200)
    s = {r["doc_id"]: r["simhash"] for r in
         simhash_fingerprints(docs, "text", "doc_id").collect()}
    l = {r["doc_id"]: r["simhash64"] for r in
         simhash_fingerprints_long(docs, "text", "doc_id").collect()}
    assert set(s) == set(l)
    for did, bits in s.items():
        assert int(bits, 2) == l[did]


def test_pq_topk_recall_contract_and_determinism(spark, tables):
    """Product-quantization ANN (operators/similarity.py pq_topk):
    rows contract (<= k per query, contiguous ranks, exact 6dp
    cosine on the refined output), a recall floor vs exact brute
    force on the uniform-random embeddings table (PQ's adversarial
    case — no cluster structure to exploit), self-retrieval at rank
    1 / cosine 1.0, and run-to-run determinism (codebook seeding is
    id-sorted, no randomness anywhere)."""
    from etl_core_spark.operators.similarity import brute_force_topk, pq_topk

    emb = tables["embeddings"]
    queries = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(
            emb, queries, k=5, broadcast_corpus=True
        ).collect()
    }
    rows = pq_topk(
        emb, queries, k=5, m=8, k_codes=128, refine_factor=8
    ).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(x["rank"] for x in rs)
        assert ranks == list(range(1, len(rs) + 1))
        # self-retrieval: refined exact cosine puts the query itself
        # (present in the corpus) at rank 1 with cosine 1.0
        top = min(rs, key=lambda x: x["rank"])
        assert top["vec_id"] == q and top["cosine"] == 1.0
    got = {(r["query_id"], r["vec_id"]) for r in rows}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"PQ recall {recall} below floor"
    rows2 = pq_topk(
        emb, queries, k=5, m=8, k_codes=128, refine_factor=8
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_pq_topk_validation(spark, tables):
    import pytest as _pytest

    from etl_core_spark.operators.base import OperatorConfigError
    from etl_core_spark.operators.similarity import pq_topk

    emb = tables["embeddings"]
    q = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    with _pytest.raises(OperatorConfigError):
        pq_topk(emb, q, m=7)  # 64 % 7 != 0
    with _pytest.raises(OperatorConfigError):
        pq_topk(emb, emb.select(F.col("vec_id").alias("query_id"),
                                "embedding"), max_query_rows=2)


def test_ivf_topk_refined_on_testdata_embeddings(spark, tables):
    """Refinement on the driver-generated embeddings table: the rows
    contract holds (<= k rows per query, ranks 1..n contiguous) and
    BOTH refined and unrefined recall vs exact brute force clear a
    floor. Refinement is not pointwise-monotone on arbitrary data —
    rebalancing cells can move one true neighbor outside the probed
    set (measured 1.0 -> 0.967 here at nprobe=2); the guarantee that
    refinement recovers recall on clustered data with adversarial
    seeds is test_ivf_kmeans_refinement_recovers_clusters above."""
    from etl_core_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = tables["embeddings"]
    queries = (
        emb.orderBy("vec_id").limit(6)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=5, broadcast_corpus=True).collect()
    }

    def run(iters):
        rows = ivf_topk(
            emb, queries, k=5, num_centroids=6, nprobe=2, kmeans_iters=iters
        ).collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r["rank"])
        for ranks in by_q.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
            assert len(ranks) <= 5
        got = {(r["query_id"], r["vec_id"]) for r in rows}
        return len(exact & got) / len(exact)

    r0, r3 = run(0), run(3)
    assert r0 >= 0.9 and r3 >= 0.9


def test_decontaminate_flags_benchmark_overlap(spark):
    """GPT-3-style n-gram decontamination: docs sharing an n-gram
    with the benchmark are flagged, clean and empty docs are not,
    counts are exact, hash_keys mode agrees with exact mode, and
    max_matches raises the flagging bar."""
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.text_analysis import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # contains bench
            (2, "a completely unrelated document body here"),
            (3, ""),            # empty: 0 ngrams, never flagged
            (4, None),          # null text
            (5, "quick brown fox jumps over nothing else"),      # partial overlap
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy cat",)], "text string"
    )
    out = decontaminate(docs, bench, ngram_n=4)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["is_contaminated"] and rows[1]["n_contaminated"] > 0
    assert rows[5]["is_contaminated"]  # shares 'quick brown fox jumps' etc
    assert not rows[2]["is_contaminated"] and rows[2]["n_contaminated"] == 0
    assert rows[3]["n_ngrams"] == 0 and not rows[3]["is_contaminated"]
    assert rows[4]["n_ngrams"] == 0 and not rows[4]["is_contaminated"]
    # hash-key mode: identical output on this corpus
    hashed = {
        r["doc_id"]: (r["n_contaminated"], r["is_contaminated"])
        for r in decontaminate(docs, bench, ngram_n=4, hash_keys=True).collect()
    }
    assert hashed == {
        k: (v["n_contaminated"], v["is_contaminated"]) for k, v in rows.items()
    }
    # raising max_matches unflags the partial-overlap doc
    strict = {
        r["doc_id"]: r["is_contaminated"]
        for r in decontaminate(
            docs, bench, ngram_n=4, max_matches=rows[5]["n_contaminated"]
        ).collect()
    }
    assert not strict[5] and strict[1] == (rows[1]["n_contaminated"] > rows[5]["n_contaminated"])
    # operator port surface
    out2 = get_operator("decontaminate")(ngram_n=4).apply(
        {"docs": docs, "benchmark": bench}
    )["out"]
    assert out2.count() == 5


def test_repetition_metrics_values(spark):
    """Gopher repetition rules: exact fractions on hand-computed
    docs; empty/null/whitespace docs are all-zero."""
    from etl_core_spark.operators.text_analysis import annotate

    rows = [
        (1, "aaa\nbbb\naaa\nccc"),   # line 'aaa' repeats
        (2, "x y x y x y"),          # 'x y' bigram dominates
        (3, ""), (4, None), (5, "  \n \n"),
        (6, "unique one\nunique two\nunique three"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["dup_line_frac"], r["dup_line_char_frac"],
                      r["top_bigram_char_frac"])
        for r in annotate(
            df, metrics=("dup_line_frac", "dup_line_char_frac",
                         "top_bigram_char_frac")
        ).collect()
    }
    assert got[1] == (0.25, 0.5, pytest.approx(7 / 15, abs=1e-6))
    assert got[2] == (0.0, 0.0, pytest.approx(9 / 11, abs=1e-6))
    assert got[3] == (0.0, 0.0, 0.0)
    assert got[4] == (0.0, 0.0, 0.0)
    # newline-bearing whitespace-only text: trim() strips SPACES only
    # (both engines), so tokenization yields empty-string tokens and
    # the degenerate ' ' bigram scores 1/len — line metrics stay 0.
    # Pinned because the oracle reproduces exactly this.
    assert got[5] == (0.0, 0.0, 0.2)
    assert got[6][0] == 0.0 and got[6][1] == 0.0


def test_numpy_topk_string_ids(spark):
    """The numpy kernel advertises brute_force_topk's contract, which
    includes non-integer id columns — the id dtype now follows the
    corpus schema instead of a hardcoded int64."""
    from etl_core_spark.operators.similarity import (
        brute_force_topk, brute_force_topk_numpy,
    )

    emb = spark.createDataFrame(
        [(f"doc-{i}", [float(i == j) for j in range(4)]) for i in range(6)],
        "vec_id string, embedding array<double>",
    )
    queries = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["vec_id"], r["rank"])
             for r in brute_force_topk(emb, queries, k=3,
                                       broadcast_corpus=True).collect()}
    kernel = {(r["query_id"], r["vec_id"], r["rank"])
              for r in brute_force_topk_numpy(emb, queries, k=3).collect()}
    assert kernel == exact


def test_lsh_topk_drops_zero_norm_corpus_vectors(spark):
    """Zero vectors (failed-embedding output) all share one hyperplane
    sign pattern — a hot bucket of useless cosine-0 candidates — and
    are dropped pre-bucketing (the cosine_near_dup guard)."""
    from etl_core_spark.operators.similarity import lsh_topk

    rows = [(i, [0.0] * 8) for i in range(20)] + [
        (100, [1.0] + [0.0] * 7), (101, [0.99, 0.1] + [0.0] * 6),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where(F.col("vec_id") == 100).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(emb, queries, dim=8, k=10, num_planes=2, num_tables=4).collect()
    assert all(r["vec_id"] in (100, 101) for r in out)


def test_pq_topk_null_vectors(spark, tables):
    """ADVICE r9: NULL corpus embeddings are skipped (never a
    neighbor, must not crash the Arrow encode batch); NULL query
    vectors raise loudly."""
    import pytest as _pytest

    from etl_core_spark.operators.base import OperatorConfigError
    from etl_core_spark.operators.similarity import pq_topk

    emb = tables["embeddings"]
    queries = (
        emb.orderBy("vec_id").limit(4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    null_row = emb.limit(1).select(
        *[
            F.lit(999_999).alias(c)
            if c == "vec_id"
            else F.lit(None).cast(emb.schema[c].dataType).alias(c)
            for c in emb.columns
        ]
    )
    dirty = emb.unionByName(null_row)
    clean_rows = pq_topk(emb, queries, k=5, m=8, k_codes=64).collect()
    dirty_rows = pq_topk(dirty, queries, k=5, m=8, k_codes=64).collect()
    assert sorted(map(tuple, clean_rows)) == sorted(map(tuple, dirty_rows))
    assert all(r["vec_id"] != 999_999 for r in dirty_rows)
    null_q = queries.select(
        "query_id",
        F.when(F.col("query_id") % 2 == 0, F.col("embedding")).alias(
            "embedding"
        ),
    )
    with _pytest.raises(OperatorConfigError, match="NULL"):
        pq_topk(emb, null_q, k=5, m=8, k_codes=64)


def test_containment_pairs_asymmetric_semantics(spark):
    """Broder containment: a short doc quoted inside a long one has
    HIGH containment (short in long) but low the other way — the
    redundancy Jaccard misses."""
    from etl_core_spark.operators.base import OperatorConfigError, get_operator
    from etl_core_spark.operators.dedup import (
        containment_pairs,
        jaccard_dedup_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog tonight"
    long_doc = (
        "introduction paragraph with plenty of extra context words "
        f"here {quote} and a long closing discussion of unrelated "
        "material that keeps going for many more tokens than the "
        "quoted passage itself contains overall"
    )
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, "completely unrelated text")],
        "doc_id long, text string",
    )
    rows = {
        (r["id_a"], r["id_b"]): r
        for r in containment_pairs(df, "text", "doc_id", threshold=0.5).collect()
    }
    assert (1, 2) in rows  # the quote is contained in the long doc
    assert rows[(1, 2)]["containment"] >= 0.9
    assert (2, 1) not in rows  # but not vice versa
    assert not any(3 in k for k in rows)
    # Jaccard at the same floor misses the pair (union dominated by
    # the long side) — the reason containment is its own operator
    jac = jaccard_dedup_pairs(df, "text", "doc_id", threshold=0.5).collect()
    assert not any({r["id_a"], r["id_b"]} == {1, 2} for r in jac)
    # identical docs contain each other: both ordered rows emitted
    dup = spark.createDataFrame(
        [(1, quote), (2, quote)], "doc_id long, text string"
    )
    both = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(dup, "text", "doc_id").collect()
    }
    assert both == {(1, 2): 1.0, (2, 1): 1.0}
    with pytest.raises(OperatorConfigError):
        get_operator("containment_pairs")(threshold=0)


def test_containment_pairs_freq_cap_undercounts_only(spark):
    """Capped hot shingles still count toward |A| — containment can
    only drop, never inflate."""
    from etl_core_spark.operators.dedup import containment_pairs

    docs = [(i, "hot shared boiler plate line") for i in range(1, 7)]
    docs.append((9, "hot shared boiler plate line plus unique tail"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    uncapped = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(
            df, "text", "doc_id", threshold=0.1, max_shingle_freq=None
        ).collect()
    }
    capped = containment_pairs(
        df, "text", "doc_id", threshold=0.1, max_shingle_freq=3
    ).collect()
    assert uncapped  # the boilerplate family is all mutually contained
    for r in capped:
        key = (r["id_a"], r["id_b"])
        assert r["containment"] <= uncapped[key] + 1e-9


def test_kmeans_cluster_assignment_semantics(spark, tables):
    """kmeans_cluster (operators/similarity.py): full assignment
    table, deterministic seeding, Lloyd refinement preserves the
    row-per-vector contract, NULL vectors dropped, and seed vectors
    assign to their own cluster at iterations=0."""
    from etl_core_spark.operators.base import OperatorConfigError, get_operator
    from etl_core_spark.operators.similarity import kmeans_cluster

    emb = tables["embeddings"]
    n = emb.count()
    out = kmeans_cluster(emb, k=8).collect()
    assert len(out) == n  # every vector assigned
    by_id = {r["vec_id"]: r for r in out}
    # seeds (8 lowest ids) are their own centroids -> self-assignment
    seed_ids = [r["vec_id"] for r in emb.orderBy("vec_id").limit(8).collect()]
    for sid in seed_ids:
        assert by_id[sid]["cluster_id"] == sid
        assert by_id[sid]["cosine"] == pytest.approx(1.0, abs=1e-3)
    assert {r["cluster_id"] for r in out} <= set(seed_ids)
    # refinement keeps the contract and stays deterministic
    r1 = kmeans_cluster(emb, k=8, iterations=2).collect()
    r2 = kmeans_cluster(emb, k=8, iterations=2).collect()
    assert len(r1) == n
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    # NULL vectors drop
    null_row = emb.limit(1).select(
        *[
            F.lit(777_777).alias(c) if c == "vec_id"
            else F.lit(None).cast(emb.schema[c].dataType).alias(c)
            for c in emb.columns
        ]
    )
    dirty = emb.unionByName(null_row)
    out2 = kmeans_cluster(dirty, k=8).collect()
    assert len(out2) == n and all(r["vec_id"] != 777_777 for r in out2)
    via_op = get_operator("kmeans_cluster")(k=4, emit_similarity=False).apply(
        {"in": emb}
    )["out"]
    assert via_op.columns == ["vec_id", "cluster_id"]
    with pytest.raises(OperatorConfigError):
        kmeans_cluster(emb, k=0)


# ---------------------------------------------------------------------------
# hamming_near_dup_pairs: generic banded fingerprint pairing (r12)
# ---------------------------------------------------------------------------

def _ham_pairs(spark, rows, **cfg):
    df = spark.createDataFrame(rows, "doc_id long, fp string")
    out = get_operator("hamming_near_dup_pairs")(
        fp_col="fp", id_col="doc_id", **cfg
    ).apply({"in": df})["out"]
    return sorted(tuple(r) for r in out.collect())


def test_hamming_pairs_matches_quadratic_reference(spark):
    """Banded candidates must equal the brute-force hamming join for
    every pair within budget — the pigeonhole argument is exhaustive,
    so on a deterministic 40-fingerprint corpus the two agree."""
    import random

    rng = random.Random(7)
    base = [rng.getrandbits(64) for _ in range(12)]
    fps = []
    for i, b in enumerate(base):
        fps.append((i * 3, b))
        # near copy: flip 2 bits; far copy: flip 17 bits
        fps.append((i * 3 + 1, b ^ (1 << (i % 64)) ^ (1 << ((i * 7 + 3) % 64))))
        far = b
        for j in range(17):
            far ^= 1 << ((i * 5 + j * 3) % 64)
        fps.append((i * 3 + 2, far))
    rows = [(i, format(v, "064b")) for i, v in fps]
    got = _ham_pairs(spark, rows, max_hamming=4)
    byid = dict(fps)
    want = sorted(
        (a, b, bin(byid[a] ^ byid[b]).count("1"))
        for a in byid for b in byid
        if a < b and bin(byid[a] ^ byid[b]).count("1") <= 4
    )
    assert got == want and len(want) >= 12  # every near pair found


def test_hamming_pairs_nulls_malformed_and_zero_budget(spark):
    rows = [(1, "0" * 64), (2, "0" * 62 + "11"), (3, None), (4, "0" * 64)]
    # NULL drops; exact budget 0 -> only the identical pair
    assert _ham_pairs(spark, rows, max_hamming=0) == [(1, 4, 0)]
    assert _ham_pairs(spark, rows, max_hamming=2) == [
        (1, 2, 2), (1, 4, 0), (2, 4, 2)
    ]
    # malformed fingerprints are a pipeline bug: loud, not skipped
    with pytest.raises(Exception, match="must be a 64-char"):
        _ham_pairs(spark, [(9, "01x")], max_hamming=2)
    with pytest.raises(Exception, match="must be a 64-char"):
        _ham_pairs(spark, [(9, "0" * 63)], max_hamming=2)
    # non-64 widths work end-to-end (bits config)
    rows16 = [(1, "0" * 16), (2, "0" * 15 + "1")]
    df = spark.createDataFrame(rows16, "doc_id long, fp string")
    out = get_operator("hamming_near_dup_pairs")(
        fp_col="fp", id_col="doc_id", bits=16, max_hamming=1
    ).apply({"in": df})["out"]
    assert [tuple(r) for r in out.collect()] == [(1, 2, 1)]


def test_hamming_pairs_band_cap_and_validation(spark):
    from etl_core_spark.operators.base import OperatorConfigError

    # 30 identical fingerprints: every band key is hot; cap kills them
    rows = [(i, "1" * 64) for i in range(30)]
    assert _ham_pairs(spark, rows, max_hamming=2, max_band_freq=10) == []
    with pytest.raises(OperatorConfigError, match="max_hamming"):
        get_operator("hamming_near_dup_pairs")(
            fp_col="fp", id_col="doc_id", max_hamming=-1
        ).validate_config()
    with pytest.raises(OperatorConfigError, match="bits"):
        get_operator("hamming_near_dup_pairs")(
            fp_col="fp", id_col="doc_id", bits=0
        ).validate_config()
    with pytest.raises(OperatorConfigError, match="fp_col"):
        get_operator("hamming_near_dup_pairs")(
            id_col="doc_id"
        ).validate_config()
    with pytest.raises(OperatorConfigError, match="max_band_freq"):
        get_operator("hamming_near_dup_pairs")(
            fp_col="fp", id_col="doc_id", max_band_freq=0
        ).validate_config()
    # budget >= bits would break the pigeonhole guarantee (only
    # past-the-end bands could "agree" between maximally distant
    # fingerprints) — that is an all-pairs request: loud
    with pytest.raises(OperatorConfigError, match="must be < bits"):
        _ham_pairs(spark, [(1, "0" * 4)], bits=4, max_hamming=4)
    with pytest.raises(OperatorConfigError, match="must be < bits"):
        get_operator("hamming_near_dup_pairs")(
            fp_col="fp", id_col="doc_id", bits=4, max_hamming=4
        ).validate_config()


def test_hamming_pairs_balanced_bands_no_empty_trailing_band(spark):
    """Regression (r13): the uniform-width band split left trailing
    bands as EMPTY substrings whenever ceil(bits/width) < k+1 (e.g.
    bits=64, max_hamming=8: width=8 covers all 64 bits in 8 bands,
    band 9 empty). conv('',2,10) is NULL, NULL band keys never
    equi-join, so the effective band count dropped below k+1 and
    qualifying pairs at exactly distance k were silently missed.
    Balanced boundaries make every band non-empty; the banded result
    must match the quadratic reference for EVERY previously-broken
    budget."""
    base = int("1010110011010001" * 4, 2)
    rows_by_id = {0: base}
    # id d differs from id 0 in exactly d bits, spread across the word
    for d in range(1, 33):
        v = base
        for j in range(d):
            v ^= 1 << ((j * 13 + 5) % 64)
        rows_by_id[d] = v
    rows = [(i, format(v, "064b")) for i, v in rows_by_id.items()]
    # 8, 11, 13, 14 all had empty trailing bands with the old split
    for k in (8, 11, 13, 14, 23, 31):
        got = _ham_pairs(spark, rows, max_hamming=k)
        want = sorted(
            (a, b, bin(rows_by_id[a] ^ rows_by_id[b]).count("1"))
            for a in rows_by_id for b in rows_by_id
            if a < b
            and bin(rows_by_id[a] ^ rows_by_id[b]).count("1") <= k
        )
        assert got == want, f"max_hamming={k}"
        # the ADVICE repro shape: a pair at exactly distance k is found
        assert (0, k, k) in got
    # the xxhash64 fallback path (max band width > 62) with balanced
    # cuts: bits=128, max_hamming=1 -> two 64-bit bands
    wide = [(1, "0" * 128), (2, "0" * 127 + "1"), (3, "1" + "0" * 127)]
    df = spark.createDataFrame(wide, "doc_id long, fp string")
    out = get_operator("hamming_near_dup_pairs")(
        fp_col="fp", id_col="doc_id", bits=128, max_hamming=1
    ).apply({"in": df})["out"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 2, 1), (1, 3, 1)
    ]


def test_simhash_pairs_budget_guard_and_balanced_bands(spark):
    """simhash_near_dup_pairs shares the banding: budgets >= bits now
    raise (all-pairs request), and a previously shift-past-the-end
    budget (bits=60, max_hamming=13 -> old uniform width 5 covered 60
    bits in 12 bands, bands 12-13 shifted past the end to a CONSTANT
    0 key = accidental all-pairs generator) still returns the exact
    quadratic answer with balanced cuts."""
    from etl_core_spark.operators.base import OperatorConfigError
    from etl_core_spark.operators.dedup import (
        simhash_fingerprints_long,
        simhash_near_dup_pairs,
    )

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different content about spark engines"),
        (4, "the quick brown fox leaps over the lazy dog"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, body string")
    fps = {
        r["doc_id"]: r["simhash64"]
        for r in simhash_fingerprints_long(df, "body", "doc_id").collect()
    }
    for k in (13, 17):
        got = sorted(
            tuple(r)
            for r in simhash_near_dup_pairs(
                df, "body", "doc_id", max_hamming=k
            ).collect()
        )
        want = sorted(
            (a, b, bin(fps[a] ^ fps[b]).count("1"))
            for a in fps for b in fps
            if a < b and bin(fps[a] ^ fps[b]).count("1") <= k
        )
        assert got == want, f"max_hamming={k}"
    with pytest.raises(OperatorConfigError, match="must be < bits"):
        simhash_near_dup_pairs(df, "body", "doc_id", max_hamming=60)
