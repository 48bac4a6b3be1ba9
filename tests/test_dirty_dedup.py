"""Dirty-corpus dedup behavior + plan-hygiene guards.

A real crawl corpus hits null-text documents, empty documents, and
whitespace-only documents on day one. These tests pin the behaviors
the clean synthetic fixtures cannot surface:

- exact_dedup must KEEP rows whose dedup key is NULL (a plain
  equi-semi-join silently drops them — NULL never equi-matches);
- MinHash LSH must not collapse every zero-shingle doc into one band
  bucket (quadratic candidate blow-up in the empty-doc count);
- operator-persisted intermediates must be releasable (no cache leak
  across jobs in a long-lived session);
- tf_idf_top_terms plan construction must launch zero Spark jobs;
- brute_force_topk must not broadcast an unbounded corpus.
"""

import pytest
from pyspark.sql import functions as F

from etl_core_spark.operators.dedup import (
    exact_dedup,
    minhash_candidates,
    minhash_dedup_pairs,
    winnow_near_dup_pairs,
)
from etl_core_spark.session import release_intermediates


@pytest.fixture(scope="module")
def dirty_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, None),  # null text
        (4, None),  # null text (dup key group with 3)
        (5, ""),  # empty
        (6, ""),  # empty
        (7, "   "),  # whitespace-only
        (8, "\t\n"),  # whitespace-only
        (9, "a genuinely different document about spark"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# -- exact dedup on null keys -------------------------------------------


def test_exact_dedup_keeps_null_key_rows(dirty_docs):
    keyed = dirty_docs.withColumn("h", F.md5("text"))  # md5(NULL) = NULL
    out = exact_dedup(keyed, ["h"], id_col="doc_id")
    ids = sorted(r["doc_id"] for r in out.collect())
    # one survivor per key group, min id wins — including the NULL-key
    # group (docs 3,4): survivor 3. Before the eqNullSafe fix both
    # null-text rows vanished entirely.
    assert ids == [1, 3, 5, 7, 8, 9]


def test_exact_dedup_null_and_nonnull_paths_agree(dirty_docs):
    keyed = dirty_docs.withColumn("h", F.md5("text"))
    with_id = exact_dedup(keyed, ["h"], id_col="doc_id")
    without_id = exact_dedup(keyed, ["h"])  # dropDuplicates path
    assert with_id.count() == without_id.count()


def test_exact_dedup_multi_key_nulls(spark):
    rows = [
        (1, None, "x"),
        (2, None, "x"),  # dup of 1 under (a,b)
        (3, None, None),
        (4, "v", None),
    ]
    df = spark.createDataFrame(rows, "id long, a string, b string")
    out = exact_dedup(df, ["a", "b"], id_col="id")
    assert sorted(r["id"] for r in out.collect()) == [1, 3, 4]


# -- MinHash LSH on zero-shingle docs -----------------------------------


def test_empty_docs_yield_zero_candidates(spark):
    # 40 empty/space/null docs (zero shingles each): pre-fix they all
    # shared ONE band key ("" from concat_ws over all-NULL signatures)
    # → 40*39/2 = 780 candidate pairs from garbage. Post-fix: zero.
    rows = [(i, ["", "   ", None, " "][i % 4]) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert minhash_candidates(df, "text", "doc_id").count() == 0
    release_intermediates()


def test_max_band_freq_caps_mass_duplicate_hot_bucket(spark):
    # 30 identical docs + 2 distinct near-dups: identical content is a
    # LEGITIMATE band collision (not the NULL bug), but at corpus
    # scale a million-times-duplicated boilerplate page makes the
    # band self-join quadratic. max_band_freq drops band keys hotter
    # than the cap — same idea as winnowing's max_doc_freq.
    rows = [(i, "the same boilerplate page body text") for i in range(30)]
    rows += [(100, "one unusual document"), (101, "one unusual document")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = minhash_candidates(df, "text", "doc_id").count()
    assert uncapped >= 30 * 29 / 2  # the hot bucket, quadratic
    capped = minhash_candidates(df, "text", "doc_id", max_band_freq=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(100, 101)}  # hot band dropped, rare pair kept
    release_intermediates()


def test_minhash_pairs_unaffected_by_dirty_rows(dirty_docs):
    pairs = minhash_dedup_pairs(dirty_docs, "text", "doc_id", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # the real dup still found
    # no pair involves a zero-shingle doc
    zero_shingle = {3, 4, 5, 6, 7, 8}
    assert all(a not in zero_shingle and b not in zero_shingle for a, b in got)
    release_intermediates()


def test_minhash_signature_table_still_covers_all_docs(dirty_docs):
    # the SIGNATURE table keeps zero-shingle docs (NULL signature) —
    # only candidate banding filters them; the oracle-checked
    # minhash_signature query depends on full coverage
    from etl_core_spark.operators.dedup import _shingle_table, minhash_sig_table

    sh = _shingle_table(dirty_docs, "text", "doc_id", 3)
    sig = minhash_sig_table(sh, "doc_id", 4)
    assert sig.count() == dirty_docs.count()
    release_intermediates()


def test_operator_configs_expose_scale_knobs(spark):
    # the registry/config surface must carry the new guards, not just
    # the python functions
    from etl_core_spark.operators.base import get_operator

    rows = [(i, "same boilerplate body text here") for i in range(20)]
    rows += [(100, "a rare doc"), (101, "a rare doc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = get_operator("dedup")(
        method="minhash_lsh", text_col="text", id_col="doc_id",
        threshold=0.5, max_band_freq=5,
    ).apply({"in": df})["out"]
    ids = {r["doc_id"] for r in out.collect()}
    # hot band dropped → boilerplate group untouched; rare dup removed
    assert 101 not in ids and 100 in ids and len(ids) == 21
    release_intermediates()

    emb = spark.createDataFrame(
        [(i, [float(i == j) for j in range(8)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    out = get_operator("similarity_search")(
        method="lsh", dim=8, k=2, num_tables=4
    ).apply({"corpus": emb, "queries": queries})["out"]
    assert out.count() > 0  # multi-table path runs through the config


# -- simhash banded near-dup pairs ---------------------------------------


def test_simhash_near_dup_pairs_finds_band_distant_pair(spark):
    # docs 1/2 differ by one token out of many → few simhash bits
    # apart, NOT identical — exact-bucket grouping misses them, the
    # pigeonhole banding must not
    from etl_core_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_dup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [
        (1, base + "ending one"),
        (2, base + "ending two"),
        (3, "a completely different document about query planners"),
        (4, ""),  # zero-shingle: excluded
        (5, None),  # null text: excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r["doc_id"]: r["simhash"] for r in
           simhash_fingerprints(df, "text", "doc_id").collect()}
    d12 = sum(a != b for a, b in zip(fps[1], fps[2]))
    assert 0 < d12 <= 8  # near but not identical
    pairs = simhash_near_dup_pairs(df, "text", "doc_id", max_hamming=8).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got.get((1, 2)) == d12
    assert all(3 not in p and 4 not in p and 5 not in p for p in got)


def test_simhash_near_dup_excludes_empty_docs(spark):
    # 30 empty/whitespace docs share the all-zero fingerprint; without
    # the clean filter they'd be 435 hamming-0 "pairs" from garbage
    from etl_core_spark.operators.dedup import simhash_near_dup_pairs

    rows = [(i, ["", "   ", None][i % 3]) for i in range(30)]
    rows.append((100, "one real document with several words in it"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert simhash_near_dup_pairs(df, "text", "doc_id", max_hamming=8).count() == 0


def test_simhash_pigeonhole_exhaustive_vs_banded(spark, tables):
    # the banded candidate stage must reach the identical pair set the
    # quadratic comparison finds (pigeonhole: ≤k flips spare one of
    # k+1 bands) — checked on the real documents table
    from etl_core_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_dup_pairs,
    )

    docs = tables["documents"]
    fps = simhash_fingerprints(docs, "text", "doc_id").collect()
    exhaustive = set()
    for i, a in enumerate(fps):
        for b in fps[i + 1:]:
            d = sum(x != y for x, y in zip(a["simhash"], b["simhash"]))
            if d <= 6 and a["simhash"] != "0" * 60 and b["simhash"] != "0" * 60:
                pair = tuple(sorted((a["doc_id"], b["doc_id"])))
                exhaustive.add(pair)
    banded = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dup_pairs(
            docs, "text", "doc_id", max_hamming=6
        ).collect()
    }
    assert banded == exhaustive


# -- cache release -------------------------------------------------------


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_dedup_intermediates_released(spark, dirty_docs):
    release_intermediates()
    before = _persistent_rdd_ids(spark)
    minhash_dedup_pairs(dirty_docs, "text", "doc_id", threshold=0.5).count()
    winnow_near_dup_pairs(dirty_docs, "text", "doc_id").count()
    assert len(_persistent_rdd_ids(spark) - before) >= 1  # caches were live
    release_intermediates()
    assert _persistent_rdd_ids(spark) - before == set()


def test_run_scope_bounds_cache(spark, dirty_docs):
    # even WITHOUT an explicit release, repeated jobs must not
    # accumulate: each run's caches die with its scope
    from etl_core_spark.session import run_scope

    before = _persistent_rdd_ids(spark)
    for _ in range(3):
        with run_scope():
            minhash_dedup_pairs(dirty_docs, "text", "doc_id").count()
            assert _persistent_rdd_ids(spark) - before  # caches were live
        assert _persistent_rdd_ids(spark) - before == set()


# -- lazy-plan contract --------------------------------------------------


def test_tf_idf_plan_construction_launches_no_jobs(spark, tables):
    from etl_core_spark.operators.text_analysis import tf_idf_top_terms

    sc = spark.sparkContext
    group = "tfidf_lazy_probe"
    sc.setJobGroup(group, "tf_idf plan construction must be lazy")
    try:
        plan = tf_idf_top_terms(tables["documents"], "text", "doc_id", top_k=3)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    # and the plan still answers
    assert plan.limit(1).count() == 1


# -- broadcast guard -----------------------------------------------------


def _has_broadcast_hint(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "BroadcastHint" in plan or "broadcast" in plan.lower()


def test_brute_force_broadcast_modes(spark, tables):
    from etl_core_spark.operators import similarity as sim

    emb = tables["embeddings"]
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")

    # parquet corpus has known small stats → auto mode broadcasts
    assert sim._fits_broadcast(emb)
    auto = sim.brute_force_topk(emb, queries, k=2)
    assert "BroadcastNestedLoopJoin" in auto._jdf.queryExecution().executedPlan().toString()

    # forced off → no broadcast-hint nested loop on the corpus side
    off = sim.brute_force_topk(emb, queries, k=2, broadcast_corpus=False)
    assert "BroadcastHint" not in off._jdf.queryExecution().optimizedPlan().toString()

    # unknown-stats corpus (mock huge size) → auto must decline
    class _FakeDF:
        class _J:
            def queryExecution(self):
                raise RuntimeError("no stats")

        _jdf = _J()

    assert not sim._fits_broadcast(_FakeDF())


def test_fits_broadcast_declines_huge_relation(spark):
    big = spark.range(0, 10_000_000).withColumn(
        "payload", F.repeat(F.lit("x"), 100)
    )
    from etl_core_spark.operators.similarity import _fits_broadcast

    assert not _fits_broadcast(big)


# -- multi-table LSH recall ----------------------------------------------


def test_cosine_near_dup_multi_table_recall(spark, tables):
    # the default (bucketed) near-dup path, certified against the
    # exact path on the real embeddings at the oracle threshold:
    # multi-table LSH must be a strict subset of exact with recall
    # well above a single table's (measured 0.83 vs 0.11 at 4 planes)
    from etl_core_spark.operators.similarity import cosine_near_dup_pairs

    emb = tables["embeddings"]
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(emb, threshold=0.4, exact=True).collect()
    }
    assert len(exact) > 0
    one = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(
            emb, threshold=0.4, num_planes=4, num_tables=1
        ).collect()
    }
    multi = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(
            emb, threshold=0.4, num_planes=4, num_tables=8
        ).collect()
    }
    assert one <= exact and multi <= exact  # no false positives ever
    assert len(multi) / len(exact) >= 0.6
    assert len(multi) >= len(one)


def test_lsh_topk_multi_table_recall(spark, tables):
    from etl_core_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = tables["embeddings"]
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=3).collect()
    }
    multi = lsh_topk(emb, queries, dim=64, k=3, num_planes=4, num_tables=8)
    rows = multi.collect()
    got = {(r["query_id"], r["vec_id"]) for r in rows}
    # dedupe guard: no (query, corpus) pair ranked twice
    assert len(rows) == len(got)
    assert len(exact & got) / len(exact) >= 0.5


# -- range_join explosion-aware auto broadcast ---------------------------


def test_range_join_auto_declines_huge_fanout(spark):
    from etl_core_spark.operators.asof import range_join

    # 2k intervals, each ~5 wide, bucket_width tiny → ~50k buckets per
    # interval: raw side is small but the EXPLODED side is ~100M rows.
    intervals = spark.range(0, 2000).select(
        (F.col("id") * 10.0).alias("lo"),
        (F.col("id") * 10.0 + 5.0).alias("hi"),
        F.col("id").alias("iv_id"),
    )
    points = spark.range(0, 100).select((F.col("id") * 1.0).alias("p"))
    out = range_join(points, intervals, "p", "lo", "hi", bucket_width=0.0001)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in plan.lower()
    # sane bucket_width on the same data → auto broadcast applies
    out2 = range_join(points, intervals, "p", "lo", "hi", bucket_width=5.0)
    plan2 = out2._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" in plan2.lower()
    # correctness unaffected by the hint decision
    assert out2.count() == points.join(
        intervals, (F.col("p") >= F.col("lo")) & (F.col("p") < F.col("hi"))
    ).count()


def test_dedup_operator_simhash_hamming_mode(spark):
    from etl_core_spark.operators.base import get_operator

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [
        (1, base + "ending one"),
        (2, base + "ending two"),  # few bits from 1 — NOT identical
        (3, "a totally different document about planners"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact_mode = get_operator("dedup")(
        method="simhash", text_col="text", id_col="doc_id"
    ).apply({"in": df})["out"]
    assert {r["doc_id"] for r in exact_mode.collect()} == {1, 2, 3}  # misses
    near_mode = get_operator("dedup")(
        method="simhash", text_col="text", id_col="doc_id", max_hamming=8
    ).apply({"in": df})["out"]
    assert {r["doc_id"] for r in near_mode.collect()} == {1, 3}  # 2 dropped
    release_intermediates()


def test_winnow_pairs_ignore_dirty_docs(spark, dirty_docs):
    # winnowing is structurally safe on dirty docs (null fingerprints
    # never equi-match; empty docs have no fingerprints) — pin it so a
    # refactor can't regress what MinHash had to be fixed for
    pairs = winnow_near_dup_pairs(
        dirty_docs, "text", "doc_id", min_shared=1
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got  # the real exact dup
    dirty = {3, 4, 5, 6, 7, 8}
    assert all(a not in dirty and b not in dirty for a, b in got)
    release_intermediates()


def test_cosine_near_dup_lsh_drops_zero_vectors(spark):
    # 30 zero vectors (failed-embedding-job output) share one LSH
    # bucket; they can never reach a positive threshold, so the
    # bucketed path must exclude them pre-join instead of scoring
    # 30*29/2 garbage candidates
    from etl_core_spark.operators.similarity import cosine_near_dup_pairs

    rows = [(i, [0.0] * 8) for i in range(30)]
    rows += [
        (100, [1.0] + [0.0] * 7),
        (101, [0.999, 0.02] + [0.0] * 6),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(
            df, threshold=0.9, dim=8, num_planes=2, num_tables=4
        ).collect()
    }
    assert got == {(100, 101)}
    # exact path agrees on the verified output (zero vectors score 0)
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(df, threshold=0.9, dim=8, exact=True).collect()
    }
    assert exact == {(100, 101)}


# ------------------------------------------- connected components

def _cc(spark, edges, **kw):
    from etl_core_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(df, **kw)
    return {r["id"]: r["cluster_id"] for r in out.collect()}


def test_cc_chain_is_one_cluster(spark):
    # a~b, b~c: transitive closure merges all three (the pair-greedy
    # policy would also keep only 1 here; the semantics differ on stars)
    assert _cc(spark, [(1, 2), (2, 3)]) == {1: 1, 2: 1, 3: 1}


def test_cc_star_merges_unlike_pair_greedy(spark):
    # 2~5 and 3~5 but 2!~3: CC puts all three in cluster 2; the
    # pair-greedy dedup keeps both 2 and 3 — documented difference
    assert _cc(spark, [(2, 5), (3, 5)]) == {2: 2, 3: 2, 5: 2}


def test_cc_separate_components(spark):
    got = _cc(spark, [(1, 2), (10, 11), (11, 12)])
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10}


def test_cc_long_chain_exercises_checkpoint_path(spark):
    # distributed path: every round localCheckpoints its edge frontier
    edges = [(i, i + 1) for i in range(20)]
    got = _cc(spark, edges, driver_max_edges=0)
    assert got == {i: 0 for i in range(21)}


def test_cc_empty_pairs(spark):
    assert _cc(spark, spark.createDataFrame([], "id_a long, id_b long").collect() or [(0, 0)]) == {0: 0}
    from etl_core_spark.operators.dedup import connected_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0


def test_cc_partitioning_independent(spark):
    from etl_core_spark.operators.dedup import connected_components

    edges = [(i, i + 100) for i in range(50)] + [(i + 100, i + 200) for i in range(50)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = {(r["id"], r["cluster_id"]) for r in connected_components(df, driver_max_edges=0).collect()}
    b = {(r["id"], r["cluster_id"]) for r in connected_components(df.repartition(17), driver_max_edges=0).collect()}
    assert a == b


def test_cc_nonconvergence_raises(spark):
    from etl_core_spark.operators.dedup import connected_components

    # large-star/small-star needs ~log2(n) rounds; a 200-node chain
    # cannot be a star set after ONE round
    df = spark.createDataFrame([(i, i + 1) for i in range(200)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iters=1, driver_max_edges=0)


def test_cc_deep_chain_converges_in_log_rounds(spark):
    """The O(diameter) min-label loop RAISED on diameter > max_iters
    (a 60-edge chain needs 60 propagation rounds against the default
    cap of 50). Large-star/small-star converges in O(log n): the same
    chain must finish within 8 rounds."""
    edges = [(i, i + 1) for i in range(60)]
    got = _cc(spark, edges, max_iters=8, driver_max_edges=0)
    assert got == {i: 0 for i in range(61)}


def test_cc_already_star_converges_within_max_iters_one(spark):
    """An already-star input must be detected at round 0 even with
    max_iters=1 — the plateau gate may only delay detection where
    spare rounds exist, never turn a previously-converging call into
    a RuntimeError (the probe also runs on the last allowed round)."""
    got = _cc(spark, [(1, 2)], max_iters=1, driver_max_edges=0)
    assert got == {1: 1, 2: 1}


def test_cc_overlap_probe_gated_to_near_convergence(spark, monkeypatch):
    """The join-shaped half of the convergence test (the overlap
    probe) must run only when the cheap count==count_distinct gate
    holds — NOT once per round. On the 60-edge chain (8 large/small-
    star rounds) the probe fires at most a couple of times, and
    convergence is detected in the same round as before (max_iters=8
    still suffices — the gate must not delay detection)."""
    from etl_core_spark.operators import dedup as dd

    calls = {"n": 0}
    real = dd._star_overlap_probe

    def counting(e):
        calls["n"] += 1
        return real(e)

    monkeypatch.setattr(dd, "_star_overlap_probe", counting)
    edges = [(i, i + 1) for i in range(60)]
    got = _cc(spark, edges, max_iters=8, driver_max_edges=0)
    assert got == {i: 0 for i in range(61)}
    # ungated behavior would be 1 probe per round (= rounds taken);
    # gated, the uniqueness precondition only holds near the fixed point
    assert 1 <= calls["n"] <= 3, calls["n"]


def test_cc_operator_port(spark):
    from etl_core_spark.operators.base import get_operator

    pairs = spark.createDataFrame([(7, 9, 0.9)], "id_a long, id_b long, jaccard double")
    out = get_operator("near_dup_clusters")().apply({"pairs": pairs})["out"]
    assert {tuple(r) for r in out.collect()} == {(7, 7), (9, 7)}


def test_cc_releases_its_caches(spark):
    """Repeated CC runs must return the persistent-RDD set EXACTLY to
    baseline once ``release_intermediates()`` runs: superseded rounds
    are freed in-loop via ``release`` and the final checkpoint is
    owned by the run scope, so nothing
    waits on the py4j-finalizer -> JVM-GC -> ContextCleaner chain (the
    pre-r8 version of this test allowed "a small constant" of GC
    stragglers and still flaked under load — deterministic release is
    the fix, not a looser bound)."""
    from etl_core_spark.operators.dedup import connected_components
    from etl_core_spark.session import release_intermediates

    jsc = spark.sparkContext._jsc.sc()
    release_intermediates()
    before = jsc.getPersistentRDDs().size()
    df = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    for _ in range(3):
        out = connected_components(df, driver_max_edges=0)
        out.collect()
        release_intermediates()
        del out
        assert jsc.getPersistentRDDs().size() == before


def test_dedup_cluster_policy_vs_greedy(spark):
    from etl_core_spark.operators.base import get_operator

    # docs 2 and 3 are each near-dups of 5 but not of each other
    # (star shape): greedy keeps {2, 3}; cluster keeps only {2}
    rows = [
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "alpha beta gamma delta epsilon eta"),
        (5, "alpha beta gamma delta epsilon zeta eta"),
        (9, "completely different text with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    conf = dict(method="minhash_lsh", text_col="text", id_col="doc_id",
                threshold=0.3, num_hashes=4, bands=4, shingle_n=2)
    greedy = get_operator("dedup")(**conf).apply({"in": df})["out"]
    cluster = get_operator("dedup")(**conf, survivor_policy="cluster").apply({"in": df})["out"]
    g = {r["doc_id"] for r in greedy.collect()}
    c = {r["doc_id"] for r in cluster.collect()}
    assert 9 in g and 9 in c          # the unrelated doc always survives
    assert 2 in g and 2 in c          # global min always survives
    assert 5 not in g and 5 not in c  # higher id of a pair never does
    assert c <= g                      # cluster is at least as aggressive
    # the star difference, provided LSH verified both 2~5 and 3~5
    from etl_core_spark.operators.dedup import minhash_dedup_pairs
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_dedup_pairs(
        df, "text", "doc_id", threshold=0.3, num_hashes=4, bands=4, shingle_n=2).collect()}
    if (2, 5) in pairs and (3, 5) in pairs and (2, 3) not in pairs:
        assert 3 in g and 3 not in c


def test_dedup_best_policy_keeps_highest_score(spark):
    """survivor_policy='best': the component member with the largest
    survivor_order_col survives — the curation-aware refinement of
    'cluster' (keep the highest-QUALITY duplicate, not the lowest
    id). NULL scores lose; ties break to the smallest id."""
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.base import OperatorConfigError as E

    rows = [
        (2, "alpha beta gamma delta epsilon zeta", 0.1),
        (3, "alpha beta gamma delta epsilon eta", 0.9),
        (5, "alpha beta gamma delta epsilon zeta eta", None),
        (9, "completely different text with no overlap at all here", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, quality double"
    )
    conf = dict(method="minhash_lsh", text_col="text", id_col="doc_id",
                threshold=0.3, num_hashes=4, bands=4, shingle_n=2)
    best = get_operator("dedup")(
        **conf, survivor_policy="best", survivor_order_col="quality"
    ).apply({"in": df})["out"]
    b = {r["doc_id"] for r in best.collect()}
    assert 9 in b                       # unrelated doc always survives
    # if 2/3/5 form one component, the 0.9-quality doc 3 survives it
    # — not min-id 2 (the 'cluster' answer), never NULL-score 5
    from etl_core_spark.operators.dedup import minhash_dedup_pairs
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_dedup_pairs(
        df, "text", "doc_id", threshold=0.3, num_hashes=4, bands=4,
        shingle_n=2).collect()}
    if (2, 5) in pairs and (3, 5) in pairs:
        assert 3 in b and 2 not in b and 5 not in b
    # missing order col raises loudly
    with pytest.raises(E, match="survivor_order_col"):
        get_operator("dedup")(
            **conf, survivor_policy="best"
        ).apply({"in": df})


def test_dedup_bad_survivor_policy_raises(spark):
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.base import OperatorConfigError as E

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    op = get_operator("dedup")(method="minhash_lsh", survivor_policy="bogus")
    with pytest.raises(E, match="survivor_policy"):
        op.apply({"in": df})


def test_cc_driver_and_distributed_paths_agree(spark):
    from etl_core_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (7, 30)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    drv = {(r["id"], r["cluster_id"]) for r in connected_components(df).collect()}
    dist = {(r["id"], r["cluster_id"])
            for r in connected_components(df, driver_max_edges=0).collect()}
    assert drv == dist and len(drv) > 0


# ----------------------------------------------- typo (edit distance)

def test_typo_pairs_completeness_vs_quadratic(spark):
    """Deletion-neighborhood candidates must find EVERY distance<=1
    pair — cross-check against the exhaustive quadratic form."""
    from etl_core_spark.operators.dedup import typo_near_dup_pairs
    from pyspark.sql import functions as F

    names = ["alpha", "alpah", "alphx", "alph", "xalpha", "beta",
             "betta", "beat", "b", "", "  alpha  ", "ALPHA"]
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "id long, name string"
    )
    got = {(r["id_a"], r["id_b"], r["dist"])
           for r in typo_near_dup_pairs(df, "name", "id").collect()}
    # quadratic reference with the same normalization + length gate
    import itertools
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]
    norm = [(i, n.strip().lower()) for i, n in enumerate(names)
            if 1 <= len(n.strip().lower()) <= 64]
    want = {(a, b, lev(x, y)) for (a, x), (b, y)
            in itertools.combinations(norm, 2) if lev(x, y) <= 1}
    assert got == want and len(want) >= 4


def test_typo_pairs_deterministic_across_runs(spark):
    from etl_core_spark.operators.dedup import typo_near_dup_pairs

    df = spark.createDataFrame(
        [(i, f"item{i}") for i in range(100)], "id long, name string"
    )
    a = {tuple(r) for r in typo_near_dup_pairs(df, "name", "id").collect()}
    b = {tuple(r) for r in typo_near_dup_pairs(df.repartition(7), "name", "id").collect()}
    assert a == b and len(a) > 0  # item1~item2 etc.


def test_dedup_typo_method_with_cluster_policy(spark):
    from etl_core_spark.operators.base import get_operator

    df = spark.createDataFrame(
        [(1, "acme corp"), (2, "acme c0rp"), (3, "acme corps"),
         (4, "other llc")],
        "doc_id long, text string",
    )
    out = get_operator("dedup")(
        method="typo", survivor_policy="cluster", id_col="doc_id"
    ).apply({"in": df})["out"]
    # 1~2 (substitution), 1~3 (insertion) -> one cluster, min id 1
    assert {r["doc_id"] for r in out.collect()} == {1, 4}


def test_typo_pairs_random_corpora_vs_quadratic(spark):
    """Three seeded random short-string corpora (small alphabet →
    dense distance-1 collisions) against the exhaustive quadratic
    reference — the deletion-neighborhood completeness proof under
    adversarial-ish inputs, not just the hand-picked fixture."""
    import itertools
    import random

    from etl_core_spark.operators.dedup import typo_near_dup_pairs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    for seed in (7, 41, 1999):
        rng = random.Random(seed)
        names = [
            "".join(rng.choice("abc") for _ in range(rng.randint(1, 5)))
            for _ in range(60)
        ]
        df = spark.createDataFrame(
            [(i, n) for i, n in enumerate(names)], "id long, name string"
        )
        got = {(r["id_a"], r["id_b"], r["dist"])
               for r in typo_near_dup_pairs(df, "name", "id").collect()}
        want = {(a, b, lev(x, y)) for (a, x), (b, y)
                in itertools.combinations(list(enumerate(names)), 2)
                if lev(x, y) <= 1}
        assert got == want, f"seed {seed}"
        assert len(want) > 10  # the corpus is genuinely collision-dense


# ------------------------------------------- exact n-gram Jaccard (PPJoin)

def test_jaccard_pairs_complete_vs_quadratic(spark):
    """Prefix filtering is COMPLETE: the pair set equals the quadratic
    all-pairs comparison on a corpus with near-dups, disjoint docs,
    borderline pairs, and dirty rows (empty/NULL text)."""
    from etl_core_spark.functions import text as X
    from etl_core_spark.operators.dedup import jaccard_dedup_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (4, "completely different words in this document here"),
        (5, "the quick brown fox leaps over the lazy dog"),   # near-dup of 1/3
        (6, ""), (7, None), (8, "   "),                       # dirty
        (9, "short text"),                                    # < shingle_n tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.5, 0.9, 1.0):
        got = {
            (r["id_a"], r["id_b"])
            for r in jaccard_dedup_pairs(df, "text", "doc_id", t, 3).collect()
        }
        sh = df.select(
            "doc_id", F.array_distinct(X.shingles(F.col("text"), 3)).alias("sh")
        ).where(F.size("sh") > 0)
        a = sh.selectExpr("doc_id as id_a", "sh as sh_a")
        b = sh.selectExpr("doc_id as id_b", "sh as sh_b")
        want = {
            (r["id_a"], r["id_b"])
            for r in a.crossJoin(b)
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("j", X.jaccard(F.col("sh_a"), F.col("sh_b")))
            .where(F.col("j") >= t)
            .collect()
        }
        assert got == want, f"threshold={t}"


def test_jaccard_max_token_freq_size_filter_uses_full_sets(spark):
    """Under max_token_freq the size filter (and prefix length) must be
    computed on the FULL shingle set — the set the verify stage measures
    Jaccard on. Pre-fix, filtered sizes diverging past the ratio wrongly
    dropped a pair that shares a rare token and verifies on full sets."""
    from etl_core_spark.operators.dedup import jaccard_dedup_pairs

    hot = " ".join(f"hot{i}" for i in range(10))  # df=5 > cap once C1-3 added
    rows = [
        (1, f"{hot} zeta"),                       # A: 10 hot + 1 rare shared
        (2, f"{hot} zeta ua ub uc ud ue"),        # B: + 5 rare uniques
        (3, hot), (4, hot), (5, hot),             # boilerplate raising hot df
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # full sets: |A|=11, |B|=16, shared=11 -> J = 11/16 = 0.6875 >= 0.5.
    # filtered sets (cap 4): A={zeta} size 1, B size 6 -> old size
    # filter 1 >= 0.5*6 FAILS; full sizes 11 >= 8 pass.
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_dedup_pairs(
            df, "text", "doc_id", 0.5, shingle_n=1, max_token_freq=4
        ).collect()
    }
    assert (1, 2) in got
    # the documented trade still holds: pairs sharing ONLY hot tokens
    # (the boilerplate triplet) are forfeited under the cap
    assert (3, 4) not in got


def test_jaccard_positional_filter_prunes_candidates(spark, tables):
    """The positional filter must STRICTLY reduce the candidate set on
    the real documents table while the verified pair set (and the
    quadratic reference in test_jaccard_pairs_complete_vs_quadratic)
    stays identical — pruning only rows the overlap bound proves
    can't verify."""
    from etl_core_spark.operators.dedup import (
        jaccard_candidates,
        jaccard_dedup_pairs,
    )

    docs = tables["documents"].select("doc_id", "text")
    kw = dict(threshold=0.5, shingle_n=3)
    with_pos = jaccard_candidates(docs, "text", "doc_id", **kw).count()
    without = jaccard_candidates(
        docs, "text", "doc_id", positional=False, **kw
    ).count()
    assert with_pos < without, (with_pos, without)
    # completeness: the verified pairs equal the unfiltered candidates'
    # verified pairs (positional pruning never kills a true pair)
    verified = {
        (r["id_a"], r["id_b"])
        for r in jaccard_dedup_pairs(docs, "text", "doc_id", **kw).collect()
    }
    from pyspark.sql import functions as F
    from etl_core_spark.functions import text as X

    sh = docs.select(
        "doc_id", F.array_distinct(X.shingles(F.col("text"), 3)).alias("sh")
    ).where(F.size("sh") > 0)
    a = sh.selectExpr("doc_id as id_a", "sh as sh_a")
    b = sh.selectExpr("doc_id as id_b", "sh as sh_b")
    want = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("j", X.jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("j") >= 0.5)
        .collect()
    }
    assert verified == want


def test_jaccard_pairs_no_cartesian_plan(spark):
    from etl_core_spark.operators.dedup import jaccard_dedup_pairs

    df = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3} common words here") for i in range(30)],
        "doc_id long, text string",
    )
    plan = (
        jaccard_dedup_pairs(df, "text", "doc_id", 0.5, 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_dedup_operator_method(spark):
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.dedup import jaccard_dedup_pairs
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")],
        "doc_id long, text string",
    )
    out = get_operator("dedup")(
        method="ngram_jaccard", text_col="text", id_col="doc_id",
        threshold=0.8, shingle_n=2,
    ).apply({"in": df})["out"]
    assert {r["doc_id"] for r in out.collect()} == {1, 3}  # 2 deduped
    with _pytest.raises(Exception, match="threshold"):
        jaccard_dedup_pairs(df, "text", "doc_id", 1.5).collect()


def test_minhash_rejects_bad_band_config(spark):
    """bands > num_hashes would give every doc IDENTICAL band keys
    (rows-per-band 0 -> one O(n^2) bucket); non-dividing bands would
    silently drop trailing hashes. Both raise."""
    from etl_core_spark.operators.base import OperatorConfigError
    from etl_core_spark.operators.dedup import minhash_candidates

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for nh, b in ((16, 32), (16, 3), (16, 0)):
        with pytest.raises(OperatorConfigError, match="must divide"):
            minhash_candidates(df, "text", "doc_id", num_hashes=nh, bands=b)


def test_semdedup_min_id_drops_within_cluster_dups(spark):
    """Two near-identical vectors land in the same cell and the
    higher id drops; a distinct vector in another cell survives; a
    zero vector can never cross a positive threshold and survives."""
    from etl_core_spark.operators.base import get_operator

    rows = [
        # ids 0 and 1 seed the two centroids (lowest-id convention)
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.98, 0.05, 0.0, 0.0]),   # cell 0
        (3, [0.97, 0.06, 0.0, 0.0]),   # near-dup of 2, same cell
        (4, [0.6, 0.8, 0.0, 0.0]),     # cell 1 (cos 0.8 with its
                                        # centroid — below threshold)
        (5, [0.0, 0.0, 0.0, 0.0]),     # zero vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = get_operator("semdedup")(
        threshold=0.95, num_centroids=2
    ).apply({"in": df})["out"]
    # cell 0 holds the dup chain {0, 2, 3} (all pairwise cos > 0.95):
    # greedy drops the higher id of every pair -> 2 and 3 go, 0 stays;
    # 4 has no in-cell dup; the zero vector survives by contract
    got = {r["vec_id"] for r in out.collect()}
    assert got == {0, 1, 4, 5}


def test_semdedup_far_from_centroid_keeps_atypical(spark):
    """Paper policy: within a duplicate pair the member MORE similar
    to the centroid drops. Centroid seeding takes the 2 lowest ids
    (0 and 1); vec 0 IS centroid 0 (csim 1.0), vec 2 is a rotated
    near-dup of 0 — min_id would keep 0, far_from_centroid keeps 2."""
    from etl_core_spark.operators.similarity import semdedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.98, 0.199, 0.0, 0.0]),  # cos with 0 ~= 0.98 -> dup pair
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    keep_min = semdedup(df, threshold=0.9, num_centroids=2, keep="min_id")
    assert {r["vec_id"] for r in keep_min.collect()} == {0, 1}
    keep_far = semdedup(
        df, threshold=0.9, num_centroids=2, keep="far_from_centroid"
    )
    assert {r["vec_id"] for r in keep_far.collect()} == {1, 2}


def test_semdedup_config_validation():
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.base import OperatorConfigError
    from etl_core_spark.operators.similarity import semdedup

    with pytest.raises(OperatorConfigError, match="keep policy"):
        get_operator("semdedup")(keep="random")
    with pytest.raises(OperatorConfigError, match="threshold"):
        semdedup(None, threshold=0.0)


def test_semdedup_numpy_assignment_matches_expr(spark):
    """The BLAS assignment kernel must agree with the JVM fold path
    on real (non-tied) data: identical survivors on the sf0.001
    embeddings at k=16 either way."""
    from etl_core_spark.operators.base import OperatorConfigError
    from etl_core_spark.operators.similarity import semdedup
    from etl_core_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = semdedup(emb, 0.4, num_centroids=16, assign_method="expr")
    b = semdedup(emb, 0.4, num_centroids=16, assign_method="numpy")
    sa = {r["vec_id"] for r in a.select("vec_id").collect()}
    sb = {r["vec_id"] for r in b.select("vec_id").collect()}
    assert sa == sb
    with pytest.raises(OperatorConfigError, match="assign_method"):
        semdedup(emb, 0.4, assign_method="gpu")
