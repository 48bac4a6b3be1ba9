"""Scale soak: time the expensive dedup/CC/decontaminate families at
sf0.1 (1×) and at a ~K×-replicated copy (scripts/gen_scaled.py), and
check the per-row cost stays ≈linear (ratio ≤ 1.5× by default).

This is the empirical certification of the 100 TB shapes (VERDICT r6
task #6): banded/bucketed candidate generation, prefix/positional
filtering, large-star/small-star CC on the FORCED distributed path,
and the AQE-sized decontamination join must all scale with the data,
not with its square. A quadratic default path shows up here as a
per-row cost ratio near K, not 1.

Usage: python scripts/scale_soak.py [K] [--ratio 1.5]
Exits non-zero if any family exceeds the ratio bound.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.1"
# NOTE: the scaled copies are cached by PATH, not by K — point this
# env var at a fresh directory when changing the factor
SCALED = os.path.abspath(os.environ.get("SPARK_GRAFT_SCALED_DIR", "/tmp/spark_graft_scaled"))


def families(docs, spark):
    """name -> thunk building the family's DataFrame (lazily)."""
    import tempfile

    from pyspark.sql import functions as F

    from etl_core_spark.operators.dedup import (
        connected_components,
        incremental_near_dup_pairs,
        jaccard_dedup_pairs,
        minhash_dedup_pairs,
        minhash_index_update,
        simhash_near_dup_pairs,
        winnow_near_dup_pairs,
    )
    from etl_core_spark.operators.text_analysis import (
        decontaminate,
        line_dedup,
        lm_score,
    )

    bench = docs.limit(200).select("text")

    def incremental_index():
        # index the WHOLE corpus (the part that scales), then query a
        # FIXED-size batch against it — per-row cost is the index
        # side's build + scan, the claim under test
        idx = tempfile.mkdtemp(prefix="soak_mh_idx_") + "/idx"
        minhash_index_update(docs, "text", "doc_id", idx, num_hashes=8, bands=4)
        batch = docs.limit(500).select(
            (F.col("doc_id") + 900_000_000).alias("doc_id"), "text"
        )
        return incremental_near_dup_pairs(batch, idx, threshold=0.5)

    def cc_distributed():
        pairs = minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.5, num_hashes=16, bands=8
        )
        return connected_components(pairs, driver_max_edges=0)

    fams = {
        "minhash_pairs": lambda: minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.5, num_hashes=16, bands=8
        ),
        "simhash_pairs": lambda: simhash_near_dup_pairs(
            docs, "text", "doc_id", max_hamming=6
        ),
        "winnow_pairs": lambda: winnow_near_dup_pairs(docs, "text", "doc_id"),
        "ppjoin_pairs": lambda: jaccard_dedup_pairs(
            docs, "text", "doc_id", threshold=0.5
        ),
        "decontaminate": lambda: decontaminate(docs, bench),
        "cc_distributed": cc_distributed,
        "incremental_index": incremental_index,
        # r7 corpus-statistics ops: word-granularity line dedup on the
        # broadcast-hot-set narrow path, and the self-trained bigram LM
        # (vocabulary grows with the scaled corpus's disjoint token
        # suffixes, so the count joins scale too — the claim under test)
        "line_dedup": lambda: line_dedup(
            docs, delimiter=" ", join_sep=" ", max_doc_frac=0.8
        ),
        "lm_score": lambda: lm_score(docs),
    }
    if "skew_key" in docs.columns:
        skewed = docs
    else:
        # base side: derive the identical skew shape on the fly so the
        # family gets a 1x-vs-10x ratio like every other family
        skewed = docs.withColumn(
            "skew_key",
            F.when(F.xxhash64("doc_id") % 2 == 0, F.lit(0)).otherwise(
                F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(1000))
            ),
        )
    fams["groupby_skew"] = lambda: skewed.groupBy("skew_key").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.length("text")).alias("avg_len"),
    )
    # r8 ops: the deterministic epoch shuffle (bucketed ranks +
    # broadcast offsets — the single-reducer global sort it avoids
    # would fail this ratio immediately), and the skew-salted join
    # against a 1000-row dim on the deliberately hot key
    from etl_core_spark.operators.sampling import shuffle_rows
    from etl_core_spark.operators.skew import salted_join

    fams["shuffle_rows"] = lambda: shuffle_rows(
        skewed.select("doc_id"), "doc_id", n_buckets=256
    )
    dim_df = spark.range(1000).select(
        F.col("id").alias("skew_key"),
        F.concat(F.lit("bucket_"), F.col("id")).alias("label"),
    )
    fams["salted_join_skew"] = lambda: salted_join(
        skewed.select("skew_key", "doc_id"), dim_df, ["skew_key"],
        salt_factor=8,
    )
    # r8 session-4 ops: BM25 (explode bounded to query-term
    # occurrences + broadcast stats), Misra-Gries heavy hitters
    # (per-partition bounded counters + exact candidate recount),
    # and lazy-chain undirected PageRank over a doc-derived graph
    # whose node/edge count scales with the corpus (10 fixed rounds
    # of keyed join + aggregate — the linearity claim under test)
    from etl_core_spark.operators.graph import pagerank
    from etl_core_spark.operators.sketch import approx_topk
    from etl_core_spark.operators.text_analysis import bm25_score
    from etl_core_spark.functions.text import tokens

    fams["bm25"] = lambda: bm25_score(docs, ["hash", "join", "vector"])
    fams["approx_topk"] = lambda: approx_topk(
        docs.select(
            F.explode(tokens(F.trim(F.lower(F.col("text"))))).alias("tok")
        ),
        "tok",
        k=50,
        capacity=4096,
    )
    graph = docs.select(
        (F.col("doc_id") + 2_000_000).alias("src"),
        F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(1_000_000)).alias(
            "dst"
        ),
    )
    fams["pagerank"] = lambda: pagerank(graph, undirected=True, iterations=10)
    # r14: the three remaining top-10 cost centers that had no soak
    # coverage — directed pagerank's eager dangling loop, directed
    # TrustRank (ppr), and modularity's two membership joins — on the
    # same doc-derived graph. Directed modes have real dangling mass
    # (hashed dst space), so the per-round dangling aggregate is
    # exercised, not skipped.
    fams["pagerank_directed"] = lambda: pagerank(
        graph, undirected=False, iterations=3
    )
    from etl_core_spark.operators.graph import (
        modularity as modularity_op,
        personalized_pagerank,
    )

    ppr_seeds = spark.range(1000).select(F.col("id").alias("node"))
    fams["ppr_directed"] = lambda: personalized_pagerank(
        graph, ppr_seeds, seed_col="node", directed=True, iterations=3
    )
    mod_assign = graph.select(
        F.col("src").alias("node"),
        F.pmod(F.col("src"), F.lit(97)).alias("community"),
    ).union(
        graph.select(
            F.col("dst").alias("node"),
            F.pmod(F.col("dst"), F.lit(97)).alias("community"),
        )
    ).distinct()
    fams["modularity"] = lambda: modularity_op(graph, mod_assign)
    # r9: the remaining graph family on the same doc-derived graph —
    # LPA's lazy chained plan (one keyed join + one struct-min argmax
    # aggregate per round) and triangle counting's compact-forward
    # orientation (wedge fan-out bounded by oriented out-degree ≤
    # O(sqrt E)); both must scale with E, not E^2
    from etl_core_spark.operators.graph import (
        label_propagation,
        triangle_count,
    )

    fams["label_propagation"] = lambda: label_propagation(
        graph, iterations=5
    )
    fams["triangle_count"] = lambda: triangle_count(graph)
    # r9: BFS frontier relaxation from a fixed seed set — the
    # reached set (and so the per-round frontier joins) scales with
    # the graph; per-row cost must stay flat
    from etl_core_spark.operators.graph import bfs_distances

    # 1000 candidate seed ids in the hashed dst space: enough that
    # dozens exist in the graph at base scale (presence is hash luck)
    seeds = spark.range(1000).select(F.col("id").alias("node"))
    fams["bfs_distances"] = lambda: bfs_distances(
        graph, seeds, max_hops=3
    )
    # r10 session 2: k-core peel on the same graph — per round one
    # degree aggregate + two semi-joins over a monotonically
    # shrinking edge set; 3 rounds pinned
    from etl_core_spark.operators.graph import k_core

    fams["k_core"] = lambda: k_core(graph, k=2, max_rounds=3)
    # r9 selection family: DSIR importance weights (two bounded
    # bucket aggregates + a broadcast B-row ratio join — the token
    # stream is the only corpus-sized relation) against a FIXED-size
    # target slice, so the scaling term is the raw side alone
    from etl_core_spark.operators.selection import dsir_weights

    target = docs.orderBy("doc_id").limit(200).select("doc_id", "text")
    fams["dsir_weights"] = lambda: dsir_weights(
        docs.select("doc_id", "text"), target
    )
    # r10: cross-document exact-substring dedup — the gram table is
    # one narrow posexplode, duplicated-gram detection two map-side
    # aggregates, span coverage a per-document window; there is no
    # doc-pair join anywhere, so per-row cost must stay flat even as
    # shared boilerplate multiplies with the replicated corpus
    from etl_core_spark.operators.substring import substring_dedup

    fams["substring_dedup"] = lambda: substring_dedup(
        docs.select("doc_id", "text"), span_tokens=8
    )
    # r10: asymmetric containment — winnow-shaped xxhash64 shingle
    # equi-join with the doc-frequency fan-out cap; the replicated
    # corpus multiplies hot shingles, exactly what the cap bounds
    from etl_core_spark.operators.dedup import containment_pairs

    fams["containment_pairs"] = lambda: containment_pairs(
        docs, "text", "doc_id", threshold=0.3, max_shingle_freq=100
    )
    # r10 session 2: CDC apply (FIXED-size change batch against the
    # scaling snapshot — one batch-side window + ONE keyed full-outer
    # join), Bloom membership (the corpus side NEVER shuffles: k
    # broadcast position joins against a bounded bit table), and the
    # z-order layout key (one min/max aggregate + a narrow shift/mask
    # codegen projection). All three must be per-row flat.
    from etl_core_spark.operators.compare import cdc_apply
    from etl_core_spark.operators.layout import zorder_key
    from etl_core_spark.operators.sketch import bloom_membership

    snap = docs.select("doc_id", "lang", "n_chars")
    chg = docs.orderBy("doc_id").limit(500).select(
        "doc_id",
        F.lit(1).cast("long").alias("seq"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.lit("xx").alias("lang"),
        (F.col("n_chars") + 1).alias("n_chars"),
    )
    fams["cdc_apply"] = lambda: cdc_apply(snap, chg, ["doc_id"])
    fams["bloom_membership"] = lambda: bloom_membership(
        docs, bench, key_col="text", m_bits=1 << 20, k=4
    )
    layout_in = docs.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("x"),
        F.pmod(F.xxhash64("doc_id"), F.lit(1000)).cast("double").alias("y"),
    )
    fams["zorder_key"] = lambda: zorder_key(layout_in, ["x", "y"])
    # r10 session 3: Fellegi-Sunter linkage — blocked on fixed-width
    # doc_id ranges (replica ids are salted-unique, so block COUNT
    # scales with the data while block SIZE stays ~50): within-block
    # pairs, and so the candidate set, grow linearly. This mirrors the
    # real-world rule the operator documents: blocking granularity
    # must scale with the corpus, the max_block_size guard is what
    # catches a blocking key that didn't.
    from etl_core_spark.operators.linkage import record_linkage

    link_in = docs.select(
        "doc_id",
        F.floor(F.col("doc_id") / F.lit(50)).alias("blk"),
        "lang",
        F.col("n_chars").cast("double").alias("nc"),
    )
    fams["record_linkage"] = lambda: record_linkage(
        link_in,
        "doc_id",
        ["blk"],
        [
            {"col": "lang", "kind": "equal", "m": 0.9, "u": 0.2},
            {"col": "nc", "kind": "abs_diff", "threshold": 50.0,
             "m": 0.8, "u": 0.1},
        ],
        lower=-10.0,
        upper=2.0,
        max_block_size=None,
    )
    # r10 session 3: Holt-Winters per fixed-width key ranges — the
    # sequential per-series fold is O(series length); keys scale with
    # the data, series stay ~30 rows, so per-row cost must be flat
    from etl_core_spark.operators.timeseries import holt_winters, theil_sen

    hw_in = docs.select(
        F.floor(F.col("doc_id") / F.lit(30)).alias("k"),
        "doc_id",
        F.col("n_chars").cast("double").alias("v"),
    )
    fams["holt_winters"] = lambda: holt_winters(
        hw_in, ["k"], ["doc_id"], "v", period=4
    )
    # r10 session 3: Theil-Sen per fixed-width key ranges — pairwise
    # slopes are quadratic PER SERIES but series length is pinned at
    # ~30 by the key width, so the pair table grows linearly
    fams["theil_sen"] = lambda: theil_sen(
        hw_in, ["k"], "doc_id", "v", max_points=None
    )
    # r10 session 3: Benford conformance — one map-side-combinable
    # conditional-count aggregate per lang; trivially linear, included
    # so the data-quality family has a measured scale row
    from etl_core_spark.operators.profile import benford_deviation

    fams["benford_deviation"] = lambda: benford_deviation(
        docs.select("lang", F.col("n_chars").cast("double").alias("v")),
        "v",
        ["lang"],
    )
    # r10 session 3: systematic sampling — exercises the distributed
    # global rank (range shuffle + partition-local row_number +
    # #partitions-sized offset broadcast) at scale; per-row cost must
    # stay flat as the sort and the modulo filter both scale linearly
    from etl_core_spark.operators.sampling import systematic_sample

    fams["systematic_sample"] = lambda: systematic_sample(
        docs.select("doc_id", "lang", "n_chars"),
        ["n_chars", "doc_id"],
        step=100,
    )
    # r10 session 3: Kaplan-Meier — exercises the multi-value
    # _sequential_fold stream plus the per-key distinct-duration
    # window; series length pinned by the key width, so per-row cost
    # must stay flat
    from etl_core_spark.operators.timeseries import kaplan_meier

    km_in = docs.select(
        F.floor(F.col("doc_id") / F.lit(30)).alias("k"),
        F.col("n_chars").cast("double").alias("d"),
        (F.col("doc_id") % 3 != 0).alias("e"),
    )
    fams["kaplan_meier"] = lambda: kaplan_meier(km_in, ["k"], "d", "e")
    # r10 session 3: classical decomposition — per-key integer window
    # frames + an m-column phase pivot; series length pinned by the
    # key width, per-row cost must stay flat
    from etl_core_spark.operators.timeseries import seasonal_decompose

    fams["seasonal_decompose"] = lambda: seasonal_decompose(
        hw_in, ["k"], ["doc_id"], "v", period=4
    )
    # r10 session 3: exact-decimal OLS — one six-sum aggregate
    from etl_core_spark.operators.timeseries import ols_trend

    fams["ols_trend"] = lambda: ols_trend(
        docs.select(
            F.floor(F.col("doc_id") / F.lit(30)).alias("k"),
            F.col("doc_id").alias("t"),
            F.col("n_chars").cast("double").alias("v"),
        ),
        ["k"],
        "t",
        "v",
    )
    # r11: Louvain parity half-sweeps on the doc-derived graph — per
    # round one edges×assignment equi-join + two map-side aggregates
    # + an argmax, all scaling with E; the per-round lazy
    # localCheckpoint keeps plan analysis flat too
    from etl_core_spark.operators.graph import louvain

    fams["louvain"] = lambda: louvain(graph, iterations=2)
    # r11: grid-celled DBSCAN — the operator's cost model is
    # O(n · local density), so the soak PINS density by scaling the
    # coordinate space with the corpus (y modulus = row count):
    # replicating points into a FIXED space would densify cells and
    # grow pairs ~K per row by the algorithm's own definition — that
    # densification is exactly what the degenerate-cell guard
    # exists to catch in production
    from etl_core_spark.operators.density import dbscan

    n_docs = docs.count()
    db_in = docs.select(
        "doc_id",
        F.pmod(F.xxhash64("doc_id", F.lit(3)), F.lit(2000)).alias("x"),
        F.pmod(F.xxhash64("doc_id", F.lit(5)), F.lit(max(n_docs, 1))).alias(
            "y"
        ),
    )
    fams["dbscan"] = lambda: dbscan(
        db_in, "x", "y", eps=50, min_pts=4, id_col="doc_id",
        max_cell_size=100000,
    )
    # r11 session 2: link prediction — wedge fan-out is bounded by
    # max_degree, and the dst-bucket space scales with the corpus
    # (the dbscan density-pinning move) so the degree DISTRIBUTION
    # stays constant under replication: cost must track E, not E^2
    from etl_core_spark.operators.graph import link_predict

    lp_graph = docs.select(
        (F.col("doc_id") + 2_000_000).alias("src"),
        F.pmod(
            F.xxhash64("doc_id", F.lit(13)), F.lit(max(n_docs // 2, 1))
        ).alias("dst"),
    )
    fams["link_predict"] = lambda: link_predict(
        lp_graph, max_degree=50, min_common=2
    )
    # r11 session 2: ACF — one key-partitioned window carrying the
    # lead columns + one moment aggregate; series length pinned at 30
    # (keys scale with the corpus), so per-row cost must stay flat
    from etl_core_spark.operators.timeseries import acf as acf_op

    fams["acf"] = lambda: acf_op(
        docs.select(
            F.floor(F.col("doc_id") / F.lit(30)).alias("k"),
            F.col("doc_id").alias("t"),
            F.col("n_chars").cast("double").alias("v"),
        ),
        ["k"],
        ["t"],
        "v",
        max_lag=4,
    )
    # r11 session 2: association rules — basket size pinned at 10 and
    # the item space scales with the corpus, so both the A-priori
    # aggregates and the within-basket pair join stay linear
    from etl_core_spark.operators.assoc import assoc_rules

    ar_in = docs.select(
        F.floor(F.col("doc_id") / F.lit(10)).alias("b"),
        F.pmod(
            F.xxhash64("doc_id", F.lit(17)), F.lit(max(n_docs // 10, 1))
        ).alias("i"),
    )
    fams["assoc_rules"] = lambda: assoc_rules(
        ar_in, "b", "i", min_support_count=2
    )
    # r11 session 2: CCF shares acf's shape (one key window + one
    # moment aggregate) with 2L lead columns; series length pinned
    from etl_core_spark.operators.timeseries import ccf as ccf_op

    fams["ccf"] = lambda: ccf_op(
        docs.select(
            F.floor(F.col("doc_id") / F.lit(30)).alias("k"),
            F.col("doc_id").alias("t"),
            F.col("n_chars").cast("double").alias("x"),
            F.length("text").cast("double").alias("y"),
        ),
        ["k"],
        ["t"],
        "x",
        "y",
        max_lag=3,
    )
    # r11 session 2: negative sampling — bucket count scales with the
    # corpus so the per-bucket rank windows stay bounded (the
    # documented lever); whole sampler is two narrow maps + one
    # (bucket, rank) equi-join, n·k join rows
    from etl_core_spark.operators.sampling import negative_sample

    fams["negative_sample"] = lambda: negative_sample(
        docs, "doc_id", k=3, buckets=max(16, n_docs // 1000)
    )
    # r11 session 2: hashing-trick featurization — one token explode
    # + one (id, idx) aggregate, both linear in corpus token count
    from etl_core_spark.operators.text_analysis import feature_hash

    fams["feature_hash"] = lambda: feature_hash(
        docs, "doc_id", "text", dim=512
    )
    # r12: generic hamming fingerprint pairing — the simhash banding
    # on a PRECOMPUTED 64-bit fingerprint column. The corpus-scaled
    # low bits leave the HIGH bands constant-zero for every doc —
    # deliberately the mass-identical-band pathology — so the family
    # runs with the production lever for it (max_band_freq drops
    # hotter-than-cap band keys); pairs then come from same-bucket
    # collisions, which are pinned linear by the corpus-sized modulus
    from etl_core_spark.operators.dedup import hamming_near_dup_pairs

    fp_in = docs.select(
        "doc_id",
        F.lpad(
            F.conv(
                F.pmod(
                    F.xxhash64("doc_id", F.lit(23)),
                    F.lit(max(n_docs * 4, 16)),
                ).cast("string"),
                10,
                2,
            ),
            64,
            "0",
        ).alias("fp"),
    )
    fams["hamming_pairs"] = lambda: hamming_near_dup_pairs(
        fp_in, "fp", "doc_id", max_hamming=4, max_band_freq=64
    )
    # r12: multi-level Louvain — the louvain shape per level plus ONE
    # shrinking coarsen join and the two score aggregates; cost must
    # track E like the one-level family above
    from etl_core_spark.operators.graph import louvain_multilevel

    fams["louvain_multilevel"] = lambda: louvain_multilevel(
        graph, iterations=2, levels=2
    )
    return fams


def emb_families(emb):
    """Embedding-table families (scaled via build_scaled_embeddings)."""
    import math

    from etl_core_spark.operators.similarity import knn_graph, semdedup

    # num_centroids scales with the corpus (the paper's k ∝ n rule):
    # cells stay ~constant-sized, so the within-cell quadratic term is
    # bounded and per-row cost stays flat
    n = emb.count()
    k_cells = max(8, n // 4000)
    # kNN-graph scale path: LSH hyperplane buckets. Planes scale
    # log2 with the corpus so expected bucket occupancy n/2^planes
    # stays ~constant and the per-bucket quadratic term is bounded —
    # the same k ∝ n discipline as semdedup's cells.
    planes = max(6, int(math.log2(max(n, 2))) - 3)
    return {
        "semdedup": lambda: semdedup(
            emb, threshold=0.4, num_centroids=k_cells
        ),
        "knn_graph_lsh": lambda: knn_graph(
            emb, k=10, method="lsh", dim=64, num_planes=planes
        ),
        # r9: PQ ANN — codebooks train on a BOUNDED sample, the
        # corpus streams through one encode+ADC mapInPandas with
        # per-batch candidate cuts; per-row cost must stay flat
        "pq_topk": lambda: _pq(emb),
        # r10: k-means assignment — k scales with the corpus (the
        # semdedup k ∝ n rule) so the broadcast argmax term stays
        # bounded per row
        "kmeans_cluster": lambda: _kmeans(emb, k_cells),
    }


def _kmeans(emb, k):
    from etl_core_spark.operators.similarity import kmeans_cluster

    return kmeans_cluster(emb, k=k, iterations=1)


def _pq(emb):
    from pyspark.sql import functions as F

    from etl_core_spark.operators.similarity import pq_topk

    q = emb.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(emb, q, k=10, m=8, k_codes=64, kmeans_iters=2)


def time_family(fn) -> float:
    from etl_core_spark.session import release_intermediates

    start = time.monotonic()
    fn().write.format("noop").mode("overwrite").save()
    elapsed = time.monotonic() - start
    release_intermediates()
    return elapsed


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    bound = 1.5
    if "--ratio" in sys.argv:
        bound = float(sys.argv[sys.argv.index("--ratio") + 1])
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))

    from etl_core_spark.session import get_spark
    from etl_core_spark.tables import load_table

    # Spark's Python workers import etl_core_spark from the working directory
    os.chdir(ROOT)
    spark = get_spark(app_name="scale_soak")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up

    scaled_path = os.path.join(SCALED, "documents.parquet")
    if not os.path.exists(scaled_path):
        from scripts.gen_scaled import build_scaled_documents

        build_scaled_documents(spark, SF_DIR, k).repartition(32).write.mode(
            "overwrite"
        ).parquet(scaled_path)

    base = load_table(spark, SF_DIR, "documents")
    scaled = spark.read.parquet(scaled_path)
    n_base, n_scaled = base.count(), scaled.count()
    print(f"base rows={n_base}, scaled rows={n_scaled} ({n_scaled / n_base:.1f}x)")

    scaled_emb_path = os.path.join(SCALED, "embeddings.parquet")
    if not os.path.exists(scaled_emb_path):
        from scripts.gen_scaled import build_scaled_embeddings

        build_scaled_embeddings(spark, SF_DIR, k).repartition(32).write.mode(
            "overwrite"
        ).parquet(scaled_emb_path)
    emb_base = load_table(spark, SF_DIR, "embeddings")
    emb_scaled = spark.read.parquet(scaled_emb_path)

    results = {}
    failures = []
    base_fams, scaled_fams = families(base, spark), families(scaled, spark)
    base_fams.update(emb_families(emb_base))
    scaled_fams.update(emb_families(emb_scaled))
    if only is not None:
        unknown = only - set(scaled_fams)
        if unknown:
            raise SystemExit(f"--only names unknown families: {sorted(unknown)}")
        scaled_fams = {n: f for n, f in scaled_fams.items() if n in only}
    for name in scaled_fams:
        if name in base_fams:
            t1 = min(time_family(base_fams[name]) for _ in range(2))
        else:
            t1 = None
        # min-of-2 on the scaled side too: this host's load spikes are
        # routine and a single-shot 5x outlier fails the ratio gate
        # spuriously (observed on decontaminate: 25.9 s one-shot vs
        # 3.8-4.1 s on every rerun)
        tk = min(time_family(scaled_fams[name]) for _ in range(2))
        # `is not None`, never truthiness: a 0.0 base timing (coarse
        # clock) must not silently skip the linearity assertion
        if t1 is not None:
            per_row_ratio = (tk / n_scaled) / (max(t1, 1e-3) / n_base)
            ok = per_row_ratio <= bound
            if not ok:
                failures.append(name)
        else:
            per_row_ratio, ok = None, True
        results[name] = {
            "t_base_s": round(t1, 3) if t1 is not None else None,
            "t_scaled_s": round(tk, 3),
            "per_row_cost_ratio": (
                round(per_row_ratio, 3) if per_row_ratio is not None else None
            ),
            "linear_ok": ok,
        }
        print(f"{name}: base={None if t1 is None else round(t1, 2)}s "
              f"scaled={tk:.2f}s per-row ratio="
              f"{None if per_row_ratio is None else round(per_row_ratio, 2)} "
              f"{'OK' if ok else 'EXCEEDS ' + str(bound)}")

    print(json.dumps({"k": k, "bound": bound, "families": results}))
    if failures:
        print(f"FAILED: {failures}", file=sys.stderr)
        sys.exit(1)
    print("ALL FAMILIES ~LINEAR")


if __name__ == "__main__":
    main()
