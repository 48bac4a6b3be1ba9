"""End-to-end runs of every example job config — the analog of the
reference's combinations-jobs suite (JSON configs with __IN__/__OUT__
placeholders executed through the real runner, assertions on output
files)."""

import json
from pathlib import Path

import pytest

from etl_core_spark.plans import JobRunner, build_job

EXAMPLES = Path(__file__).resolve().parent.parent / "examples"


def run_example(spark, tmp_path, name, write_inputs):
    in_dir = tmp_path / "in"
    out_dir = tmp_path / "out"
    in_dir.mkdir()
    out_dir.mkdir()
    write_inputs(in_dir)
    raw = (EXAMPLES / name).read_text()
    config = json.loads(
        raw.replace("__IN__", str(in_dir)).replace("__OUT__", str(out_dir))
    )
    result = JobRunner(build_job(spark, config)).run()
    assert result.status == "SUCCESS", result.error
    return out_dir, result


def test_csv_filter_csv(spark, tmp_path):
    def inputs(d):
        (d / "orders.csv").write_text(
            "id,status,note\n"
            "1,open,ok\n"
            "2,closed,ok\n"
            "3,open,CANCELLED by user\n"
            "4,open,\n"
        )

    out, result = run_example(spark, tmp_path, "csv_filter_csv.json", inputs)
    back = spark.read.option("header", True).csv(str(out / "pass"))
    # open and not cancel-note; row 4 has null note → NOT(contains)=True
    assert {r["id"] for r in back.collect()} == {"1", "4"}
    fail = spark.read.option("header", True).csv(str(out / "fail"))
    assert {r["id"] for r in fail.collect()} == {"2", "3"}
    assert result.metrics["sink_pass"]["lines_received"] == 2


def test_csv_join_csv(spark, tmp_path):
    def inputs(d):
        (d / "left.csv").write_text("id,name\n1,a\n2,b\n3,c\n")
        (d / "right.csv").write_text("id,city\n2,Berlin\n3,Paris\n4,Rome\n")

    out, _ = run_example(spark, tmp_path, "csv_join_csv.json", inputs)
    back = spark.read.option("header", True).csv(str(out / "joined"))
    rows = {(r["id"], r["name"], r["city"]) for r in back.collect()}
    assert rows == {("2", "b", "Berlin"), ("3", "c", "Paris")}


def test_json_aggregation_json(spark, tmp_path):
    def inputs(d):
        lines = [
            {"kind": "buy", "amount": 10.0, "user": "u1"},
            {"kind": "buy", "amount": 5.0, "user": "u2"},
            {"kind": "sell", "amount": 7.5, "user": "u1"},
        ]
        (d / "events.ndjson").write_text("\n".join(json.dumps(x) for x in lines))

    out, _ = run_example(spark, tmp_path, "json_aggregation_json.json", inputs)
    back = {r["kind"]: r for r in spark.read.json(str(out / "agg")).collect()}
    assert back["buy"]["n"] == 2 and back["buy"]["total"] == 15.0
    assert back["buy"]["n_users"] == 2
    assert back["sell"]["avg_amount"] == 7.5


def test_csv_typeconv_split_json(spark, tmp_path):
    def inputs(d):
        (d / "raw.csv").write_text(
            "id,qty,active\na,3,yes\nb,x,no\nc,4.0,maybe\n,5,true\n"
        )

    out, _ = run_example(spark, tmp_path, "csv_typeconv_split_json.json", inputs)
    valid = spark.read.json(str(out / "valid"))
    # row with null id is invalid; others valid (qty/bool nulls allowed)
    assert valid.count() == 3
    byid = {r["id"]: r for r in valid.collect()}
    assert byid["a"]["qty"] == 3 and byid["a"]["active"] is True
    assert byid["b"]["qty"] is None and byid["b"]["active"] is False
    assert byid["c"]["qty"] == 4 and byid["c"]["active"] is None
    copy = spark.read.json(str(out / "copy"))
    assert copy.count() == 4


def test_parquet_dedup_parquet(spark, tmp_path, tables):
    def inputs(d):
        tables["documents"].write.parquet(str(d / "documents.parquet"))

    out, _ = run_example(spark, tmp_path, "parquet_dedup_parquet.json", inputs)
    back = spark.read.parquet(str(out / "deduped"))
    n_in = tables["documents"].count()
    assert 0 < back.count() <= n_in


@pytest.mark.parametrize("name", [p.name for p in EXAMPLES.glob("*.json")])
def test_all_examples_parse(name):
    json.loads((EXAMPLES / name).read_text())


def test_parquet_training_mix_parquet(spark, tmp_path):
    """The full training-data shape through the runner: clean_text →
    cluster-policy near-dedup → per-lang rebalance → train/val split,
    with per-component metrics observed along the way."""

    def inputs(d):
        rows = []
        # 3 exact-ish near-dup docs (one cluster), plus distinct docs
        base = "the quick brown fox jumps over the lazy dog again and again"
        rows += [(i, base + f" v{i}", "en") for i in range(3)]
        rows += [(10 + i, f"unique document number {i} about topic {i} with words", "en")
                 for i in range(6)]
        rows += [(50 + i, f"ein ganz anderes deutsches dokument nummer {i}", "de")
                 for i in range(4)]
        spark.createDataFrame(rows, "doc_id long, text string, lang string") \
            .coalesce(1).write.parquet(str(d / "documents.parquet"))

    out, result = run_example(
        spark, tmp_path, "parquet_training_mix_parquet.json", inputs
    )
    train = spark.read.parquet(str(out / "train"))
    val = spark.read.parquet(str(out / "val"))
    got_ids = {r["doc_id"] for r in train.collect()} | {r["doc_id"] for r in val.collect()}
    # near-dup clusters {0,1,2} and {50..53} each collapsed to min id
    assert not ({1, 2} & got_ids) and not ({51, 52, 53} & got_ids)
    # the German survivor rides through the en-only downsample
    # (default_rate=1.0), while en survivors are hash-halved
    assert 50 in got_ids
    assert got_ids <= {0, 10, 11, 12, 13, 14, 15, 50}
    assert 1 <= len(got_ids - {50}) < 7  # en rate 0.5: some, not all
    # split is a partition of the sampled set
    assert len(got_ids) == train.count() + val.count()
    m = result.metrics
    assert m["near_dedup"]["lines_received"] == 13
    assert m["near_dedup"]["lines_forwarded"] == m["rebalance"]["lines_received"]


def test_parquet_profile_compact(spark, tmp_path):
    """Data-quality + layout maintenance through the runner: one scan
    fans out to a melted profile report (JSON) and a z-ordered,
    compacted copy of the table."""

    def inputs(d):
        rows = [
            (i, f"document {i} body text" if i % 5 else None, (i * 37) % 400)
            for i in range(200)
        ]
        spark.createDataFrame(rows, "doc_id long, text string, n_chars long") \
            .repartition(16).write.parquet(str(d / "documents.parquet"))

    out, result = run_example(spark, tmp_path, "parquet_profile_compact.json", inputs)

    prof = {
        json.loads(line)["column"]: json.loads(line)
        for p in (out / "profile_report").glob("*.json")
        for line in p.read_text().splitlines() if line.strip()
    }
    assert set(prof) == {"doc_id", "text", "n_chars"}
    assert prof["doc_id"]["n_rows"] == 200
    assert prof["text"]["n_nulls"] == 40
    assert prof["n_chars"]["min_num"] == 0.0

    files = [p for p in (out / "compacted").iterdir() if p.name.endswith(".parquet")]
    assert len(files) == 2  # num_files pinned past the 16-task input
    back = spark.read.parquet(str(out / "compacted"))
    assert back.count() == 200 and "__z" not in back.columns
    m = result.metrics
    assert m["stats"]["lines_forwarded"] == 3  # melted: one row per column
    assert m["compact"]["lines_received"] == 200


def test_parquet_chunk_pack(spark, tmp_path):
    """Training-prep through the runner: documents → overlapping
    token chunks → deterministic sequence packing → parquet
    partitioned by shard."""

    def inputs(d):
        rows = [
            (i, " ".join(f"w{i}_{j}" for j in range(5 + (i % 20))))
            for i in range(40)
        ] + [(99, ""), (100, None)]
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.parquet(str(d / "documents.parquet"))

    out, result = run_example(spark, tmp_path, "parquet_chunk_pack.json", inputs)
    packed = spark.read.parquet(str(out / "packed"))
    rows = packed.collect()
    assert packed.count() > 40  # multi-chunk docs fanned out
    assert set(r["shard"] for r in rows) <= {0, 1, 2, 3}
    # every chunk keyed uniquely; offsets within capacity
    keys = [r["chunk_id"] for r in rows]
    assert len(keys) == len(set(keys))
    assert all(0 <= r["offset_in_bin"] < 64 for r in rows)
    # empty/null docs produced no chunks
    assert not any(k.startswith(("99:", "100:")) for k in keys)
    m = result.metrics
    assert m["chunker"]["lines_received"] == 42
    assert m["packer"]["lines_received"] == m["chunker"]["lines_forwarded"]


def test_parquet_decontaminate_upsert(spark, tmp_path, tables):
    """The decontamination pipeline: docs sharing n-grams with the
    benchmark slice are filtered out, the clean corpus upserts into a
    partitioned table — run TWICE to exercise the merge path (second
    run replaces, never duplicates)."""
    bench = tables["documents"].where("doc_id % 25 = 0").select("text")

    def inputs(d):
        tables["documents"].write.parquet(str(d / "documents.parquet"))
        bench.write.parquet(str(d / "benchmark.parquet"))

    out, res = run_example(
        spark, tmp_path, "parquet_decontaminate_upsert.json", inputs
    )
    back = spark.read.parquet(str(out / "clean_corpus"))
    n1 = back.count()
    assert 0 < n1 < tables["documents"].count()  # something was flagged
    # the sink's pass-through metrics still flow
    assert res.metrics["sink"]["lines_received"] == n1
    # idempotent re-run: same keys replace, no duplicates
    raw = (EXAMPLES / "parquet_decontaminate_upsert.json").read_text()
    config = json.loads(
        raw.replace("__IN__", str(tmp_path / "in")).replace("__OUT__", str(out))
    )
    res2 = JobRunner(build_job(spark, config)).run()
    assert res2.status == "SUCCESS"
    assert spark.read.parquet(str(out / "clean_corpus")).count() == n1


def test_parquet_incremental_dedup(spark, tmp_path):
    """The crawl-increment pipeline: batch docs near-dup'ing the
    pre-seeded index are dropped, survivors append their signatures
    to the index (sink pass-through chaining) and land in the output
    table — and a SECOND batch sees the first batch's survivors
    through the index."""
    from etl_core_spark.operators.dedup import minhash_index_update
    from etl_core_spark.session import release_intermediates

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (2, "an indexed document about database engines")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(101, "the quick brown fox jumps over the lazy dog"),
         (103, "a fresh survivor document with no corpus match")],
        "doc_id long, text string",
    )

    def inputs(d):
        minhash_index_update(
            corpus, "text", "doc_id", str(d / "index"), num_hashes=8, bands=4
        )
        batch.write.parquet(str(d / "batch.parquet"))

    out, res = run_example(spark, tmp_path, "parquet_incremental_dedup.json", inputs)
    release_intermediates()
    back = spark.read.parquet(str(out / "survivors"))
    assert {r["doc_id"] for r in back.collect()} == {103}
    assert res.metrics["out_sink"]["lines_received"] == 1
    # the index grew by the survivor: a re-sent 103 now drops too
    batch2 = spark.createDataFrame(
        [(201, "a fresh survivor document with no corpus match")],
        "doc_id long, text string",
    )
    batch2.write.mode("overwrite").parquet(str(tmp_path / "in" / "batch.parquet"))
    raw = (EXAMPLES / "parquet_incremental_dedup.json").read_text()
    config = json.loads(
        raw.replace("__IN__", str(tmp_path / "in")).replace("__OUT__", str(out))
    )
    res2 = JobRunner(build_job(spark, config)).run()
    release_intermediates()
    assert res2.status == "SUCCESS"
    assert res2.metrics["out_sink"]["lines_received"] == 0  # 201 matched 103
    # append-mode sink: a zero-survivor run must neither clobber the
    # accumulated table nor leave it unreadable (_SUCCESS-only dir)
    assert {r["doc_id"] for r in spark.read.parquet(str(out / "survivors")).collect()} == {103}


def test_parquet_scrub_score_mix_orc(spark, tmp_path):
    """Round-7 compliance/quality shape through the runner: PII
    redaction → boilerplate-line removal → bigram-LM scoring → rule
    gate (pass/fail ports) → language-weighted mixture → ORC sink."""
    from pyspark.sql import functions as F

    def inputs(d):
        rows = []
        boiler = "all rights reserved contact admin@site.example.com"
        for i in range(30):
            lang = ["en", "de", "fr", "zh"][i % 4]
            body = f"document {i} body text about topic {i % 7} with detail"
            rows.append((i, f"{body}\n{boiler}", lang))
        spark.createDataFrame(rows, ["doc_id", "text", "lang"]).coalesce(
            1
        ).write.parquet(str(d / "documents.parquet"))

    out, result = run_example(
        spark, tmp_path, "parquet_scrub_score_mix_orc.json", inputs
    )
    train = spark.read.orc(str(out / "train_orc"))
    assert 0 < train.count() <= 30
    # zh absent from the mixture weights -> dropped by the mixer
    assert train.where(F.col("lang") == "zh").count() == 0
    first = train.first()
    # the boilerplate line (present in 30/30 docs > 0.5) is gone and
    # its email was redacted before line stats ran
    assert "rights reserved" not in first["text_clean_dedup"]
    assert first["n_pii_email"] >= 1 and "@site.example.com" not in first["text_clean"]
    assert first["avg_logprob"] is not None and first["n_bigrams"] > 0


def test_parquet_ann_topk(spark, tmp_path, tables):
    """ANN search through the REGISTRY/JSON-config path (the r7 break
    class: similarity_search worked via direct function imports while
    its registry binding was severed — this e2e pins the config
    route)."""
    from pyspark.sql import functions as F

    def inputs(d):
        emb = tables["embeddings"].select("vec_id", "embedding")
        emb.write.parquet(str(d / "embeddings.parquet"))
        emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ).write.parquet(str(d / "queries.parquet"))

    out, result = run_example(spark, tmp_path, "parquet_ann_topk.json", inputs)
    back = spark.read.parquet(str(out / "topk"))
    n_queries = back.select("query_id").distinct().count()
    assert n_queries == 5
    # exactly k=3 neighbors per query, ranks 1..3, self always rank 1
    # (a query IS a corpus vector, cosine 1.0 with itself)
    assert back.count() == 15
    ranks = {r["rank"] for r in back.select("rank").distinct().collect()}
    assert ranks == {1, 2, 3}
    self_hits = back.where(
        (F.col("rank") == 1) & (F.col("query_id") == F.col("vec_id"))
    ).count()
    assert self_hits == 5
    assert result.metrics["ann"]["lines_received"] > 0


def test_parquet_semdedup_shuffle_export(spark, tmp_path):
    """Training-export shape through the runner: semantic dedup over
    embeddings (semdedup) -> join text back -> deterministic epoch
    shuffle (shuffle_rows) -> parquet."""
    from pyspark.sql import functions as F

    def inputs(d):
        emb = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [0.99, 0.02, 0.0, 0.0]),   # semantic dup of 0
            (3, [0.05, 0.99, 0.0, 0.0]),   # semantic dup of 1
            (4, [0.7, 0.7, 0.0, 0.0]),     # genuinely between cells
        ]
        spark.createDataFrame(
            emb, "vec_id long, embedding array<double>"
        ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))
        docs = [(i, f"document {i}") for i in range(5)]
        spark.createDataFrame(docs, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(d / "documents.parquet"))

    out, result = run_example(
        spark, tmp_path, "parquet_semdedup_shuffle_export.json", inputs
    )
    back = spark.read.parquet(str(out / "export"))
    rows = back.collect()
    ids = {r["vec_id"] for r in rows}
    # dups 2 and 3 dropped, survivors joined to their text
    assert 2 not in ids and 3 not in ids
    assert {0, 1} <= ids
    # shuffle positions are a 0-based permutation of the survivors
    assert sorted(r["shuffle_pos"] for r in rows) == list(range(len(rows)))
    assert all(r["text"] == f"document {r['vec_id']}" for r in rows)


def test_parquet_corpus_to_shards(spark, tmp_path):
    """The full make-a-training-corpus shape through the runner:
    Gopher quality gate -> deterministic epoch shuffle -> sharded
    export with manifest."""
    from etl_core_spark.sources.export_io import read_manifest, verify_export

    def inputs(d):
        rows = []
        for i in range(20):
            # 60 alpha words — passes every Gopher gate
            rows.append((i, " ".join(f"word{j}now" for j in range(60))))
        for i in range(20, 30):
            rows.append((i, "too short"))  # fails min-token gate
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(d / "documents.parquet"))

    out, result = run_example(
        spark, tmp_path, "parquet_corpus_to_shards.json", inputs
    )
    m = read_manifest(spark, str(out / "corpus"))
    assert m["total_rows"] == 20  # the 10 short docs were gated out
    assert set(verify_export(spark, str(out / "corpus")).values()) == {"ok"}
    back = spark.read.parquet(str(out / "corpus"))
    assert sorted(r["shuffle_pos"] for r in back.collect()) == list(range(20))


def test_parquet_scd2_diff(spark, tmp_path):
    import datetime

    D = datetime.date

    def inputs(d):
        dim = spark.createDataFrame(
            [
                (1, "a", D(2023, 1, 1), None),
                (2, "b", D(2023, 1, 1), None),
                (1, "a0", D(2022, 1, 1), D(2023, 1, 1)),
            ],
            "k long, v string, valid_from date, valid_to date",
        )
        dim.coalesce(1).write.parquet(str(d / "dim.parquet"))
        upd = spark.createDataFrame(
            [(1, "a2", D(2024, 6, 1)), (9, "new", D(2024, 6, 1))],
            "k long, v string, eff date",
        )
        upd.coalesce(1).write.parquet(str(d / "updates.parquet"))

    out, result = run_example(spark, tmp_path, "parquet_scd2_diff.json", inputs)
    dim2 = spark.read.parquet(str(out / "dim_v2"))
    got = sorted(
        (r["k"], r["v"], str(r["valid_from"]), str(r["valid_to"]))
        for r in dim2.collect()
    )
    assert got == sorted(
        [
            (1, "a0", "2022-01-01", "2023-01-01"),
            (1, "a", "2023-01-01", "2024-06-01"),
            (1, "a2", "2024-06-01", "None"),
            (2, "b", "2023-01-01", "None"),
            (9, "new", "2024-06-01", "None"),
        ]
    )
    changes = spark.read.json(str(out / "changes"))
    diff = {
        r["k"]: (r["diff_status"], list(r["changed_cols"] or []))
        for r in changes.collect()
    }
    # old open set {1:a, 2:b} vs new open set {1:a2, 2:b, 9:new}
    assert diff == {
        1: ("changed", ["v"]),
        2: ("unchanged", []),
        9: ("added", []),
    }


def test_parquet_bm25_triage(spark, tmp_path, tables):
    """BM25 retrieval triage through the JSON-config path: rank the
    documents table against a probe query, keep the best 25."""

    def inputs(d):
        tables["documents"].select("doc_id", "text").write.parquet(
            str(d / "docs.parquet")
        )

    out, result = run_example(spark, tmp_path, "parquet_bm25_triage.json", inputs)
    back = spark.read.json(str(out / "ranked"))
    rows = back.collect()
    assert len(rows) == 25
    assert all(r["n_matched"] >= 1 and r["score"] > 0 for r in rows)
    assert result.metrics["sink_ranked"]["lines_received"] == 25


def test_parquet_interpolate_series(spark, tmp_path):
    """Gap-fill through the JSON-config path: sparse sensor series in,
    dense linearly-interpolated grid out."""

    def inputs(d):
        spark.createDataFrame(
            [("a", 0, 10.0), ("a", 4, 20.0), ("b", 2, 1.0)],
            "sensor string, t long, v double",
        ).write.parquet(str(d / "series.parquet"))

    out, _ = run_example(
        spark, tmp_path, "parquet_interpolate_series.json", inputs
    )
    back = spark.read.parquet(str(out / "dense"))
    got = {(r["sensor"], r["t"]): (r["v"], r["is_filled"]) for r in back.collect()}
    assert got == {
        ("a", 0): (10.0, False),
        ("a", 1): (12.5, True),
        ("a", 2): (15.0, True),
        ("a", 3): (17.5, True),
        ("a", 4): (20.0, False),
        ("b", 2): (1.0, False),
    }


def test_parquet_pagerank(spark, tmp_path):
    """Graph centrality through the JSON-config path: undirected
    PageRank over an edge list, ranks out as parquet."""

    def inputs(d):
        spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
        ).write.parquet(str(d / "edges.parquet"))

    out, _ = run_example(spark, tmp_path, "parquet_pagerank.json", inputs)
    back = {r["node"]: r["pagerank"] for r in spark.read.parquet(str(out / "ranks")).collect()}
    assert set(back) == {0, 1, 2, 3}
    assert abs(sum(back.values()) - 1.0) < 1e-6
    # degree-3 hub outranks the leaf
    assert back[2] > back[3]


def test_parquet_semantic_communities(spark, tmp_path):
    """Semantic clustering pipeline through the JSON-config path:
    embeddings -> exact kNN graph -> label-propagation communities."""

    def inputs(d):
        rows = [
            (0, [1.0, 0.0, 0.0]), (1, [0.98, 0.1, 0.0]), (2, [0.97, 0.2, 0.0]),
            (10, [0.0, 0.0, 1.0]), (11, [0.0, 0.1, 0.98]), (12, [0.0, 0.2, 0.97]),
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).write.parquet(str(d / "embeddings.parquet"))

    out, _ = run_example(
        spark, tmp_path, "parquet_semantic_communities.json", inputs
    )
    labels = {
        r["node"]: r["label"]
        for r in spark.read.parquet(str(out / "communities")).collect()
    }
    assert labels[0] == labels[1] == labels[2]
    assert labels[10] == labels[11] == labels[12]
    assert labels[0] != labels[10]


def test_parquet_graph_communities(spark, tmp_path):
    """The edge-list analog of the semantic-communities example:
    connected_components + label_propagation over one fanned-out edge
    read, joined into a per-node membership table that feeds BOTH
    per-component metrics (node count, community count) and a
    token-budgeted per-community document sample."""

    def inputs(d):
        # two disjoint components; the larger one is two dense
        # triangles joined by a single bridge edge -> one component,
        # two LPA communities
        edges = [
            (0, 1), (1, 2), (2, 0),        # triangle A
            (3, 4), (4, 5), (5, 3),        # triangle B
            (2, 3),                        # bridge A-B
            # separate component: a triangle, not a 2-node pair —
            # synchronous LPA oscillates with period 2 on bipartite
            # structures (the documented caveat), a triangle converges
            (10, 11), (11, 12), (12, 10),
        ]
        spark.createDataFrame(edges, "src long, dst long").write.parquet(
            str(d / "edges.parquet")
        )
        docs = [(i, f"doc {i} " + "tok " * 10) for i in range(6)] + [
            (10, "island doc ten"), (11, "island doc eleven"),
            (12, "island doc twelve")
        ]
        spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
            str(d / "documents.parquet")
        )

    out, _ = run_example(
        spark, tmp_path, "parquet_graph_communities.json", inputs
    )
    metrics = {
        r["component"]: (r["n_nodes"], r["n_communities"])
        for r in spark.read.parquet(str(out / "component_metrics")).collect()
    }
    # component ids are min node ids
    assert set(metrics) == {0, 10}
    assert metrics[0][0] == 6 and metrics[10] == (3, 1)
    sample = spark.read.parquet(str(out / "community_sample"))
    rows = sample.collect()
    assert 0 < len(rows) <= 9
    # every sampled doc carries its community label and text
    assert {"label", "node", "text"} <= set(sample.columns)


def test_parquet_tokenize_pack(spark, tmp_path, tables):
    """Token-budget chain on REAL subword counts: self-trained BPE
    counts feed a per-language token budget, then GPT-style sequence
    packing — the n_bpe_tokens column is the currency through all
    three stages."""

    def inputs(d):
        tables["documents"].select("doc_id", "text", "lang").write.parquet(
            str(d / "docs.parquet")
        )

    out, _ = run_example(
        spark, tmp_path, "parquet_tokenize_pack.json", inputs
    )
    back = spark.read.parquet(str(out / "packed"))
    rows = back.collect()
    assert rows
    assert {"doc_id", "n_tokens", "bin_id", "offset_in_bin"} <= set(
        back.columns
    )
    # packing contract: every doc fits its bin, offsets within capacity
    assert all(0 <= r["offset_in_bin"] < 256 for r in rows)
    assert all(0 < r["n_tokens"] for r in rows)


def test_parquet_targeted_selection(spark, tmp_path, tables):
    """The r9 selection chain through the JSON runner: NB quality
    soft gate (positive/negative slices fanned from one read) feeds
    DSIR Gumbel top-k resampling toward the positive domain."""

    def inputs(d):
        tables["documents"].select(
            "doc_id", "text", "source"
        ).write.parquet(str(d / "crawl.parquet"))

    out, result = run_example(
        spark, tmp_path, "parquet_targeted_selection.json", inputs
    )
    back = spark.read.parquet(str(out / "selected"))
    rows = back.collect()
    assert len(rows) == 50
    # the chain preserves provenance columns and adds both stages'
    # evidence: classifier score and DSIR weight/key
    assert {"doc_id", "source", "score", "log_weight", "gumbel_key"} <= set(
        back.columns
    )
    # monotone filtering: selected docs passed the gate (score kept)
    assert all(r["score"] is not None for r in rows)
    # deterministic end-to-end: rerun selects the identical set
    rerun = tmp_path / "rerun"
    rerun.mkdir()
    out2, _ = run_example(
        spark, rerun, "parquet_targeted_selection.json", inputs
    )
    back2 = spark.read.parquet(str(out2 / "selected"))
    assert {r["doc_id"] for r in rows} == {
        r["doc_id"] for r in back2.collect()
    }


def test_fan_out_counts_survive_build_time_probes(spark, tmp_path, tables):
    """The crawl read also feeds a copy sink. The gate and DSIR stages
    run build-time ``take(1)`` probes over their inputs, which complete
    row counters early; counting per edge keeps the sink's count and
    the read's forwarded count exact anyway."""
    in_dir = tmp_path / "in"
    out_dir = tmp_path / "out"
    crawl = tables["documents"].select("doc_id", "text", "source")
    crawl.repartition(4).write.parquet(str(in_dir / "crawl.parquet"))
    n_rows = crawl.count()
    raw = (EXAMPLES / "parquet_targeted_selection.json").read_text()
    config = json.loads(
        raw.replace("__IN__", str(in_dir)).replace("__OUT__", str(out_dir))
    )
    read = next(c for c in config["components"] if c["name"] == "read_crawl")
    read["routes"]["out"].append({"to": "copy", "in_port": "in"})
    config["components"].append(
        {"name": "copy", "comp_type": "write_parquet", "filepath": str(out_dir / "copy")}
    )
    assert len(list((in_dir / "crawl.parquet").glob("*.parquet"))) > 1

    result = JobRunner(build_job(spark, config)).run()
    assert result.status == "SUCCESS", result.error
    written = spark.read.parquet(str(out_dir / "copy")).count()
    assert written == n_rows
    assert result.metrics["copy"]["lines_received"] == written
    assert result.metrics["read_crawl"]["lines_forwarded"] == n_rows


def test_parquet_crawl_to_training_set(spark, tmp_path, tables):
    """The full curation chain through the JSON runner: gopher
    quality gate -> minhash near-dedup -> self-trained LM fluency
    percentile gate -> deterministic epoch shuffle -> sharded export
    with manifest. Asserts monotone filtering, shard integrity and
    shuffle-position uniqueness."""
    import json as _json

    def inputs(d):
        tables["documents"].select("doc_id", "text").write.parquet(
            str(d / "crawl.parquet")
        )

    out, result = run_example(
        spark, tmp_path, "parquet_crawl_to_training_set.json", inputs
    )
    n_in = tables["documents"].count()
    back = spark.read.parquet(str(out / "training" / "shard=*"))
    n_out = back.count()
    assert 0 < n_out < n_in  # every gate actually gated something
    # deterministic shuffle positions are a bijection onto 0..n-1
    pos = sorted(r["shuffle_pos"] for r in back.select("shuffle_pos").collect())
    assert pos == list(range(n_out))
    manifest = _json.loads(
        (out / "training" / "_manifest.json").read_text()
    )
    assert sum(s["rows"] for s in manifest["shards"]) == n_out
    assert result.metrics["sink_shards"]["lines_received"] == n_out


def test_parquet_selection_to_training(spark, tmp_path, tables):
    """The selection-to-training-set capstone through the JSON
    runner (VERDICT r9 item 6): NB quality soft gate -> DSIR Gumbel
    top-k toward the positive domain -> self-trained BPE token counts
    -> GPT-style sequence packing -> sharded export with manifest
    verification. Every stage's evidence column must survive to the
    exported shards."""

    def inputs(d):
        tables["documents"].select(
            "doc_id", "text", "source"
        ).write.parquet(str(d / "crawl.parquet"))

    out, result = run_example(
        spark, tmp_path, "parquet_selection_to_training.json", inputs
    )
    from etl_core_spark.sources.export_io import read_manifest, verify_export

    export_dir = str(out / "training")
    back = spark.read.parquet(export_dir)
    rows = back.collect()
    assert len(rows) == 60  # dsir_select k survives the whole chain
    # provenance + per-stage evidence all present in the export
    assert {
        "doc_id", "source", "score", "log_weight", "gumbel_key",
        "n_bpe_tokens", "bin_id", "offset_in_bin",
    } <= set(back.columns)
    # packing contract on real subword counts
    assert all(0 <= r["offset_in_bin"] < 128 for r in rows)
    # manifest agrees with the directory, every shard fingerprints ok
    assert read_manifest(spark, export_dir)["total_rows"] == 60
    assert set(verify_export(spark, export_dir).values()) == {"ok"}
    # per-component metrics flow through the runner
    assert result.metrics["select"]["lines_forwarded"] == 60


def test_parquet_cdc_zorder_compact(spark, tmp_path):
    """Lakehouse maintenance chain: apply the CDC feed to the
    snapshot, then re-cluster the merged table on the z-order key
    before the write."""

    def inputs(d):
        snap = spark.createDataFrame(
            [(i, f"v{i}", float(i % 10), float(i % 7)) for i in range(40)],
            "k long, v string, x double, y double",
        )
        snap.coalesce(1).write.parquet(str(d / "snapshot.parquet"))
        ch = spark.createDataFrame(
            [
                (1, 1, "U", "upd", 99.0, 0.0),
                (2, 1, "D", None, None, None),
                (100, 1, "I", "new", 5.0, 5.0),
            ],
            "k long, seq long, op string, v string, x double, y double",
        )
        ch.coalesce(1).write.parquet(str(d / "changes.parquet"))

    out, result = run_example(
        spark, tmp_path, "parquet_cdc_zorder_compact.json", inputs
    )
    table = spark.read.parquet(str(out / "table"))
    got = {r["k"]: (r["v"], r["x"]) for r in table.collect()}
    assert len(got) == 40  # 40 - 1 delete + 1 insert
    assert 2 not in got
    assert got[1] == ("upd", 99.0)
    assert got[100] == ("new", 5.0)
    assert "zvalue" in table.columns
    # component metrics flowed for every stage (the runner-deadlock
    # regression class: every observed component must complete)
    assert result.status == "SUCCESS"


def test_parquet_bloom_decontaminate(spark, tmp_path):
    """The scale decontamination pattern: a broadcast Bloom filter
    pre-prunes at full corpus width (misses are PROVABLY not
    verbatim benchmark members), and only the flagged superset pays
    the exact n-gram check."""

    def inputs(d):
        bench_text = "leaked benchmark question about spark joins"
        docs = spark.createDataFrame(
            [
                (1, bench_text, "en"),                 # verbatim leak
                (2, "a perfectly ordinary document", "en"),
                (3, "another clean document entirely", "en"),
            ],
            "doc_id long, text string, lang string",
        )
        docs.coalesce(1).write.parquet(str(d / "documents.parquet"))
        bench = spark.createDataFrame(
            [(bench_text,)], "text string"
        )
        bench.coalesce(1).write.parquet(str(d / "benchmark.parquet"))

    out, result = run_example(
        spark, tmp_path, "parquet_bloom_decontaminate.json", inputs
    )
    clean = {r["doc_id"] for r in spark.read.parquet(str(out / "clean")).collect()}
    import os
    rescued_dir = str(out / "rescued")
    rescued = (
        {r["doc_id"] for r in spark.read.parquet(rescued_dir).collect()}
        if os.path.isdir(rescued_dir)
        else set()
    )
    # doc 1 is a verbatim leak: bloom-flagged AND n-gram-contaminated,
    # so it lands in NEITHER output; docs 2-3 come out (clean path or
    # rescued-after-exact-check path, depending on bloom FPs)
    assert 1 not in clean | rescued
    assert clean | rescued == {2, 3}


def test_parquet_entity_resolution(spark, tmp_path):
    def inputs(d):
        rows = [
            # three spellings of one entity in nation 1 / AUTO
            (1, "Customer#000000001", 1, 100.0, "AUTO"),
            (2, "Customer#000000002", 1, 120.0, "AUTO"),
            (3, "Customer#000000003", 1, 140.0, "AUTO"),
            # a lone record in the same block, far away on every field
            (4, "Zzzz#999999999", 1, 9000.0, "AUTO"),
            # a pair in another block
            (10, "Customer#000000010", 2, 50.0, "BUILDING"),
            (11, "Customer#000000011", 2, 55.0, "BUILDING"),
        ]
        spark.createDataFrame(
            rows,
            "c_custkey long, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string",
        ).write.parquet(str(d / "customer.parquet"))

    out, result = run_example(
        spark, tmp_path, "parquet_entity_resolution.json", inputs
    )
    back = spark.read.parquet(str(out / "entities"))
    comp = {r["node"]: r["component"] for r in back.collect()}
    # 1,2,3 merge into one entity; 10,11 into another; 4 never matches
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert 4 not in comp
    assert result.metrics["sink"]["lines_received"] == 5


def test_parquet_drift_monitor(spark, tmp_path):
    def inputs(d):
        ref = [("a", float(v % 90)) for v in range(200)] + [
            ("b", float(v % 90)) for v in range(200)
        ]
        # segment a drifts hard (shift +60); segment b is identical
        cur = [("a", float(v % 30) + 60.0) for v in range(200)] + [
            ("b", float(v % 90)) for v in range(200)
        ]
        spark.createDataFrame(ref, "segment string, value double").write.parquet(
            str(d / "reference.parquet")
        )
        spark.createDataFrame(cur, "segment string, value double").write.parquet(
            str(d / "current.parquet")
        )

    out, result = run_example(
        spark, tmp_path, "parquet_drift_monitor.json", inputs
    )
    psi = {r["segment"]: r for r in spark.read.parquet(str(out / "psi")).collect()}
    ks = {r["segment"]: r for r in spark.read.parquet(str(out / "ks")).collect()}
    tt = {r["segment"]: r for r in spark.read.parquet(str(out / "ttest")).collect()}
    # all three lenses agree: a drifted, b did not
    assert psi["a"]["drift"] is True and psi["b"]["drift"] is False
    assert ks["a"]["ks_stat"] > 0.5 and ks["b"]["ks_stat"] == 0.0
    assert tt["a"]["significant"] is True and tt["b"]["significant"] is False


def test_parquet_density_noise_filter(spark, tmp_path):
    """DBSCAN through the JSON runner: cluster 2-D points, then gate
    on is_core — core points to one sink, borders+noise to the
    other."""

    def inputs(d):
        rows = []
        i = 0
        for bx, by in ((0, 0), (100, 100)):
            for dx in range(5):
                for dy in range(4):
                    rows.append((i, bx + dx * 2, by + dy * 2))
                    i += 1
        for k in range(5):
            rows.append((i, 40 + k * 9, 300 + k * 13))
            i += 1
        spark.createDataFrame(rows, "id long, x long, y long").write.parquet(
            str(d / "points.parquet")
        )

    out, _ = run_example(
        spark, tmp_path, "parquet_density_noise_filter.json", inputs
    )
    core = spark.read.parquet(str(out / "core")).collect()
    rest = spark.read.parquet(str(out / "rest")).collect()
    assert len(core) == 40 and all(r["cluster"] in (0, 20) for r in core)
    assert len(rest) == 5 and all(r["cluster"] is None for r in rest)


def test_parquet_basket_affinity(spark, tmp_path):
    """Market-basket composition: assoc_rules mines frequent
    co-purchase pairs, and link_predict treats those pairs as an
    affinity GRAPH — predicting related items that were never bought
    together (a, c below share the frequent neighbor b)."""

    def inputs(d):
        rows = [
            (1, "a"), (1, "b"),
            (2, "a"), (2, "b"),
            (3, "b"), (3, "c"),
            (4, "b"), (4, "c"),
        ]
        spark.createDataFrame(
            rows, "basket_id long, item string"
        ).coalesce(1).write.parquet(str(d / "baskets.parquet"))

    out, result = run_example(
        spark, tmp_path, "parquet_basket_affinity.json", inputs
    )
    rules = {
        (r["antecedent"], r["consequent"]): r["pair_count"]
        for r in spark.read.parquet(str(out / "rules")).collect()
    }
    assert rules == {("a", "b"): 2, ("b", "c"): 2}
    preds = {
        (r["src"], r["dst"]): (r["common_neighbors"], r["score"])
        for r in spark.read.parquet(str(out / "predictions")).collect()
    }
    # a and c never co-occur but share the degree-2 neighbor b
    assert preds == {("a", "c"): (1, (10**12 // 2) / 1e12)}


def test_parquet_image_dedup(spark, tmp_path):
    """Image dedup through the real codecs: perceptual fingerprints,
    exact dedup on the hash, AND the hamming band-join for near-dup
    pairs — the re-encoded near-copy collapses onto the original
    (min media_id survives), the BMP re-container of image 1 hashes
    identically from the other codec, the distinct image stays."""
    from etl_core_spark.operators.bmp_codec import encode_bmp
    from etl_core_spark.operators.png_codec import encode_png

    w = h = 16

    def raw(lo, hi):
        return bytes(
            v for y in range(h) for x in range(w)
            for v in ((lo,) * 3 if x < 8 else (hi,) * 3)
        )

    def inputs(d):
        rows = [
            (1, encode_png(w, h, raw(0, 255))),
            # near-copy, other filters on the wire
            (2, encode_png(w, h, raw(10, 250), filter_mode="cycle")),
            # mirrored: distinct hash
            (3, encode_png(w, h, raw(255, 0))),
            # the SAME pixels as 1 in the other container
            (4, encode_bmp(w, h, raw(0, 255))),
        ]
        spark.createDataFrame(
            rows, "media_id long, payload binary"
        ).coalesce(1).write.parquet(str(d / "media.parquet"))

    out, result = run_example(
        spark, tmp_path, "parquet_image_dedup.json", inputs
    )
    fp = {r["media_id"]: r["phash"]
          for r in spark.read.parquet(str(out / "fingerprints")).collect()}
    assert fp[1] == fp[2] == fp[4] != fp[3]
    unique = {r["media_id"]
              for r in spark.read.parquet(str(out / "unique")).collect()}
    assert unique == {1, 3}
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in spark.read.parquet(str(out / "pairs")).collect()}
    assert pairs == {(1, 2): 0, (1, 4): 0, (2, 4): 0}


def test_parquet_audio_quality(spark, tmp_path):
    """Audio triage through the real WAV codec: decode features in
    null mode, route undecodable payloads and silent clips to their
    own sinks, keep real audio."""
    from etl_core_spark.operators.wav_codec import encode_wav

    def inputs(d):
        rows = [
            (1, encode_wav(8000, 1, [100, -100, 50])),   # real audio
            (2, encode_wav(44100, 2, [0, 0, 0, 0])),      # silent
            (3, b"not a wav"),                             # undecodable
            (4, encode_wav(8000, 1, [])),                  # zero frames
        ]
        spark.createDataFrame(
            rows, "media_id long, payload binary"
        ).coalesce(1).write.parquet(str(d / "audio.parquet"))

    out, result = run_example(
        spark, tmp_path, "parquet_audio_quality.json", inputs
    )
    kept = {r["media_id"]
            for r in spark.read.parquet(str(out / "kept")).collect()}
    silent = {r["media_id"]
              for r in spark.read.parquet(str(out / "silent")).collect()}
    undec = {r["media_id"]: r["error"] for r in
             spark.read.parquet(str(out / "undecodable")).collect()}
    assert kept == {1}
    assert silent == {2}
    # NULL n_frames (decode failure) rides the null->fail port
    # semantics; the zero-frame clip fails the same predicate
    assert set(undec) == {3, 4}
    assert "RIFF" in undec[3] and undec[4] is None


def test_parquet_audio_dedup(spark, tmp_path):
    """Audio near-dup dedup through the real WAV codec: energy
    fingerprints, pigeonhole hamming pairs, transitive-closure
    clusters — the variant (3 flipped loud windows) and the exact
    re-encode collapse onto the original; the distinct clip stays
    unpaired."""
    from etl_core_spark.operators.wav_codec import encode_wav

    def clip(pattern, m=8, rate=8000):
        samples = []
        for bit in pattern:
            amp = 1000 if bit else 10
            samples += [amp if j % 2 == 0 else -amp for j in range(m)]
        return encode_wav(rate, 1, samples)

    base = [(5 * w + 2) % 7 < 3 for w in range(64)]
    var = list(base)
    for w in (3, 30, 60):
        var[w] = not var[w]
    far = [not b for b in base]

    def inputs(d):
        rows = [
            (1, clip(base)),
            (2, clip(var)),            # 3 flipped windows
            (3, clip(far)),            # complement: distant
            (4, clip(base, rate=44100)),  # same audio, other rate
        ]
        spark.createDataFrame(
            rows, "media_id long, payload binary"
        ).coalesce(1).write.parquet(str(d / "media.parquet"))

    out, result = run_example(
        spark, tmp_path, "parquet_audio_dedup.json", inputs
    )
    fp = {r["media_id"]: r["afp"]
          for r in spark.read.parquet(str(out / "fingerprints")).collect()}
    assert fp[1] == fp[4] != fp[3] and len(fp[1]) == 64
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in spark.read.parquet(str(out / "pairs")).collect()}
    assert pairs == {(1, 2): 3, (1, 4): 0, (2, 4): 3}
    clusters = {r["id"]: r["cluster_id"] for r in
                spark.read.parquet(str(out / "clusters")).collect()}
    assert clusters == {1: 1, 2: 1, 4: 1}
