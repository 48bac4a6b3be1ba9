"""Per-component JSON Schemas for the HTTP API / UI form building.

Parity with the reference's schema router
(``src/etl_core/api/routers/schemas.py:33-180,362-520``): the
reference derives JSON Schema from each component's pydantic model
and serves three views per component — ``form`` (GUI-hidden fields
stripped), ``full`` (everything), ``hidden`` (hidden-only) — plus the
job-document schema and the component-type list. There is no
pydantic here: the fields of an operator bound by ``bind_operator``
are derived from its function's signature at import, with
descriptions and enums from ``FIELD_NOTES``; a class operator's are
hand-written in ``FIELD_SPECS``, keyed by registry name. The
``hidden`` flag drives the three views.

Draft: https://json-schema.org/draft/2020-12/schema (the subset the
reference's GUI consumes: type/properties/required/default/enum/
description/items).
"""

from __future__ import annotations

import types
from typing import Any, Union, get_args, get_origin, get_type_hints

from pyspark.sql import Column

import etl_core_spark.operators  # noqa: F401 - registers the bound operators
from etl_core_spark.operators.base import (
    BoundOperator,
    OperatorConfigError,
    get_operator,
    operator_names,
)


def f(
    name: str,
    jtype: str | list[str],
    *,
    required: bool = False,
    default: Any = None,
    desc: str = "",
    hidden: bool = False,
    enum: list | None = None,
    items: dict | None = None,
) -> dict[str, Any]:
    spec: dict[str, Any] = {"name": name, "type": jtype, "required": required, "hidden": hidden}
    if default is not None:
        spec["default"] = default
    if desc:
        spec["description"] = desc
    if enum is not None:
        spec["enum"] = enum
    if items is not None:
        spec["items"] = items
    return spec


# port-schema declaration accepted by every source/sink (Schema.from_dict)
_SCHEMA_FIELD = f(
    "schema", "object",
    desc="declared port schema: {fields: [{name, data_type, nullable, children}]}",
)

_WRITE_MODE = f("mode", "string", default="overwrite", enum=["overwrite", "append"])
_SINGLE_FILE = f(
    "single_file", "boolean", default=True,
    desc="coalesce(1) for a single output file (reference writes one file)",
)
_FILEPATH = f("filepath", "string", required=True)

_RULE_DESC = (
    "rule tree: {column, operator, value} with operator in "
    "(==, !=, >, <, >=, <=, contains) or {operator: AND|OR|NOT, rules: [...]}"
)

_JDBC_READ = [
    f("url", "string", required=True, desc="jdbc:<dialect>://host:port/db"),
    f("user", "string"),
    f("password", "string", hidden=True),
    f("driver", "string", desc="JDBC driver class override"),
    f("entity_name", "string", desc="table to SELECT * from (or use 'query')"),
    f("query", "string", desc="SQL text; :name placeholders bound from 'params'"),
    f("params", "object", desc="named bind parameters for :name placeholders"),
    f("partitionColumn", "string", desc="numeric column for parallel range reads"),
    f("lowerBound", "integer"),
    f("upperBound", "integer"),
    f("numPartitions", "integer"),
    f("fetchsize", "integer"),
    f("wire", "string", enum=["jdbc", "dbapi"],
      desc="'dbapi' = jar-less driver-side read over a DBAPI/stdlib "
           "wire (reference full-materialization semantics)"),
    _SCHEMA_FIELD,
]

_JDBC_WRITE = [
    f("url", "string", required=True),
    f("user", "string"),
    f("password", "string", hidden=True),
    f("driver", "string"),
    f("entity_name", "string", required=True, desc="target table"),
    f("operation", "string", default="insert", enum=["insert", "upsert", "update", "truncate"]),
    f("key_columns", "array", items={"type": "string"}, desc="conflict keys (upsert)"),
    f("where_columns", "array", items={"type": "string"}, desc="match columns (update)"),
    f("set_columns", "array", items={"type": "string"}, desc="columns to SET (update; default = non-where)"),
    f("batch_size", "integer", default=1000, desc="DML rows per executemany batch"),
    f("wire", "string", enum=["jdbc", "dbapi"],
      desc="'dbapi' routes insert/truncate through the executor-side "
           "DML path (jar-less mode; upsert/update always use it)"),
]

FIELD_SPECS: dict[str, list[dict[str, Any]]] = {
    # -- file / table sources & sinks ---------------------------------
    "read_csv": [
        _FILEPATH,
        f("separator", "string", default=",", enum=[",", ";", "\t"]),
        _SCHEMA_FIELD,
    ],
    "write_csv": [
        _FILEPATH,
        f("separator", "string", default=","),
        _SINGLE_FILE,
        _WRITE_MODE,
    ],
    "read_json": [
        _FILEPATH,
        f("lines", "boolean", default=False, desc="force NDJSON mode (auto-detected otherwise)"),
        _SCHEMA_FIELD,
    ],
    "write_json": [
        _FILEPATH,
        _SINGLE_FILE,
        _WRITE_MODE,
        f("compression", "string", enum=["gzip", "bzip2", "none"]),
    ],
    "read_xml": [
        _FILEPATH,
        f("record_tag", "string", required=True, desc="XML element per row"),
        _SCHEMA_FIELD,
    ],
    "write_xml": [
        _FILEPATH,
        f("root_tag", "string", required=True),
        f("record_tag", "string", required=True),
        _SINGLE_FILE,
        _WRITE_MODE,
    ],
    "read_excel": [
        _FILEPATH,
        f("sheet_name", "string", desc="sheet name, or omit for the first sheet"),
        f("npartitions", "integer", default=8, desc="partitions after the driver-side pandas bridge"),
        f("engine", "string", default="auto", desc="auto|pandas (openpyxl)|lite (stdlib zip+XML)"),
        _SCHEMA_FIELD,
    ],
    "write_excel": [
        _FILEPATH,
        f("sheet_name", "string", default="Sheet1"),
        f("engine", "string", default="auto", desc="auto|pandas (openpyxl)|lite (stdlib zip+XML)"),
    ],
    "read_parquet": [_FILEPATH, _SCHEMA_FIELD],
    "read_orc": [_FILEPATH, _SCHEMA_FIELD],
    "write_orc": [
        _FILEPATH,
        _WRITE_MODE,
        f("partition_by", "array", items={"type": "string"}),
        f("compression", "string", enum=["zlib", "snappy", "zstd", "lz4", "none"]),
        f("num_files", "integer", desc="exact output file count"),
    ],
    "write_parquet": [
        _FILEPATH,
        _WRITE_MODE,
        f("partition_by", "array", items={"type": "string"}),
        f("compression", "string", enum=["snappy", "zstd", "gzip", "none"]),
        f("num_files", "integer", desc="exact output file count (overrides target_file_mb)"),
        f("target_file_mb", "integer",
          desc="compaction: file count = ceil(plan byte estimate / target)"),
        f("sort_by", "array", items={"type": "string"},
          desc="range-partition + sort within partitions (tight min/max on the leading column)"),
        f("zorder_by", "array", items={"type": "string"},
          desc="Morton-interleaved multi-column clustering; exclusive with sort_by"),
        f("zorder_method", "string", default="range", enum=["range", "quantile"],
          desc="range = min-max grid (deterministic); quantile = approx-CDF "
               "buckets for skewed dimensions"),
    ],
    "upsert_parquet": [
        _FILEPATH,
        f("keys", "array", required=True, items={"type": "string"},
          desc="merge keys: matching rows replaced, new keys appended"),
        f("partition_by", "array", items={"type": "string"},
          desc="partition columns — the dynamic-overwrite leaf pruning "
               "unit (staged mode swaps leaf directories)"),
        f("staged", "boolean",
          desc="write-then-rename partition swap: shrinks the reader "
               "inconsistency window to two renames (POSIX/HDFS only)"),
        f("allow_schema_evolution", "boolean",
          desc="accept added/removed batch columns (NULL-filled); "
               "rewrites the whole table that run so files share one "
               "schema"),
        f("stable_partitions", "boolean", default=True,
          desc="pruning contract: keys never move between partitions; "
               "set false (full-table carry) when a batch can move a "
               "key, or its old-partition row would silently survive"),
    ],
    "write_bucketed": [
        f("table", "string", required=True),
        f("bucket_by", "array", required=True, items={"type": "string"}),
        f("num_buckets", "integer", default=32),
        f("sort_by", "array", items={"type": "string"}),
        f("format", "string", default="parquet"),
        _WRITE_MODE,
    ],
    "read_table": [f("table", "string", required=True)],
    "generate_rows": [f("n", "integer", default=100)],
    "fail_source": [f("message", "string", hidden=True)],
    "fail_once_sink": [f("key", "string", default="default", hidden=True)],
    # -- databases -----------------------------------------------------
    "read_mongodb": [
        f("uri", "string", default="mongodb://localhost:27017"),
        f("database", "string", required=True),
        f("collection", "string", required=True),
        f("query_filter", "object", desc="Mongo $match document"),
        f("sort", "array", items={"type": "array"}, desc="[[field, 1|-1], ...]"),
        f("skip", "integer"),
        f("limit", "integer"),
        _SCHEMA_FIELD,
    ],
    "write_mongodb": [
        f("uri", "string", default="mongodb://localhost:27017"),
        f("database", "string", required=True),
        f("collection", "string", required=True),
        f("operation", "string", default="insert", enum=["insert", "truncate", "upsert", "update"]),
        f("key_fields", "array", items={"type": "string"}, desc="match keys (upsert)"),
        f("match_filter", "object", desc="static match document (update)"),
        f("update_fields", "array", items={"type": "string"}, desc="$set fields (default: all)"),
        f("ordered", "boolean", default=False),
    ],
    # -- data operations ----------------------------------------------
    "filter": [
        f("rule", "object", required=True, desc=_RULE_DESC),
        f("cache", "boolean", default=False, desc="cache the input so pass+fail scan it once"),
    ],
    "aggregation": [
        f("group_by", "array", items={"type": "string"}),
        f(
            "aggregations", "array", required=True,
            items={"type": "object"},
            desc="[{src, op in (count,sum,min,max,mean,median,std,var,"
                 "nunique,skewness,kurtosis,any,all,mode,collect_set,"
                 "approx_median,approx_nunique), dest}]",
        ),
    ],
    "schema_mapping": [
        f("join_plan", "object", desc="{steps: [{left, right, on, how}]} multi-step joins"),
        f("rules_by_dest", "object", desc="dest -> [{src_path, dst_path}] mapping rules"),
    ],
    "type_conversion": [
        f(
            "rules", "array", required=True,
            items={"type": "object"},
            desc="[{column_path (dots + '*'), target in (string,integer,float,boolean,timestamp,date), on_error in (raise,null,skip)}]",
        ),
    ],
    "merge": [
        f("allow_missing_columns", "boolean", default=True, desc="unionByName(allowMissingColumns)"),
    ],
    "split": [
        f("branches", "array", default=["out_1", "out_2"], items={"type": "string"}),
    ],
    "validate": [
        _SCHEMA_FIELD | {"required": True},
        f("strict", "boolean", default=True, desc="extra columns are errors"),
        f("mode", "string", default="route", enum=["route", "raise"]),
    ],
    # -- LLM-pipeline operators ---------------------------------------
    "dedup": [
        f("method", "string", default="exact",
          enum=["exact", "minhash_lsh", "simhash", "typo", "ngram_jaccard",
                "embedding_cosine"]),
        f("vec_col", "string", default="embedding",
          desc="embedding_cosine: vector column"),
        f("exact", "boolean", default=False,
          desc="embedding_cosine: full cross product instead of LSH buckets"),
        f("dim", "integer", default=64, desc="embedding_cosine: vector width"),
        f("num_planes", "integer", default=6,
          desc="embedding_cosine: LSH hyperplanes per bucket code"),
        f("seed", "integer", default=42, desc="embedding_cosine: LSH seed"),
        f("num_tables", "integer", default=1,
          desc="embedding_cosine: independent LSH tables unioned for recall"),
        f("max_token_freq", "integer",
          desc="ngram_jaccard: ignore shingles in more docs than this "
               "(hot-token guard; completeness trade documented)"),
        f("max_len", "integer", default=64, desc="typo method: strings longer than this are excluded"),
        f("keys", "array", items={"type": "string"}, desc="dedup keys (exact)"),
        f("id_col", "string", default="doc_id",
          desc="survivor = min(id); embedding_cosine defaults to 'vec_id'"),
        f("text_col", "string", default="text"),
        f("threshold", "number", default=0.7,
          desc="similarity threshold; per-method default: 0.7 Jaccard "
               "(minhash_lsh/ngram_jaccard), 0.95 cosine (embedding_cosine)"),
        f("survivor_policy", "string", default="greedy",
          enum=["greedy", "cluster", "best"],
          desc="greedy=drop higher id per pair; cluster=one survivor "
               "(min id) per connected component; best=survivor with "
               "the largest survivor_order_col per component"),
        f("survivor_order_col", "string",
          desc="best policy: numeric quality column — the component "
               "member with the largest value survives (NULLs lose, "
               "ties to smallest id)"),
        f("num_hashes", "integer", default=16),
        f("bands", "integer", default=8),
        f("shingle_n", "integer", default=3),
        f("max_band_freq", "integer",
          desc="drop LSH band keys hotter than this (mass-duplicate guard; minhash_lsh)"),
        f("max_hamming", "integer",
          desc="simhash: dedup within this hamming distance (banded) instead of exact-fingerprint only"),
    ],
    "incremental_dedup": [
        f("index_path", "string", required=True,
          desc="persistent MinHash signature index (minhash_index sink)"),
        f("threshold", "number", default=0.7,
          desc="signature-agreement Jaccard estimate threshold"),
        f("text_col", "string", default="text"),
        f("id_col", "string", default="doc_id"),
        f("action", "string", default="annotate", enum=["annotate", "drop"],
          desc="annotate adds n_corpus_matches/is_corpus_dup; drop anti-joins matches out"),
    ],
    "minhash_index": [
        f("index_path", "string", required=True),
        f("text_col", "string", default="text"),
        f("id_col", "string", default="doc_id"),
        f("num_hashes", "integer", default=16),
        f("bands", "integer", default=8),
        f("shingle_n", "integer", default=3),
        f("mode", "string", default="append", enum=["append", "upsert"],
          desc="append new ids; upsert replaces re-crawled ids (full-rewrite cost)"),
    ],
    "ivf_index": [
        f("index_path", "string", required=True,
          desc="persistent IVF index (centroids + cell-partitioned assignments)"),
        f("num_centroids", "integer", default=8),
        f("kmeans_iters", "integer", default=0,
          desc="deterministic Lloyd refinement rounds at index creation"),
        f("vec_col", "string", default="embedding"),
        f("id_col", "string", default="vec_id"),
    ],
    "similarity_search": [
        f("method", "string", default="brute_force",
          enum=["brute_force", "brute_force_numpy", "lsh", "ivf_index",
                "pq"]),
        f("index_path", "string",
          desc="ivf_index method: the persistent index to probe"),
        f("nprobe", "integer", default=1,
          desc="ivf_index method: centroid cells probed per query"),
        f("k", "integer", default=10),
        f("vec_col", "string", default="embedding"),
        f("id_col", "string", default="vec_id"),
        f("query_id_col", "string", default="query_id"),
        f("dim", "integer", default=64, desc="embedding dim (lsh)"),
        f("num_planes", "integer", default=6, desc="hyperplanes per bucket code (lsh)"),
        f("num_tables", "integer", default=1,
          desc="independent LSH tables unioned for recall (lsh)"),
        f("m", "integer", default=8,
          desc="pq: subspaces (dim must divide evenly; m bytes/vector)"),
        f("k_codes", "integer", default=256,
          desc="pq: codewords per subspace"),
        f("train_rows", "integer", default=100000,
          desc="pq: bounded id-sorted codebook training sample"),
        f("kmeans_iters", "integer", default=5, desc="pq: Lloyd rounds"),
        f("refine_factor", "integer", default=4,
          desc="pq: candidates per query = refine_factor*k, exact-reranked"),
    ],
    "pca": [
        f("dim", "integer", required=True, desc="input embedding width"),
        f("k", "integer", default=4, desc="principal components kept"),
        f("center", "boolean", default=True,
          desc="subtract the column mean before the Gram accumulation"),
        f("vec_col", "string", default="embedding"),
        f("out_col", "string", default="pc"),
    ],
    "read_text": [
        _FILEPATH,
        f("wholetext", "boolean", default=False,
          desc="one row PER FILE (one-file-per-document corpora)"),
        f("line_sep", "string", desc="custom record separator (line mode)"),
        f("path_glob", "string", desc="pathGlobFilter applied before any I/O"),
        f("recursive", "boolean", default=False),
        f("with_file_name", "boolean", default=False,
          desc="prepend the _metadata.file_path provenance column"),
    ],
    "write_text": [
        _FILEPATH,
        _WRITE_MODE,
        f("column", "string",
          desc="string column to write (default: the single input column)"),
        f("line_sep", "string"),
        f("compression", "string", desc="gzip/bzip2/lz4/snappy/none"),
        _SINGLE_FILE | {"default": False},
        f("num_files", "integer", desc="repartition target for the output"),
    ],
    "export_shards": [
        _FILEPATH,
        f("key_col", "string", required=True,
          desc="row key hashed into the deterministic shard assignment"),
        f("n_shards", "integer", default=16),
        f("format", "string", default="parquet",
          enum=["parquet", "json", "orc"]),
        f("salt", "string", default=""),
        _WRITE_MODE,
    ],
    "read_binary_files": [
        _FILEPATH,
        f("path_glob", "string",
          desc="extension/glob prune BEFORE any byte is read"),
        f("recursive", "boolean", default=False),
        f("file_name_only", "boolean", default=False,
          desc="add file_name (basename) for deployment-stable joins"),
    ],
    "write_binary_files": [
        _FILEPATH,
        f("name_column", "string", default="file_name",
          desc="relative output file name per row (no traversal, unique)"),
        f("content_column", "string", default="content"),
    ],
    "clean_text": [
        f("text_col", "string", default="text"),
        f("output_col", "string", default="text_clean"),
        f(
            "steps", "array", items={"type": "string"},
            desc="ordered subset of (strip_html,unescape_entities,redact_emails,"
                 "redact_ips,redact_phones,normalize_whitespace,lowercase)",
        ),
    ],
    "hash_split": [
        f("key_col", "string", required=True, desc="deterministic md5-bucket key"),
        f("weights", "object", required=True, desc="split name -> weight, e.g. {train: 0.8, val: 0.1, test: 0.1}"),
        f("salt", "string", default=""),
    ],
    "record_linkage": [
        f("id_col", "string", required=True),
        f("method", "string", default="block",
          desc="'block' (equi-join on block_cols) or 'sorted' "
               "(sorted-neighborhood over sort_cols within window)"),
        f("block_cols", "array", items={"type": "string"},
          desc="equi-join blocking keys (method='block'; required "
               "there — unblocked linkage is the all-pairs cartesian)"),
        f("sort_cols", "array", items={"type": "string"},
          desc="fuzzy sort key for method='sorted' (id_col appended "
               "as the tie-break)"),
        f("window", "integer",
          desc="neighborhood width for method='sorted' (>= 2)"),
        f("comparisons", "array", required=True, items={"type": "object"},
          desc="[{col, kind: equal|levenshtein|abs_diff, threshold, "
               "m, u}] with 0 < u < m < 1"),
        f("lower", "number", required=True,
          desc="pairs scoring below this are dropped"),
        f("upper", "number", required=True,
          desc="score >= upper classifies 'match', else 'possible'"),
        f("max_block_size", "integer", default=10000,
          desc="hot-block guard (within-block pairs are quadratic); "
               "null skips the probe"),
        f("oversize_policy", "string", default="error",
          desc="'error' raises naming the block; 'skip' drops "
               "oversized blocks (documented recall trade)"),
        f("quantize", "integer", default=6),
    ],
    "connected_components": [
        f("src", "string", required=True),
        f("dst", "string", required=True),
        f("driver_max_edges", "integer", default=1000000,
          desc="union-find on the driver below this edge count; "
               "0 forces the distributed large-star/small-star path"),
        f("max_iters", "integer", default=50),
    ],
    "rolling_aggregate": [
        f("time_col", "string", required=True),
        f("value_col", "string", required=True),
        f("window_seconds", "integer", required=True,
          desc="trailing window size, inclusive bounds"),
        f("partition_cols", "array", items={"type": "string"},
          desc="window keys; empty = single-reducer global window"),
        f("aggs", "array", items={"type": "string"},
          desc="subset of sum/count/mean/min/max"),
        f("value_decimals", "integer", default=2,
          desc="fixed-point digits for exact windowed sums"),
        f("out_prefix", "string", default="rolling_"),
        f("allow_global_window", "boolean", default=False),
    ],
    "hll_distinct": [
        f("value_col", "string", required=True),
        f("group_cols", "array", items={"type": "string"}),
        f("lg_k", "integer", default=12, desc="2^lg_k HLL registers; rse ~ 1.04/sqrt(2^lg_k)"),
    ],
    "approx_quantiles": [
        f("value_col", "string", required=True),
        f("probabilities", "array", required=True, items={"type": "number"}),
        f("group_cols", "array", items={"type": "string"}),
        f("accuracy", "integer", default=10000, desc="rank error <= 1/accuracy"),
    ],
}

# jdbc operators are factory-registered per dialect
for _d in ("postgresql", "mariadb", "sqlserver"):
    FIELD_SPECS[f"read_{_d}"] = list(_JDBC_READ)
    FIELD_SPECS[f"write_{_d}"] = list(_JDBC_WRITE)

# A bound operator's fields come from its function's signature
# (``bound_field_specs`` below); this table adds what a signature
# cannot say: a parameter's description and its enum.
FIELD_NOTES: dict[str, dict[str, dict[str, Any]]] = {
    "as_of_join": {
        "on": {"description": "equi-key"},
        "strict": {"description": "strictly-before match"},
    },
    "salted_join": {
        "on": {"description": "equi-join keys"},
        "how": {"enum": ["inner", "left"]},
        "salt_factor": {"description": "reducers a hot probe key spreads over; build side "
                                       "replicates this many times"},
        "collapse_duplicates": {"description": "pre-aggregate IDENTICAL probe rows to one row + "
                                               "count (map-side combine) and re-expand after "
                                               "the join — the deterministic spread for hot "
                                               "keys made of identical tuples, which the "
                                               "row-hash salt cannot scatter"},
    },
    "range_join": {
        "bucket_width": {"description": "candidate bucket width; pick near the median interval "
                                        "width"},
        "how": {"enum": ["inner", "left"]},
        "broadcast_intervals": {"description": "force/forbid broadcasting the exploded interval "
                                               "side (absent = stats-gated auto)"},
    },
    "random_projection": {
        "dim": {"description": "input embedding width"},
        "out_dim": {"description": "projected width (Johnson-Lindenstrauss; keep <=~16)"},
    },
    "semdedup": {
        "threshold": {"description": "within-cluster cosine above this = semantic duplicate"},
        "num_centroids": {"description": "k-means cells; size ~ corpus/expected_cell at scale"},
        "kmeans_iters": {"description": "deterministic Lloyd refinement rounds"},
        "keep": {"description": "survivor policy; far_from_centroid = the SemDeDup paper's "
                                "keep-the-atypical rule",
                 "enum": ["min_id", "far_from_centroid"]},
        "assign_method": {"description": "centroid assignment kernel: expr = bit-stable JVM "
                                         "fold; numpy = BLAS matmul per Arrow batch (faster at "
                                         "large k); auto switches to numpy above 32 centroids",
                          "enum": ["auto", "expr", "numpy"]},
    },
    "cosine_near_dup": {
        "exact": {"description": "full cross product (oracle-checkable) instead of LSH buckets"},
        "num_tables": {"description": "independent LSH tables unioned for recall"},
    },
    "text_analysis": {
        "metrics": {"description": "subset of (n_chars,n_tokens,n_tokens_bpe,punct_ratio,"
                                   "stopword_ratio,mean_token_length,quality_score,lang_pred,"
                                   "lang_pred_ngram,fingerprint,dup_line_frac,"
                                   "dup_line_char_frac,top_bigram_char_frac,alpha_token_frac,"
                                   "bullet_line_frac,ellipsis_line_frac,symbol_token_ratio,"
                                   "gopher_rules_pass)"},
    },
    "multimodal_features": {
        "max_records_per_batch": {"description": "Arrow batch rows (bound blob memory)"},
    },
    "png_features": {
        "on_error": {"description": "null records the failure message per row instead of failing",
                     "enum": ["raise", "null"]},
        "max_records_per_batch": {"description": "Arrow batch rows (bound blob memory)"},
    },
    "image_phash": {
        "grid": {"description": "cell lattice size; hash is grid^2 bits"},
        "on_error": {"enum": ["raise", "null"]},
    },
    "wav_features": {
        "on_error": {"description": "null records the failure message per row; only 16-bit PCM "
                                    "RIFF/WAVE is decodable (loud otherwise)",
                     "enum": ["raise", "null"]},
    },
    "gif_frames": {
        "every_n": {"description": "sample every n-th animation frame"},
        "max_frames": {"description": "cap sampled frames per clip (default unlimited)"},
        "with_phash": {"description": "also emit each sampled frame's aHash fingerprint (the "
                                      "image_phash kernel on the frame rectangle)"},
        "grid": {"description": "phash cell lattice; frames smaller than grid carry NULL phash"},
        "on_error": {"enum": ["raise", "null"]},
    },
    "audio_fingerprint": {
        "bands": {"description": "energy windows = fingerprint bits (2..1024); bit w is 1 iff "
                                 "bands*E_w > E_total over the decoded PCM"},
        "on_error": {"enum": ["raise", "null"]},
    },
    "hamming_near_dup_pairs": {
        "fp_col": {"description": "precomputed bit-string fingerprint column (image_phash "
                                  "output, an external simhash, ...)"},
        "max_hamming": {"description": "pair budget; fingerprints split into max_hamming+1 "
                                       "pigeonhole bands (banded equi-join, never all-pairs)"},
        "bits": {"description": "fingerprint length in bits (1..1024); NULL rows drop, "
                                "malformed fingerprints raise at execution"},
        "max_band_freq": {"description": "drop hotter-than-cap band keys (mass-identical "
                                         "content), as in minhash_candidates"},
    },
    "strip_duplicate_spans": {
        "span_tokens": {"description": "minimum duplicated-span length in tokens (Lee et al. "
                                       "use 50)"},
        "min_count": {"description": "corpus occurrence threshold for a span to count as "
                                     "duplicated"},
    },
    "kmeans_cluster": {
        "k": {"description": "number of clusters"},
        "iterations": {"description": "deterministic Lloyd rounds (0 = seeded assignment, the "
                                      "SQL-certifiable shape)"},
        "emit_similarity": {"description": "include cosine to the assigned centroid"},
    },
    "containment_pairs": {
        "threshold": {"description": "|A∩B|/|A| floor — asymmetric (Broder containment)"},
        "max_shingle_freq": {"description": "drop shingles in more docs than this before the "
                                            "join (fan-out cap; containment then only "
                                            "undercounts)"},
    },
    "substring_dup_spans": {
        "span_tokens": {"description": "k-gram length (Lee et al. use 50 tokens)"},
        "min_docs": {"description": "distinct-document threshold for a gram to count as "
                                    "cross-document duplicated"},
        "max_doc_freq": {"description": "optionally EXCLUDE grams in more than this many docs "
                                        "(stopword/boilerplate trade; default no cap)"},
    },
    "substring_dedup": {
        "span_tokens": {"description": "k-gram length (Lee et al. use 50 tokens)"},
        "keep_one": {"description": "preserve each duplicated gram's canonical (smallest doc, "
                                    "start) occurrence — the paper's remove-all-but-one"},
        "max_doc_freq": {"description": "optionally EXCLUDE grams in more than this many docs"},
    },
    "quantile_filter": {
        "q": {"description": "quantile threshold in [0,1]"},
        "keep": {"enum": ["top", "bottom"]},
        "exact": {"description": "exact interpolated percentile (sort-shaped) vs GK sketch"},
        "accuracy": {"description": "approx_percentile accuracy (exact=false)"},
    },
    "shuffle_rows": {
        "key_col": {"description": "unique row key the permutation hashes"},
        "salt": {"description": "epoch seed — new salt = new deterministic permutation"},
        "n_buckets": {"description": "parallel rank groups; offsets collect is one row per "
                                     "bucket"},
    },
    "weighted_sample": {
        "weight_col": {"description": "per-row keep probability = min(1, weight * scale); "
                                      "NULL/negative drops"},
    },
    "take_tokens_per_group": {
        "token_col": {"description": "pre-computed token counts (default whitespace "
                                     "token_count(text))"},
        "order_col": {"description": "best-first prefix by this metric (default: hash order)"},
    },
    "line_dedup": {
        "delimiter": {"description": "line-split regex (Java regex)"},
        "join_sep": {"description": "literal separator for the rewritten text"},
        "max_doc_frac": {"description": "drop lines in > this FRACTION of docs (broadcast "
                                        "narrow rewrite; exactly one of the two thresholds)"},
        "max_doc_freq": {"description": "drop lines in > this many docs ABSOLUTE (anti-join "
                                        "path)"},
        "normalize": {"description": "compare lines lowercased+trimmed (output keeps original "
                                     "bytes)"},
    },
    "lm_score": {
        "discount": {"description": "absolute-discount D in [0,1) (Ney et al. interpolated "
                                    "smoothing)"},
    },
    "pii_scan": {
        "kinds": {"description": "subset of email/credit_card/ssn/ipv4/phone (default all)"},
        "redact": {"description": "additionally emit placeholder-substituted text"},
        "redacted_col": {"description": "output column for redacted text (default "
                                        "<text_col>_redacted)"},
    },
    "corpus_overlap": {
        "group_col": {"description": "corpus slice key (source, lang, crawl snapshot)"},
    },
    "collocations": {
        "min_count": {"description": "minimum bigram corpus count"},
        "top_k": {"description": "pairs returned, by lift"},
    },
    "histogram": {
        "lo": {"description": "lower bound; omitted = data min"},
        "hi": {"description": "upper bound; omitted = data max"},
    },
    "diff_datasets": {
        "compare_cols": {"description": "columns compared null-safely; default: shared non-keys"},
    },
    "scd2_merge": {
        "tracked_cols": {"description": "attributes whose change opens a new version"},
    },
    "bloom_membership": {
        "keys_col": {"description": "key column on the keys port (defaults to key_col)"},
        "m_bits": {"description": "filter positions; size >= ~10*n*k for ~1% FP"},
        "k": {"description": "hash functions"},
        "mode": {"enum": ["flag", "drop", "keep"]},
    },
    "zorder_key": {
        "cols": {"description": "1-4 layout columns whose bucket bits interleave"},
        "method": {"description": "range = min-max grid (deterministic); quantile = approx-CDF "
                                  "buckets for skewed dimensions",
                   "enum": ["range", "quantile"]},
        "partitions": {"description": "when set: range-partition + sort on the z-value (the "
                                      "clustered-write layout)"},
    },
    "cdc_apply": {
        "seq_col": {"description": "per-key change order (LSN / binlog offset / commit ts)"},
        "value_cols": {"description": "full-row-image columns taken from the change; defaults "
                                      "to non-key snapshot columns present in both"},
        "delete_ops": {"description": "op codes meaning delete (default ['D']); every other op "
                                      "upserts"},
    },
    "mmr_rerank": {
        "k": {"description": "picks per query"},
        "fetch_n": {"description": "ANN shortlist size the greedy pass runs over"},
        "lambda_": {"description": "relevance weight: 1 = pure relevance, 0 = pure diversity"},
        "broadcast_corpus": {"description": "force/deny broadcasting the corpus in stage 1"},
    },
    "l_diversity": {
        "sensitive_col": {"description": "a class is safe only with >= l DISTINCT values here"},
        "mode": {"enum": ["drop", "flag"]},
    },
    "k_anonymize": {
        "quasi_cols": {"description": "quasi-identifier columns; a row is kept when >= k rows "
                                      "share its full combination"},
        "mode": {"enum": ["drop", "flag"]},
    },
    "k_core": {
        "k": {"description": "minimum degree"},
        "max_rounds": {"description": "peel-round budget; the peel is monotone, so a truncated "
                                      "run is still a pure function of the graph"},
    },
    "winsorize": {
        "out_col": {"description": "default <value_col>_w"},
    },
    "mad_outliers": {
        "threshold": {"description": "|modified z-score| beyond which a row is an outlier"},
        "broadcast_stats": {"description": "force/forbid broadcasting the per-group stats"},
    },
    "retention_cohorts": {
        "granularity": {"enum": ["day", "week", "month"]},
    },
    "markov_transitions": {
        "order_cols": {"description": "extra sort keys for a total, deterministic order"},
    },
    "event_paths": {
        "order_cols": {"description": "extra sort keys for a total, deterministic order"},
        "max_len": {"description": "journey cap: first N events per entity"},
    },
    "approx_topk": {
        "capacity": {"description": "Misra-Gries counters per partition; exact top-k when the "
                                    "k-th frequency exceeds n/capacity"},
    },
    "bm25": {
        "query": {"description": "query terms (or one whitespace-separated string)"},
        "top_k": {"description": "retrieval mode: return only the best-k documents"},
    },
    "feature_hash": {
        "dim": {"description": "hashed feature dimension; token -> md5(token) mod dim"},
        "signed": {"description": "±1 sign from an independent md5 bit so collisions cancel in "
                                  "expectation (Weinberger et al. 2009)"},
    },
    "pagerank": {
        "iterations": {"description": "fixed power-iteration count (reproducible by design)"},
        "undirected": {"description": "symmetrize edges first (dangling mass becomes zero)"},
        "quantize": {"description": "floor-quantize final ranks at this many decimals"},
        "weight_col": {"description": "weighted mode: mass splits proportionally to this edge "
                                      "weight; parallel edges combine by sum"},
    },
    "knn_graph": {
        "method": {"enum": ["brute_force", "brute_force_numpy", "lsh"]},
        "dim": {"description": "required for method=lsh"},
    },
    "dsir_weights": {
        "num_buckets": {"description": "hashed n-gram feature buckets (paper default order)"},
        "alpha": {"description": "additive smoothing over buckets"},
    },
    "dsir_select": {
        "k": {"description": "documents to select by Gumbel top-k"},
        "salt": {"description": "varies the deterministic Gumbel draw"},
    },
    "cusum": {
        "target": {"description": "in-control mean (config-supplied: a data-derived mean would "
                                  "tie alarms to a float sum's reduction order)"},
        "slack": {"description": "k allowance, half the shift to detect"},
        "threshold": {"description": "alarm when s+ or s- exceeds this (h); omitted = no alarm "
                                     "column values"},
    },
    "holt_linear": {
        "order_cols": {"description": "must totally order rows within a key"},
        "alpha": {"description": "level smoothing, (0,1]"},
        "beta": {"description": "trend smoothing, [0,1]"},
    },
    "holt_winters": {
        "order_cols": {"description": "must totally order rows within a key"},
        "period": {"description": "seasonal cycle length m >= 2"},
        "alpha": {"description": "level smoothing, (0,1]"},
        "beta": {"description": "trend smoothing, [0,1]"},
        "gamma": {"description": "seasonal smoothing, [0,1]"},
    },
    "theil_sen": {
        "time_col": {"description": "numeric time axis (convert timestamps upstream)"},
        "time_divisor": {"description": "slope unit rescale, e.g. 86400e6 for per-day over "
                                        "microsecond times"},
        "max_points": {"description": "per-key observation cap (pairs are quadratic); null "
                                      "skips the guard probe"},
    },
    "benford_deviation": {
        "threshold": {"description": "chi-square alarm level (default: 0.95 critical value at 8 "
                                     "dof); null omits the alarm column"},
    },
    "seasonal_decompose": {
        "order_cols": {"description": "must totally order rows within a key"},
        "period": {"description": "cycle length m >= 2 (2xm centered MA when even)"},
        "value_scale": {"description": "fixed-point units — the window sums stay integer"},
    },
    "welch_ttest": {
        "value_scale": {"description": "fixed-point units per value — moments accumulate "
                                       "exactly in DECIMAL(38,0)"},
        "t_crit": {"description": "|t| bar for the significant flag; null omits it (p-values "
                                  "need the incomplete beta — libm-specific)"},
    },
    "chi2_independence": {
        "categories_a": {"description": "config category list (the psi_drift fixed-edges rule); "
                                        "values outside it are excluded"},
    },
    "kaplan_meier": {
        "duration_col": {"description": "numeric time-to-event"},
        "event_col": {"description": "boolean: true = event observed, false/NULL = "
                                     "right-censored"},
    },
    "mannwhitney_u": {
        "z_crit": {"description": "two-sided critical value; null omits the significant column "
                                  "(no p-values: erf is libm-specific)"},
    },
    "ols_trend": {
        "time_col": {"description": "numeric time axis (convert timestamps upstream)"},
        "x_offset": {"description": "subtract from times so decimal moments stay inside 128 "
                                    "bits (center epochs!)"},
        "value_scale": {"description": "fixed-point units per value (100 = cents)"},
        "time_divisor": {"description": "slope unit rescale, e.g. 86400e6 for per-day over "
                                        "microsecond times"},
    },
    "prop_ztest": {
        "success_col": {"description": "boolean; NULL counts as failure"},
        "z_crit": {"description": "two-sided critical value for the significant flag; null "
                                  "omits it (p-values deliberately absent: erf is libm-specific)"},
    },
    "systematic_sample": {
        "sort_cols": {"description": "must totally order rows (append the id column)"},
        "step": {"description": "keep every step-th record of the global order"},
        "offset": {"description": "0-based, in [0, step)"},
        "rank_col": {"description": "emit the 1-based global rank under this name"},
    },
    "psi_drift": {
        "edges": {"description": "strictly increasing bucket edges (config-supplied from a "
                                 "calibration window — the cusum rule)"},
        "epsilon": {"description": "Laplace smoothing so empty buckets never hit ln(0)"},
        "threshold": {"description": "drift alert level (the published 0.2 band); null omits "
                                     "the drift column"},
    },
    "ewma": {
        "order_cols": {"description": "must totally order rows within a key (add a row id to "
                                      "break timestamp ties)"},
        "alpha": {"description": "smoothing factor in (0, 1]: s = a*x + (1-a)*s"},
    },
    "ks_drift": {
        "group_cols": {"description": "per-group KS (e.g. per feature/segment)"},
    },
    "temporal_join": {
        "on": {"description": "version keys"},
        "ts_col": {"description": "fact event-time column"},
        "how": {"enum": ["inner", "left"]},
    },
    "bpe_tokenize": {
        "num_merges": {"description": "BPE merges to learn (vocab = chars + this)"},
        "max_train_words": {"description": "bounded word-frequency table for training"},
        "emit_tokens": {"description": "also emit the space-joined subword string"},
        "merges": {"description": "pinned merge table [[left, right], ...] — skips training "
                                  "(the frozen-tokenizer shape)"},
    },
    "quality_gate": {
        "pareto_alpha": {"description": "GPT-3 soft-gate shape: keep iff pareto_draw > 1-score"},
    },
    "bfs_distances": {
        "seed_col": {"description": "id column in the seeds input port"},
        "directed": {"description": "follow edges src->dst only"},
    },
    "personalized_pagerank": {
        "seed_col": {"description": "id column in the seeds input port"},
        "directed": {"description": "TrustRank proper: trust flows only along link direction; "
                                    "dangling mass teleports to the seeds"},
    },
    "modularity": {
        "node_col": {"description": "id column in the assignment input port"},
    },
    "dbscan": {
        "eps": {"description": "neighborhood radius"},
        "min_pts": {"description": "core threshold, self included"},
        "max_cell_size": {"description": "loud guard against degenerate grid cells"},
    },
    "louvain": {
        "iterations": {"description": "parity-alternating half-sweeps; use an even count"},
    },
    "louvain_multilevel": {
        "iterations": {"description": "half-sweeps PER LEVEL; use an even count"},
        "levels": {"description": "coarsening depth; every level's fine projection is scored "
                                  "with the exact-integer modularity score and the best wins "
                                  "(ties to the finest), so more levels never lose modularity"},
    },
    "link_predict": {
        "method": {"enum": ["common_neighbors", "resource_allocation", "adamic_adar"]},
        "max_degree": {"description": "common neighbors above this degree are excluded from "
                                      "scoring (the hub fan-out cap)"},
        "exclude_adjacent": {"description": "anti-join existing edges away (prediction mode)"},
        "weight_scale": {"description": "resource_allocation weight = 10^scale div degree"},
    },
    "label_propagation": {
        "iterations": {"description": "fixed synchronous rounds; ties go to the smallest label "
                                      "(deterministic)"},
    },
    "interpolate": {
        "step": {"description": "grid stride: INTERVAL string for timestamps, integer for "
                                "numeric time"},
        "method": {"enum": ["linear", "ffill"]},
    },
    "negative_sample": {
        "k": {"description": "negatives per anchor (up to k when buckets are sparse)"},
        "buckets": {"description": "md5 bucket count; the per-bucket rank window is bounded by "
                                   "n/buckets — raise with the corpus"},
    },
    "assoc_rules": {
        "min_support_count": {"description": "A-priori prune floor: items AND pairs below this "
                                             "absolute count drop"},
        "max_basket_size": {"description": "loud guard on post-prune basket fan-out; runs ONE "
                                           "eager existence probe (a Spark job over the pruned "
                                           "relation) at graph-build time; null skips the probe "
                                           "for known-bounded baskets"},
    },
    "acf": {
        "order_cols": {"description": "must be a TOTAL order within each key (add a unique id "
                                      "as tiebreak)"},
        "value_scale": {"description": "y = floor(v*scale + 0.5) integer units for the exact "
                                       "decimal moments; n^3*y^2 must fit 38 digits (~1e8 "
                                       "points/key at scale 100) — overflow raises at execution "
                                       "instead of emitting NULL"},
    },
    "ccf": {
        "max_lag": {"description": "emits row lags -max_lag..+max_lag; positive = x leads y"},
    },
    "url_parts": {
        "prefix": {"description": "output column prefix: scheme/host/domain/path/query"},
    },
    "mix_corpora": {
        "weights": {"description": "group -> mixture weight (whitelist; normalized config-side)"},
        "token_col": {"description": "pre-computed token counts (default whitespace "
                                     "token_count(text))"},
    },
    "decontaminate": {
        "bench_text_col": {"description": "benchmark-side text column (defaults to text_col)"},
        "ngram_n": {"description": "token n-gram size for overlap detection"},
        "max_matches": {"description": "flag docs with MORE than this many benchmark n-grams"},
        "hash_keys": {"description": "join on xxhash64(ngram) (narrower shuffle, ~2^-64 phantom "
                                     "risk)"},
    },
    "near_dup_clusters": {
        "max_iters": {"description": "label-propagation round cap"},
        "driver_max_edges": {"description": "edge count under which CC runs as driver-side "
                                            "union-find (0 = always distributed)"},
    },
    "json_expand": {
        "fields": {"description": "[{name, data_type}] top-level JSON keys to expand as typed "
                                  "columns"},
    },
    "zscore_outliers": {
        "threshold": {"description": "|zscore| above this flags an outlier"},
    },
    "densify_buckets": {
        "step": {"description": "bucket stride, e.g. 'INTERVAL 1 HOUR'"},
        "agg_cols": {"description": "output name -> 'sum:col' | 'count:*'"},
    },
    "stratified_sample": {
        "key_col": {"description": "deterministic md5-bucket key"},
        "strata_col": {"description": "stratum column (lang, source, ...)"},
        "rates": {"description": "stratum value -> keep fraction"},
        "default_rate": {"description": "rate for strata not in 'rates' (incl. NULL)"},
    },
    "cap_per_group": {
        "key_col": {"description": "hash-order selection key / tie-break within each group"},
        "order_col": {"description": "rank by this metric instead of hash order (top-N per "
                                     "group)"},
    },
    "chunk_documents": {
        "overlap": {"description": "tokens shared by consecutive chunks"},
    },
    "pack_sequences": {
        "capacity": {"description": "token budget per training sequence"},
        "shards": {"description": "independent packing shards (parallelism of the layout sort)"},
    },
    "pivot": {
        "values": {"description": "declared pivot values (no inference scan; bounded schema)"},
        "agg": {"enum": ["count", "sum", "min", "max", "mean"]},
    },
    "interval_join": {
        "bucket_width": {"description": "bucketization width; pick near the median interval "
                                        "width"},
        "suffix": {"description": "suffix for right columns colliding with left names"},
    },
    "funnel": {
        "steps": {"description": "ordered step types; each must occur strictly after the "
                                 "previous"},
        "broadcast_stages": {"description": "force/suppress the stage-table broadcast; default: "
                                            "stats-gated"},
    },
    "profile": {
        "columns": {"description": "default: every column"},
        "approx_ndv": {"description": "HLL NDV in the single stats pass; false = exact count "
                                      "distinct (separate Expand pass)"},
    },
}

_JSON_TYPES = {
    int: "integer", float: "number", bool: "boolean", str: "string",
    list: "array", tuple: "array", dict: "object",
}


def _json_type(hint: Any, where: str) -> tuple[str | list[str], dict[str, Any] | None]:
    """(JSON type, ``items`` or None) of a parameter annotation. ``X |
    None`` is ``X``; any other union lists its members' types in order,
    without ``Column`` and without ``int`` beside ``float``."""
    members = get_args(hint) if get_origin(hint) in (Union, types.UnionType) else (hint,)
    members = [m for m in members if m not in (Column, type(None))]
    members = [m for m in members if not (m is int and float in members)]
    bases = [get_origin(m) or m for m in members]
    if not bases or not all(b in _JSON_TYPES for b in bases):
        raise TypeError(f"{where}: annotation {hint!r} maps to no JSON type")
    jtypes = [_JSON_TYPES[b] for b in bases]
    items = None
    for member, base in zip(members, bases):
        if base in (list, tuple) and get_args(member):
            items = {"type": _json_type(get_args(member)[0], where)[0]}
    return (jtypes[0] if len(jtypes) == 1 else jtypes), items


def _signature_fields(
    cls: type[BoundOperator], notes: dict[str, dict[str, Any]]
) -> list[dict[str, Any]]:
    name = cls.registry_name
    unknown = set(notes) - {param for param, *_ in cls.params}
    if unknown:
        raise TypeError(f"field notes of {name} name no parameters {sorted(unknown)}")
    hints = get_type_hints(cls.function)
    fields = []
    for param, default, _, _ in cls.params:
        note = notes.get(param, {})
        if not set(note) <= {"description", "enum"}:
            raise TypeError(f"field note {name}.{param} may hold only description and enum")
        jtype, items = _json_type(hints.get(param), f"{name}.{param}")
        required = param in cls.required
        if isinstance(default, tuple):
            default = list(default)
        fields.append(f(
            param, jtype, required=required, default=None if required else default,
            desc=note.get("description", ""), enum=note.get("enum"), items=items,
        ))
    return fields


def bound_field_specs(
    notes: dict[str, dict[str, dict[str, Any]]],
) -> dict[str, list[dict[str, Any]]]:
    """The field specs of every bound operator, from its function's
    signature: its config parameters in order, typed by annotation,
    required as the binding requires them, and defaulted as the
    signature defaults them (a required key shows no default).
    ``notes[operator][parameter]`` adds a description and an enum; a
    note naming anything else raises ``TypeError``."""
    bound = [n for n in operator_names() if issubclass(get_operator(n), BoundOperator)]
    unknown = set(notes) - set(bound)
    if unknown:
        raise TypeError(f"field notes name no bound operators {sorted(unknown)}")
    return {n: _signature_fields(get_operator(n), notes.get(n, {})) for n in bound}


for _name, _fields in bound_field_specs(FIELD_NOTES).items():
    if _name in FIELD_SPECS:
        raise TypeError(f"{_name} is a bound operator: its fields come from its signature")
    FIELD_SPECS[_name] = _fields

VIEWS = ("form", "full", "hidden")


def component_types() -> list[str]:
    return operator_names()


def component_schema(comp_type: str, view: str = "form") -> dict[str, Any]:
    """JSON Schema for one component's config (``params`` in the job
    document). Views mirror the reference router: ``form`` strips
    hidden fields, ``full`` keeps everything, ``hidden`` keeps only
    hidden fields (reference ``schemas.py:410-520``)."""
    if view not in VIEWS:
        raise OperatorConfigError(f"unknown schema view {view!r}; known: {VIEWS}")
    if comp_type not in FIELD_SPECS:
        if comp_type in operator_names():
            raise OperatorConfigError(f"no field spec recorded for {comp_type!r}")
        raise KeyError(f"unknown component type {comp_type!r}")
    fields = FIELD_SPECS[comp_type]
    if view == "form":
        fields = [s for s in fields if not s["hidden"]]
    elif view == "hidden":
        fields = [s for s in fields if s["hidden"]]
    props: dict[str, Any] = {}
    required: list[str] = []
    for spec in fields:
        prop: dict[str, Any] = {"type": spec["type"]}
        for key in ("default", "description", "enum", "items"):
            if key in spec:
                prop[key] = spec[key]
        props[spec["name"]] = prop
        if spec["required"]:
            required.append(spec["name"])
    schema: dict[str, Any] = {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "title": comp_type,
        "type": "object",
        "properties": props,
        "additionalProperties": True,
    }
    if required:
        schema["required"] = required
    return schema


def job_schema() -> dict[str, Any]:
    """JSON Schema of the job document (``JobConfig.from_dict``),
    mirroring reference ``GET /configs/job`` (``schemas.py:362-388``;
    job model ``runtimejob.py:37-67``). $defs preserved, not inlined."""
    return {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "title": "Job",
        "type": "object",
        "properties": {
            "name": {"type": "string"},
            "num_of_retries": {"type": "integer", "default": 0},
            "metadata": {"type": "object"},
            "components": {"type": "array", "items": {"$ref": "#/$defs/component"}},
        },
        "required": ["name", "components"],
        "$defs": {
            "component": {
                "type": "object",
                "properties": {
                    "name": {"type": "string"},
                    "comp_type": {"type": "string", "enum": component_types()},
                    "routes": {
                        "type": "object",
                        "description": "out_port -> [edge]",
                        "additionalProperties": {
                            "type": "array", "items": {"$ref": "#/$defs/edge"}
                        },
                    },
                    "port_schemas": {"type": "object"},
                    "strategy_type": {
                        "type": "string",
                        "description": "parsed for reference compatibility; single Spark engine",
                    },
                },
                "required": ["name", "comp_type"],
                "additionalProperties": True,
            },
            "edge": {
                "oneOf": [
                    {"type": "string", "description": "target component name"},
                    {
                        "type": "object",
                        "properties": {
                            "to": {"type": "string"},
                            "in_port": {"type": "string", "default": "in"},
                        },
                        "required": ["to"],
                    },
                ]
            },
        },
    }
