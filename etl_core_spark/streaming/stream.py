"""Structured Streaming layer (beyond-reference).

The reference's "streaming" is asyncio back-pressure inside a bounded
batch job — no event time, watermarks, or state (SURVEY.md §2.8).
This module adds real streaming capability with Spark primitives:

- ``read_stream``: file / rate sources with explicit schemas (no
  inference on streams).
- ``windowed_aggregate``: event-time tumbling/sliding windows with a
  watermark for late data.
- ``sessionize``: custom stateful operator via
  ``applyInPandasWithState`` — per-key session windows with a gap
  timeout, the canonical "operator Spark lacks" example.
- ``write_stream_foreach_batch``: reuse any batch sink operator for
  each micro-batch, which is how the engine's batch operator library
  serves streaming jobs unchanged.

Scale: state lives in the state store (RocksDB on a real cluster —
set ``spark.sql.streaming.stateStore.providerClass``); watermarks
bound state size, shuffle partitioning of keys is the same hash
shuffle as batch groupBy.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from etl_core_spark.schema import Schema
from etl_core_spark.session import checkpoint, run_scope


def read_stream(
    spark: SparkSession,
    fmt: str,
    path: str | None = None,
    schema: Schema | T.StructType | None = None,
    options: dict[str, Any] | None = None,
) -> DataFrame:
    reader = spark.readStream.format(fmt)
    if schema is not None:
        st = schema.to_struct_type() if isinstance(schema, Schema) else schema
        reader = reader.schema(st)
    for k, v in (options or {}).items():
        reader = reader.option(k, str(v))
    if path is not None:
        reader = reader.option("path", path)
    return reader.load()


def streaming_dedup(
    df: DataFrame,
    keys: list[str],
    event_time_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exact dedup over an unbounded stream with BOUNDED state.

    ``dropDuplicates`` on a stream keeps every key ever seen — state
    grows without bound and a 100 TB/day feed kills the state store
    in hours. ``dropDuplicatesWithinWatermark`` evicts keys once the
    watermark passes them: a duplicate arriving within the watermark
    window is dropped, one arriving later than the watermark is
    treated as new (the documented trade — dedup horizon = watermark
    horizon). This is the streaming face of ``exact_dedup``: same
    hash-shuffle on the key columns, state store instead of a
    groupBy, first-arrival survivor instead of min-id (a stream has
    no total order to pick min over).
    """
    if df.isStreaming and isinstance(
        df.schema[event_time_col].dataType, T.TimestampNTZType
    ):
        # watermarks require ltz; UTC session pins instants (the
        # windowed_aggregate / sessionize convention)
        df = df.withColumn(
            event_time_col, F.col(event_time_col).cast("timestamp")
        )
    out = df.withWatermark(event_time_col, watermark)
    return out.dropDuplicatesWithinWatermark(list(keys))


def windowed_aggregate(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    aggs: list[tuple[str, str, str]],
    group_by: list[str] | None = None,
    slide_duration: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time windowed aggregation with late-data watermark.

    ``aggs``: (src, op, dest) triples reusing the batch aggregation
    op names. Works identically on batch DataFrames (window is just a
    grouping expression), which is how the oracle checks it.
    """
    from etl_core_spark.operators.aggregation import _AGG_FUNCS

    if df.isStreaming:
        # watermarks require TIMESTAMP (ltz); NTZ event time is cast
        # in-place (session tz is UTC, so instants are unchanged)
        if isinstance(df.schema[ts_col].dataType, T.TimestampNTZType):
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        df = df.withWatermark(ts_col, watermark)
    w = (
        F.window(F.col(ts_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(ts_col), window_duration)
    )
    cols = [_AGG_FUNCS[op](src).alias(dest) for src, op, dest in aggs]
    keys = [w.alias("window")] + [F.col(g) for g in (group_by or [])]
    return df.groupBy(*keys).agg(*cols)


_SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_ts", T.DoubleType()),
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
    ]
)


SESSION_GAP_SECONDS = 30 * 60


def _sessions_frame(user_id, sessions: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(sessions),
            "session_start": [pd.Timestamp(s[0], unit="s") for s in sessions],
            "session_end": [pd.Timestamp(s[1], unit="s") for s in sessions],
            "n_events": [s[2] for s in sessions],
        }
    )


def _session_func(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Event-time gap sessionization (runs per key group).

    Gaps are measured in EVENT time, not wall time — same semantics as
    the batch window-function analog, so replaying history yields
    identical sessions. Two emission paths: a within-batch gap closes
    the open session immediately; otherwise the event-time timer fires
    once the watermark passes last_event + gap.
    """
    gap_s = SESSION_GAP_SECONDS
    if state.hasTimedOut:
        start_ts, last_ts, n = state.get
        state.remove()
        yield _sessions_frame(key[0], [(start_ts, last_ts, n)])
        return
    ts_values: list[float] = []
    for pdf in pdfs:
        ts_values.extend(pdf["ts"].astype("int64").floordiv(1_000_000_000).tolist())
    if not ts_values:
        return
    ts_values.sort()
    if state.exists:
        cur_start, cur_last, cur_n = state.get
    else:
        cur_start, cur_last, cur_n = float(ts_values[0]), float(ts_values[0]), 0
    closed: list[tuple] = []
    for t in ts_values:
        if t - cur_last > gap_s:
            closed.append((cur_start, cur_last, cur_n))
            cur_start, cur_last, cur_n = float(t), float(t), 1
        else:
            cur_last = max(cur_last, float(t))
            cur_n += 1
    state.update((cur_start, cur_last, cur_n))
    # the timer must sit above the current watermark to be legal
    state.setTimeoutTimestamp(
        max(int((cur_last + gap_s) * 1000), state.getCurrentWatermarkMs() + 1)
    )
    if closed:
        yield _sessions_frame(key[0], closed)


def sessionize(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-user session windows
    with a 30-minute inactivity gap (applyInPandasWithState,
    EventTimeTimeout — sessions close deterministically as the
    watermark advances, including within one availableNow run)."""
    if isinstance(events.schema["ts"].dataType, T.TimestampNTZType):
        # watermarks require ltz; UTC session pin keeps instants equal
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_func,
            outputStructType=_SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def write_stream_foreach_batch(
    df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Route a stream through any batch sink operator per micro-batch."""
    writer = df.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _table_exists(spark: SparkSession, path: str) -> bool:
    """Existence check that works on ANY Hadoop filesystem (HDFS, S3A,
    local) — ``os.path.exists`` only sees the local FS, so on a remote
    store an existing table would look absent, the carry-over merge
    would be skipped, and the dynamic partition overwrite would
    silently drop unchanged groups' rows from touched windows.
    Delegates to the one shared helper so URI/encoding fixes land in
    one place."""
    from etl_core_spark.sources.hadoop_fs import fs_exists

    return fs_exists(spark, path)


def incremental_rollup(
    stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    ts_col: str,
    window: str,
    group_cols: list[str],
    agg_cols: dict[str, str],
    watermark: str | None = "1 hour",
    trigger_once: bool = True,
):
    """Maintain a queryable rollup TABLE from an unbounded stream —
    the incremental-materialized-view pattern over plain parquet.

    Each micro-batch aggregates to (window_start, *group_cols) in
    update mode, then rewrites ONLY the partitions that batch touched
    via dynamic partition overwrite (``partitionOverwriteMode=
    dynamic`` scoped to this writer). Readers see complete, current
    values for every window partition; untouched history is never
    rewritten. This is how a 100 TB/day feed keeps an hourly rollup
    fresh without either unbounded streaming state in a sink or a
    daily full recompute: state is bounded by the watermark, and I/O
    per batch is bounded by the partitions the batch's events fall
    into.

    ``agg_cols`` maps output name → "sum:col" | "count:*" (the
    densify_buckets spec). The parquet table is partitioned by
    ``__window`` (the window start, formatted) so the overwrite unit
    = the window. ``watermark=None`` means the input stream ALREADY
    carries its event-time watermark (e.g. it went through
    ``dropDuplicatesWithinWatermark`` upstream) — Spark disallows
    redefining one on the same chain.
    """
    aggs = []
    for out_name, spec in agg_cols.items():
        op, _, col = spec.partition(":")
        if op == "count":
            aggs.append(F.count(F.lit(1)).alias(out_name))
        elif op == "sum":
            aggs.append(F.sum(col).alias(out_name))
        else:
            raise ValueError(f"unknown rollup agg {spec!r}")

    if watermark is not None:
        stream = stream.withWatermark(ts_col, watermark)
    agg = (
        stream.groupBy(F.window(ts_col, window).alias("__w"), *group_cols)
        .agg(*aggs)
        .select(
            F.date_format("__w.start", "yyyy-MM-dd-HH-mm").alias("__window"),
            *group_cols,
            *agg_cols.keys(),
        )
    )

    @run_scope()  # one scope per micro-batch, freed once it is written
    def upsert_partitions(batch_df: DataFrame, batch_id: int) -> None:
        # update mode emits only the (window, group) rows that CHANGED
        # this batch (with cumulative values). Overwriting a window
        # partition with just those rows would drop the window's
        # unchanged groups — so merge: carry over existing rows the
        # batch didn't touch, then dynamically overwrite only the
        # affected window partitions. The carried read is partition-
        # pruned to those windows, so per-batch I/O stays proportional
        # to the windows the batch touched, never the table.
        spark = batch_df.sparkSession
        batch_df = checkpoint(batch_df)  # detach from streaming lineage
        if batch_df.isEmpty():
            # Update mode emits NOTHING until the watermark first
            # advances — a live source's first micro-batches are
            # empty. Writing an empty overwrite here would create a
            # directory with a _SUCCESS marker and zero parquet
            # files; every later batch's carried read then dies on
            # UNABLE_TO_INFER_SCHEMA (found by the rate soak).
            return
        merged = batch_df
        if _table_exists(spark, table_path):
            windows = [r["__window"] for r in batch_df.select("__window").distinct().collect()]
            if not windows:
                return
            existing = spark.read.parquet(table_path).where(
                F.col("__window").isin(windows)
            )
            carried = checkpoint(existing.join(
                batch_df.select("__window", *group_cols),
                on=["__window", *group_cols],
                how="left_anti",
            ))  # detach lineage from table_path: the write below
            # overwrites the very partitions being read
            merged = batch_df.unionByName(carried)
        # per-WRITE dynamic overwrite: mutating the session conf here
        # raced with any concurrent write on the same SparkSession
        # (another stream's batch, a parallel batch job)
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__window")
            .parquet(table_path)
        )

    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(upsert_partitions)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_incremental_dedup(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    trigger_once: bool = True,
):
    """Continuous crawl dedup over the persistent MinHash index
    (operators/dedup.py): each micro-batch

    1. near-dup dedups WITHIN itself (exact-Jaccard verify, min-id
       survivor — the batch operator unchanged),
    2. drops survivors that near-dup the ALREADY-INDEXED corpus
       (signature-agreement estimate ≥ ``threshold``),
    3. appends the remaining docs' signatures to the index, and
    4. appends those docs to the ``out_path`` parquet table.

    So every doc is compared against everything that arrived before
    it — across batches, restarts included (the index IS the state,
    no streaming state store involved) — while per-batch cost stays
    batch-sized: one index scan + broadcast band join, never a corpus
    recompute.

    Exactly-once caveat (documented, not hidden): foreachBatch gives
    at-least-once for EXTERNAL writes — a batch retried after a crash
    between steps 3 and 4 can append its signatures (and rows) twice.
    Re-runs are idempotent at the QUERY level (a doc that re-arrives
    matches its own indexed signature at estimate 1.0 and is dropped
    in step 2 — self-pairs are excluded by id, so only true re-runs
    with the same ids pass through), and a periodic exact_dedup
    compaction of the index/out tables by id restores exactness; use
    a transactional table format when you need it guaranteed."""
    from etl_core_spark.operators.dedup import (
        _drop_dups,
        incremental_near_dup_pairs,
        minhash_dedup_pairs,
        minhash_index_update,
        read_index_meta,
    )

    @run_scope()  # one scope per micro-batch, freed once it is written
    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = checkpoint(batch_df)
        if batch_df.isEmpty():
            return
        pairs_in = minhash_dedup_pairs(
            batch_df, text_col, id_col, threshold, num_hashes, bands, shingle_n
        )
        survivors = _drop_dups(batch_df, pairs_in, id_col, {})
        if read_index_meta(index_path) is not None:
            matched = (
                incremental_near_dup_pairs(
                    survivors, index_path, text_col, id_col, threshold
                )
                .select(F.col("id_new").alias(id_col))
                .distinct()
            )
            survivors = survivors.join(matched, on=id_col, how="left_anti")
        survivors = checkpoint(survivors)  # one computation feeds
        # both writes below (and detaches from the index being appended)
        if survivors.isEmpty():
            # a batch whose docs ALL match the indexed corpus (e.g. an
            # at-least-once re-run) has nothing to index or append;
            # writing would leave a _SUCCESS-only directory that later
            # reads of out_path fail on (UNABLE_TO_INFER_SCHEMA) —
            # same guard as the top of process()
            return
        minhash_index_update(
            survivors, text_col, id_col, index_path, num_hashes, bands, shingle_n
        )
        survivors.write.mode("append").parquet(out_path)

    writer = (
        stream.writeStream.outputMode("append")
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_export_shards(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str,
    n_shards: int = 16,
    fmt: str = "parquet",
    salt: str = "",
    trigger_once: bool = True,
):
    """Continuous sharded export: every micro-batch appends its rows
    into the deterministic shard layout (sources/export_io.py) and
    refreshes ``_manifest.json`` from the DIRECTORY, so the manifest
    always describes the full export regardless of how many batches
    produced it. Shard membership is key-hashed — a document lands in
    the same shard whichever batch delivers it, so downstream loaders
    can stripe before the stream finishes.

    Manifest cost model: with ``trigger_once=True`` (the default)
    the manifest is recomputed from the DIRECTORY — self-healing and
    paid once. A CONTINUOUS stream doing that would re-scan the
    whole export every micro-batch: O(total-exported) per batch,
    quadratic over the stream's lifetime. So for
    ``trigger_once=False`` the manifest is maintained
    INCREMENTALLY: per-shard row counts and fingerprint residues
    (modular sums — they compose by addition, see
    export_io.shard_stats) are seeded once from the existing
    manifest (or one directory scan when resuming a manifest-less
    export) and folded forward with each batch's own bounded
    n_shards-row stats. Per-batch work is then O(batch), and the
    micro-batch DataFrame is offset-pinned by the source, so the
    stats re-evaluation is deterministic.

    At-least-once caveat (the foreachBatch contract, same as
    streaming_incremental_dedup): a crash-retried batch appends its
    rows twice. In rescan mode the manifest stays CONSISTENT with
    the directory (recomputed from data). In incremental mode a
    crash BETWEEN the data append and the manifest refresh leaves
    the replayed rows' first copy uncounted — run
    ``export_shards(..., mode="append")`` once (or any empty-batch
    rescan) to resync; the periodic exact_dedup compaction that
    at-least-once delivery already requires restores exactness."""

    # driver-side running residues for the incremental (continuous)
    # path; keyed state lives exactly as long as the query object
    running: dict = {"by_shard": None}

    @run_scope()  # one scope per micro-batch, freed once it is written
    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            # an empty micro-batch must not churn the manifest (or
            # create an empty export on the first trigger)
            return
        from etl_core_spark.sources.export_io import export_shards

        if trigger_once:
            export_shards(
                batch_df, out_dir, key_col, n_shards, fmt, salt, mode="append"
            )
            return

        from etl_core_spark.sources.export_io import (
            _FP_MOD,
            build_manifest,
            read_manifest,
            shard_col,
            shard_stats,
            write_manifest,
        )

        spark = batch_df.sparkSession
        if running["by_shard"] is None:
            # seed once: prior manifest if present, else a one-time
            # directory scan (resuming an export whose manifest was
            # lost), else an empty export
            try:
                m = read_manifest(spark, out_dir)
                running["by_shard"] = {
                    s["shard"]: (s["rows"], s["fingerprint"])
                    for s in m["shards"]
                }
            except FileNotFoundError:
                # seed-from-directory only when the export dir truly
                # holds data files. The former broad except here could
                # swallow a TRANSIENT read failure on a directory that
                # DOES hold data, permanently seeding {} and
                # undercounting every shard in the manifest — so probe
                # the FS directly (hidden/_metadata files ignored) and
                # let any read failure on a data-bearing dir propagate.
                from etl_core_spark.sources.hadoop_fs import (
                    fs_has_data_files,
                )

                if fs_has_data_files(spark, out_dir):
                    prior = spark.read.format(fmt).load(out_dir)
                    running["by_shard"] = shard_stats(prior, key_col, salt)
                else:
                    running["by_shard"] = {}
        with_shard = checkpoint(batch_df.withColumn(
            "shard", shard_col(key_col, salt, int(n_shards))
        ))  # one computation feeds write AND stats
        (
            with_shard.write.mode("append")
            .partitionBy("shard")
            .format(fmt)
            .save(out_dir)
        )
        acc = running["by_shard"]
        for shard, (rows, fp) in shard_stats(
            with_shard, key_col, salt
        ).items():
            r0, f0 = acc.get(shard, (0, 0))
            acc[shard] = (r0 + rows, (f0 + fp) % _FP_MOD)
        write_manifest(
            spark,
            out_dir,
            build_manifest(int(n_shards), fmt, key_col, salt, acc),
        )

    writer = (
        stream.writeStream.outputMode("append")
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def attribution_join(
    views: DataFrame,
    purchases: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each purchase paired with every view
    by the same user in the preceding ``max_lag`` — the classic
    attribution shape. Works identically on batch AND streaming
    inputs (the batch form is what the DuckDB oracle certifies).

    On streams both sides get a watermark and the time-interval
    condition bounds join state: Spark evicts buffered view rows once
    the purchase-side watermark passes view_ts + max_lag, so state is
    O(events within the lag window), not O(stream). This is the
    standard watermarked stream-stream join contract — without the
    interval condition the state would grow unboundedly and Spark
    rejects append-mode output.

    Returns (<user_col>, view_ts, purchase_ts, lag_seconds).
    """
    v = views.select(
        F.col(user_col).alias("__u"), F.col(ts_col).alias("view_ts")
    )
    p = purchases.select(
        F.col(user_col).alias("__pu"), F.col(ts_col).alias("purchase_ts")
    )
    if views.isStreaming:
        v = v.withWatermark("view_ts", watermark)
    if purchases.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("__u") == F.col("__pu"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_lag}"))
    )
    return (
        v.join(p, cond, "inner")
        .select(
            F.col("__u").alias(user_col),
            "view_ts",
            "purchase_ts",
            (
                F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts")
            ).cast("long").alias("lag_seconds"),
        )
    )


_TOPK_OUT_SCHEMA = "shard int, value string, mg_count bigint"
_TOPK_STATE_SCHEMA = "values array<string>, counts array<bigint>"


def streaming_topk(
    values: DataFrame,
    col: str = "value",
    capacity: int = 1024,
    n_shards: int = 8,
) -> DataFrame:
    """Streaming heavy hitters: Misra-Gries counters maintained in
    sharded stream state — the continuous analog of the batch
    ``approx_topk`` (same batched-decrement merge, same superset
    guarantee per shard: any value with frequency > n_shard/capacity
    since stream start survives its shard). Emits the full counter
    snapshot of every touched shard each micro-batch (``update``
    semantics): ``(shard, value, mg_count)`` where mg_count is the
    classical MG LOWER bound on the true count. For exact final
    counts run the batch recount over the archived stream — a sketch
    state cannot recount what it has already evicted.

    Scale shape: values hash-shard across ``n_shards`` state
    partitions (state parallelism without a global hot key); state
    per shard is bounded by ``capacity`` counters FOREVER — no
    watermark needed, nothing grows with the stream; each batch's
    per-shard work is one pandas value_counts merge (C speed, never
    a per-row Python loop). Snapshot emission is capacity-bounded,
    not stream-bounded.
    """
    if int(capacity) < 1 or int(n_shards) < 1:
        raise ValueError("streaming_topk needs capacity >= 1, n_shards >= 1")
    cap = int(capacity)

    def mg_merge(key: tuple, pdfs, state: GroupState):
        counters = pd.Series(dtype="int64")
        if state.exists:
            vals, cnts = state.get
            counters = pd.Series(cnts, index=vals, dtype="int64")
        for pdf in pdfs:
            counters = counters.add(
                pdf["__v"].value_counts(), fill_value=0
            ).astype("int64")
            if len(counters) > cap:
                t = counters.nlargest(cap + 1).iloc[-1]
                counters = counters - t
                counters = counters[counters > 0]
        counters = counters.sort_index()
        state.update(
            (counters.index.tolist(), [int(x) for x in counters.tolist()])
        )
        yield pd.DataFrame(
            {
                "shard": [int(key[0])] * len(counters),
                "value": counters.index.astype(str),
                "mg_count": counters.values,
            }
        )

    batch = values.select(
        F.pmod(F.xxhash64(F.col(col).cast("string")), F.lit(int(n_shards)))
        .cast("int")
        .alias("__shard"),
        F.col(col).cast("string").alias("__v"),
    ).where(F.col("__v").isNotNull())
    return batch.groupBy("__shard").applyInPandasWithState(
        mg_merge,
        outputStructType=_TOPK_OUT_SCHEMA,
        stateStructType=_TOPK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_psi(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    edges: list[float],
    reference_counts: list[int],
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
    epsilon: float = 1e-4,
    threshold: float | None = 0.2,
    quantize: int = 6,
) -> DataFrame:
    """Streaming Population Stability Index: per event-time window,
    bucket the value stream over FIXED config ``edges`` and score the
    window's distribution against a STATIC calibration histogram
    (``reference_counts``, one int per bucket — from a batch
    calibration run). The production drift monitor as a stream: each
    closed window emits (window, n, psi, drift) once the watermark
    passes, so a dashboard sees one drift score per window per key of
    time — no unbounded state beyond the open windows.

    Determinism pins (the psi_drift conventions): reference shares
    fold DRIVER-side from the config ints into double literals; the
    window's shares are Laplace-smoothed in-engine from exact counts;
    the bucket sum is a fixed-order expression. Works identically on
    a batch DataFrame (window() is just a grouping expression), which
    is how the stream-vs-batch certification replays it.

    Scale shape: ONE streaming windowed aggregate (B conditional int
    counts — map-side combinable, state bounded by open windows) and
    a fixed scalar projection. Nothing else.
    """
    from etl_core_spark.operators.base import OperatorConfigError
    from etl_core_spark.operators.compare import bucket_index

    es = [float(e) for e in edges]
    if not es or sorted(es) != es or len(set(es)) != len(es):
        raise OperatorConfigError(
            "streaming_psi requires strictly increasing edges"
        )
    nb = len(es) + 1
    if len(reference_counts) != nb:
        raise OperatorConfigError(
            f"streaming_psi needs len(edges)+1 = {nb} reference_counts, "
            f"got {len(reference_counts)}"
        )
    if float(epsilon) <= 0:
        raise OperatorConfigError("streaming_psi epsilon must be > 0")
    eps = float(epsilon)
    q = float(10 ** int(quantize))
    ref_tot = float(sum(int(c) for c in reference_counts))
    ref_shares = [
        (float(int(c)) + eps) / (ref_tot + float(nb) * eps)
        for c in reference_counts
    ]

    if df.isStreaming:
        if isinstance(df.schema[ts_col].dataType, T.TimestampNTZType):
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        df = df.withWatermark(ts_col, watermark)
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        F.col(ts_col).alias("__ts"), bucket_index(v, es).alias("__b")
    )
    counts = [
        F.sum(F.when(F.col("__b") == i, 1).otherwise(0)).alias(f"__a{i}")
        for i in range(nb)
    ]
    agged = base.groupBy(
        F.window(F.col("__ts"), window_duration).alias("window")
    ).agg(*counts)

    n = None
    for i in range(nb):
        c = F.col(f"__a{i}")
        n = c if n is None else n + c
    n = n.cast("long").alias("n")
    agged = agged.select("window", *[f"__a{i}" for i in range(nb)], n)

    psi = None
    for i in range(nb):
        a_i = (F.col(f"__a{i}").cast("double") + F.lit(eps)) / (
            F.col("n").cast("double") + F.lit(float(nb) * eps)
        )
        e_i = F.lit(ref_shares[i])
        term = (a_i - e_i) * F.log(a_i / e_i)
        psi = term if psi is None else psi + term

    return agged.select(
        "window",
        "n",
        (F.floor(psi * F.lit(q)) / F.lit(q)).alias("psi"),
        *(
            [(psi > F.lit(float(threshold))).alias("drift")]
            if threshold is not None
            else []
        ),
    )
