import pytest
from pyspark.sql import functions as F

from etl_core_spark.operators.base import get_operator
from etl_core_spark.operators.multimodal import (
    extract_features,
    frame_sample,
    synthetic_media,
)
from etl_core_spark.streaming import windowed_aggregate


def test_multimodal_feature_extraction(spark):
    media = synthetic_media(spark, n=32, payload_bytes=100)
    feats = extract_features(media, feature_dim=8)
    rows = feats.collect()
    assert len(rows) == 32
    for r in rows:
        assert r["n_bytes"] == 100
        assert len(r["sha256"]) == 64
        assert len(r["feature"]) == 8
        assert all(0.0 <= x <= 1.0 for x in r["feature"])
    # determinism: same payload → same feature
    again = {r["media_id"]: r["feature"] for r in extract_features(media, feature_dim=8).collect()}
    assert all(again[r["media_id"]] == r["feature"] for r in rows)


def test_multimodal_operator_registered(spark):
    media = synthetic_media(spark, n=4)
    out = get_operator("multimodal_features")(feature_dim=4).apply({"in": media})["out"]
    assert out.count() == 4
    assert out.schema["feature"].dataType.simpleString() == "array<float>"


def test_frame_sampling(spark):
    media = synthetic_media(spark, n=4)
    frames = frame_sample(media, every_ms=500)
    audio = frames.where(F.col("media_id") == 1).collect()
    # duration 2000ms sampled every 500ms → 5 frames (0..2000 inclusive)
    assert len(audio) == 5
    image = frames.where(F.col("media_id") == 0).collect()
    assert len(image) == 1  # no duration → single frame at 0


def test_windowed_aggregate_batch_semantics(tables, duck):
    """Event-time tumbling window on the bounded events table —
    identical grouping to the oracle's date_trunc."""
    out = windowed_aggregate(
        tables["events"],
        ts_col="ts",
        window_duration="1 hour",
        aggs=[("value", "sum", "sum_value"), ("*", "count", "n")],
        group_by=["event_type"],
    ).select(
        F.col("window.start").alias("ws"), "event_type", "sum_value", "n"
    )
    want = duck.execute(
        """
        SELECT date_trunc('hour', ts) AS ws, event_type,
               sum(value) AS sum_value, count(*) AS n
        FROM events GROUP BY 1, 2
        """
    ).fetchall()
    from tests.conftest import assert_df_equal

    assert_df_equal(out, want, approx=1e-6)


def test_streaming_windowed_aggregate(spark, tmp_path, tables):
    """True readStream → watermark window → availableNow micro-batch."""
    src_dir = tmp_path / "stream_src"
    tables["events"].select("event_id", "ts", "user_id", "event_type", "value").coalesce(1).write.parquet(str(src_dir))
    schema = spark.read.parquet(str(src_dir)).schema
    stream = spark.readStream.schema(schema).parquet(str(src_dir))
    agg = windowed_aggregate(
        stream, ts_col="ts", window_duration="1 day",
        aggs=[("value", "sum", "sum_value")], watermark="1 hour",
    )
    out_dir = tmp_path / "stream_out"
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; with availableNow
    # the final window stays open, so expect >= total days - 1
    result = spark.read.parquet(str(out_dir))
    n_days = tables["events"].select(F.date_trunc("day", "ts")).distinct().count()
    assert result.count() >= n_days - 1


def test_extract_features_slices_batches_without_touching_session_conf(spark):
    """The batch cap is enforced by slicing INSIDE the UDF — the old
    set-conf/restore-in-finally pattern reverted the session conf
    before any action ran, so the cap never applied. The session conf
    must stay untouched and results must be identical at any cap."""
    from etl_core_spark.operators.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, n=32)
    before = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    tight = {tuple(r) for r in extract_features(media, max_records_per_batch=4)
             .select("media_id", "sha256").collect()}
    assert spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
    ) == before
    loose = {tuple(r) for r in extract_features(media, max_records_per_batch=10_000)
             .select("media_id", "sha256").collect()}
    assert tight == loose and len(tight) == 32


def test_streaming_export_shards(spark, tmp_path):
    """Micro-batched sharded export: two file-source batches append
    into the same shard layout; the manifest always describes the
    whole directory and shard membership is batch-independent."""
    from etl_core_spark.sources.export_io import read_manifest, verify_export
    from etl_core_spark.streaming.stream import streaming_export_shards

    src = tmp_path / "src"
    src.mkdir()
    df1 = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(30)], "doc_id long, text string"
    )
    df1.coalesce(1).write.parquet(str(src / "b1.parquet"))

    out = str(tmp_path / "export")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(df1.schema).parquet(str(src) + "/*")
    q = streaming_export_shards(
        stream, out, ckpt, key_col="doc_id", n_shards=4
    )
    q.awaitTermination(120)
    assert q.exception() is None
    m1 = read_manifest(spark, out)
    assert m1["total_rows"] == 30

    # second batch arrives; restart (availableNow drains new files)
    spark.createDataFrame(
        [(100 + i, f"doc {100+i}") for i in range(20)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src / "b2.parquet"))
    q2 = streaming_export_shards(
        spark.readStream.schema(df1.schema).parquet(str(src) + "/*"),
        out, ckpt, key_col="doc_id", n_shards=4,
    )
    q2.awaitTermination(120)
    assert q2.exception() is None
    m2 = read_manifest(spark, out)
    assert m2["total_rows"] == 50
    assert set(verify_export(spark, out).values()) == {"ok"}
    # same key -> same shard across batches: recompute membership
    back = spark.read.parquet(out)
    assert back.count() == 50


def test_streaming_export_shards_continuous_incremental(spark, tmp_path):
    """Continuous mode (trigger_once=False) maintains the manifest
    INCREMENTALLY — per-batch work is O(batch), no per-batch re-scan
    of the whole export — yet the final manifest must still agree
    exactly with the directory (verify_export), including across a
    restart that seeds the residues from the prior manifest."""
    from etl_core_spark.sources.export_io import read_manifest, verify_export
    from etl_core_spark.streaming.stream import streaming_export_shards

    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(i, f"doc {i}") for i in range(30)], schema
    ).coalesce(1).write.parquet(str(src / "b1.parquet"))
    spark.createDataFrame(
        [(100 + i, f"doc {100+i}") for i in range(20)], schema
    ).coalesce(1).write.parquet(str(src / "b2.parquet"))

    out = str(tmp_path / "export")
    ckpt = str(tmp_path / "ckpt")
    # maxFilesPerTrigger=1 forces MULTIPLE micro-batches through the
    # incremental fold
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = streaming_export_shards(
        stream, out, ckpt, key_col="doc_id", n_shards=4, trigger_once=False
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert read_manifest(spark, out)["total_rows"] == 50
    assert set(verify_export(spark, out).values()) == {"ok"}

    # restart with a fresh query object: residues seed from the
    # existing manifest, then fold the new batch
    spark.createDataFrame(
        [(200 + i, f"doc {200+i}") for i in range(10)], schema
    ).coalesce(1).write.parquet(str(src / "b3.parquet"))
    q2 = streaming_export_shards(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*"),
        out, ckpt, key_col="doc_id", n_shards=4, trigger_once=False,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert read_manifest(spark, out)["total_rows"] == 60
    assert set(verify_export(spark, out).values()) == {"ok"}


def test_streaming_export_batches_hold_no_storage(spark, tmp_path):
    """Each micro-batch handler opens its own run scope, so the
    checkpoint a continuous export takes per batch is freed once that
    batch is written, not held for the life of the session."""
    import gc

    from etl_core_spark.sources.export_io import read_manifest
    from etl_core_spark.streaming.stream import streaming_export_shards

    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id long, text string"
    for b in range(2):
        spark.createDataFrame(
            [(10 * b + i, f"doc {i}") for i in range(10)], schema
        ).coalesce(1).write.parquet(str(src / f"b{b}.parquet"))
    held = spark.sparkContext._jsc.getPersistentRDDs
    before = held().size()
    q = streaming_export_shards(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*"),
        str(tmp_path / "export"), str(tmp_path / "ckpt"),
        key_col="doc_id", n_shards=4, trigger_once=False,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    gc.collect()
    assert held().size() == before
    assert read_manifest(spark, str(tmp_path / "export"))["total_rows"] == 20


def test_streaming_export_seed_skips_dataless_dir_but_propagates_errors(
    spark, tmp_path
):
    """ADVICE r9: incremental seeding treats an out_dir with NO data
    files as a fresh export (UNABLE_TO_INFER_SCHEMA is expected there)
    but must NOT swallow arbitrary read failures — a transient error on
    a directory that holds data would otherwise seed {} and permanently
    undercount the manifest."""
    from etl_core_spark.sources.export_io import read_manifest, verify_export
    from etl_core_spark.streaming.stream import streaming_export_shards

    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(i, f"doc {i}") for i in range(12)], schema
    ).coalesce(1).write.parquet(str(src / "b1.parquet"))

    # out_dir EXISTS but holds only metadata-style files (stale
    # tombstone; data lost): seeding must fall through to {} and the
    # run must still produce a consistent manifest
    out = tmp_path / "export"
    out.mkdir()
    (out / "_stale.json").write_text("{}")
    q = streaming_export_shards(
        spark.readStream.schema(schema).parquet(str(src) + "/*"),
        str(out),
        str(tmp_path / "ckpt"),
        key_col="doc_id",
        n_shards=2,
        trigger_once=False,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert read_manifest(spark, str(out))["total_rows"] == 12
    assert set(verify_export(spark, str(out)).values()) == {"ok"}


# ----------------------------------------------------------------- image_phash


def test_image_phash_matches_python_reference(spark):
    from fractions import Fraction

    from etl_core_spark.operators.png_codec import encode_png

    rows = []
    ref = {}
    for i in range(6):
        w, h = 16, 24
        pix = [
            ((7 * x + 13 * y + i) % 256,
             (3 * x + 5 * y + i) % 256,
             (x * y + 2 * i) % 256)
            for y in range(h) for x in range(w)
        ]
        payload = bytes(v for p in pix for v in p)
        rows.append((i, encode_png(w, h, payload, filter_mode="cycle")))
        sums = [0] * 64
        cnts = [0] * 64
        for y in range(h):
            for x in range(w):
                r, gch, b = pix[y * w + x]
                c = (y * 8 // h) * 8 + (x * 8 // w)
                sums[c] += 299 * r + 587 * gch + 114 * b
                cnts[c] += 1
        means = [Fraction(sums[c], cnts[c]) for c in range(64)]
        mm = sum(means) / 64
        ref[i] = "".join("1" if m > mm else "0" for m in means)
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = get_operator("image_phash")().apply({"in": df})["out"]
    got = {r["media_id"]: r["phash"] for r in out.collect()}
    assert got == ref


def test_image_phash_near_copy_and_edge_cases(spark):
    from etl_core_spark.operators.png_codec import encode_png

    w = h = 16
    def img(lo, hi):
        return encode_png(w, h, bytes(
            v for y in range(h) for x in range(w)
            for v in ((lo,) * 3 if x < 8 else (hi,) * 3)
        ))

    df = spark.createDataFrame(
        [(0, img(0, 255)), (1, img(10, 250)),    # near-copy pair
         (2, img(128, 128)),                      # constant -> all zeros
         (3, None)],                              # NULL payload
        "media_id long, payload binary",
    )
    out = get_operator("image_phash")().apply({"in": df})["out"]
    got = {r["media_id"]: r["phash"] for r in out.collect()}
    assert got[0] == got[1]              # hamming 0 for the near-copy
    assert set(got[2]) == {"0"}
    assert got[3] is None
    # undersized image: raise by default, null-mode records the error
    tiny = spark.createDataFrame(
        [(9, __import__("etl_core_spark.operators.png_codec",
                        fromlist=["encode_png"]).encode_png(
            4, 4, bytes(48)))],
        "media_id long, payload binary",
    )
    with pytest.raises(Exception, match="smaller than"):
        get_operator("image_phash")().apply({"in": tiny})["out"].collect()
    rows = get_operator("image_phash")(on_error="null").apply(
        {"in": tiny}
    )["out"].collect()
    assert rows[0]["phash"] is None and "smaller than" in rows[0]["error"]
    # the decode itself succeeded, so the error row keeps the dims
    assert rows[0]["width"] == 4 and rows[0]["height"] == 4


def test_image_phash_validation(spark):
    from etl_core_spark.operators.base import OperatorConfigError

    with pytest.raises(OperatorConfigError):
        get_operator("image_phash")(grid=1).validate_config()
    with pytest.raises(OperatorConfigError):
        get_operator("image_phash")(on_error="skip").validate_config()
