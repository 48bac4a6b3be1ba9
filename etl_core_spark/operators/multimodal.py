"""Multimodal columns (beyond-reference): image/audio/video payloads
as opaque ``binary`` columns with typed metadata structs, processed
by Arrow-batched Pandas UDFs over ``mapInPandas``.

The Spark-side plumbing here is REAL and tested: schemas, batch
iteration, partition sizing, UDF signatures. Since r11 the IMAGE
decode is real too for PNG — ``png_features`` runs the pure-stdlib
spec decoder (``png_codec.py``: zlib inflate + all five unfilters)
inside the Arrow batch path. The generic ``extract_features``
embedding step remains a deterministic hash stub (a learned image
embedding needs a model, which this container doesn't ship); swap
``_decode_image_batch`` for a Pillow/torchvision call to go live —
the plan shape (narrow mapInPandas, no shuffle) is unchanged.

Scale notes: binary payloads ride the Arrow batch path; keep
``spark.sql.execution.arrow.maxRecordsPerBatch`` low for large blobs
(set per-call via ``max_records_per_batch``) so a batch of 100 MB
images doesn't blow executor memory. Feature extraction is a narrow
map — 100 TB of media shards across 1000 executors with zero shuffle.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_core_spark.operators.base import OperatorConfigError, bind_operator, ensure

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("sha256", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def _decode_image_batch(payloads: pd.Series, feature_dim: int) -> list[list[float]]:
    """Deterministic fake feature from the payload hash — the
    PERMANENTLY-CLOSED learned-embedding stand-in (README "Documented
    deviations" #5): a learned embedding needs trained model weights
    this container does not and will not bundle, the same closure as
    the live-DB-server item. The *decode* side is no longer stubbed
    anywhere — `png_features`/`image_phash` (PNG + BMP) and
    `wav_features` run real codecs through the exact same Arrow
    batch/schema/partitioning shape, so replacing this body with a
    model call (PIL/torch forward) changes one function and no plan.
    """
    feats = []
    for raw in payloads:
        if raw is None:
            feats.append(None)
            continue
        h = hashlib.sha256(bytes(raw)).digest()
        feats.append([h[i % len(h)] / 255.0 for i in range(feature_dim)])
    return feats


def _decode_image(raw: bytes) -> tuple[int, int, int, bytes]:
    """Format-sniffing image decode: PNG (``png_codec``), 24-bit
    BI_RGB BMP (``bmp_codec``) or GIF87a/89a (``gif_codec``, LZW +
    palette, first frame) by magic bytes → the shared ``(width,
    height, channels, row-major pixels)`` convention. Raises the
    codec's own error type for in-format failures and
    ``BmpFormatError`` for unrecognized magics (all caught by the
    operators' ``_image_errors``)."""
    from etl_core_spark.operators.bmp_codec import BmpFormatError, decode_bmp
    from etl_core_spark.operators.gif_codec import decode_gif
    from etl_core_spark.operators.png_codec import decode_png

    if raw[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(raw)
    if raw[:2] == b"BM":
        return decode_bmp(raw)
    if raw[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(raw)
    raise BmpFormatError(
        "unrecognized image format (PNG, 24-bit BMP and GIF supported)"
    )


def _image_errors() -> tuple:
    """Exception classes that mean 'this payload is not decodable
    image data' (vs a bug): the codecs' format errors plus zlib's
    inflate error from corrupt PNG streams."""
    from zlib import error as zlib_error

    from etl_core_spark.operators.bmp_codec import BmpFormatError
    from etl_core_spark.operators.gif_codec import GifFormatError
    from etl_core_spark.operators.png_codec import PngFormatError

    return (PngFormatError, BmpFormatError, GifFormatError, zlib_error)


def _cap_slices(
    batches: Iterator[pd.DataFrame], cap: int
) -> Iterator[pd.DataFrame]:
    """Yield sub-frames of at most ``cap`` rows (empty slices
    skipped). The cap is enforced by SLICING inside the UDF because
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` is read at
    EXECUTION time — setting it around a lazy plan build and
    restoring it in a ``finally`` reverts it before any action runs,
    so the conf route never applied (a 32-row corpus arrived as one
    32-row batch). Shared by every multimodal mapInPandas operator;
    for the Arrow TRANSFER batch itself, set the conf session-wide
    when ingesting 100 MB-blob columns (see session.py note)."""
    for whole in batches:
        for start in range(0, len(whole), cap):
            pdf = whole.iloc[start:start + cap]
            if len(pdf):
                yield pdf


def _check_extract_features(feature_dim, **_) -> None:
    ensure(feature_dim > 0, "feature_dim must be positive")


@bind_operator("multimodal_features", check=_check_extract_features)
def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    feature_dim: int = 8,
    max_records_per_batch: int = 256,
) -> DataFrame:
    """Binary payloads → (id, n_bytes, sha256, feature[dim]) via
    mapInPandas, processing at most ``max_records_per_batch`` rows at
    a time.

    The cap is enforced by slicing inside the UDF (``_cap_slices``
    — see its docstring for why the Arrow session conf cannot do
    this)."""

    cap = max(1, int(max_records_per_batch))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _cap_slices(batches, cap):
            payloads = pdf[payload_col]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "n_bytes": payloads.map(lambda b: len(b) if b is not None else None),
                    "sha256": payloads.map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest() if b is not None else None
                    ),
                    "feature": _decode_image_batch(payloads, feature_dim),
                }
            )

    from etl_core_spark.session import ensure_parallelism

    return ensure_parallelism(df.select(id_col, payload_col)).mapInPandas(
        op, FEATURE_SCHEMA
    )


PNG_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sum_c0", T.LongType(), True),
        T.StructField("sum_c1", T.LongType(), True),
        T.StructField("sum_c2", T.LongType(), True),
        T.StructField("sum_c3", T.LongType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def _check_png_features(on_error, **_) -> None:
    ensure(on_error in ("raise", "null"), "png_features on_error must be raise|null")


@bind_operator("png_features", check=_check_png_features)
def png_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    on_error: str = "raise",
    max_records_per_batch: int = 256,
) -> DataFrame:
    """REAL image decode (no stub): pure-stdlib PNG decode
    (``png_codec.decode_png`` — zlib inflate + all five spec
    unfilters) or 24-bit BI_RGB BMP decode (``bmp_codec``), sniffed
    by magic bytes, inside an Arrow-batched ``mapInPandas``, emitting per
    image the dimensions, channel count and EXACT per-channel pixel
    sums (integers — certifiable against a closed-form oracle).
    ``on_error="null"`` records the failure message in ``error`` and
    NULLs the stats instead of failing the job (the type_conversion
    deviation-port philosophy); the default raises.

    Scale shape: narrow map over binary payloads, zero shuffle —
    100 TB of image shards across 1000 executors decode
    embarrassingly parallel; ``max_records_per_batch`` bounds the
    per-step working set exactly as extract_features does. The
    per-pixel Python loop is the honest cost of a stdlib-only
    container (documented); with an image library present, swap the
    decode call and the plan is unchanged."""
    if on_error not in ("raise", "null"):
        raise OperatorConfigError("png_features on_error must be raise|null")
    cap = max(1, int(max_records_per_batch))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        img_errors = _image_errors()

        def one(raw):
            if raw is None:
                return (None, None, None, None, None, None, None, None)
            try:
                w, h, ch, px = _decode_image(bytes(raw))
            except img_errors as exc:
                if on_error == "raise":
                    raise
                return (None, None, None, None, None, None, None, str(exc))
            # vectorized exact channel sums: uint8 values into an
            # int64 accumulator never round (bound 255·n < 2^63 for
            # any decodable image), so this is bit-identical to the
            # per-pixel Python loop it replaces — just 10-100x faster
            # on the 100 TB narrow-map path
            import numpy as np

            arr = np.frombuffer(px, dtype=np.uint8)
            sums = [0, 0, 0, 0]
            for c in range(ch):
                sums[c] = int(arr[c::ch].sum(dtype=np.int64))
            return (
                w,
                h,
                ch,
                sums[0],
                sums[1] if ch > 1 else None,
                sums[2] if ch > 2 else None,
                sums[3] if ch > 3 else None,
                None,
            )

        for pdf in _cap_slices(batches, cap):
            cols = list(zip(*(one(r) for r in pdf[payload_col])))
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "width": cols[0],
                    "height": cols[1],
                    "channels": cols[2],
                    "sum_c0": cols[3],
                    "sum_c1": cols[4],
                    "sum_c2": cols[5],
                    "sum_c3": cols[6],
                    "error": cols[7],
                }
            )

    from etl_core_spark.session import ensure_parallelism

    return ensure_parallelism(df.select(id_col, payload_col)).mapInPandas(
        op, PNG_FEATURE_SCHEMA
    )


def frame_sample(df: DataFrame, every_ms: int = 1000, id_col: str = "media_id") -> DataFrame:
    """Video frame sampling plan: expand (media, duration) into frame
    timestamps via ``sequence`` — pure SQL, the decode of each frame
    is then an ``extract_features`` call over the exploded rows."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.sequence(
                F.lit(0),
                F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts_ms"),
    )


def synthetic_media(
    spark, n: int = 64, payload_bytes: int = 128, ascii_payload: bool = False
) -> DataFrame:
    """Deterministic fake media table for tests (no media libs in the
    container): payload = sha-seeded pseudo-random bytes.

    ``ascii_payload=True`` seeds the payload from the hex DIGEST
    string instead of the raw digest bytes — still a genuine binary
    column through the Arrow path, but one whose sha256 a
    VARCHAR-only SQL engine (DuckDB's ``sha256(VARCHAR)``) can
    recompute, which is what makes the driver's oracle row for
    ``multimodal_features`` hash-checkable."""
    rows = []
    for i in range(n):
        h = hashlib.sha256(str(i).encode())
        seed = h.hexdigest().encode("ascii") if ascii_payload else h.digest()
        payload = (seed * (payload_bytes // len(seed) + 1))[:payload_bytes]
        rows.append(
            (i, payload, ("image/png", 64, 64, None) if i % 2 == 0 else ("audio/wav", None, None, 2000))
        )
    # createDataFrame pre-slices to defaultParallelism; size to the
    # actual row count so tiny tables don't fan out to 32 workers
    parts = max(1, min(n // 16, spark.sparkContext.defaultParallelism))
    return spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(parts)


PHASH_SCHEMA = (
    "media_id long, width int, height int, phash string, error string"
)


def _ahash_bits(w: int, h: int, ch: int, px: bytes, g: int) -> str:
    """The exact aHash kernel shared by ``image_phash`` and
    ``gif_frames(with_phash=True)``: integer luminance (Rec. 601
    weights ×1000 — never divided) pooled onto the g×g cell lattice
    (cell boundaries ``floor(i·dim/g)``) with two ``np.add.reduceat``
    passes, one bit per cell: 1 iff the cell mean strictly exceeds
    the mean of cell means, compared as exact rationals
    (``fractions.Fraction``) — a pure function of the pixels,
    bit-for-bit replayable by a closed-form oracle. Requires
    ``w, h >= g`` (callers guard); int64 cell sums never round for
    any image below ~3.6e13 pixels."""
    from fractions import Fraction

    import numpy as np

    arr = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
    arr = arr.reshape(h, w, ch)
    if ch >= 3:
        lum = (
            299 * arr[:, :, 0]
            + 587 * arr[:, :, 1]
            + 114 * arr[:, :, 2]
        )
    else:
        lum = arr[:, :, 0]
    col_starts = np.flatnonzero(
        np.diff((np.arange(w) * g) // w, prepend=-1)
    )
    row_starts = np.flatnonzero(
        np.diff((np.arange(h) * g) // h, prepend=-1)
    )
    sums = np.add.reduceat(
        np.add.reduceat(lum, col_starts, axis=1), row_starts, axis=0
    ).ravel()
    counts = np.outer(
        np.diff(np.append(row_starts, h)),
        np.diff(np.append(col_starts, w)),
    ).ravel()
    means = [
        Fraction(int(sums[i]), int(counts[i])) for i in range(g * g)
    ]
    mean_of_means = sum(means) / (g * g)
    return "".join("1" if m > mean_of_means else "0" for m in means)


def _check_image_phash(grid, on_error, **_) -> None:
    ensure(on_error in ("raise", "null"), "image_phash on_error must be raise|null")
    ensure(grid >= 2, "image_phash grid must be >= 2")


@bind_operator("image_phash", check=_check_image_phash)
def image_phash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    grid: int = 8,
    on_error: str = "raise",
    max_records_per_batch: int = 256,
) -> DataFrame:
    """Perceptual average-hash image fingerprint (aHash; Zauner 2010
    benchmarks the family) over REAL decoded pixels → ``(media_id,
    width, height, phash, error)``: the image-dedup primitive —
    re-encoded, resized or lightly-edited copies of one image land
    within a few hamming bits of each other, exact binary dedup
    misses all of them.

    Construction: decode (``png_codec`` or ``bmp_codec``, sniffed by
    magic bytes — the SAME image hashes identically from either
    container, which is the point of perceptual dedup), integer luminance
    ``L = 299·R + 587·G + 114·B`` (the Rec. 601 weights scaled by
    1000 — never divided, so everything stays an exact integer;
    single-channel images use the raw value), average-pool onto a
    ``grid``×``grid`` cell lattice (cell boundaries
    ``floor(i·h/grid)``), then one bit per cell: 1 iff the cell mean
    EXCEEDS the mean of cell means (strict; ties → 0, constant
    images hash to all zeros). Means are compared as exact rationals
    (``fractions.Fraction``), so the hash is a pure function of the
    pixels — bit-for-bit reproducible across engines and replayable
    by a closed-form oracle. Output is the row-major ``grid²``-char
    '0'/'1' string (portable: no int64 sign traps at bit 63).

    Near-dup usage: group by a band of the hash (pigeonhole: two
    hashes within hamming k share an identical (k+1)-way band) and
    verify candidates with a popcount — the simhash discipline on an
    image column.

    Scale shape: narrow Arrow-batched map, zero shuffle —
    embarrassingly parallel over 100 TB of shards;
    ``max_records_per_batch`` bounds the working set. The per-pixel
    Python loop is the documented stdlib-container cost, exactly as
    ``png_features``.
    """
    if on_error not in ("raise", "null"):
        raise OperatorConfigError("image_phash on_error must be raise|null")
    if int(grid) < 2:
        raise OperatorConfigError("image_phash grid must be >= 2")
    g = int(grid)
    cap = max(1, int(max_records_per_batch))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        img_errors = _image_errors()

        def one(raw):
            if raw is None:
                return (None, None, None, None)
            try:
                w, h, ch, px = _decode_image(bytes(raw))
            except img_errors as exc:
                if on_error == "raise":
                    raise
                return (None, None, None, str(exc))
            if w < g or h < g:
                msg = f"image {w}x{h} smaller than the {g}x{g} grid"
                if on_error == "raise":
                    raise OperatorConfigError(f"image_phash: {msg}")
                # the decode succeeded — keep the dimensions on the
                # error row so on_error='null' stays diagnosable
                return (w, h, None, msg)
            return (w, h, _ahash_bits(w, h, ch, px, g), None)

        for pdf in _cap_slices(batches, cap):
            cols = list(zip(*(one(r) for r in pdf[payload_col])))
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "width": cols[0],
                    "height": cols[1],
                    "phash": cols[2],
                    "error": cols[3],
                }
            )

    from etl_core_spark.session import ensure_parallelism

    return ensure_parallelism(df.select(id_col, payload_col)).mapInPandas(
        op, PHASH_SCHEMA
    )


WAV_FEATURE_SCHEMA = (
    "media_id long, sample_rate int, channels int, n_frames long, "
    "sum_amp long, sum_sq long, peak int, error string"
)


def _check_wav_features(on_error, **_) -> None:
    ensure(on_error in ("raise", "null"), "wav_features on_error must be raise|null")


@bind_operator("wav_features", check=_check_wav_features)
def wav_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    on_error: str = "raise",
    max_records_per_batch: int = 256,
) -> DataFrame:
    """REAL audio decode: pure-stdlib 16-bit PCM RIFF/WAVE parsing
    (``wav_codec.decode_wav`` — struct-only chunk walk, loud
    ``WavFormatError`` on compressed/float formats) inside an
    Arrow-batched ``mapInPandas``, emitting per clip the sample rate,
    channel count, frame count and EXACT integer amplitude statistics
    (sum, sum of squares, peak |amplitude|) — all integers, so a
    closed-form oracle replays them bit-for-bit; RMS/loudness are one
    float sqrt away downstream when needed. ``on_error="null"``
    records the failure message per row (the type_conversion
    deviation-port philosophy); the default raises.

    Scale shape: identical to ``png_features`` — narrow map over
    binary payloads, zero shuffle, ``_cap_slices`` bounding the
    per-step working set; 100 TB of audio shards decode
    embarrassingly parallel. The sample loop is array('h') +
    arithmetic, not per-byte Python."""
    if on_error not in ("raise", "null"):
        raise OperatorConfigError("wav_features on_error must be raise|null")
    cap = max(1, int(max_records_per_batch))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from etl_core_spark.operators.wav_codec import (
            WavFormatError,
            decode_wav,
        )

        def one(raw):
            if raw is None:
                return (None, None, None, None, None, None, None)
            try:
                rate, ch, samples = decode_wav(bytes(raw))
            except WavFormatError as exc:
                if on_error == "raise":
                    raise
                return (None, None, None, None, None, None, str(exc))
            import numpy as np

            n = len(samples)
            if n and n <= (1 << 33):
                # vectorized exact stats: |v| <= 32768 so v² <= 2^30,
                # and an int64 sum of up to 2^33 such squares cannot
                # wrap — bit-identical to the Python loop. Clips
                # beyond 2^33 samples (~27 h of 44.1 kHz stereo) fall
                # back to unbounded Python ints rather than risk a
                # silent int64 wrap.
                a = np.asarray(samples, dtype=np.int64)
                sum_amp = int(a.sum())
                sum_sq = int((a * a).sum())
                peak = int(np.abs(a).max())
            else:
                sum_amp = sum(samples)
                sum_sq = sum(v * v for v in samples)
                peak = max((abs(v) for v in samples), default=0)
            return (rate, ch, n // ch, sum_amp, sum_sq, peak, None)

        for pdf in _cap_slices(batches, cap):
            cols = list(zip(*(one(r) for r in pdf[payload_col])))
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "sample_rate": cols[0],
                    "channels": cols[1],
                    "n_frames": cols[2],
                    "sum_amp": cols[3],
                    "sum_sq": cols[4],
                    "peak": cols[5],
                    "error": cols[6],
                }
            )

    from etl_core_spark.session import ensure_parallelism

    return ensure_parallelism(df.select(id_col, payload_col)).mapInPandas(
        op, WAV_FEATURE_SCHEMA
    )


GIF_FRAMES_SCHEMA = (
    "media_id long, frame_idx int, frame_left int, frame_top int, "
    "width int, height int, sum_r long, sum_g long, sum_b long, "
    "error string"
)


def _check_gif_frames(every_n, max_frames, grid, on_error, **_) -> None:
    ensure(on_error in ("raise", "null"), "gif_frames on_error must be raise|null")
    ensure(every_n >= 1, "gif_frames every_n must be >= 1")
    ensure(max_frames is None or max_frames >= 1, "gif_frames max_frames must be >= 1")
    ensure(grid >= 2, "gif_frames grid must be >= 2")


@bind_operator("gif_frames", check=_check_gif_frames)
def gif_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every_n: int = 1,
    max_frames: int | None = None,
    with_phash: bool = False,
    grid: int = 8,
    on_error: str = "raise",
    max_records_per_batch: int = 256,
) -> DataFrame:
    """Animated-GIF frame sampling over REAL payloads
    (``gif_codec.decode_gif_frames``: every image descriptor in
    stream order, full LZW + local color tables + extension
    skipping): one output row per SAMPLED frame — original frame
    indices ``0, every_n, 2*every_n, ...``, at most ``max_frames``
    rows per clip — with the frame's placement rectangle and EXACT
    integer per-channel pixel sums (certifiable against a
    closed-form oracle, the ``png_features`` convention). Frames
    decode on their own rectangles; animation compositing/disposal
    replay is a modeling decision left downstream. This is the
    video-style sampling path of ``frame_sample`` made real: the
    container's one true multi-frame format enumerated instead of
    synthetic timestamps.

    ``with_phash=True`` additionally emits each sampled frame's
    exact aHash perceptual fingerprint (``phash`` — the SAME
    ``_ahash_bits`` kernel as ``image_phash``, on the frame's own
    rectangle; frames smaller than the ``grid`` carry NULL): the
    animation near-dup primitive — hash a derived
    ``(media_id, frame_idx)`` key and feed ``hamming_near_dup_pairs``
    to find re-encoded/edited animation copies frame-by-frame.

    ``on_error='null'`` emits one error row per undecodable payload
    (frame_idx NULL) instead of failing the job; the default raises.
    Scale shape: Arrow-batched ``mapInPandas`` narrow map, zero
    shuffle, ``_cap_slices`` bounding the per-step working set; the
    per-frame kernel is one numpy reshape-sum (plus the two-pass
    reduceat pooling when fingerprinting)."""
    if on_error not in ("raise", "null"):
        raise OperatorConfigError("gif_frames on_error must be raise|null")
    if int(every_n) < 1:
        raise OperatorConfigError("gif_frames every_n must be >= 1")
    if max_frames is not None and int(max_frames) < 1:
        raise OperatorConfigError("gif_frames max_frames must be >= 1")
    if int(grid) < 2:
        raise OperatorConfigError("gif_frames grid must be >= 2")
    step = int(every_n)
    limit = None if max_frames is None else int(max_frames)
    g = int(grid)
    hash_frames = bool(with_phash)
    cap = max(1, int(max_records_per_batch))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from etl_core_spark.operators.gif_codec import (
            GifFormatError,
            decode_gif_frames,
        )

        n_opt = 9 if hash_frames else 8

        def rows_for(mid, raw):
            if raw is None:
                return [(mid,) + (None,) * (n_opt + 1)]
            try:
                frames = decode_gif_frames(bytes(raw))
            except GifFormatError as exc:
                if on_error == "raise":
                    raise
                return [(mid,) + (None,) * n_opt + (str(exc),)]
            picked = frames[::step] if limit is None else frames[::step][:limit]
            out = []
            for k, (left, top, w, h, rgb) in enumerate(picked):
                sums = (
                    np.frombuffer(rgb, dtype=np.uint8)
                    .reshape(-1, 3)
                    .sum(axis=0, dtype=np.int64)
                )
                row = (
                    mid, k * step, left, top, w, h,
                    int(sums[0]), int(sums[1]), int(sums[2]),
                )
                if hash_frames:
                    row += (
                        _ahash_bits(w, h, 3, rgb, g)
                        if w >= g and h >= g
                        else None,
                    )
                out.append(row + (None,))
            return out

        cols = [
            "media_id", "frame_idx", "frame_left", "frame_top",
            "width", "height", "sum_r", "sum_g", "sum_b",
        ]
        if hash_frames:
            cols.append("phash")
        cols.append("error")
        for pdf in _cap_slices(batches, cap):
            recs = [
                row
                for mid, raw in zip(pdf[id_col], pdf[payload_col])
                for row in rows_for(mid, raw)
            ]
            yield pd.DataFrame(recs, columns=cols)

    from etl_core_spark.session import ensure_parallelism

    schema = GIF_FRAMES_SCHEMA
    if hash_frames:
        schema = schema.replace(
            "sum_b long,", "sum_b long, phash string,"
        )
    return ensure_parallelism(df.select(id_col, payload_col)).mapInPandas(
        op, schema
    )


AUDIO_FP_SCHEMA = "media_id long, afp string, n_samples long, error string"


def _check_audio_fingerprint(bands, on_error, **_) -> None:
    ensure(on_error in ("raise", "null"), "audio_fingerprint on_error must be raise|null")
    ensure(2 <= bands <= 1024, "audio_fingerprint bands must be in [2, 1024]")


@bind_operator("audio_fingerprint", check=_check_audio_fingerprint)
def audio_fingerprint(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    bands: int = 64,
    on_error: str = "raise",
    max_records_per_batch: int = 256,
) -> DataFrame:
    """Integer energy-profile audio fingerprint over decoded 16-bit
    PCM (``wav_codec.decode_wav``): the flat interleaved sample
    stream splits into ``bands`` contiguous windows — sample ``j``
    lands in window ``j*bands//n``, the balanced partition (every
    window non-empty whenever ``n >= bands``) — and bit ``w`` is 1
    iff ``bands * E_w > E_total``, where ``E_w`` is the EXACT
    integer sum of squared amplitudes in window ``w``. This is the
    audio analog of ``image_phash``'s aHash rule (cell energy vs
    global mean, cross-multiplied so the comparison stays in
    integers — no FFT, no floats), so a closed-form oracle replays
    every bit from the generating sample formula. Loud regions set
    bits; re-encodings and localized edits of the same clip land at
    small hamming distance, and the ``afp`` column feeds
    ``hamming_near_dup_pairs`` — the same pigeonhole band-join that
    pairs image phashes (reference parity: binary media ingest +
    dedup paths, src/etl_core/receivers/... binary receivers).

    Silence (``E_total == 0``) and empty clips fingerprint as all
    zeros. ``on_error='null'`` records decode failures per row; the
    default raises.

    Scale shape: identical to ``wav_features`` — Arrow-batched
    ``mapInPandas`` narrow map, zero shuffle, ``_cap_slices``
    bounding the working set; the per-clip kernel is one
    ``np.add.reduceat`` over the squared samples at the balanced
    window cuts."""
    if on_error not in ("raise", "null"):
        raise OperatorConfigError(
            "audio_fingerprint on_error must be raise|null"
        )
    if not 2 <= int(bands) <= 1024:
        raise OperatorConfigError(
            "audio_fingerprint bands must be in [2, 1024]"
        )
    bands = int(bands)
    cap = max(1, int(max_records_per_batch))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from etl_core_spark.operators.wav_codec import (
            WavFormatError,
            decode_wav,
        )

        def one(raw):
            if raw is None:
                return (None, None, None)
            try:
                _rate, _ch, samples = decode_wav(bytes(raw))
            except WavFormatError as exc:
                if on_error == "raise":
                    raise
                return (None, None, str(exc))
            n = len(samples)
            if n == 0:
                return ("0" * bands, 0, None)
            # window w spans samples [ceil(w*n/bands), ceil((w+1)*n/bands))
            # == the preimage of j -> j*bands//n
            starts = [-(-w * n // bands) for w in range(bands)]
            if n <= (1 << 26):
                # exact in int64: v² <= 2^30, total <= 2^56, and the
                # threshold compare runs in Python ints anyway
                a = np.asarray(samples, dtype=np.int64)
                sq = a * a
                st = np.asarray(starts)
                ends = np.append(st[1:], n)
                ew = np.add.reduceat(sq, np.minimum(st, n - 1))
                ew[ends <= st] = 0  # empty windows (n < bands)
                energies = [int(e) for e in ew]
                total = int(sq.sum())
            else:  # pragma: no cover - >64M-sample clips
                cuts = starts + [n]
                energies = [
                    sum(v * v for v in samples[cuts[w]:cuts[w + 1]])
                    for w in range(bands)
                ]
                total = sum(energies)
            afp = "".join(
                "1" if bands * e > total else "0" for e in energies
            )
            return (afp, n, None)

        for pdf in _cap_slices(batches, cap):
            cols = list(zip(*(one(r) for r in pdf[payload_col])))
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "afp": cols[0],
                    "n_samples": cols[1],
                    "error": cols[2],
                }
            )

    from etl_core_spark.session import ensure_parallelism

    return ensure_parallelism(df.select(id_col, payload_col)).mapInPandas(
        op, AUDIO_FP_SCHEMA
    )
