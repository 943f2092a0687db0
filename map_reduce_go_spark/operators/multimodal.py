"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Blobs ride through scans and shuffles as parquet binary next to typed
metadata; metadata extraction is columnar and never Python-side. Every
decode, resize, resample and frame-sampling kernel is an Arrow-batched
``mapInPandas`` (one Python worker per core;
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds the memory per
batch whatever the blob sizes), built by :func:`_map_rows` from a
per-row function.

Each operator has two decode modes. ``stub`` reads the raw bytes with
deterministic arithmetic that a DuckDB oracle replays, so the registered
fixture queries are oracle-checked. ``real`` decodes the container
through :func:`decode_blob`, whose one table covers PNG, BMP and JPEG
images and WAV audio (PCM16, G.711 u-law/A-law, IMA ADPCM) with the
repo's pure-Python codecs (``functions/*_codec.py``); any other container
(perceptual audio codecs, mp4/webm video) needs external libraries and
raises ``NotImplementedError``. :func:`decode_blobs_with_quarantine`
turns those failures into per-row quarantine records instead.

At 100 TB the blobs partition by the modality or shard column, so decode
failures quarantine per partition.
"""

from __future__ import annotations

import hashlib
from functools import cache

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from map_reduce_go_spark.registry import register
from map_reduce_go_spark.sources.readers import load_table

MODALITIES = ("image", "audio", "video")

#: The blob frame every kernel reads: one opaque payload per document.
BLOB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("blob", BinaryType(), True),
    ]
)

# DuckDB: the modality blobs_from_documents assigns by doc_id.
_MODALITY_SQL = (
    "CASE CAST(doc_id % 3 AS INTEGER)"
    " WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
)


@cache
def _codecs() -> tuple:
    """The decoder table, one ``(kind, sniff, decode)`` row per container.
    Imported on first use, so only the Python workers that decode load
    the codecs."""
    from map_reduce_go_spark.functions.bmp_codec import decode_bmp, is_bmp
    from map_reduce_go_spark.functions.jpeg_codec import decode_jpeg, is_jpeg
    from map_reduce_go_spark.functions.png_codec import decode_png, is_png
    from map_reduce_go_spark.functions.wav_codec import decode_wav, is_wav

    return (
        ("image", is_png, decode_png),
        ("audio", is_wav, decode_wav),
        ("image", is_bmp, decode_bmp),
        ("image", is_jpeg, decode_jpeg),
    )


def _codec_name(decode) -> str:
    return decode.__name__.removeprefix("decode_").upper()


def decode_blob(raw: bytes, kind: str | None = None) -> tuple[str, np.ndarray, int | None]:
    """Decode one blob by its leading bytes into ``(kind, array, rate)``:
    ``("image", pixels, None)`` with (H, W) or (H, W, C) uint8 pixels, or
    ``("audio", samples, rate)`` with (frames, channels) int16 samples.

    ``kind`` names the one kind the caller can use. A container no codec
    implements, or one of another kind, raises ``NotImplementedError``; a
    sniffed container passes on its codec's own errors
    (``NotImplementedError`` for a feature outside the codec's scope,
    ``ValueError`` and friends for damaged bytes)."""
    found = "an unknown container"
    for k, sniff, decode in _codecs():
        if sniff(raw):
            if kind in (None, k):
                out = decode(raw)
                return (k, *out) if k == "audio" else (k, out, None)
            found = f"{_codec_name(decode)} {k}"
            break
    supported = ", ".join(_codec_name(d) for k, _, d in _codecs() if kind in (None, k))
    raise NotImplementedError(f"real {kind or 'media'} decode supports {supported}; got {found}")


def _real(decode_mode: str) -> bool:
    """Validate ``decode_mode``: True for ``"real"``, False for ``"stub"``."""
    if decode_mode not in ("stub", "real"):
        raise ValueError(f"unknown decode_mode {decode_mode!r}")
    return decode_mode == "real"


def _map_rows(df: DataFrame, cols: tuple[str, ...], schema: StructType, row_fn) -> DataFrame:
    """``mapInPandas`` from a per-row function: ``row_fn(*values of cols)``
    yields output rows as tuples in ``schema`` order — none drops the
    input row, several fan it out."""
    names = schema.fieldNames()

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = [out for row in zip(*(pdf[c] for c in cols)) for out in row_fn(*row)]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(batches, schema=schema)


def blobs_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture adapter: treat each document's UTF-8 bytes as an opaque blob
    with a modality assigned by doc_id (the fixtures ship no real media;
    the schema — blob + typed metadata — is the real contract)."""
    docs = load_table(spark, sf_dir, "documents")
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]),
        (F.col("doc_id") % len(MODALITIES) + 1).cast("int"),
    )
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("blob"),
        modality.alias("modality"),
    )


@register(
    "multimodal_blob_meta",
    oracle=f"""
    SELECT doc_id,
           {_MODALITY_SQL} AS modality,
           octet_length(encode(text)) AS byte_len,
           sha256(text) AS content_sha256
    FROM documents
    """,
)
def multimodal_blob_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar metadata over binary payloads: byte length + content digest.
    Entirely JVM-side — blobs are never deserialized into Python. The
    digest is computed directly on the blob (the document's UTF-8 bytes,
    which is exactly what the oracle's sha256(text) hashes), so the plan is
    a single scan — no join back to documents."""
    blobs = blobs_from_documents(spark, sf_dir)
    return blobs.select(
        "doc_id",
        "modality",
        F.length("blob").alias("byte_len"),
        F.sha2(F.col("blob"), 256).alias("content_sha256"),
    )


FEATURE_DIM = 16

FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("modality", StringType(), True),
        StructField("byte_len", IntegerType(), True),
        StructField("fake_width", IntegerType(), True),
        StructField("fake_height", IntegerType(), True),
        StructField("features", ArrayType(FloatType()), True),
        StructField("bin_counts", ArrayType(IntegerType()), True),
    ]
)


def extract_features(blobs: DataFrame, decode_mode: str = "stub") -> DataFrame:
    """Arrow-batched feature extraction over ``(doc_id, blob, modality)``:
    a 16-bin histogram (counts and normalized) plus a width and height.

    ``stub`` bins the raw bytes by high nibble, and reads the width and
    height off the first and last byte. ``real`` decodes any container
    :func:`decode_blob` knows: an image bins its 8-bit pixel values and
    reports its pixel width and height; audio bins its int16 samples
    shifted to uint16 and reports (channels, frames)."""
    real = _real(decode_mode)

    def row(doc_id, blob, modality):
        data = np.frombuffer(blob, dtype=np.uint8)
        if real:
            kind, arr, _rate = decode_blob(bytes(blob))
            h, w = arr.shape[:2]
            if kind == "image":
                nibbles = arr.reshape(-1) >> 4
            else:
                nibbles = (arr.astype(np.int32).reshape(-1) + 32768) >> 12
        else:
            w = int(data[0]) + 1 if len(data) else 1
            h = int(data[-1]) + 1 if len(data) else 1
            nibbles = data >> 4
        hist = np.bincount(nibbles, minlength=FEATURE_DIM).astype(np.float64)
        total = hist.sum() or 1.0
        yield (
            int(doc_id), modality, len(data), int(w), int(h),
            (hist / total).astype(np.float32), hist.astype(np.int32),
        )

    return _map_rows(blobs, ("doc_id", "blob", "modality"), FEATURES_SCHEMA, row)


def _bin_count_sql(j: int) -> str:
    """DuckDB: count of blob bytes whose high nibble is ``j``. The fixture
    corpus is pure ASCII (verified), so per-char ``ascii()`` over the text
    equals per-byte access over the UTF-8 blob."""
    return (
        f"len(list_filter(range(1, length(text) + 1), "
        f"i -> ascii(substring(text, i, 1)) // 16 = {j})) AS c{j}"
    )


@register(
    "multimodal_feature_stub",
    oracle=f"""
    SELECT doc_id,
           {_MODALITY_SQL} AS modality,
           length(text) AS byte_len,
           CASE WHEN length(text) = 0 THEN 1
                ELSE ascii(substring(text, 1, 1)) + 1 END AS fake_width,
           CASE WHEN length(text) = 0 THEN 1
                ELSE ascii(substring(text, length(text), 1)) + 1 END AS fake_height,
           {", ".join(_bin_count_sql(j) for j in range(FEATURE_DIM))}
    FROM documents
    """,
)
def multimodal_feature_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stubbed decode/feature-extract pipeline over binary blobs (schema,
    batching, and plumbing are real; the codec is a deterministic fake).

    The driver-facing projection is all-scalar: the 16 histogram bins ride
    as integer columns c0..c15 (exact cross-engine comparison), while the
    normalized float ``features`` array stays on the unregistered
    :func:`extract_features` API — raw ArrayType output breaks the driver's
    pandas canonicalizer and is the wrong shape for scalar-column sinks."""
    feats = extract_features(blobs_from_documents(spark, sf_dir), decode_mode="stub")
    return feats.select(
        "doc_id",
        "modality",
        "byte_len",
        "fake_width",
        "fake_height",
        *[F.col("bin_counts")[j].alias(f"c{j}") for j in range(FEATURE_DIM)],
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("out_width", IntegerType(), True),
        StructField("out_height", IntegerType(), True),
        StructField("pixels", ArrayType(FloatType()), True),
    ]
)


def resize_images(
    blobs: DataFrame, width: int = 8, height: int = 8, decode_mode: str = "stub"
) -> DataFrame:
    """Image resize: blob -> fixed (height×width) float grid in [0, 1],
    one row per image.

    ``stub`` treats the byte stream as a 1-D image and nearest-neighbor
    samples width*height bytes from it. ``real`` decodes any image
    container :func:`decode_blob` knows, averages color channels to
    gray, and nearest-neighbor samples the 2-D grid."""
    real = _real(decode_mode)
    n_px = width * height

    def row(doc_id, blob):
        if real:
            _, px, _ = decode_blob(bytes(blob), "image")
            if px.ndim == 3:
                px = px.mean(axis=2).astype(np.uint8)
            sh, sw = px.shape
            ys = (np.arange(height) * sh) // height
            xs = (np.arange(width) * sw) // width
            pixels = (px[np.ix_(ys, xs)].astype(np.float32) / 255.0).reshape(-1)
        else:
            data = np.frombuffer(blob, dtype=np.uint8)
            if len(data) == 0:
                data = np.zeros(1, dtype=np.uint8)
            idx = (np.arange(n_px) * len(data)) // n_px
            pixels = (data[idx] / 255.0).astype(np.float32)
        yield (int(doc_id), width, height, pixels)

    return _map_rows(blobs, ("doc_id", "blob"), RESIZE_SCHEMA, row)


_RESIZE_W = 8
_RESIZE_H = 8


@register(
    "multimodal_resize_stub",
    oracle=f"""
    WITH r AS (
      SELECT doc_id,
             CAST(CASE WHEN length(text) = 0 THEN 0
                  ELSE list_sum(list_transform(
                         generate_series(0, {_RESIZE_W * _RESIZE_H - 1}),
                         k -> ascii(substring(text,
                                CAST((k * length(text)) // {_RESIZE_W * _RESIZE_H} AS BIGINT) + 1,
                                1))))
             END AS BIGINT) AS px_sum
      FROM documents
      WHERE {_MODALITY_SQL} = 'image'
    )
    SELECT doc_id,
           {_RESIZE_W} AS out_width,
           {_RESIZE_H} AS out_height,
           px_sum,
           round(px_sum / {_RESIZE_W * _RESIZE_H}.0 / 255.0, 6) AS px_mean
    FROM r
    """,
)
def multimodal_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered resize surface over 'image' blobs: the driver-facing
    projection sums the 64 nearest-neighbor-sampled bytes (exact integers)
    plus their normalized mean — the oracle replays the (k·len)//n_px
    stride over the ASCII byte stream. The full pixel grid stays on the
    unregistered :func:`resize_images` API (raw ArrayType output breaks
    scalar-column consumers)."""
    images = blobs_from_documents(spark, sf_dir).where(F.col("modality") == "image")
    resized = resize_images(images, width=_RESIZE_W, height=_RESIZE_H)
    n_px = _RESIZE_W * _RESIZE_H
    px255 = F.transform(F.col("pixels"), lambda p: F.round(p * 255).cast("long"))
    px_sum = F.aggregate(px255, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return resized.select(
        "doc_id",
        "out_width",
        "out_height",
        px_sum.alias("px_sum"),
        F.round(px_sum / n_px / 255.0, 6).alias("px_mean"),
    )


RESAMPLE_AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("in_rate", IntegerType(), True),
        StructField("out_rate", IntegerType(), True),
        StructField("n_in", LongType(), True),
        StructField("n_out", LongType(), True),
        StructField("samples", ArrayType(IntegerType()), True),
    ]
)

#: Stub pseudo-rates: the byte stream is read as an interleaved 2-channel
#: 8-bit signal at 8 kHz and resampled 4:1 — fixed integers so the oracle
#: replays the exact stride arithmetic.
AUDIO_STUB_IN_RATE = 8_000
AUDIO_STUB_OUT_RATE = 2_000


def resample_audio(
    blobs: DataFrame, out_rate: int = AUDIO_STUB_OUT_RATE, decode_mode: str = "stub"
) -> DataFrame:
    """Audio resample + channel downmix — the transform analog of
    :func:`resize_images` for audio.

    Both modes downmix channels by integer floor-mean and nearest-neighbor
    resample to ``out_rate`` (output length ``max(n_in * out_rate //
    in_rate, 1)``, index stride ``(k * n_in) // n_out`` — the resize grid
    arithmetic in 1-D); a blob with no frames gives no row. ``real``
    decodes any audio container :func:`decode_blob` knows; ``stub`` reads
    the raw bytes as interleaved 2-channel unsigned 8-bit at
    :data:`AUDIO_STUB_IN_RATE`, so the registered query's oracle replays
    it in SQL. Integer arithmetic end to end: no filter state, no float
    accumulation, bit-stable on any engine and any partitioning."""
    real = _real(decode_mode)

    def row(doc_id, blob):
        if real:
            _, frames, in_rate = decode_blob(bytes(blob), "audio")
            mono = frames.astype(np.int32).sum(axis=1) // frames.shape[1]
        else:
            data = np.frombuffer(blob, dtype=np.uint8)
            in_rate = AUDIO_STUB_IN_RATE
            n = len(data) // 2
            mono = (data[0 : 2 * n : 2].astype(np.int32) + data[1 : 2 * n : 2]) // 2
        n_in = len(mono)
        if n_in:
            n_out = max(n_in * out_rate // in_rate, 1)
            idx = (np.arange(n_out, dtype=np.int64) * n_in) // n_out
            yield (int(doc_id), int(in_rate), int(out_rate), n_in, n_out, mono[idx].astype(np.int32))

    return _map_rows(blobs, ("doc_id", "blob"), RESAMPLE_AUDIO_SCHEMA, row)


# Shared stub-oracle fragment: the downmixed sample at output index k —
# frame j = (k * n_in) // n_out, chars 2j+1 / 2j+2 (1-indexed), floor-mean.
_AUDIO_STUB_SAMPLE = (
    "(ascii(substring(text, CAST(2 * ((k * n_in) // n_out) + 1 AS BIGINT), 1))"
    " + ascii(substring(text, CAST(2 * ((k * n_in) // n_out) + 2 AS BIGINT), 1))) // 2"
)


@register(
    "multimodal_audio_resample_stub",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, text, length(text) // 2 AS n_in
      FROM documents
      WHERE {_MODALITY_SQL} = 'audio' AND length(text) >= 2
    ),
    b AS (
      SELECT doc_id, text, n_in,
             greatest(n_in * {AUDIO_STUB_OUT_RATE} // {AUDIO_STUB_IN_RATE}, 1)
               AS n_out
      FROM a
    ),
    c AS (
      SELECT doc_id, n_in, n_out,
             list_sum(list_transform(
               generate_series(0, CAST(n_out - 1 AS BIGINT)),
               k -> {_AUDIO_STUB_SAMPLE})) AS s
      FROM b
    )
    SELECT doc_id,
           CAST(n_in AS BIGINT) AS n_in,
           CAST(n_out AS BIGINT) AS n_out,
           CAST(s AS BIGINT) AS sample_sum,
           round(CAST(s AS DOUBLE) / n_out, 6) AS sample_mean
    FROM c
    """,
)
def multimodal_audio_resample_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered resample surface over 'audio' blobs: per-doc frame
    counts plus the exact integer sum and rounded mean of the downmixed,
    4:1-resampled sample stream. The oracle replays the byte-pair
    floor-mean and the (k*n_in)//n_out stride over the ASCII text; the
    full sample array stays on the unregistered :func:`resample_audio`
    API (the resize-stub projection discipline)."""
    audio = (
        blobs_from_documents(spark, sf_dir)
        .where(F.col("modality") == "audio")
        .where(F.length("blob") >= 2)
    )
    out = resample_audio(audio)
    s64 = F.transform(F.col("samples"), lambda s: s.cast("long"))
    sample_sum = F.aggregate(s64, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return out.select(
        "doc_id",
        "n_in",
        "n_out",
        sample_sum.alias("sample_sum"),
        F.round(sample_sum / F.col("n_out"), 6).alias("sample_mean"),
    )


FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_offset", LongType(), True),
        StructField("frame_sha", StringType(), True),
    ]
)

N_FRAMES = 4


def _sha16(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()[:16]


def sample_frames(blobs: DataFrame, n_frames: int = N_FRAMES, decode_mode: str = "stub") -> DataFrame:
    """Frame sampling: one input row -> ``n_frames`` output rows at a
    uniform stride, each with its offset and a 16-hex sha256 digest.

    ``stub`` digests a 64-byte window at each stride point of the raw
    bytes. ``real`` takes a concatenated-PNG stream (an MJPEG-style video:
    one PNG per frame, back to back) and digests the decoded pixels of the
    sampled frames, or takes audio and digests fixed-length sample
    windows (offsets are then sample indexes)."""
    real = _real(decode_mode)

    def row(doc_id, blob):
        raw = bytes(blob)
        if not real:
            n = max(len(raw), 1)
            for k in range(n_frames):
                off = (k * n) // n_frames
                yield (int(doc_id), k, off, _sha16(raw[off : off + 64]))
            return
        from map_reduce_go_spark.functions.png_codec import is_png, png_stream_offsets

        if is_png(raw):
            # A structural chunk walk: the 8-byte signature can occur
            # inside compressed IDAT payload, so raw.find() would mis-split.
            offs = png_stream_offsets(raw)
            nf = len(offs) - 1
            for k in range(n_frames):
                fi = (k * nf) // n_frames
                _, frame, _ = decode_blob(raw[offs[fi] : offs[fi + 1]], "image")
                yield (int(doc_id), k, offs[fi], _sha16(frame.tobytes()))
            return
        _, samples, _ = decode_blob(raw, "audio")
        ns = max(len(samples), 1)
        win = max(ns // n_frames, 1)
        for k in range(n_frames):
            s0 = (k * ns) // n_frames
            yield (int(doc_id), k, s0, _sha16(samples[s0 : s0 + win].tobytes()))

    return _map_rows(blobs, ("doc_id", "blob"), FRAMES_SCHEMA, row)


@register(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id,
           CAST(k AS INTEGER) AS frame_idx,
           (k * greatest(length(text), 1)) // {N_FRAMES} AS frame_offset,
           left(sha256(substring(text,
                CAST((k * greatest(length(text), 1)) // {N_FRAMES} AS BIGINT) + 1,
                64)), 16) AS frame_sha
    FROM documents, range(0, {N_FRAMES}) AS r(k)
    WHERE {_MODALITY_SQL} = 'video'
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pipeline over 'video' blobs: deterministic 1->N
    frame fanout. The stub codec's offset/digest arithmetic is pure
    (uniform stride into the byte stream + sha256 of a 64-byte window),
    so the oracle recomputes it in SQL — the fixture corpus is ASCII, so
    char-indexed substring equals the Python byte slice."""
    videos = blobs_from_documents(spark, sf_dir).where(F.col("modality") == "video")
    return sample_frames(videos)


# --------------------------------------------------------------------------
# Row-level quarantine: corrupt/foreign blobs must not fail the task
# --------------------------------------------------------------------------

QUARANTINE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("status", StringType(), False),
        StructField("error_class", StringType(), True),
        StructField("px_w", IntegerType(), True),
        StructField("px_h", IntegerType(), True),
        StructField("pix_sum", LongType(), True),
    ]
)

#: Planted-corruption geometry: every healthy image plant is a
#: PLANT_W x PLANT_H grayscale picture, and every plant payload is the
#: document's first PLANT_W*PLANT_H UTF-8 bytes, zero-padded — so the
#: decoded sum is a SQL-computable function of the text.
PLANT_W, PLANT_H = 8, 4


def _plant_class(doc_id):
    """The fixture class of a document: works on an int and on a Column."""
    return doc_id % 8


# DuckDB: _plant_class.
_PLANT_SQL = "CAST(doc_id % 8 AS INTEGER)"


def _mulaw_val_sql(byte_expr: str) -> str:
    """DuckDB: the ITU-T G.711 u-law expansion of one compressed byte —
    with u = 255 - b (the bitwise complement), magnitude
    ((u%16)*8 + 132) << ((u//16)%8), bias -132, sign from u >= 128.
    Verified equal to the codec's 256-entry decode table for every byte
    (tests/test_multimodal_real.py)."""
    u = f"(255 - {byte_expr})"
    t = f"((({u} % 16) * 8 + 132) * (1 << (({u} // 16) % 8)))"
    return f"(CASE WHEN {u} >= 128 THEN 132 - {t} ELSE {t} - 132 END)"


# DuckDB: the decoded samples of a class-7 plant, one per payload byte.
_MULAW_VALS_SQL = (
    f"list_transform(range(1, {PLANT_W * PLANT_H} + 1), i -> "
    + _mulaw_val_sql("COALESCE(ascii(substring(text, CAST(i AS BIGINT), 1)), 0)")
    + ")"
)


def _plant_blob(doc_id: int, text: str | None) -> bytes:
    """The planted blob of one document, by :func:`_plant_class`:

    - ``0`` — a valid PNG truncated at half its length (signature intact,
      chunk walk fails mid-IDAT): the partially-fetched blob.
    - ``1`` — GIF87a magic in front of the text: a container no codec
      implements.
    - ``2`` — zero-length payload: the upstream-wrote-nothing case.
    - ``3``/``4`` — a healthy grayscale PNG of the payload.
    - ``5`` — the same pixels as a healthy 8-bit BMP.
    - ``6`` — a healthy JPEG, 2*PLANT_W wide and PLANT_H tall: two 8x8
      blocks, each constant at the text's first/second byte, progressive
      (SOF2) when ``doc_id % 16 == 14`` and baseline otherwise. Both
      forms carry the same quantized coefficients, and constant blocks
      survive DCT -> quantize(1) -> IDCT exactly, so the pixel sum is one
      SQL formula.
    - ``7`` — a healthy G.711 u-law mono WAV whose compressed samples are
      the payload, so the decoded sample sum is the G.711 expansion per
      byte (:func:`_mulaw_val_sql`)."""
    from map_reduce_go_spark.functions.bmp_codec import encode_bmp
    from map_reduce_go_spark.functions.jpeg_codec import encode_jpeg
    from map_reduce_go_spark.functions.png_codec import encode_png
    from map_reduce_go_spark.functions.wav_codec import wrap_g711_payload

    raw = (text or "").encode("utf-8")
    cls = _plant_class(doc_id)
    if cls == 2:
        return b""
    if cls == 1:
        return b"GIF87a" + raw
    if cls == 6:
        img = np.hstack([np.full((PLANT_H, PLANT_W), b, dtype=np.uint8) for b in (raw + b"\0\0")[:2]])
        return encode_jpeg(img, progressive=doc_id % 16 == 14)
    n_px = PLANT_W * PLANT_H
    payload = raw[:n_px].ljust(n_px, b"\0")
    if cls == 7:
        return wrap_g711_payload(payload, "mulaw", 8_000, 1)
    img = np.frombuffer(payload, dtype=np.uint8).reshape(PLANT_H, PLANT_W)
    if cls == 5:
        return encode_bmp(img)
    png = encode_png(img)
    return png[: len(png) // 2] if cls == 0 else png


def planted_corrupt_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture builder for the quarantine path: one :func:`_plant_blob` per
    document, over real, spec-conformant image/audio bytes from the repo's
    codecs. Every 100 TB crawl contains all these shapes; the fixture
    makes their mix deterministic so the DuckDB oracle can predict each
    row's fate from the text alone."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _map_rows(
        docs, ("doc_id", "text"), BLOB_SCHEMA,
        lambda doc_id, text: [(int(doc_id), _plant_blob(int(doc_id), text))],
    )


#: Windowed-energy framing over the 32-sample u-law plant: 4 windows of
#: 8 samples — the audio analog of the image fixture's block structure.
AUDIO_ENERGY_WINDOWS = 4

ENERGY_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("window_idx", IntegerType(), False),
        StructField("energy", LongType(), False),
        StructField("peak", IntegerType(), False),
    ]
)


@register(
    "mulaw_audio_energy_windows",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {_MULAW_VALS_SQL} AS vals
      FROM documents
      WHERE {_PLANT_SQL} = 7
    )
    SELECT doc_id,
           CAST(k AS INTEGER) AS window_idx,
           CAST(list_sum(list_transform(
                  list_slice(vals, 8 * CAST(k AS BIGINT) + 1,
                             8 * CAST(k AS BIGINT) + 8),
                  v -> v * v)) AS BIGINT) AS energy,
           CAST(list_max(list_transform(
                  list_slice(vals, 8 * CAST(k AS BIGINT) + 1,
                             8 * CAST(k AS BIGINT) + 8),
                  v -> abs(v))) AS INTEGER) AS peak
    FROM s, range(0, {AUDIO_ENERGY_WINDOWS}) AS r(k)
    """,
)
def mulaw_audio_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio feature extraction over real compressed audio: each
    class-7 plant (a G.711 u-law WAV, :func:`_plant_blob`) round-trips
    through actual container bytes — wrap the payload, walk the RIFF
    chunks, expand the companded samples — then frames into 4 windows of
    8 samples with exact integer energy (sum of squares) and peak (max
    absolute sample) per window. The oracle replays the ITU-T G.711
    expansion per byte in SQL and windows with list_slice, so the driver
    value-hashes real codec math, not a stub. Plan shape: scan ->
    mapInPandas -> result, zero shuffle — embarrassingly parallel at any
    corpus size (reference disposition: the MapReduce lab has no media
    surface; this extends the north-star multimodal set)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(_plant_class(F.col("doc_id")) == 7)
    )
    win = PLANT_W * PLANT_H // AUDIO_ENERGY_WINDOWS

    def row(doc_id, text):
        _, samples, _ = decode_blob(_plant_blob(int(doc_id), text), "audio")
        v = samples[:, 0].astype(np.int64)
        for k in range(AUDIO_ENERGY_WINDOWS):
            wv = v[win * k : win * (k + 1)]
            yield (int(doc_id), k, int((wv * wv).sum()), int(np.abs(wv).max()))

    return _map_rows(docs, ("doc_id", "text"), ENERGY_SCHEMA, row)


def decode_blobs_with_quarantine(blobs: DataFrame) -> DataFrame:
    """Row-level fault tolerance for the real decode path: each blob's
    :func:`decode_blob` failure becomes a ``(doc_id, error_class)``
    quarantine row instead of failing the task — the row-level analog of
    the reference coordinator's task re-execution
    (src/mr/coordinator.go:114-138, where a bad task is reassigned rather
    than killing the job; here a bad ROW is recorded and skipped, because
    retrying deterministic corruption is useless). Healthy rows carry
    real decode facts: ``px_w``/``px_h`` are the pixel width and height
    of an image, or the channels and frames of audio, and ``pix_sum`` is
    the sum of every decoded value. Downstream feature extraction
    consumes ``status = 'ok'`` rows only, and a separate audit sink keeps
    the quarantined ones.

    Deterministic error classes:

    - ``empty_blob``          zero-length or NULL payload
    - ``unsupported_format``  a container no codec implements, or a
                              known container using features outside
                              its codec's scope (e.g. 16-bit or RLE4
                              BMP, lossless/CMYK JPEG, float-PCM WAV) —
                              the ``NotImplementedError`` the fail-fast
                              operators raise
    - ``corrupt_data``        a known container whose parse or
                              decompress fails (truncation, bad CRC,
                              malformed chunks)

    At 100 TB the quarantine output is a first-class table partitioned
    like the input: re-ingest retries read it, and its error_class
    histogram is the crawl-health dashboard."""

    def row(doc_id, blob):
        err, facts = None, (None, None, None)
        if blob is None or len(blob) == 0:
            err = "empty_blob"
        else:
            try:
                _, arr, _ = decode_blob(bytes(blob))
                facts = (int(arr.shape[1]), int(arr.shape[0]), int(arr.astype(np.int64).sum()))
            except NotImplementedError:
                err = "unsupported_format"
            except Exception:  # parse/zlib/struct failures
                err = "corrupt_data"
        yield (int(doc_id), "ok" if err is None else "quarantined", err, *facts)

    return _map_rows(blobs, ("doc_id", "blob"), QUARANTINE_SCHEMA, row)


@register(
    "multimodal_quarantine_audit",
    oracle=f"""
    WITH p AS (SELECT doc_id, text, {_PLANT_SQL} AS plant FROM documents)
    SELECT doc_id,
           CASE WHEN plant IN (0, 1, 2) THEN 'quarantined' ELSE 'ok' END AS status,
           CASE plant
             WHEN 0 THEN 'corrupt_data'
             WHEN 1 THEN 'unsupported_format'
             WHEN 2 THEN 'empty_blob'
             ELSE NULL END AS error_class,
           CASE WHEN plant IN (3, 4, 5) THEN {PLANT_W}
                WHEN plant = 6 THEN {2 * PLANT_W}
                WHEN plant = 7 THEN 1
           END AS px_w,
           CASE WHEN plant IN (3, 4, 5, 6) THEN {PLANT_H}
                WHEN plant = 7 THEN {PLANT_W * PLANT_H}
           END AS px_h,
           CASE WHEN plant IN (3, 4, 5)
                THEN CAST(COALESCE(list_sum(list_transform(
                       range(1, least(length(text), {PLANT_W * PLANT_H}) + 1),
                       i -> ascii(substring(text, i, 1)))), 0) AS BIGINT)
                WHEN plant = 6
                THEN CAST({PLANT_W * PLANT_H} * (
                       COALESCE(ascii(substring(text, 1, 1)), 0)
                       + COALESCE(ascii(substring(text, 2, 1)), 0)) AS BIGINT)
                WHEN plant = 7
                THEN CAST(list_sum({_MULAW_VALS_SQL}) AS BIGINT)
           END AS pix_sum
    FROM p
    """,
)
def multimodal_quarantine_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end row-level resilience over a planted-corruption corpus:
    real decode per blob across every container :func:`decode_blob`
    knows (PNG, BMP, JPEG baseline and progressive, G.711 u-law WAV),
    failures quarantined with a deterministic error class, healthy rows
    emitting real pixel/sample facts. The oracle predicts every row's
    fate in SQL because the plant is a pure function of doc_id and the
    payload is the document's leading ASCII bytes: for PNG/BMP the
    decoded pixel sum equals the char-code sum DuckDB computes; for JPEG
    the two constant 8x8 blocks round-trip exactly (quant=1), so the sum
    is 32*(byte1+byte2); for u-law WAV the oracle applies the ITU-T G.711
    expansion arithmetic per compressed byte — the driver value-hashes
    the whole decode-or-quarantine decision, not just the happy path."""
    return decode_blobs_with_quarantine(planted_corrupt_blobs(spark, sf_dir))
