"""Row-level quarantine for the multimodal decode path (VERDICT r10
brief #2): corrupt/foreign/empty blobs land in a quarantine output with a
deterministic error class while healthy rows REALLY decode — the task
never fails. The row-level analog of the reference coordinator's
bad-task tolerance (src/mr/coordinator.go:114-138)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from map_reduce_go_spark.functions.png_codec import encode_png
from map_reduce_go_spark.operators.multimodal import (
    PLANT_H,
    PLANT_W,
    decode_blobs_with_quarantine,
    extract_features,
    planted_corrupt_blobs,
)

def test_planted_fixture_fates_are_exhaustive(spark, sf_dir):
    """Every input doc produces exactly one output row; statuses and
    error classes follow the doc_id % 8 plant (classes 3/4 healthy PNG,
    5 healthy BMP, 6 healthy JPEG, 7 healthy G.711 u-law WAV — the
    r12/r13 third through fifth containers); no row is lost and the job
    completes despite hundreds of planted-bad blobs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = decode_blobs_with_quarantine(planted_corrupt_blobs(spark, sf_dir))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == docs.count()
    assert any(doc_id % 8 == 5 for doc_id in rows)  # BMP class populated
    assert any(doc_id % 8 == 6 for doc_id in rows)  # JPEG class populated
    assert any(doc_id % 8 == 7 for doc_id in rows)  # u-law WAV populated
    for doc_id, r in rows.items():
        kind = doc_id % 8
        if kind in (0, 1, 2):
            assert r["status"] == "quarantined", (doc_id, r)
            want = {0: "corrupt_data", 1: "unsupported_format", 2: "empty_blob"}[kind]
            assert r["error_class"] == want
            assert r["px_w"] is None and r["pix_sum"] is None
        elif kind == 6:
            assert r["status"] == "ok", (doc_id, r)
            assert r["error_class"] is None
            assert (r["px_w"], r["px_h"]) == (2 * PLANT_W, PLANT_H)
        elif kind == 7:
            assert r["status"] == "ok", (doc_id, r)
            assert r["error_class"] is None
            # (channels, frames): mono, one sample per planted byte.
            assert (r["px_w"], r["px_h"]) == (1, PLANT_W * PLANT_H)
        else:
            assert r["status"] == "ok", (doc_id, r)
            assert r["error_class"] is None
            assert (r["px_w"], r["px_h"]) == (PLANT_W, PLANT_H)


def test_ok_rows_carry_real_decode_facts(spark, sf_dir):
    """The healthy rows' pixel/sample sum equals a pure function of the
    document's leading bytes — proof the PNG/BMP/JPEG/WAV round-trips
    actually ran, not a stub. For JPEG the two constant 8x8 blocks
    round-trip exactly through quant-1 DCT, so the sum is
    32*(byte1+byte2); for u-law WAV the sum is the G.711 decode table
    applied to the planted (zero-padded) bytes."""
    from map_reduce_go_spark.functions.wav_codec import mulaw_decode

    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    n_px = PLANT_W * PLANT_H
    out = decode_blobs_with_quarantine(planted_corrupt_blobs(spark, sf_dir))
    checked = jpeg_checked = wav_checked = 0
    for r in out.where(F.col("status") == "ok").collect():
        raw = docs[r["doc_id"]].encode("utf-8")
        if r["doc_id"] % 8 == 6:
            b1 = raw[0] if len(raw) >= 1 else 0
            b2 = raw[1] if len(raw) >= 2 else 0
            assert r["pix_sum"] == n_px * (b1 + b2), r["doc_id"]
            jpeg_checked += 1
        elif r["doc_id"] % 8 == 7:
            payload = raw[:n_px] + bytes(n_px - min(len(raw), n_px))
            want = int(mulaw_decode(payload).astype("int64").sum())
            assert r["pix_sum"] == want, r["doc_id"]
            wav_checked += 1
        else:
            assert r["pix_sum"] == sum(raw[:n_px]), r["doc_id"]
            checked += 1
    assert checked > 50 and jpeg_checked > 10 and wav_checked > 10


def test_error_classes_per_corruption_shape(blob_frame):
    """Hand-built blobs hit each class: bad-CRC PNG (supported container,
    corrupt payload), foreign magic, empty, a 16-bit WAV that must
    decode on the ok path, and — r13 — JPEG in all three fates:
    corrupt (magic over garbage), unsupported (lossless SOF3; SOF2
    progressive is implemented as of late r13), ok
    (real baseline AND real progressive decode); plus the non-PCM WAV
    fates: A-law decodes
    on the ok path, a float-PCM format tag is unsupported_format (the
    stdlib-wave era classified every non-PCM tag corrupt), and a
    truncated G.711 data chunk is corrupt_data."""
    import io
    import struct
    import wave

    from map_reduce_go_spark.functions.jpeg_codec import encode_jpeg
    from map_reduce_go_spark.functions.wav_codec import (
        alaw_decode,
        encode_wav_g711,
    )

    good = encode_png(np.arange(PLANT_W * PLANT_H, dtype=np.uint8).reshape(PLANT_H, PLANT_W))
    bad_crc = bytearray(good)
    # Flip the zlib stream's first header byte inside IDAT (offset =
    # signature 8 + IHDR 25 + IDAT length/tag 8): decompress fails with
    # 'incorrect header check' — a supported container, corrupt payload.
    bad_crc[8 + 25 + 8] ^= 0xFF
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(np.array([100, -100, 7, 7], dtype=np.int16).tobytes())
    wav = buf.getvalue()
    good_jpeg = encode_jpeg(np.full((4, 8), 9, dtype=np.uint8))
    lossless = bytearray(good_jpeg)
    lossless[good_jpeg.find(b"\xff\xc0") + 1] = 0xC3  # SOF0 -> SOF3
    prog_jpeg = encode_jpeg(np.full((4, 8), 9, dtype=np.uint8), progressive=True)
    alaw = encode_wav_g711(np.array([1000, -1000], dtype=np.int16), "alaw")
    # Float-PCM (format tag 3): well-formed container, unimplemented tag.
    float_fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    float_wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(float_fmt) + 8 + 8) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(float_fmt)) + float_fmt
        + b"data" + struct.pack("<I", 8) + bytes(8)
    )
    truncated_g711 = alaw[: len(alaw) - 1]  # data chunk shorter than header
    out = {
        r["doc_id"]: r
        for r in decode_blobs_with_quarantine(
            blob_frame(
                [
                    (0, bytes(good)),
                    (1, bytes(bad_crc)),
                    (2, b"\xff\xd8\xff\xe0 jpeg-ish"),
                    (3, b""),
                    (4, None),
                    (5, wav),
                    (6, b"GIF87a foreign container"),
                    (7, bytes(good_jpeg)),
                    (8, bytes(lossless)),
                    (9, alaw),
                    (10, float_wav),
                    (11, truncated_g711),
                    (12, bytes(prog_jpeg)),
                ],
            )
        ).collect()
    }
    assert out[0]["status"] == "ok" and out[0]["pix_sum"] == int(
        np.arange(PLANT_W * PLANT_H).sum()
    )
    assert out[1]["error_class"] == "corrupt_data"
    # r13: JPEG is now a RECOGNIZED container — magic over garbage is
    # corrupt_data (was unsupported_format when JPEG was foreign).
    assert out[2]["error_class"] == "corrupt_data"
    assert out[3]["error_class"] == "empty_blob"
    assert out[4]["error_class"] == "empty_blob"  # NULL blob == wrote nothing
    assert out[5]["status"] == "ok"
    assert (out[5]["px_w"], out[5]["px_h"]) == (2, 2)  # (channels, frames)
    assert out[5]["pix_sum"] == 14
    assert out[6]["error_class"] == "unsupported_format"  # genuinely foreign
    assert out[7]["status"] == "ok"
    assert (out[7]["px_w"], out[7]["px_h"]) == (8, 4)
    assert out[7]["pix_sum"] == 9 * 32
    assert out[8]["error_class"] == "unsupported_format"  # well-formed SOF3
    assert out[12]["status"] == "ok"  # real progressive (SOF2) decode
    assert (out[12]["px_w"], out[12]["px_h"]) == (8, 4)
    assert out[12]["pix_sum"] == 9 * 32
    assert out[9]["status"] == "ok"
    assert (out[9]["px_w"], out[9]["px_h"]) == (1, 2)
    assert out[9]["pix_sum"] == int(
        alaw_decode(alaw[-2:]).astype("int64").sum()
    )
    assert out[10]["error_class"] == "unsupported_format"  # float-PCM tag
    assert out[11]["error_class"] == "corrupt_data"  # truncated data chunk


def test_quarantine_gates_downstream_real_decode(spark, sf_dir):
    """The composition a real ingest runs: quarantine front-end splits the
    corpus, ONLY status='ok' doc_ids flow into extract_features in REAL
    decode mode — which would have thrown on any planted-bad blob — and
    every healthy row comes out featurized."""
    blobs = planted_corrupt_blobs(spark, sf_dir)
    audit = decode_blobs_with_quarantine(blobs)
    ok_ids = audit.where(F.col("status") == "ok").select("doc_id")
    healthy = blobs.join(ok_ids, "doc_id").withColumn("modality", F.lit("image"))
    feats = extract_features(healthy, decode_mode="real")
    got = feats.count()
    assert got == ok_ids.count() and got > 50
    # Control: real-mode decode over the UNfiltered corpus fails the task
    # (this is exactly the failure the quarantine path removes).
    with pytest.raises(Exception):
        extract_features(
            blobs.withColumn("modality", F.lit("image")), decode_mode="real"
        ).count()


def test_streaming_quarantine_equals_batch(spark, sf_dir, tmp_path):
    """The quarantine decoder is STATELESS (pure per-row mapInPandas), so
    it drops into Structured Streaming append mode unchanged — the ingest
    shape where row-level quarantine actually runs. Planted blobs arrive
    as multiple files (several micro-batches); the drained decode-or-
    quarantine output must equal the batch pass over the same corpus
    exactly, bad rows and all."""
    blobs = planted_corrupt_blobs(spark, sf_dir)
    src = str(tmp_path / "blob_arrivals")
    blobs.repartition(3).write.parquet(src)
    out_dir = str(tmp_path / "quarantine_out")

    stream = (
        spark.readStream.schema(blobs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        decode_blobs_with_quarantine(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    key = lambda r: tuple(r)  # noqa: E731
    got = sorted(map(key, spark.read.parquet(out_dir).collect()))
    want = sorted(map(key, decode_blobs_with_quarantine(blobs).collect()))
    assert got == want and len(got) > 0
