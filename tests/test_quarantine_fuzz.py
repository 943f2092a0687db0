"""Property tests for the round-11 surfaces.

The quarantine operator's whole contract is "no input bytes can kill the
task" — a claim that deserves adversarial fuzz, not just the planted
fixture: random blobs, format-magic-prefixed garbage, truncations of
valid files at every byte offset. And the integer helpers' cross-engine
identity (trunc_div == DuckDB's ``//`` == Spark's ``div``) is load-bearing
for every replayed trajectory, so it gets checked against DuckDB itself
over adversarial operand pairs."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from map_reduce_go_spark.functions.intmath import trunc_div
from map_reduce_go_spark.functions.png_codec import encode_png
from map_reduce_go_spark.operators.multimodal import decode_blobs_with_quarantine

_STATUSES = {"ok", "quarantined"}
_CLASSES = {None, "empty_blob", "unsupported_format", "corrupt_data"}


def _decode_all(blob_frame, blobs: list[bytes | None]):
    return decode_blobs_with_quarantine(blob_frame(enumerate(blobs))).collect()


def test_fuzz_random_blobs_never_fail_the_task(blob_frame):
    """512 adversarial blobs in one pass: pure random bytes, PNG/WAV/JPEG
    magic over garbage, and every-offset truncations of a valid PNG —
    exactly one output row per input, status/error_class from the closed
    sets, ok rows only when the decode genuinely succeeded."""
    rng = np.random.default_rng(42)
    png = encode_png(np.arange(32, dtype=np.uint8).reshape(4, 8))
    blobs: list[bytes | None] = [None, b""]
    blobs += [rng.bytes(int(n)) for n in rng.integers(1, 400, size=160)]
    blobs += [b"\x89PNG\r\n\x1a\n" + rng.bytes(int(n)) for n in rng.integers(0, 200, size=120)]
    blobs += [b"RIFF" + rng.bytes(int(n)) + b"WAVE" for n in rng.integers(4, 60, size=80)]
    blobs += [b"\xff\xd8\xff\xe0" + rng.bytes(int(n)) for n in rng.integers(0, 60, size=40)]
    blobs += [bytes(png[:k]) for k in range(len(png))]  # every truncation point
    blobs += [bytes(png)]  # and the one valid file
    rows = _decode_all(blob_frame, blobs)
    assert len(rows) == len(blobs)
    ok = 0
    for r in rows:
        assert r["status"] in _STATUSES
        assert r["error_class"] in _CLASSES
        assert (r["status"] == "ok") == (r["error_class"] is None)
        if r["status"] == "ok":
            ok += 1
            assert r["px_w"] is not None and r["pix_sum"] is not None
    assert ok >= 1  # the intact PNG decoded
    # Any prefix cut BEFORE the end of the IDAT payload must quarantine
    # (pixel data incomplete). Cuts after that may legitimately decode:
    # the codec is lenient about the trailing IDAT CRC and IEND, like
    # most real decoders — pixel bytes are all present.
    by_id = {r["doc_id"]: r for r in rows}
    first_trunc = len(blobs) - len(png) - 1
    idat_payload_end = len(png) - 16  # minus IDAT CRC (4) and IEND (12)
    for k in range(idat_payload_end):
        assert by_id[first_trunc + k]["status"] == "quarantined", k


def test_fuzz_bmp_truncations_and_garbage_never_fail_the_task(blob_frame):
    """BMP twin of the PNG fuzz (the r12 third container): every-offset
    truncations of a valid 8-bit BMP, BM-magic over garbage, and a
    well-formed-but-out-of-scope 24-bit header. BMP has no checksums, so
    the decoder's own bounds checks are the only thing standing between
    a truncated pixel array and an out-of-range read — exactly what the
    fuzz exercises. Any cut before the full pixel array quarantines;
    only the complete file decodes."""
    rng = np.random.default_rng(7)
    from map_reduce_go_spark.functions.bmp_codec import encode_bmp

    bmp = encode_bmp(np.arange(32, dtype=np.uint8).reshape(4, 8))
    blobs: list[bytes | None] = [bytes(bmp[:k]) for k in range(len(bmp))]
    full_idx = len(blobs)
    blobs += [bytes(bmp)]
    blobs += [b"BM" + rng.bytes(int(n)) for n in rng.integers(0, 120, size=60)]
    # 16-bit header: same geometry, biBitCount swapped at offset 28 —
    # parses fine, out of codec scope (24-bit is implemented late r13).
    deep = bytearray(bmp)
    deep[28] = 16
    blobs += [bytes(deep)]
    rows = _decode_all(blob_frame, blobs)
    assert len(rows) == len(blobs)
    by_id = {r["doc_id"]: r for r in rows}
    for k in range(len(bmp)):
        assert by_id[k]["status"] == "quarantined", k
        if k >= 26:  # sniff confirms container (BM + readable DIB header
            # size): recognized container, bad bytes
            assert by_id[k]["error_class"] == "corrupt_data", k
        else:  # too short for the r12-hardened sniff (ADVICE r12: 'BM'
            # alone is 2 ASCII bytes): not identifiable as any container
            assert by_id[k]["error_class"] in ("empty_blob", "unsupported_format")
    assert by_id[full_idx]["status"] == "ok"
    assert by_id[full_idx]["pix_sum"] == int(np.arange(32).sum())
    assert by_id[len(blobs) - 1]["error_class"] == "unsupported_format"  # 16-bit
    for r in rows:
        assert r["status"] in _STATUSES and r["error_class"] in _CLASSES


def test_fuzz_jpeg_truncations_and_garbage_never_fail_the_task(blob_frame):
    """JPEG twin of the PNG/BMP fuzz (the r13 fourth container): every-
    offset truncations of a valid baseline JPEG, JFIF magic over
    garbage, and a well-formed-but-lossless (SOF3) file. The entropy
    stream is bit-level Huffman with byte stuffing — truncation can land
    mid-code, mid-stuffing, or mid-segment; every cut must classify,
    never crash the task. Quarantine is pinned for every cut strictly
    before the EOI marker (the multi-scan decoder, late r13, requires
    the EOI terminator; cuts inside it also classify, as corrupt)."""
    rng = np.random.default_rng(13)
    from map_reduce_go_spark.functions.jpeg_codec import encode_jpeg

    # Two constant 8x8 blocks: exact round-trip (the fixture property),
    # so the full file's pix_sum is checkable to the digit.
    img = np.hstack(
        [np.full((4, 8), 65, dtype=np.uint8), np.full((4, 8), 200, dtype=np.uint8)]
    )
    jpg = encode_jpeg(img)
    blobs: list[bytes | None] = [bytes(jpg[:k]) for k in range(len(jpg))]
    full_idx = len(blobs)
    blobs += [bytes(jpg)]
    blobs += [b"\xff\xd8\xff" + rng.bytes(int(n)) for n in rng.integers(0, 120, size=60)]
    lossless = bytearray(jpg)
    lossless[jpg.find(b"\xff\xc0") + 1] = 0xC3
    blobs += [bytes(lossless)]
    rows = _decode_all(blob_frame, blobs)
    assert len(rows) == len(blobs)
    by_id = {r["doc_id"]: r for r in rows}
    for k in range(len(jpg) - 2):  # strictly before the EOI marker
        assert by_id[k]["status"] == "quarantined", k
        if k >= 3:  # SOI + marker byte: recognized container, bad bytes
            assert by_id[k]["error_class"] == "corrupt_data", k
        else:
            assert by_id[k]["error_class"] in ("empty_blob", "unsupported_format")
    assert by_id[full_idx]["status"] == "ok"
    assert by_id[full_idx]["pix_sum"] == 32 * (65 + 200)
    assert by_id[len(blobs) - 1]["error_class"] == "unsupported_format"  # SOF3
    for r in rows:
        assert r["status"] in _STATUSES and r["error_class"] in _CLASSES


def test_fuzz_color_jpeg_truncations_never_fail_the_task(blob_frame):
    """Color-JPEG twin of the grayscale JPEG fuzz (r13: 3-component
    YCbCr, 4:2:0): the interleaved MCU scan adds chroma blocks, a second
    quant table, and four Huffman tables to the byte surface — every
    truncation offset must classify, never crash; the complete file
    decodes with an all-channel pixel sum."""
    from map_reduce_go_spark.functions.jpeg_codec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(19)
    img = rng.integers(0, 256, (12, 10, 3), dtype=np.uint8)
    jpg = encode_jpeg(img, subsampling="420", restart_interval=1)
    blobs: list[bytes | None] = [bytes(jpg[:k]) for k in range(len(jpg))]
    full_idx = len(blobs)
    blobs += [bytes(jpg)]
    rows = _decode_all(blob_frame, blobs)
    by_id = {r["doc_id"]: r for r in rows}
    for k in range(len(jpg) - 2):  # strictly before the EOI marker
        assert by_id[k]["status"] == "quarantined", k
    assert by_id[full_idx]["status"] == "ok"
    assert by_id[full_idx]["pix_sum"] == int(
        decode_jpeg(jpg).astype("int64").sum()
    )
    for r in rows:
        assert r["status"] in _STATUSES and r["error_class"] in _CLASSES


def test_fuzz_progressive_jpeg_truncations_never_fail_the_task(blob_frame):
    """Progressive-JPEG twin (late r13: SOF2 multi-scan decode): the
    byte surface now includes multiple SOS headers, per-scan entropy
    segments, refinement raw-bit streams, and EOB codes — a cut can
    land between scans (marker expected), inside a scan header, or
    mid-refinement; every offset must classify, the complete color
    progressive file must decode with the exact pixel sum of its
    baseline twin."""
    from map_reduce_go_spark.functions.jpeg_codec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, (12, 10, 3), dtype=np.uint8)
    jpg = encode_jpeg(img, subsampling="420", progressive=True)
    blobs: list[bytes | None] = [bytes(jpg[:k]) for k in range(len(jpg))]
    full_idx = len(blobs)
    blobs += [bytes(jpg)]
    rows = _decode_all(blob_frame, blobs)
    by_id = {r["doc_id"]: r for r in rows}
    for k in range(len(jpg)):  # every cut (EOI required by the decoder)
        assert by_id[k]["status"] == "quarantined", k
    assert by_id[full_idx]["status"] == "ok"
    want = int(decode_jpeg(encode_jpeg(img, subsampling="420")).astype("int64").sum())
    assert by_id[full_idx]["pix_sum"] == want
    for r in rows:
        assert r["status"] in _STATUSES and r["error_class"] in _CLASSES


def test_fuzz_wav_truncations_and_garbage_never_fail_the_task(blob_frame):
    """WAV twin of the image fuzzes, now that the RIFF walk is the repo's
    own (r13, non-PCM support): every-offset truncations of a valid
    G.711 u-law WAV and of an IMA ADPCM WAV. The RIFF layout is
    header(12) + fmt + fact + data with declared chunk sizes, so ANY cut
    inside the chunk stream leaves a chunk shorter than its declaration
    or drops fmt/data entirely — every k in [12, len) must classify
    corrupt_data, cuts before the 12-byte magic are unidentifiable, and
    only the complete file decodes."""
    from map_reduce_go_spark.functions.wav_codec import (
        encode_wav_ima_adpcm,
        mulaw_decode,
        wrap_g711_payload,
    )

    payload = bytes(range(64))
    g711 = wrap_g711_payload(payload, "mulaw", 8_000, 1)
    adpcm = encode_wav_ima_adpcm(
        (np.arange(505, dtype=np.int16) * 13 % 2000).astype(np.int16), 8_000
    )
    blobs: list[bytes | None] = []
    marks = []
    for wav in (g711, adpcm):
        start = len(blobs)
        blobs += [bytes(wav[:k]) for k in range(len(wav))]
        blobs += [bytes(wav)]
        marks.append((start, len(wav)))
    rows = _decode_all(blob_frame, blobs)
    assert len(rows) == len(blobs)
    by_id = {r["doc_id"]: r for r in rows}
    for start, n in marks:
        for k in range(n):
            r = by_id[start + k]
            assert r["status"] == "quarantined", (start, k)
            if k >= 12:
                assert r["error_class"] == "corrupt_data", (start, k)
            else:
                assert r["error_class"] in ("empty_blob", "unsupported_format")
        assert by_id[start + n]["status"] == "ok", start
    full_g711 = by_id[marks[0][1]]
    assert full_g711["pix_sum"] == int(mulaw_decode(payload).astype("int64").sum())
    for r in rows:
        assert r["status"] in _STATUSES and r["error_class"] in _CLASSES


@given(
    a=st.integers(min_value=-(2**62), max_value=2**62),
    b=st.integers(min_value=-(2**31), max_value=2**31).filter(lambda x: x != 0),
)
@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_trunc_div_matches_python_definition(a: int, b: int):
    q = trunc_div(a, b)
    # Defining properties of truncation toward zero: |q| = |a| div |b|,
    # remainder strictly smaller than the divisor, quotient sign = the
    # operands' sign product. (q*b <= a would be FLOOR division — the
    # semantics this helper exists to avoid.)
    assert abs(q) == abs(a) // abs(b)
    r = a - q * b
    assert abs(r) < abs(b)
    if r != 0:
        assert (r > 0) == (a > 0)  # remainder carries the dividend's sign
    # Sign: q is zero or has the sign of a/b.
    if q != 0:
        assert (q > 0) == ((a > 0) == (b > 0))


def test_trunc_div_matches_duckdb_trunc_div_semantics():
    """The identity every replayed trajectory leans on, checked against
    the actual engine: DuckDB's BIGINT ``//`` equals trunc_div on an
    adversarial operand grid (negatives, near-boundary, exact multiples)."""
    import duckdb

    vals_a = [-13, -12, -7, -5, -1, 0, 1, 5, 7, 12, 13, 10**12 + 7, -(10**12) - 7]
    vals_b = [-7, -4, -3, -1, 1, 3, 4, 7, 1000]
    pairs = [(a, b) for a in vals_a for b in vals_b]
    rel = duckdb.sql(
        "SELECT a, b, CAST(a AS BIGINT) // CAST(b AS BIGINT) AS q FROM (VALUES "
        + ", ".join(f"({a}, {b})" for a, b in pairs)
        + ") t(a, b)"
    )
    for a, b, q in rel.fetchall():
        assert trunc_div(a, b) == q, (a, b, q)


def test_trunc_div_rejects_zero_divisor():
    with pytest.raises(ZeroDivisionError):
        trunc_div(5, 0)
