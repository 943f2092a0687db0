"""Minimal pure-Python BMP codec (encode + decode), stdlib-only.

An image container of the multimodal decoder table
(``operators/multimodal.py::decode_blob``). BMP (Windows DIB, a public
format) differs from PNG in every structural way: little-endian where
PNG is big-endian, palette-indexed where PNG carries raw samples,
bottom-up row order, 4-byte row padding, and no checksums.

Scope — exactly enough to execute real bytes:

- ``encode_bmp``: 8-bit grayscale (H, W) uint8 array as an uncompressed
  BI_RGB DIB with a 256-entry linear gray palette, or an
  (H, W, 3) uint8 RGB array as a 24-bit BI_RGB DIB (BGR byte order, no
  palette); both open in any viewer.
- ``decode_bmp``: the inverse — 8-bit palette or 24-bit true-color
  uncompressed BI_RGB, validating the structural fields it depends on.

It also decodes top-down (negative-height) images and BI_RLE8
run-length compression (runs, end-of-line/bitmap escapes, deltas,
word-aligned absolute mode — skipped pixels decode as 0 per spec);
``encode_bmp_rle8`` emits the compressed form so fixtures are
self-contained. Deliberately out of scope: other bit depths
(1/4/16/32), BI_RLE4/BI_BITFIELDS — well-formed-but-unimplemented, so
the decoder raises ``NotImplementedError`` → ``unsupported_format``,
matching the operators' honest-seam discipline. Truncated or malformed
bytes raise ``ValueError`` → ``corrupt_data``.
"""

from __future__ import annotations

import struct

import numpy as np

_FILE_HEADER_LEN = 14
_INFO_HEADER_LEN = 40
_PALETTE_LEN = 256 * 4

#: Known DIB header sizes (public spec): BITMAPCOREHEADER (12),
#: OS/2 v2 (16/64), BITMAPINFOHEADER (40), v2/v3 (52/56), v4 (108),
#: v5 (124). Well-formed headers outside the codec's 40+ INFO-family
#: scope raise NotImplementedError (quarantine class
#: ``unsupported_format``); anything else is corrupt.
_CORE_HEADER_SIZES = frozenset({12, 16, 64})
_INFO_HEADER_SIZES = frozenset({40, 52, 56, 108, 124})


def is_bmp(raw: bytes) -> bool:
    """Sniff a BMP container. 'BM' alone is 2 ASCII bytes — far weaker
    than PNG's 8-byte or WAV's 12-byte magic, and a text blob starting
    with 'BM' would misroute into decode_bmp and read as corrupt_data.
    Require a full header's worth of bytes and a
    plausible little-endian DIB header size at offset 14; ASCII text at
    that offset decodes to a huge u32, never a known header size."""
    if len(raw) < _FILE_HEADER_LEN + 12 or raw[:2] != b"BM":
        return False
    (hdr_size,) = struct.unpack_from("<I", raw, _FILE_HEADER_LEN)
    return hdr_size in _CORE_HEADER_SIZES or hdr_size in _INFO_HEADER_SIZES


def encode_bmp(img: np.ndarray) -> bytes:
    """Encode an (H, W) uint8 grayscale array as an 8-bit palette BMP,
    or an (H, W, 3) uint8 RGB array as a 24-bit true-color BMP (BGR
    byte order per the DIB spec, rows bottom-up and 4-byte padded)."""
    arr = np.asarray(img)
    if arr.dtype != np.uint8 or arr.ndim not in (2, 3):
        raise ValueError("encode_bmp expects (H, W) or (H, W, 3) uint8")
    if arr.ndim == 3 and arr.shape[2] != 3:
        raise ValueError("color encode_bmp expects exactly 3 channels (RGB)")
    h, w = arr.shape[:2]
    bpp = 8 if arr.ndim == 2 else 24
    row_bytes = w if bpp == 8 else w * 3
    stride = (row_bytes + 3) & ~3  # rows padded to 4 bytes
    palette = (
        b"".join(bytes((i, i, i, 0)) for i in range(256)) if bpp == 8 else b""
    )
    offset = _FILE_HEADER_LEN + _INFO_HEADER_LEN + len(palette)
    image_size = stride * h
    file_header = struct.pack(
        "<2sIHHI", b"BM", offset + image_size, 0, 0, offset
    )
    info_header = struct.pack(
        "<IiiHHIIiiII",
        _INFO_HEADER_LEN,
        w,
        h,  # positive: bottom-up row order, the BMP default
        1,  # planes
        bpp,
        0,  # BI_RGB: uncompressed
        image_size,
        2835,  # 72 DPI in px/metre
        2835,
        256 if bpp == 8 else 0,  # palette entries used
        0,
    )
    pad = b"\x00" * (stride - row_bytes)
    if bpp == 8:
        rows = b"".join(arr[y].tobytes() + pad for y in range(h - 1, -1, -1))
    else:
        bgr = arr[:, :, ::-1]  # RGB -> BGR byte order
        rows = b"".join(bgr[y].tobytes() + pad for y in range(h - 1, -1, -1))
    return file_header + info_header + palette + rows


def encode_bmp_rle8(img: np.ndarray) -> bytes:
    """Encode an (H, W) uint8 grayscale array as a BI_RLE8-compressed
    8-bit BMP (gray palette): maximal runs per row, end-of-line after
    each row, end-of-bitmap terminator — the simplest spec-valid
    compressed encoder, so the decoder's run/escape paths execute on
    real bytes."""
    arr = np.asarray(img)
    if arr.dtype != np.uint8 or arr.ndim != 2:
        raise ValueError("encode_bmp_rle8 expects an (H, W) uint8 array")
    h, w = arr.shape
    stream = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up row order
        x = 0
        row = arr[y]
        while x < w:
            run = 1
            while x + run < w and run < 255 and row[x + run] == row[x]:
                run += 1
            stream += bytes((run, int(row[x])))
            x += run
        stream += b"\x00\x00"  # end of line
    stream += b"\x00\x01"  # end of bitmap
    palette = b"".join(bytes((i, i, i, 0)) for i in range(256))
    off = _FILE_HEADER_LEN + _INFO_HEADER_LEN + len(palette)
    file_header = struct.pack("<2sIHHI", b"BM", off + len(stream), 0, 0, off)
    info_header = struct.pack(
        "<IiiHHIIiiII",
        _INFO_HEADER_LEN, w, h, 1, 8,
        1,  # BI_RLE8
        len(stream), 2835, 2835, 256, 0,
    )
    return file_header + info_header + palette + bytes(stream)


def decode_bmp(raw: bytes) -> np.ndarray:
    """Decode an uncompressed BMP: 8-bit palette to an (H, W) uint8
    array, 24-bit true-color to (H, W, 3) uint8 RGB.

    ValueError for malformed/truncated bytes (quarantine class
    ``corrupt_data``); NotImplementedError for well-formed files using
    features outside this codec's scope (``unsupported_format``)."""
    if not is_bmp(raw):
        raise ValueError("not a BMP: missing BM signature or DIB header")
    # Classify the DIB header family BEFORE parsing INFO-layout fields:
    # BITMAPCOREHEADER (12) and the OS/2 v2 sizes are well-formed files
    # using an unimplemented header variant, not corruption.
    (hdr_size,) = struct.unpack_from("<I", raw, _FILE_HEADER_LEN)
    if hdr_size in _CORE_HEADER_SIZES:
        raise NotImplementedError(
            f"BMP DIB header size {hdr_size} (CORE/OS2 family) not "
            "implemented (BITMAPINFOHEADER 40+ only)"
        )
    if hdr_size not in _INFO_HEADER_SIZES:
        raise ValueError(f"unknown DIB header size {hdr_size}")
    if len(raw) < _FILE_HEADER_LEN + _INFO_HEADER_LEN:
        raise ValueError("truncated BMP: header incomplete")
    _sig, _fsize, _r1, _r2, offset = struct.unpack_from("<2sIHHI", raw, 0)
    (
        hdr_size,
        w,
        h,
        planes,
        bpp,
        compression,
        _img_size,
        _xppm,
        _yppm,
        _used,
        _important,
    ) = struct.unpack_from("<IiiHHIIiiII", raw, _FILE_HEADER_LEN)
    if planes != 1 or w <= 0 or w > 1 << 20 or abs(h) > 1 << 20 or h == 0:
        raise ValueError("malformed BMP dimensions")
    if bpp not in (8, 24):
        raise NotImplementedError(
            f"BMP bit depth {bpp} not implemented (8 and 24 only)"
        )
    if offset < _FILE_HEADER_LEN + _INFO_HEADER_LEN:
        raise ValueError("pixel offset inside headers")
    top_down = h < 0
    h = abs(h)
    if compression == 1:  # BI_RLE8
        if bpp != 8:
            raise ValueError("BI_RLE8 requires 8 bits/pixel")
        if top_down:
            raise ValueError("top-down RLE BMP is invalid per spec")
        return _decode_rle8(raw, offset, h, w)
    if compression != 0:
        raise NotImplementedError(f"BMP compression {compression} not implemented")
    row_bytes = w if bpp == 8 else w * 3
    stride = (row_bytes + 3) & ~3
    need = offset + stride * h
    if len(raw) < need:
        raise ValueError("truncated BMP: pixel array incomplete")

    def row_start(y: int) -> int:  # decoded row y -> file offset
        file_row = y if top_down else h - 1 - y
        return offset + file_row * stride

    if bpp == 8:
        out = np.empty((h, w), dtype=np.uint8)
        for y in range(h):
            out[y] = np.frombuffer(
                raw, dtype=np.uint8, count=w, offset=row_start(y)
            )
        return out
    out = np.empty((h, w, 3), dtype=np.uint8)
    for y in range(h):
        row = np.frombuffer(raw, dtype=np.uint8, count=w * 3, offset=row_start(y))
        out[y] = row.reshape(w, 3)[:, ::-1]  # BGR -> RGB
    return out


#: Hard RLE8 grid-allocation budget: 64 MiB of uint8 pixels. Any real
#: BI_RLE8 image sits far below this; a crafted header claiming more is
#: rejected before np.zeros. Spec-valid skip-heavy encodings (delta
#: skips / early EOB over mostly-blank images) stay decodable.
_RLE8_MAX_PIXELS = 64 * 1024 * 1024


def _decode_rle8(raw: bytes, offset: int, h: int, w: int) -> np.ndarray:
    """BI_RLE8 decompression (public DIB spec): (count, value) runs;
    escape 00 00 = end of line, 00 01 = end of bitmap, 00 02 = delta
    (skip dx pixels / dy rows), 00 n>=3 = n literal bytes padded to a
    word boundary. Rows are bottom-up; skipped pixels decode as 0.
    Overruns of the pixel grid or the byte stream raise ValueError
    (corrupt_data).

    Allocation guard: the grid is
    sized from header-claimed dimensions, so a ~1 KiB crafted blob
    claiming 2^20 x 2^20 would otherwise trigger a 1 TiB np.zeros before
    a single stream byte is read — defeating the quarantine path's
    row-level resilience with an executor OOM. The gate is a hard
    ALLOCATION budget (_RLE8_MAX_PIXELS, 64 MiB of uint8 grid), not a
    stream-length proportion: spec-valid skip-heavy encodings (delta
    skips / early end-of-bitmap over mostly-blank images) cover many
    pixels with few bytes and must still decode; only a grid too large
    to safely allocate is rejected."""
    stream_len = len(raw) - offset
    if stream_len < 2 or h * w > _RLE8_MAX_PIXELS:
        raise ValueError(
            f"RLE8 pixel grid {w}x{h} disproportionate to the "
            f"{_RLE8_MAX_PIXELS}-pixel allocation budget "
            f"(stream is {stream_len} bytes)"
        )
    grid = np.zeros((h, w), dtype=np.uint8)  # file row order (bottom-up)
    x = row = 0
    pos = offset
    n = len(raw)
    while True:
        if pos + 2 > n:
            raise ValueError("truncated RLE8 stream")
        count, val = raw[pos], raw[pos + 1]
        pos += 2
        if count > 0:  # encoded run
            if row >= h or x + count > w:
                raise ValueError("RLE8 run overflows the pixel grid")
            grid[row, x : x + count] = val
            x += count
            continue
        if val == 0:  # end of line
            x, row = 0, row + 1
            continue
        if val == 1:  # end of bitmap
            break
        if val == 2:  # delta
            if pos + 2 > n:
                raise ValueError("truncated RLE8 delta")
            dx, dy = raw[pos], raw[pos + 1]
            pos += 2
            x, row = x + dx, row + dy
            if x > w or row > h:
                raise ValueError("RLE8 delta overflows the pixel grid")
            continue
        # Absolute mode: val literal bytes, word-aligned.
        end = pos + val + (val & 1)
        if end > n:
            raise ValueError("truncated RLE8 absolute run")
        if row >= h or x + val > w:
            raise ValueError("RLE8 absolute run overflows the pixel grid")
        grid[row, x : x + val] = np.frombuffer(
            raw, dtype=np.uint8, count=val, offset=pos
        )
        x += val
        pos = end
    return grid[::-1]  # bottom-up file rows -> top-down image
