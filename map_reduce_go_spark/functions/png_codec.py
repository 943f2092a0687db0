"""Minimal pure-Python PNG codec (encode + decode) on stdlib zlib.

PNG is a public format (RFC 2083 / ISO 15948) whose only heavy
dependency is DEFLATE, which the Python stdlib provides. This module
implements enough of it for the multimodal decoder table
(``operators/multimodal.py::decode_blob``) to decode real,
spec-conformant image bytes:

- ``encode_png``: 8-bit grayscale (color type 0) or RGB (color type 2),
  filter type 0 (None) per scanline — the simplest valid encoder; its
  output opens in any viewer.
- ``decode_png``: all five 8-bit color types — grayscale (0), RGB (2),
  palette-indexed (3, PLTE lookup -> RGB), grayscale+alpha (4), and
  RGBA (6) — with ALL five scanline filters (None/Sub/Up/Average/
  Paeth), so it also decodes PNGs produced by real encoders that
  choose per-row filters and color models, not just our own — and
  Adam7 INTERLACED images (seven sub-image passes, each filtered
  independently, scattered back on the pass grid), the other layout
  real web encoders emit. ``encode_png(interlaced=True)`` and
  ``encode_png_palette`` emit the same so fixtures are self-contained.

Deliberately out of scope (NotImplementedError — the well-formed-but-
unimplemented class, routed to quarantine ``unsupported_format`` like
the BMP/JPEG/WAV codecs' seams): bit depths other than 8, and tRNS
transparency on every color type that may carry it (palette indices
and grayscale/truecolor keys alike; tRNS on the alpha color types 4/6
is spec-forbidden and raises ValueError). Structural damage raises
ValueError (``corrupt_data``).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

#: Adam7 pass grid: (x origin, y origin, x step, y step) per pass.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _filter_scanlines(arr: np.ndarray, filter_type: int, bpp: int) -> bytearray:
    """Filter one (sub-)image: per-scanline filter byte + filtered bytes,
    with the up-neighbor state starting at zero (each Adam7 pass filters
    independently, per spec)."""
    h = arr.shape[0]
    raw = bytearray()
    prev = np.zeros(arr.shape[1] * bpp, dtype=np.uint8)
    for y in range(h):
        line = arr[y].reshape(-1)
        filt = _apply_filter(filter_type, line, prev, bpp)
        raw.append(filter_type)
        raw.extend(filt.tobytes())
        prev = line
    return raw


def encode_png(
    img: np.ndarray, filter_type: int = 0, interlaced: bool = False
) -> bytes:
    """Encode an (H, W) grayscale or (H, W, 3) RGB uint8 array as PNG.

    ``filter_type`` applies one filter to every scanline (0..4); non-zero
    values exist so tests can exercise the decoder's unfilter paths with
    spec-valid input. ``interlaced=True`` emits the Adam7 layout (seven
    independently-filtered passes).
    """
    arr = np.asarray(img)
    if arr.dtype != np.uint8:
        raise ValueError("encode_png expects uint8")
    if arr.ndim == 2:
        color_type, channels = 0, 1
        arr = arr[:, :, None]
    elif arr.ndim == 3 and arr.shape[2] in (2, 3, 4):
        # 2 = gray+alpha (type 4), 3 = RGB (type 2), 4 = RGBA (type 6).
        channels = arr.shape[2]
        color_type = {2: 4, 3: 2, 4: 6}[channels]
    else:
        raise ValueError("encode_png expects (H,W) or (H,W,{2|3|4})")
    if not 0 <= filter_type <= 4:
        raise ValueError("filter_type must be 0..4")
    h, w = arr.shape[:2]
    bpp = channels  # bytes per pixel at bit depth 8
    if interlaced:
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue  # empty pass contributes no bytes at all
            raw.extend(_filter_scanlines(sub, filter_type, bpp))
    else:
        raw = _filter_scanlines(arr, filter_type, bpp)
    ihdr = struct.pack(
        ">IIBBBBB", w, h, 8, color_type, 0, 0, 1 if interlaced else 0
    )
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def _apply_filter(ft: int, line: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    if ft == 0:
        return line
    a = np.zeros_like(line)
    a[bpp:] = line[:-bpp]  # left neighbor (same channel)
    b = prev  # up
    c = np.zeros_like(prev)
    c[bpp:] = prev[:-bpp]  # upper-left
    if ft == 1:
        return (line.astype(np.int16) - a).astype(np.uint8)
    if ft == 2:
        return (line.astype(np.int16) - b).astype(np.uint8)
    if ft == 3:
        return (line.astype(np.int16) - ((a.astype(np.int16) + b) // 2)).astype(
            np.uint8
        )
    return (line.astype(np.int16) - _paeth(a, b, c)).astype(np.uint8)


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    a16, b16, c16 = (x.astype(np.int16) for x in (a, b, c))
    p = a16 + b16 - c16
    pa, pb, pc = np.abs(p - a16), np.abs(p - b16), np.abs(p - c16)
    out = np.where((pa <= pb) & (pa <= pc), a16, np.where(pb <= pc, b16, c16))
    return out


def encode_png_palette(
    indices: np.ndarray, palette: np.ndarray, filter_type: int = 0
) -> bytes:
    """Encode an (H, W) uint8 index array + (N, 3) uint8 palette as a
    color-type-3 PNG (PLTE chunk + index scanlines) — real web PNGs are
    frequently palette-indexed, so fixtures need the form."""
    idx = np.asarray(indices)
    pal = np.asarray(palette)
    if idx.dtype != np.uint8 or idx.ndim != 2:
        raise ValueError("encode_png_palette expects (H, W) uint8 indices")
    if pal.dtype != np.uint8 or pal.ndim != 2 or pal.shape[1] != 3:
        raise ValueError("palette must be (N, 3) uint8")
    if not 1 <= pal.shape[0] <= 256:
        raise ValueError("palette must have 1..256 entries")
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("index exceeds palette size")
    h, w = idx.shape
    raw = _filter_scanlines(idx[:, :, None], filter_type, 1)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", pal.tobytes())
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def is_png(data: bytes) -> bool:
    return bytes(data[:8]) == _SIGNATURE


def png_stream_offsets(data: bytes) -> list[int]:
    """Split a concatenated-PNG stream structurally: return the byte
    offsets ``[f0, f1, ..., end]`` such that frame k is
    ``data[offs[k]:offs[k+1]]``.

    Walks each frame chunk-by-chunk (4-byte length + 4-byte tag +
    payload + 4-byte CRC) until its IEND chunk; the next frame must
    begin immediately after. Searching for the 8-byte signature instead
    (``data.find(sig)``) is WRONG: that byte pattern can legally occur
    inside zlib-compressed IDAT payload and would mis-split frames —
    the chunk walk never looks inside payloads, so embedded signatures
    are harmless.
    """
    data = bytes(data)
    offs: list[int] = []
    pos = 0
    n = len(data)
    while pos < n:
        if data[pos : pos + 8] != _SIGNATURE:
            raise ValueError(f"frame at offset {pos} lacks PNG signature")
        offs.append(pos)
        pos += 8
        while True:
            if pos + 8 > n:
                raise ValueError("truncated chunk header")
            (length,) = struct.unpack(">I", data[pos : pos + 4])
            tag = data[pos + 4 : pos + 8]
            end = pos + 12 + length  # header + payload + CRC
            if end > n:
                raise ValueError("truncated chunk payload")
            pos = end
            if tag == b"IEND":
                break
    offs.append(n)
    return offs


def _unfilter_scanlines(
    raw: bytes, off: int, h: int, w: int, bpp: int
) -> np.ndarray:
    """Reconstruct one (sub-)image of ``h`` scanlines starting at byte
    ``off`` in the decompressed stream; returns an (h, w*bpp) array."""
    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ft = raw[off + y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=off + y * (stride + 1) + 1
        ).copy()
        out[y] = _unfilter(ft, line, prev, bpp)
        prev = out[y]
    return out


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG to an (H, W) uint8 array (grayscale) or (H, W, 3)
    (RGB). Supports bit depth 8, color types 0/2, all five scanline
    filters, and both layouts — sequential and Adam7 interlaced."""
    data = bytes(data)
    if not is_png(data):
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    width = height = None
    color_type = None
    plte: bytes | None = None
    trns = False
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if len(payload) != length:
            raise ValueError("truncated chunk")
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8:
                raise NotImplementedError(f"PNG bit depth {depth} not implemented")
            if color_type not in (0, 2, 3, 4, 6):
                raise ValueError(f"unknown color type {color_type}")
            if interlace > 1:
                raise ValueError(f"unknown interlace method {interlace}")
            if comp or filt:
                raise ValueError("nonstandard compression/filter method")
        elif tag == b"PLTE":
            if length == 0 or length % 3:
                raise ValueError("malformed PLTE chunk")
            plte = payload
        elif tag == b"tRNS":
            trns = True
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("missing IHDR")
    if color_type == 3:
        if plte is None:
            raise ValueError("palette image missing PLTE chunk")
    if trns:
        # Never silently dropped: well-formed-but-unimplemented ->
        # unsupported; spec-forbidden (color types with a real alpha channel shall
        # not carry tRNS, PNG spec 11.3.2.1) -> corrupt.
        if color_type in (4, 6):
            raise ValueError("tRNS forbidden for alpha color types")
        raise NotImplementedError(
            "tRNS transparency not implemented "
            f"(color type {color_type})"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    bpp = channels
    raw = zlib.decompress(bytes(idat))
    if interlace:
        # Adam7: seven independently-filtered sub-images, scattered back
        # onto the pass grid; empty passes contribute no bytes.
        px = np.zeros((height, width, bpp), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            wk = (width - x0 + dx - 1) // dx
            hk = (height - y0 + dy - 1) // dy
            if wk <= 0 or hk <= 0:
                continue
            need = hk * (wk * bpp + 1)
            if off + need > len(raw):
                raise ValueError("IDAT size mismatch")
            sub = _unfilter_scanlines(raw, off, hk, wk, bpp)
            px[y0::dy, x0::dx] = sub.reshape(hk, wk, bpp)
            off += need
        if off != len(raw):
            raise ValueError("IDAT size mismatch")
    else:
        stride = width * bpp
        if len(raw) != height * (stride + 1):
            raise ValueError("IDAT size mismatch")
        px = _unfilter_scanlines(raw, 0, height, width, bpp).reshape(
            height, width, bpp
        )
    if color_type == 3:
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        return pal[idx]
    return px[:, :, 0] if channels == 1 else px


def _unfilter(ft: int, line: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    if ft == 0:
        return line
    if ft == 2:
        return (line.astype(np.int16) + prev).astype(np.uint8)
    # Sub/Average/Paeth need the already-reconstructed left neighbor —
    # sequential per pixel group (scanlines are short; this is test-path
    # code, the operators batch via Arrow).
    out = line.astype(np.int16)
    if ft == 1:
        for i in range(bpp, len(out)):
            out[i] = (out[i] + out[i - bpp]) & 0xFF
    elif ft == 3:
        for i in range(len(out)):
            a = out[i - bpp] if i >= bpp else 0
            out[i] = (out[i] + (a + int(prev[i])) // 2) & 0xFF
    elif ft == 4:
        for i in range(len(out)):
            a = out[i - bpp] if i >= bpp else 0
            c = int(prev[i - bpp]) if i >= bpp else 0
            b = int(prev[i])
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (out[i] + pred) & 0xFF
    else:
        raise ValueError(f"unknown filter type {ft}")
    return out.astype(np.uint8)
