"""Minimal pure-Python baseline JPEG codec (encode + decode), stdlib+numpy.

An image container of the multimodal decoder table
(``operators/multimodal.py::decode_blob``): JPEG is the single most
common image container in any real crawl. This module implements the
baseline-sequential slice of the public
ITU-T T.81 spec — Huffman entropy coding, dequantization, 8x8 inverse
DCT — for 8-bit single-component (grayscale) JFIF files, plus the
matching encoder so fixtures are self-contained spec-conformant bytes.

Everything here is public knowledge: marker structure, zigzag order,
the Annex K example Huffman tables, and the type-II DCT definition all
come from the published JPEG standard (ITU-T T.81 / ISO 10918-1).

Structurally unlike the other three containers, so the decoder table is
exercised on four different shapes:

- PNG: big-endian chunks, zlib DEFLATE, per-chunk CRC
- WAV: little-endian RIFF, raw PCM, no compression
- BMP: little-endian, palette, bottom-up rows, padding, no checksums
- JPEG: bit-level entropy stream (Huffman), byte stuffing (FF 00),
  lossy transform coding, marker-delimited segments

Scope — exactly enough to execute real bytes:

- ``encode_jpeg``: 8-bit grayscale (H, W) or RGB (H, W, 3) uint8 array
  as a baseline sequential JFIF (SOI/APP0/DQT/SOF0/DHT/SOS/EOI), Annex
  K Huffman tables (luminance + chrominance), per-family quantization
  tables (default all-ones: maximal fidelity; blocks that are constant
  after edge-replication padding round-trip EXACTLY in YCbCr space,
  which is what lets a SQL oracle predict decoded sums). Color converts
  RGB -> JFIF YCbCr (BT.601 full-range) and supports 4:4:4, 4:2:2, and
  4:2:0 chroma subsampling with spec-interleaved MCUs.
- ``decode_jpeg``: the inverse — baseline sequential, 8-bit precision,
  1 or 3 components, arbitrary integer-ratio sampling factors,
  box-replication chroma upsampling.

Restart intervals (DRI + RSTn markers — what real encoders emit for
error resilience, and the unit a parallel decoder splits on) are
implemented: the encoder can emit them (``restart_interval=``), the
decoder byte-aligns at each boundary, checks the cyclic marker number,
and resets the DC predictor.

Progressive (SOF2) is implemented in both directions:
the encoder emits a spectral-selection + successive-approximation
progression (interleaved DC first, banded AC first scans, AC and DC
refinements), and the decoder runs the general multi-scan model — a
per-component coefficient store accumulated across scans (DC first /
DC refine / AC first with EOBn runs / AC refine with correction bits,
T.81 G.2), with dequant + IDCT at EOI. Progressive and baseline
encodings of one image decode to IDENTICAL pixels (same quantized
coefficients) — pinned in tests.

Deliberately out of scope (well-formed-but-unimplemented →
``NotImplementedError`` → quarantine class ``unsupported_format``):
extended-sequential/lossless/hierarchical frame types, 4-component
CMYK, subset-interleaved baseline scans (1 < ns < ncomp; fully
non-interleaved ns=1 baseline IS supported), 16-bit quantization
tables, arithmetic coding. Truncated or malformed bytes (bad marker
structure,
invalid Huffman code, out-of-sequence restart marker, bit stream
exhausted mid-block) raise ``ValueError`` → ``corrupt_data``.

Performance note: this is a per-byte/per-bit pure-Python decoder — the
slow path by design, used for small planted fixtures and as the honest
reference implementation. At 100 TB the decode stage would bind a
native codec behind the same ``mapInPandas`` seam (same schema, same
quarantine classes); decode throughput is recorded in SCALE.md.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# Tables from the public spec
# --------------------------------------------------------------------------

#: Zigzag scan order: index i of the scan -> (row, col) flattened offset.
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

#: Annex K.3.1 — luminance DC: BITS (count of codes per length 1..16)
#: and HUFFVAL (symbols in code order).
DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
DC_VALS = tuple(range(12))

#: Annex K.3.1 — chrominance DC.
DC_CHROMA_BITS = (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
DC_CHROMA_VALS = tuple(range(12))

#: Annex K.3.2 — luminance AC.
AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)


#: Annex K.3.3.2 — chrominance AC.
AC_CHROMA_BITS = (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
AC_CHROMA_VALS = (
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 type-II DCT matrix M: coefficients = M @ f @ M.T,
    samples = M.T @ F @ M. M[u,x] = 0.5*C(u)*cos((2x+1)uπ/16)."""
    m = np.zeros((8, 8), dtype=np.float64)
    for u in range(8):
        c = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = 0.5 * c * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return m


_DCT = _dct_matrix()


def _canonical_codes(bits, vals):
    """(length, code) per symbol in canonical Huffman order — the
    assignment the spec's generate_size/code tables produce."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(DC_BITS, DC_VALS)
_AC_ENC = _canonical_codes(AC_BITS, AC_VALS)
_DC_CHROMA_ENC = _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
_AC_CHROMA_ENC = _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)


# JFIF YCbCr <-> RGB (ITU-R BT.601 full-range, the JFIF spec's matrices).
def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# Sniff
# --------------------------------------------------------------------------


def is_jpeg(raw: bytes) -> bool:
    """SOI marker followed by another marker byte — 3 bytes of 0xFF-keyed
    structure, which text or random prefixes essentially never carry."""
    return len(raw) >= 3 and raw[:3] == b"\xff\xd8\xff"


# --------------------------------------------------------------------------
# Encoder
# --------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing: FF in entropy data -> FF 00
                self.buf.append(0x00)

    def byte_align(self) -> None:
        """Pad the current partial byte with 1-bits (spec F.1.2.3) —
        restart markers are byte-aligned in the entropy stream."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)

    def write_marker(self, marker: int) -> None:
        self.byte_align()
        self.buf.append(0xFF)  # marker prefix: NOT byte-stuffed
        self.buf.append(marker)

    def flush(self) -> bytes:
        self.byte_align()
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """(category, raw bits) for a DC diff / AC coefficient: negative
    values encode as the one's-complement of their magnitude."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


def _encode_block(
    bw: _BitWriter, block: np.ndarray, qmat: np.ndarray, dc_enc, ac_enc,
    pred: int,
) -> int:
    """FDCT + quantize + Huffman-encode one level-shifted 8x8 block;
    returns the new DC predictor."""
    coef = _DCT @ block @ _DCT.T
    zz = np.rint(coef / qmat).astype(np.int64).reshape(64)[ZIGZAG]
    dc = int(zz[0])
    size, bits = _magnitude(dc - pred)
    length, code = dc_enc[size]
    bw.write(code, length)
    if size:
        bw.write(bits, size)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for i in range(1, 64):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            length, code = ac_enc[0xF0]  # ZRL: 16 zeros
            bw.write(code, length)
            run -= 16
        size, bits = _magnitude(v)
        length, code = ac_enc[(run << 4) | size]
        bw.write(code, length)
        bw.write(bits, size)
        run = 0
        if i == last_nz:
            break
    if last_nz < 63:
        length, code = ac_enc[0x00]  # EOB
        bw.write(code, length)
    return dc


_SUBSAMPLING = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}


def _check_quant(quant: np.ndarray | None) -> np.ndarray:
    q = (
        np.ones(64, dtype=np.int64)
        if quant is None
        else np.asarray(quant, dtype=np.int64).reshape(64)
    )
    if (q < 1).any() or (q > 255).any():
        raise ValueError("quant entries must be in 1..255 (8-bit table)")
    return q


def encode_jpeg(
    img: np.ndarray,
    quant: np.ndarray | None = None,
    restart_interval: int = 0,
    subsampling: str = "444",
    chroma_quant: np.ndarray | None = None,
    progressive: bool = False,
) -> bytes:
    """Encode an (H, W) uint8 grayscale or (H, W, 3) uint8 RGB array as a
    baseline JFIF JPEG.

    ``quant`` is a flat 64-entry table in NATURAL (row-major) order;
    default all-ones — lossless for blocks constant after the edge-
    replication padding, near-lossless otherwise (rounding of DCT
    coefficients is the only loss at quant 1). ``restart_interval`` > 0
    emits a DRI segment and byte-aligned RST0..7 markers every that
    many MCUs, resetting DC prediction — the error-resilience /
    parallel-decode unit real encoders produce.

    Color: RGB converts to JFIF YCbCr; ``subsampling`` picks the
    luma sampling factors — "444" (no subsampling), "422" (chroma
    halved horizontally), "420" (halved both ways, the near-universal
    camera/web default); chroma downsamples by box mean and carries its
    own quant table (``chroma_quant``, default all-ones) and the Annex K
    chrominance Huffman tables. MCUs interleave Hy*Vy luma blocks + Cb +
    Cr exactly per the spec's interleaved-scan order.

    Progressive: ``progressive=True`` emits SOF2 with a
    spectral-selection + one-level successive-approximation progression
    (interleaved DC first at Al=1, banded single-component AC first
    scans at Al=1, the matching AC refinements to Al=0, then the DC
    refinement) — the multi-scan shape real web encoders produce. The
    entropy-coded substance is the SAME quantized coefficient grid as
    the baseline form, so progressive and baseline encodings of one
    image decode to IDENTICAL pixels (pinned in tests). Restart
    intervals are a baseline-mode feature here (ValueError if both)."""
    if progressive and restart_interval:
        raise ValueError("restart intervals unsupported in progressive mode")
    arr = np.asarray(img)
    if arr.dtype != np.uint8 or arr.ndim not in (2, 3):
        raise ValueError("encode_jpeg expects (H, W) or (H, W, 3) uint8")
    if arr.ndim == 3 and arr.shape[2] != 3:
        raise ValueError("color encode_jpeg expects exactly 3 channels (RGB)")
    h, w = arr.shape[:2]
    if not (1 <= h <= 0xFFFF) or not (1 <= w <= 0xFFFF):
        raise ValueError("encode_jpeg dimensions out of range")
    if not (0 <= restart_interval <= 0xFFFF):
        raise ValueError("restart_interval out of range")
    if subsampling not in _SUBSAMPLING:
        raise ValueError(f"subsampling must be one of {sorted(_SUBSAMPLING)}")
    q = _check_quant(quant)
    qmat = q.reshape(8, 8).astype(np.float64)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    def dht(cls: int, ident: int, bits, vals) -> bytes:
        return bytes([(cls << 4) | ident]) + bytes(bits) + bytes(vals)

    bw = _BitWriter()
    mcu = 0
    rst = 0

    sof_marker = 0xC2 if progressive else 0xC0

    if arr.ndim == 2:
        # Pad to 8x8 multiples by edge replication (keeps constant images
        # constant per block — the exact-round-trip property fixtures use).
        ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
        padded = np.pad(arr, ((0, ph - h), (0, pw - w)), mode="edge")
        if progressive:
            grid = _coef_grid(padded.astype(np.float64) - 128.0, qmat)
            out = b"\xff\xd8"
            out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
            out += seg(0xDB, b"\x00" + bytes(int(q[i]) for i in ZIGZAG))
            out += seg(
                sof_marker, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00"
            )
            out += seg(0xC4, dht(0, 0, DC_BITS, DC_VALS))
            out += seg(0xC4, dht(1, 0, AC_BITS, AC_VALS))
            infos = [
                (1, 1, 1, grid, _DC_ENC, _AC_ENC, 0, 0, ((1, 5), (6, 63)))
            ]
            return out + _progressive_scans(h, w, infos, 1, 1) + b"\xff\xd9"
        pred = 0
        for by in range(0, ph, 8):
            for bx in range(0, pw, 8):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    bw.write_marker(0xD0 + rst)
                    rst = (rst + 1) % 8
                    pred = 0  # DC prediction resets at each restart boundary
                mcu += 1
                block = (
                    padded[by : by + 8, bx : bx + 8].astype(np.float64) - 128.0
                )
                pred = _encode_block(bw, block, qmat, _DC_ENC, _AC_ENC, pred)
        entropy = bw.flush()
        out = b"\xff\xd8"  # SOI
        out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        out += seg(0xDB, b"\x00" + bytes(int(q[i]) for i in ZIGZAG))
        out += seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
        out += seg(0xC4, dht(0, 0, DC_BITS, DC_VALS))
        out += seg(0xC4, dht(1, 0, AC_BITS, AC_VALS))
        if restart_interval:
            out += seg(0xDD, struct.pack(">H", restart_interval))
        out += seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
        return out + entropy + b"\xff\xd9"

    # --- color path ---
    hy, vy = _SUBSAMPLING[subsampling]
    cq = _check_quant(chroma_quant)
    cqmat = cq.reshape(8, 8).astype(np.float64)
    # Pad to whole MCUs (8*hy x 8*vy) by edge replication, THEN convert
    # and downsample — replicated edges average to themselves, so
    # constant images stay constant through the chroma box filter.
    ph, pw = -(-h // (8 * vy)) * (8 * vy), -(-w // (8 * hy)) * (8 * hy)
    padded = np.pad(arr, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    ycc = _rgb_to_ycbcr(padded)
    yplane = ycc[..., 0] - 128.0
    chroma = []
    for c in (1, 2):
        plane = ycc[..., c]
        # Box-mean downsample by (vy, hy).
        plane = plane.reshape(ph // vy, vy, pw // hy, hy).mean(axis=(1, 3))
        chroma.append(plane - 128.0)
    if progressive:
        out = b"\xff\xd8"
        out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        out += seg(0xDB, b"\x00" + bytes(int(q[i]) for i in ZIGZAG))
        out += seg(0xDB, b"\x01" + bytes(int(cq[i]) for i in ZIGZAG))
        sof = struct.pack(">BHHB", 8, h, w, 3)
        sof += bytes([1, (hy << 4) | vy, 0])
        sof += bytes([2, 0x11, 1])
        sof += bytes([3, 0x11, 1])
        out += seg(sof_marker, sof)
        out += seg(0xC4, dht(0, 0, DC_BITS, DC_VALS))
        out += seg(0xC4, dht(1, 0, AC_BITS, AC_VALS))
        out += seg(0xC4, dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS))
        out += seg(0xC4, dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS))
        infos = [
            (1, hy, vy, _coef_grid(yplane, qmat), _DC_ENC, _AC_ENC, 0, 0,
             ((1, 5), (6, 63))),
            (2, 1, 1, _coef_grid(chroma[0], cqmat), _DC_CHROMA_ENC,
             _AC_CHROMA_ENC, 1, 1, ((1, 63),)),
            (3, 1, 1, _coef_grid(chroma[1], cqmat), _DC_CHROMA_ENC,
             _AC_CHROMA_ENC, 1, 1, ((1, 63),)),
        ]
        return out + _progressive_scans(h, w, infos, hy, vy) + b"\xff\xd9"
    preds = [0, 0, 0]
    for my in range(0, ph, 8 * vy):
        for mx in range(0, pw, 8 * hy):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.write_marker(0xD0 + rst)
                rst = (rst + 1) % 8
                preds = [0, 0, 0]
            mcu += 1
            for v in range(vy):
                for hh in range(hy):
                    by, bx = my + v * 8, mx + hh * 8
                    preds[0] = _encode_block(
                        bw, yplane[by : by + 8, bx : bx + 8], qmat,
                        _DC_ENC, _AC_ENC, preds[0],
                    )
            cy, cx = (my // vy), (mx // hy)
            for c in (0, 1):
                preds[c + 1] = _encode_block(
                    bw, chroma[c][cy : cy + 8, cx : cx + 8], cqmat,
                    _DC_CHROMA_ENC, _AC_CHROMA_ENC, preds[c + 1],
                )
    entropy = bw.flush()
    out = b"\xff\xd8"  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + bytes(int(q[i]) for i in ZIGZAG))
    out += seg(0xDB, b"\x01" + bytes(int(cq[i]) for i in ZIGZAG))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, (hy << 4) | vy, 0])  # Y: sampling factors, quant 0
    sof += bytes([2, 0x11, 1])  # Cb: 1x1, quant 1
    sof += bytes([3, 0x11, 1])  # Cr: 1x1, quant 1
    out += seg(0xC0, sof)
    out += seg(0xC4, dht(0, 0, DC_BITS, DC_VALS))
    out += seg(0xC4, dht(1, 0, AC_BITS, AC_VALS))
    out += seg(0xC4, dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS))
    out += seg(0xC4, dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, b"\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00")
    return out + entropy + b"\xff\xd9"


# --------------------------------------------------------------------------
# Progressive encoder: spectral selection + successive approximation
# --------------------------------------------------------------------------


def _coef_grid(plane: np.ndarray, qmat: np.ndarray) -> np.ndarray:
    """FDCT + quantize a padded, level-shifted component plane into a
    (nby, nbx, 64) int64 grid of ZIGZAG-ordered coefficients — the
    shared substance both baseline and progressive scans entropy-code."""
    nby, nbx = plane.shape[0] // 8, plane.shape[1] // 8
    out = np.empty((nby, nbx, 64), dtype=np.int64)
    for by in range(nby):
        for bx in range(nbx):
            block = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            coef = _DCT @ block @ _DCT.T
            out[by, bx] = np.rint(coef / qmat).astype(np.int64).reshape(64)[ZIGZAG]
    return out


def _mcu_block_order(grids, specs, mcuy: int, mcux: int):
    """Yield (comp index, by, bx) in interleaved-MCU order over the
    padded grids (specs = [(hf, vf), ...])."""
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (hf, vf) in enumerate(specs):
                for v in range(vf):
                    for hh in range(hf):
                        yield ci, my * vf + v, mx * hf + hh


def _emit_dc_first(bw: _BitWriter, blocks_iter, grids, dc_encs, al: int) -> None:
    """DC first scan: Huffman-coded diffs of the point-transformed
    (arithmetic-shift, T.81 G.1.2.1) DC coefficients."""
    preds = [0] * len(grids)
    for ci, by, bx in blocks_iter:
        dc = int(grids[ci][by, bx, 0]) >> al
        size, bits = _magnitude(dc - preds[ci])
        preds[ci] = dc
        length, code = dc_encs[ci][size]
        bw.write(code, length)
        if size:
            bw.write(bits, size)


def _emit_dc_refine(bw: _BitWriter, blocks_iter, grids, al: int) -> None:
    """DC refinement scan: one raw bit per block, no entropy coding."""
    for ci, by, bx in blocks_iter:
        bw.write((int(grids[ci][by, bx, 0]) >> al) & 1, 1)


class _EobRun:
    """Encoder-side end-of-band emitter for progressive AC scans. Real
    encoders collapse runs of finished blocks into one EOBn symbol, but
    the EOBn code words (0x10..0xE0) are NOT in the Annex K tables this
    codec reuses (they were designed for baseline), so each finished
    block emits the spec-equivalent plain EOB0 followed by its own
    correction bits — N consecutive EOB0s decode identically to one
    EOB run of N. The DECODER still implements general EOBn runs (a
    foreign progressive file will use them; pinned by a hand-built
    stream in tests)."""

    def __init__(self, bw: _BitWriter, ac_enc):
        self.bw = bw
        self.ac_enc = ac_enc
        self.pending = False  # an EOB0 owed for the current block

    def flush(self) -> None:
        if self.pending:
            length, code = self.ac_enc[0x00]
            self.bw.write(code, length)
            self.pending = False

    def bump(self, correction_bits: list[int]) -> None:
        length, code = self.ac_enc[0x00]
        self.bw.write(code, length)
        for b in correction_bits:
            self.bw.write(b, 1)


def _emit_ac_first(
    bw: _BitWriter, grid: np.ndarray, nby: int, nbx: int,
    ss: int, se: int, al: int, ac_enc,
) -> None:
    """AC first scan over one component's non-interleaved block grid:
    baseline-style (run, size) coding of the point-transformed band
    (truncation toward zero, T.81 G.1.2.2), EOBn runs across blocks."""
    eob = _EobRun(bw, ac_enc)
    for by in range(nby):
        for bx in range(nbx):
            zz = grid[by, bx]
            run = 0
            emitted_any = False
            for k in range(ss, se + 1):
                v = int(zz[k])
                v = -((-v) >> al) if v < 0 else v >> al
                if v == 0:
                    run += 1
                    continue
                eob.flush()
                while run > 15:
                    length, code = ac_enc[0xF0]
                    bw.write(code, length)
                    run -= 16
                size, bits = _magnitude(v)
                length, code = ac_enc[(run << 4) | size]
                bw.write(code, length)
                bw.write(bits, size)
                run = 0
                emitted_any = True
            if run > 0 or not emitted_any:
                eob.bump([])
    eob.flush()


def _emit_ac_refine(
    bw: _BitWriter, grid: np.ndarray, nby: int, nbx: int,
    ss: int, se: int, al: int, ac_enc,
) -> None:
    """AC refinement scan (T.81 G.1.2.3): newly-significant coefficients
    (magnitude exactly 1 at this precision) get (run, 1) + sign codes;
    previously-significant ones append raw correction bits; all-history
    blocks fold into EOB runs carrying their correction bits."""
    eob = _EobRun(bw, ac_enc)
    for by in range(nby):
        for bx in range(nbx):
            zz = grid[by, bx]
            absval = [
                (abs(int(zz[k])) >> al) for k in range(ss, se + 1)
            ]
            # Last index (relative) whose value is newly significant.
            eob_pos = -1
            for i, t in enumerate(absval):
                if t == 1:
                    eob_pos = i
            run = 0
            corrections: list[int] = []
            for i, t in enumerate(absval):
                if t == 0:
                    run += 1
                    continue
                while run > 15 and i <= eob_pos:
                    eob.flush()
                    length, code = ac_enc[0xF0]
                    bw.write(code, length)
                    run -= 16
                    for b in corrections:
                        bw.write(b, 1)
                    corrections = []
                if t > 1:  # previously significant: raw correction bit
                    corrections.append(t & 1)
                    continue
                # Newly significant (magnitude 1 at this precision).
                eob.flush()
                length, code = ac_enc[(run << 4) | 1]
                bw.write(code, length)
                bw.write(0 if int(zz[ss + i]) < 0 else 1, 1)
                for b in corrections:
                    bw.write(b, 1)
                corrections = []
                run = 0
            if run > 0 or corrections:
                eob.bump(corrections)
    eob.flush()


def _progressive_scans(
    h: int, w: int, comp_infos, hmax: int, vmax: int
) -> bytes:
    """Emit the progression: interleaved DC first (Al=1), per-component
    banded AC first scans (Al=1), the matching AC refinement scans
    (Ah=1 -> Al=0), then the interleaved DC refinement — the
    spectral-selection + one-level successive-approximation script in
    the shape real encoders produce. ``comp_infos`` is a list of
    (cid, hf, vf, grid, dc_enc, ac_enc, dc_tid, ac_tid, bands)."""

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    def sos(members, ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(members)])
        for cid, dc_tid, ac_tid in members:
            body += bytes([cid, (dc_tid << 4) | ac_tid])
        return seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    grids = [ci[3] for ci in comp_infos]
    specs = [(ci[1], ci[2]) for ci in comp_infos]
    dc_encs = [ci[4] for ci in comp_infos]
    all_members = [(ci[0], ci[6], ci[7]) for ci in comp_infos]

    def comp_dims(hf: int, vf: int) -> tuple[int, int]:
        return -(-(-(-(h * vf) // vmax)) // 8), -(-(-(-(w * hf) // hmax)) // 8)

    out = b""
    # 1. DC first, all components interleaved, point transform Al=1.
    bw = _BitWriter()
    _emit_dc_first(
        bw, _mcu_block_order(grids, specs, mcuy, mcux), grids, dc_encs, 1
    )
    out += sos(all_members, 0, 0, 0, 1) + bw.flush()
    # 2. AC first scans (single-component, banded, Al=1).
    for cid, hf, vf, grid, _dc, ac_enc, dc_tid, ac_tid, bands in comp_infos:
        nby, nbx = comp_dims(hf, vf)
        for ss, se in bands:
            bw = _BitWriter()
            _emit_ac_first(bw, grid, nby, nbx, ss, se, 1, ac_enc)
            out += sos([(cid, dc_tid, ac_tid)], ss, se, 0, 1) + bw.flush()
    # 3. AC refinement scans (Ah=1 -> Al=0).
    for cid, hf, vf, grid, _dc, ac_enc, dc_tid, ac_tid, bands in comp_infos:
        nby, nbx = comp_dims(hf, vf)
        for ss, se in bands:
            bw = _BitWriter()
            _emit_ac_refine(bw, grid, nby, nbx, ss, se, 0, ac_enc)
            out += sos([(cid, dc_tid, ac_tid)], ss, se, 1, 0) + bw.flush()
    # 4. DC refinement, interleaved (raw bits, no Huffman).
    bw = _BitWriter()
    _emit_dc_refine(bw, _mcu_block_order(grids, specs, mcuy, mcux), grids, 0)
    out += sos(all_members, 0, 0, 1, 0) + bw.flush()
    return out


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------


class _BitReader:
    """Entropy-segment bit reader with FF00 unstuffing. Any marker other
    than stuffing inside the scan is structural failure for this codec's
    scope (no restart intervals), reported as ValueError."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG: entropy stream exhausted")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("truncated JPEG: dangling FF in scan")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed FF
                elif nxt == 0xD9:  # EOI mid-block
                    raise ValueError("truncated JPEG: EOI inside scan data")
                else:
                    raise ValueError(
                        f"unexpected marker 0xFF{nxt:02X} inside scan data"
                    )
            self.acc = byte
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_restart_marker(self) -> int:
        """Byte-align (discard pad bits) and consume one RSTn marker;
        returns n in 0..7. Anything else is structural failure."""
        self.nbits = 0  # drop the encoder's 1-bit padding
        if self.pos + 2 > len(self.data):
            raise ValueError("truncated JPEG: restart marker expected")
        if self.data[self.pos] != 0xFF or not (
            0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError("malformed JPEG: restart marker expected")
        n = self.data[self.pos + 1] - 0xD0
        self.pos += 2
        return n


def _decode_table(bits, vals):
    """(length, code) -> symbol map for canonical Huffman decode."""
    enc = _canonical_codes(bits, vals)
    return {(length, code): sym for sym, (length, code) in enc.items()}


def _read_symbol(br: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def decode_jpeg(raw: bytes) -> np.ndarray:
    """Decode a baseline-sequential 8-bit JFIF: grayscale to (H, W)
    uint8, YCbCr color (any integer-ratio sampling factors, e.g. 4:4:4 /
    4:2:2 / 4:2:0) to (H, W, 3) uint8 RGB.

    Baseline (SOF0) and progressive (SOF2) frames both decode — the
    scan loop accumulates each SOS into a per-component coefficient
    store (DC first/refine, AC first with EOBn end-of-band runs, AC
    refine with correction bits) and reconstructs at EOI.

    ValueError for malformed/truncated bytes (quarantine class
    ``corrupt_data``); NotImplementedError for well-formed files using
    features outside this codec's scope — extended-sequential/lossless/
    hierarchical frames, 4-component (CMYK) color, subset-interleaved
    baseline scans, 16-bit quant tables, arithmetic coding
    (``unsupported_format``). Non-interleaved (one SOS per component)
    baseline decodes through the same multi-scan store."""
    if not is_jpeg(raw):
        raise ValueError("not a JPEG: missing SOI marker")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None  # (h, w, component specs, hmax, vmax)
    sof_seen = False
    progressive = False
    restart_interval = 0
    store: dict[int, np.ndarray] | None = None  # cid -> (nby, nbx, 64) zigzag
    any_scan = False
    while True:
        if pos + 2 > len(raw):
            raise ValueError("truncated JPEG: marker expected")
        if raw[pos] != 0xFF:
            raise ValueError(f"malformed JPEG: expected marker, got {raw[pos]:#x}")
        marker = raw[pos + 1]
        pos += 2
        if marker == 0xD8:  # stray SOI
            raise ValueError("malformed JPEG: repeated SOI")
        if marker == 0xD9:  # EOI
            if not any_scan:
                raise ValueError("truncated JPEG: EOI before scan data")
            break  # reconstruct below
        if 0xD0 <= marker <= 0xD7:  # RSTn outside a scan
            raise ValueError("malformed JPEG: restart marker outside scan")
        if marker == 0x01:  # TEM: standalone, no length field
            continue
        if marker == 0xFF:  # fill byte before a marker (spec B.1.1.2)
            pos -= 1  # re-sync: treat the second FF as the marker prefix
            continue
        if pos + 2 > len(raw):
            raise ValueError("truncated JPEG: segment length missing")
        (seglen,) = struct.unpack_from(">H", raw, pos)
        if seglen < 2 or pos + seglen > len(raw):
            raise ValueError("truncated JPEG: segment overruns buffer")
        body = raw[pos + 2 : pos + seglen]
        pos += seglen

        if marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG frame type SOF{marker - 0xC0} not implemented "
                "(baseline SOF0 and progressive SOF2 only)"
            )
        if marker == 0xC8:  # JPG extension marker: reserved
            raise NotImplementedError("JPEG JPG-extension frames not implemented")
        if marker == 0xCC:  # DAC: arithmetic coding conditioning
            raise NotImplementedError("JPEG arithmetic coding not implemented")
        if marker == 0xDD:  # DRI: restart every <interval> MCUs
            if len(body) != 2:
                raise ValueError("malformed DRI segment")
            (restart_interval,) = struct.unpack(">H", body)
            continue
        if marker == 0xDB:  # DQT — possibly several tables per segment
            bpos = 0
            while bpos < len(body):
                pq, tq = body[bpos] >> 4, body[bpos] & 0x0F
                bpos += 1
                if pq == 1:
                    raise NotImplementedError("16-bit quantization tables not implemented")
                if pq != 0 or tq > 3 or bpos + 64 > len(body):
                    raise ValueError("malformed DQT segment")
                zz = np.frombuffer(body[bpos : bpos + 64], dtype=np.uint8).astype(np.int64)
                nat = np.zeros(64, dtype=np.int64)
                nat[ZIGZAG] = zz  # zigzag -> natural order
                quant[tq] = nat
                bpos += 64
            continue
        if marker == 0xC4:  # DHT — possibly several tables per segment
            bpos = 0
            while bpos < len(body):
                cls, ident = body[bpos] >> 4, body[bpos] & 0x0F
                bpos += 1
                if cls > 1 or ident > 3 or bpos + 16 > len(body):
                    raise ValueError("malformed DHT segment")
                bits = tuple(body[bpos : bpos + 16])
                bpos += 16
                n = sum(bits)
                if n > 256 or bpos + n > len(body):
                    raise ValueError("malformed DHT segment")
                vals = tuple(body[bpos : bpos + n])
                bpos += n
                huff[(cls, ident)] = _decode_table(bits, vals)
            continue
        if marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if sof_seen:
                raise ValueError("malformed JPEG: multiple SOF segments")
            progressive = marker == 0xC2
            if len(body) < 6:
                raise ValueError("malformed SOF0 segment")
            precision, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise NotImplementedError(f"JPEG precision {precision} not implemented")
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"JPEG with {ncomp} components (CMYK/unknown color "
                    "model) not implemented"
                )
            if len(body) != 6 + 3 * ncomp:
                raise ValueError("malformed SOF0 segment")
            if h == 0 or w == 0 or h > 1 << 20 or w > 1 << 20:
                raise ValueError("malformed JPEG dimensions")
            comps = []  # (component id, h factor, v factor, quant id)
            for i in range(ncomp):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                hf, vf = hv >> 4, hv & 0x0F
                if not (1 <= hf <= 4 and 1 <= vf <= 4) or tq > 3:
                    raise ValueError("malformed SOF0 component spec")
                comps.append((cid, hf, vf, tq))
            if len({c[0] for c in comps}) != ncomp:
                raise ValueError("duplicate component ids in SOF0")
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            if any(hmax % c[1] or vmax % c[2] for c in comps):
                raise NotImplementedError(
                    "non-integer chroma upsampling ratios not implemented"
                )
            frame = (h, w, comps, hmax, vmax)
            sof_seen = True
            continue
        if marker == 0xDA:  # SOS — one scan; entropy data follows
            if not sof_seen:
                raise ValueError("malformed JPEG: SOS before SOF")
            h, w, comps, hmax, vmax = frame
            if len(body) < 1:
                raise ValueError("malformed SOS segment")
            ns = body[0]
            if not progressive and 1 < ns < len(comps):
                # Subset-interleaved scans change the MCU geometry to the
                # subset's sampling factors — a corner real encoders do
                # not emit; ns==1 (non-interleaved) and
                # ns==ncomp (fully interleaved) are both supported.
                raise NotImplementedError(
                    "subset-interleaved baseline scans not implemented"
                )
            if not (1 <= ns <= len(comps)):
                raise ValueError("malformed SOS component count")
            if len(body) != 1 + 2 * ns + 3:
                raise ValueError("malformed SOS segment")
            ss, se, ahal = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            by_id = {c[0]: c for c in comps}
            if progressive:
                dc_scan = ss == 0
                if dc_scan and se != 0:
                    raise ValueError(
                        "progressive scan mixes DC and AC (Ss=0 needs Se=0)"
                    )
                if not dc_scan and ns != 1:
                    raise ValueError("progressive AC scans must be single-component")
                if not (ss <= se <= 63) or ah > 13 or al > 13:
                    raise ValueError("malformed progressive scan parameters")
                if ah and ah != al + 1:
                    raise ValueError(
                        "successive approximation must refine one bit per scan"
                    )
            else:
                dc_scan = False  # baseline: full-block scan
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            if store is None:
                store = {
                    cid: np.zeros((mcuy * vf, mcux * hf, 64), dtype=np.int32)
                    for cid, hf, vf, _tq in comps
                }
            scan = []  # (cid, hf, vf, dc table, ac table)
            for i in range(1, 1 + 2 * ns, 2):
                cs, tsel = body[i], body[i + 1]
                if cs not in by_id:
                    raise ValueError("SOS references unknown component id")
                _cid, hf, vf, tq = by_id[cs]
                dc_tab = huff.get((0, tsel >> 4))
                ac_tab = huff.get((1, tsel & 0x0F))
                need_dc = (not progressive) or (dc_scan and ah == 0)
                need_ac = (not progressive) or not dc_scan
                if (need_dc and dc_tab is None) or (need_ac and ac_tab is None) \
                        or quant.get(tq) is None:
                    raise ValueError(
                        "JPEG scan references missing Huffman/quant table"
                    )
                scan.append((cs, hf, vf, dc_tab, ac_tab))
            if len({s[0] for s in scan}) != ns:
                raise ValueError("duplicate component ids in SOS")

            br = _BitReader(raw, pos)
            preds = {cid: 0 for cid, *_ in scan}
            eobrun = 0
            rst_expect = 0
            mcu = 0

            def check_restart():
                nonlocal rst_expect, preds, eobrun
                got = br.read_restart_marker()
                if got != rst_expect:
                    raise ValueError(
                        f"restart marker out of sequence: RST{got}, "
                        f"expected RST{rst_expect}"
                    )
                rst_expect = (rst_expect + 1) % 8
                preds = dict.fromkeys(preds, 0)
                eobrun = 0

            def baseline_block(zz, dc_tab, ac_tab, cid):
                size = _read_symbol(br, dc_tab)
                if size > 11:
                    raise ValueError("invalid JPEG DC category")
                preds[cid] += _extend(br.read_bits(size), size)
                zz[0] = preds[cid]
                i = 1
                while i < 64:
                    rs = _read_symbol(br, ac_tab)
                    run, asize = rs >> 4, rs & 0x0F
                    if asize == 0:
                        if run == 15:  # ZRL
                            i += 16
                            continue
                        break  # EOB
                    i += run
                    if i >= 64:
                        raise ValueError("JPEG AC run overflows block")
                    zz[i] = _extend(br.read_bits(asize), asize)
                    i += 1

            def ac_first_block(zz, ac_tab):
                nonlocal eobrun
                if eobrun > 0:
                    eobrun -= 1
                    return
                k = ss
                while k <= se:
                    rs = _read_symbol(br, ac_tab)
                    run, asize = rs >> 4, rs & 0x0F
                    if asize == 0:
                        if run == 15:  # ZRL
                            k += 16
                            continue
                        eobrun = (1 << run) - 1
                        if run:
                            eobrun += br.read_bits(run)
                        break
                    k += run
                    if k > se:
                        raise ValueError("JPEG AC run overflows band")
                    zz[k] = _extend(br.read_bits(asize), asize) << al
                    k += 1

            def _refine_nonzero(zz, k):
                """One correction bit for a previously-significant coef."""
                if br.read_bit():
                    v = int(zz[k])
                    if not (v & (1 << al)):
                        zz[k] = v + ((1 << al) if v >= 0 else -(1 << al))

            def ac_refine_block(zz, ac_tab):
                nonlocal eobrun
                p1 = 1 << al
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = _read_symbol(br, ac_tab)
                        run, asize = rs >> 4, rs & 0x0F
                        newval = 0
                        if asize:
                            if asize != 1:
                                raise ValueError(
                                    "invalid refinement coefficient magnitude"
                                )
                            newval = p1 if br.read_bit() else -p1
                        elif run != 15:
                            eobrun = 1 << run
                            if run:
                                eobrun += br.read_bits(run)
                            break  # rest of band handled in EOB-run mode
                        # Advance over `run` zero-history positions (16 for
                        # ZRL), refining nonzero-history coefs passed over.
                        while k <= se:
                            if zz[k] != 0:
                                _refine_nonzero(zz, k)
                            else:
                                if run == 0:
                                    break
                                run -= 1
                            k += 1
                        if newval:
                            if k > se:
                                raise ValueError(
                                    "refinement position overflows band"
                                )
                            zz[k] = newval
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if zz[k] != 0:
                            _refine_nonzero(zz, k)
                        k += 1
                    eobrun -= 1

            def comp_grid_dims(hf, vf):
                """Non-interleaved (single-component scan) block grid."""
                cw = -(-(w * hf) // hmax)
                ch = -(-(h * vf) // vmax)
                return -(-ch // 8), -(-cw // 8)

            if ns > 1:
                # Interleaved MCU walk (fully-interleaved baseline;
                # progressive DC scans covering several components).
                for my in range(mcuy):
                    for mx in range(mcux):
                        if restart_interval and mcu and mcu % restart_interval == 0:
                            check_restart()
                        mcu += 1
                        for cid, hf, vf, dc_tab, ac_tab in scan:
                            for v in range(vf):
                                for hh in range(hf):
                                    zz = store[cid][my * vf + v, mx * hf + hh]
                                    if not progressive:
                                        baseline_block(zz, dc_tab, ac_tab, cid)
                                    elif ah == 0:
                                        size = _read_symbol(br, dc_tab)
                                        if size > 11:
                                            raise ValueError(
                                                "invalid JPEG DC category"
                                            )
                                        preds[cid] += _extend(
                                            br.read_bits(size), size
                                        )
                                        zz[0] = preds[cid] << al
                                    else:
                                        if br.read_bit():
                                            zz[0] = int(zz[0]) | (1 << al)
            else:
                # Single-component scan: non-interleaved block grid.
                cid, hf, vf, dc_tab, ac_tab = scan[0]
                nby, nbx = comp_grid_dims(hf, vf)
                for by in range(nby):
                    for bx in range(nbx):
                        if restart_interval and mcu and mcu % restart_interval == 0:
                            check_restart()
                        mcu += 1
                        zz = store[cid][by, bx]
                        if not progressive:
                            baseline_block(zz, dc_tab, ac_tab, cid)
                        elif dc_scan and ah == 0:
                            size = _read_symbol(br, dc_tab)
                            if size > 11:
                                raise ValueError("invalid JPEG DC category")
                            preds[cid] += _extend(br.read_bits(size), size)
                            zz[0] = preds[cid] << al
                        elif dc_scan:
                            if br.read_bit():
                                zz[0] = int(zz[0]) | (1 << al)
                        elif ah == 0:
                            ac_first_block(zz, ac_tab)
                        else:
                            ac_refine_block(zz, ac_tab)
            any_scan = True
            pos = br.pos
            continue
        # APPn / COM: skip the payload.
        if (0xE0 <= marker <= 0xEF) or marker == 0xFE:
            continue
        raise ValueError(f"unexpected JPEG marker 0xFF{marker:02X}")

    # EOI reached: dequantize, inverse-DCT, upsample, color-convert.
    h, w, comps, hmax, vmax = frame
    full = []
    for cid, hf, vf, tq in comps:
        qtab = quant.get(tq)
        if qtab is None:
            raise ValueError("JPEG frame references missing quant table")
        qmat = qtab.reshape(8, 8).astype(np.float64)
        grid = store[cid]
        nby, nbx = grid.shape[:2]
        # Dezigzag + dequant + IDCT. For more than a handful of blocks,
        # one fancy-index scatter and one einsum replace the per-block
        # Python loop (the entropy decode is the irreducible bit-serial
        # part; reconstruction is pure linear algebra). Tiny images —
        # the planted-fixture shape — stay on the loop, whose constant
        # overhead is lower than einsum's setup.
        if nby * nbx >= 16:
            coefs = np.zeros((nby, nbx, 64), dtype=np.float64)
            coefs[:, :, ZIGZAG] = grid  # dezigzag to natural order
            coefs = coefs.reshape(nby, nbx, 8, 8) * qmat
            blocks = np.einsum("ij,yxjk,kl->yxil", _DCT.T, coefs, _DCT)
            plane = blocks.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        else:
            plane = np.empty((nby * 8, nbx * 8), dtype=np.float64)
            for by in range(nby):
                for bx in range(nbx):
                    coef = np.zeros(64, dtype=np.float64)
                    coef[ZIGZAG] = grid[by, bx]
                    plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                        _DCT.T @ (coef.reshape(8, 8) * qmat) @ _DCT
                    )
        p = plane + 128.0
        p = np.repeat(np.repeat(p, vmax // vf, axis=0), hmax // hf, axis=1)
        full.append(p[:h, :w])
    if len(comps) == 1:
        return np.clip(np.rint(full[0]), 0, 255).astype(np.uint8)
    y, cb, cr = (np.clip(p, 0.0, 255.0) for p in full)
    return _ycbcr_to_rgb(y, cb, cr)
