"""Pure-Python RIFF/WAVE codec: PCM16, G.711 u-law/A-law, IMA ADPCM.

The audio container of the multimodal decoder table
(``operators/multimodal.py::decode_blob``). Besides 16-bit PCM, the
three compressed formats real telephony/crawl corpora carry in RIFF
containers are pure-integer public specs, so they decode here too:

- **G.711 u-law / A-law** (ITU-T G.711, format tags 7 / 6): 8-bit
  logarithmic companding; decode is a 256-entry integer table derived
  from the segment/mantissa bit layout, encode is the exact segment
  search — both reproduced here from the public spec (the classic Sun
  Microsystems g711.c reference arithmetic, public domain).
- **IMA/DVI ADPCM** (format tag 0x11): 4-bit adaptive differential
  coding over an 89-entry step table; block-structured with a per-block
  (predictor, step-index) header, which is exactly what makes it
  splittable — each block decodes independently, so a parallel decoder
  shards on block boundaries the way the JPEG decoder shards on restart
  markers.

Perceptual-codec audio (mp3/ogg/flac/aac) needs external decoders; its
RIFF format tags raise NotImplementedError.

The stdlib ``wave`` module only parses PCM, so decoding uses a manual
RIFF chunk walk, which also keeps the error classes apart: an unknown
format tag is ``unsupported_format`` (NotImplementedError) in the
quarantine path, structural damage ``corrupt_data`` (ValueError).

Reference disposition: the reference engine (MIT 6.5840 MapReduce lab)
has no media surface at all; this exists for the north-star multimodal
pipeline (SURVEY.md LLM-data extension set).
"""

from __future__ import annotations

import io
import struct
import wave

import numpy as np

WAVE_FORMAT_PCM = 0x0001
WAVE_FORMAT_ALAW = 0x0006
WAVE_FORMAT_MULAW = 0x0007
WAVE_FORMAT_IMA_ADPCM = 0x0011


def is_wav(data: bytes) -> bool:
    """RIFF/WAVE container sniff — the cheap dispatch test the operator
    runs before committing to a decode."""
    return len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"WAVE"


# --------------------------------------------------------------------------
# PCM16 encode (stdlib wave writes the canonical PCM container)
# --------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, rate: int = 16_000) -> bytes:
    """Encode int16 samples of shape (n_frames,) or (n_frames, n_channels)
    as a 16-bit PCM WAV blob."""
    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    if arr.ndim != 2:
        raise ValueError(f"expected 1-D or 2-D samples, got shape {arr.shape}")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(arr.shape[1])
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(arr.tobytes())
    return buf.getvalue()


# --------------------------------------------------------------------------
# G.711 companding (ITU-T G.711; Sun g711.c reference arithmetic)
# --------------------------------------------------------------------------

_MULAW_BIAS = 0x84  # 132
_MULAW_CLIP = 32635


def _build_mulaw_table() -> np.ndarray:
    """Decode table: u-law byte -> linear int16. u = ~byte; value =
    (((u & 0xF) << 3) + 132) << ((u >> 4) & 7), biased by -132, sign from
    bit 7 of u. Max magnitude 32124 — the standard 16-bit-scaled table."""
    t = np.empty(256, dtype=np.int16)
    for b in range(256):
        u = ~b & 0xFF
        mag = (((u & 0x0F) << 3) + _MULAW_BIAS) << ((u >> 4) & 0x07)
        t[b] = (_MULAW_BIAS - mag) if (u & 0x80) else (mag - _MULAW_BIAS)
    return t


def _build_alaw_table() -> np.ndarray:
    """Decode table: A-law byte -> linear int16 (even-bit-inverted per
    spec: a = byte ^ 0x55; segment 0 adds 8, segments >= 1 add 0x108 and
    shift). Sign bit SET means positive in the A-law layout."""
    t = np.empty(256, dtype=np.int16)
    for b in range(256):
        a = b ^ 0x55
        mag = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            mag += 8
        else:
            mag += 0x108
            if seg > 1:
                mag <<= seg - 1
        t[b] = mag if (a & 0x80) else -mag
    return t


_MULAW_DECODE = _build_mulaw_table()
_ALAW_DECODE = _build_alaw_table()


def mulaw_decode(payload: bytes) -> np.ndarray:
    """u-law bytes -> int16 samples (table lookup, vectorized)."""
    return _MULAW_DECODE[np.frombuffer(payload, dtype=np.uint8)]


def alaw_decode(payload: bytes) -> np.ndarray:
    """A-law bytes -> int16 samples (table lookup, vectorized)."""
    return _ALAW_DECODE[np.frombuffer(payload, dtype=np.uint8)]


def _linear_to_mulaw_scalar(x: int) -> int:
    sign = 0x80 if x < 0 else 0
    if x < 0:
        x = -x
    if x > _MULAW_CLIP:
        x = _MULAW_CLIP
    x += _MULAW_BIAS
    exp = 7
    mask = 0x4000
    while exp > 0 and not (x & mask):
        exp -= 1
        mask >>= 1
    mant = (x >> (exp + 3)) & 0x0F
    return ~(sign | (exp << 4) | mant) & 0xFF


_ALAW_SEG_END = (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF)


def _linear_to_alaw_scalar(x: int) -> int:
    pcm = x >> 3  # 16-bit -> 13-bit
    if pcm >= 0:
        mask = 0xD5
    else:
        mask = 0x55
        pcm = -pcm - 1
    seg = 8
    for i, end in enumerate(_ALAW_SEG_END):
        if pcm <= end:
            seg = i
            break
    if seg >= 8:
        return 0x7F ^ mask
    aval = seg << 4
    aval |= (pcm >> 1) & 0x0F if seg < 2 else (pcm >> seg) & 0x0F
    return (aval ^ mask) & 0xFF


def mulaw_encode(samples: np.ndarray) -> bytes:
    """int16 samples -> u-law bytes (exact inverse on decode-table outputs:
    mulaw_encode(mulaw_decode(b)) == b for every byte except 0x7F, the
    non-canonical negative zero). Vectorized; pinned byte-for-byte to
    the scalar spec walk (_linear_to_mulaw_scalar) over the whole int16
    domain in tests."""
    x = np.asarray(samples, dtype=np.int64).reshape(-1)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), _MULAW_CLIP) + _MULAW_BIAS
    # Segment = index of the highest set bit among bits 7..14.
    exp = np.maximum(np.floor(np.log2(mag)).astype(np.int64) - 7, 0)
    mant = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mant) & 0xFF).astype(np.uint8).tobytes()


def alaw_encode(samples: np.ndarray) -> bytes:
    """int16 samples -> A-law bytes (exact inverse on decode-table outputs
    for all 256 byte values). Vectorized; pinned to the scalar spec walk
    over the whole int16 domain in tests."""
    x = np.asarray(samples, dtype=np.int64).reshape(-1)
    pcm = x >> 3  # 16-bit -> 13-bit (arithmetic shift)
    neg = pcm < 0
    mask = np.where(neg, 0x55, 0xD5)
    pcm = np.where(neg, -pcm - 1, pcm)
    seg = np.searchsorted(np.asarray(_ALAW_SEG_END), pcm, side="left")
    quant = np.where(seg < 2, (pcm >> 1) & 0x0F, (pcm >> seg) & 0x0F)
    byte = np.where(seg >= 8, 0x7F ^ mask, ((seg << 4) | quant) ^ mask)
    return (byte & 0xFF).astype(np.uint8).tobytes()


# --------------------------------------------------------------------------
# IMA/DVI ADPCM (format tag 0x11)
# --------------------------------------------------------------------------

_IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)


def _ima_step(pred: int, index: int, nibble: int) -> tuple[int, int]:
    """One IMA ADPCM reconstruction step (shared by decoder and the
    encoder's in-loop reconstruction — they MUST mirror or the streams
    drift)."""
    step = _IMA_STEP_TABLE[index]
    diff = step >> 3
    if nibble & 4:
        diff += step
    if nibble & 2:
        diff += step >> 1
    if nibble & 1:
        diff += step >> 2
    pred = pred - diff if (nibble & 8) else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IMA_INDEX_TABLE[nibble]))
    return pred, index


def ima_adpcm_samples_per_block(block_align: int, channels: int) -> int:
    """The spec-mandated relation: 4 header bytes/channel, then 2 nibbles
    per data byte, nibbles split evenly across channels, plus the header
    sample itself."""
    return (block_align - 4 * channels) * 2 // channels + 1


def _decode_ima_block(block: bytes, channels: int) -> np.ndarray:
    """Decode one IMA ADPCM block -> int16 array (samples_per_block, ch).
    Layout: per-channel 4-byte header (int16 predictor, uint8 step index,
    uint8 reserved), then channel-interleaved 4-byte words of nibbles
    (low nibble first)."""
    preds, idxs = [], []
    for c in range(channels):
        p, i, _r = struct.unpack_from("<hBB", block, 4 * c)
        if i > 88:
            raise ValueError(f"IMA ADPCM step index {i} out of range")
        preds.append(p)
        idxs.append(i)
    data = block[4 * channels:]
    spb = ima_adpcm_samples_per_block(len(block), channels)
    out = np.empty((spb, channels), dtype=np.int16)
    out[0, :] = preds
    # Nibble streams: data is grouped in 4-byte words per channel,
    # channels rotating; within a byte the LOW nibble is the earlier
    # sample.
    pos = [1] * channels
    n_words = len(data) // (4 * channels)
    for wd in range(n_words):
        for c in range(channels):
            base = (wd * channels + c) * 4
            for byte in data[base : base + 4]:
                for nib in (byte & 0x0F, byte >> 4):
                    preds[c], idxs[c] = _ima_step(preds[c], idxs[c], nib)
                    out[pos[c], c] = preds[c]
                    pos[c] += 1
    return out


def _encode_ima_block(
    samples: np.ndarray, indices: list[int]
) -> tuple[bytes, list[int]]:
    """Encode one block of int16 samples (spb, ch); ``indices`` carries
    the per-channel step index across blocks (standard encoder behavior).
    Returns (block bytes, updated indices)."""
    spb, channels = samples.shape
    head = b"".join(
        struct.pack("<hBB", int(samples[0, c]), indices[c], 0)
        for c in range(channels)
    )
    preds = [int(samples[0, c]) for c in range(channels)]
    nibbles: list[list[int]] = [[] for _ in range(channels)]
    for c in range(channels):
        idx = indices[c]
        for k in range(1, spb):
            step = _IMA_STEP_TABLE[idx]
            diff = int(samples[k, c]) - preds[c]
            nib = 0
            if diff < 0:
                nib = 8
                diff = -diff
            if diff >= step:
                nib |= 4
                diff -= step
            if diff >= step >> 1:
                nib |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nib |= 1
            preds[c], idx = _ima_step(preds[c], idx, nib)
            nibbles[c].append(nib)
        indices[c] = idx
    # Pack channel-rotating 4-byte words, low nibble first.
    body = bytearray()
    per_ch = len(nibbles[0])
    for wd in range(per_ch // 8):
        for c in range(channels):
            ns = nibbles[c][wd * 8 : wd * 8 + 8]
            for j in range(0, 8, 2):
                body.append(ns[j] | (ns[j + 1] << 4))
    return head + bytes(body), indices


# --------------------------------------------------------------------------
# RIFF container: manual chunk walk (stdlib wave is PCM-only)
# --------------------------------------------------------------------------


def _walk_riff(data: bytes) -> dict[bytes, bytes]:
    """First occurrence of each chunk id -> payload. Raises ValueError on
    structural damage (truncated chunk) — the corrupt_data class."""
    if not is_wav(data):
        raise ValueError("not a RIFF/WAVE blob")
    chunks: dict[bytes, bytes] = {}
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        start = pos + 8
        if start + size > len(data):
            raise ValueError(f"truncated {cid!r} chunk")
        chunks.setdefault(cid, data[start : start + size])
        pos = start + size + (size & 1)  # chunks are word-aligned
    if pos != len(data) and pos + 8 > len(data) and pos < len(data):
        raise ValueError("trailing bytes do not form a chunk header")
    return chunks


def _wrap_riff(fmt_payload: bytes, data_payload: bytes, n_frames: int,
               with_fact: bool) -> bytes:
    chunks = [(b"fmt ", fmt_payload)]
    if with_fact:  # spec: compressed formats carry a fact chunk
        chunks.append((b"fact", struct.pack("<I", n_frames)))
    chunks.append((b"data", data_payload))
    body = bytearray(b"WAVE")
    for cid, payload in chunks:
        body += cid + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + bytes(body)


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a WAV blob to (int16 array of shape (n_frames, n_channels),
    sample_rate). Handles 16-bit PCM, G.711 u-law/A-law, and IMA ADPCM;
    other format tags (float PCM, extensible, perceptual codecs) raise
    NotImplementedError — the honest boundary of a pure-Python decode.
    Structural damage raises ValueError."""
    chunks = _walk_riff(data)
    fmt = chunks.get(b"fmt ")
    payload = chunks.get(b"data")
    if fmt is None or payload is None:
        raise ValueError("missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError("fmt chunk too short")
    tag, n_ch, rate, _byte_rate, block_align, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0
    )
    if n_ch < 1:
        raise ValueError("channel count must be >= 1")

    if tag == WAVE_FORMAT_PCM:
        if bits != 16:
            raise NotImplementedError(
                f"only 16-bit PCM supported, got {bits}-bit"
            )
        if len(payload) % (2 * n_ch):
            raise ValueError("PCM payload not frame-aligned")
        return np.frombuffer(payload, dtype="<i2").reshape(-1, n_ch), rate

    if tag in (WAVE_FORMAT_MULAW, WAVE_FORMAT_ALAW):
        if bits != 8:
            raise ValueError(f"G.711 requires 8 bits/sample, got {bits}")
        if len(payload) % n_ch:
            raise ValueError("G.711 payload not frame-aligned")
        table_decode = mulaw_decode if tag == WAVE_FORMAT_MULAW else alaw_decode
        return table_decode(payload).reshape(-1, n_ch), rate

    if tag == WAVE_FORMAT_IMA_ADPCM:
        if bits != 4:
            raise NotImplementedError(
                f"IMA ADPCM with {bits} bits/sample not supported"
            )
        if len(fmt) < 20:
            raise ValueError("IMA ADPCM fmt chunk missing samples_per_block")
        (spb,) = struct.unpack_from("<H", fmt, 18)
        if block_align < 8 * n_ch or (block_align - 4 * n_ch) % (4 * n_ch):
            raise ValueError(
                f"IMA ADPCM block_align {block_align} not header + whole "
                f"4-byte nibble words for {n_ch} channel(s)"
            )
        if spb != ima_adpcm_samples_per_block(block_align, n_ch):
            raise ValueError(
                f"samples_per_block {spb} inconsistent with "
                f"block_align {block_align}"
            )
        if len(payload) == 0 or len(payload) % block_align:
            raise ValueError("ADPCM payload not block-aligned")
        blocks = [
            _decode_ima_block(payload[i : i + block_align], n_ch)
            for i in range(0, len(payload), block_align)
        ]
        out = np.vstack(blocks)
        fact = chunks.get(b"fact")
        if fact is not None:
            # Real encoders pad the FINAL block (n is rarely
            # a multiple of samples_per_block) and record the true frame
            # count in the fact chunk; honoring it returns the real
            # frames instead of trailing pad samples. A fact count that
            # the block structure cannot produce (longer than decoded,
            # or short by a whole block or more) is structural damage.
            if len(fact) < 4:
                raise ValueError("fact chunk too short")
            (n_frames,) = struct.unpack_from("<I", fact, 0)
            if n_frames > len(out) or n_frames <= len(out) - spb:
                raise ValueError(
                    f"fact frame count {n_frames} inconsistent with "
                    f"{len(out)} decoded ADPCM frames (block {spb})"
                )
            out = out[:n_frames]
        return out, rate

    raise NotImplementedError(f"WAV format tag 0x{tag:04x} not supported")


def _g711_fmt(tag: int, n_ch: int, rate: int) -> bytes:
    return struct.pack("<HHIIHHH", tag, n_ch, rate, rate * n_ch, n_ch, 8, 0)


def wrap_g711_payload(
    payload: bytes, law: str = "mulaw", rate: int = 8_000, channels: int = 1
) -> bytes:
    """Build a G.711 WAV container around ALREADY-COMPRESSED bytes —
    the fixture path: the quarantine oracle can then replay the decode
    table in SQL directly over the planted bytes."""
    tag = {"mulaw": WAVE_FORMAT_MULAW, "alaw": WAVE_FORMAT_ALAW}[law]
    if len(payload) % channels:
        raise ValueError("payload not frame-aligned")
    return _wrap_riff(
        _g711_fmt(tag, channels, rate), payload, len(payload) // channels, True
    )


def encode_wav_g711(
    samples: np.ndarray, law: str = "mulaw", rate: int = 8_000
) -> bytes:
    """Compress int16 samples (n,) or (n, ch) to a G.711 WAV blob."""
    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    enc = mulaw_encode if law == "mulaw" else alaw_encode
    return wrap_g711_payload(enc(arr.reshape(-1)), law, rate, arr.shape[1])


def encode_wav_ima_adpcm(
    samples: np.ndarray, rate: int = 8_000, samples_per_block: int = 505
) -> bytes:
    """Compress int16 samples (n,) or (n, ch) to an IMA ADPCM WAV blob.
    The final block is zero-padded to samples_per_block and the TRUE
    frame count goes in the fact chunk — the normal real-encoder shape
    (``decode_wav`` truncates to the fact count, so the
    roundtrip is exact for any n). samples_per_block must be 8k+1 so
    nibbles pack into whole 4-byte words (505 is the canonical
    mono-256-byte-block value)."""
    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    if (samples_per_block - 1) % 8:
        raise ValueError("samples_per_block must be 8k+1")
    if n == 0:
        raise ValueError("cannot encode an empty sample array")
    if n % samples_per_block:
        pad = samples_per_block - n % samples_per_block
        arr = np.vstack([arr, np.zeros((pad, ch), dtype=np.int16)])
    block_align = 4 * ch + (samples_per_block - 1) * ch // 2
    fmt = struct.pack(
        "<HHIIHHHH",
        WAVE_FORMAT_IMA_ADPCM, ch, rate,
        rate * block_align // samples_per_block,  # nominal byte rate
        block_align, 4, 2, samples_per_block,
    )
    indices = [0] * ch
    body = bytearray()
    for i in range(0, len(arr), samples_per_block):
        blk, indices = _encode_ima_block(arr[i : i + samples_per_block], indices)
        body += blk
    return _wrap_riff(fmt, bytes(body), n, True)
