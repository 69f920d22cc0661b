"""Minimal real baseline-JPEG codec — stdlib ``struct`` + numpy only.

Completes the pixel story ``png.py`` started: the container has no imaging
library, and baseline JFIF needs none — it is 8×8 DCT blocks, Annex-K
quantization, and canonical Huffman coding inside an FF-marker container
(ITU-T T.81). Implements baseline sequential, 8-bit, Huffman, 4:4:4 (no
chroma subsampling): the encoder always writes that shape; the decoder
additionally handles grayscale (1-component) scans and restart markers so
it reads files from other writers that stay within baseline 4:4:4.

DCT is the exact orthonormal matrix form (C·B·Cᵀ), vectorized over all
blocks with one einsum per component — no per-pixel Python. Entropy
coding is per-symbol Python, fine at the thumbnail sizes the multimodal
operators process and deliberately dependency-free.

JPEG is lossy by design: the round-trip contract (tests/test_jpeg_codec.py)
is exact dimensions + bounded pixel error, not identity, plus exact
structural parses (marker walk, SOF dims) and a flat-field exactness check.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

__all__ = ["encode_jpeg", "decode_jpeg"]

# --- Annex K tables -------------------------------------------------------

_QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)

_QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)

# (BITS: #codes per length 1..16, HUFFVAL: symbols in canonical order)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))

_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
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
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
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
]

_ZIGZAG = np.array(
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

# orthonormal type-II DCT matrix: C[u, x] = a(u)·cos((2x+1)uπ/16)/2
_C = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0)
            * np.cos((2 * x + 1) * u * np.pi / 16)
            / 2.0
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg-compatible quality scaling of an Annex-K base table."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    tbl = (base * scale + 50) // 100
    return np.clip(tbl, 1, 255).astype(np.int32)


def _canonical_codes(bits, vals):
    """(symbol -> (code, length)) per the canonical JPEG assignment."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits, vals):
    """((length, code) -> symbol) for the decoder."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-fill per spec
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude category + appended bits for a coefficient."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    return s, v if v > 0 else v + (1 << s) - 1


def _code_arrays(codes: dict) -> tuple[np.ndarray, np.ndarray]:
    """(code, length) lookup arrays indexed by symbol, for the
    vectorized entropy coder."""
    c = np.zeros(256, dtype=np.int64)
    ln = np.zeros(256, dtype=np.int64)
    for sym, (code, length) in codes.items():
        c[sym] = code
        ln[sym] = length
    return c, ln


_DC_CODE_ARRS = [
    _code_arrays(_canonical_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)),
    _code_arrays(_canonical_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)),
]
_AC_CODE_ARRS = [
    _code_arrays(_canonical_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)),
    _code_arrays(_canonical_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)),
]


def _bitlen(a: np.ndarray) -> np.ndarray:
    """Element-wise bit_length of non-negative int64 (exact: frexp's
    exponent of an integer IS its bit length; values here are bounded by
    the 15-bit JPEG coefficient range, far inside float64 exactness)."""
    return np.frexp(a.astype(np.float64))[1].astype(np.int64)


def _pack_bits(values: np.ndarray, lengths: np.ndarray) -> bytes:
    """MSB-first concatenation of variable-width bitfields with JPEG
    byte stuffing (0x00 after every emitted 0xFF) and 1-fill padding to
    a byte boundary — the vectorized equivalent of ``_BitWriter``:
    identical (value, length) input produces identical bytes
    (tests/test_jpeg_differential.py fuzzes the equivalence)."""
    lengths = lengths.astype(np.int64)
    keep = lengths > 0
    values = values[keep].astype(np.int64)
    lengths = lengths[keep]
    total = int(lengths.sum())
    pad = (-total) % 8
    if pad:
        values = np.append(values, (1 << pad) - 1)
        lengths = np.append(lengths, pad)
        total += pad
    if total == 0:
        return b""
    values &= (np.int64(1) << lengths) - 1  # _BitWriter.put's mask
    item = np.repeat(np.arange(len(values)), lengths)
    starts = np.repeat(np.cumsum(lengths) - lengths, lengths)
    j = np.arange(total, dtype=np.int64) - starts
    bits = (values[item] >> (lengths[item] - 1 - j)) & 1
    packed = np.packbits(bits.astype(np.uint8))
    ff = np.flatnonzero(packed == 0xFF)
    if len(ff):
        packed = np.insert(packed, ff + 1, 0)
    return packed.tobytes()


def _entropy_encode(quantized: list, comp_q: list) -> bytes:
    """Vectorized baseline entropy coder over per-component zigzag
    coefficient tables (n_mcus, 64). Emits the IDENTICAL
    (value, length) stream the per-symbol loop did — DC diff coding,
    run-length AC with ZRL expansion and EOB — with the MCU-major
    component-minor interleave reconstructed by ONE argsort over a
    composite (block, zigzag-pos, sub-order) key, then packs it with
    ``_pack_bits``. All components are processed in a single stacked
    pass (per-image numpy constant cost is what competes with the old
    serial loop on sparse, EOB-heavy corpus images). Byte equality with
    the serial writer is pinned by the differential fuzz suite."""
    nc = len(quantized)
    n = quantized[0].shape[0]
    z = np.concatenate(quantized, axis=0).astype(np.int64)  # (nc*n, 64)
    # global block index g = ci*n + m; emission order is (m, ci) so the
    # sort key's block term is m*nc + ci
    g_order = np.concatenate(
        [np.arange(n, dtype=np.int64) * nc + ci for ci in range(nc)]
    )
    # per-symbol code tables gathered per block's component class
    tcls = np.repeat(np.asarray(comp_q, dtype=np.int64), n)
    dc_c = np.stack([_DC_CODE_ARRS[t][0] for t in (0, 1)])
    dc_l = np.stack([_DC_CODE_ARRS[t][1] for t in (0, 1)])
    ac_c = np.stack([_AC_CODE_ARRS[t][0] for t in (0, 1)])
    ac_l = np.stack([_AC_CODE_ARRS[t][1] for t in (0, 1)])

    # --- DC: diff vs previous block of the SAME component ---
    dc = z[:, 0]
    prev = np.empty_like(dc)
    prev[0] = 0
    prev[1:] = dc[:-1]
    prev[np.arange(nc) * n] = 0  # stripe starts: predictor resets to 0
    diff = dc - prev
    s_dc = _bitlen(np.abs(diff))
    bits_dc = np.where(diff >= 0, diff, diff + (np.int64(1) << s_dc) - 1)

    # --- AC: run-length over nonzeros (row-major nonzero is already
    # (block, k)-sorted) ---
    b, kk = np.nonzero(z[:, 1:])
    k = kk + 1
    v = z[b, k]
    if len(b):
        first = np.empty(len(b), dtype=bool)
        first[0] = True
        np.not_equal(b[1:], b[:-1], out=first[1:])
        prev_k = np.empty_like(k)
        prev_k[0] = 0
        prev_k[1:] = k[:-1]
        prev_k[first] = 0
        run = k - prev_k - 1
        zrl_n = run >> 4
        sym = ((run & 15) << 4) | _bitlen(np.abs(v))
    else:
        zrl_n = k
        sym = k
    s_ac = sym & 15
    bits_ac = np.where(v > 0, v, v + (np.int64(1) << s_ac) - 1)
    # EOB wherever the block's last nonzero AC is before k=63
    last_nz = np.zeros(nc * n, dtype=np.int64)
    if len(b):
        np.maximum.at(last_nz, b, k)
    eob_b = np.flatnonzero(last_nz < 63)

    # --- assemble (key, value, length) records; key = block-in-emission-
    # order * 2^12 | zigzag-pos * 2^5 | sub (pos<=64 -> 7 bits; sub: DC
    # huff 0 / DC bits 1, AC ZRLs 0..3, AC huff 16, AC bits 17 -> 5 bits)
    n_zrl = int(zrl_n.sum())
    n_rec = 4 * nc * n + 2 * len(b) + n_zrl  # DC pairs + EOB upper bound
    key = np.empty(n_rec, dtype=np.int64)
    val = np.empty(n_rec, dtype=np.int64)
    ln = np.empty(n_rec, dtype=np.int64)
    blocks = nc * n

    key[:blocks] = g_order << 12
    val[:blocks] = dc_c[tcls, s_dc]
    ln[:blocks] = dc_l[tcls, s_dc]
    key[blocks : 2 * blocks] = (g_order << 12) | 1
    val[blocks : 2 * blocks] = bits_dc
    ln[blocks : 2 * blocks] = s_dc
    at = 2 * blocks
    if n_zrl:
        zi = np.repeat(np.arange(len(b)), zrl_n)
        sub = np.arange(n_zrl, dtype=np.int64) - np.repeat(
            np.cumsum(zrl_n) - zrl_n, zrl_n
        )
        key[at : at + n_zrl] = (g_order[b[zi]] << 12) | (k[zi] << 5) | sub
        val[at : at + n_zrl] = ac_c[tcls[b[zi]], 0xF0]
        ln[at : at + n_zrl] = ac_l[tcls[b[zi]], 0xF0]
        at += n_zrl
    if len(b):
        gk = (g_order[b] << 12) | (k << 5)
        key[at : at + len(b)] = gk | 16
        val[at : at + len(b)] = ac_c[tcls[b], sym]
        ln[at : at + len(b)] = ac_l[tcls[b], sym]
        at += len(b)
        key[at : at + len(b)] = gk | 17
        val[at : at + len(b)] = bits_ac
        ln[at : at + len(b)] = s_ac
        at += len(b)
    key[at : at + len(eob_b)] = (g_order[eob_b] << 12) | (64 << 5)
    val[at : at + len(eob_b)] = ac_c[tcls[eob_b], 0]
    ln[at : at + len(eob_b)] = ac_l[tcls[eob_b], 0]
    at += len(eob_b)

    order = np.argsort(key[:at])  # keys are unique: plain sort suffices
    return _pack_bits(val[:at][order], ln[:at][order])


def _rgb_to_ycbcr(a: np.ndarray) -> np.ndarray:
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y, cb, cr) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(
        np.stack([r, g, b], axis=-1), 0, 255
    ).round().astype(np.uint8)


def _blockify(plane: np.ndarray) -> np.ndarray:
    """(H, W) -> (n_blocks, 8, 8) in MCU raster order, edge-replicated pad
    (manual slice fill: same bytes as np.pad(mode="edge") at a fraction of
    its per-call overhead — this runs three times per encoded image)."""
    h, w = plane.shape
    ph = (h + 7) // 8 * 8
    pw = (w + 7) // 8 * 8
    if ph != h or pw != w:
        padded = np.empty((ph, pw), dtype=plane.dtype)
        padded[:h, :w] = plane
        if pw != w:
            padded[:h, w:] = plane[:, -1:]
        if ph != h:
            padded[h:, :] = padded[h - 1, :]
    else:
        padded = plane
    return (
        padded.reshape(ph // 8, 8, pw // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _deblockify(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    ph = (h + 7) // 8 * 8
    pw = (w + 7) // 8 * 8
    return (
        blocks.reshape(ph // 8, pw // 8, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(ph, pw)[:h, :w]
    )


def encode_jpeg(arr: np.ndarray, quality: int = 90) -> bytes:
    """(H, W, 3) RGB or (H, W) grayscale uint8 array → baseline JFIF bytes.

    Always writes 4:4:4 (three components, no subsampling) for color input
    and a single-component scan for grayscale.
    """
    a = np.ascontiguousarray(arr, dtype=np.uint8).astype(np.float64)
    gray = a.ndim == 2
    h, w = a.shape[:2]
    if not gray and a.shape[2] != 3:
        raise ValueError("encode_jpeg expects (H, W, 3) RGB or (H, W) gray")
    planes = [a] if gray else list(np.moveaxis(_rgb_to_ycbcr(a), -1, 0))

    qluma = _scaled_quant(_QUANT_LUMA, quality)
    qchroma = _scaled_quant(_QUANT_CHROMA, quality)
    qtabs = [qluma] + ([] if gray else [qchroma])
    comp_q = [0] if gray else [0, 1, 1]

    # forward DCT + quantize, all blocks at once per component
    quantized = []
    for ci, plane in enumerate(planes):
        blocks = _blockify(plane - 128.0)
        coef = np.einsum("ux,nxy,vy->nuv", _C, blocks, _C)
        q = qtabs[comp_q[ci]]
        quantized.append(
            np.round(coef / q).astype(np.int32).reshape(-1, 64)[:, _ZIGZAG]
        )

    # vectorized entropy coding (r16): identical bytes to the previous
    # per-symbol _BitWriter loop, pinned by the differential fuzz suite
    scan = _entropy_encode(quantized, comp_q)

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(
        ">H", 16
    ) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, q in enumerate(qtabs):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid)
        out += bytes(int(x) for x in q.reshape(64)[_ZIGZAG])
    nc = len(planes)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for ci in range(nc):
        out += bytes([ci + 1, 0x11, comp_q[ci]])  # 1×1 sampling: 4:4:4
    huff = [
        (0x00, _DC_LUMA_BITS, _DC_LUMA_VALS),
        (0x10, _AC_LUMA_BITS, _AC_LUMA_VALS),
    ]
    if not gray:
        huff += [
            (0x01, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
            (0x11, _AC_CHROMA_BITS, _AC_CHROMA_VALS),
        ]
    for tc_th, bits, vals in huff:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tc_th)
        out += bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for ci in range(nc):
        # DC/AC table ids follow the component's quant-table class
        out += bytes([ci + 1, (comp_q[ci] << 4) | comp_q[ci]])
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """MSB-first reader over an entropy-coded segment (0xFF00 unstuffed,
    RSTn markers surfaced as events)."""

    def __init__(self, data: bytes, start: int) -> None:
        self.data = data
        self.pos = start
        self.acc = 0
        self.n = 0

    def _fill(self) -> bool:
        d = self.data
        p = self.pos
        if p >= len(d):
            return False
        byte = d[p]
        if byte == 0xFF:
            nxt = d[p + 1] if p + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos = p + 2
            elif 0xD0 <= nxt <= 0xD7:  # restart marker: caller resyncs
                return False
            else:  # EOI or next segment
                return False
        else:
            self.pos = p + 1
        self.acc = (self.acc << 8) | byte
        self.n += 8
        return True

    def skip_restart(self) -> bool:
        """Consume an RSTn marker at the current byte position, resetting
        bit state. Returns True if one was consumed."""
        self.acc = 0
        self.n = 0
        d = self.data
        p = self.pos
        if p + 1 < len(d) and d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7:
            self.pos = p + 2
            return True
        return False

    def bit(self) -> int:
        if self.n == 0 and not self._fill():
            raise ValueError("entropy segment exhausted")
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _read_symbol(br: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(bits: int, s: int) -> int:
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


#: Decode tables kept per worker: the own encoder's four (DC/AC x
#: luma/chroma) always fit, and a corpus of foreign files with distinct
#: DHT definitions evicts least-recently-used tables instead of growing
#: by ~0.5 MB per definition for the worker's lifetime.
_HUFF_LUT_MAX = 32


@functools.lru_cache(maxsize=_HUFF_LUT_MAX)
def _huff_lut(bits: bytes, vals: bytes) -> list:
    """Table-driven Huffman: every 16-bit window maps directly to its
    unique prefix code's (length << 8) | symbol (0 = no code) — one list
    index per symbol instead of up to 16 dict probes (prefix property
    guarantees the first matching code is THE code, so this is exactly
    ``_read_symbol``'s answer). Cached by the (BITS, HUFFVAL) definition
    itself, so own-encoder files share one build."""
    arr = np.zeros(1 << 16, dtype=np.uint16)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            arr[lo : lo + (1 << (16 - length))] = (length << 8) | vals[k]
            code += 1
            k += 1
        code <<= 1
    return arr.tolist()


def _entropy_segments(data: bytes, start: int) -> list[bytes]:
    """Split the entropy-coded data at RSTn markers and unstuff each
    segment (FF 00 -> FF); scanning stops at the first non-RST marker
    (EOI / next segment / truncated FF at end-of-data), mirroring
    ``_BitReader._fill``'s stop conditions."""
    segs: list[bytes] = []
    cur = bytearray()
    p = start
    n = len(data)
    while p < n:
        nxt = data.find(b"\xff", p)
        if nxt == -1:
            cur += data[p:]
            break
        cur += data[p:nxt]
        mk = data[nxt + 1] if nxt + 1 < n else 0xD9
        if mk == 0x00:
            cur.append(0xFF)
            p = nxt + 2
        elif 0xD0 <= mk <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            p = nxt + 2
        else:
            break
    segs.append(bytes(cur))
    return segs


def _seg_windows(seg: bytes) -> tuple[list, int]:
    """(per-byte 32-bit big-endian windows, total bits) for a segment:
    window[i] holds bytes i..i+3, so any <=16-bit read at bit position p
    is one index + shift + mask on window[p >> 3]. Zero padding only
    backs reads the bounds checks already allow."""
    b = np.frombuffer(seg + b"\x00\x00\x00", dtype=np.uint8).astype(
        np.uint32
    )
    w = (b[:-3] << 24) | (b[1:-2] << 16) | (b[2:-1] << 8) | b[3:]
    return w.tolist(), 8 * len(seg)


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JFIF bytes → (H, W, 3) RGB (or (H, W) gray) uint8 array.

    Supports baseline sequential 8-bit Huffman scans with 1×1 sampling
    (4:4:4 color or single-component grayscale) and restart intervals.
    """
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps = None
    h = w = 0
    restart_interval = 0
    scan_comps = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"corrupt marker chain at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        seg_len = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        body = data[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[_ZIGZAG] = np.frombuffer(
                    body[b + 1 : b + 65], dtype=np.uint8
                )
                qtabs[tq] = tbl.reshape(8, 8)
                b += 65
        elif marker == 0xC0 or marker == 0xC1:
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit baseline supported")
            comps = []
            for ci in range(nc):
                cid, samp, tq = body[6 + 3 * ci : 9 + 3 * ci]
                if samp != 0x11:
                    raise ValueError("only 1x1 sampling (4:4:4) supported")
                comps.append((cid, tq))
        elif 0xC2 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise ValueError("only baseline sequential JPEG supported")
        elif marker == 0xC4:
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1 : b + 17])
                nvals = sum(bits)
                vals = list(body[b + 17 : b + 17 + nvals])
                huff[(tc, th)] = _huff_lut(bytes(bits), bytes(vals))
                b += 17 + nvals
        elif marker == 0xDD:
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:
            ns = body[0]
            scan_comps = []
            for ci in range(ns):
                cid, tt = body[1 + 2 * ci], body[2 + 2 * ci]
                scan_comps.append((cid, tt >> 4, tt & 0x0F))
            pos = pos + 2 + seg_len
            break
        pos = pos + 2 + seg_len
    if comps is None or scan_comps is None:
        raise ValueError("missing SOF/SOS")

    nc = len(comps)
    n_mcus = ((h + 7) // 8) * ((w + 7) // 8)
    coeffs = [np.zeros((n_mcus, 64), dtype=np.int32) for _ in range(nc)]
    comp_tq = {cid: tq for cid, tq in comps}
    # Table-driven entropy decode (r16): RST-segmented unstuffed bytes,
    # one flat-LUT index per Huffman symbol and one 32-bit-window shift
    # per magnitude read, in place of the per-bit dict-probe reader —
    # identical coefficients by the prefix property (differential fuzz:
    # tests/test_jpeg_differential.py). Coefficients accumulate in
    # Python lists and land in ONE fancy-index write per component.
    segs = _entropy_segments(data, pos)
    seg_i = 0
    w32, nbits = _seg_windows(segs[0])
    bp = 0
    pred = [0] * nc
    luts = [(huff[(0, td)], huff[(1, ta)]) for (_cid, td, ta) in scan_comps]
    acc = [([], [], []) for _ in range(nc)]  # (mcu, zigzag-k, value)
    exhausted = ValueError("entropy segment exhausted")
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            # skip_restart semantics: drop partial-byte bits; an RSTn at
            # the byte boundary ended the current segment, so advance
            bp = (bp + 7) & ~7
            if bp >= nbits and seg_i + 1 < len(segs):
                seg_i += 1
                w32, nbits = _seg_windows(segs[seg_i])
                bp = 0
            pred = [0] * nc
        for ci in range(len(scan_comps)):
            dlut, alut = luts[ci]
            if bp >= nbits:
                raise exhausted
            v = dlut[(w32[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF]
            ln = v >> 8
            if ln == 0 or bp + ln > nbits:
                if ln == 0 and nbits - bp >= 16:
                    raise ValueError("invalid Huffman code")
                raise exhausted
            bp += ln
            s = v & 0xFF
            if s:
                if bp + s > nbits:
                    raise exhausted
                bits = (w32[bp >> 3] >> (32 - (bp & 7) - s)) & ((1 << s) - 1)
                bp += s
                pred[ci] += (
                    bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1
                )
            ms, ks, vs = acc[ci]
            ms.append(m)
            ks.append(0)
            vs.append(pred[ci])
            k = 1
            while k <= 63:
                if bp >= nbits:
                    raise exhausted
                v = alut[(w32[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF]
                ln = v >> 8
                if ln == 0 or bp + ln > nbits:
                    if ln == 0 and nbits - bp >= 16:
                        raise ValueError("invalid Huffman code")
                    raise exhausted
                bp += ln
                rs = v & 0xFF
                s = rs & 0x0F
                if s == 0:
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                k += rs >> 4
                if k > 63:
                    raise ValueError("AC run past end of block")
                if bp + s > nbits:
                    raise exhausted
                bits = (w32[bp >> 3] >> (32 - (bp & 7) - s)) & ((1 << s) - 1)
                bp += s
                ms.append(m)
                ks.append(k)
                vs.append(
                    bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1
                )
                k += 1
    for ci in range(len(scan_comps)):
        ms, ks, vs = acc[ci]
        coeffs[ci][ms, ks] = vs

    planes = []
    for ci, (cid, td, ta) in enumerate(scan_comps):
        q = qtabs[comp_tq[cid]]
        blocks = np.zeros((n_mcus, 64), dtype=np.float64)
        blocks[:, _ZIGZAG] = coeffs[ci]
        deq = blocks.reshape(-1, 8, 8) * q
        spatial = np.einsum("ux,nuv,vy->nxy", _C, deq, _C)
        planes.append(_deblockify(spatial + 128.0, h, w))
    if nc == 1:
        return np.clip(planes[0], 0, 255).round().astype(np.uint8)
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
