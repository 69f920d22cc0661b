"""Differential pins for the r16 vectorized JPEG entropy coder and
table-driven decoder (the r15 GIF/PNG byte-equality recipe): the
reference implementations below are verbatim copies of the pre-r16
per-symbol loops; the rewritten kernels must produce IDENTICAL bytes
(encoder) and IDENTICAL pixels (decoder) on fuzzed inputs, so the
multimodal queries' digests/manifests cannot move.
"""

from __future__ import annotations

import numpy as np

from data_to_parquet_spark.functions.jpeg import (
    _AC_CHROMA_BITS,
    _AC_CHROMA_VALS,
    _AC_LUMA_BITS,
    _AC_LUMA_VALS,
    _BitReader,
    _BitWriter,
    _DC_CHROMA_BITS,
    _DC_CHROMA_VALS,
    _DC_LUMA_BITS,
    _DC_LUMA_VALS,
    _blockify,
    _C,
    _canonical_codes,
    _entropy_encode,
    _magnitude,
    _pack_bits,
    _read_symbol,
    _rgb_to_ycbcr,
    _scaled_quant,
    _QUANT_CHROMA,
    _QUANT_LUMA,
    _ZIGZAG,
    decode_jpeg,
    encode_jpeg,
)

_DC_CODES = [
    _canonical_codes(_DC_LUMA_BITS, _DC_LUMA_VALS),
    _canonical_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS),
]
_AC_CODES = [
    _canonical_codes(_AC_LUMA_BITS, _AC_LUMA_VALS),
    _canonical_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS),
]


def _quantize(arr: np.ndarray, quality: int):
    """The shared (untouched) DCT+quantize front end, so the reference
    scan isolates exactly the rewritten entropy stage."""
    a = np.ascontiguousarray(arr, dtype=np.uint8).astype(np.float64)
    gray = a.ndim == 2
    planes = [a] if gray else list(np.moveaxis(_rgb_to_ycbcr(a), -1, 0))
    qtabs = [_scaled_quant(_QUANT_LUMA, quality)] + (
        [] if gray else [_scaled_quant(_QUANT_CHROMA, quality)]
    )
    comp_q = [0] if gray else [0, 1, 1]
    quantized = []
    for ci, plane in enumerate(planes):
        blocks = _blockify(plane - 128.0)
        coef = np.einsum("ux,nxy,vy->nuv", _C, blocks, _C)
        q = qtabs[comp_q[ci]]
        quantized.append(
            np.round(coef / q).astype(np.int32).reshape(-1, 64)[:, _ZIGZAG]
        )
    h, w = a.shape[:2]
    n_mcus = ((h + 7) // 8) * ((w + 7) // 8)
    return quantized, comp_q, n_mcus


def _scan_ref(quantized, comp_q, n_mcus) -> bytes:
    """Verbatim pre-r16 per-symbol entropy loop (_BitWriter path)."""
    bw = _BitWriter()
    pred = [0] * len(quantized)
    for m in range(n_mcus):
        for ci in range(len(quantized)):
            t = comp_q[ci]
            zz = quantized[ci][m]
            diff = int(zz[0]) - pred[ci]
            pred[ci] = int(zz[0])
            s, bits = _magnitude(diff)
            code, ln = _DC_CODES[t][s]
            bw.put(code, ln)
            if s:
                bw.put(bits, s)
            run = 0
            nz = np.nonzero(zz[1:])[0]
            last_nz = nz[-1] + 1 if len(nz) else 0
            for k in range(1, last_nz + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = _AC_CODES[t][0xF0]
                    bw.put(code, ln)
                    run -= 16
                s, bits = _magnitude(v)
                code, ln = _AC_CODES[t][(run << 4) | s]
                bw.put(code, ln)
                bw.put(bits, s)
                run = 0
            if last_nz < 63:
                code, ln = _AC_CODES[t][0x00]
                bw.put(code, ln)
    return bw.flush()


def _fuzz_images():
    rng = np.random.default_rng(20260818)
    imgs = []
    for h, w in ((8, 8), (13, 21), (16, 48), (64, 64), (1, 1), (7, 130)):
        imgs.append(rng.integers(0, 256, (h, w, 3), dtype=np.uint8))
        imgs.append(rng.integers(0, 256, (h, w), dtype=np.uint8))
        ys, xs = np.mgrid[0:h, 0:w]
        imgs.append(
            np.stack(
                [(xs * 2) % 256, (ys * 3) % 256, (xs + ys) % 256], -1
            ).astype(np.uint8)
        )
    imgs.append(np.full((24, 40, 3), 130, np.uint8))  # flat: EOB-heavy
    imgs.append(np.zeros((9, 9), np.uint8))
    # sparse high-contrast dots: long zero runs exercise ZRL chains
    dots = np.zeros((32, 32, 3), np.uint8)
    dots[::7, ::11] = 255
    imgs.append(dots)
    return imgs


def test_entropy_encode_byte_equal_to_serial_writer():
    for img in _fuzz_images():
        for quality in (25, 50, 90, 95):
            quantized, comp_q, n_mcus = _quantize(img, quality)
            ref = _scan_ref(quantized, comp_q, n_mcus)
            new = _entropy_encode(quantized, comp_q)
            assert new == ref, (img.shape, quality)


def test_full_files_byte_equal_to_reference_container():
    """End-to-end: encode_jpeg output must be reproducible by reference
    scan + the (unchanged) container assembly — i.e., the only moving
    part is the entropy stage, and it moved nowhere."""
    for img in _fuzz_images()[:6]:
        data = encode_jpeg(img, quality=90)
        quantized, comp_q, n_mcus = _quantize(img, 90)
        ref_scan = _scan_ref(quantized, comp_q, n_mcus)
        assert ref_scan in data  # scan bytes embedded verbatim
        sos = data.index(b"\xff\xda")
        scan_start = sos + 2 + int.from_bytes(data[sos + 2 : sos + 4], "big")
        assert data[scan_start:-2] == ref_scan


def test_pack_bits_matches_bitwriter_fuzz():
    rng = np.random.default_rng(7)
    for _ in range(200):
        n = int(rng.integers(0, 120))
        lens = rng.integers(0, 17, n)
        vals = np.array(
            [int(rng.integers(0, 1 << ln)) if ln else 0 for ln in lens],
            dtype=np.int64,
        )
        bw = _BitWriter()
        for v, ln in zip(vals, lens):
            if ln:
                bw.put(int(v), int(ln))
        assert _pack_bits(vals, lens) == bw.flush()
    # all-0xFF output: stuffing after every byte including the pad byte
    assert _pack_bits(
        np.array([0xFFFF, 0xF], dtype=np.int64),
        np.array([16, 4], dtype=np.int64),
    ) == b"\xff\x00\xff\x00\xff\x00"


def test_decoder_pixels_equal_reference_decoder():
    """The table-driven decoder must reproduce the reference bit-by-bit
    decoder's pixels exactly on every encoder output."""
    from data_to_parquet_spark.functions import jpeg as J

    for img in _fuzz_images():
        data = encode_jpeg(img, quality=90)
        assert np.array_equal(decode_jpeg(data), _decode_jpeg_ref(data)), (
            img.shape
        )


def _decode_jpeg_ref(data: bytes) -> np.ndarray:
    """Verbatim pre-r16 decoder entropy loop (_BitReader path), sharing
    the module's marker parse + IDCT helpers."""
    import struct

    from data_to_parquet_spark.functions.jpeg import (
        _decode_table,
        _deblockify,
        _extend,
        _ycbcr_to_rgb,
    )

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtabs = {}
    huff = {}
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
                tq = body[b] & 0x0F
                tbl = np.zeros(64, dtype=np.int32)
                tbl[_ZIGZAG] = np.frombuffer(
                    body[b + 1 : b + 65], dtype=np.uint8
                )
                qtabs[tq] = tbl.reshape(8, 8)
                b += 65
        elif marker in (0xC0, 0xC1):
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            comps = []
            for ci in range(nc):
                cid, samp, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append((cid, tq))
        elif marker == 0xC4:
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1 : b + 17])
                nvals = sum(bits)
                vals = list(body[b + 17 : b + 17 + nvals])
                huff[(tc, th)] = _decode_table(bits, vals)
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

    nc = len(comps)
    n_mcus = ((h + 7) // 8) * ((w + 7) // 8)
    coeffs = [np.zeros((n_mcus, 64), dtype=np.int32) for _ in range(nc)]
    br = _BitReader(data, pos)
    pred = [0] * nc
    comp_tq = {cid: tq for cid, tq in comps}
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            br.skip_restart()
            pred = [0] * nc
        for ci, (cid, td, ta) in enumerate(scan_comps):
            s = _read_symbol(br, huff[(0, td)])
            diff = _extend(br.bits(s), s) if s else 0
            pred[ci] += diff
            zz = coeffs[ci][m]
            zz[0] = pred[ci]
            k = 1
            while k <= 63:
                rs = _read_symbol(br, huff[(1, ta)])
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:
                        k += 16
                        continue
                    break
                k += r
                if k > 63:
                    raise ValueError("AC run past end of block")
                zz[k] = _extend(br.bits(s), s)
                k += 1

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


def _gray_stream(dc_vals, restart: bool) -> bytes:
    """An 8x24 gray baseline stream of three flat MCUs (levels 40, 200,
    90) coded with a DC table of the standard luma BITS over ``dc_vals``
    and the standard luma AC table; with ``restart``, DRI=1 puts an RSTn
    marker after each of the first two MCUs."""
    import struct

    from data_to_parquet_spark.functions.jpeg import _canonical_codes

    qt = _scaled_quant(_QUANT_LUMA, 90)
    dc = _canonical_codes(_DC_LUMA_BITS, dc_vals)
    ac = _AC_CODES[0]
    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0)
    out += bytes(int(x) for x in qt.reshape(64)[_ZIGZAG])
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 8, 24, 1)
    out += bytes([1, 0x11, 0])
    for tc_th, bits_l, vals in (
        (0x00, _DC_LUMA_BITS, dc_vals),
        (0x10, _AC_LUMA_BITS, _AC_LUMA_VALS),
    ):
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tc_th)
        out += bytes(bits_l) + bytes(vals)
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, 1)
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00])
    out += b"\x00\x3f\x00"
    segs = []
    bw = _BitWriter()
    pred = 0
    for v in (40, 200, 90):
        dc_val = round(8 * (v - 128) / int(qt[0, 0]))
        s, bits = _magnitude(dc_val - pred)
        code, ln = dc[s]
        bw.put(code, ln)
        if s:
            bw.put(bits, s)
        code, ln = ac[0x00]
        bw.put(code, ln)
        if restart:
            segs.append(bw.flush())
            bw = _BitWriter()
        else:
            pred = dc_val
    if restart:
        out += segs[0] + b"\xff\xd0" + segs[1] + b"\xff\xd1" + segs[2]
    else:
        out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def test_decoder_restart_markers_equal_reference():
    """Assemble a DRI=1 stream here (``_gray_stream``: one 8x24 gray
    image, three MCUs, a restart marker after each of the first two) to
    pin segment advancement + predictor reset against the reference."""
    data = _gray_stream(_DC_LUMA_VALS, restart=True)
    assert np.array_equal(decode_jpeg(data), _decode_jpeg_ref(data))


def test_decoder_table_cache_stays_bounded_on_foreign_tables():
    """Files with more distinct DHT definitions than the decode-table
    cache holds (here: permuted DC symbol assignments) still decode to
    the reference's pixels, and the cache never grows past its bound."""
    from data_to_parquet_spark.functions.jpeg import _HUFF_LUT_MAX, _huff_lut

    rng = np.random.default_rng(16)
    tables = {
        tuple(rng.permutation(12).tolist()) for _ in range(_HUFF_LUT_MAX + 8)
    }
    assert len(tables) > _HUFF_LUT_MAX
    _huff_lut.cache_clear()
    for dc_vals in sorted(tables):
        data = _gray_stream(list(dc_vals), restart=False)
        assert np.array_equal(decode_jpeg(data), _decode_jpeg_ref(data))
        assert _huff_lut.cache_info().currsize <= _HUFF_LUT_MAX
    info = _huff_lut.cache_info()
    assert info.misses == len(tables) + 1  # + the shared AC table
    assert info.currsize == _HUFF_LUT_MAX
