"""Test-side encoders for decode paths the package reads but never writes.

The 12-bit sequential and progressive, Adobe CMYK/YCCK and lossless
(SOF3) JPEG writers, and the G.711 mu-law/A-law and IMA ADPCM WAV
writers, build the fixture streams that the decoder tests in
``tests/`` read back.  Nothing in ``karta_spark`` calls them, so they
ship with the tests, not in the package every executor loads.
"""

from __future__ import annotations

import struct

import numpy as np

from karta_spark.sources.av import _IMA_STEPS, _ima_step, alaw_decode_bytes, mulaw_decode_bytes
from karta_spark.sources.jpeg import (
    AC_LUM_BITS,
    AC_LUM_VALS,
    DC_LUM_BITS,
    DC_LUM_VALS,
    QUANT_LUM,
    ZIGZAG,
    _DCT,
    _ENC_AC_LUM,
    _ENC_DC_LUM,
    _BitWriter,
    _canonical_codes,
    _enc_ac_first_scan,
    _enc_ac_refine_scan,
    _enc_dc_scan,
    _encode_blocks,
    _lossless_predict,
    _magnitude,
    _noninterleaved_blocks,
    _pad_to,
    _to_blocks,
    scaled_quant,
)


# ---------------------------------------------------------------------------
# JPEG: 12-bit extended sequential (SOF1) and progressive (SOF2), Adobe
# CMYK/YCCK, lossless (SOF3)
# ---------------------------------------------------------------------------

# 12-bit DC diffs reach category 16 and AC coefficients category 14 —
# past the Annex-K 8-bit tables.  Uniform-length canonical tables are
# legal Huffman tables (T.81 C.2) and cover the full symbol alphabets:
# 17 DC categories at length 6, 226 AC symbols (EOB, ZRL, run 0-15 x
# size 1-14) at length 8; neither reaches the all-ones code.
_DC12_BITS = (0, 0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
_DC12_VALS = tuple(range(17))
_AC12_VALS = tuple([0x00, 0xF0] + [(run << 4) | size
                                   for run in range(16)
                                   for size in range(1, 15)])
_AC12_BITS = (0, 0, 0, 0, 0, 0, 0, len(_AC12_VALS), 0, 0, 0, 0, 0, 0, 0, 0)
_ENC_DC12 = _canonical_codes(_DC12_BITS, _DC12_VALS)
_ENC_AC12 = _canonical_codes(_AC12_BITS, _AC12_VALS)


def encode_jpeg12(arr: np.ndarray, quality: int = 95) -> bytes:
    """Encode a grayscale uint16 (H,W) array with 12-bit samples
    (0..4095) as an extended sequential SOF1 stream — the precision
    medical/aerial archives carry (GDAL reads them via libjpeg-12;
    reference _gdal.py:114-188).  Same DCT/quant/entropy pipeline as
    the 8-bit encoder with a 2048 level shift and full-alphabet
    uniform-length Huffman tables."""
    arr = np.asarray(arr)
    if arr.ndim != 2:
        raise ValueError("encode_jpeg12 is grayscale-only")
    if arr.max(initial=0) > 4095:
        raise ValueError("12-bit samples must be 0..4095")
    h, w = arr.shape
    mcux = (w + 7) // 8
    mcuy = (h + 7) // 8
    q = scaled_quant(QUANT_LUM, quality)
    plane = _pad_to(arr.astype(np.float64) - 2048.0, mcuy * 8, mcux * 8)
    blocks = _to_blocks(plane)
    d = np.einsum("ij,njk,lk->nil", _DCT, blocks, _DCT)
    coefs = np.round(d / q).astype(np.int64).reshape(-1, 64)[:, ZIGZAG]

    out = bytearray()
    out += b"\xFF\xD8"
    out += b"\xFF\xDB" + struct.pack(">HB", 67, 0) \
        + bytes(int(v) for v in q.reshape(-1)[ZIGZAG])
    sof = struct.pack(">BHHB", 12, h, w, 1) + bytes([1, 0x11, 0])
    out += b"\xFF\xC1" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(cls, tid, bits, vals):
        body = struct.pack("B", (cls << 4) | tid) + bytes(bits) + bytes(vals)
        return b"\xFF\xC4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, _DC12_BITS, _DC12_VALS)
    out += dht(1, 0, _AC12_BITS, _AC12_VALS)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    out += b"\xFF\xDA" + struct.pack(">H", 2 + len(sos)) + sos
    wtr = _BitWriter()
    _encode_blocks(wtr, coefs, _ENC_DC12, _ENC_AC12, 0)
    wtr.flush()
    out += wtr.buf
    out += b"\xFF\xD9"
    return bytes(out)


def encode_jpeg12_progressive(arr: np.ndarray, quality: int = 95,
                              successive: bool = True) -> bytes:
    """Encode grayscale 12-bit samples as PROGRESSIVE SOF2 with
    precision 12 — the remaining cell of the mode matrix (libjpeg-12
    can emit it; the sequential 12-bit, 8-bit progressive and lossless
    paths were already covered).  Same quantized coefficients as
    ``encode_jpeg12``, so the decode must be BIT-IDENTICAL to the
    sequential stream's (pinned by tests).  Scan script mirrors
    encode_jpeg_progressive: DC scan + full-band AC scan, optionally at
    Al=1 with refinement scans (spectral selection AND successive
    approximation)."""
    arr = np.asarray(arr)
    if arr.ndim != 2:
        raise ValueError("encode_jpeg12_progressive is grayscale-only")
    if arr.max(initial=0) > 4095:
        raise ValueError("12-bit samples must be 0..4095")
    h, w = arr.shape
    mcux = (w + 7) // 8
    mcuy = (h + 7) // 8
    q = scaled_quant(QUANT_LUM, quality)
    plane = _pad_to(arr.astype(np.float64) - 2048.0, mcuy * 8, mcux * 8)
    blocks = _to_blocks(plane)
    d = np.einsum("ij,njk,lk->nil", _DCT, blocks, _DCT)
    coefs = np.round(d / q).astype(np.int64).reshape(-1, 64)[:, ZIGZAG]
    comp_coefs = [coefs]
    samp = [(1, 1)]

    out = bytearray()
    out += b"\xFF\xD8"
    out += b"\xFF\xDB" + struct.pack(">HB", 67, 0) \
        + bytes(int(v) for v in q.reshape(-1)[ZIGZAG])
    sof = struct.pack(">BHHB", 12, h, w, 1) + bytes([1, 0x11, 0])
    out += b"\xFF\xC2" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(cls, tid, bits, vals):
        body = struct.pack("B", (cls << 4) | tid) + bytes(bits) + bytes(vals)
        return b"\xFF\xC4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, _DC12_BITS, _DC12_VALS)
    out += dht(1, 0, _AC12_BITS, _AC12_VALS)

    def sos(ss, se, ah, al):
        hdr = bytes([1, 1, 0x00, ss, se, (ah << 4) | al])
        return b"\xFF\xDA" + struct.pack(">H", 2 + len(hdr)) + hdr

    al0 = 1 if successive else 0
    out += sos(0, 0, 0, al0)
    out += _enc_dc_scan(comp_coefs, samp, mcux, mcuy, 0, al0,
                        enc_dc=[_ENC_DC12])
    out += sos(1, 63, 0, al0)
    out += _enc_ac_first_scan(
        _noninterleaved_blocks(comp_coefs, 0, samp, mcux, mcuy, w, h),
        1, 63, al0, _ENC_AC12)
    if successive:
        out += sos(0, 0, 1, 0)
        out += _enc_dc_scan(comp_coefs, samp, mcux, mcuy, 1, 0,
                            enc_dc=[_ENC_DC12])
        out += sos(1, 63, 1, 0)
        out += _enc_ac_refine_scan(
            _noninterleaved_blocks(comp_coefs, 0, samp, mcux, mcuy, w, h),
            1, 63, 0, _ENC_AC12)
    out += b"\xFF\xD9"
    return bytes(out)


def encode_jpeg_cmyk(arr: np.ndarray, quality: int = 95,
                     transform: int = 2) -> bytes:
    """Encode (H,W,4) uint8 CMYK (255 = full ink) as an Adobe
    4-component JPEG — APP14 marker + ink-inverted samples, the
    print-origin shape web corpora carry.  ``transform=2`` writes YCCK
    (YCbCr forward transform over the inverted CMY, K untouched —
    Photoshop's default); ``transform=0`` writes direct CMYK.  4:4:4
    only; all components share the luma tables."""
    arr = np.asarray(arr)
    if arr.ndim != 3 or arr.shape[2] != 4:
        raise ValueError("encode_jpeg_cmyk expects (H, W, 4)")
    h, w = arr.shape[:2]
    inv = 255.0 - arr.astype(np.float64)  # Adobe ink inversion
    if transform == 2:
        c, m, ye, k = (inv[:, :, i] for i in range(4))
        y = 0.299 * c + 0.587 * m + 0.114 * ye
        cb = -0.168736 * c - 0.331264 * m + 0.5 * ye + 128.0
        cr = 0.5 * c - 0.418688 * m - 0.081312 * ye + 128.0
        planes = [y, cb, cr, k]
    elif transform == 0:
        planes = [inv[:, :, i] for i in range(4)]
    else:
        raise ValueError("transform must be 0 (CMYK) or 2 (YCCK)")
    mcux = (w + 7) // 8
    mcuy = (h + 7) // 8
    q = scaled_quant(QUANT_LUM, quality)
    comp_coefs = []
    for p in planes:
        padded = _pad_to(p - 128.0, mcuy * 8, mcux * 8)
        d = np.einsum("ij,njk,lk->nil", _DCT, _to_blocks(padded), _DCT)
        comp_coefs.append(
            np.round(d / q).astype(np.int64).reshape(-1, 64)[:, ZIGZAG])

    out = bytearray()
    out += b"\xFF\xD8"
    # 'Adobe' + version(2) + flags0(2) + flags1(2) + transform(1)
    adobe = b"Adobe" + struct.pack(">HHHB", 100, 0, 0, transform)
    out += b"\xFF\xEE" + struct.pack(">H", 2 + len(adobe)) + adobe
    out += b"\xFF\xDB" + struct.pack(">HB", 67, 0) \
        + bytes(int(v) for v in q.reshape(-1)[ZIGZAG])
    sof = struct.pack(">BHHB", 8, h, w, 4)
    for ci in range(4):
        sof += bytes([ci + 1, 0x11, 0])
    out += b"\xFF\xC0" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(cls, tid, bits, vals):
        body = struct.pack("B", (cls << 4) | tid) + bytes(bits) + bytes(vals)
        return b"\xFF\xC4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, DC_LUM_BITS, DC_LUM_VALS)
    out += dht(1, 0, AC_LUM_BITS, AC_LUM_VALS)
    sos = bytes([4]) + b"".join(bytes([ci + 1, 0x00]) for ci in range(4)) \
        + bytes([0, 63, 0])
    out += b"\xFF\xDA" + struct.pack(">H", 2 + len(sos)) + sos

    wtr = _BitWriter()
    preds = [0] * 4
    n_mcu = mcux * mcuy
    for mi in range(n_mcu):
        for ci in range(4):
            preds[ci] = _encode_blocks(
                wtr, comp_coefs[ci][mi:mi + 1],
                _ENC_DC_LUM, _ENC_AC_LUM, preds[ci])
    wtr.flush()
    out += wtr.buf
    out += b"\xFF\xD9"
    return bytes(out)


def encode_jpeg_lossless(arr: np.ndarray, predictor: int = 1,
                         precision: int | None = None) -> bytes:
    """Encode a grayscale integer array losslessly (SOF3, Annex H):
    exact roundtrip, any precision 2..16.  Fixture/archive writer for
    the lossless decode path (and for old-style JPEGProc=14 files)."""
    arr = np.asarray(arr)
    if arr.ndim != 2:
        raise ValueError("encode_jpeg_lossless is grayscale-only")
    if precision is None:
        precision = max(2, int(arr.max(initial=1)).bit_length())
    if not 2 <= precision <= 16:
        raise ValueError("precision must be 2..16")
    if arr.max(initial=0) >= (1 << precision):
        raise ValueError("samples exceed the stated precision")
    h, w = arr.shape
    a = arr.astype(np.int64)
    out = bytearray()
    out += b"\xFF\xD8"
    sof = struct.pack(">BHHB", precision, h, w, 1) + bytes([1, 0x11, 0])
    out += b"\xFF\xC3" + struct.pack(">H", 2 + len(sof)) + sof

    body = struct.pack("B", 0x00) + bytes(_DC12_BITS) + bytes(_DC12_VALS)
    out += b"\xFF\xC4" + struct.pack(">H", 2 + len(body)) + body
    sos = bytes([1, 1, 0x00, predictor, 0, 0])
    out += b"\xFF\xDA" + struct.pack(">H", 2 + len(sos)) + sos

    grid = a[:, :, None]
    wtr = _BitWriter()
    default = 1 << (precision - 1)
    mask16 = (1 << 16) - 1
    for r in range(h):
        for c in range(w):
            pred = _lossless_predict(grid, r, c, 0, predictor, default)
            diff = (int(a[r, c]) - pred) & mask16
            if diff >= 32768:
                diff -= 65536  # signed mod-2^16 representative
            if diff == -32768 or diff == 32768:
                code, ln = _ENC_DC12[16]
                wtr.write(code, ln)
                continue
            s, bits = _magnitude(diff)
            code, ln = _ENC_DC12[s]
            wtr.write(code, ln)
            if s:
                wtr.write(bits, s)
    wtr.flush()
    out += wtr.buf
    out += b"\xFF\xD9"
    return bytes(out)


# ---------------------------------------------------------------------------
# WAV: G.711 mu-law / A-law and IMA ADPCM
# ---------------------------------------------------------------------------

def _law_encoder(decode_fn):
    """Exact table-based encoder: nearest decoded level wins, so
    encode(decode(b)) == b for every byte (mu-law's duplicate zero code
    collapses to its first occurrence)."""
    table = decode_fn(np.arange(256, dtype=np.uint8)).astype(np.int32)
    # for duplicate levels (mu-law's two zeros) prefer the HIGHER byte
    # (0xFF, the industry silence code): sort by (level, -byte)
    order = np.lexsort((-np.arange(256), table))
    levels = table[order]
    uniq, first = np.unique(levels, return_index=True)
    uniq_bytes = order[first].astype(np.uint8)

    def enc(x: np.ndarray) -> np.ndarray:
        x = np.asarray(x, dtype=np.int32).ravel()
        pos = np.searchsorted(uniq, x)
        pos = np.clip(pos, 1, len(uniq) - 1)
        lo, hi = uniq[pos - 1], uniq[pos]
        pick = np.where((x - lo) <= (hi - x), pos - 1, pos)
        return uniq_bytes[pick]
    return enc


def mulaw_encode(x: np.ndarray) -> np.ndarray:
    """int16-scale linear -> u8 (nearest mu-law level, exact inverse
    of mulaw_decode_bytes on representable values)."""
    global _MULAW_ENC
    if _MULAW_ENC is None:
        _MULAW_ENC = _law_encoder(mulaw_decode_bytes)
    return _MULAW_ENC(x)


_MULAW_ENC = None
_ALAW_ENC = None


def alaw_encode(x: np.ndarray) -> np.ndarray:
    """int16-scale linear -> u8 (nearest A-law level, exact inverse of
    alaw_decode_bytes — A-law is a true bijection over all 256 bytes)."""
    global _ALAW_ENC
    if _ALAW_ENC is None:
        _ALAW_ENC = _law_encoder(alaw_decode_bytes)
    return _ALAW_ENC(x)


def ima_adpcm_encode_wav(samples: np.ndarray, sample_rate: int,
                         samples_per_block: int = 505) -> bytes:
    """Mono int16 -> IMA ADPCM WAV (format 0x11, low-nibble-first)."""
    x = np.asarray(samples, dtype=np.int16).astype(np.int32).ravel()
    spb = samples_per_block
    if (spb - 1) % 8:
        raise ValueError("samples_per_block must be 8k+1")
    block_align = 4 + (spb - 1) // 2
    out = bytearray()
    index = 0
    for start in range(0, len(x), spb):
        blk = x[start:start + spb]
        pred = int(blk[0])
        out += struct.pack("<hBB", pred, index, 0)
        nibs = []
        for s in blk[1:]:
            step = int(_IMA_STEPS[index])
            diff = int(s) - pred
            nib = 8 if diff < 0 else 0
            diff = abs(diff)
            if diff >= step:
                nib |= 4
                diff -= step
            if diff >= step >> 1:
                nib |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nib |= 1
            pred, index = _ima_step(pred, index, nib)
            nibs.append(nib)
        while len(nibs) < spb - 1:
            nibs.append(0)  # pad final short block
        for k in range(0, len(nibs), 2):
            out.append(nibs[k] | (nibs[k + 1] << 4))
    data = bytes(out)
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, sample_rate,
                      sample_rate * block_align // spb, block_align, 4,
                      2, spb)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body
