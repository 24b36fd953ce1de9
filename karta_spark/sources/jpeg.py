"""Baseline JPEG codec — pure python + numpy, no imaging libraries.

Implements the public JPEG/JFIF baseline sequential process (ITU-T T.81):
8x8 DCT, Annex-K quantization tables scaled by quality, zigzag, DC
differential + AC run-length, canonical Huffman coding with the Annex-K
typical tables, grayscale or color with 4:4:4 / 4:2:2 / 4:2:0 chroma
subsampling (A.2.3 interleaved MCUs), and restart intervals (DRI +
RST0-7, F.2.1.3.1).  The decoder parses DQT/DHT/SOF0/DRI/SOS from the
stream (it does not assume the encoder's tables) and handles any
sampling factors in {1,2,4} x {1,2,4} — which covers the real-world-
dominant 4:2:0 plus 4:2:2 / 4:1:1 / 4:4:0.  Progressive DCT streams (SOF2, Annex G) decode too: spectral
selection, successive approximation (DC/AC refinement, EOB runs,
in-refinement ZRL) and restarts; encode_jpeg_progressive writes them.

This closes the reference's lossy-imagery arm (karta reads real-world
imagery through GDAL, _gdal.py:114-188): the BASELINE invariant
"decoded-pixel PSNR >= 40 dB for lossy formats" is exercised end-to-end.

Performance notes (this is in the 100k-image bench path):
- DCT/IDCT are single einsum matmuls over all blocks of an image at once;
- Huffman decode uses a 2^16-entry peek LUT per table, cached per executor
  keyed by the DHT payload (identical tables across images build once);
- the entropy loops are per-symbol python, bounded by ~64 symbols/block on
  noise content — microseconds per 8x8 block.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# constants (ITU-T T.81 Annex K)
# ---------------------------------------------------------------------------

QUANT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32).reshape(8, 8)

QUANT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32).reshape(8, 8)

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

DC_LUM_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
DC_LUM_VALS = tuple(range(12))
DC_CHROM_BITS = (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
DC_CHROM_VALS = tuple(range(12))

AC_LUM_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
AC_LUM_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)

AC_CHROM_BITS = (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
AC_CHROM_VALS = (
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)

# orthonormal DCT-II matrix
_k = np.arange(8)
_DCT = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16.0)
_DCT[0] *= np.sqrt(0.5)
_DCT *= 0.5  # sqrt(2/8)
_DCT_T = np.ascontiguousarray(_DCT.T)


def _canonical_codes(bits, vals):
    """(value -> (code, length)) canonical Huffman assignment (T.81 C.2)."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes

_ENC_DC_LUM = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
_ENC_DC_CHROM = _canonical_codes(DC_CHROM_BITS, DC_CHROM_VALS)
_ENC_AC_LUM = _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)
_ENC_AC_CHROM = _canonical_codes(AC_CHROM_BITS, AC_CHROM_VALS)


def scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of a base quantization table."""
    quality = max(1, min(100, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | code
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.buf.append(b)
            if b == 0xFF:          # byte stuffing
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s


def _magnitude(v: int):
    """(category, appended bits) for a DC diff / AC coefficient (F.1.2)."""
    if v == 0:
        return 0, 0
    a = v if v > 0 else -v
    s = a.bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


def _encode_blocks(w: _BitWriter, coefs: np.ndarray, dc_tab, ac_tab, pred: int) -> int:
    """Entropy-encode zigzagged (nb, 64) int blocks; returns new DC pred."""
    for blk in coefs:
        dc = int(blk[0])
        s, bits = _magnitude(dc - pred)
        pred = dc
        c, ln = dc_tab[s]
        w.write(c, ln)
        if s and s < 16:
            # category 16 (DIFF=32768, 12-bit only) has NO appended bits
            w.write(bits, s)
        run = 0
        nz = np.nonzero(blk[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(blk[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_tab[0xF0]  # ZRL
                w.write(c, ln)
                run -= 16
            s, bits = _magnitude(v)
            c, ln = ac_tab[(run << 4) | s]
            w.write(c, ln)
            w.write(bits, s)
            run = 0
        if last < 63:
            c, ln = ac_tab[0x00]  # EOB
            w.write(c, ln)
    return pred


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) float -> (nb, 8, 8) with edge-replicate padding to 8-multiples."""
    h, w = plane.shape
    ph, pw = (-h) % 8, (-w) % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    H, W = plane.shape
    return (plane.reshape(H // 8, 8, W // 8, 8)
            .transpose(0, 2, 1, 3).reshape(-1, 8, 8))


#: (h, v) sampling factors per component, luma first (A.1.1 notation)
_SUBSAMPLING = {
    "444": ((1, 1), (1, 1), (1, 1)),
    "422": ((2, 1), (1, 1), (1, 1)),
    "420": ((2, 2), (1, 1), (1, 1)),
    "411": ((4, 1), (1, 1), (1, 1)),  # DV / camera-JPEG shape
    "440": ((1, 2), (1, 1), (1, 1)),
}


def _box_downsample(plane: np.ndarray, fx: int, fy: int) -> np.ndarray:
    """Box-average a plane by integer factors (edge-pad to multiples)."""
    if fx == 1 and fy == 1:
        return plane
    h, w = plane.shape
    ph, pw = (-h) % fy, (-w) % fx
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    H, W = plane.shape
    return plane.reshape(H // fy, fy, W // fx, fx).mean(axis=(1, 3))


def _pad_to(plane: np.ndarray, H: int, W: int) -> np.ndarray:
    h, w = plane.shape
    if h == H and w == W:
        return plane
    return np.pad(plane, ((0, H - h), (0, W - w)), mode="edge")


def _quantize_planes(arr: np.ndarray, quality: int, subsampling: str):
    """Shared encoder front half: color transform, downsample, DCT,
    quantize, zigzag.  Returns (gray, samp, h, w, mcux, mcuy, qtabs,
    comp_coefs) with comp_coefs[ci] zigzag-ordered (nb, 64) int64."""
    arr = np.asarray(arr)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if gray:
        planes = [arr.astype(np.float64) - 128.0]
        samp = ((1, 1),)
    else:
        r = arr[:, :, 0].astype(np.float64)
        g = arr[:, :, 1].astype(np.float64)
        b = arr[:, :, 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y - 128.0, cb - 128.0, cr - 128.0]
        if subsampling not in _SUBSAMPLING:
            raise ValueError(f"unsupported subsampling {subsampling!r}")
        samp = _SUBSAMPLING[subsampling]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    qlum = scaled_quant(QUANT_LUM, quality)
    qchrom = scaled_quant(QUANT_CHROM, quality)
    qtabs = [qlum] + ([qchrom] if not gray else [])

    # per component: downsample, pad to the MCU grid, DCT all blocks at
    # once, zigzag; comp_coefs[ci] is (blocks_y, blocks_x) raster order
    comp_coefs = []
    for ci, p in enumerate(planes):
        hi, vi = samp[ci]
        ds = _box_downsample(p, hmax // hi, vmax // vi)
        ds = _pad_to(ds, mcuy * vi * 8, mcux * hi * 8)
        blocks = _to_blocks(ds)
        q = qlum if ci == 0 else qchrom
        d = np.einsum("ij,njk,lk->nil", _DCT, blocks, _DCT)
        coefs = np.round(d / q).astype(np.int64)
        comp_coefs.append(coefs.reshape(-1, 64)[:, ZIGZAG])
    return gray, samp, h, w, mcux, mcuy, qtabs, comp_coefs


def encode_jpeg_baseline(arr: np.ndarray, quality: int = 95,
                         subsampling: str = "444",
                         restart_interval: int = 0) -> bytes:
    """Encode gray8 (H,W) or RGB8 (H,W,3) to baseline JFIF.

    ``subsampling``: '444' (no chroma subsampling), '422' (2x1) or '420'
    (2x2 box-averaged chroma) — the real-world-dominant shape; ignored
    for grayscale.  ``restart_interval`` > 0 emits a DRI marker and an
    RSTn marker every that many MCUs (byte-aligned, DC predictors reset)
    — the stream-resynchronization feature real encoders use."""
    gray, samp, h, w, mcux, mcuy, qtabs, comp_coefs = _quantize_planes(
        arr, quality, subsampling)
    ncomp = len(comp_coefs)

    out = bytearray()
    out += b"\xFF\xD8"  # SOI
    out += (b"\xFF\xE0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x01\x01"
            + b"\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00")
    for ti, q in enumerate(qtabs):
        out += b"\xFF\xDB" + struct.pack(">HB", 67, ti) \
            + bytes(int(v) for v in q.reshape(-1)[ZIGZAG])
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hi, vi = samp[ci]
        sof += struct.pack("BBB", ci + 1, (hi << 4) | vi,
                           0 if ci == 0 else 1)
    out += b"\xFF\xC0" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(cls, tid, bits, vals):
        body = struct.pack("B", (cls << 4) | tid) + bytes(bits) + bytes(vals)
        return b"\xFF\xC4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, DC_LUM_BITS, DC_LUM_VALS)
    out += dht(1, 0, AC_LUM_BITS, AC_LUM_VALS)
    if not gray:
        out += dht(0, 1, DC_CHROM_BITS, DC_CHROM_VALS)
        out += dht(1, 1, AC_CHROM_BITS, AC_CHROM_VALS)

    if restart_interval:
        out += b"\xFF\xDD" + struct.pack(">HH", 4, restart_interval)

    sos = struct.pack("B", ncomp)
    for ci in range(ncomp):
        sos += struct.pack("BB", ci + 1, 0x00 if ci == 0 else 0x11)
    sos += b"\x00\x3F\x00"
    out += b"\xFF\xDA" + struct.pack(">H", 2 + len(sos)) + sos

    wtr = _BitWriter()
    preds = [0] * ncomp
    enc_dc = [_ENC_DC_LUM] + [_ENC_DC_CHROM] * (ncomp - 1)
    enc_ac = [_ENC_AC_LUM] + [_ENC_AC_CHROM] * (ncomp - 1)
    n_mcu = mcux * mcuy
    since_restart = 0
    rst_n = 0
    for mi in range(n_mcu):  # interleaved MCUs (A.2.3 ordering)
        if restart_interval and since_restart == restart_interval:
            wtr.flush()
            wtr.buf += bytes((0xFF, 0xD0 + rst_n))
            rst_n = (rst_n + 1) % 8
            preds = [0] * ncomp
            since_restart = 0
        my, mx = divmod(mi, mcux)
        for ci in range(ncomp):
            hi, vi = samp[ci]
            bw = mcux * hi
            for by in range(vi):
                for bx in range(hi):
                    bi = (my * vi + by) * bw + (mx * hi + bx)
                    preds[ci] = _encode_blocks(
                        wtr, comp_coefs[ci][bi:bi + 1],
                        enc_dc[ci], enc_ac[ci], preds[ci])
        since_restart += 1
    wtr.flush()
    out += wtr.buf
    out += b"\xFF\xD9"  # EOI
    return bytes(out)


def cmyk_to_rgb(cmyk: np.ndarray) -> np.ndarray:
    """Naive (uncalibrated) CMYK -> RGB: r = (1-c)(1-k) etc. — the
    no-ICC-profile conversion every non-color-managed reader applies."""
    f = cmyk.astype(np.float64) / 255.0
    c, m, y, k = (f[:, :, i] for i in range(4))
    rgb = np.stack([(1 - c) * (1 - k), (1 - m) * (1 - k),
                    (1 - y) * (1 - k)], axis=2)
    return np.clip(np.round(rgb * 255.0), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# lossless JPEG (SOF3, T.81 Annex H) — predictive coding, no DCT.
# The format old aerial/medical archives carry (and what old-style
# JPEG-in-TIFF JPEGProc=14 means); the reference reads it via GDAL.
# ---------------------------------------------------------------------------

def _lossless_predict(out, r, c, ci, pred_sel, default):
    """H.1.2.1 prediction: Ra=left, Rb=above, Rc=above-left; edges fall
    back per H.1.2.2 (first sample -> default, first row -> Ra chain,
    first column -> Rb)."""
    if r == 0 and c == 0:
        return default
    if r == 0:
        return int(out[0, c - 1, ci])
    if c == 0:
        return int(out[r - 1, 0, ci])
    ra = int(out[r, c - 1, ci])
    rb = int(out[r - 1, c, ci])
    rc = int(out[r - 1, c - 1, ci])
    if pred_sel == 1:
        return ra
    if pred_sel == 2:
        return rb
    if pred_sel == 3:
        return rc
    if pred_sel == 4:
        return ra + rb - rc
    if pred_sel == 5:
        return ra + ((rb - rc) >> 1)
    if pred_sel == 6:
        return rb + ((ra - rc) >> 1)
    if pred_sel == 7:
        return (ra + rb) >> 1
    raise NotImplementedError(f"lossless predictor {pred_sel}")


def _decode_lossless(data: bytes) -> np.ndarray:
    """Decode an SOF3 lossless stream: per-sample Huffman category +
    magnitude bits give a difference from the H.1.2 prediction, modulo
    2^16.  Components must be 1x1 sampled (the only shape archives
    carry); restarts reset the prediction state."""
    pos = 2
    huff: dict[tuple, tuple] = {}
    comps = []
    h = w = 0
    prec = 8
    restart_interval = 0
    scan_comps = []
    pred_sel = 1
    pt = 0
    scan_start = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + seglen]
        if marker == 0xC3:
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            for ci in range(nc):
                cid, hv, _tq = body[6 + ci * 3:9 + ci * 3]
                if hv != 0x11:
                    raise NotImplementedError(
                        "lossless JPEG with subsampled components")
                comps.append(cid)
        elif marker == 0xC4:
            off = 0
            while off < len(body):
                tc_th = body[off]
                bits = tuple(body[off + 1:off + 17])
                nv = sum(bits)
                vals = tuple(body[off + 17:off + 17 + nv])
                huff[(tc_th >> 4, tc_th & 0xF)] = _decode_lut(bits, vals)
                off += 17 + nv
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            ns = body[0]
            for ci in range(ns):
                cid, tabs = body[1 + ci * 2], body[2 + ci * 2]
                scan_comps.append((cid, tabs >> 4))
            pred_sel = body[1 + ns * 2]       # Ss = predictor selector
            pt = body[3 + ns * 2] & 0xF       # Al = point transform
            scan_start = pos + seglen
            break
        pos += seglen
    if scan_start is None:
        raise ValueError("no SOS in stream")
    raw, boundaries, _ = _destuff_scan(data, scan_start)
    raw = bytes(raw)

    nc = len(comps)
    tabs = []
    comp_dc = dict(scan_comps)
    for cid in comps:
        tabs.append(huff[(0, comp_dc[cid])])
    out = np.zeros((h, w, nc), dtype=np.int32)
    default = 1 << (prec - 1 - pt)
    dlen = len(raw)
    pos = 0
    acc = 0
    navail = 0
    seg = 0
    since_restart = 0
    mask16 = (1 << 16) - 1
    fresh = True  # scan start / post-restart: prediction = default (H.2.4)
    for r in range(h):
        for c in range(w):
            if restart_interval and since_restart == restart_interval:
                if seg >= len(boundaries):
                    raise ValueError("missing RST in lossless stream")
                pos = boundaries[seg]
                seg += 1
                acc = navail = 0
                since_restart = 0
                fresh = True
            for ci in range(nc):
                dsym, dln = tabs[ci]
                while navail < 16 and pos < dlen:
                    acc = (acc << 8) | raw[pos]
                    pos += 1
                    navail += 8
                if navail < 16:
                    acc <<= (16 - navail)
                    navail = 16
                peek = (acc >> (navail - 16)) & 0xFFFF
                s = dsym[peek]
                ln = dln[peek]
                if ln == 0:
                    raise ValueError("bad lossless Huffman code")
                navail -= ln
                if s == 16:
                    diff = 32768
                elif s:
                    while navail < s and pos < dlen:
                        acc = (acc << 8) | raw[pos]
                        pos += 1
                        navail += 8
                    if navail < s:
                        acc <<= (s - navail)
                        navail = s
                    v = (acc >> (navail - s)) & ((1 << s) - 1)
                    navail -= s
                    diff = v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                else:
                    diff = 0
                pred = default if fresh else _lossless_predict(
                    out, r, c, ci, pred_sel, default)
                out[r, c, ci] = (pred + diff) & mask16
            fresh = False
            since_restart += 1
    out = (out << pt).astype(np.uint16 if prec > 8 else np.uint8)
    return out[:, :, 0] if nc == 1 else out


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

_LUT_CACHE: dict[bytes, tuple] = {}


def _decode_lut(bits, vals):
    """2^16 peek LUT: idx -> (symbol, code length) as plain python lists
    (list indexing beats numpy scalar extraction in the per-symbol loop).
    Cached by payload."""
    key = bytes(bits) + bytes(vals)
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    sym = np.zeros(1 << 16, dtype=np.int32)
    ln = np.zeros(1 << 16, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            sym[lo:hi] = vals[k]
            ln[lo:hi] = length
            code += 1
            k += 1
        code <<= 1
    out = (sym.tolist(), ln.tolist())
    _LUT_CACHE[key] = out
    return out


def decode_jpeg_baseline(data: bytes) -> np.ndarray:
    """Decode baseline sequential JFIF: grayscale or color with any
    sampling factors in {1,2}x{1,2} (4:4:4 / 4:2:2 / 4:2:0 / 4:4:0),
    restart intervals (DRI + RST0-7), Huffman tables read from the
    stream.  Subsampled chroma is upsampled by sample replication."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple, tuple] = {}
    comps = []  # (cid, hi, vi, tq)
    h = w = 0
    prec = 8
    restart_interval = 0
    adobe_transform = None  # APP14 color-transform flag (None = no APP14)
    scan_comps = []
    scan_start = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + seglen]
        if marker == 0xDB:
            off = 0
            while off < len(body):
                pq_tq = body[off]
                if pq_tq >> 4:  # Pq=1: 16-bit big-endian table entries
                    q = np.frombuffer(body[off + 1:off + 129], dtype=">u2")
                    off += 129
                else:
                    q = np.frombuffer(body[off + 1:off + 65], dtype=np.uint8)
                    off += 65
                qtabs[pq_tq & 0xF] = q[UNZIGZAG].reshape(8, 8).astype(np.int32)
        elif marker in (0xC0, 0xC1):
            # SOF1 (extended sequential) uses the identical decode
            # process as baseline; precision 12 (T.81 extended) only
            # changes the level shift / clamp (handled in _reconstruct)
            # and lets DC categories run to 16 / AC to 14 (the Huffman
            # LUT path is category-agnostic)
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec not in (8, 12):
                raise NotImplementedError(
                    f"precision {prec} (8 and 12 supported)")
            for ci in range(nc):
                cid, hv, tq = body[6 + ci * 3:9 + ci * 3]
                hi, vi = hv >> 4, hv & 0xF
                if hi not in (1, 2, 4) or vi not in (1, 2, 4):
                    raise NotImplementedError(
                        f"sampling factors {hi}x{vi} (only 1/2/4)")
                comps.append((cid, hi, vi, tq))
        elif marker == 0xC2:
            return _decode_progressive(data)
        elif marker == 0xC3:
            return _decode_lossless(data)
        elif marker == 0xC4:
            off = 0
            while off < len(body):
                tc_th = body[off]
                bits = tuple(body[off + 1:off + 17])
                nv = sum(bits)
                vals = tuple(body[off + 17:off + 17 + nv])
                huff[(tc_th >> 4, tc_th & 0xF)] = _decode_lut(bits, vals)
                off += 17 + nv
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xEE and body[:5] == b"Adobe":
            # APP14: ...version(2) flags0(2) flags1(2) transform(1)
            adobe_transform = body[11]
        elif marker == 0xDA:
            ns = body[0]
            for ci in range(ns):
                cid, tabs = body[1 + ci * 2], body[2 + ci * 2]
                scan_comps.append((cid, tabs >> 4, tabs & 0xF))
            scan_start = pos + seglen
            break
        pos += seglen
    if scan_start is None:
        raise ValueError("no SOS in stream")

    # de-stuff entropy-coded bytes up to EOI; RST0-7 markers become
    # byte-aligned segment boundaries (restart = reset bit phase + DC
    # predictors at the boundary).  Marker positions come from one numpy
    # scan and stuffed 0xFF00 pairs collapse via bytes.replace — the
    # former per-byte python loop (~800 bytearray.appends on a small
    # image) was ~15% of the whole decode.
    boundaries = []  # raw offsets where a restart segment begins
    parts = []
    raw_len = 0
    arr = np.frombuffer(data, dtype=np.uint8)
    cur = scan_start
    end = len(data)
    for fpos in (np.flatnonzero(arr[scan_start:len(data) - 1] == 0xFF)
                 + scan_start):
        if fpos < cur:
            continue  # inside a consumed 0xFF00 / RST pair
        nxt = data[fpos + 1]
        if nxt == 0x00:
            continue  # stuffed data byte — replace() collapses it below
        if 0xD0 <= nxt <= 0xD7:  # RSTn
            seg = data[cur:fpos].replace(b"\xff\x00", b"\xff")
            parts.append(seg)
            raw_len += len(seg)
            boundaries.append(raw_len)
            cur = fpos + 2
            continue
        end = fpos  # EOI or another marker
        break
    else:
        # no terminating marker: a lone trailing 0xFF acts as one (the
        # sequential reader treated nxt-past-EOF as EOI)
        if end > cur and data[end - 1] == 0xFF:
            end -= 1
    parts.append(data[cur:end].replace(b"\xff\x00", b"\xff"))
    raw = b"".join(parts)

    # inlined bit reader: pure-int locals, one symbol = one peek + masked
    # consume — method-call and numpy-scalar overhead dominates otherwise
    data = bytes(raw)
    dlen = len(data)
    pos = 0
    acc = 0
    navail = 0
    nc = len(comps)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    coefs = [np.zeros((mcuy * vi * mcux * hi, 64), dtype=np.int32)
             for _, hi, vi, _ in comps]
    preds = [0] * nc
    comp_tabs = {cid: (dc, ac) for cid, dc, ac in scan_comps}
    tabs = []
    for cid, hi, vi, tq in comps:
        dc_t, ac_t = comp_tabs[cid]
        tabs.append((huff[(0, dc_t)], huff[(1, ac_t)]))
    # flat per-MCU block schedule: (ci, block-index offset fn inputs)
    sched = []
    for ci, (_, hi, vi, _) in enumerate(comps):
        for by in range(vi):
            for bx in range(hi):
                sched.append((ci, hi, vi, by, bx))
    n_mcu = mcux * mcuy
    since_restart = 0
    seg = 0
    for mi in range(n_mcu):
        if restart_interval and since_restart == restart_interval:
            if seg >= len(boundaries):
                raise ValueError("missing RST marker in entropy stream")
            pos = boundaries[seg]
            seg += 1
            acc = 0
            navail = 0
            preds = [0] * nc
            since_restart = 0
        my, mx = divmod(mi, mcux)
        for ci, hi, vi, by, bx in sched:
            bi = (my * vi + by) * (mcux * hi) + (mx * hi + bx)
            (dsym, dln), (asym, aln) = tabs[ci]
            # refills pull 4 bytes at once (one slice + int.from_bytes
            # instead of up to four shift-or iterations); the byte-wise
            # tail only runs within 4 bytes of the stream end
            if navail < 16:
                if pos + 4 <= dlen:
                    acc = (acc << 32) | int.from_bytes(
                        data[pos:pos + 4], "big")
                    pos += 4
                    navail += 32
                else:
                    while navail < 16:
                        acc = (acc << 8) | (data[pos] if pos < dlen else 0)
                        pos += 1
                        navail += 8
            p = (acc >> (navail - 16)) & 0xFFFF
            s = dsym[p]
            navail -= dln[p]
            if s == 16:
                # T.81 F.1.2.1.1: in 12-bit streams DC category 16 means
                # DIFF = 32768 with NO appended magnitude bits.
                preds[ci] += 32768
            elif s:
                if navail < s:
                    if pos + 4 <= dlen:
                        acc = (acc << 32) | int.from_bytes(
                            data[pos:pos + 4], "big")
                        pos += 4
                        navail += 32
                    else:
                        while navail < s:
                            acc = (acc << 8) | (data[pos] if pos < dlen
                                                else 0)
                            pos += 1
                            navail += 8
                v = (acc >> (navail - s)) & ((1 << s) - 1)
                navail -= s
                preds[ci] += v - (1 << s) + 1 if v < (1 << (s - 1)) else v
            acc &= (1 << navail) - 1
            blk = [0] * 64
            blk[0] = preds[ci]
            k = 1
            while k < 64:
                if navail < 16:
                    if pos + 4 <= dlen:
                        acc = (acc << 32) | int.from_bytes(
                            data[pos:pos + 4], "big")
                        pos += 4
                        navail += 32
                    else:
                        while navail < 16:
                            acc = (acc << 8) | (data[pos] if pos < dlen
                                                else 0)
                            pos += 1
                            navail += 8
                p = (acc >> (navail - 16)) & 0xFFFF
                rs = asym[p]
                navail -= aln[p]
                acc &= (1 << navail) - 1
                if rs == 0x00:     # EOB
                    break
                if rs == 0xF0:     # ZRL
                    k += 16
                    continue
                k += rs >> 4
                s = rs & 0xF
                if navail < s:
                    if pos + 4 <= dlen:
                        acc = (acc << 32) | int.from_bytes(
                            data[pos:pos + 4], "big")
                        pos += 4
                        navail += 32
                    else:
                        while navail < s:
                            acc = (acc << 8) | (data[pos] if pos < dlen
                                                else 0)
                            pos += 1
                            navail += 8
                v = (acc >> (navail - s)) & ((1 << s) - 1)
                navail -= s
                acc &= (1 << navail) - 1
                if k > 63:
                    break
                blk[k] = v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                k += 1
            coefs[ci][bi] = blk
        since_restart += 1

    return _reconstruct(comps, coefs, qtabs, h, w, mcux, mcuy, hmax, vmax,
                        prec, adobe_transform)


def _reconstruct(comps, coefs, qtabs, h, w, mcux, mcuy, hmax, vmax,
                 prec: int = 8, adobe_transform: int | None = None):
    """Zigzag coefficient grids -> dequantize -> IDCT -> upsample ->
    color-convert.  Shared by the baseline and progressive decoders.
    ``prec`` sets the level shift / clamp / dtype: 8 -> uint8 0..255,
    12 -> uint16 0..4095 (T.81 extended sequential precision).
    Four components are Adobe CMYK: ``adobe_transform`` 2 (YCCK)
    inverse-transforms CMY through the YCbCr algebra, 0/None is direct;
    Adobe stores ink-inverted values, so the result is un-inverted to
    (H, W, 4) CMYK with 255 = full ink."""
    mid = float(1 << (prec - 1))
    top = (1 << prec) - 1
    out_dtype = np.uint8 if prec == 8 else np.uint16
    planes = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        dq = coefs[ci][:, UNZIGZAG].reshape(-1, 8, 8).astype(np.float64) * qtabs[tq]
        # two-stage batched matmul (BLAS) instead of generic einsum: same
        # per-block algebra, ~20x faster on many small blocks (r8); the
        # batch kernel reconstructs identically so batch==scalar holds
        blocks = np.matmul(np.matmul(_DCT_T, dq), _DCT)
        ch = mcuy * vi * 8
        cw = mcux * hi * 8
        full = (blocks.reshape(ch // 8, cw // 8, 8, 8)
                .transpose(0, 2, 1, 3).reshape(ch, cw))
        fy, fx = vmax // vi, hmax // hi
        if fy > 1 or fx > 1:  # sample-replication upsample to full res
            full = np.repeat(np.repeat(full, fy, axis=0), fx, axis=1)
        planes.append(full[:h, :w] + mid)

    if len(comps) == 1:
        return np.clip(np.round(planes[0]), 0, top).astype(out_dtype)
    if len(comps) == 4:
        if adobe_transform == 2:  # YCCK: YCbCr algebra over inverted CMY
            y, cb, cr = planes[0], planes[1] - mid, planes[2] - mid
            c = y + 1.402 * cr
            m = y - 0.344136 * cb - 0.714136 * cr
            ye = y + 1.772 * cb
            stacked = np.stack([c, m, ye, planes[3]], axis=2)
        else:  # transform 0/None: stored directly
            stacked = np.stack(planes, axis=2)
        vals = np.clip(np.round(stacked), 0, top)
        if adobe_transform is None:
            # libjpeg convention: only Adobe-marked (APP14) 4-component
            # JPEGs carry inverted ink values; pass others through.
            return vals.astype(out_dtype)
        return (top - vals).astype(out_dtype)  # un-invert Adobe ink values
    y, cb, cr = planes[0], planes[1] - mid, planes[2] - mid
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=2)),
                   0, top).astype(out_dtype)


# ---------------------------------------------------------------------------
# progressive JPEG (SOF2, T.81 Annex G) — spectral selection + successive
# approximation, DC/AC first and refinement scans, EOB runs, restarts
# ---------------------------------------------------------------------------

def _destuff_scan(data: bytes, start: int):
    """De-stuff one scan's entropy bytes from *start* until the next
    non-RST marker.  Returns (raw, rst_boundaries, end_pos) where
    end_pos indexes the terminating 0xFF.

    Same vectorized form as the baseline decoder: one numpy marker scan,
    0xFF00 pairs collapsed by bytes.replace, RST boundaries from segment
    lengths — no per-byte python loop."""
    boundaries = []
    parts = []
    raw_len = 0
    n = len(data)
    arr = np.frombuffer(data, dtype=np.uint8)
    cur = start
    end = n
    for fpos in np.flatnonzero(arr[start:n - 1] == 0xFF) + start:
        if fpos < cur:
            continue  # inside a consumed 0xFF00 / RST pair
        nxt = data[fpos + 1]
        if nxt == 0x00:
            continue  # stuffed data byte — replace() collapses it below
        if 0xD0 <= nxt <= 0xD7:  # RSTn
            seg = data[cur:fpos].replace(b"\xff\x00", b"\xff")
            parts.append(seg)
            raw_len += len(seg)
            boundaries.append(raw_len)
            cur = fpos + 2
            continue
        end = fpos  # terminating marker
        break
    else:
        # no terminator found: a lone trailing 0xFF acts as one (the
        # sequential reader treated nxt-past-EOF as EOI)
        if end > cur and data[end - 1] == 0xFF:
            end -= 1
    parts.append(data[cur:end].replace(b"\xff\x00", b"\xff"))
    return b"".join(parts), boundaries, end


class _ScanBits:
    """Bit reader over a de-stuffed scan; restart() realigns to the
    next RST segment and is the caller's cue to reset DC preds/EOBRUN."""

    __slots__ = ("data", "boundaries", "seg", "pos", "acc", "n")

    def __init__(self, raw: bytes, boundaries):
        self.data = raw
        self.boundaries = boundaries
        self.seg = 0
        self.pos = 0
        self.acc = 0
        self.n = 0

    def restart(self):
        if self.seg >= len(self.boundaries):
            raise ValueError("missing RST marker in progressive scan")
        self.pos = self.boundaries[self.seg]
        self.seg += 1
        self.acc = 0
        self.n = 0

    def _refill(self, k: int):
        # pull 4 bytes at once (one slice + int.from_bytes) — byte-wise
        # only within 4 bytes of the stream end (same as the baseline
        # decoder's inlined reader)
        if self.pos + 4 <= len(self.data):
            self.acc = (self.acc << 32) | int.from_bytes(
                self.data[self.pos:self.pos + 4], "big")
            self.pos += 4
            self.n += 32
        else:
            while self.n < k:
                self.acc = (self.acc << 8) | (
                    self.data[self.pos] if self.pos < len(self.data) else 0)
                self.pos += 1
                self.n += 8

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        if self.n < k:
            self._refill(k)
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.n -= k
        self.acc &= (1 << self.n) - 1
        return v

    def huff(self, lut) -> int:
        sym, ln = lut
        if self.n < 16:
            self._refill(16)
        p = (self.acc >> (self.n - 16)) & 0xFFFF
        self.n -= ln[p]
        self.acc &= (1 << self.n) - 1
        return sym[p]


def _extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if v < (1 << (s - 1)) else v


def _decode_progressive(data: bytes) -> np.ndarray:
    """Progressive DCT decode (T.81 Annex G): accumulate coefficients
    across scans, then reconstruct once.  Supports interleaved DC scans,
    non-interleaved DC/AC scans, successive approximation (DC/AC
    refinement with EOB runs and in-refinement ZRL), and restarts."""
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple, tuple] = {}
    comps = []  # (cid, hi, vi, tq)
    h = w = 0
    prec = 8
    restart_interval = 0
    hmax = vmax = mcux = mcuy = 1
    coefs: list[np.ndarray] = []
    eobrun = 0

    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + seglen]
        if marker == 0xDB:
            off = 0
            while off < len(body):
                pq_tq = body[off]
                if pq_tq >> 4:  # Pq=1: 16-bit big-endian table entries
                    q = np.frombuffer(body[off + 1:off + 129], dtype=">u2")
                    off += 129
                else:
                    q = np.frombuffer(body[off + 1:off + 65], dtype=np.uint8)
                    off += 65
                qtabs[pq_tq & 0xF] = q[UNZIGZAG].reshape(8, 8).astype(np.int32)
        elif marker == 0xC2:
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec not in (8, 12):
                raise NotImplementedError(
                    f"precision {prec} (8 and 12 supported)")
            for ci in range(nc):
                cid, hv, tq = body[6 + ci * 3:9 + ci * 3]
                hi, vi = hv >> 4, hv & 0xF
                if hi not in (1, 2, 4) or vi not in (1, 2, 4):
                    raise NotImplementedError(
                        f"sampling factors {hi}x{vi} (only 1/2/4)")
                comps.append((cid, hi, vi, tq))
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            coefs = [np.zeros((mcuy * vi * mcux * hi, 64), dtype=np.int32)
                     for _, hi, vi, _ in comps]
        elif marker == 0xC4:
            off = 0
            while off < len(body):
                tc_th = body[off]
                bits = tuple(body[off + 1:off + 17])
                nv = sum(bits)
                vals = tuple(body[off + 17:off + 17 + nv])
                huff[(tc_th >> 4, tc_th & 0xF)] = _decode_lut(bits, vals)
                off += 17 + nv
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            ns = body[0]
            scan = []
            for ci in range(ns):
                cid, tabs = body[1 + ci * 2], body[2 + ci * 2]
                idx = next(i for i, c in enumerate(comps) if c[0] == cid)
                scan.append((idx, tabs >> 4, tabs & 0xF))
            ss, se, ahal = body[1 + ns * 2:4 + ns * 2]
            ah, al = ahal >> 4, ahal & 0xF
            raw, bounds, end = _destuff_scan(data, pos + seglen)
            _decode_prog_scan(
                _ScanBits(raw, bounds), scan, ss, se, ah, al, comps, coefs,
                huff, mcux, mcuy, hmax, vmax, w, h, restart_interval)
            pos = end
            continue
        pos += seglen

    if not comps:
        raise ValueError("no SOF2 frame in stream")
    return _reconstruct(comps, coefs, qtabs, h, w, mcux, mcuy, hmax, vmax,
                        prec=prec)


def _decode_prog_scan(br, scan, ss, se, ah, al, comps, coefs, huff,
                      mcux, mcuy, hmax, vmax, w, h, restart_interval):
    """One progressive scan into the coefficient grids (zigzag order)."""
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        _decode_prog_dc(br, scan, ah, al, comps, coefs, huff,
                        mcux, mcuy, hmax, vmax, w, h, restart_interval)
    else:
        if len(scan) != 1:
            raise ValueError("progressive AC scan must be single-component")
        _decode_prog_ac(br, scan[0], ss, se, ah, al, comps, coefs, huff,
                        mcux, mcuy, hmax, vmax, w, h, restart_interval)


def _comp_block_grid(comps, ci, mcux, mcuy, hmax, vmax, w, h):
    """Non-interleaved (single-component-scan) block grid of component
    *ci*: true ceil dims (A.2.2), plus the padded storage row stride."""
    _, hi, vi, _ = comps[ci]
    cbw = ((w * hi + hmax - 1) // hmax + 7) // 8
    cbh = ((h * vi + vmax - 1) // vmax + 7) // 8
    return cbw, cbh, mcux * hi


def _decode_prog_dc(br, scan, ah, al, comps, coefs, huff,
                    mcux, mcuy, hmax, vmax, w, h, restart_interval):
    preds = [0] * len(scan)
    since = 0
    if len(scan) > 1:
        if len(scan) != len(comps):
            raise NotImplementedError("partial-interleave DC scan")
        sched = []
        for si, (ci, td, ta) in enumerate(scan):
            _, hi, vi, _ = comps[ci]
            for by in range(vi):
                for bx in range(hi):
                    sched.append((si, ci, hi, vi, by, bx))
        for mi in range(mcux * mcuy):
            if restart_interval and since == restart_interval:
                br.restart()
                preds = [0] * len(scan)
                since = 0
            my, mx = divmod(mi, mcux)
            for si, ci, hi, vi, by, bx in sched:
                bi = (my * vi + by) * (mcux * hi) + (mx * hi + bx)
                _dc_unit(br, scan[si], si, ci, bi, ah, al, coefs, huff, preds)
            since += 1
    else:
        ci = scan[0][0]
        cbw, cbh, stride = _comp_block_grid(comps, ci, mcux, mcuy,
                                            hmax, vmax, w, h)
        for k in range(cbw * cbh):
            if restart_interval and since == restart_interval:
                br.restart()
                preds = [0]
                since = 0
            by, bx = divmod(k, cbw)
            _dc_unit(br, scan[0], 0, ci, by * stride + bx, ah, al,
                     coefs, huff, preds)
            since += 1


def _dc_unit(br, scomp, si, ci, bi, ah, al, coefs, huff, preds):
    if ah == 0:  # first DC scan: baseline diff coding, values in 2^Al units
        s = br.huff(huff[(0, scomp[1])])
        if s == 16:  # 12-bit DC category 16: DIFF=32768, NO bits (F.1.2.1.1)
            diff = 32768
        else:
            diff = _extend(br.bits(s), s) if s else 0
        preds[si] += diff
        coefs[ci][bi, 0] = preds[si] << al
    else:        # refinement: one raw bit
        if br.bits(1):
            coefs[ci][bi, 0] |= (1 << al)


def _decode_prog_ac(br, scomp, ss, se, ah, al, comps, coefs, huff,
                    mcux, mcuy, hmax, vmax, w, h, restart_interval):
    ci, _, ta = scomp
    lut = huff[(1, ta)]
    cbw, cbh, stride = _comp_block_grid(comps, ci, mcux, mcuy,
                                        hmax, vmax, w, h)
    grid = coefs[ci]
    eobrun = 0
    since = 0
    for u in range(cbw * cbh):
        if restart_interval and since == restart_interval:
            br.restart()
            eobrun = 0
            since = 0
        since += 1
        by, bx = divmod(u, cbw)
        blk = grid[by * stride + bx]
        if ah == 0:
            # ----- AC first scan (G.1.2.2) -----
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = br.huff(lut)
                r, s = rs >> 4, rs & 0xF
                if s == 0:
                    if r == 15:        # ZRL
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.bits(r)
                    break
                k += r
                if k > se:
                    break
                blk[k] = _extend(br.bits(s), s) << al
                k += 1
        else:
            # ----- AC refinement scan (G.1.2.3) -----
            p1 = 1 << al
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = br.huff(lut)
                    r, s = rs >> 4, rs & 0xF
                    if s == 0 and r < 15:
                        # unlike the first-scan formula, the CURRENT
                        # block is part of the run here: its remaining
                        # nonzero coefs get correction bits in the
                        # eobrun block below, which consumes one
                        eobrun = (1 << r)
                        if r:
                            eobrun += br.bits(r)
                        break
                    val = 0
                    if s:
                        # s must be 1 in a refinement scan
                        val = p1 if br.bits(1) else -p1
                    # advance over r zero-history coefs, correcting
                    # nonzero-history coefs on the way
                    while k <= se:
                        c = int(blk[k])
                        if c != 0:
                            if br.bits(1) and (abs(c) & p1) == 0:
                                blk[k] = c + (p1 if c >= 0 else -p1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if val != 0 and k <= se:
                        blk[k] = val
                    k += 1
            if eobrun > 0:
                while k <= se:
                    c = int(blk[k])
                    if c != 0:
                        if br.bits(1) and (abs(c) & p1) == 0:
                            blk[k] = c + (p1 if c >= 0 else -p1)
                    k += 1
                eobrun -= 1


def _enc_dc_scan(comp_coefs, samp, mcux, mcuy, ah, al, enc_dc=None):
    """Interleaved DC scan body: first pass (Ah=0, diffs of coef>>Al) or
    refinement (one raw bit per block).  ``enc_dc`` overrides the
    per-component DC tables (the 12-bit test encoder passes its table, whose
    category-16 code carries NO appended bits per T.81 F.1.2.1.1)."""
    w = _BitWriter()
    ncomp = len(comp_coefs)
    preds = [0] * ncomp
    if enc_dc is None:
        enc_dc = [_ENC_DC_LUM] + [_ENC_DC_CHROM] * (ncomp - 1)
    for mi in range(mcux * mcuy):
        my, mx = divmod(mi, mcux)
        for ci in range(ncomp):
            hi, vi = samp[ci]
            for by in range(vi):
                for bx in range(hi):
                    bi = (my * vi + by) * (mcux * hi) + (mx * hi + bx)
                    dc = int(comp_coefs[ci][bi, 0]) >> al  # arithmetic shift
                    if ah == 0:
                        s, bits = _magnitude(dc - preds[ci])
                        preds[ci] = dc
                        c, ln = enc_dc[ci][s]
                        w.write(c, ln)
                        if s and s < 16:  # cat 16: DIFF=32768, no bits
                            w.write(bits, s)
                    else:
                        w.write(dc & 1, 1)
    w.flush()
    return w.buf


def _noninterleaved_blocks(comp_coefs, ci, samp, mcux, mcuy, w_px, h_px):
    """Yield the component's blocks in non-interleaved scan order (true
    ceil block grid, A.2.2), indexing into the MCU-padded storage."""
    hi, vi = samp[ci]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    cbw = ((w_px * hi + hmax - 1) // hmax + 7) // 8
    cbh = ((h_px * vi + vmax - 1) // vmax + 7) // 8
    stride = mcux * hi
    for u in range(cbw * cbh):
        by, bx = divmod(u, cbw)
        yield comp_coefs[ci][by * stride + bx]


def _enc_ac_first_scan(blocks, ss, se, al, ac_tab):
    """AC first scan body (G.1.2.2): RLE on the point-transformed band
    (magnitude-truncated |v| >> Al), EOB per trailing-zero block."""
    w = _BitWriter()
    for blk in blocks:
        r = 0
        for k in range(ss, se + 1):
            v = int(blk[k])
            t = abs(v) >> al
            if t == 0:
                r += 1
                continue
            while r > 15:
                c, ln = ac_tab[0xF0]
                w.write(c, ln)
                r -= 16
            tv = t if v >= 0 else -t
            s, bits = _magnitude(tv)
            c, ln = ac_tab[(r << 4) | s]
            w.write(c, ln)
            w.write(bits, s)
            r = 0
        if r:
            c, ln = ac_tab[0x00]  # EOB (run of 1 — Annex-K tables have
            w.write(c, ln)        # no EOBn>0 codes; decoder handles both)
    w.flush()
    return w.buf


def _enc_ac_refine_scan(blocks, ss, se, al, ac_tab):
    """AC refinement scan body (G.1.2.3) — emits exactly the symbol/bit
    stream the refinement decoder consumes: newly-significant coefs as
    (run<<4)|1 + sign, correction bits for already-nonzero coefs
    positionally interleaved, ZRL over 16 zero-history coefs, EOB."""
    w = _BitWriter()
    for blk in blocks:
        t = [abs(int(blk[k])) >> al for k in range(64)]
        k = ss
        while k <= se:
            r = 0
            nxt = None
            j = k
            while j <= se:
                if t[j] == 1:
                    nxt = j
                    break
                if t[j] == 0:
                    r += 1
                j += 1
            if nxt is None:
                c, ln = ac_tab[0x00]
                w.write(c, ln)
                for m in range(k, se + 1):
                    if t[m] > 1:
                        w.write(t[m] & 1, 1)
                break
            while r > 15:
                c, ln = ac_tab[0xF0]
                w.write(c, ln)
                cnt = 0
                while cnt < 16:
                    if t[k] == 0:
                        cnt += 1
                    elif t[k] > 1:
                        w.write(t[k] & 1, 1)
                    k += 1
                r -= 16
            c, ln = ac_tab[(r << 4) | 1]
            w.write(c, ln)
            w.write(1 if int(blk[nxt]) >= 0 else 0, 1)
            for m in range(k, nxt):
                if t[m] > 1:
                    w.write(t[m] & 1, 1)
            k = nxt + 1
    w.flush()
    return w.buf


def encode_jpeg_progressive(arr: np.ndarray, quality: int = 95,
                            subsampling: str = "444",
                            successive: bool = True) -> bytes:
    """Encode gray8/RGB8 to PROGRESSIVE JFIF (SOF2, T.81 Annex G).

    Scan script: interleaved DC scan, then one full-band AC scan per
    component.  With ``successive=True`` (default) every first pass uses
    point transform Al=1 and a second round of DC/AC refinement scans
    (Ah=1, Al=0) restores full precision — exercising both progressive
    modes (spectral selection AND successive approximation).  Decodes
    bit-identically to the baseline encoding of the same image (same
    quantized coefficients)."""
    gray, samp, h, w, mcux, mcuy, qtabs, comp_coefs = _quantize_planes(
        arr, quality, subsampling)
    ncomp = len(comp_coefs)

    out = bytearray()
    out += b"\xFF\xD8"
    out += (b"\xFF\xE0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x01\x01"
            + b"\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00")
    for ti, q in enumerate(qtabs):
        out += b"\xFF\xDB" + struct.pack(">HB", 67, ti) \
            + bytes(int(v) for v in q.reshape(-1)[ZIGZAG])
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hi, vi = samp[ci]
        sof += struct.pack("BBB", ci + 1, (hi << 4) | vi,
                           0 if ci == 0 else 1)
    out += b"\xFF\xC2" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(cls, tid, bits, vals):
        body = struct.pack("B", (cls << 4) | tid) + bytes(bits) + bytes(vals)
        return b"\xFF\xC4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, DC_LUM_BITS, DC_LUM_VALS)
    out += dht(1, 0, AC_LUM_BITS, AC_LUM_VALS)
    if not gray:
        out += dht(0, 1, DC_CHROM_BITS, DC_CHROM_VALS)
        out += dht(1, 1, AC_CHROM_BITS, AC_CHROM_VALS)

    def sos(comp_ids, ss, se, ah, al):
        hdr = struct.pack("B", len(comp_ids))
        for ci in comp_ids:
            hdr += struct.pack("BB", ci + 1,
                               0x00 if ci == 0 else 0x11)
        hdr += struct.pack("BBB", ss, se, (ah << 4) | al)
        return b"\xFF\xDA" + struct.pack(">H", 2 + len(hdr)) + hdr

    al0 = 1 if successive else 0
    out += sos(list(range(ncomp)), 0, 0, 0, al0)
    out += _enc_dc_scan(comp_coefs, samp, mcux, mcuy, 0, al0)
    for ci in range(ncomp):
        ac_tab = _ENC_AC_LUM if ci == 0 else _ENC_AC_CHROM
        out += sos([ci], 1, 63, 0, al0)
        out += _enc_ac_first_scan(
            _noninterleaved_blocks(comp_coefs, ci, samp, mcux, mcuy, w, h),
            1, 63, al0, ac_tab)
    if successive:
        out += sos(list(range(ncomp)), 0, 0, 1, 0)
        out += _enc_dc_scan(comp_coefs, samp, mcux, mcuy, 1, 0)
        for ci in range(ncomp):
            ac_tab = _ENC_AC_LUM if ci == 0 else _ENC_AC_CHROM
            out += sos([ci], 1, 63, 1, 0)
            out += _enc_ac_refine_scan(
                _noninterleaved_blocks(comp_coefs, ci, samp, mcux, mcuy,
                                       w, h),
                1, 63, 0, ac_tab)
    out += b"\xFF\xD9"
    return bytes(out)


def estimate_jpeg_quality(data: bytes) -> tuple[int, bool]:
    """(estimated IJG quality, exact_match) from the stream's FIRST
    quantization table (the luminance table by convention) — the
    standard corpus signal for image-quality filtering: the encoder's
    quality knob is recoverable from DQT alone, no pixel decode.

    Scans q = 1..100 for the Annex-K luminance table whose IJG
    scaling (scaled_quant) is nearest in L1; ``exact_match`` is True
    when some q reproduces the stored table bit-for-bit (all IJG-
    derived encoders, including this repo's).  Custom-table encoders
    get the nearest-q estimate with exact_match False.  Raises
    ValueError when the stream carries no DQT before SOS."""
    import struct as _struct
    data = bytes(data)
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    table = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker in (0xD9, 0xDA):
            break
        (seglen,) = _struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + seglen]
        pos += seglen
        if marker == 0xDB and table is None:
            pq_tq = body[0]
            if pq_tq >> 4:
                q = np.frombuffer(body[1:129], dtype=">u2")
            else:
                q = np.frombuffer(body[1:65], dtype=np.uint8)
            table = q[UNZIGZAG].reshape(8, 8).astype(np.int64)
    if table is None:
        raise ValueError("JPEG has no DQT before SOS")
    best_q, best_err = 1, None
    for quality in range(1, 101):
        cand = scaled_quant(QUANT_LUM, quality).astype(np.int64)
        err = int(np.abs(cand - table).sum())
        if best_err is None or err < best_err:
            best_q, best_err = quality, err
    return best_q, best_err == 0


# ---------------------------------------------------------------------------
# batched baseline decode — the per-symbol Huffman loop vectorized ACROSS
# images (numpy lockstep over N entropy streams).  Motivation (r8 bench):
# the scalar loop costs ~0.6 us/symbol of pure-python overhead and a dense
# q98 16x16 image carries ~780 symbols => ~450 us/image; advancing N streams
# one symbol per vectorized round amortizes that overhead N-ways.  The
# scalar decoder remains the reference semantics; the batch kernel is
# restricted to the shapes it provably replicates (baseline sequential,
# 8-bit, no restart markers, 1 or 3 components) and everything else falls
# back per-image.  Exactness is pinned by randomized batch==scalar equality
# tests across sampling modes, qualities and sizes.
# ---------------------------------------------------------------------------

_BATCH_MIN = 64  # below this many same-shape streams the fixed per-round
                # numpy overhead outweighs the scalar loop


def _parse_for_batch(data: bytes):
    """Light marker walk for the batch path.  Returns a dict of everything
    the entropy kernel and _reconstruct need, or None when the stream is
    outside the batch-eligible subset (progressive, lossless, 12-bit,
    restarts, 2/4-component, unexpected sampling)."""
    if data[:2] != b"\xFF\xD8":
        return None
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple, tuple] = {}
    table_key = []  # raw DQT/DHT payloads, in order — the group signature
    comps = []
    h = w = 0
    adobe_transform = None
    scan_comps = []
    scan_start = None
    while pos < len(data):
        if data[pos] != 0xFF:
            return None
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + seglen]
        if marker == 0xDB:
            table_key.append(bytes(body))
            off = 0
            while off < len(body):
                pq_tq = body[off]
                if pq_tq >> 4:
                    q = np.frombuffer(body[off + 1:off + 129], dtype=">u2")
                    off += 129
                else:
                    q = np.frombuffer(body[off + 1:off + 65], dtype=np.uint8)
                    off += 65
                qtabs[pq_tq & 0xF] = q[UNZIGZAG].reshape(8, 8).astype(np.int32)
        elif marker in (0xC0, 0xC1):
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8 or nc not in (1, 3):
                return None
            for ci in range(nc):
                cid, hv, tq = body[6 + ci * 3:9 + ci * 3]
                hi, vi = hv >> 4, hv & 0xF
                if hi not in (1, 2, 4) or vi not in (1, 2, 4):
                    return None
                comps.append((cid, hi, vi, tq))
        elif marker in (0xC2, 0xC3):
            return None  # progressive / lossless
        elif marker == 0xC4:
            table_key.append(bytes(body))
            off = 0
            while off < len(body):
                tc_th = body[off]
                bits = tuple(body[off + 1:off + 17])
                nv = sum(bits)
                vals = tuple(body[off + 17:off + 17 + nv])
                if (tc_th >> 4) == 0 and vals and max(vals) > 11:
                    # DC categories >11 (incl. the 12-bit cat-16 rule the
                    # scalar path implements) stay scalar
                    return None
                huff[(tc_th >> 4, tc_th & 0xF)] = _decode_lut(bits, vals)
                off += 17 + nv
        elif marker == 0xDD:
            (ri,) = struct.unpack(">H", body[:2])
            if ri:
                return None  # restart resets need the scalar path
        elif marker == 0xEE and body[:5] == b"Adobe":
            adobe_transform = body[11]
        elif marker == 0xDA:
            ns = body[0]
            for ci in range(ns):
                cid, tabs = body[1 + ci * 2], body[2 + ci * 2]
                scan_comps.append((cid, tabs >> 4, tabs & 0xF))
            scan_start = pos + seglen
            break
        pos += seglen
    if scan_start is None or not comps:
        return None

    # de-stuff exactly as the scalar decoder (RST with DRI=0 would change
    # semantics — the scalar concatenates segments; forbid to stay simple)
    arr = np.frombuffer(data, dtype=np.uint8)
    cur = scan_start
    end = len(data)
    for fpos in (np.flatnonzero(arr[scan_start:len(data) - 1] == 0xFF)
                 + scan_start):
        if fpos < cur:
            continue
        nxt = data[fpos + 1]
        if nxt == 0x00:
            continue
        if 0xD0 <= nxt <= 0xD7:
            return None  # stray RST without DRI: scalar path
        end = fpos
        break
    else:
        if end > cur and data[end - 1] == 0xFF:
            end -= 1
    raw = data[cur:end].replace(b"\xff\x00", b"\xff")

    key = (h, w, tuple(comps), tuple(scan_comps), adobe_transform,
           tuple(table_key))
    return {"key": key, "raw": raw, "h": h, "w": w, "comps": comps,
            "scan_comps": scan_comps, "qtabs": qtabs, "huff": huff,
            "adobe_transform": adobe_transform}


_BATCH_TAB_CACHE: dict = {}


def _batch_tables(p):
    """(2*nc, 65536) int32 packed (len<<16 | sym) Huffman peek tables,
    row = 2*ci + is_dc, plus the shared block schedule arrays."""
    key = p["key"]
    hit = _BATCH_TAB_CACHE.get(key)
    if hit is not None:
        return hit
    comps = p["comps"]
    nc = len(comps)
    comp_tabs = {cid: (dc, ac) for cid, dc, ac in p["scan_comps"]}
    tab = np.empty((2 * nc, 1 << 16), dtype=np.int32)
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        dc_t, ac_t = comp_tabs[cid]
        dsym, dln = p["huff"][(0, dc_t)]
        asym, aln = p["huff"][(1, ac_t)]
        tab[2 * ci + 1] = (np.asarray(dln, dtype=np.int32) << 16) | np.asarray(
            dsym, dtype=np.int32)
        tab[2 * ci + 0] = (np.asarray(aln, dtype=np.int32) << 16) | np.asarray(
            asym, dtype=np.int32)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    h, w = p["h"], p["w"]
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    sched_ci, sched_bi = [], []
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (_, hi, vi, _) in enumerate(comps):
                for by in range(vi):
                    for bx in range(hi):
                        sched_ci.append(ci)
                        sched_bi.append((my * vi + by) * (mcux * hi)
                                        + (mx * hi + bx))
    out = (tab, np.asarray(sched_ci, dtype=np.int64),
           np.asarray(sched_bi, dtype=np.int64), mcux, mcuy, hmax, vmax)
    _BATCH_TAB_CACHE[key] = out
    return out


def _decode_entropy_batch(parsed: list):
    """Lockstep entropy decode of N same-signature streams.  Returns
    (N, nblocks, 64) int32 coefficients in MCU schedule order plus the
    shared (sched_ci, sched_bi, mcux, mcuy, hmax, vmax) layout info.

    Every stream advances ONE Huffman symbol per vectorized round; the
    per-stream state machine (DC phase -> AC run/EOB/ZRL -> next block)
    is the scalar loop's, expressed with masks.  Bit reads gather a
    48-bit window per stream per round: shift(<=7) + code(<=16) +
    magnitude(<=11 at 8-bit precision) = 34 bits always fits."""
    p0 = parsed[0]
    tab, sched_ci, sched_bi, mcux, mcuy, hmax, vmax = _batch_tables(p0)
    nc = len(p0["comps"])
    n = len(parsed)
    nblocks = len(sched_ci)
    lens = np.array([len(q["raw"]) for q in parsed], dtype=np.int64)
    lmax = int(lens.max())
    B = np.zeros((n, lmax + 8), dtype=np.uint8)  # zero pad == scalar's
    for i, q in enumerate(parsed):               # past-end zero bits
        B[i, :lens[i]] = np.frombuffer(q["raw"], dtype=np.uint8)
    B64 = B.astype(np.int64)
    # precomputed sliding 48-bit windows: W[i, b] = 6 bytes from offset b —
    # one fancy gather per round instead of a (n, 6) gather + dot
    W = np.zeros((n, lmax + 3), dtype=np.int64)
    for j in range(6):
        W += B64[:, j:j + lmax + 3] << (8 * (5 - j))

    rows = np.arange(n)
    bitpos = np.zeros(n, dtype=np.int64)
    blk = np.zeros(n, dtype=np.int64)      # current block seq index
    blk_c = np.zeros(n, dtype=np.int64)    # min(blk, nblocks-1) for gathers
    phase_dc = np.ones(n, dtype=bool)      # next symbol is a DC code
    k = np.ones(n, dtype=np.int64)         # next AC coefficient index
    preds = np.zeros((n, nc), dtype=np.int64)
    coefs = np.zeros((n, nblocks, 64), dtype=np.int32)
    tabf = tab.ravel()                     # flat (row<<16 | peek) indexing

    act = blk < nblocks
    while act.any():
        # byte index clamped into the zero pad: a stream that exhausts its
        # bytes with blocks remaining keeps decoding zero bits, exactly the
        # scalar reader's past-end behaviour
        bidx = np.minimum(bitpos >> 3, lmax + 1)
        sh = bitpos & 7
        w48 = W[rows, bidx]
        peek = (w48 >> (32 - sh)) & 0xFFFF
        ci = sched_ci[blk_c]
        ent = tabf[((2 * ci + phase_dc) << 16) + peek]
        ln = ent >> 16
        rs = ent & 0xFFFF
        # extra-bit count: DC category (parse guard caps it at 11, so the
        # low nibble IS the category) or AC low nibble (EOB/ZRL -> 0)
        s = rs & 0xF
        v = (w48 >> (48 - sh - ln - s)) & ((np.int64(1) << s) - 1)
        half = np.int64(1) << np.maximum(s - 1, 0)
        val = np.where((s > 0) & (v < half), v - (half << 1) + 1, v)
        bitpos += (ln + s) * act

        dcm = np.flatnonzero(act & phase_dc)
        if dcm.size:
            cid = ci[dcm]
            preds[dcm, cid] += val[dcm]
            coefs[dcm, blk[dcm], 0] = preds[dcm, cid]
            phase_dc[dcm] = False
            k[dcm] = 1

        acm = act & ~phase_dc
        acm[dcm] = False  # streams that JUST did DC wait for next round
        rs_ac = rs
        eob = acm & (rs_ac == 0x00)
        zrl = acm & (rs_ac == 0xF0)
        norm = acm & ~eob & ~zrl
        nidx = np.flatnonzero(norm)
        if nidx.size:
            kn = k[nidx] + (rs_ac[nidx] >> 4)
            ok = kn <= 63
            oki = nidx[ok]
            coefs[oki, blk[oki], kn[ok]] = val[oki]
            k[nidx] = kn + 1  # >64 forces block end (scalar: break)
        zidx = np.flatnonzero(zrl)
        if zidx.size:
            k[zidx] += 16
        endb = eob | (acm & (k >= 64))
        eidx = np.flatnonzero(endb)
        if eidx.size:
            blk[eidx] += 1
            phase_dc[eidx] = True
            k[eidx] = 1
            act = blk < nblocks
            np.minimum(blk, nblocks - 1, out=blk_c)
    return coefs, (sched_ci, sched_bi, mcux, mcuy, hmax, vmax)


def decode_jpeg_batch(datas: list[bytes]) -> list[np.ndarray]:
    """Decode many JPEGs, batching same-signature baseline streams through
    the vectorized entropy kernel; anything else (progressive, lossless,
    restarts, 12-bit, tiny groups) falls back to decode_jpeg_baseline.
    Output is element-wise identical to the scalar decoder."""
    out: list = [None] * len(datas)
    groups: dict = {}
    for i, d in enumerate(datas):
        try:
            p = _parse_for_batch(d)
        except Exception:
            p = None
        if p is None:
            out[i] = decode_jpeg_baseline(d)
        else:
            groups.setdefault(p["key"], []).append((i, p))
    for key, members in groups.items():
        if len(members) < _BATCH_MIN:
            for i, _ in members:
                out[i] = decode_jpeg_baseline(datas[i])
            continue
        parsed = [p for _, p in members]
        coefs, (sched_ci, sched_bi, mcux, mcuy, hmax, vmax) = \
            _decode_entropy_batch(parsed)
        p0 = parsed[0]
        pix = _reconstruct_batch(p0["comps"], coefs, sched_ci, sched_bi,
                                 p0["qtabs"], p0["h"], p0["w"], mcux, mcuy,
                                 hmax, vmax)
        for (i, _), img in zip(members, pix):
            out[i] = img
    return out


def _reconstruct_batch(comps, coefs, sched_ci, sched_bi, qtabs, h, w,
                       mcux, mcuy, hmax, vmax):
    """_reconstruct with a leading batch axis — same elementwise algebra
    and per-8x8 einsum matmuls, so pixels are bit-identical to the scalar
    routine (pinned by the batch==scalar equality tests).  8-bit, 1 or 3
    components (the batch-eligibility subset)."""
    N = coefs.shape[0]
    planes = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        sel = sched_ci == ci
        rows_b = mcuy * vi
        cols_b = mcux * hi
        nb = rows_b * cols_b
        g = np.zeros((N, nb, 64), dtype=np.int32)
        g[:, sched_bi[sel]] = coefs[:, sel]
        dq = (g[:, :, UNZIGZAG].reshape(N * nb, 8, 8).astype(np.float64)
              * qtabs[tq])
        blocks = np.matmul(np.matmul(_DCT_T, dq), _DCT)
        ch = rows_b * 8
        cw = cols_b * 8
        full = (blocks.reshape(N, rows_b, cols_b, 8, 8)
                .transpose(0, 1, 3, 2, 4).reshape(N, ch, cw))
        fy, fx = vmax // vi, hmax // hi
        if fy > 1 or fx > 1:
            full = np.repeat(np.repeat(full, fy, axis=1), fx, axis=2)
        planes.append(full[:, :h, :w] + 128.0)
    if len(comps) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    gg = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, gg, b], axis=3)),
                   0, 255).astype(np.uint8)
