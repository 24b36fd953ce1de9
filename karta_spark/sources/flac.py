"""FLAC codec — pure python + numpy, no external libs.

The dominant lossless audio format in crawled corpora.  Decoder covers
the full subframe surface of the format spec (RFC 9639):

- STREAMINFO parsing + metadata-block walk (VORBIS_COMMENT surfaced)
- frame headers: UTF-8-coded frame numbers, all block-size/sample-rate/
  sample-size codes, CRC-8 verified
- subframes: CONSTANT, VERBATIM, FIXED (orders 0-4), LPC (any order),
  wasted bits
- residuals: Rice method 0 (4-bit) and 1 (5-bit), partitioned, escape
  (verbatim) partitions
- stereo decorrelation: left/side, right/side, mid/side
- frame CRC-16 verified

Encoder (fixtures + interchange): fixed predictors 0-2 chosen per
frame by residual magnitude, single-partition Rice residuals,
independent channels — a valid, genuinely compressed stream any FLAC
decoder reads.

The reference has no audio layer; this extends the multimodal-column
surface (sources/av.py WAV/G.711/ADPCM) the same way — opaque binary
columns decoded executor-side.
"""

from __future__ import annotations

import struct

import numpy as np

_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


class _BitReader:
    """MSB-first bit reader over bytes."""
    __slots__ = ("bits", "pos")

    def __init__(self, data: bytes):
        self.bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
        self.pos = 0

    def read(self, n: int) -> int:
        b = self.bits[self.pos:self.pos + n]
        if len(b) < n:
            raise ValueError("truncated FLAC bitstream")
        self.pos += n
        v = 0
        for bit in b:
            v = (v << 1) | int(bit)
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def read_unary(self) -> int:
        nxt = np.flatnonzero(self.bits[self.pos:])
        if len(nxt) == 0:
            raise ValueError("truncated FLAC unary run")
        q = int(nxt[0])
        self.pos += q + 1
        return q

    def align(self):
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        return self.pos >> 3


class _BitWriter:
    __slots__ = ("out", "acc", "nacc")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, v: int, n: int):
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nacc += n
        while self.nacc >= 8:
            self.nacc -= 8
            self.out.append((self.acc >> self.nacc) & 0xFF)
        self.acc &= (1 << self.nacc) - 1

    def write_unary(self, q: int):
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self):
        if self.nacc:
            self.write(0, 8 - self.nacc)

    def bytes(self) -> bytes:
        assert self.nacc == 0
        return bytes(self.out)


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


def _utf8_coded(r: _BitReader) -> int:
    """FLAC's UTF-8-style frame/sample number coding (up to 36 bits)."""
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x80
    while b0 & mask:
        n += 1
        mask >>= 1
    if n < 2 or n > 7:
        raise ValueError("bad FLAC UTF-8 frame number")
    v = b0 & (0xFF >> (n + 1))
    for _ in range(n - 1):
        c = r.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("bad FLAC UTF-8 continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _utf8_encode_num(v: int) -> bytes:
    if v < 0x80:
        return bytes([v])
    out = []
    n = 2
    while v >= (1 << (6 * (n - 1) + (7 - n))):
        n += 1
    lead = (0xFF << (8 - n)) & 0xFF | (v >> (6 * (n - 1)))
    out.append(lead)
    for k in range(n - 2, -1, -1):
        out.append(0x80 | ((v >> (6 * k)) & 0x3F))
    return bytes(out)


_BLOCKSIZE_CODES = {192: 1, 576: 2, 1152: 3, 2304: 4, 4608: 5,
                    256: 8, 512: 9, 1024: 10, 2048: 11, 4096: 12,
                    8192: 13, 16384: 14, 32768: 15}
_RATE_CODES = {88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5,
               22050: 6, 24000: 7, 32000: 8, 44100: 9, 48000: 10,
               96000: 11}


def _decode_residual(r: _BitReader, blocksize: int, order: int
                     ) -> np.ndarray:
    method = r.read(2)
    if method > 1:
        raise ValueError(f"reserved FLAC residual method {method}")
    plen = 4 + method
    escape = (1 << plen) - 1
    porder = r.read(4)
    nparts = 1 << porder
    if blocksize % nparts:
        raise ValueError("FLAC partition count does not divide blocksize")
    out = np.empty(blocksize - order, dtype=np.int64)
    idx = 0
    for p in range(nparts):
        n = blocksize // nparts - (order if p == 0 else 0)
        k = r.read(plen)
        if k == escape:
            nbits = r.read(5)
            for i in range(n):
                out[idx] = r.read_signed(nbits) if nbits else 0
                idx += 1
        else:
            for i in range(n):
                q = r.read_unary()
                v = (q << k) | r.read(k) if k else q
                out[idx] = (v >> 1) ^ -(v & 1)  # zigzag
                idx += 1
    return out


def _decode_subframe(r: _BitReader, blocksize: int, bps: int
                     ) -> np.ndarray:
    if r.read(1):
        raise ValueError("bad FLAC subframe padding bit")
    ftype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
    bps -= wasted
    if ftype == 0:  # CONSTANT
        out = np.full(blocksize, r.read_signed(bps), dtype=np.int64)
    elif ftype == 1:  # VERBATIM
        out = np.array([r.read_signed(bps) for _ in range(blocksize)],
                       dtype=np.int64)
    elif 8 <= ftype <= 12:  # FIXED
        order = ftype - 8
        warm = [r.read_signed(bps) for _ in range(order)]
        res = _decode_residual(r, blocksize, order)
        out = np.empty(blocksize, dtype=np.int64)
        out[:order] = warm
        coefs = _FIXED_COEFS[order]
        for i in range(order, blocksize):
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * out[i - 1 - j]
            out[i] = res[i - order] + pred
    elif ftype >= 32:  # LPC
        order = ftype - 31
        warm = [r.read_signed(bps) for _ in range(order)]
        prec = r.read(4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC LPC precision")
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [r.read_signed(prec) for _ in range(order)]
        res = _decode_residual(r, blocksize, order)
        out = np.empty(blocksize, dtype=np.int64)
        out[:order] = warm
        for i in range(order, blocksize):
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * out[i - 1 - j]
            out[i] = res[i - order] + (pred >> shift)
    else:
        raise ValueError(f"reserved FLAC subframe type {ftype}")
    return out << wasted if wasted else out


def parse_flac_meta(data: bytes) -> dict:
    """STREAMINFO + metadata-block walk.  Returns dict with
    sample_rate, channels, bits, total_samples, audio_off, comments."""
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (missing fLaC magic)")
    pos = 4
    info = None
    comments: dict[str, str] = {}
    while True:
        if pos + 4 > len(data):
            raise ValueError("truncated FLAC metadata")
        hdr = data[pos]
        last = hdr & 0x80
        btype = hdr & 0x7F
        blen = int.from_bytes(data[pos + 1:pos + 4], "big")
        body = data[pos + 4:pos + 4 + blen]
        if btype == 0:  # STREAMINFO
            if blen < 34:
                raise ValueError("short FLAC STREAMINFO")
            sr = (body[10] << 12) | (body[11] << 4) | (body[12] >> 4)
            ch = ((body[12] >> 1) & 0x07) + 1
            bps = (((body[12] & 1) << 4) | (body[13] >> 4)) + 1
            total = ((body[13] & 0x0F) << 32) | int.from_bytes(
                body[14:18], "big")
            info = dict(sample_rate=sr, channels=ch, bits=bps,
                        total_samples=total)
        elif btype == 4:  # VORBIS_COMMENT (little-endian lengths)
            try:
                vpos = 0
                vlen = int.from_bytes(body[vpos:vpos + 4], "little")
                vpos += 4 + vlen
                n = int.from_bytes(body[vpos:vpos + 4], "little")
                vpos += 4
                for _ in range(n):
                    ln = int.from_bytes(body[vpos:vpos + 4], "little")
                    vpos += 4
                    kv = body[vpos:vpos + ln].decode("utf-8", "replace")
                    vpos += ln
                    k, _, v = kv.partition("=")
                    comments[k.upper()] = v
            except Exception as exc:  # noqa: BLE001 — comments are optional
                raise ValueError(f"bad VORBIS_COMMENT: {exc}") from exc
        pos += 4 + blen
        if last:
            break
    if info is None:
        raise ValueError("FLAC stream missing STREAMINFO")
    info["audio_off"] = pos
    info["comments"] = comments
    return info


def decode_flac(data: bytes):
    """Decode a FLAC stream -> (samples int32 array (n, channels),
    sample_rate, bits).  Raises ValueError on malformed input (the
    uniform container-parser contract)."""
    try:
        return _decode_flac(bytes(data))
    except (ValueError, IndexError, struct.error) as exc:
        raise ValueError(f"bad FLAC: {exc}") from exc


def _decode_flac(data: bytes):
    info = parse_flac_meta(data)
    pos = info["audio_off"]
    chans: list[np.ndarray] = []
    blocks: list[np.ndarray] = []
    got = 0
    total = info["total_samples"]
    while pos < len(data) and (total == 0 or got < total):
        r = _BitReader(data[pos:])
        sync = r.read(14)
        if sync != 0x3FFE:
            raise ValueError(f"bad FLAC frame sync at byte {pos}")
        if r.read(1):
            raise ValueError("reserved FLAC frame bit set")
        r.read(1)  # blocking strategy
        bs_code = r.read(4)
        sr_code = r.read(4)
        ch_code = r.read(4)
        ss_code = r.read(3)
        if r.read(1):
            raise ValueError("reserved FLAC frame bit set")
        _utf8_coded(r)
        if bs_code == 0:
            raise ValueError("reserved FLAC block-size code 0")
        if bs_code == 1:
            blocksize = 192
        elif 2 <= bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            blocksize = r.read(8) + 1
        elif bs_code == 7:
            blocksize = r.read(16) + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 12:
            r.read(8)
        elif sr_code in (13, 14):
            r.read(16)
        elif sr_code == 15:
            raise ValueError("invalid FLAC sample-rate code 15")
        if ss_code in (0,):
            bps = info["bits"]
        else:
            bps_map = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
            if ss_code not in bps_map:
                raise ValueError(f"reserved FLAC sample-size code {ss_code}")
            bps = bps_map[ss_code]
        hdr_len = r.byte_pos() if r.pos % 8 == 0 else r.byte_pos() + 1
        # CRC-8 covers the header up to (not incl.) the crc byte
        crc_off = (r.pos + 7) // 8
        want = data[pos + crc_off]
        if _crc8(data[pos:pos + crc_off]) != want:
            raise ValueError("FLAC frame header CRC-8 mismatch")
        r.pos = (crc_off + 1) * 8
        del hdr_len
        if ch_code < 8:
            nch = ch_code + 1
            subs = [_decode_subframe(r, blocksize, bps)
                    for _ in range(nch)]
        elif ch_code == 8:  # left/side
            L = _decode_subframe(r, blocksize, bps)
            S = _decode_subframe(r, blocksize, bps + 1)
            subs = [L, L - S]
        elif ch_code == 9:  # right/side
            S = _decode_subframe(r, blocksize, bps + 1)
            Rr = _decode_subframe(r, blocksize, bps)
            subs = [Rr + S, Rr]
        elif ch_code == 10:  # mid/side
            M = _decode_subframe(r, blocksize, bps)
            S = _decode_subframe(r, blocksize, bps + 1)
            L = (2 * M + (S & 1) + S) >> 1
            subs = [L, L - S]
        else:
            raise ValueError(f"reserved FLAC channel code {ch_code}")
        r.align()
        foot = r.byte_pos()
        want16 = int.from_bytes(data[pos + foot:pos + foot + 2], "big")
        if _crc16(data[pos:pos + foot]) != want16:
            raise ValueError("FLAC frame CRC-16 mismatch")
        blocks.append(np.stack(subs, axis=1))
        got += blocksize
        pos += foot + 2
    if not blocks:
        raise ValueError("FLAC stream has no frames")
    samples = np.concatenate(blocks, axis=0)
    if total:
        samples = samples[:total]
    return samples.astype(np.int32), info["sample_rate"], info["bits"]


# ---------------------------------------------------------------------------
# encoder (fixed predictors, single-partition Rice)
# ---------------------------------------------------------------------------

def _rice_param(res: np.ndarray) -> int:
    if len(res) == 0:
        return 0
    mean = float(np.mean(np.abs(res.astype(np.float64)))) + 1e-9
    k = max(0, int(np.ceil(np.log2(mean + 1.0))))
    return min(k, 14)


def _encode_residual(w: _BitWriter, res: np.ndarray):
    w.write(0, 2)   # Rice method 0
    w.write(0, 4)   # partition order 0 (single partition)
    k = _rice_param(res)
    w.write(k, 4)
    for v in res:
        v = int(v)
        u = (abs(v) * 2 - 1) if v < 0 else v * 2  # zigzag
        w.write_unary(u >> k)
        if k:
            w.write(u & ((1 << k) - 1), k)


def _encode_subframe(w: _BitWriter, x: np.ndarray, bps: int):
    x = x.astype(np.int64)
    if np.all(x == x[0]):
        w.write(0, 1)
        w.write(0, 6)      # CONSTANT
        w.write(0, 1)
        w.write(int(x[0]) & ((1 << bps) - 1), bps)
        return
    best, best_cost = 0, None
    for order in (0, 1, 2):
        if len(x) <= order:
            continue
        res = x.copy()
        for _ in range(order):
            res = np.diff(res)
        cost = float(np.sum(np.abs(res)))
        if best_cost is None or cost < best_cost:
            best, best_cost = order, cost
    order = best
    res = x.copy()
    for _ in range(order):
        res = np.diff(res)
    w.write(0, 1)
    w.write(8 + order, 6)  # FIXED, order
    w.write(0, 1)          # no wasted bits
    for i in range(order):
        w.write(int(x[i]) & ((1 << bps) - 1), bps)
    _encode_residual(w, res)


def encode_flac(samples: np.ndarray, sample_rate: int, bits: int = 16,
                blocksize: int = 4096,
                comments: dict[str, str] | None = None) -> bytes:
    """Valid FLAC stream: fixed-predictor subframes with Rice
    residuals, independent channels.  samples: int array (n,) or
    (n, ch) already scaled to *bits*."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if not 1 <= ch <= 8:
        raise ValueError("FLAC supports 1-8 channels")
    s = s.astype(np.int64)
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    if s.min() < lo or s.max() > hi:
        raise ValueError(f"samples exceed {bits}-bit range")
    # STREAMINFO
    si = bytearray()
    si += struct.pack(">HH", blocksize, blocksize)
    si += b"\x00\x00\x00" * 2  # min/max frame size unknown
    si += bytes([(sample_rate >> 12) & 0xFF, (sample_rate >> 4) & 0xFF,
                 ((sample_rate & 0x0F) << 4) | ((ch - 1) << 1)
                 | ((bits - 1) >> 4),
                 (((bits - 1) & 0x0F) << 4) | ((n >> 32) & 0x0F)])
    si += struct.pack(">I", n & 0xFFFFFFFF)
    si += bytes(16)  # md5 unset
    blocks = []
    if comments:
        vc = bytearray()
        vendor = b"karta_spark"
        vc += struct.pack("<I", len(vendor)) + vendor
        vc += struct.pack("<I", len(comments))
        for k, v in comments.items():
            kv = f"{k}={v}".encode()
            vc += struct.pack("<I", len(kv)) + kv
        blocks.append((4, bytes(vc)))
    out = bytearray(b"fLaC")
    metas = [(0, bytes(si))] + blocks
    for i, (btype, body) in enumerate(metas):
        last = 0x80 if i == len(metas) - 1 else 0
        out.append(last | btype)
        out += len(body).to_bytes(3, "big")
        out += body
    ss_code = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bits]
    for fno, start in enumerate(range(0, n, blocksize)):
        blk = s[start:start + blocksize]
        bs = len(blk)
        w = _BitWriter()
        w.write(0x3FFE, 14)
        w.write(0, 1)
        w.write(0, 1)  # fixed blocksize strategy
        bs_code = _BLOCKSIZE_CODES.get(bs, 7)
        w.write(bs_code, 4)
        sr_code = _RATE_CODES.get(sample_rate, 0)
        w.write(sr_code, 4)
        w.write(ch - 1, 4)  # independent channels
        w.write(ss_code, 3)
        w.write(0, 1)
        for b in _utf8_encode_num(fno):
            w.write(b, 8)
        if bs_code == 7:
            w.write(bs - 1, 16)
        w.align()
        hdr = w.bytes()
        hdr += bytes([_crc8(hdr)])
        w = _BitWriter()
        for c in range(ch):
            _encode_subframe(w, blk[:, c], bits)
        w.align()
        frame = hdr + w.bytes()
        frame += struct.pack(">H", _crc16(frame))
        out += frame
    return bytes(out)
