"""Lossless WebP (VP8L) codec from scratch — numpy + stdlib only.

WebP is the second-most-common image format in modern web corpora; a
crawl-scale multimodal pipeline has to decode it.  This module
implements the VP8L lossless bitstream (RIFF container + the public
"WebP Lossless Bitstream Specification"): LSB-first bit packing,
canonical prefix (Huffman) codes read MSB-first — both the simple
1/2-symbol form and the full code-length-code form with 16/17/18
repeats and the max-symbol shortcut — color cache, LZ77 backward
references with the 120-entry 2D neighbor distance map, meta-prefix
(entropy image) segmentation, and all four transforms: predictor (14
modes), cross-color, subtract-green, and color-indexing with sub-byte
index bundling.

The encoder exists for fixture generation and exercises the same
machinery (transform chain, real Huffman codes via the code-length
code, LZ77 emission, color cache hits); it is not tuned for ratio.

Interop notes (documented best-effort where the spec leaves sandbox
ambiguity — no libwebp is available in this container to cross-check):
- the 2D distance map is generated by the spec's ordering (ascending
  squared distance, then larger dy first, then positive dx first);
  the first 24 entries are pinned in tests against the published list.
- Select (predictor 11) uses ``pL <= pT -> L``.

The reference reads rasters via GDAL (karta _gdal.py:114-188); this
codec replicates decoded-ARGB semantics without it.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# constants
# ---------------------------------------------------------------------------

_NUM_LITERAL = 256
_NUM_LENGTH = 24
_NUM_DISTANCE = 40
_MAX_CACHE_BITS = 11

_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _make_distance_map():
    """The 120 closest 2D offsets: ascending d^2, then larger dy first,
    then positive dx before negative (spec §4.2.2 table order)."""
    pts = []
    for dy in range(0, 12):
        for dx in range(-11, 12):
            if dy == 0 and dx <= 0:
                continue  # must be a strictly earlier pixel
            pts.append((dx, dy))
    pts.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1],
                            abs(p[0]), p[0] < 0))
    return tuple(pts[:120])


_DIST_MAP = _make_distance_map()


# ---------------------------------------------------------------------------
# bit IO (LSB-first)
# ---------------------------------------------------------------------------

class _BitReader:
    __slots__ = ("data", "pos", "buf", "cnt")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.buf = 0
        self.cnt = 0

    def bits(self, n: int) -> int:
        while self.cnt < n:
            b = self.data[self.pos] if self.pos < len(self.data) else 0
            self.pos += 1
            self.buf |= b << self.cnt
            self.cnt += 8
        v = self.buf & ((1 << n) - 1)
        self.buf >>= n
        self.cnt -= n
        return v

    def bit(self) -> int:
        return self.bits(1)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.cnt = 0

    def bits(self, v: int, n: int):
        self.buf |= (v & ((1 << n) - 1)) << self.cnt
        self.cnt += n
        while self.cnt >= 8:
            self.out.append(self.buf & 0xFF)
            self.buf >>= 8
            self.cnt -= 8

    def done(self) -> bytes:
        if self.cnt:
            self.out.append(self.buf & 0xFF)
            self.buf = 0
            self.cnt = 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# canonical prefix codes (codes read/written MSB-first, DEFLATE-style)
# ---------------------------------------------------------------------------

def _canonical_codes(lengths):
    """lengths -> dict symbol -> (code, length)."""
    max_len = max(lengths) if len(lengths) else 0
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    out = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (next_code[ln], ln)
            next_code[ln] += 1
    return out


class _HuffDecoder:
    """Decode-by-tree-walk of a canonical code (bits arrive MSB-first)."""

    __slots__ = ("table", "single")

    def __init__(self, lengths):
        nz = [(s, l) for s, l in enumerate(lengths) if l]
        if len(nz) == 1:
            self.single = nz[0][0]
            self.table = None
            return
        self.single = None
        self.table = {}
        for sym, (code, ln) in _canonical_codes(lengths).items():
            self.table[(ln, code)] = sym
        if not self.table:
            raise ValueError("empty prefix code")

    @classmethod
    def fixed(cls, symbol: int):
        d = cls.__new__(cls)
        d.single = symbol
        d.table = None
        return d

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        ln = 0
        t = self.table
        for _ in range(16):
            code = (code << 1) | br.bit()
            ln += 1
            s = t.get((ln, code))
            if s is not None:
                return s
        raise ValueError("invalid prefix code stream")


def _build_lengths(freqs, max_len: int = 15):
    """Huffman code lengths from frequencies (package-merge fallback to
    balanced when depth would exceed max_len)."""
    import heapq
    active = [(f, i) for i, f in enumerate(freqs) if f > 0]
    n = len(freqs)
    if not active:
        return [0] * n
    if len(active) == 1:
        L = [0] * n
        L[active[0][1]] = 1
        return L
    heap = [(f, [i]) for f, i in active]
    heapq.heapify(heap)
    depth = [0] * n
    while len(heap) > 1:
        fa, sa = heapq.heappop(heap)
        fb, sb = heapq.heappop(heap)
        for s in sa + sb:
            depth[s] += 1
        heapq.heappush(heap, (fa + fb, sa + sb))
    if max(depth) > max_len:
        # rare for our alphabets: flatten to fixed-width lengths (an
        # incomplete canonical tree is still a valid prefix code)
        k = max(1, int(np.ceil(np.log2(len(active)))))
        depth = [0] * n
        for _, i in active:
            depth[i] = k
    return depth


def _index_width_bits(pal_size: int) -> int:
    if pal_size <= 2:
        return 3
    if pal_size <= 4:
        return 2
    if pal_size <= 16:
        return 1
    return 0


# ---------------------------------------------------------------------------
# code-length-code (reading and writing prefix-code descriptions)
# ---------------------------------------------------------------------------

def _read_code_lengths(br: _BitReader, alphabet_size: int):
    if br.bit():  # simple code
        num_symbols = br.bit() + 1
        if br.bit():
            sym0 = br.bits(8)
        else:
            sym0 = br.bit()
        lengths = [0] * alphabet_size
        if num_symbols == 1:
            lengths[sym0] = 1
            dec = _HuffDecoder.fixed(sym0)
            return dec
        sym1 = br.bits(8)
        lengths[sym0] = 1
        lengths[sym1] = 1
        return _HuffDecoder(lengths)
    num_cl = 4 + br.bits(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.bits(3)
    cl_dec = _HuffDecoder(cl_lengths)
    if br.bit():  # length-limited ("max_symbol" shortcut)
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    i = 0
    while i < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        s = cl_dec.read(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            rep = 3 + br.bits(2)
            for _ in range(rep):
                if i < alphabet_size:
                    lengths[i] = prev
                    i += 1
        elif s == 17:
            i += 3 + br.bits(3)
        else:  # 18
            i += 11 + br.bits(7)
    return _HuffDecoder(lengths)


def _write_code_lengths(bw: _BitWriter, lengths):
    """Emit a prefix-code description (simple form when 1-2 symbols,
    else the full code-length-code form, literal lengths + 17/18 gaps)."""
    nz = [(s, l) for s, l in enumerate(lengths) if l]
    if 1 <= len(nz) <= 2 and all(s < 256 for s, _ in nz):
        bw.bits(1, 1)                      # simple
        bw.bits(len(nz) - 1, 1)            # num_symbols - 1
        s0 = nz[0][0]
        if s0 <= 1:
            bw.bits(0, 1)                  # 1-bit first symbol
            bw.bits(s0, 1)
        else:
            bw.bits(1, 1)
            bw.bits(s0, 8)
        if len(nz) == 2:
            bw.bits(nz[1][0], 8)
        return
    bw.bits(0, 1)  # full form
    # emit literal lengths; compress zero runs with 17/18.  The FULL
    # alphabet is covered (trailing zeros explicit) so no max-symbol
    # shortcut is needed — the reader consumes exactly what is written.
    cl_syms = []  # (symbol, extra, extra_bits)
    i = 0
    n = len(lengths)
    while i < n:
        if lengths[i] == 0:
            run = 0
            j = i
            while j < n and lengths[j] == 0:
                run += 1
                j += 1
            while run >= 11:
                r = min(run, 138)
                cl_syms.append((18, r - 11, 7))
                run -= r
            while run >= 3:
                r = min(run, 10)
                cl_syms.append((17, r - 3, 3))
                run -= r
            for _ in range(run):
                cl_syms.append((0, 0, 0))
            i = j
        else:
            # run of equal nonzero lengths: literal then 16-repeats
            ln = lengths[i]
            run = 0
            j = i
            while j < n and lengths[j] == ln:
                run += 1
                j += 1
            cl_syms.append((ln, 0, 0))
            run -= 1
            while run >= 3:
                r = min(run, 6)
                cl_syms.append((16, r - 3, 2))
                run -= r
            for _ in range(run):
                cl_syms.append((ln, 0, 0))
            i = j
    freqs = [0] * 19
    for s, _, _ in cl_syms:
        freqs[s] += 1
    cl_lengths = _build_lengths(freqs, max_len=7)
    num_cl = 19
    while num_cl > 4 and cl_lengths[_CL_ORDER[num_cl - 1]] == 0:
        num_cl -= 1
    bw.bits(num_cl - 4, 4)
    for k in range(num_cl):
        bw.bits(cl_lengths[_CL_ORDER[k]], 3)
    bw.bits(0, 1)  # no max-symbol shortcut (trailing zeros implicit)
    codes = _canonical_codes(cl_lengths)
    single = len([l for l in cl_lengths if l]) == 1
    for s, extra, ebits in cl_syms:
        if not single:
            code, ln = codes[s]
            # MSB-first emission of the canonical code
            for b in range(ln - 1, -1, -1):
                bw.bits((code >> b) & 1, 1)
        if ebits:
            bw.bits(extra, ebits)


# ---------------------------------------------------------------------------
# LZ77 prefix values
# ---------------------------------------------------------------------------

def _prefix_decode(code: int, br: _BitReader) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.bits(extra) + 1


def _prefix_encode(v: int):
    """value (>=1) -> (code, extra_val, extra_bits)."""
    v -= 1
    if v < 4:
        return v, 0, 0
    nbits = v.bit_length() - 1
    code = 2 * nbits + ((v >> (nbits - 1)) & 1)
    extra = v & ((1 << (nbits - 1)) - 1)
    return code, extra, nbits - 1


def _dist_to_plane(dist_code: int, xsize: int) -> int:
    if dist_code > 120:
        return dist_code - 120
    dx, dy = _DIST_MAP[dist_code - 1]
    d = dy * xsize + dx
    return d if d >= 1 else 1


# ---------------------------------------------------------------------------
# image-stream decoding
# ---------------------------------------------------------------------------

def _cache_index(argb: int, cache_bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)


def _decode_image_stream(br: _BitReader, xsize: int, ysize: int,
                         is_level0: bool):
    """Returns (pixels int64[ysize*xsize] packed ARGB, transforms list)."""
    transforms = []
    if is_level0:
        while br.bit():
            ttype = br.bits(2)
            if ttype in (0, 1):  # predictor / cross-color
                size_bits = br.bits(3) + 2
                bw = (xsize + (1 << size_bits) - 1) >> size_bits
                bh = (ysize + (1 << size_bits) - 1) >> size_bits
                sub, _ = _decode_image_stream(br, bw, bh, False)
                # record the width in effect when read: inverses applied
                # in reverse order see exactly this geometry
                transforms.append((ttype, size_bits, sub, xsize))
            elif ttype == 2:  # subtract green
                transforms.append((2, None, None, xsize))
            else:  # color indexing
                pal_size = br.bits(8) + 1
                pal, _ = _decode_image_stream(br, pal_size, 1, False)
                # palette is delta-coded per channel
                p = pal.astype(np.uint32)
                for k in range(1, pal_size):
                    a = (((p[k] >> 24) + (p[k - 1] >> 24)) & 0xFF) << 24
                    r = (((p[k] >> 16) + (p[k - 1] >> 16)) & 0xFF) << 16
                    g = (((p[k] >> 8) + (p[k - 1] >> 8)) & 0xFF) << 8
                    b = ((p[k] & 0xFF) + (p[k - 1] & 0xFF)) & 0xFF
                    p[k] = a | r | g | b
                width_bits = _index_width_bits(pal_size)
                transforms.append((3, pal_size, p, width_bits, xsize))
                if width_bits:
                    xsize = (xsize + (1 << width_bits) - 1) >> width_bits

    cache_bits = 0
    if br.bit():
        cache_bits = br.bits(4)
        if not (1 <= cache_bits <= _MAX_CACHE_BITS):
            raise ValueError(f"bad color-cache bits {cache_bits}")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta = None
    meta_bits = 0
    n_groups = 1
    if is_level0 and br.bit():  # meta prefix codes (entropy image)
        meta_bits = br.bits(3) + 2
        mw = (xsize + (1 << meta_bits) - 1) >> meta_bits
        mh = (ysize + (1 << meta_bits) - 1) >> meta_bits
        meta, _ = _decode_image_stream(br, mw, mh, False)
        ids = (((meta >> 16) & 0xFF) << 8) | ((meta >> 8) & 0xFF)
        meta = ids.astype(np.int64)
        n_groups = int(meta.max()) + 1

    groups = []
    green_size = _NUM_LITERAL + _NUM_LENGTH + cache_size
    for _ in range(n_groups):
        g = _read_code_lengths(br, green_size)
        r = _read_code_lengths(br, 256)
        b = _read_code_lengths(br, 256)
        a = _read_code_lengths(br, 256)
        d = _read_code_lengths(br, _NUM_DISTANCE)
        groups.append((g, r, b, a, d))

    n = xsize * ysize
    pix = np.zeros(n, dtype=np.uint32)
    cache = [0] * cache_size
    pos = 0
    mw = ((xsize + (1 << meta_bits) - 1) >> meta_bits) if meta is not None \
        else 0
    while pos < n:
        if meta is not None:
            x = pos % xsize
            y = pos // xsize
            gid = int(meta[(y >> meta_bits) * mw + (x >> meta_bits)])
            gc, rc, bc, ac, dc = groups[gid]
        else:
            gc, rc, bc, ac, dc = groups[0]
        s = gc.read(br)
        if s < _NUM_LITERAL:
            green = s
            red = rc.read(br)
            blue = bc.read(br)
            alpha = ac.read(br)
            v = (alpha << 24) | (red << 16) | (green << 8) | blue
            pix[pos] = v
            if cache_size:
                cache[_cache_index(v, cache_bits)] = v
            pos += 1
        elif s < _NUM_LITERAL + _NUM_LENGTH:
            length = _prefix_decode(s - _NUM_LITERAL, br)
            dcode = dc.read(br)
            dist = _dist_to_plane(_prefix_decode(dcode, br), xsize)
            if dist > pos:
                raise ValueError("LZ77 distance past start")
            for _ in range(length):
                if pos >= n:
                    break
                v = int(pix[pos - dist])
                pix[pos] = v
                if cache_size:
                    cache[_cache_index(v, cache_bits)] = v
                pos += 1
        else:
            v = cache[s - _NUM_LITERAL - _NUM_LENGTH]
            pix[pos] = v
            pos += 1
    return pix, transforms


# ---------------------------------------------------------------------------
# inverse transforms
# ---------------------------------------------------------------------------


def _px_bytes(v):
    """uint32 scalar -> int16 array [a, r, g, b]."""
    return np.array([(v >> 24) & 0xFF, (v >> 16) & 0xFF,
                     (v >> 8) & 0xFF, v & 0xFF], dtype=np.int32)


def _pack_px(ch):
    return ((int(ch[0]) & 0xFF) << 24) | ((int(ch[1]) & 0xFF) << 16) | \
        ((int(ch[2]) & 0xFF) << 8) | (int(ch[3]) & 0xFF)


def _predict(mode: int, L, T, TL, TR):
    if mode == 0:
        return np.array([0xFF, 0, 0, 0], np.int32)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return (((L + TR) >> 1) + T) >> 1
    if mode == 6:
        return (L + TL) >> 1
    if mode == 7:
        return (L + T) >> 1
    if mode == 8:
        return (TL + T) >> 1
    if mode == 9:
        return (T + TR) >> 1
    if mode == 10:
        return (((L + TL) >> 1) + ((T + TR) >> 1)) >> 1
    if mode == 11:  # Select
        p = L + T - TL
        pL = int(np.abs(p - L).sum())
        pT = int(np.abs(p - T).sum())
        return L if pL <= pT else T
    if mode == 12:  # ClampAddSubtractFull
        return np.clip(L + T - TL, 0, 255)
    if mode == 13:  # ClampAddSubtractHalf
        # libwebp: Clip255(a + (a - b) / 2) with C division truncating
        # toward zero — NOT >>1, which floors and is off by one for odd
        # negative (a - TL) deltas.
        a = (L + T) >> 1
        d = a - TL
        return np.clip(a + np.sign(d) * (np.abs(d) >> 1), 0, 255)
    raise ValueError(f"predictor mode {mode}")


def _inv_predictor(pix: np.ndarray, w: int, h: int, size_bits: int,
                   modes: np.ndarray):
    bw = (w + (1 << size_bits) - 1) >> size_bits
    flat = pix
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = np.array([0xFF, 0, 0, 0], np.int32)
            elif y == 0:
                pred = _px_bytes(int(flat[i - 1]))       # forced L
            elif x == 0:
                pred = _px_bytes(int(flat[i - w]))       # forced T
            else:
                mode = (int(modes[(y >> size_bits) * bw
                                  + (x >> size_bits)]) >> 8) & 0xFF
                L = _px_bytes(int(flat[i - 1]))
                T = _px_bytes(int(flat[i - w]))
                TL = _px_bytes(int(flat[i - w - 1]))
                # top-right of the last column aliases to row start
                TR = _px_bytes(int(flat[i - w + 1]))
                pred = _predict(mode, L, T, TL, TR)
            cur = _px_bytes(int(flat[i]))
            flat[i] = _pack_px((cur + pred) & 0xFF)
    return flat


def _ct_delta(t: int, c: int) -> int:
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inv_cross_color(pix: np.ndarray, w: int, h: int, size_bits: int,
                     cte: np.ndarray):
    bw = (w + (1 << size_bits) - 1) >> size_bits
    for y in range(h):
        for x in range(w):
            i = y * w + x
            e = int(cte[(y >> size_bits) * bw + (x >> size_bits)])
            g2r = (e >> 0) & 0xFF   # blue byte
            g2b = (e >> 8) & 0xFF   # green byte
            r2b = (e >> 16) & 0xFF  # red byte
            v = int(pix[i])
            a = (v >> 24) & 0xFF
            r = (v >> 16) & 0xFF
            g = (v >> 8) & 0xFF
            b = v & 0xFF
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g)) & 0xFF
            b = (b + _ct_delta(r2b, r)) & 0xFF  # uses the NEW red
            pix[i] = (a << 24) | (r << 16) | (g << 8) | b
    return pix


def _inv_subtract_green(pix: np.ndarray):
    g = (pix >> 8) & 0xFF
    r = (((pix >> 16) & 0xFF) + g) & 0xFF
    b = ((pix & 0xFF) + g) & 0xFF
    return (pix & 0xFF00FF00) | (r << 16) | b


def _inv_color_index(pix: np.ndarray, pal: np.ndarray, width_bits: int,
                     orig_w: int, h: int):
    if width_bits == 0:
        idx = (pix >> 8) & 0xFF
        return pal[np.clip(idx, 0, len(pal) - 1)]
    packed_w = (orig_w + (1 << width_bits) - 1) >> width_bits
    per = 1 << width_bits
    ibits = 8 >> width_bits
    mask = (1 << ibits) - 1
    g = ((pix >> 8) & 0xFF).reshape(h, packed_w)
    out = np.zeros((h, orig_w), dtype=np.uint32)
    for k in range(per):  # k-th pixel of each bundle lives in low bits first
        cols = np.arange(packed_w) * per + k
        sel = cols < orig_w
        out[:, cols[sel]] = (g[:, sel] >> (k * ibits)) & mask
    idx = out.reshape(-1)
    return pal[np.clip(idx, 0, len(pal) - 1)]


# ---------------------------------------------------------------------------
# public decode
# ---------------------------------------------------------------------------

def _decode_alph(alph: bytes, w: int, h: int) -> np.ndarray:
    """Decode an ALPH chunk to an (h, w) uint8 alpha plane.

    Header byte: 2 reserved | 2 preprocessing | 2 filtering | 2
    compression.  Compression 0 = raw bytes, 1 = a VP8L image stream
    (alpha in the green channel, no VP8L header).  Filters 1/2/3 are
    the horizontal / vertical / gradient unfilters."""
    if not alph:
        raise ValueError("ALPH: empty chunk")
    head = alph[0]
    filt = (head >> 2) & 3
    comp = head & 3
    body = alph[1:]
    if comp == 0:
        if len(body) < w * h:
            raise ValueError("ALPH: truncated raw alpha")
        a = np.frombuffer(body[:w * h], dtype=np.uint8).reshape(h, w).copy()
    elif comp == 1:
        br = _BitReader(body)
        pix, _ = _decode_image_stream(br, w, h, True)
        a = ((pix.reshape(h, w) >> 8) & 0xFF).astype(np.uint8)
    else:
        raise ValueError(f"ALPH: unknown compression {comp}")
    if filt:
        a = a.astype(np.int32)
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    pred = 0
                elif y == 0:
                    pred = a[0, x - 1]
                elif x == 0:
                    pred = a[y - 1, 0]
                elif filt == 1:
                    pred = a[y, x - 1]
                elif filt == 2:
                    pred = a[y - 1, x]
                else:
                    g = int(a[y, x - 1]) + int(a[y - 1, x]) \
                        - int(a[y - 1, x - 1])
                    pred = min(255, max(0, g))
                a[y, x] = (a[y, x] + pred) & 0xFF
        a = a.astype(np.uint8)
    return a


def decode_webp(data: bytes) -> np.ndarray:
    """Decode a WebP (RIFF container with a VP8L lossless or VP8 lossy
    key-frame stream, or a bare VP8L payload) to RGBA uint8 (h, w, 4)."""
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        pos = 12
        chunks = {}
        while pos + 8 <= len(data):
            tag = data[pos:pos + 4]
            (ln,) = struct.unpack("<I", data[pos + 4:pos + 8])
            if tag not in chunks:
                chunks[tag] = data[pos + 8:pos + 8 + ln]
            pos += 8 + ln + (ln & 1)
        if b"VP8L" in chunks:
            data = chunks[b"VP8L"]
        elif b"VP8 " in chunks:
            from karta_spark.sources.vp8 import decode_vp8
            rgb = decode_vp8(chunks[b"VP8 "])
            h, w = rgb.shape[:2]
            out = np.empty((h, w, 4), dtype=np.uint8)
            out[:, :, :3] = rgb
            if b"ALPH" in chunks:
                out[:, :, 3] = _decode_alph(chunks[b"ALPH"], w, h)
            else:
                out[:, :, 3] = 255
            return out
        else:
            raise ValueError("no VP8L or VP8 chunk in WebP container")
    if data[0] != 0x2F:
        raise ValueError("not a VP8L stream")
    br = _BitReader(data[1:])
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bit()            # alpha-used hint
    if br.bits(3) != 0:
        raise ValueError("unknown VP8L version")
    pix, transforms = _decode_image_stream(br, w, h, True)
    # apply inverses in reverse order of appearance; each transform
    # recorded the width in effect when it was read
    for t in reversed(transforms):
        if t[0] == 0:
            pix = _inv_predictor(pix, t[3], h, t[1], t[2])
        elif t[0] == 1:
            pix = _inv_cross_color(pix, t[3], h, t[1], t[2])
        elif t[0] == 2:
            pix = _inv_subtract_green(pix)
        else:
            pix = _inv_color_index(pix, t[2], t[3], t[4], h)
    pix = pix.reshape(h, w)
    out = np.zeros((h, w, 4), dtype=np.uint8)
    out[:, :, 0] = (pix >> 16) & 0xFF
    out[:, :, 1] = (pix >> 8) & 0xFF
    out[:, :, 2] = pix & 0xFF
    out[:, :, 3] = (pix >> 24) & 0xFF
    return out


# ---------------------------------------------------------------------------
# encode (fixture generation — exercises the same bitstream machinery)
# ---------------------------------------------------------------------------

def _write_code(bw: _BitWriter, codes, sym: int):
    code, ln = codes[sym]
    for b in range(ln - 1, -1, -1):
        bw.bits((code >> b) & 1, 1)


def _encode_image_stream(bw: _BitWriter, pix: np.ndarray, xsize: int,
                         cache_bits: int = 0, use_lz77: bool = False,
                         level0: bool = False):
    """Entropy-code packed-ARGB pixels (single prefix group, no meta).
    Only the level-0 (main ARGB) stream carries a meta-prefix bit."""
    n = len(pix)
    cache_size = (1 << cache_bits) if cache_bits else 0
    if cache_bits:
        bw.bits(1, 1)
        bw.bits(cache_bits, 4)
    else:
        bw.bits(0, 1)

    # tokenize: ('lit', v) | ('cache', idx) | ('copy', length, dist)
    tokens = []
    cache = [0] * cache_size
    pos = 0
    while pos < n:
        if use_lz77 and pos > 0:
            best_len, best_dist = 0, 0
            for dist in (1, xsize):
                if dist > pos:
                    continue
                ln = 0
                while (pos + ln < n and ln < 4096
                       and pix[pos + ln] == pix[pos + ln - dist]):
                    ln += 1
                if ln > best_len:
                    best_len, best_dist = ln, dist
            if best_len >= 3:
                tokens.append(("copy", best_len, best_dist))
                for k in range(best_len):
                    v = int(pix[pos + k])
                    if cache_size:
                        cache[_cache_index(v, cache_bits)] = v
                pos += best_len
                continue
        v = int(pix[pos])
        if cache_size and cache[_cache_index(v, cache_bits)] == v:
            tokens.append(("cache", _cache_index(v, cache_bits)))
        else:
            tokens.append(("lit", v))
            if cache_size:
                cache[_cache_index(v, cache_bits)] = v
        pos += 1

    green_size = _NUM_LITERAL + _NUM_LENGTH + cache_size
    fg = [0] * green_size
    fr = [0] * 256
    fb = [0] * 256
    fa = [0] * 256
    fd = [0] * _NUM_DISTANCE
    for t in tokens:
        if t[0] == "lit":
            v = t[1]
            fg[(v >> 8) & 0xFF] += 1
            fr[(v >> 16) & 0xFF] += 1
            fb[v & 0xFF] += 1
            fa[(v >> 24) & 0xFF] += 1
        elif t[0] == "cache":
            fg[_NUM_LITERAL + _NUM_LENGTH + t[1]] += 1
        else:
            lcode, _, _ = _prefix_encode(t[1])
            fg[_NUM_LITERAL + lcode] += 1
            dcode = _dist_code_for(t[2], xsize)
            pcode, _, _ = _prefix_encode(dcode)
            fd[pcode] += 1
    # every alphabet needs at least one symbol for a writable code
    for f in (fg, fr, fb, fa, fd):
        if not any(f):
            f[0] = 1

    if level0:
        bw.bits(0, 1)  # no meta prefix image (sub-streams have no bit)
    lens = [_build_lengths(f) for f in (fg, fr, fb, fa, fd)]
    for L in lens:
        _write_code_lengths(bw, L)
    cg, cr, cb, ca, cd = [_canonical_codes(L) for L in lens]
    singles = [sum(1 for x in L if x) == 1 for L in lens]

    def putsym(codes, single, sym):
        if not single:
            _write_code(bw, codes, sym)

    for t in tokens:
        if t[0] == "lit":
            v = t[1]
            putsym(cg, singles[0], (v >> 8) & 0xFF)
            putsym(cr, singles[1], (v >> 16) & 0xFF)
            putsym(cb, singles[2], v & 0xFF)
            putsym(ca, singles[3], (v >> 24) & 0xFF)
        elif t[0] == "cache":
            putsym(cg, singles[0], _NUM_LITERAL + _NUM_LENGTH + t[1])
        else:
            lcode, lx, lxb = _prefix_encode(t[1])
            putsym(cg, singles[0], _NUM_LITERAL + lcode)
            if lxb:
                bw.bits(lx, lxb)
            dcode = _dist_code_for(t[2], xsize)
            pcode, px, pxb = _prefix_encode(dcode)
            putsym(cd, singles[4], pcode)
            if pxb:
                bw.bits(px, pxb)


def _dist_code_for(dist: int, xsize: int) -> int:
    """Neighbor codes for the two offsets the encoder emits (pinned in
    tests: (1,0) is map entry 2, (0,1) is entry 1); plain otherwise."""
    if dist == 1:
        return 2
    if dist == xsize:
        return 1
    return dist + 120


def _fwd_subtract_green(pix: np.ndarray) -> np.ndarray:
    g = (pix >> 8) & 0xFF
    r = (((pix >> 16) & 0xFF) - g) & 0xFF
    b = ((pix & 0xFF) - g) & 0xFF
    return (pix & 0xFF00FF00) | (r << 16) | b


def _fwd_predictor(pix: np.ndarray, w: int, h: int, mode: int,
                   size_bits: int = 4) -> np.ndarray:
    out = np.zeros_like(pix)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = np.array([0xFF, 0, 0, 0], np.int32)
            elif y == 0:
                pred = _px_bytes(int(pix[i - 1]))
            elif x == 0:
                pred = _px_bytes(int(pix[i - w]))
            else:
                L = _px_bytes(int(pix[i - 1]))
                T = _px_bytes(int(pix[i - w]))
                TL = _px_bytes(int(pix[i - w - 1]))
                TR = _px_bytes(int(pix[i - w + 1]))
                pred = _predict(mode, L, T, TL, TR)
            cur = _px_bytes(int(pix[i]))
            out[i] = _pack_px((cur - pred) & 0xFF)
    return out


def _fwd_cross_color(pix: np.ndarray, g2r: int, g2b: int, r2b: int):
    out = np.zeros_like(pix)
    for i in range(len(pix)):
        v = int(pix[i])
        a = (v >> 24) & 0xFF
        r = (v >> 16) & 0xFF
        g = (v >> 8) & 0xFF
        b = v & 0xFF
        # inverse adds g2r to red, then g2b and r2b (with NEW red) to
        # blue; forward subtracts with the ORIGINAL red
        b2 = (b - _ct_delta(g2b & 0xFF, g) - _ct_delta(r2b & 0xFF, r)) & 0xFF
        r2 = (r - _ct_delta(g2r & 0xFF, g)) & 0xFF
        out[i] = (a << 24) | (r2 << 16) | (g << 8) | b2
    return out


def encode_webp(rgba: np.ndarray, *, subtract_green: bool = False,
                predictor: int | None = None, pred_bits: int = 4,
                cross_color: tuple | None = None,
                palette: bool = False, cache_bits: int = 0,
                use_lz77: bool = False, container: bool = True) -> bytes:
    """Encode RGB(A) uint8 to lossless WebP.

    ``predictor`` applies one fixed mode (0..13) image-wide;
    ``cross_color`` is a uniform (g2r, g2b, r2b) signed-byte triple;
    ``palette`` auto-builds a color-indexing transform (<=256 distinct
    colors, sub-byte bundling for small palettes).
    """
    rgba = np.asarray(rgba, dtype=np.uint8)
    if rgba.ndim == 2:
        rgba = np.dstack([rgba, rgba, rgba])
    if rgba.shape[2] == 3:
        rgba = np.dstack([rgba, np.full(rgba.shape[:2], 255, np.uint8)])
    h, w = rgba.shape[:2]
    pix = ((rgba[:, :, 3].astype(np.uint32) << 24)
           | (rgba[:, :, 0].astype(np.uint32) << 16)
           | (rgba[:, :, 1].astype(np.uint32) << 8)
           | rgba[:, :, 2].astype(np.uint32)).reshape(-1)

    bw = _BitWriter()
    bw.bits(w - 1, 14)
    bw.bits(h - 1, 14)
    bw.bits(int((rgba[:, :, 3] != 255).any()), 1)
    bw.bits(0, 3)  # version

    cur_w = w
    if palette:
        colors, inv = np.unique(pix, return_inverse=True)
        if len(colors) > 256:
            raise ValueError("palette mode needs <= 256 distinct colors")
        bw.bits(1, 1)
        bw.bits(3, 2)  # COLOR_INDEXING
        bw.bits(len(colors) - 1, 8)
        # delta-code the palette, then entropy-code it (literals)
        pc = colors.astype(np.uint32)
        deltas = pc.copy()
        for k in range(len(pc) - 1, 0, -1):
            a = (((pc[k] >> 24) - (pc[k - 1] >> 24)) & 0xFF) << 24
            r = (((pc[k] >> 16) - (pc[k - 1] >> 16)) & 0xFF) << 16
            g = (((pc[k] >> 8) - (pc[k - 1] >> 8)) & 0xFF) << 8
            b = ((pc[k] & 0xFF) - (pc[k - 1] & 0xFF)) & 0xFF
            deltas[k] = a | r | g | b
        _encode_image_stream(bw, deltas, len(colors))
        width_bits = _index_width_bits(len(colors))
        idx = inv.astype(np.uint32).reshape(h, w)
        if width_bits:
            per = 1 << width_bits
            ibits = 8 >> width_bits
            packed_w = (w + per - 1) // per
            packed = np.zeros((h, packed_w), np.uint32)
            for k in range(per):
                cols = np.arange(packed_w) * per + k
                sel = cols < w
                packed[:, sel] |= idx[:, cols[sel]] << (k * ibits)
            idx = packed
            cur_w = packed_w
        pix = (0xFF000000 | (idx.reshape(-1) << 8)).astype(np.uint32)
    if subtract_green:
        bw.bits(1, 1)
        bw.bits(2, 2)  # SUBTRACT_GREEN
        pix = _fwd_subtract_green(pix)
    if cross_color is not None:
        g2r, g2b, r2b = cross_color
        bw.bits(1, 1)
        bw.bits(1, 2)  # CROSS_COLOR
        bw.bits(pred_bits - 2, 3)
        bwid = (cur_w + (1 << pred_bits) - 1) >> pred_bits
        bhei = (h + (1 << pred_bits) - 1) >> pred_bits
        cte = np.full(bwid * bhei,
                      0xFF000000 | ((r2b & 0xFF) << 16)
                      | ((g2b & 0xFF) << 8) | (g2r & 0xFF), np.uint32)
        _encode_image_stream(bw, cte, bwid)
        pix = _fwd_cross_color(pix, g2r, g2b, r2b)
    if predictor is not None:
        bw.bits(1, 1)
        bw.bits(0, 2)  # PREDICTOR
        bw.bits(pred_bits - 2, 3)
        bwid = (cur_w + (1 << pred_bits) - 1) >> pred_bits
        bhei = (h + (1 << pred_bits) - 1) >> pred_bits
        modes = np.full(bwid * bhei,
                        0xFF000000 | (predictor << 8), np.uint32)
        _encode_image_stream(bw, modes, bwid)
        pix = _fwd_predictor(pix, cur_w, h, predictor, pred_bits)
    bw.bits(0, 1)  # no more transforms

    _encode_image_stream(bw, pix, cur_w, cache_bits=cache_bits,
                         use_lz77=use_lz77, level0=True)
    payload = b"\x2f" + bw.done()
    if not container:
        return payload
    pad = len(payload) & 1
    riff_size = 4 + 8 + len(payload) + pad
    return (b"RIFF" + struct.pack("<I", riff_size) + b"WEBP"
            + b"VP8L" + struct.pack("<I", len(payload))
            + payload + (b"\x00" * pad))


def encode_webp_vp8(rgb: np.ndarray, alpha: np.ndarray = None,
                    **vp8_kwargs) -> bytes:
    """Encode (h, w, 3) RGB as a lossy WebP (RIFF + 'VP8 ' key frame via
    sources/vp8.py).  ``alpha`` (h, w uint8), if given, is stored as a
    raw ALPH chunk (requires a VP8X extended header)."""
    from karta_spark.sources.vp8 import encode_vp8
    payload = encode_vp8(rgb, **vp8_kwargs)
    chunks = []
    if alpha is not None:
        h, w = rgb.shape[:2]
        alpha = np.asarray(alpha, dtype=np.uint8)
        if alpha.shape != (h, w):
            raise ValueError("alpha shape must match image")
        vp8x = bytes([0x10, 0, 0, 0]) \
            + struct.pack("<I", w - 1)[:3] + struct.pack("<I", h - 1)[:3]
        chunks.append((b"VP8X", vp8x))
        chunks.append((b"ALPH", b"\x00" + alpha.tobytes()))
    chunks.append((b"VP8 ", payload))
    body = b""
    for tag, ck in chunks:
        body += tag + struct.pack("<I", len(ck)) + ck
        if len(ck) & 1:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body


# ---------------------------------------------------------------------------
# deterministic variant corpus (gate-query + test fixtures)
# ---------------------------------------------------------------------------

VARIANTS = ("plain", "subgreen_pred7", "pal16", "cache_lz77",
            "cross_pred2", "pal4_lz77")


def variant_webp(d: int, h: int = 10, w: int = 14):
    """Closed-form RGBA image + encode options for id ``d``, cycling
    the transform matrix (every formula restated in the q80 oracle
    SQL).  Returns ``(rgba, encode_kwargs, variant_name)``."""
    v = d % 6
    ii, jj = np.mgrid[0:h, 0:w]
    img = np.zeros((h, w, 4), np.uint8)
    if v == 0:
        img[:, :, 0] = (d + 2 * ii + 3 * jj) % 256
        img[:, :, 1] = (3 * d + 5 * ii + jj) % 256
        img[:, :, 2] = (5 * d + ii + 7 * jj) % 256
        img[:, :, 3] = 255
        return img, dict(), VARIANTS[0]
    if v == 1:
        img[:, :, 0] = (d + 4 * ii + jj) % 256
        img[:, :, 1] = (2 * d + ii + 6 * jj) % 256
        img[:, :, 2] = (7 * d + 3 * ii + 2 * jj) % 256
        img[:, :, 3] = (d + ii + jj) % 256
        return img, dict(subtract_green=True, predictor=7,
                         pred_bits=3), VARIANTS[1]
    if v == 2:
        k = ((d + 3 * ii + 5 * jj) % 16)
        img[:, :, 0] = (37 * k + 11) % 256
        img[:, :, 1] = (59 * k + 3) % 256
        img[:, :, 2] = (83 * k + 7) % 256
        img[:, :, 3] = (29 * k + 200) % 256
        return img, dict(palette=True), VARIANTS[2]
    if v == 3:
        g = (d + ii + (jj // 4) * 9) % 256  # row runs of 4 -> LZ77
        img[:, :, 0] = g
        img[:, :, 1] = g
        img[:, :, 2] = g
        img[:, :, 3] = 255
        return img, dict(cache_bits=6, use_lz77=True), VARIANTS[3]
    if v == 4:
        img[:, :, 0] = (11 * d + ii + jj) % 256
        img[:, :, 1] = (d + 9 * ii + 2 * jj) % 256
        img[:, :, 2] = (13 * d + 2 * ii + 5 * jj) % 256
        img[:, :, 3] = 255
        return img, dict(cross_color=(17, -23, 9),
                         predictor=2, pred_bits=4), VARIANTS[4]
    k = (ii + jj + d) % 4
    img[:, :, 0] = (17 * k + d) % 256
    img[:, :, 1] = (31 * k + 2 * d) % 256
    img[:, :, 2] = (43 * k + 5) % 256
    img[:, :, 3] = 255
    return img, dict(palette=True, use_lz77=True), VARIANTS[5]


def variant_census_row(d: int, h: int = 10, w: int = 14):
    """Encode + decode id ``d``'s WebP variant; returns ``(variant,
    got_sum, n_px_match)`` — got_sum over all four RGBA channels."""
    expect, kwargs, name = variant_webp(d, h, w)
    got = decode_webp(encode_webp(expect, **kwargs))
    got_sum = int(got.astype(np.int64).sum())
    n_match = int((got == expect).all(axis=2).sum())
    return name, got_sum, n_match
