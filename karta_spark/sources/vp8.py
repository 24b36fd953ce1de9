"""Lossy WebP: VP8 intra-frame (key frame) codec — RFC 6386, from scratch.

The reference reads any GDAL-supported raster (reference _gdal.py:114-188),
which includes lossy WebP; most real web-crawled ``.webp`` is lossy VP8,
not VP8L, so this closes the biggest real-data gap in the decode surface
(webp.py previously raised on a VP8 chunk and robust ingest counted the
file as ``n_err``).

Scope: key frames only — which is exactly what a WebP still image is
(RIFF/WEBP + 'VP8 ' chunk is always a single key frame).  Implements:

* the boolean arithmetic coder (RFC 6386 §7, exact integer algorithm),
* key-frame headers, segmentation, loop-filter params, token partitions,
* coefficient token decoding with the default probability tables
  (§13.5) plus in-stream updates,
* dequantization (§14.1 lookup tables + per-plane deltas),
* inverse WHT (Y2) and the exact fixed-point inverse DCT (§14.3-14.4),
* all intra prediction modes: 16x16 / chroma DC,V,H,TM and the ten
  4x4 B_PRED sub-modes (§12),
* the normal and simple in-loop deblocking filters (§15),
* YUV 4:2:0 -> RGB conversion (BT.601 studio swing, libwebp-compatible
  integer approximation).

A matching key-frame *encoder* (forward DCT + quantize + tokenize with
the default probabilities, 16x16 modes) generates fixtures so the
decoder is exercised end-to-end without external binaries; the bool
coder, IDCT and loop filter are additionally pinned by hand-computed
vectors so a symmetric encoder/decoder bug cannot hide (the predictor-13
lesson from ADVICE r6).

PSNR >= 40 dB roundtrips at low QP satisfy the north rule's lossy-decode
invariant; bit-exactness vs libwebp cannot be asserted in this sandbox
(no libwebp), which is documented here rather than papered over.
"""
from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_vp8", "encode_vp8", "vp8_dimensions"]


# ---------------------------------------------------------------------------
# Boolean arithmetic coder — RFC 6386 §7.2/7.3, exact integer algorithm.
# ---------------------------------------------------------------------------

class BoolDecoder:
    __slots__ = ("buf", "pos", "range", "value", "bit_count")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 2
        b0 = buf[0] if len(buf) > 0 else 0
        b1 = buf[1] if len(buf) > 1 else 0
        self.value = (b0 << 8) | b1
        self.range = 255
        self.bit_count = 0

    def read(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            ret = 1
            self.range -= split
            self.value -= big
        else:
            ret = 0
            self.range = split
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                if self.pos < len(self.buf):
                    self.value |= self.buf[self.pos]
                self.pos += 1
        return ret

    def bit(self) -> int:
        return self.read(128)

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read(128)
        return v

    def signed_literal(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.read(128) else v

    def flag_signed(self, n: int) -> int:
        """Optional signed literal: flag bit, then n-bit magnitude+sign."""
        return self.signed_literal(n) if self.bit() else 0

    def tree(self, tree, probs, start: int = 0) -> int:
        i = tree[start + self.read(probs[start >> 1])]
        while i > 0:
            i = tree[i + self.read(probs[i >> 1])]
        return -i


class BoolEncoder:
    """RFC 6386 §7.2 encoder (bottom/range/bit_count with carry)."""

    def __init__(self):
        self.out = bytearray()
        self.range = 255
        self.bottom = 0
        self.bit_count = 24

    def _carry(self):
        i = len(self.out) - 1
        while i >= 0 and self.out[i] == 0xFF:
            self.out[i] = 0
            i -= 1
        if i >= 0:
            self.out[i] += 1

    def write(self, bit: int, prob: int):
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.bottom += split
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.range <<= 1
            if self.bottom & (1 << 31):
                self._carry()
            self.bottom = (self.bottom << 1) & 0xFFFFFFFF
            self.bit_count -= 1
            if self.bit_count == 0:
                self.out.append((self.bottom >> 24) & 0xFF)
                self.bottom &= (1 << 24) - 1
                self.bit_count = 8

    def bit(self, b: int):
        self.write(b, 128)

    def literal(self, v: int, n: int):
        for shift in range(n - 1, -1, -1):
            self.write((v >> shift) & 1, 128)

    def signed_literal(self, v: int, n: int):
        self.literal(abs(v), n)
        self.bit(1 if v < 0 else 0)

    def flag_signed(self, v: int, n: int):
        if v:
            self.bit(1)
            self.signed_literal(v, n)
        else:
            self.bit(0)

    def tree(self, tree, probs, bits):
        """Encode a (bit, node) path produced by :func:`tree_path`."""
        for b, node in bits:
            self.write(b, probs[node >> 1])

    def flush(self) -> bytes:
        c = self.bit_count
        v = self.bottom
        if v & (1 << (32 - c)):
            self._carry()
        v = (v << (c & 7)) & 0xFFFFFFFF
        c >>= 3
        while c > 0:
            v = (v << 8) & 0xFFFFFFFF
            c -= 1
        for _ in range(4):
            self.out.append((v >> 24) & 0xFF)
            v = (v << 8) & 0xFFFFFFFF
        return bytes(self.out)


def tree_path(tree, value: int, start: int = 0):
    """(bit, node_index) path that encodes ``value`` in ``tree``."""
    # walk every path from the root; trees are tiny so this is fine
    stack = [(start, [])]
    while stack:
        node, path = stack.pop()
        for b in (0, 1):
            nxt = tree[node + b]
            if nxt <= 0:
                if -nxt == value:
                    return path + [(b, node)]
            else:
                stack.append((nxt, path + [(b, node)]))
    raise ValueError(f"value {value} not in tree")


# ---------------------------------------------------------------------------
# Mode constants and coding trees — RFC 6386 §8.2, §11.2-11.5.
# ---------------------------------------------------------------------------

DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4

(B_DC_PRED, B_TM_PRED, B_VE_PRED, B_HE_PRED, B_LD_PRED,
 B_RD_PRED, B_VR_PRED, B_VL_PRED, B_HD_PRED, B_HU_PRED) = range(10)

KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
KF_YMODE_PROB = (145, 156, 163, 128)

UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
KF_UV_MODE_PROB = (142, 114, 183)

BMODE_TREE = (
    -B_DC_PRED, 2,
    -B_TM_PRED, 4,
    -B_VE_PRED, 6,
    8, 12,
    -B_HE_PRED, 10,
    -B_RD_PRED, -B_VR_PRED,
    -B_LD_PRED, 14,
    -B_VL_PRED, 16,
    -B_HD_PRED, -B_HU_PRED,
)

MB_SEGMENT_TREE = (2, 4, -0, -1, -2, -3)

# ---------------------------------------------------------------------------
# Coefficient tokens — RFC 6386 §13.2.
# ---------------------------------------------------------------------------

(ZERO_TOKEN, ONE_TOKEN, TWO_TOKEN, THREE_TOKEN, FOUR_TOKEN,
 CAT1_TOKEN, CAT2_TOKEN, CAT3_TOKEN, CAT4_TOKEN, CAT5_TOKEN,
 CAT6_TOKEN, EOB_TOKEN) = range(12)

COEF_TREE = (
    -EOB_TOKEN, 2,
    -ZERO_TOKEN, 4,
    -ONE_TOKEN, 6,
    8, 12,
    -TWO_TOKEN, 10,
    -THREE_TOKEN, -FOUR_TOKEN,
    14, 16,
    -CAT1_TOKEN, -CAT2_TOKEN,
    18, 20,
    -CAT3_TOKEN, -CAT4_TOKEN,
    -CAT5_TOKEN, -CAT6_TOKEN,
)

# (base value, extra-bit probabilities) per category token
CAT_BASE = {CAT1_TOKEN: 5, CAT2_TOKEN: 7, CAT3_TOKEN: 11,
            CAT4_TOKEN: 19, CAT5_TOKEN: 35, CAT6_TOKEN: 67}
CAT_PROBS = {
    CAT1_TOKEN: (159,),
    CAT2_TOKEN: (165, 145),
    CAT3_TOKEN: (173, 148, 140),
    CAT4_TOKEN: (176, 155, 140, 135),
    CAT5_TOKEN: (180, 157, 141, 134, 130),
    CAT6_TOKEN: (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
}

ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
COEF_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)

# ---------------------------------------------------------------------------
# Quantizer lookups — RFC 6386 §14.1.
# ---------------------------------------------------------------------------

DC_QLOOKUP = (
    4, 5, 6, 7, 8, 9, 10, 10, 11, 12, 13, 14, 15, 16, 17, 17,
    18, 19, 20, 20, 21, 21, 22, 22, 23, 23, 24, 25, 25, 26, 27, 28,
    29, 30, 31, 32, 33, 34, 35, 36, 37, 37, 38, 39, 40, 41, 42, 43,
    44, 45, 46, 46, 47, 48, 49, 50, 51, 52, 53, 54, 55, 56, 57, 58,
    59, 60, 61, 62, 63, 64, 65, 66, 67, 68, 69, 70, 71, 72, 73, 74,
    75, 76, 76, 77, 78, 79, 80, 81, 82, 83, 84, 85, 86, 87, 88, 89,
    91, 93, 95, 96, 98, 100, 101, 102, 104, 106, 108, 110, 112, 114,
    116, 118, 122, 124, 126, 128, 130, 132, 134, 136, 138, 140, 143,
    145, 148, 151, 154, 157,
)

AC_QLOOKUP = (
    4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19,
    20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35,
    36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47, 48, 49, 50, 51,
    52, 53, 54, 55, 56, 57, 58, 60, 62, 64, 66, 68, 70, 72, 74, 76,
    78, 80, 82, 84, 86, 88, 90, 92, 94, 96, 98, 100, 102, 104, 106,
    108, 110, 112, 114, 116, 119, 122, 125, 128, 131, 134, 137, 140,
    143, 146, 149, 152, 155, 158, 161, 164, 167, 170, 173, 177, 181,
    185, 189, 193, 197, 201, 205, 209, 213, 217, 221, 225, 229, 234,
    239, 245, 249, 254, 259, 264, 269, 274, 279, 284,
)

assert len(DC_QLOOKUP) == 128 and len(AC_QLOOKUP) == 128

# ---------------------------------------------------------------------------
# Default coefficient probabilities — RFC 6386 §13.5
# [block_type 4][band 8][context 3][node 11].
# Block types: 0 = Y after Y2 (first coeff 1), 1 = Y2, 2 = chroma,
# 3 = Y with DC (B_PRED / no Y2).
# ---------------------------------------------------------------------------

DEFAULT_COEFF_PROBS = (
    (  # block type 0
        ((128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128),
         (128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128),
         (128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128)),
        ((253, 136, 254, 255, 228, 219, 128, 128, 128, 128, 128),
         (189, 129, 242, 255, 227, 213, 255, 219, 128, 128, 128),
         (106, 126, 227, 252, 214, 209, 255, 255, 128, 128, 128)),
        ((1, 98, 248, 255, 236, 226, 255, 255, 128, 128, 128),
         (181, 133, 238, 254, 221, 234, 255, 154, 128, 128, 128),
         (78, 134, 202, 247, 198, 180, 255, 219, 128, 128, 128)),
        ((1, 185, 249, 255, 243, 255, 128, 128, 128, 128, 128),
         (184, 150, 247, 255, 236, 224, 128, 128, 128, 128, 128),
         (77, 110, 216, 255, 236, 230, 128, 128, 128, 128, 128)),
        ((1, 101, 251, 255, 241, 255, 128, 128, 128, 128, 128),
         (170, 139, 241, 252, 236, 209, 255, 255, 128, 128, 128),
         (37, 116, 196, 243, 228, 255, 255, 255, 128, 128, 128)),
        ((1, 204, 254, 255, 245, 255, 128, 128, 128, 128, 128),
         (207, 160, 250, 255, 238, 128, 128, 128, 128, 128, 128),
         (102, 103, 225, 255, 210, 240, 128, 128, 128, 128, 128)),
        ((1, 152, 252, 255, 240, 255, 128, 128, 128, 128, 128),
         (177, 135, 243, 255, 234, 225, 128, 128, 128, 128, 128),
         (80, 129, 211, 255, 194, 224, 128, 128, 128, 128, 128)),
        ((1, 1, 243, 255, 254, 255, 128, 128, 128, 128, 128),
         (238, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128),
         (75, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128)),
    ),
    (  # block type 1 (Y2)
        ((198, 35, 237, 223, 193, 187, 162, 160, 145, 155, 62),
         (131, 45, 198, 221, 172, 176, 220, 157, 252, 221, 1),
         (68, 47, 146, 208, 149, 167, 221, 162, 255, 223, 128)),
        ((1, 149, 241, 255, 221, 224, 255, 255, 128, 128, 128),
         (184, 141, 234, 253, 222, 220, 255, 199, 128, 128, 128),
         (81, 99, 181, 242, 176, 190, 249, 202, 255, 255, 128)),
        ((1, 129, 232, 253, 214, 197, 242, 196, 255, 255, 128),
         (99, 121, 210, 250, 201, 198, 255, 202, 128, 128, 128),
         (23, 91, 163, 242, 170, 187, 247, 210, 255, 255, 128)),
        ((1, 200, 246, 255, 234, 255, 128, 128, 128, 128, 128),
         (109, 178, 241, 255, 231, 245, 255, 255, 128, 128, 128),
         (44, 130, 201, 253, 205, 192, 255, 255, 128, 128, 128)),
        ((1, 132, 239, 251, 219, 209, 255, 165, 128, 128, 128),
         (94, 136, 225, 251, 218, 190, 255, 255, 128, 128, 128),
         (22, 100, 174, 245, 186, 161, 255, 199, 128, 128, 128)),
        ((1, 182, 249, 255, 232, 235, 128, 128, 128, 128, 128),
         (124, 143, 241, 255, 227, 234, 128, 128, 128, 128, 128),
         (35, 77, 181, 251, 193, 211, 255, 205, 128, 128, 128)),
        ((1, 157, 247, 255, 236, 231, 255, 255, 128, 128, 128),
         (121, 141, 235, 255, 225, 227, 255, 255, 128, 128, 128),
         (45, 99, 188, 251, 195, 217, 255, 224, 128, 128, 128)),
        ((1, 1, 251, 255, 213, 255, 128, 128, 128, 128, 128),
         (203, 1, 248, 255, 255, 128, 128, 128, 128, 128, 128),
         (137, 1, 177, 255, 224, 255, 128, 128, 128, 128, 128)),
    ),
    (  # block type 2 (chroma)
        ((253, 9, 248, 251, 207, 208, 255, 192, 128, 128, 128),
         (175, 13, 224, 243, 193, 185, 249, 198, 255, 255, 128),
         (73, 17, 171, 221, 161, 179, 236, 167, 255, 234, 128)),
        ((1, 95, 247, 253, 212, 183, 255, 255, 128, 128, 128),
         (239, 90, 244, 250, 211, 209, 255, 255, 128, 128, 128),
         (155, 77, 195, 248, 188, 195, 255, 255, 128, 128, 128)),
        ((1, 24, 239, 251, 218, 219, 255, 205, 128, 128, 128),
         (201, 51, 219, 255, 196, 186, 128, 128, 128, 128, 128),
         (69, 46, 190, 239, 201, 218, 255, 228, 128, 128, 128)),
        ((1, 191, 251, 255, 255, 128, 128, 128, 128, 128, 128),
         (223, 165, 249, 255, 213, 255, 128, 128, 128, 128, 128),
         (141, 124, 248, 255, 255, 128, 128, 128, 128, 128, 128)),
        ((1, 16, 248, 255, 255, 128, 128, 128, 128, 128, 128),
         (190, 36, 230, 255, 236, 255, 128, 128, 128, 128, 128),
         (149, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128)),
        ((1, 226, 255, 128, 128, 128, 128, 128, 128, 128, 128),
         (247, 192, 255, 128, 128, 128, 128, 128, 128, 128, 128),
         (240, 128, 255, 128, 128, 128, 128, 128, 128, 128, 128)),
        ((1, 134, 252, 255, 255, 128, 128, 128, 128, 128, 128),
         (213, 62, 250, 255, 255, 128, 128, 128, 128, 128, 128),
         (55, 93, 255, 128, 128, 128, 128, 128, 128, 128, 128)),
        ((128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128),
         (128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128),
         (128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128)),
    ),
    (  # block type 3 (Y with DC)
        ((202, 24, 213, 235, 186, 191, 220, 160, 240, 175, 255),
         (126, 38, 166, 203, 165, 160, 226, 228, 229, 217, 255),
         (61, 46, 138, 219, 151, 178, 240, 170, 255, 216, 128)),
        ((1, 112, 230, 250, 199, 191, 247, 159, 255, 255, 128),
         (166, 109, 228, 252, 211, 215, 255, 223, 128, 128, 128),
         (39, 77, 162, 232, 172, 180, 245, 178, 255, 255, 128)),
        ((1, 52, 220, 246, 198, 199, 249, 220, 255, 255, 128),
         (124, 74, 191, 243, 183, 193, 250, 221, 255, 255, 128),
         (24, 71, 130, 219, 154, 170, 243, 182, 255, 255, 128)),
        ((1, 182, 225, 249, 219, 240, 255, 224, 128, 128, 128),
         (149, 150, 226, 252, 216, 205, 255, 171, 128, 128, 128),
         (28, 108, 170, 242, 183, 194, 254, 223, 255, 255, 128)),
        ((1, 81, 230, 252, 204, 203, 255, 192, 128, 128, 128),
         (123, 102, 209, 247, 188, 196, 255, 233, 128, 128, 128),
         (20, 95, 153, 243, 164, 173, 255, 203, 128, 128, 128)),
        ((1, 222, 248, 255, 216, 213, 128, 128, 128, 128, 128),
         (168, 175, 246, 252, 235, 205, 255, 255, 128, 128, 128),
         (47, 116, 215, 255, 211, 212, 255, 255, 128, 128, 128)),
        ((1, 121, 236, 253, 212, 214, 255, 255, 128, 128, 128),
         (141, 84, 213, 252, 201, 202, 255, 219, 128, 128, 128),
         (42, 80, 160, 240, 162, 185, 255, 205, 128, 128, 128)),
        ((1, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128),
         (244, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128),
         (238, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128)),
    ),
)

# ---------------------------------------------------------------------------
# Coefficient-probability *update* probabilities — RFC 6386 §13.4.
# Same shape as DEFAULT_COEFF_PROBS.  NOTE: reconstructed from the
# published spec tables; the fixture encoder never emits updates (all
# flags 0), so encoder/decoder stay consistent regardless, and a wrong
# byte here only matters for exotic third-party streams that do update.
# ---------------------------------------------------------------------------

_U = 255  # the overwhelmingly common entry


def _upd(rows):
    """rows: list of 3 tuples, each padded with 255 to 11 entries."""
    return tuple(tuple(list(r) + [_U] * (11 - len(r))) for r in rows)


COEFF_UPDATE_PROBS = (
    (  # block type 0
        _upd([(), (), ()]),
        _upd([(176, 246), (223, 241, 252), (249, 253, 253)]),
        _upd([(255, 244, 252), (234, 254, 254), (253, 255, 254, 254)]),
        _upd([(255, 246, 254), (239, 253, 254), (254, 255, 254)]),
        _upd([(255, 248, 254), (251, 255, 254), ()]),
        _upd([(255, 253, 254), (251, 254, 254), (254, 255, 254)]),
        _upd([(255, 254, 253, 255, 254), (250, 255, 254, 255, 254),
              (254,)]),
        _upd([(), (), ()]),
    ),
    (  # block type 1 (Y2)
        _upd([(217,), (225, 252, 241, 253, 255, 255, 254),
              (234, 250, 241, 250, 253, 255, 253, 254)]),
        _upd([(255, 254), (223, 254, 254), (238, 253, 254, 254)]),
        _upd([(255, 248, 254), (249, 254), ()]),
        _upd([(255, 253), (247, 254), ()]),
        _upd([(255, 253, 254), (252,), ()]),
        _upd([(255, 254, 254), (253,), ()]),
        _upd([(255, 254, 253), (250,), (254,)]),
        _upd([(), (), ()]),
    ),
    (  # block type 2 (chroma)
        _upd([(186,), (234, 251, 244, 254),
              (251, 251, 243, 253, 254, 255, 254)]),
        _upd([(255, 253, 254), (236, 253, 254),
              (251, 253, 253, 254, 254)]),
        _upd([(255, 254, 254), (254, 254, 254), (254, 254, 254)]),
        _upd([(255, 254, 255), (254, 254, 255), (254,)]),
        _upd([(255, 251), (251, 254), (254, 254)]),
        _upd([(255, 254), (254, 254), ()]),
        _upd([(255, 254, 254), (254, 254), (254,)]),
        _upd([(), (), ()]),
    ),
    (  # block type 3 (Y with DC)
        _upd([(248,), (250, 254, 252, 254),
              (248, 254, 249, 253)]),
        _upd([(255, 253, 254), (246, 253, 253),
              (252, 254, 251, 254, 254)]),
        _upd([(255, 254, 252), (248, 254, 253), (253, 255, 254, 254)]),
        _upd([(255, 251, 254), (245, 251, 254), (253, 255, 254)]),
        _upd([(255, 251, 253), (252, 253, 254), (255, 254)]),
        _upd([(255, 252, 255), (249, 255, 254), (255, 255, 254)]),
        _upd([(255, 255, 253), (250,), (254,)]),
        _upd([(), (), ()]),
    ),
)

# ---------------------------------------------------------------------------
# Key-frame B_PRED sub-mode probabilities, conditioned on the
# above/left sub-modes — RFC 6386 §11.5 kf_bmode_prob[10][10][9].
# ---------------------------------------------------------------------------

KF_BMODE_PROB = (
    (
        (231, 120, 48, 89, 115, 113, 120, 152, 112),
        (152, 179, 64, 126, 170, 118, 46, 70, 95),
        (175, 69, 143, 80, 85, 82, 72, 155, 103),
        (56, 58, 10, 171, 218, 189, 17, 13, 152),
        (144, 71, 10, 38, 171, 213, 144, 34, 26),
        (114, 26, 17, 163, 44, 195, 21, 10, 173),
        (121, 24, 80, 195, 26, 62, 44, 64, 85),
        (170, 46, 55, 19, 136, 160, 33, 206, 71),
        (63, 20, 8, 114, 114, 208, 12, 9, 226),
        (81, 40, 11, 96, 182, 84, 29, 16, 36),
    ),
    (
        (134, 183, 89, 137, 98, 101, 106, 165, 148),
        (72, 187, 100, 130, 157, 111, 32, 75, 80),
        (66, 102, 167, 99, 74, 62, 40, 234, 128),
        (41, 53, 9, 178, 241, 141, 26, 8, 107),
        (104, 79, 12, 27, 217, 255, 87, 17, 7),
        (74, 43, 26, 146, 73, 166, 49, 23, 157),
        (65, 38, 105, 160, 51, 52, 31, 115, 128),
        (87, 68, 71, 44, 114, 51, 15, 186, 23),
        (47, 41, 14, 110, 182, 183, 21, 17, 194),
        (66, 45, 25, 102, 197, 189, 23, 18, 22),
    ),
    (
        (88, 88, 147, 150, 42, 46, 45, 196, 205),
        (43, 97, 183, 117, 85, 38, 35, 179, 61),
        (39, 53, 200, 87, 26, 21, 43, 232, 171),
        (56, 34, 51, 104, 114, 102, 29, 93, 77),
        (107, 54, 32, 26, 51, 1, 81, 43, 31),
        (39, 28, 85, 171, 58, 165, 90, 98, 64),
        (34, 22, 116, 206, 23, 34, 43, 166, 73),
        (68, 25, 106, 22, 64, 171, 36, 225, 114),
        (34, 19, 21, 102, 132, 188, 16, 76, 124),
        (62, 18, 78, 95, 85, 57, 50, 48, 51),
    ),
    (
        (193, 101, 35, 159, 215, 111, 89, 46, 111),
        (60, 148, 31, 172, 219, 228, 21, 18, 111),
        (112, 113, 77, 85, 179, 255, 38, 120, 114),
        (40, 42, 1, 196, 245, 209, 10, 25, 109),
        (100, 80, 8, 43, 154, 1, 51, 26, 71),
        (88, 43, 29, 140, 166, 213, 37, 43, 154),
        (61, 63, 30, 155, 67, 45, 68, 1, 209),
        (142, 78, 78, 16, 255, 128, 34, 197, 171),
        (41, 40, 5, 102, 211, 183, 4, 1, 221),
        (51, 50, 17, 168, 209, 192, 23, 25, 82),
    ),
    (
        (125, 98, 42, 88, 104, 85, 117, 175, 82),
        (95, 84, 53, 89, 128, 100, 113, 101, 45),
        (75, 79, 123, 47, 51, 128, 81, 171, 1),
        (57, 17, 5, 71, 102, 57, 53, 41, 49),
        (115, 21, 2, 10, 102, 255, 166, 23, 6),
        (38, 33, 13, 121, 57, 73, 26, 1, 85),
        (41, 10, 67, 138, 77, 110, 90, 47, 114),
        (101, 29, 16, 10, 85, 128, 101, 196, 26),
        (57, 18, 10, 102, 102, 213, 34, 20, 43),
        (117, 20, 15, 36, 163, 128, 68, 1, 26),
    ),
    (
        (138, 31, 36, 171, 27, 166, 38, 44, 229),
        (67, 87, 58, 169, 82, 115, 26, 59, 179),
        (63, 59, 90, 180, 59, 166, 93, 73, 154),
        (40, 40, 21, 116, 143, 209, 34, 39, 175),
        (57, 46, 22, 24, 128, 1, 54, 17, 37),
        (47, 15, 16, 183, 34, 223, 49, 45, 183),
        (46, 17, 33, 183, 6, 98, 15, 32, 183),
        (65, 32, 73, 115, 28, 128, 23, 128, 205),
        (40, 3, 9, 115, 51, 192, 18, 6, 223),
        (87, 37, 9, 115, 59, 77, 64, 21, 47),
    ),
    (
        (104, 55, 44, 218, 9, 54, 53, 130, 226),
        (64, 90, 70, 205, 40, 41, 23, 26, 57),
        (54, 57, 112, 184, 5, 41, 38, 166, 213),
        (30, 34, 26, 133, 152, 116, 10, 32, 134),
        (75, 32, 12, 51, 192, 255, 160, 43, 51),
        (39, 19, 53, 221, 26, 114, 32, 73, 255),
        (31, 9, 65, 234, 2, 15, 1, 118, 73),
        (88, 31, 35, 67, 102, 85, 55, 186, 85),
        (56, 21, 23, 111, 59, 205, 45, 37, 192),
        (55, 38, 70, 124, 73, 102, 1, 34, 98),
    ),
    (
        (102, 61, 71, 37, 34, 53, 31, 243, 192),
        (69, 60, 71, 38, 73, 119, 28, 222, 37),
        (68, 45, 128, 34, 1, 47, 11, 245, 147),
        (62, 17, 19, 70, 146, 85, 55, 62, 70),
        (75, 15, 9, 9, 64, 255, 184, 119, 16),
        (37, 43, 37, 154, 100, 163, 85, 160, 1),
        (63, 9, 92, 136, 28, 64, 32, 201, 85),
        (86, 6, 28, 5, 64, 255, 25, 248, 1),
        (56, 8, 17, 132, 137, 255, 55, 116, 128),
        (58, 15, 20, 82, 135, 57, 26, 121, 40),
    ),
    (
        (164, 50, 31, 137, 154, 133, 25, 35, 218),
        (51, 103, 44, 131, 131, 123, 31, 6, 158),
        (86, 40, 64, 135, 148, 224, 45, 183, 128),
        (22, 26, 17, 131, 240, 154, 14, 1, 209),
        (83, 12, 13, 54, 192, 255, 68, 47, 28),
        (45, 16, 21, 91, 64, 222, 7, 1, 197),
        (56, 21, 39, 155, 60, 138, 23, 102, 213),
        (85, 26, 85, 85, 128, 128, 32, 146, 171),
        (18, 11, 7, 63, 144, 171, 4, 4, 246),
        (35, 27, 10, 146, 174, 171, 12, 26, 128),
    ),
    (
        (190, 80, 35, 99, 180, 80, 126, 54, 45),
        (85, 126, 47, 87, 176, 51, 41, 20, 32),
        (101, 75, 128, 139, 118, 146, 116, 128, 85),
        (56, 41, 15, 176, 236, 85, 37, 9, 62),
        (146, 36, 19, 30, 171, 255, 97, 27, 20),
        (71, 30, 17, 119, 118, 255, 17, 18, 138),
        (101, 38, 60, 138, 55, 70, 43, 26, 142),
        (138, 45, 61, 62, 219, 1, 81, 188, 64),
        (32, 41, 20, 117, 151, 142, 20, 21, 163),
        (112, 19, 12, 61, 195, 128, 48, 4, 24),
    ),
)

# ---------------------------------------------------------------------------
# Frame header — RFC 6386 §9.
# ---------------------------------------------------------------------------

def _parse_uncompressed_header(data: bytes):
    if len(data) < 10:
        raise ValueError("VP8: truncated frame")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    keyframe = not (tag & 1)
    version = (tag >> 1) & 7
    show = (tag >> 4) & 1
    part1_size = tag >> 5
    if not keyframe:
        raise ValueError("VP8: interframe (WebP stills are key frames)")
    if data[3:6] != b"\x9d\x01\x2a":
        raise ValueError("VP8: bad start code")
    (w16,) = struct.unpack("<H", data[6:8])
    (h16,) = struct.unpack("<H", data[8:10])
    return dict(version=version, show=show, part1_size=part1_size,
                width=w16 & 0x3FFF, xscale=w16 >> 14,
                height=h16 & 0x3FFF, yscale=h16 >> 14)


def vp8_dimensions(data: bytes):
    """(width, height) of a VP8 key frame payload without decoding."""
    h = _parse_uncompressed_header(data)
    return h["width"], h["height"]


def _clamp_q(q: int) -> int:
    return 0 if q < 0 else (127 if q > 127 else q)


def _dequant_factors(qi: int, deltas):
    """Per-plane (dc, ac) dequant factors — RFC 6386 §14.1."""
    y1dc_d, y2dc_d, y2ac_d, uvdc_d, uvac_d = deltas
    y1dc = DC_QLOOKUP[_clamp_q(qi + y1dc_d)]
    y1ac = AC_QLOOKUP[_clamp_q(qi)]
    y2dc = DC_QLOOKUP[_clamp_q(qi + y2dc_d)] * 2
    y2ac = AC_QLOOKUP[_clamp_q(qi + y2ac_d)] * 155 // 100
    if y2ac < 8:
        y2ac = 8
    uvdc = DC_QLOOKUP[_clamp_q(qi + uvdc_d)]
    if uvdc > 132:
        uvdc = 132
    uvac = AC_QLOOKUP[_clamp_q(qi + uvac_d)]
    return dict(y1=(y1dc, y1ac), y2=(y2dc, y2ac), uv=(uvdc, uvac))


def _parse_header_part1(bd: BoolDecoder):
    """Key-frame compressed header (RFC 6386 §9.2-9.11); returns a dict."""
    hdr = {}
    hdr["color_space"] = bd.bit()
    hdr["clamping_type"] = bd.bit()

    seg = dict(enabled=bd.bit(), update_map=0, abs_delta=0,
               q_delta=[0, 0, 0, 0], lf_delta=[0, 0, 0, 0],
               tree_probs=[255, 255, 255])
    if seg["enabled"]:
        seg["update_map"] = bd.bit()
        update_data = bd.bit()
        if update_data:
            seg["abs_delta"] = bd.bit()
            seg["q_delta"] = [bd.flag_signed(7) for _ in range(4)]
            seg["lf_delta"] = [bd.flag_signed(6) for _ in range(4)]
        if seg["update_map"]:
            seg["tree_probs"] = [bd.literal(8) if bd.bit() else 255
                                 for _ in range(3)]
    hdr["seg"] = seg

    hdr["filter_type"] = bd.bit()          # 1 = simple
    hdr["filter_level"] = bd.literal(6)
    hdr["sharpness"] = bd.literal(3)
    lfd = dict(enabled=bd.bit(), ref=[0, 0, 0, 0], mode=[0, 0, 0, 0])
    if lfd["enabled"]:
        if bd.bit():                       # deltas updated this frame
            lfd["ref"] = [bd.flag_signed(6) for _ in range(4)]
            lfd["mode"] = [bd.flag_signed(6) for _ in range(4)]
    hdr["lf_delta"] = lfd

    hdr["n_token_parts"] = 1 << bd.literal(2)

    qi = bd.literal(7)
    deltas = [bd.flag_signed(4) for _ in range(5)]
    hdr["q_index"] = qi
    hdr["q_deltas"] = deltas

    hdr["refresh_entropy"] = bd.bit()

    probs = [[[list(DEFAULT_COEFF_PROBS[t][b][c]) for c in range(3)]
              for b in range(8)] for t in range(4)]
    for t in range(4):
        for b in range(8):
            for c in range(3):
                upd = COEFF_UPDATE_PROBS[t][b][c]
                row = probs[t][b][c]
                for n in range(11):
                    if bd.read(upd[n]):
                        row[n] = bd.literal(8)
    hdr["coeff_probs"] = probs

    hdr["skip_enabled"] = bd.bit()
    hdr["prob_skip"] = bd.literal(8) if hdr["skip_enabled"] else 0
    return hdr


# ---------------------------------------------------------------------------
# Inverse transforms — RFC 6386 §14.3/14.4 (exact fixed-point).
# ---------------------------------------------------------------------------

def inv_walsh4x4(coeffs):
    """Inverse WHT for the Y2 block -> 16 luma DC values (natural order)."""
    ip = [int(v) for v in coeffs]
    t = [0] * 16
    for i in range(4):
        a1 = ip[i] + ip[12 + i]
        b1 = ip[4 + i] + ip[8 + i]
        c1 = ip[4 + i] - ip[8 + i]
        d1 = ip[i] - ip[12 + i]
        t[i] = a1 + b1
        t[4 + i] = c1 + d1
        t[8 + i] = a1 - b1
        t[12 + i] = d1 - c1
    out = [0] * 16
    for i in range(4):
        base = 4 * i
        a1 = t[base] + t[base + 3]
        b1 = t[base + 1] + t[base + 2]
        c1 = t[base + 1] - t[base + 2]
        d1 = t[base] - t[base + 3]
        out[base] = (a1 + b1 + 3) >> 3
        out[base + 1] = (c1 + d1 + 3) >> 3
        out[base + 2] = (a1 - b1 + 3) >> 3
        out[base + 3] = (d1 - c1 + 3) >> 3
    return out


_COSPI8 = 20091   # cos(pi/8)*sqrt(2) - 1 in Q16
_SINPI8 = 35468   # sin(pi/8)*sqrt(2) in Q16


def inv_dct4x4(block):
    """Exact VP8 inverse DCT (§14.4); 4x4 int array in, int array out."""
    b = np.asarray(block, dtype=np.int64).reshape(4, 4)
    t = np.zeros((4, 4), dtype=np.int64)
    for j in range(4):
        a1 = b[0, j] + b[2, j]
        b1 = b[0, j] - b[2, j]
        t1 = (b[1, j] * _SINPI8) >> 16
        t2 = b[3, j] + ((b[3, j] * _COSPI8) >> 16)
        c1 = t1 - t2
        t1 = b[1, j] + ((b[1, j] * _COSPI8) >> 16)
        t2 = (b[3, j] * _SINPI8) >> 16
        d1 = t1 + t2
        t[0, j] = a1 + d1
        t[3, j] = a1 - d1
        t[1, j] = b1 + c1
        t[2, j] = b1 - c1
    out = np.zeros((4, 4), dtype=np.int64)
    for i in range(4):
        a1 = t[i, 0] + t[i, 2]
        b1 = t[i, 0] - t[i, 2]
        t1 = (t[i, 1] * _SINPI8) >> 16
        t2 = t[i, 3] + ((t[i, 3] * _COSPI8) >> 16)
        c1 = t1 - t2
        t1 = t[i, 1] + ((t[i, 1] * _COSPI8) >> 16)
        t2 = (t[i, 3] * _SINPI8) >> 16
        d1 = t1 + t2
        out[i, 0] = (a1 + d1 + 4) >> 3
        out[i, 3] = (a1 - d1 + 4) >> 3
        out[i, 1] = (b1 + c1 + 4) >> 3
        out[i, 2] = (b1 - c1 + 4) >> 3
    return out

# ---------------------------------------------------------------------------
# Coefficient-token decoding — RFC 6386 §13.3.
# ---------------------------------------------------------------------------

def _decode_block_coeffs(bd: BoolDecoder, probs, plane: int, ctx: int,
                         first: int, dq_dc: int, dq_ac: int):
    """Decode one 4x4 block's tokens.

    Returns (coeffs[16] natural order, has_nonzero).  ``ctx`` is the
    above+left nonzero count (0..2); within the block the running
    context is 0 after a zero, 1 after +/-1, 2 after larger.
    """
    coeffs = [0] * 16
    i = first
    nz = False
    prev_zero = False
    while i < 16:
        p = probs[plane][COEF_BANDS[i]][ctx]
        tok = bd.tree(COEF_TREE, p, 2 if prev_zero else 0)
        if tok == EOB_TOKEN:
            break
        if tok == ZERO_TOKEN:
            prev_zero = True
            ctx = 0
            i += 1
            continue
        prev_zero = False
        if tok <= FOUR_TOKEN:
            val = tok          # ONE..FOUR encode their own value
            ctx = 1 if tok == ONE_TOKEN else 2
        else:
            extra = 0
            for pb in CAT_PROBS[tok]:
                extra = (extra << 1) | bd.read(pb)
            val = CAT_BASE[tok] + extra
            ctx = 2
        if bd.read(128):
            val = -val
        coeffs[ZIGZAG[i]] = val * (dq_dc if i == 0 else dq_ac)
        nz = True
        i += 1
    return coeffs, nz


# ---------------------------------------------------------------------------
# Intra prediction — RFC 6386 §12.2 (16x16 / chroma) and §12.3 (4x4).
# All prediction reads come from the *unfiltered* reconstruction; the
# loop filter runs after the whole frame, which is exactly VP8's model
# (the filtered frame is the display/reference output).
# ---------------------------------------------------------------------------

def _pred_16x16(plane, r0, c0, size, mode, has_above, has_left):
    """Whole-block DC/V/H/TM prediction.  ``plane`` is the padded plane
    (border row 0 = 127 / col 0 = 129); (r0, c0) index the padded array."""
    above = plane[r0 - 1, c0:c0 + size].astype(np.int32)
    left = plane[r0:r0 + size, c0 - 1].astype(np.int32)
    corner = int(plane[r0 - 1, c0 - 1])
    log2s = 4 if size == 16 else 3
    if mode == DC_PRED:
        if has_above and has_left:
            dc = (int(above.sum()) + int(left.sum()) + size) >> (log2s + 1)
        elif has_above:
            dc = (int(above.sum()) + size // 2) >> log2s
        elif has_left:
            dc = (int(left.sum()) + size // 2) >> log2s
        else:
            dc = 128
        return np.full((size, size), dc, dtype=np.int32)
    if mode == V_PRED:
        return np.tile(above, (size, 1))
    if mode == H_PRED:
        return np.tile(left[:, None], (1, size))
    # TM_PRED
    return np.clip(left[:, None] + above[None, :] - corner, 0, 255)


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _avg2x(a, b):
    return (a + b + 1) >> 1


def _pred_b(mode, A, AR, L, P):
    """One 4x4 B_PRED subblock; A=above[4], AR=above-right[4],
    L=left[4], P=corner.  Exact §12.3 formulas."""
    pred = np.zeros((4, 4), dtype=np.int32)
    E = [int(x) for x in list(A) + list(AR)]
    LL = [int(x) for x in L]
    P = int(P)
    if mode == B_DC_PRED:
        pred[:] = (sum(E[:4]) + sum(LL) + 4) >> 3
    elif mode == B_TM_PRED:
        a = np.array(E[:4], dtype=np.int32)
        l = np.array(LL, dtype=np.int32)
        pred[:] = np.clip(l[:, None] + a[None, :] - P, 0, 255)
    elif mode == B_VE_PRED:
        ext = [P] + E[:5]
        row = [_avg3(ext[c], ext[c + 1], ext[c + 2]) for c in range(4)]
        pred[:] = np.array(row, dtype=np.int32)[None, :]
    elif mode == B_HE_PRED:
        ext = [P] + LL + [LL[3]]
        col = [_avg3(ext[r], ext[r + 1], ext[r + 2]) for r in range(4)]
        pred[:] = np.array(col, dtype=np.int32)[:, None]
    elif mode == B_LD_PRED:
        for r in range(4):
            for c in range(4):
                k = r + c
                if k < 6:
                    pred[r, c] = _avg3(E[k], E[k + 1], E[k + 2])
                else:
                    pred[r, c] = _avg3(E[6], E[7], E[7])
    elif mode == B_RD_PRED:
        pp = [LL[3], LL[2], LL[1], LL[0], P] + E[:4]
        for r in range(4):
            for c in range(4):
                k = 3 + c - r
                pred[r, c] = _avg3(pp[k], pp[k + 1], pp[k + 2])
    elif mode == B_VR_PRED:
        pp = [LL[3], LL[2], LL[1], LL[0], P] + E[:4]
        pred[3, 0] = _avg3(pp[1], pp[2], pp[3])
        pred[2, 0] = _avg3(pp[2], pp[3], pp[4])
        pred[3, 1] = pred[1, 0] = _avg3(pp[3], pp[4], pp[5])
        pred[2, 1] = pred[0, 0] = _avg2x(pp[4], pp[5])
        pred[3, 2] = pred[1, 1] = _avg3(pp[4], pp[5], pp[6])
        pred[2, 2] = pred[0, 1] = _avg2x(pp[5], pp[6])
        pred[3, 3] = pred[1, 2] = _avg3(pp[5], pp[6], pp[7])
        pred[2, 3] = pred[0, 2] = _avg2x(pp[6], pp[7])
        pred[1, 3] = _avg3(pp[6], pp[7], pp[8])
        pred[0, 3] = _avg2x(pp[7], pp[8])
    elif mode == B_VL_PRED:
        pp = E
        pred[0, 0] = _avg2x(pp[0], pp[1])
        pred[1, 0] = _avg3(pp[0], pp[1], pp[2])
        pred[2, 0] = pred[0, 1] = _avg2x(pp[1], pp[2])
        pred[1, 1] = pred[3, 0] = _avg3(pp[1], pp[2], pp[3])
        pred[2, 1] = pred[0, 2] = _avg2x(pp[2], pp[3])
        pred[3, 1] = pred[1, 2] = _avg3(pp[2], pp[3], pp[4])
        pred[0, 3] = pred[2, 2] = _avg2x(pp[3], pp[4])
        pred[1, 3] = pred[3, 2] = _avg3(pp[3], pp[4], pp[5])
        pred[2, 3] = _avg3(pp[4], pp[5], pp[6])
        pred[3, 3] = _avg3(pp[5], pp[6], pp[7])
    elif mode == B_HD_PRED:
        pp = [LL[3], LL[2], LL[1], LL[0], P] + E[:4]
        pred[3, 0] = _avg2x(pp[0], pp[1])
        pred[3, 1] = _avg3(pp[0], pp[1], pp[2])
        pred[2, 0] = pred[3, 2] = _avg2x(pp[1], pp[2])
        pred[2, 1] = pred[3, 3] = _avg3(pp[1], pp[2], pp[3])
        pred[2, 2] = pred[1, 0] = _avg2x(pp[2], pp[3])
        pred[2, 3] = pred[1, 1] = _avg3(pp[2], pp[3], pp[4])
        pred[1, 2] = pred[0, 0] = _avg2x(pp[3], pp[4])
        pred[1, 3] = pred[0, 1] = _avg3(pp[3], pp[4], pp[5])
        pred[0, 2] = _avg3(pp[4], pp[5], pp[6])
        pred[0, 3] = _avg3(pp[5], pp[6], pp[7])
    elif mode == B_HU_PRED:
        pp = LL
        pred[0, 0] = _avg2x(pp[0], pp[1])
        pred[0, 1] = _avg3(pp[0], pp[1], pp[2])
        pred[0, 2] = pred[1, 0] = _avg2x(pp[1], pp[2])
        pred[0, 3] = pred[1, 1] = _avg3(pp[1], pp[2], pp[3])
        pred[1, 2] = pred[2, 0] = _avg2x(pp[2], pp[3])
        pred[1, 3] = pred[2, 1] = _avg3(pp[2], pp[3], pp[3])
        pred[2, 2] = pred[2, 3] = pred[3, 0] = pred[3, 1] = \
            pred[3, 2] = pred[3, 3] = pp[3]
    else:
        raise ValueError(f"B mode {mode}")
    return pred

# ---------------------------------------------------------------------------
# Loop filter — RFC 6386 §15 (exact signed-8-bit arithmetic, vectorized
# along the edge: each helper takes 1-D int32 arrays of samples).
# ---------------------------------------------------------------------------

def _s(v):
    """u8 -> s8 (value - 128) as int32 arrays."""
    return v.astype(np.int32) - 128


def _u(v):
    """s8 -> u8 with clamp."""
    return np.clip(v + 128, 0, 255).astype(np.uint8)


def _c8(v):
    """Clamp to signed-8-bit range (the spec's c() helper)."""
    return np.clip(v, -128, 127)


def _filter_mask(lim, elim, p3, p2, p1, p0, q0, q1, q2, q3):
    return ((np.abs(p0 - q0) * 2 + np.abs(p1 - q1) // 2) <= elim) \
        & (np.abs(p3 - p2) <= lim) & (np.abs(p2 - p1) <= lim) \
        & (np.abs(p1 - p0) <= lim) & (np.abs(q3 - q2) <= lim) \
        & (np.abs(q2 - q1) <= lim) & (np.abs(q1 - q0) <= lim)


def _hev_mask(thresh, p1, p0, q0, q1):
    return (np.abs(p1 - p0) > thresh) | (np.abs(q1 - q0) > thresh)


def _common_adjust(use_outer, p1, p0, q0, q1):
    """§15.2 common_adjust on int32 signed arrays; mutates p0/q0 copies
    and returns (a=F, new_p0, new_q0)."""
    a = _c8((np.where(use_outer, _c8(p1 - q1), 0)) + 3 * (q0 - p0))
    F = _c8(a + 4) >> 3
    E = _c8(a + 3) >> 3
    return F, _c8(p0 + E), _c8(q0 - F)


def _subblock_filter_line(hev_t, lim, elim, rows):
    """rows = [p3,p2,p1,p0,q0,q1,q2,q3] signed arrays; returns new rows."""
    p3, p2, p1, p0, q0, q1, q2, q3 = rows
    mask = _filter_mask(lim, elim, p3, p2, p1, p0, q0, q1, q2, q3)
    hev = _hev_mask(hev_t, p1, p0, q0, q1)
    F, np0, nq0 = _common_adjust(hev, p1, p0, q0, q1)
    a = (F + 1) >> 1
    np1 = np.where(~hev, _c8(p1 + a), p1)
    nq1 = np.where(~hev, _c8(q1 - a), q1)
    p0n = np.where(mask, np0, p0)
    q0n = np.where(mask, nq0, q0)
    p1n = np.where(mask, np1, p1)
    q1n = np.where(mask, nq1, q1)
    return [p3, p2, p1n, p0n, q0n, q1n, q2, q3]


def _mb_filter_line(hev_t, lim, elim, rows):
    p3, p2, p1, p0, q0, q1, q2, q3 = rows
    mask = _filter_mask(lim, elim, p3, p2, p1, p0, q0, q1, q2, q3)
    hev = _hev_mask(hev_t, p1, p0, q0, q1)
    # hev branch: common_adjust with outer taps
    F, hp0, hq0 = _common_adjust(np.ones_like(p0, bool), p1, p0, q0, q1)
    # non-hev branch: 3-tap wide filter
    w = _c8(_c8(p1 - q1) + 3 * (q0 - p0))
    a27 = _c8((27 * w + 63) >> 7)
    a18 = _c8((18 * w + 63) >> 7)
    a9 = _c8((9 * w + 63) >> 7)
    wq0 = _c8(q0 - a27)
    wp0 = _c8(p0 + a27)
    wq1 = _c8(q1 - a18)
    wp1 = _c8(p1 + a18)
    wq2 = _c8(q2 - a9)
    wp2 = _c8(p2 + a9)
    sel = mask & ~hev
    selh = mask & hev
    return [p3,
            np.where(sel, wp2, p2),
            np.where(sel, wp1, p1),
            np.where(sel, wp0, np.where(selh, hp0, p0)),
            np.where(sel, wq0, np.where(selh, hq0, q0)),
            np.where(sel, wq1, q1),
            np.where(sel, wq2, q2),
            q3]


def _simple_filter_line(elim, rows):
    p1, p0, q0, q1 = rows
    mask = (np.abs(p0 - q0) * 2 + np.abs(p1 - q1) // 2) <= elim
    F, np0, nq0 = _common_adjust(np.ones_like(p0, bool), p1, p0, q0, q1)
    return [p1, np.where(mask, np0, p0), np.where(mask, nq0, q0), q1]


def _filter_edge(plane, axis, pos, span0, span1, kind, hev_t, lim, elim):
    """Filter one edge of ``plane`` (padded uint8) in place.

    axis=1: vertical edge at column ``pos`` (filters along rows
    span0:span1); axis=0: horizontal edge at row ``pos``.
    kind: 'mb', 'sub', or 'simple'.
    """
    n = 2 if kind == "simple" else 4
    if axis == 1:
        sl = [plane[span0:span1, pos - n + k] for k in range(2 * n)]
    else:
        sl = [plane[pos - n + k, span0:span1] for k in range(2 * n)]
    rows = [_s(x) for x in sl]
    if kind == "mb":
        out = _mb_filter_line(hev_t, lim, elim, rows)
    elif kind == "sub":
        out = _subblock_filter_line(hev_t, lim, elim, rows)
    else:
        out = _simple_filter_line(elim, rows)
    for k in range(2 * n):
        if axis == 1:
            plane[span0:span1, pos - n + k] = _u(out[k])
        else:
            plane[pos - n + k, span0:span1] = _u(out[k])

# ---------------------------------------------------------------------------
# Frame decode.
# ---------------------------------------------------------------------------

_MODE_TO_B = {DC_PRED: B_DC_PRED, V_PRED: B_VE_PRED,
              H_PRED: B_HE_PRED, TM_PRED: B_TM_PRED}


def _filter_params(level, sharpness, keyframe=True):
    interior = level
    if sharpness:
        interior >>= 2 if sharpness > 4 else 1
        if interior > 9 - sharpness:
            interior = 9 - sharpness
    if interior < 1:
        interior = 1
    if keyframe:
        hev = 2 if level >= 40 else (1 if level >= 15 else 0)
    else:
        hev = 3 if level >= 40 else (
            2 if level >= 20 else (1 if level >= 15 else 0))
    mb_lim = ((level + 2) * 2) + interior
    sub_lim = (level * 2) + interior
    return interior, hev, mb_lim, sub_lim


def decode_vp8(data: bytes, output: str = "rgb") -> np.ndarray:
    """Decode a VP8 key-frame payload (the contents of a 'VP8 ' chunk).

    ``output``: 'rgb' (h, w, 3 uint8) or 'yuv' ((y, u, v) planes,
    uncropped to macroblock size for 'yuv')."""
    try:
        return _decode_vp8_inner(data, output)
    except (IndexError, KeyError, OverflowError) as e:
        # uniform container-parser contract: malformed input -> ValueError
        raise ValueError(f"VP8: malformed stream ({type(e).__name__})") from e


def _decode_vp8_inner(data: bytes, output: str):
    h0 = _parse_uncompressed_header(data)
    W0, H0 = h0["width"], h0["height"]
    if W0 == 0 or H0 == 0:
        raise ValueError("VP8: zero dimension")
    mb_w, mb_h = (W0 + 15) >> 4, (H0 + 15) >> 4
    part1 = data[10:10 + h0["part1_size"]]
    if len(part1) < h0["part1_size"]:
        raise ValueError("VP8: truncated first partition")
    bd = BoolDecoder(part1)
    hdr = _parse_header_part1(bd)

    n_parts = hdr["n_token_parts"]
    off = 10 + h0["part1_size"]
    sizes = []
    for i in range(n_parts - 1):
        if off + 3 > len(data):
            raise ValueError("VP8: truncated partition size table")
        sizes.append(data[off] | (data[off + 1] << 8) | (data[off + 2] << 16))
        off += 3
    parts = []
    for i in range(n_parts):
        if i < n_parts - 1:
            parts.append(data[off:off + sizes[i]])
            off += sizes[i]
        else:
            parts.append(data[off:])
    if any(len(p) == 0 for p in parts):
        raise ValueError("VP8: empty token partition")
    token_bds = [BoolDecoder(p) for p in parts]

    # per-segment dequant factors and filter levels
    seg = hdr["seg"]
    dqs, flts = [], []
    for s in range(4):
        if seg["enabled"]:
            qi = seg["q_delta"][s] if seg["abs_delta"] \
                else hdr["q_index"] + seg["q_delta"][s]
            lvl = seg["lf_delta"][s] if seg["abs_delta"] \
                else hdr["filter_level"] + seg["lf_delta"][s]
        else:
            qi, lvl = hdr["q_index"], hdr["filter_level"]
        dqs.append(_dequant_factors(_clamp_q(qi), hdr["q_deltas"]))
        flts.append(max(0, min(63, lvl)))

    # ---- pass 1: macroblock prediction records (all in partition 1)
    n_mb = mb_w * mb_h
    seg_ids = np.zeros(n_mb, np.int32)
    skips = np.zeros(n_mb, bool)
    ymodes = np.zeros(n_mb, np.int32)
    uvmodes = np.zeros(n_mb, np.int32)
    bmodes = np.zeros((n_mb, 16), np.int32)
    above_b = np.full((mb_w, 4), B_DC_PRED, np.int32)
    for r in range(mb_h):
        left_b = np.full(4, B_DC_PRED, np.int32)
        for c in range(mb_w):
            k = r * mb_w + c
            if seg["enabled"] and seg["update_map"]:
                seg_ids[k] = bd.tree(MB_SEGMENT_TREE, seg["tree_probs"])
            if hdr["skip_enabled"]:
                skips[k] = bool(bd.read(hdr["prob_skip"]))
            ym = bd.tree(KF_YMODE_TREE, KF_YMODE_PROB)
            ymodes[k] = ym
            if ym == B_PRED:
                for i in range(16):
                    br_, bc_ = i >> 2, i & 3
                    a = above_b[c][bc_] if br_ == 0 else bmodes[k][i - 4]
                    l = left_b[br_] if bc_ == 0 else bmodes[k][i - 1]
                    bmodes[k][i] = bd.tree(
                        BMODE_TREE, KF_BMODE_PROB[a][l])
            else:
                bmodes[k][:] = _MODE_TO_B[ym]
            above_b[c] = bmodes[k][12:16]
            left_b = bmodes[k][3::4].copy()
            uvmodes[k] = bd.tree(UV_MODE_TREE, KF_UV_MODE_PROB)

    # ---- pass 2: tokens + reconstruction (unfiltered)
    H16, W16 = mb_h * 16, mb_w * 16
    Y = np.empty((H16 + 1, W16 + 5), np.uint8)
    U = np.empty((H16 // 2 + 1, W16 // 2 + 1), np.uint8)
    V = np.empty_like(U)
    for P in (Y, U, V):
        P[0, :] = 127
        P[1:, 0] = 129
    probs = hdr["coeff_probs"]

    ay = np.zeros((mb_w, 4), np.int32)   # above nonzero contexts
    au = np.zeros((mb_w, 2), np.int32)
    av = np.zeros((mb_w, 2), np.int32)
    ay2 = np.zeros(mb_w, np.int32)
    mb_has_coeffs = np.zeros(n_mb, bool)

    for r in range(mb_h):
        tbd = token_bds[r % n_parts]
        ly = np.zeros(4, np.int32)
        lu = np.zeros(2, np.int32)
        lv = np.zeros(2, np.int32)
        ly2 = 0
        for c in range(mb_w):
            k = r * mb_w + c
            ym = int(ymodes[k])
            has_y2 = ym != B_PRED
            dq = dqs[int(seg_ids[k])]
            ycoeffs = np.zeros((16, 16), np.int64)
            ucoeffs = np.zeros((4, 16), np.int64)
            vcoeffs = np.zeros((4, 16), np.int64)
            any_nz = False
            if skips[k]:
                ly[:] = 0
                lu[:] = 0
                lv[:] = 0
                ay[c] = 0
                au[c] = 0
                av[c] = 0
                if has_y2:
                    ly2 = 0
                    ay2[c] = 0
            else:
                if has_y2:
                    ctx = int(ay2[c] + ly2)
                    co, nz = _decode_block_coeffs(
                        tbd, probs, 1, ctx, 0, dq["y2"][0], dq["y2"][1])
                    dcs = inv_walsh4x4(co)
                    ay2[c] = ly2 = int(nz)
                    any_nz |= nz
                    ytype, yfirst = 0, 1
                else:
                    dcs = None
                    ytype, yfirst = 3, 0
                for i in range(16):
                    br_, bc_ = i >> 2, i & 3
                    ctx = int(ay[c][bc_] + ly[br_])
                    co, nz = _decode_block_coeffs(
                        tbd, probs, ytype, ctx, yfirst,
                        dq["y1"][0], dq["y1"][1])
                    if dcs is not None:
                        co[0] = dcs[i]
                    ycoeffs[i] = co
                    ay[c][bc_] = ly[br_] = int(nz)
                    any_nz |= nz
                for i in range(4):
                    br_, bc_ = i >> 1, i & 1
                    ctx = int(au[c][bc_] + lu[br_])
                    co, nz = _decode_block_coeffs(
                        tbd, probs, 2, ctx, 0, dq["uv"][0], dq["uv"][1])
                    ucoeffs[i] = co
                    au[c][bc_] = lu[br_] = int(nz)
                    any_nz |= nz
                for i in range(4):
                    br_, bc_ = i >> 1, i & 1
                    ctx = int(av[c][bc_] + lv[br_])
                    co, nz = _decode_block_coeffs(
                        tbd, probs, 2, ctx, 0, dq["uv"][0], dq["uv"][1])
                    vcoeffs[i] = co
                    av[c][bc_] = lv[br_] = int(nz)
                    any_nz |= nz
                if has_y2 and dcs is not None and any(dcs):
                    any_nz = True
            mb_has_coeffs[k] = any_nz

            # ---- reconstruct this MB
            y0, x0 = 16 * r + 1, 16 * c + 1
            if ym == B_PRED:
                for i in range(16):
                    br_, bc_ = i >> 2, i & 3
                    sr, sc = y0 + 4 * br_, x0 + 4 * bc_
                    A = Y[sr - 1, sc:sc + 4].astype(np.int32)
                    P = int(Y[sr - 1, sc - 1])
                    L = Y[sr:sr + 4, sc - 1].astype(np.int32)
                    if bc_ == 3:
                        AR = Y[y0 - 1, x0 + 16:x0 + 20].astype(np.int32)
                    else:
                        AR = Y[sr - 1, sc + 4:sc + 8].astype(np.int32)
                    pred = _pred_b(int(bmodes[k][i]), A, AR, L, P)
                    res = inv_dct4x4(ycoeffs[i])
                    Y[sr:sr + 4, sc:sc + 4] = np.clip(
                        pred + res, 0, 255).astype(np.uint8)
            else:
                pred = _pred_16x16(Y, y0, x0, 16, ym, r > 0, c > 0)
                out = pred.astype(np.int64)
                for i in range(16):
                    br_, bc_ = i >> 2, i & 3
                    out[4 * br_:4 * br_ + 4, 4 * bc_:4 * bc_ + 4] += \
                        inv_dct4x4(ycoeffs[i])
                Y[y0:y0 + 16, x0:x0 + 16] = np.clip(
                    out, 0, 255).astype(np.uint8)
            cy0, cx0 = 8 * r + 1, 8 * c + 1
            for plane, coef in ((U, ucoeffs), (V, vcoeffs)):
                pred = _pred_16x16(plane, cy0, cx0, 8,
                                   int(uvmodes[k]), r > 0, c > 0)
                out = pred.astype(np.int64)
                for i in range(4):
                    br_, bc_ = i >> 1, i & 1
                    out[4 * br_:4 * br_ + 4, 4 * bc_:4 * bc_ + 4] += \
                        inv_dct4x4(coef[i])
                plane[cy0:cy0 + 8, cx0:cx0 + 8] = np.clip(
                    out, 0, 255).astype(np.uint8)
        # extend right edge for next row's above-right reads
        Y[16 * r + 1:16 * r + 17, W16 + 1:] = \
            Y[16 * r + 1:16 * r + 17, W16][:, None]

    # ---- pass 3: loop filter (operates on the padded planes in place)
    if hdr["filter_level"] > 0:
        simple = hdr["filter_type"] == 1
        for r in range(mb_h):
            for c in range(mb_w):
                k = r * mb_w + c
                lvl = flts[int(seg_ids[k])]
                if hdr["lf_delta"]["enabled"]:
                    lvl += hdr["lf_delta"]["ref"][0]   # keyframe = INTRA
                    if int(ymodes[k]) == B_PRED:
                        lvl += hdr["lf_delta"]["mode"][0]
                    lvl = max(0, min(63, lvl))
                if lvl == 0:
                    continue
                interior, hev_t, mb_lim, sub_lim = _filter_params(
                    lvl, hdr["sharpness"])
                skip_inner = (not mb_has_coeffs[k]) and \
                    int(ymodes[k]) != B_PRED
                y0, x0 = 16 * r + 1, 16 * c + 1
                cy0, cx0 = 8 * r + 1, 8 * c + 1
                if simple:
                    if c > 0:
                        _filter_edge(Y, 1, x0, y0, y0 + 16, "simple",
                                     hev_t, interior, mb_lim)
                    if not skip_inner:
                        for dx in (4, 8, 12):
                            _filter_edge(Y, 1, x0 + dx, y0, y0 + 16,
                                         "simple", hev_t, interior, sub_lim)
                    if r > 0:
                        _filter_edge(Y, 0, y0, x0, x0 + 16, "simple",
                                     hev_t, interior, mb_lim)
                    if not skip_inner:
                        for dy in (4, 8, 12):
                            _filter_edge(Y, 0, y0 + dy, x0, x0 + 16,
                                         "simple", hev_t, interior, sub_lim)
                else:
                    if c > 0:
                        _filter_edge(Y, 1, x0, y0, y0 + 16, "mb",
                                     hev_t, interior, mb_lim)
                        _filter_edge(U, 1, cx0, cy0, cy0 + 8, "mb",
                                     hev_t, interior, mb_lim)
                        _filter_edge(V, 1, cx0, cy0, cy0 + 8, "mb",
                                     hev_t, interior, mb_lim)
                    if not skip_inner:
                        for dx in (4, 8, 12):
                            _filter_edge(Y, 1, x0 + dx, y0, y0 + 16,
                                         "sub", hev_t, interior, sub_lim)
                        _filter_edge(U, 1, cx0 + 4, cy0, cy0 + 8, "sub",
                                     hev_t, interior, sub_lim)
                        _filter_edge(V, 1, cx0 + 4, cy0, cy0 + 8, "sub",
                                     hev_t, interior, sub_lim)
                    if r > 0:
                        _filter_edge(Y, 0, y0, x0, x0 + 16, "mb",
                                     hev_t, interior, mb_lim)
                        _filter_edge(U, 0, cy0, cx0, cx0 + 8, "mb",
                                     hev_t, interior, mb_lim)
                        _filter_edge(V, 0, cy0, cx0, cx0 + 8, "mb",
                                     hev_t, interior, mb_lim)
                    if not skip_inner:
                        for dy in (4, 8, 12):
                            _filter_edge(Y, 0, y0 + dy, x0, x0 + 16,
                                         "sub", hev_t, interior, sub_lim)
                        _filter_edge(U, 0, cy0 + 4, cx0, cx0 + 8, "sub",
                                     hev_t, interior, sub_lim)
                        _filter_edge(V, 0, cy0 + 4, cx0, cx0 + 8, "sub",
                                     hev_t, interior, sub_lim)

    yp = Y[1:H16 + 1, 1:W16 + 1]
    up = U[1:, 1:]
    vp = V[1:, 1:]
    if output == "yuv":
        return yp.copy(), up.copy(), vp.copy()
    return _yuv420_to_rgb(yp, up, vp)[:H0, :W0]


def _yuv420_to_rgb(y, u, v) -> np.ndarray:
    """BT.601 studio-swing integer conversion with 2x2 chroma
    replication (libwebp's 'fancy' bilinear upsampler intentionally not
    replicated; documented divergence, affects chroma edges only)."""
    h, w = y.shape
    u2 = np.repeat(np.repeat(u, 2, 0), 2, 1)[:h, :w].astype(np.int32) - 128
    v2 = np.repeat(np.repeat(v, 2, 0), 2, 1)[:h, :w].astype(np.int32) - 128
    cy = 298 * (y.astype(np.int32) - 16)
    r = (cy + 409 * v2 + 128) >> 8
    g = (cy - 100 * u2 - 208 * v2 + 128) >> 8
    b = (cy + 516 * u2 + 128) >> 8
    return np.clip(np.dstack([r, g, b]), 0, 255).astype(np.uint8)


def _rgb_to_yuv420(rgb: np.ndarray):
    """Inverse of :func:`_yuv420_to_rgb` (same BT.601 constants)."""
    r = rgb[:, :, 0].astype(np.int32)
    g = rgb[:, :, 1].astype(np.int32)
    b = rgb[:, :, 2].astype(np.int32)
    y = ((66 * r + 129 * g + 25 * b + 128) >> 8) + 16
    u = ((-38 * r - 74 * g + 112 * b + 128) >> 8) + 128
    v = ((112 * r - 94 * g - 18 * b + 128) >> 8) + 128
    y = np.clip(y, 0, 255).astype(np.uint8)
    h, w = y.shape
    # pad to even, then 2x2 mean with half-up rounding
    u = np.clip(u, 0, 255)
    v = np.clip(v, 0, 255)
    if h & 1:
        u = np.vstack([u, u[-1:]])
        v = np.vstack([v, v[-1:]])
    if w & 1:
        u = np.hstack([u, u[:, -1:]])
        v = np.hstack([v, v[:, -1:]])
    u4 = (u[0::2, 0::2] + u[0::2, 1::2] + u[1::2, 0::2]
          + u[1::2, 1::2] + 2) >> 2
    v4 = (v[0::2, 0::2] + v[0::2, 1::2] + v[1::2, 0::2]
          + v[1::2, 1::2] + 2) >> 2
    return y, u4.astype(np.uint8), v4.astype(np.uint8)


# ---------------------------------------------------------------------------
# Encoder — key frames with the default probability tables.
#
# Forward transforms are the exact algebraic inverses of the decoder's
# fixed-point inverse transforms: the IDCT computes M @ B @ M.T / 8 with
# M = [[1, c, 1, s], [1, s, -1, -c], [1, -s, -1, c], [1, -c, 1, -s]]
# (c = 1 + 20091/2**16, s = 35468/2**16, M.T @ M = 4 I), so the forward
# is B = M.T @ out @ M / 2; likewise the WHT (W symmetric, W @ W = 4 I)
# inverts as X = W @ out @ W / 2.  Quantization error is then the only
# loss, which keeps roundtrip PSNR well above 40 dB at low q_index.
# ---------------------------------------------------------------------------

_C_F = 1.0 + 20091.0 / 65536.0
_S_F = 35468.0 / 65536.0
_M_F = np.array([
    [1.0, _C_F, 1.0, _S_F],
    [1.0, _S_F, -1.0, -_C_F],
    [1.0, -_S_F, -1.0, _C_F],
    [1.0, -_C_F, 1.0, -_S_F],
])
_W_F = np.array([
    [1.0, 1.0, 1.0, 1.0],
    [1.0, 1.0, -1.0, -1.0],
    [1.0, -1.0, -1.0, 1.0],
    [1.0, -1.0, 1.0, -1.0],
])


def fwd_dct4x4(res) -> np.ndarray:
    """Forward transform matched to :func:`inv_dct4x4` (natural order)."""
    r = np.asarray(res, dtype=np.float64).reshape(4, 4)
    return np.rint(_M_F.T @ r @ _M_F / 2.0).astype(np.int64)


def fwd_walsh4x4(dcs) -> np.ndarray:
    """Forward WHT matched to :func:`inv_walsh4x4` (natural order)."""
    d = np.asarray(dcs, dtype=np.float64).reshape(4, 4)
    return np.rint(_W_F @ d @ _W_F / 2.0).astype(np.int64)


_TOKEN_RANGES = (
    (1, 1, ONE_TOKEN), (2, 2, TWO_TOKEN), (3, 3, THREE_TOKEN),
    (4, 4, FOUR_TOKEN), (5, 6, CAT1_TOKEN), (7, 10, CAT2_TOKEN),
    (11, 18, CAT3_TOKEN), (19, 34, CAT4_TOKEN), (35, 66, CAT5_TOKEN),
    (67, 2114, CAT6_TOKEN),
)


def _token_for(av: int):
    for lo, hi, tok in _TOKEN_RANGES:
        if lo <= av <= hi:
            return tok
    raise ValueError(f"coefficient magnitude {av} out of token range")


def _encode_token(be: BoolEncoder, prob_row, tok: int, prev_zero: bool):
    start = 2 if prev_zero else 0
    for b, node in tree_path(COEF_TREE, tok, start):
        be.write(b, prob_row[node >> 1])


def _encode_block_coeffs(be: BoolEncoder, probs, plane: int, ctx: int,
                         first: int, qzig):
    """Emit one block's tokens; ``qzig`` is the 16 quantized values in
    zigzag order.  Mirrors :func:`_decode_block_coeffs` exactly.
    Returns has_nonzero."""
    last = -1
    for i in range(first, 16):
        if qzig[i]:
            last = i
    i = first
    prev_zero = False
    nz = False
    while i < 16:
        p = probs[plane][COEF_BANDS[i]][ctx]
        if i > last:
            # EOB can never follow a ZERO token; by construction it
            # doesn't (zeros are only emitted before a later nonzero).
            _encode_token(be, p, EOB_TOKEN, prev_zero)
            break
        v = int(qzig[i])
        if v == 0:
            _encode_token(be, p, ZERO_TOKEN, prev_zero)
            prev_zero = True
            ctx = 0
            i += 1
            continue
        av = abs(v)
        tok = _token_for(av)
        # a nonzero token after a ZERO is still read at tree offset 2
        _encode_token(be, p, tok, prev_zero)
        prev_zero = False
        if tok >= CAT1_TOKEN:
            extra = av - CAT_BASE[tok]
            cps = CAT_PROBS[tok]
            for k, pb in enumerate(cps):
                be.write((extra >> (len(cps) - 1 - k)) & 1, pb)
        be.write(1 if v < 0 else 0, 128)
        ctx = 1 if av == 1 else 2
        nz = True
        i += 1
    return nz


def _quantize_zig(coef_nat, dq_dc: int, dq_ac: int):
    """Natural-order transform coeffs -> zigzag quantized token values."""
    q = np.zeros(16, np.int64)
    flat = np.asarray(coef_nat, dtype=np.float64).reshape(16)
    for i in range(16):
        dq = dq_dc if i == 0 else dq_ac
        v = int(np.rint(flat[ZIGZAG[i]] / dq))
        q[i] = max(-2114, min(2114, v))
    return q


def _dequant_zig(qzig, dq_dc: int, dq_ac: int):
    """Zigzag quantized values -> natural-order dequantized coeffs,
    exactly as the decoder reconstructs them."""
    co = [0] * 16
    for i in range(16):
        co[ZIGZAG[i]] = int(qzig[i]) * (dq_dc if i == 0 else dq_ac)
    return co


def _sad(a, b) -> int:
    return int(np.abs(a.astype(np.int32) - b.astype(np.int32)).sum())


def encode_vp8(rgb: np.ndarray, q_index: int = 8, filter_level: int = 0,
               sharpness: int = 0, filter_type: int = 0,
               n_token_parts: int = 1, force_bpred: bool = False) -> bytes:
    """Encode an (h, w, 3) uint8 RGB image as a VP8 key-frame payload.

    Fixture-grade encoder: default probability tables, no segmentation,
    best-of-4 16x16 luma/chroma modes (or all-B_PRED with best-of-10
    sub-modes when ``force_bpred``), exact decoder-loop reconstruction so
    a ``filter_level=0`` decode is bit-identical to the encoder's own
    reconstruction.  ``filter_level>0`` writes loop-filter parameters the
    decoder applies (encoder does not model the filter; roundtrips are
    then PSNR-verified rather than exact)."""
    rgb = np.asarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("encode_vp8 expects (h, w, 3) RGB")
    h, w = rgb.shape[:2]
    if not (0 < w <= 0x3FFF and 0 < h <= 0x3FFF):
        raise ValueError("VP8: dimensions out of range")
    if n_token_parts not in (1, 2, 4, 8):
        raise ValueError("n_token_parts must be 1, 2, 4 or 8")
    y, u, v = _rgb_to_yuv420(rgb)
    mb_w, mb_h = (w + 15) >> 4, (h + 15) >> 4
    H16, W16 = mb_h * 16, mb_w * 16
    ysrc = np.pad(y, ((0, H16 - h), (0, W16 - w)), mode="edge")
    usrc = np.pad(u, ((0, H16 // 2 - u.shape[0]),
                      (0, W16 // 2 - u.shape[1])), mode="edge")
    vsrc = np.pad(v, ((0, H16 // 2 - v.shape[0]),
                      (0, W16 // 2 - v.shape[1])), mode="edge")

    dq = _dequant_factors(_clamp_q(q_index), (0, 0, 0, 0, 0))

    # reconstruction planes, padded exactly like the decoder's
    Y = np.empty((H16 + 1, W16 + 5), np.uint8)
    U = np.empty((H16 // 2 + 1, W16 // 2 + 1), np.uint8)
    V = np.empty_like(U)
    for P in (Y, U, V):
        P[0, :] = 127
        P[1:, 0] = 129

    probs = DEFAULT_COEFF_PROBS

    hdr_be = BoolEncoder()      # part 1 (modes); header written below
    token_bes = [BoolEncoder() for _ in range(n_token_parts)]

    # --- compressed header (mirrors _parse_header_part1 field by field)
    hdr_be.bit(0)               # color_space
    hdr_be.bit(0)               # clamping_type
    hdr_be.bit(0)               # segmentation disabled
    hdr_be.bit(1 if filter_type else 0)
    hdr_be.literal(filter_level, 6)
    hdr_be.literal(sharpness, 3)
    hdr_be.bit(0)               # lf deltas disabled
    hdr_be.literal({1: 0, 2: 1, 4: 2, 8: 3}[n_token_parts], 2)
    hdr_be.literal(q_index, 7)
    for _ in range(5):
        hdr_be.flag_signed(0, 4)
    hdr_be.bit(1)               # refresh_entropy (ignored on key frames)
    for t in range(4):
        for b in range(8):
            for c in range(3):
                upd = COEFF_UPDATE_PROBS[t][b][c]
                for n in range(11):
                    hdr_be.write(0, upd[n])
    hdr_be.bit(1)               # mb_no_coeff_skip enabled
    hdr_be.literal(128, 8)      # prob_skip

    ay = np.zeros((mb_w, 4), np.int32)
    au = np.zeros((mb_w, 2), np.int32)
    av_ = np.zeros((mb_w, 2), np.int32)
    ay2 = np.zeros(mb_w, np.int32)
    above_b = np.full((mb_w, 4), B_DC_PRED, np.int32)

    for r in range(mb_h):
        tbe = token_bes[r % n_token_parts]
        ly = np.zeros(4, np.int32)
        lu = np.zeros(2, np.int32)
        lv = np.zeros(2, np.int32)
        ly2 = 0
        left_b = np.full(4, B_DC_PRED, np.int32)
        for c in range(mb_w):
            y0, x0 = 16 * r + 1, 16 * c + 1
            cy0, cx0 = 8 * r + 1, 8 * c + 1
            src_y = ysrc[16 * r:16 * r + 16, 16 * c:16 * c + 16]
            src_u = usrc[8 * r:8 * r + 8, 8 * c:8 * c + 8]
            src_v = vsrc[8 * r:8 * r + 8, 8 * c:8 * c + 8]

            # ---- chroma mode: best of DC/V/H/TM on both planes
            best_uv, best_cost = DC_PRED, None
            for m in (DC_PRED, V_PRED, H_PRED, TM_PRED):
                cost = (_sad(_pred_16x16(U, cy0, cx0, 8, m, r > 0, c > 0),
                             src_u)
                        + _sad(_pred_16x16(V, cy0, cx0, 8, m, r > 0, c > 0),
                               src_v))
                if best_cost is None or cost < best_cost:
                    best_uv, best_cost = m, cost
            uvmode = best_uv

            bmodes_mb = np.full(16, B_DC_PRED, np.int32)
            tokens = []     # deferred: (plane, first, qzig) per block
            if force_bpred:
                ymode = B_PRED
            else:
                best_y, best_cost = DC_PRED, None
                for m in (DC_PRED, V_PRED, H_PRED, TM_PRED):
                    cost = _sad(
                        _pred_16x16(Y, y0, x0, 16, m, r > 0, c > 0), src_y)
                    if best_cost is None or cost < best_cost:
                        best_y, best_cost = m, cost
                ymode = best_y

            if ymode == B_PRED:
                # per-subblock best mode + immediate reconstruction
                for i in range(16):
                    br_, bc_ = i >> 2, i & 3
                    sr, sc = y0 + 4 * br_, x0 + 4 * bc_
                    A = Y[sr - 1, sc:sc + 4].astype(np.int32)
                    P = int(Y[sr - 1, sc - 1])
                    L = Y[sr:sr + 4, sc - 1].astype(np.int32)
                    if bc_ == 3:
                        AR = Y[y0 - 1, x0 + 16:x0 + 20].astype(np.int32)
                    else:
                        AR = Y[sr - 1, sc + 4:sc + 8].astype(np.int32)
                    sub = src_y[4 * br_:4 * br_ + 4, 4 * bc_:4 * bc_ + 4]
                    best_m, best_pred, best_cost = None, None, None
                    for m in range(10):
                        pr = _pred_b(m, A, AR, L, P)
                        cost = _sad(pr, sub)
                        if best_cost is None or cost < best_cost:
                            best_m, best_pred, best_cost = m, pr, cost
                    bmodes_mb[i] = best_m
                    res = sub.astype(np.int32) - best_pred
                    qzig = _quantize_zig(fwd_dct4x4(res),
                                         dq["y1"][0], dq["y1"][1])
                    tokens.append((3, 0, qzig, i))
                    co = _dequant_zig(qzig, dq["y1"][0], dq["y1"][1])
                    Y[sr:sr + 4, sc:sc + 4] = np.clip(
                        best_pred + inv_dct4x4(co), 0, 255).astype(np.uint8)
            else:
                bmodes_mb[:] = _MODE_TO_B[ymode]
                pred = _pred_16x16(Y, y0, x0, 16, ymode, r > 0, c > 0)
                res = src_y.astype(np.int32) - pred
                nat = [fwd_dct4x4(res[4 * (i >> 2):4 * (i >> 2) + 4,
                                      4 * (i & 3):4 * (i & 3) + 4])
                       for i in range(16)]
                dc16 = [int(nat[i][0, 0]) for i in range(16)]
                y2_nat = fwd_walsh4x4(dc16)
                q_y2 = _quantize_zig(y2_nat, dq["y2"][0], dq["y2"][1])
                dcs = inv_walsh4x4(
                    _dequant_zig(q_y2, dq["y2"][0], dq["y2"][1]))
                tokens.append((1, 0, q_y2, "y2"))
                out = pred.astype(np.int64)
                for i in range(16):
                    qzig = _quantize_zig(nat[i], dq["y1"][0], dq["y1"][1])
                    qzig[0] = 0   # DC travels in Y2
                    tokens.append((0, 1, qzig, i))
                    co = _dequant_zig(qzig, dq["y1"][0], dq["y1"][1])
                    co[0] = dcs[i]
                    br_, bc_ = i >> 2, i & 3
                    out[4 * br_:4 * br_ + 4, 4 * bc_:4 * bc_ + 4] += \
                        inv_dct4x4(co)
                Y[y0:y0 + 16, x0:x0 + 16] = np.clip(
                    out, 0, 255).astype(np.uint8)

            # ---- chroma residuals
            for plane, src_c, rec in ((0, src_u, U), (1, src_v, V)):
                pred = _pred_16x16(rec, cy0, cx0, 8, uvmode, r > 0, c > 0)
                res = src_c.astype(np.int32) - pred
                out = pred.astype(np.int64)
                for i in range(4):
                    br_, bc_ = i >> 1, i & 1
                    nat = fwd_dct4x4(res[4 * br_:4 * br_ + 4,
                                         4 * bc_:4 * bc_ + 4])
                    qzig = _quantize_zig(nat, dq["uv"][0], dq["uv"][1])
                    tokens.append((2, 0, qzig, ("u" if plane == 0 else "v",
                                                i)))
                    co = _dequant_zig(qzig, dq["uv"][0], dq["uv"][1])
                    out[4 * br_:4 * br_ + 4, 4 * bc_:4 * bc_ + 4] += \
                        inv_dct4x4(co)
                rec[cy0:cy0 + 8, cx0:cx0 + 8] = np.clip(
                    out, 0, 255).astype(np.uint8)

            # ---- skip decision + mode bits (part 1)
            has_y2 = ymode != B_PRED
            all_zero = all(not np.any(q) for (_, _, q, _) in tokens)
            skip = all_zero and has_y2
            hdr_be.write(1 if skip else 0, 128)   # prob_skip == 128
            for b, node in tree_path(KF_YMODE_TREE,
                                     B_PRED if ymode == B_PRED else ymode):
                hdr_be.write(b, KF_YMODE_PROB[node >> 1])
            if ymode == B_PRED:
                for i in range(16):
                    br_, bc_ = i >> 2, i & 3
                    a = above_b[c][bc_] if br_ == 0 else bmodes_mb[i - 4]
                    l = left_b[br_] if bc_ == 0 else bmodes_mb[i - 1]
                    for b, node in tree_path(BMODE_TREE, int(bmodes_mb[i])):
                        hdr_be.write(b, KF_BMODE_PROB[int(a)][int(l)]
                                     [node >> 1])
            above_b[c] = bmodes_mb[12:16]
            left_b = bmodes_mb[3::4].copy()
            for b, node in tree_path(UV_MODE_TREE, uvmode):
                hdr_be.write(b, KF_UV_MODE_PROB[node >> 1])

            # ---- token bits (token partition), mirroring decoder ctx
            if skip:
                ly[:] = 0
                lu[:] = 0
                lv[:] = 0
                ay[c] = 0
                au[c] = 0
                av_[c] = 0
                ly2 = 0
                ay2[c] = 0
            else:
                for plane, first, qzig, tag in tokens:
                    if plane == 1:
                        ctx = int(ay2[c] + ly2)
                        nz = _encode_block_coeffs(
                            tbe, probs, 1, ctx, 0, qzig)
                        ay2[c] = ly2 = int(nz)
                    elif plane in (0, 3):
                        i = tag
                        br_, bc_ = i >> 2, i & 3
                        ctx = int(ay[c][bc_] + ly[br_])
                        nz = _encode_block_coeffs(
                            tbe, probs, plane, ctx, first, qzig)
                        ay[c][bc_] = ly[br_] = int(nz)
                    else:
                        which, i = tag
                        br_, bc_ = i >> 1, i & 1
                        if which == "u":
                            ctx = int(au[c][bc_] + lu[br_])
                            nz = _encode_block_coeffs(
                                tbe, probs, 2, ctx, 0, qzig)
                            au[c][bc_] = lu[br_] = int(nz)
                        else:
                            ctx = int(av_[c][bc_] + lv[br_])
                            nz = _encode_block_coeffs(
                                tbe, probs, 2, ctx, 0, qzig)
                            av_[c][bc_] = lv[br_] = int(nz)
        # decoder extends the right edge after each MB row; mirror it
        Y[16 * r + 1:16 * r + 17, W16 + 1:] = \
            Y[16 * r + 1:16 * r + 17, W16][:, None]

    part1 = hdr_be.flush()
    parts = [be.flush() for be in token_bes]

    tag = (0         # key frame
           | (0 << 1)  # version
           | (1 << 4)  # show frame
           | (len(part1) << 5))
    out = bytearray()
    out += bytes((tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF))
    out += b"\x9d\x01\x2a"
    out += struct.pack("<H", w)
    out += struct.pack("<H", h)
    out += part1
    for p in parts[:-1]:
        out += bytes((len(p) & 0xFF, (len(p) >> 8) & 0xFF,
                      (len(p) >> 16) & 0xFF))
    for p in parts:
        out += p
    return bytes(out)


# ---------------------------------------------------------------------------
# deterministic census row (gate-query + test fixture)
# ---------------------------------------------------------------------------

def vp8_census_row(d: int, w: int = 32, h: int = 32) -> dict:
    """Closed-form smooth RGB image for id ``d``, encoded as lossy WebP
    (cycling q_index / loop filter / B_PRED / token partitions / alpha)
    and decoded back; returns a census row whose ``src_sum`` the oracle
    SQL regenerates and whose ``ok`` asserts the north rule's lossy
    invariant (PSNR >= 40 dB, exact dims, byte-exact alpha).

    The pixel formulas are chosen so no channel clips (slope <= 2 and
    offset + max < 256), which keeps them exactly restatable in SQL and
    the image smooth enough that 4:2:0 chroma subsampling stays well
    above the PSNR bar."""
    from karta_spark.sources.webp import decode_webp, encode_webp_vp8
    ii, jj = np.mgrid[0:h, 0:w]
    r = (d % 97) + 2 * jj + ii // 2
    g = (d % 83) + 2 * ii + jj // 2
    b = (d % 71) + ii + jj
    img = np.dstack([r, g, b]).astype(np.uint8)
    q = d % 8
    kw = dict(q_index=q)
    if d % 3 == 0:
        kw["filter_level"] = 16
    if d % 4 == 1:
        kw["force_bpred"] = True
    if d % 6 == 2:
        kw["n_token_parts"] = 2
    if d % 3 == 1:
        kw["filter_type"] = 1
        kw["filter_level"] = 12
    alpha = None
    if d % 5 == 0:
        alpha = ((7 * ii + 11 * jj + d) % 256).astype(np.uint8)
    blob = encode_webp_vp8(img, alpha=alpha, **kw)
    out = decode_webp(blob)
    mse = ((out[:, :, :3].astype(np.float64) - img.astype(np.float64))
           ** 2).mean()
    psnr = 10.0 * np.log10(255.0 ** 2 / max(mse, 1e-12))
    ok = (out.shape == (h, w, 4)) and psnr >= 40.0
    if alpha is not None:
        ok = ok and bool(np.array_equal(out[:, :, 3], alpha))
    else:
        ok = ok and bool((out[:, :, 3] == 255).all())
    return {"variant": f"q{q}", "ok": int(ok),
            "src_sum": int(img.sum(dtype=np.int64))}
