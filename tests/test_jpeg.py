"""JPEG codec tests (sources/jpeg.py) — the lossy arm of the BASELINE
decode invariant (PSNR >= 40 dB), previously a Pillow-gated stub — and
the decode of 12-bit, lossless and Adobe CMYK/YCCK streams written by
the encoders in tests/encoders.py.

12-bit SOF1 DC category 16: T.81 F.1.2.1.1 defines it as DIFF = 32768
with NO appended magnitude bits — encoder and decoder are each pinned
independently (not just a roundtrip, which a symmetric bug would pass).
A 4-component JPEG without an Adobe APP14 marker decodes without ink
inversion (libjpeg convention: only Adobe-marked streams are inverted).
"""

import struct as st

import numpy as np
import pytest

from karta_spark.sources import jpeg as J
from karta_spark.sources.images import decode_image, make_row, pixels_for_phash, psnr
from karta_spark.sources.jpeg import (
    decode_jpeg_baseline,
    encode_jpeg_baseline,
    scaled_quant,
    QUANT_LUM,
)
from tests import encoders as E


class TestCodec:
    def test_noise_rgb_psnr(self):
        rng = np.random.default_rng(0)
        a = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
        dec = decode_jpeg_baseline(encode_jpeg_baseline(a, 98))
        assert dec.shape == a.shape and dec.dtype == np.uint8
        assert psnr(a, dec) >= 40.0

    def test_grayscale(self):
        rng = np.random.default_rng(1)
        a = rng.integers(0, 256, (16, 16), dtype=np.uint8)
        dec = decode_jpeg_baseline(encode_jpeg_baseline(a, 95))
        assert dec.shape == a.shape
        assert psnr(a, dec) >= 40.0

    def test_non_multiple_of_8(self):
        rng = np.random.default_rng(2)
        for shape in [(17, 23, 3), (9, 8), (8, 9, 3), (33, 1, 3)]:
            a = rng.integers(0, 256, shape, dtype=np.uint8)
            dec = decode_jpeg_baseline(encode_jpeg_baseline(a, 98))
            assert dec.shape == a.shape
            assert psnr(a, dec) >= 38.0  # padding edges slightly lossier

    def test_smooth_content_near_lossless(self):
        x = np.linspace(0, 255, 64)
        a = np.clip(np.add.outer(x, x) / 2, 0, 255).astype(np.uint8)
        assert psnr(a, decode_jpeg_baseline(encode_jpeg_baseline(a, 95))) >= 55.0

    def test_flat_blocks_tiny(self):
        a = np.full((32, 32, 3), 137, dtype=np.uint8)
        enc = encode_jpeg_baseline(a, 90)
        dec = decode_jpeg_baseline(enc)
        assert np.abs(dec.astype(int) - 137).max() <= 1
        assert len(enc) < 900  # EOB-only blocks compress hard

    def test_quality_scaling_monotone(self):
        q50 = scaled_quant(QUANT_LUM, 50)
        q95 = scaled_quant(QUANT_LUM, 95)
        q10 = scaled_quant(QUANT_LUM, 10)
        assert (q95 <= q50).all() and (q50 <= q10).all()
        assert (q50 == QUANT_LUM).all()  # scale=100 at q=50

    def test_stream_structure(self):
        a = np.zeros((8, 8, 3), dtype=np.uint8)
        enc = encode_jpeg_baseline(a)
        assert enc[:2] == b"\xff\xd8" and enc[-2:] == b"\xff\xd9"
        assert b"JFIF\x00" in enc[:30]

    def test_rejects_non_jpeg(self):
        with pytest.raises(ValueError):
            decode_jpeg_baseline(b"\x89PNG....")


class TestPipelineIntegration:
    def test_make_row_covers_jpeg_with_psnr_margin(self):
        seen = set()
        for i in range(60):
            _, data, w, h, fmt, _, ph = make_row(i)
            seen.add(fmt)
            pix = decode_image(bytes(data), fmt)
            ref = pixels_for_phash(ph, w, h)
            if pix.ndim == 2:
                pix = np.repeat(pix[:, :, None], 3, 2)
            assert psnr(pix, ref) >= 40.0, (i, fmt)
        assert seen == {"png", "bmp", "jpeg"}


def _photo(h, w, seed=7):
    """Photo-like content: detailed luma, SMOOTH chroma (the shape 4:2:0
    is designed for — noise chroma is unrecoverable under subsampling)."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    luma = 128 + 70 * np.sin(xx / 9.0) * np.cos(yy / 11.0) + rng.normal(0, 2, (h, w))
    cb = 15 * np.sin(xx / 53.0)
    cr = 12 * np.cos(yy / 47.0)
    r = luma + 1.402 * cr
    g = luma - 0.344136 * cb - 0.714136 * cr
    b = luma + 1.772 * cb
    return np.clip(np.stack([r, g, b], 2), 0, 255).astype(np.uint8)


class TestSubsampling:
    """4:2:0 / 4:2:2 chroma subsampling + restart intervals (round 4 —
    the dominant real-world JPEG shape; reference reads it via GDAL,
    _gdal.py:114-188)."""

    @pytest.mark.parametrize("sub", ["444", "422", "420"])
    @pytest.mark.parametrize("ri", [0, 3])
    def test_photo_roundtrip_psnr40(self, sub, ri):
        a = _photo(57, 43)
        dec = decode_jpeg_baseline(
            encode_jpeg_baseline(a, 95, subsampling=sub, restart_interval=ri))
        assert dec.shape == a.shape
        assert psnr(a, dec) >= 40.0

    @pytest.mark.parametrize("shape", [(16, 16), (17, 23), (8, 9), (33, 65)])
    def test_420_odd_sizes(self, shape):
        a = _photo(*shape)
        dec = decode_jpeg_baseline(
            encode_jpeg_baseline(a, 95, subsampling="420"))
        assert dec.shape == a.shape
        assert psnr(a, dec) >= 39.0

    def test_dri_without_rst_is_identical(self):
        a = _photo(24, 24)
        d0 = decode_jpeg_baseline(encode_jpeg_baseline(a, 95, subsampling="420"))
        d1 = decode_jpeg_baseline(
            encode_jpeg_baseline(a, 95, subsampling="420", restart_interval=999))
        assert np.array_equal(d0, d1)

    def test_restart_resets_are_lossless_vs_no_restart(self):
        # restart only changes entropy framing, not dequantized blocks
        a = _photo(48, 64)
        d0 = decode_jpeg_baseline(encode_jpeg_baseline(a, 92, subsampling="420"))
        d1 = decode_jpeg_baseline(
            encode_jpeg_baseline(a, 92, subsampling="420", restart_interval=1))
        assert np.array_equal(d0, d1)

    def test_gray_restart(self):
        a = _photo(47, 51)[:, :, 0]
        d = decode_jpeg_baseline(encode_jpeg_baseline(a, 95, restart_interval=2))
        assert psnr(a, d) >= 40.0

    def test_unknown_subsampling_raises(self):
        with pytest.raises(ValueError):
            encode_jpeg_baseline(np.zeros((8, 8, 3), np.uint8), subsampling="410")

    def test_missing_rst_marker_raises(self):
        enc = bytearray(encode_jpeg_baseline(_photo(32, 32), 95,
                                             subsampling="420",
                                             restart_interval=1))
        # strip the RST markers from the entropy stream -> decoder must
        # notice the promised restart never arrives
        i = enc.find(b"\xFF\xDA")
        body = enc[:i + 2]
        rest = bytes(enc[i + 2:])
        out = bytearray()
        j = 0
        (seglen,) = __import__("struct").unpack(">H", rest[:2])
        out += rest[:seglen]
        j = seglen
        while j < len(rest):
            if rest[j] == 0xFF and j + 1 < len(rest) and 0xD0 <= rest[j + 1] <= 0xD7:
                j += 2
                continue
            out.append(rest[j])
            j += 1
        with pytest.raises(ValueError, match="RST"):
            decode_jpeg_baseline(bytes(body + out))


class TestHandBuilt420Fixture:
    """Bit-level golden: a 4:2:0 stream written by independent test code
    (T.81 A.2.3 MCU ordering, F.1.2 magnitude coding) — pins the
    decoder's absolute block placement so a matched encoder/decoder
    ordering bug cannot hide behind roundtrip tests."""

    @staticmethod
    def _build(restart):
        import struct as st
        from karta_spark.sources.jpeg import (
            AC_CHROM_BITS, AC_CHROM_VALS, AC_LUM_BITS, AC_LUM_VALS,
            DC_CHROM_BITS, DC_CHROM_VALS, DC_LUM_BITS, DC_LUM_VALS,
            ZIGZAG, _canonical_codes)

        dc_l = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
        dc_c = _canonical_codes(DC_CHROM_BITS, DC_CHROM_VALS)
        eob_l = _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)[0x00]
        eob_c = _canonical_codes(AC_CHROM_BITS, AC_CHROM_VALS)[0x00]

        out = bytearray(b"\xFF\xD8")
        ones = bytes(int(v) for v in np.ones(64, dtype=np.uint8))
        for tid in (0, 1):
            out += b"\xFF\xDB" + st.pack(">HB", 67, tid) + ones
        # SOF0: 16 high, 32 wide; Y 2x2 q0, Cb/Cr 1x1 q1
        sof = st.pack(">BHHB", 8, 16, 32, 3)
        sof += st.pack("BBB", 1, 0x22, 0)
        sof += st.pack("BBB", 2, 0x11, 1)
        sof += st.pack("BBB", 3, 0x11, 1)
        out += b"\xFF\xC0" + st.pack(">H", 2 + len(sof)) + sof
        for cls, tid, bits, vals in ((0, 0, DC_LUM_BITS, DC_LUM_VALS),
                                     (1, 0, AC_LUM_BITS, AC_LUM_VALS),
                                     (0, 1, DC_CHROM_BITS, DC_CHROM_VALS),
                                     (1, 1, AC_CHROM_BITS, AC_CHROM_VALS)):
            body = st.pack("B", (cls << 4) | tid) + bytes(bits) + bytes(vals)
            out += b"\xFF\xC4" + st.pack(">H", 2 + len(body)) + body
        if restart:
            out += b"\xFF\xDD" + st.pack(">HH", 4, 1)
        sos = st.pack("B", 3) + st.pack("BB", 1, 0x00) \
            + st.pack("BB", 2, 0x11) + st.pack("BB", 3, 0x11) + b"\x00\x3F\x00"
        out += b"\xFF\xDA" + st.pack(">H", 2 + len(sos)) + sos

        # independent bit writer (stuffing + 1-pad)
        state = {"acc": 0, "n": 0, "buf": bytearray()}

        def put(code, ln):
            state["acc"] = (state["acc"] << ln) | code
            state["n"] += ln
            while state["n"] >= 8:
                state["n"] -= 8
                b = (state["acc"] >> state["n"]) & 0xFF
                state["buf"].append(b)
                if b == 0xFF:
                    state["buf"].append(0x00)
            state["acc"] &= (1 << state["n"]) - 1

        def flush():
            if state["n"]:
                pad = 8 - state["n"]
                put((1 << pad) - 1, pad)

        def put_dc(diff, table):
            if diff == 0:
                c, ln = table[0]
                put(c, ln)
                return
            s = abs(diff).bit_length()
            bits = diff if diff > 0 else diff + (1 << s) - 1
            c, ln = table[s]
            put(c, ln)
            put(bits, s)

        # luma tile (r, c) decodes flat to 128 + (r*4 + c + 1); DC = 8*v
        dcs = {}
        for r in range(2):
            for c in range(4):
                dcs[(r, c)] = 8 * (r * 4 + c + 1)
        pred_y = pred_cb = pred_cr = 0
        for mx in range(2):  # MCU order: Y(0,0) Y(0,1) Y(1,0) Y(1,1) Cb Cr
            if restart and mx == 1:
                flush()
                state["buf"] += b"\xFF\xD0"
                pred_y = pred_cb = pred_cr = 0
            for by in range(2):
                for bx in range(2):
                    dc = dcs[(by, mx * 2 + bx)]
                    put_dc(dc - pred_y, dc_l)
                    pred_y = dc
                    put(*eob_l)
            put_dc(0 - pred_cb, dc_c)
            put(*eob_c)
            put_dc(0 - pred_cr, dc_c)
            put(*eob_c)
        flush()
        out += state["buf"] + b"\xFF\xD9"
        assert ZIGZAG[0] == 0  # sanity: DC is zigzag index 0
        return bytes(out)

    @pytest.mark.parametrize("restart", [False, True])
    def test_block_placement(self, restart):
        dec = decode_jpeg_baseline(self._build(restart))
        assert dec.shape == (16, 32, 3)
        for r in range(2):
            for c in range(4):
                tile = dec[8 * r:8 * r + 8, 8 * c:8 * c + 8]
                want = 128 + (r * 4 + c + 1)
                assert (tile == want).all(), (r, c, np.unique(tile), want)


class TestProgressive:
    """Progressive JPEG (SOF2, T.81 Annex G) — round 4: spectral
    selection + successive approximation decode, progressive encoder."""

    @pytest.mark.parametrize("succ", [False, True])
    @pytest.mark.parametrize("sub", ["444", "422", "420"])
    def test_progressive_decodes_bit_equal_to_baseline(self, succ, sub):
        from karta_spark.sources.jpeg import encode_jpeg_progressive
        a = _photo(57, 43)
        prog = encode_jpeg_progressive(a, 92, subsampling=sub, successive=succ)
        base = encode_jpeg_baseline(a, 92, subsampling=sub)
        # same quantized coefficients -> identical pixels by construction
        assert np.array_equal(decode_jpeg_baseline(prog),
                              decode_jpeg_baseline(base))

    @pytest.mark.parametrize("shape", [(8, 8), (16, 16, 3), (17, 23, 3),
                                       (9, 31)])
    def test_noise_roundtrip_shapes(self, shape):
        from karta_spark.sources.jpeg import encode_jpeg_progressive
        rng = np.random.default_rng(11)
        a = rng.integers(0, 256, shape, dtype=np.uint8)
        prog = encode_jpeg_progressive(a, 95, successive=True)
        base = encode_jpeg_baseline(a, 95)
        assert np.array_equal(decode_jpeg_baseline(prog),
                              decode_jpeg_baseline(base))

    def test_sof2_marker_present(self):
        from karta_spark.sources.jpeg import encode_jpeg_progressive
        enc = encode_jpeg_progressive(np.zeros((8, 8), np.uint8))
        assert b"\xFF\xC2" in enc and b"\xFF\xC0" not in enc

    def test_handbuilt_eobrun_first_scan(self):
        """EOBn (n>1) in an AC FIRST scan — Annex-K tables can't express
        it, so the encoder never emits it; pin the decoder with a
        hand-built gray stream: 4 blocks, distinct DCs, zero AC coded as
        ONE EOB3 symbol (r=2, appended bits 00 -> run covers blocks
        1..4)."""
        import struct as st
        from karta_spark.sources.jpeg import (
            DC_LUM_BITS, DC_LUM_VALS, _canonical_codes, decode_jpeg_baseline)
        dc = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
        # custom AC table: symbols 0x20 (EOB3) and 0x00 (EOB) at len 2/2
        ac_bits = (0, 2) + (0,) * 14
        ac_vals = (0x20, 0x00)
        ac = _canonical_codes(ac_bits, ac_vals)

        out = bytearray(b"\xFF\xD8")
        out += b"\xFF\xDB" + st.pack(">HB", 67, 0) + bytes([1] * 64)
        sof = st.pack(">BHHB", 8, 8, 32, 1) + st.pack("BBB", 1, 0x11, 0)
        out += b"\xFF\xC2" + st.pack(">H", 2 + len(sof)) + sof
        for cls, tid, bits, vals in ((0, 0, DC_LUM_BITS, DC_LUM_VALS),
                                     (1, 0, ac_bits, ac_vals)):
            body = st.pack("B", (cls << 4) | tid) + bytes(bits) + bytes(vals)
            out += b"\xFF\xC4" + st.pack(">H", 2 + len(body)) + body

        state = {"acc": 0, "n": 0, "buf": bytearray()}

        def put(code, ln):
            state["acc"] = (state["acc"] << ln) | code
            state["n"] += ln
            while state["n"] >= 8:
                state["n"] -= 8
                b = (state["acc"] >> state["n"]) & 0xFF
                state["buf"].append(b)
                if b == 0xFF:
                    state["buf"].append(0x00)
            state["acc"] &= (1 << state["n"]) - 1

        def flush():
            if state["n"]:
                put((1 << (8 - state["n"])) - 1, 8 - state["n"])

        def sos(ss, se, ah, al):
            hdr = st.pack("B", 1) + st.pack("BB", 1, 0x00) \
                + st.pack("BBB", ss, se, (ah << 4) | al)
            return b"\xFF\xDA" + st.pack(">H", 2 + len(hdr)) + hdr

        # DC scan (Al=0): flat blocks 8*(v) for v in 10, 20, 30, 40
        out += sos(0, 0, 0, 0)
        pred = 0
        for v in (10, 20, 30, 40):
            dcv = 8 * v
            diff = dcv - pred
            pred = dcv
            s = abs(diff).bit_length()
            bits = diff if diff > 0 else diff + (1 << s) - 1
            c, ln = dc[s]
            put(c, ln)
            put(bits, s)
        flush()
        out += state["buf"]
        state["buf"] = bytearray()

        # AC scan: ONE EOB3 symbol + 2 appended bits (00) covers all 4
        out += sos(1, 63, 0, 0)
        c, ln = ac[0x20]
        put(c, ln)
        put(0, 2)
        flush()
        out += state["buf"] + b"\xFF\xD9"

        dec = decode_jpeg_baseline(bytes(out))
        assert dec.shape == (8, 32)
        for i, v in enumerate((10, 20, 30, 40)):
            assert (dec[:, 8 * i:8 * i + 8] == 128 + v).all(), i

    def test_handbuilt_progressive_restart(self):
        """DRI + RSTn inside a progressive DC scan: predictors reset at
        the boundary."""
        import struct as st
        from karta_spark.sources.jpeg import (
            AC_LUM_BITS, AC_LUM_VALS, DC_LUM_BITS, DC_LUM_VALS,
            _canonical_codes, decode_jpeg_baseline)
        dc = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
        ac = _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)
        out = bytearray(b"\xFF\xD8")
        out += b"\xFF\xDB" + st.pack(">HB", 67, 0) + bytes([1] * 64)
        sof = st.pack(">BHHB", 8, 8, 16, 1) + st.pack("BBB", 1, 0x11, 0)
        out += b"\xFF\xC2" + st.pack(">H", 2 + len(sof)) + sof
        for cls, tid, bits, vals in ((0, 0, DC_LUM_BITS, DC_LUM_VALS),
                                     (1, 0, AC_LUM_BITS, AC_LUM_VALS)):
            body = st.pack("B", (cls << 4) | tid) + bytes(bits) + bytes(vals)
            out += b"\xFF\xC4" + st.pack(">H", 2 + len(body)) + body
        out += b"\xFF\xDD" + st.pack(">HH", 4, 1)  # DRI = 1 data unit

        def enc_dc(diff):
            s = abs(diff).bit_length() if diff else 0
            buf, acc, n = bytearray(), 0, 0
            c, ln = dc[s]
            acc = (acc << ln) | c
            n += ln
            if s:
                bits = diff if diff > 0 else diff + (1 << s) - 1
                acc = (acc << s) | bits
                n += s
            pad = (8 - n % 8) % 8
            acc = (acc << pad) | ((1 << pad) - 1)
            n += pad
            return acc.to_bytes(n // 8, "big")

        hdr = st.pack("B", 1) + st.pack("BB", 1, 0x00) + st.pack("BBB", 0, 0, 0)
        out += b"\xFF\xDA" + st.pack(">H", 2 + len(hdr)) + hdr
        # block 0: DC 8*25 (diff from 0); RST0; block 1: DC 8*50 with
        # PRED RESET (diff from 0 again, not from 200)
        out += enc_dc(8 * 25) + b"\xFF\xD0" + enc_dc(8 * 50)
        # AC scan: EOB per block (no restart needed: DRI applies, so RST
        # between the two data units here as well)
        hdr = st.pack("B", 1) + st.pack("BB", 1, 0x00) + st.pack("BBB", 1, 63, 0)
        out += b"\xFF\xDA" + st.pack(">H", 2 + len(hdr)) + hdr
        c, ln = ac[0x00]
        eob = (c << (8 - ln)) | ((1 << (8 - ln)) - 1)
        out += bytes([eob]) + b"\xFF\xD1" + bytes([eob])
        out += b"\xFF\xD9"

        dec = decode_jpeg_baseline(bytes(out))
        assert (dec[:, :8] == 128 + 25).all()
        assert (dec[:, 8:] == 128 + 50).all()


class TestSixteenBitDQT:
    """Pq=1 (16-bit, big-endian) quantization tables — emitted by
    encoders at very low quality / high bit depth; previously raised."""

    def test_16bit_dqt_stream_decodes(self):
        import struct as st
        from karta_spark.sources.jpeg import (
            AC_LUM_BITS, AC_LUM_VALS, DC_LUM_BITS, DC_LUM_VALS, ZIGZAG,
            _canonical_codes)
        # gray 8x8 flat image, quant table with one 16-bit entry (300)
        q = np.ones(64, dtype=np.int32)
        q[0] = 300
        dc = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
        ac = _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)
        out = bytearray(b"\xFF\xD8")
        zz = q.reshape(-1)[ZIGZAG] if False else q[ZIGZAG]
        out += b"\xFF\xDB" + st.pack(">HB", 2 + 1 + 128, 0x10) \
            + b"".join(st.pack(">H", int(v)) for v in zz)
        sof = st.pack(">BHHB", 8, 8, 8, 1) + st.pack("BBB", 1, 0x11, 0)
        out += b"\xFF\xC0" + st.pack(">H", 2 + len(sof)) + sof
        for cls, tid, bits, vals in ((0, 0, DC_LUM_BITS, DC_LUM_VALS),
                                     (1, 0, AC_LUM_BITS, AC_LUM_VALS)):
            body = st.pack("B", (cls << 4) | tid) + bytes(bits) + bytes(vals)
            out += b"\xFF\xC4" + st.pack(">H", 2 + len(body)) + body
        sos = st.pack("B", 1) + st.pack("BB", 1, 0x00) + b"\x00\x3F\x00"
        out += b"\xFF\xDA" + st.pack(">H", 2 + len(sos)) + sos
        # DC coef 2 (-> value 2*300 = 600 -> pixel 128 + 75 = 203), EOB
        acc, n = 0, 0
        for code, ln in (dc[2], (2, 2), ac[0x00]):
            acc = (acc << ln) | code
            n += ln
        pad = (8 - n % 8) % 8
        acc = (acc << pad) | ((1 << pad) - 1)
        out += acc.to_bytes((n + pad) // 8, "big") + b"\xFF\xD9"

        dec = decode_jpeg_baseline(bytes(out))
        # DC 2 * q 300 = 600 -> flat 600/8 = 75 over the block
        assert (dec == 203).all()


def test_sof1_extended_sequential_decodes_like_sof0():
    """SOF1 (extended sequential) at 8-bit is the same decode process as
    baseline — a SOF0 stream relabeled SOF1 must decode identically."""
    rng = np.random.default_rng(3)
    a = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    enc = encode_jpeg_baseline(a, 95, subsampling="420")
    relabeled = enc.replace(b"\xFF\xC0", b"\xFF\xC1", 1)
    assert b"\xFF\xC1" in relabeled
    assert np.array_equal(decode_jpeg_baseline(relabeled),
                          decode_jpeg_baseline(enc))


class TestFourOneOne:
    """4:1:1 / 4:4:0 subsampling (sampling factors up to 4 — the DV /
    camera-JPEG shapes)."""

    @pytest.mark.parametrize("sub", ["411", "440"])
    @pytest.mark.parametrize("ri", [0, 2])
    def test_roundtrip_psnr40(self, sub, ri):
        a = _photo(33, 65)
        dec = decode_jpeg_baseline(encode_jpeg_baseline(
            a, 95, subsampling=sub, restart_interval=ri))
        assert dec.shape == a.shape
        assert psnr(a, dec) >= 40.0

    @pytest.mark.parametrize("sub", ["411", "440"])
    def test_progressive_bit_equal(self, sub):
        from karta_spark.sources.jpeg import encode_jpeg_progressive
        a = _photo(40, 52)
        prog = encode_jpeg_progressive(a, 92, subsampling=sub, successive=True)
        base = encode_jpeg_baseline(a, 92, subsampling=sub)
        assert np.array_equal(decode_jpeg_baseline(prog),
                              decode_jpeg_baseline(base))


class TestJpeg12Bit:
    """12-bit extended sequential (SOF1, T.81 extended precision) —
    VERDICT r4 missing-item 5's first named shape; GDAL reads these via
    libjpeg-12 (reference _gdal.py:114-188)."""

    @staticmethod
    def _image12(h=40, w=56, seed=5):
        rng = np.random.default_rng(seed)
        yy, xx = np.mgrid[0:h, 0:w]
        return np.clip(2048 + 1500 * np.sin(xx / 6.0) * np.cos(yy / 7.0)
                       + rng.normal(0, 30, (h, w)),
                       0, 4095).round().astype(np.uint16)

    def test_roundtrip_psnr(self):
        from tests.encoders import encode_jpeg12
        A = self._image12()
        back = decode_jpeg_baseline(encode_jpeg12(A, 95))
        assert back.dtype == np.uint16
        assert back.shape == A.shape
        mse = np.mean((back.astype(float) - A.astype(float)) ** 2)
        assert 10 * np.log10(4095.0 ** 2 / mse) >= 40.0

    def test_range_exceeds_8bit(self):
        """Decoded values actually use the 12-bit range (a silently
        8-bit-clamped decode would fail this)."""
        from tests.encoders import encode_jpeg12
        A = self._image12()
        back = decode_jpeg_baseline(encode_jpeg12(A, 95))
        assert int(back.max()) > 255

    def test_rejects_out_of_range(self):
        from tests.encoders import encode_jpeg12
        with pytest.raises(ValueError, match="0..4095"):
            encode_jpeg12(np.full((8, 8), 5000, dtype=np.uint16))

    def test_unsupported_precision_still_raises(self):
        """A stream claiming precision 10 must raise (only 8/12)."""
        from tests.encoders import encode_jpeg12
        s = bytearray(encode_jpeg12(self._image12(16, 16), 90))
        i = s.index(b"\xff\xc1")
        s[i + 4] = 10  # patch SOF precision byte
        with pytest.raises(NotImplementedError, match="precision 10"):
            decode_jpeg_baseline(bytes(s))

    def test_8bit_paths_unchanged(self):
        from karta_spark.sources.jpeg import (
            decode_jpeg_baseline, encode_jpeg_baseline)
        A = (self._image12() >> 4).astype(np.uint8)
        back = decode_jpeg_baseline(encode_jpeg_baseline(A, 95))
        assert back.dtype == np.uint8


class TestJpegLossless:
    """Lossless JPEG (SOF3, T.81 Annex H): predictive coding, exact
    roundtrip, precisions 2..16 — the JPEGProc=14 format of old-style
    JPEG-in-TIFF aerial archives (reference reads via GDAL)."""

    @pytest.mark.parametrize("prec,pred", [
        (8, 1), (8, 2), (8, 3), (8, 4), (8, 5), (8, 6), (8, 7),
        (12, 1), (12, 4), (16, 7), (10, 6), (2, 1)])
    def test_exact_roundtrip(self, prec, pred):
        from tests.encoders import encode_jpeg_lossless
        rng = np.random.default_rng(prec * 10 + pred)
        A = rng.integers(0, 1 << prec, (23, 31)).astype(np.uint16)
        back = decode_jpeg_baseline(
            encode_jpeg_lossless(A, predictor=pred, precision=prec))
        assert back.dtype == (np.uint8 if prec <= 8 else np.uint16)
        assert np.array_equal(back.astype(np.int64), A.astype(np.int64))

    def test_smooth_image_compresses(self):
        """Predictive coding on smooth content must beat raw size."""
        from tests.encoders import encode_jpeg_lossless
        yy, xx = np.mgrid[0:64, 0:64]
        A = (100 + xx + yy // 2).astype(np.uint16)
        s = encode_jpeg_lossless(A, predictor=4, precision=9)
        assert len(s) < A.size * 2 * 0.5

    def test_gradient_predictors_agree(self):
        """All 7 predictors reconstruct the same exact image."""
        from tests.encoders import encode_jpeg_lossless
        yy, xx = np.mgrid[0:17, 0:19]
        A = ((xx * 7 + yy * 3) % 251).astype(np.uint16)
        outs = [decode_jpeg_baseline(
            encode_jpeg_lossless(A, predictor=p, precision=8))
            for p in range(1, 8)]
        for o in outs[1:]:
            assert np.array_equal(o, outs[0])


class TestCmykJpeg:
    """Adobe 4-component CMYK/YCCK JPEG (APP14) — the print-origin shape
    web corpora carry; GDAL/libjpeg surface it as 4 bands (reference
    reads via GDAL, _gdal.py:114-188)."""

    @staticmethod
    def _cmyk(h=40, w=48):
        yy, xx = np.mgrid[0:h, 0:w]
        return np.stack([
            np.clip(128 + 90 * np.sin(xx / 7.0), 0, 255),
            np.clip(128 + 90 * np.cos(yy / 6.0), 0, 255),
            np.clip(100 + 60 * np.sin((xx + yy) / 9.0), 0, 255),
            np.clip(40 + 30 * np.cos(xx / 11.0), 0, 255),
        ], axis=2).round().astype(np.uint8)

    @pytest.mark.parametrize("transform", [0, 2])
    def test_roundtrip_psnr(self, transform):
        from tests.encoders import encode_jpeg_cmyk
        A = self._cmyk()
        back = decode_jpeg_baseline(
            encode_jpeg_cmyk(A, 95, transform=transform))
        assert back.shape == A.shape and back.dtype == np.uint8
        mse = np.mean((back.astype(float) - A.astype(float)) ** 2)
        assert 10 * np.log10(255.0 ** 2 / mse) >= 40.0

    def test_constant_image_exact_channels(self):
        """Constant CMYK decodes to the same constants (catches APP14
        transform-byte misplacement and channel-order bugs exactly)."""
        from tests.encoders import encode_jpeg_cmyk
        A = np.zeros((16, 16, 4), np.uint8)
        A[:, :] = (200, 100, 50, 30)
        back = decode_jpeg_baseline(encode_jpeg_cmyk(A, 100, transform=2))
        assert np.abs(back.astype(int) - A.astype(int)).max() <= 2

    def test_cmyk_to_rgb(self):
        from karta_spark.sources.jpeg import cmyk_to_rgb
        pure_cyan = np.zeros((2, 2, 4), np.uint8)
        pure_cyan[:, :, 0] = 255
        rgb = cmyk_to_rgb(pure_cyan)
        assert tuple(rgb[0, 0]) == (0, 255, 255)
        black = np.zeros((1, 1, 4), np.uint8)
        black[:, :, 3] = 255
        assert tuple(cmyk_to_rgb(black)[0, 0]) == (0, 0, 0)

    def test_bad_transform_rejected(self):
        from tests.encoders import encode_jpeg_cmyk
        with pytest.raises(ValueError, match="transform"):
            encode_jpeg_cmyk(self._cmyk(), transform=1)

    def test_rgb_paths_unaffected(self):
        from karta_spark.sources.jpeg import (
            decode_jpeg_baseline, encode_jpeg_baseline)
        A = self._cmyk()[:, :, :3]
        back = decode_jpeg_baseline(encode_jpeg_baseline(A, 95))
        assert back.shape == A.shape


def _build_cat16_stream():
    """Hand-build a 12-bit SOF1 grayscale 8x16 stream whose second block
    arrives via DC category 16 (no appended bits): block DCs -16384 then
    +16384 (diff exactly 32768), quant all-ones (quality 100)."""
    q = J.scaled_quant(J.QUANT_LUM, 100)
    assert (q == 1).all()
    out = bytearray(b"\xFF\xD8")
    out += b"\xFF\xDB" + st.pack(">HB", 67, 0) \
        + bytes(int(v) for v in q.reshape(-1)[J.ZIGZAG])
    sof = st.pack(">BHHB", 12, 8, 16, 1) + bytes([1, 0x11, 0])
    out += b"\xFF\xC1" + st.pack(">H", 2 + len(sof)) + sof
    for cls, tid, bits, vals in ((0, 0, E._DC12_BITS, E._DC12_VALS),
                                 (1, 0, E._AC12_BITS, E._AC12_VALS)):
        body = st.pack("B", (cls << 4) | tid) + bytes(bits) + bytes(vals)
        out += b"\xFF\xC4" + st.pack(">H", 2 + len(body)) + body
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    out += b"\xFF\xDA" + st.pack(">H", 2 + len(sos)) + sos
    return out


def _independent_entropy_cat16():
    """Write the two-block entropy segment with an independent bit
    writer: DC(-16384) = category 15 + 15 bits, EOB, then DC code for
    category 16 with NO appended bits, EOB."""
    state = {"acc": 0, "n": 0, "buf": bytearray()}

    def put(code, ln):
        state["acc"] = (state["acc"] << ln) | code
        state["n"] += ln
        while state["n"] >= 8:
            state["n"] -= 8
            b = (state["acc"] >> state["n"]) & 0xFF
            state["buf"].append(b)
            if b == 0xFF:
                state["buf"].append(0x00)
        state["acc"] &= (1 << state["n"]) - 1

    eob = E._ENC_AC12[0x00]
    # block 1: diff -16384 -> category 15, appended = diff + 2^15 - 1
    c, ln = E._ENC_DC12[15]
    put(c, ln)
    put(-16384 + (1 << 15) - 1, 15)
    put(*eob)
    # block 2: diff +32768 -> category 16, NO appended bits
    c, ln = E._ENC_DC12[16]
    put(c, ln)
    put(*eob)
    if state["n"]:
        pad = 8 - state["n"]
        put((1 << pad) - 1, pad)
    return bytes(state["buf"])


class TestJpeg12DCCategory16:
    def test_decoder_reads_no_appended_bits(self):
        """Decoder pinned against an independently written stream: if it
        consumed 16 phantom bits it would swallow the second EOB."""
        data = _build_cat16_stream() + _independent_entropy_cat16() \
            + b"\xFF\xD9"
        dec = J.decode_jpeg_baseline(bytes(data))
        assert dec.shape == (8, 16) and dec.dtype == np.uint16
        # DC -16384 -> flat 2048 - 2048 = 0; +16384 -> 4096 clipped 4095
        assert (dec[:, :8] == 0).all()
        assert (dec[:, 8:] == 4095).all()

    def test_encoder_emits_no_appended_bits(self):
        """_encode_blocks output must be byte-identical to the
        independent writer for the same category-16 block pair."""
        coefs = np.zeros((2, 64), np.int64)
        coefs[0, 0] = -16384
        coefs[1, 0] = 16384
        w = J._BitWriter()
        J._encode_blocks(w, coefs, E._ENC_DC12, E._ENC_AC12, 0)
        w.flush()
        assert bytes(w.buf) == _independent_entropy_cat16()


class TestCmykNoAdobePassthrough:
    def test_no_app14_decodes_uninverted(self):
        rng = np.random.default_rng(7)
        a = rng.integers(0, 256, (16, 16, 4), dtype=np.uint8)
        enc = E.encode_jpeg_cmyk(a, 98, transform=0)
        i = enc.find(b"\xFF\xEE")
        assert i > 0
        (seglen,) = st.unpack(">H", enc[i + 2:i + 4])
        stripped = enc[:i] + enc[i + 2 + seglen:]
        dec_adobe = J.decode_jpeg_baseline(enc)
        dec_plain = J.decode_jpeg_baseline(stripped)
        # same stored samples: Adobe path un-inverts, plain passes through
        assert np.array_equal(dec_plain, 255 - dec_adobe)


class TestProgressive12Bit:
    """12-bit PROGRESSIVE JPEG (SOF2 precision 12) — the last cell of
    the mode matrix (sequential-12, progressive-8 and lossless were
    covered).  Pin: progressive streams must decode BIT-IDENTICALLY to
    the sequential SOF1-12 stream of the same image (same quantized
    coefficients, different entropy layout), for both the spectral-
    selection-only and successive-approximation scan scripts."""

    @pytest.mark.parametrize("successive", [True, False])
    def test_bitexact_vs_sequential_12bit(self, successive):
        rng = np.random.default_rng(5)
        img = rng.integers(0, 4096, size=(41, 57)).astype(np.uint16)
        seq = J.decode_jpeg_baseline(E.encode_jpeg12(img, 90))
        pro = J.decode_jpeg_baseline(
            E.encode_jpeg12_progressive(img, 90, successive=successive))
        assert pro.dtype == np.uint16 and pro.shape == (41, 57)
        np.testing.assert_array_equal(pro, seq)

    def test_smooth_content_and_q100(self):
        x, y = np.meshgrid(np.arange(64), np.arange(48))
        img = (2048 + 1800 * np.sin(x / 5.0) * np.cos(y / 7.0)
               ).astype(np.uint16)
        for q in (100, 75):
            seq = J.decode_jpeg_baseline(E.encode_jpeg12(img, q))
            pro = J.decode_jpeg_baseline(E.encode_jpeg12_progressive(img, q))
            np.testing.assert_array_equal(pro, seq)

    def test_dc_category16_progressive_stream(self):
        """Hand-built SOF2-12 stream whose second block carries a
        DC-category-16 code (DIFF=32768, NO appended bits per T.81
        F.1.2.1.1) — unreachable from the DCT encoder (max |diff| is
        32760) but emitted by libjpeg-12's table range; the progressive
        DC decode must consume zero magnitude bits."""
        import struct as st
        out = bytearray()
        out += b"\xFF\xD8"
        out += b"\xFF\xDB" + st.pack(">HB", 67, 0) + bytes([1] * 64)
        sof = st.pack(">BHHB", 12, 8, 16, 1) + bytes([1, 0x11, 0])
        out += b"\xFF\xC2" + st.pack(">H", 2 + len(sof)) + sof
        body = st.pack("B", 0x00) + bytes(E._DC12_BITS) + bytes(E._DC12_VALS)
        out += b"\xFF\xC4" + st.pack(">H", 2 + len(body)) + body
        out += b"\xFF\xDA" + st.pack(">H", 8) + bytes([1, 1, 0x00, 0, 0, 0])
        wtr = J._BitWriter()
        c, ln = E._ENC_DC12[0]
        wtr.write(c, ln)                    # block 0: diff 0
        c, ln = E._ENC_DC12[16]
        wtr.write(c, ln)                    # block 1: DIFF=32768, no bits
        wtr.flush()
        out += wtr.buf
        out += b"\xFF\xD9"
        img = J.decode_jpeg_baseline(bytes(out))
        assert img.shape == (8, 16) and img.dtype == np.uint16
        # block 0: DC 0 -> mid gray 2048; block 1: DC 32768 -> clamps top
        assert np.all(img[:, :8] == 2048)
        assert np.all(img[:, 8:] == 4095)
