"""G.711 mu-law / A-law and IMA ADPCM (sources/av.py, round 6).

Spot values are pinned against the published G.711 expansion tables
(mu-law 0x00 -> -32124, 0xFF -> 0; A-law 0x55 -> -8, 0xD5 -> +8); the
ADPCM recursion is pinned by a hand-stepped golden.
"""

import numpy as np
import pytest

from karta_spark.sources.av import (
    _IMA_INDEX, _IMA_STEPS, _ima_adpcm_decode, _ima_step,
    alaw_decode_bytes, decode_wav, encode_g711_wav, mulaw_decode_bytes,
)
from tests.encoders import alaw_encode, ima_adpcm_encode_wav, mulaw_encode


class TestG711Tables:
    def test_mulaw_published_points(self):
        b = np.array([0x00, 0xFF, 0x7F, 0x80], np.uint8)
        got = mulaw_decode_bytes(b)
        assert got[0] == -32124   # largest negative
        assert got[1] == 0
        assert got[2] == 0        # the duplicate zero code
        assert got[3] == 32124    # largest positive

    def test_alaw_published_points(self):
        b = np.array([0x55, 0xD5, 0x2A, 0xAA], np.uint8)
        got = alaw_decode_bytes(b)
        assert got[0] == -8
        assert got[1] == 8
        assert abs(int(got[2])) == abs(int(got[3]))  # mirrored pair

    def test_alaw_bijective(self):
        b = np.arange(256, dtype=np.uint8)
        dec = alaw_decode_bytes(b)
        assert len(np.unique(dec)) == 256
        np.testing.assert_array_equal(alaw_encode(dec.astype(np.int32)), b)

    def test_mulaw_roundtrip_up_to_dup_zero(self):
        b = np.arange(256, dtype=np.uint8)
        dec = mulaw_decode_bytes(b)
        rb = mulaw_encode(dec.astype(np.int32))
        diff = np.nonzero(rb != b)[0]
        assert list(diff) == [0x7F]  # -0 collapses onto +0 (0xFF)
        assert rb[0x7F] == 0xFF

    def test_encode_is_nearest_level(self):
        # values between levels snap to the nearer one
        dec = np.sort(np.unique(alaw_decode_bytes(
            np.arange(256, dtype=np.uint8)).astype(np.int32)))
        mid = (dec[100] + dec[101]) // 2
        enc = alaw_encode(np.array([dec[100] + 1, dec[101] - 1, mid]))
        back = alaw_decode_bytes(enc).astype(np.int32)
        assert back[0] == dec[100]
        assert back[1] == dec[101]
        assert back[2] in (dec[100], dec[101])

    @pytest.mark.parametrize("law,dec", [("ulaw", mulaw_decode_bytes),
                                         ("alaw", alaw_decode_bytes)])
    def test_wav_roundtrip(self, law, dec):
        rng = np.random.default_rng(1)
        b = rng.integers(0, 256, 500, dtype=np.uint8)
        s, sr = decode_wav(encode_g711_wav(b, 8000, law=law))
        assert sr == 8000
        np.testing.assert_array_equal(
            s.ravel(), dec(b).astype(np.float64) / 32767.0)

    def test_wav_stereo_g711(self):
        b = np.arange(64, dtype=np.uint8)
        s, _ = decode_wav(encode_g711_wav(b, 8000, law="alaw", channels=2))
        assert s.shape == (32, 2)


class TestImaAdpcm:
    def test_hand_stepped_golden(self):
        # pred=0, index=0 (step 7): nibble 5 = bits 4+1 ->
        # diff = step>>3 + step>>2 + step = 0 + 1 + 7 = 8; index += 4
        pred, idx = _ima_step(0, 0, 5)
        assert (pred, idx) == (8, 4)
        # negative: nibble 8+5 from there
        pred2, idx2 = _ima_step(pred, idx, 13)
        step = int(_IMA_STEPS[idx])
        d = (step >> 3) + (step >> 2) + step
        assert pred2 == pred - d
        assert idx2 == idx + int(_IMA_INDEX[5])

    def test_tables_shape(self):
        assert len(_IMA_STEPS) == 89
        assert _IMA_STEPS[0] == 7 and _IMA_STEPS[88] == 32767
        assert list(_IMA_INDEX) == [-1, -1, -1, -1, 2, 4, 6, 8]

    def test_sine_snr(self):
        t = np.arange(4000)
        x = (9000 * np.sin(t / 17.0)).astype(np.int16)
        s, sr = decode_wav(ima_adpcm_encode_wav(x, 16000,
                                                samples_per_block=505))
        got = np.rint(s.ravel() * 32767)[:len(x)]
        err = got - x
        snr = 10 * np.log10((x.astype(float) ** 2).mean()
                            / max((err ** 2).mean(), 1e-9))
        assert snr > 30.0, snr

    def test_block_boundaries_reset_predictor(self):
        x = np.zeros(505 * 2 + 10, np.int16)
        x[505] = 12345  # first sample of block 2 stored verbatim
        s, _ = decode_wav(ima_adpcm_encode_wav(x, 8000,
                                               samples_per_block=505))
        got = np.rint(s.ravel() * 32767)
        assert got[505] == 12345

    def test_constant_signal_exact_first_samples(self):
        x = np.full(100, 777, np.int16)
        s, _ = decode_wav(ima_adpcm_encode_wav(x, 8000,
                                               samples_per_block=init_spb()))
        got = np.rint(s.ravel() * 32767)[:100]
        # drift around a constant stays within one initial step
        assert np.abs(got - 777).max() <= 8

    def test_bad_block_size_rejected(self):
        with pytest.raises(ValueError):
            ima_adpcm_encode_wav(np.zeros(10, np.int16), 8000,
                                 samples_per_block=100)


def init_spb():
    return 505
