"""Round-7 regression tests for the ADVICE r6 findings.

1. VP8L predictor 13 (ClampAddSubtractHalf): libwebp computes
   Clip255(a + (a - TL) / 2) with C division truncating toward zero;
   ``>> 1`` floors and is off by one for odd negative deltas.  A
   roundtrip can't catch this (encoder shares _predict), so the scalar
   formula is pinned directly against hand-computed libwebp values.
2. gif_frames must not IndexError on a background index >= GCT size
   (wild GIFs routinely carry one) — falls back to black.
3. Geohash closed-form bits must match the published bisection
   algorithm at the exact domain edges: lon=180 / lat=90 get all-1
   bits (easternmost/northernmost cell), and out-of-range inputs must
   not produce negative bits.
"""
import numpy as np
import pandas as pd


class TestWebpPredictor13:
    def test_truncates_toward_zero_like_libwebp(self):
        from karta_spark.sources.webp import _predict
        # a = (L+T)>>1 = 10; d = a - TL = -5 (odd, negative).
        # libwebp: 10 + trunc(-5/2) = 10 + (-2) = 8.  Floor gives 7.
        L = np.array([10, 10, 10, 10], np.int32)
        T = np.array([10, 10, 10, 10], np.int32)
        TL = np.array([15, 15, 15, 15], np.int32)
        TR = np.zeros(4, np.int32)
        assert list(_predict(13, L, T, TL, TR)) == [8, 8, 8, 8]

    def test_positive_delta_unchanged(self):
        from karta_spark.sources.webp import _predict
        # d = +5: trunc and floor agree -> 10 + 2 = 12.
        L = np.array([10] * 4, np.int32)
        T = np.array([10] * 4, np.int32)
        TL = np.array([5] * 4, np.int32)
        assert list(_predict(13, L, T, TL, np.zeros(4, np.int32))) == [12] * 4

    def test_matches_c_semantics_exhaustive(self):
        from karta_spark.sources.webp import _predict
        rng = np.random.RandomState(7)
        for _ in range(50):
            L, T, TL = (rng.randint(0, 256, 4).astype(np.int32)
                        for _ in range(3))
            got = _predict(13, L, T, TL, np.zeros(4, np.int32))
            a = (L.astype(int) + T) >> 1
            want = np.clip(a + np.trunc((a - TL) / 2.0).astype(int), 0, 255)
            assert list(got) == list(want)

    def test_roundtrip_still_green(self):
        from karta_spark.sources.webp import encode_webp, decode_webp
        rng = np.random.RandomState(13)
        img = rng.randint(0, 256, (16, 16, 4), np.uint8)
        out = decode_webp(encode_webp(img, predictor=13, pred_bits=2))
        assert np.array_equal(out, img)


class TestGifBackgroundIndex:
    def _gif_with_bg(self, bg: int) -> bytes:
        """Minimal 2x1 GIF, 2-entry GCT, arbitrary background index."""
        from karta_spark.sources.gif import encode_gif
        idx = np.array([[0, 1]], np.uint8)
        pal = np.array([[255, 0, 0], [0, 0, 255]], np.uint8)
        data = bytearray(encode_gif(idx, pal, bg=0))
        # logical screen descriptor: byte 11 is the background index
        data[11] = bg
        return bytes(data)

    def test_oversized_bg_index_falls_back_to_black(self):
        from karta_spark.sources.gif import gif_frames
        frames, _ = gif_frames(self._gif_with_bg(250))
        assert frames.shape[0] == 1  # no IndexError, frame decoded

    def test_valid_bg_index_still_used(self):
        from karta_spark.sources.gif import gif_frames
        frames, _ = gif_frames(self._gif_with_bg(0))
        assert frames.shape[0] == 1


class TestGeohashDomainEdges:
    def test_edges_match_bisection(self):
        from karta_spark.functions.cells import geohash_py

        def bisect_gh(lon, lat, precision):
            from karta_spark.functions.cells import GEOHASH_ALPHABET
            lon_lo, lon_hi, lat_lo, lat_hi = -180.0, 180.0, -90.0, 90.0
            out, even, v, nbits = [], True, 0, 0
            while len(out) < precision:
                if even:
                    mid = (lon_lo + lon_hi) / 2
                    bit = int(lon >= mid)
                    lon_lo, lon_hi = (mid, lon_hi) if bit else (lon_lo, mid)
                else:
                    mid = (lat_lo + lat_hi) / 2
                    bit = int(lat >= mid)
                    lat_lo, lat_hi = (mid, lat_hi) if bit else (lat_lo, mid)
                v = (v << 1) | bit
                nbits += 1
                even = not even
                if nbits == 5:
                    out.append(GEOHASH_ALPHABET[v])
                    v, nbits = 0, 0
            return "".join(out)

        for lon, lat in [(180.0, 90.0), (180.0, 0.0), (0.0, 90.0),
                         (-180.0, -90.0), (179.999999, 89.999999),
                         (-5.6, 42.6)]:
            assert geohash_py(lon, lat, 8) == bisect_gh(lon, lat, 8), \
                (lon, lat)

    def test_edge_is_all_ones_cell(self):
        from karta_spark.functions.cells import geohash_py
        assert geohash_py(180.0, 90.0, 4) == "zzzz"

    def test_out_of_range_clamps_not_negative(self):
        from karta_spark.functions.cells import geohash_py
        assert geohash_py(200.0, 95.0, 4) == "zzzz"
        assert geohash_py(-200.0, -95.0, 4) == "0000"

    def test_spark_duckdb_twins_agree_at_edges(self, spark):
        import duckdb
        from pyspark.sql import functions as F
        from karta_spark.functions.cells import (
            geohash, geohash_py, geohash_sql)
        pdf = pd.DataFrame({
            "lon": [180.0, -180.0, 180.0, 0.0, 200.0],
            "lat": [90.0, -90.0, 0.0, 90.0, -95.0]})
        got = [r[0] for r in spark.createDataFrame(pdf)
               .select(geohash(F.col("lon"), F.col("lat"), 6)).collect()]
        con = duckdb.connect()
        con.register("gh_edge", pdf)
        dd = [r[0] for r in con.execute(
            f"SELECT {geohash_sql('lon', 'lat', 6)} FROM gh_edge").fetchall()]
        py = [geohash_py(lo, la, 6)
              for lo, la in zip(pdf["lon"], pdf["lat"])]
        assert got == dd == py
