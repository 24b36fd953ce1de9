"""Round-8 regression tests (optimization round): the strip-search kNN
kernel and the grouped-posting-list LSH plans must stay exactly equal to
their brute-force references on tie-heavy distributions."""
import numpy as np
import pytest
from pyspark.sql import functions as F


def _knn_brute(qs: np.ndarray, pts: np.ndarray, k: int) -> set:
    out = set()
    kk = min(k, len(pts))
    for qi, (qx, qy) in enumerate(qs):
        d = np.sqrt((pts[:, 0] - qx) ** 2 + (pts[:, 1] - qy) ** 2)
        order = np.lexsort((np.arange(len(pts)), d))[:kk]
        for r, pi in enumerate(order):
            out.add((qi, int(pi), float(d[pi]), r + 1))
    return out


class TestStripKernelExactness:
    """knn_broadcast_kernel's sorted-strip search (r8 rewrite of the
    Q x N matrix) vs an in-process (dist, point_id) brute force — the
    distributions target the strip machinery's edges: duplicate x
    columns, exact distance ties straddling k, point clusters far from
    the query (forcing widening rounds), k >= n, n == 1."""

    CASES = [
        # vertical-line grid: every x duplicated, diagonal queries tie
        ("grid_ties",
         [(float(i % 5), float(i // 5)) for i in range(25)],
         [(2.0, 2.0), (0.0, 0.0), (2.5, 2.5), (4.0, 0.0)], 4),
        # every point identical: k-way zero-distance tie
        ("identical_points", [(1.5, 2.5)] * 10, [(1.5, 2.5), (0.0, 0.0)], 3),
        # two tight clusters, queries between / outside: the initial
        # density-derived radius is far too small -> widening rounds
        ("far_clusters",
         [(x, y) for x, y in np.vstack(
             [np.random.default_rng(1).normal(scale=1e-3, size=(50, 2)),
              np.random.default_rng(2).normal(loc=100, scale=1e-3,
                                              size=(50, 2))])],
         [(50.0, 50.0), (0.0, 0.0), (100.0, 100.0)], 5),
        # rounded coordinates: dense exact ties everywhere
        ("rounded_ties",
         [(x, y) for x, y in np.round(
             np.random.default_rng(3).uniform(-3, 3, size=(120, 2)))],
         [(x, y) for x, y in np.round(
             np.random.default_rng(4).uniform(-3, 3, size=(15, 2)))], 6),
        ("k_exceeds_n",
         [(0.0, 0.0), (1.0, 0.0), (0.0, 1.0)], [(0.2, 0.2)], 7),
        ("single_point", [(0.5, 0.5)], [(1.0, 1.0)], 3),
    ]

    @pytest.mark.parametrize("name,pts,qs,k",
                             CASES, ids=[c[0] for c in CASES])
    def test_matches_bruteforce(self, spark, name, pts, qs, k):
        from karta_spark.operators.knn import knn_broadcast_kernel
        pts_a = np.asarray(pts, dtype=np.float64)
        qs_a = np.asarray(qs, dtype=np.float64)
        pdf = spark.createDataFrame(
            [(int(i), float(x), float(y)) for i, (x, y) in enumerate(pts_a)],
            "point_id long, x double, y double")
        qdf = spark.createDataFrame(
            [(int(i), float(x), float(y)) for i, (x, y) in enumerate(qs_a)],
            "query_id long, qx double, qy double")
        got = {(r["query_id"], r["point_id"], r["dist"], r["rank"])
               for r in knn_broadcast_kernel(qdf, pdf, k).collect()}
        assert got == _knn_brute(qs_a, pts_a, k)

    def test_string_point_ids(self, spark):
        # the lexsort tie-break must hold for non-numeric id columns
        from karta_spark.operators.knn import knn_broadcast_kernel
        pdf = spark.createDataFrame(
            [("pb", 1.0, 0.0), ("pa", 1.0, 0.0), ("pc", 0.0, 3.0)],
            "point_id string, x double, y double")
        qdf = spark.createDataFrame([(1, 0.0, 0.0)],
                                    "query_id long, qx double, qy double")
        out = knn_broadcast_kernel(qdf, pdf, 2).orderBy("rank").collect()
        # exact dist-1.0 tie: lexical id order decides
        assert [r["point_id"] for r in out] == ["pa", "pb"]


class TestBatchJpegDecode:
    """The vectorized multi-stream entropy kernel must be element-wise
    identical to the scalar reference decoder on every eligible shape,
    and fall back silently on everything else."""

    def test_bench_corpus_bit_identical(self):
        from karta_spark.sources.images import make_row
        from karta_spark.sources.jpeg import (decode_jpeg_baseline,
                                              decode_jpeg_batch)
        datas = [bytes(make_row(i)[1]) for i in range(300) if i % 3 == 2]
        got = decode_jpeg_batch(datas)
        for g, d in zip(got, datas):
            assert np.array_equal(g, decode_jpeg_baseline(d))

    @pytest.mark.parametrize("sub", ["444", "422", "420"])
    def test_photo_modes_bit_identical(self, sub):
        from karta_spark.sources.images import photo_pixels
        from karta_spark.sources.jpeg import (decode_jpeg_baseline,
                                              decode_jpeg_batch,
                                              encode_jpeg_baseline)
        datas = [encode_jpeg_baseline(photo_pixels(i, 52, 36), 75,
                                      subsampling=sub) for i in range(70)]
        got = decode_jpeg_batch(datas)
        for g, d in zip(got, datas):
            assert np.array_equal(g, decode_jpeg_baseline(d))

    def test_gray_noise_and_fallbacks(self):
        from karta_spark.sources.images import photo_pixels
        from karta_spark.sources.jpeg import (decode_jpeg_baseline,
                                              decode_jpeg_batch,
                                              encode_jpeg_baseline,
                                              encode_jpeg_progressive)
        rng = np.random.default_rng(11)
        datas = (
            [encode_jpeg_baseline(photo_pixels(i, 24, 17)[:, :, 0], 80)
             for i in range(70)]
            + [encode_jpeg_baseline(
                rng.integers(0, 256, (21, 13, 3)).astype(np.uint8), 90)
               for _ in range(70)]
            # restart intervals and progressive scans must take the
            # scalar fallback inside the same call
            + [encode_jpeg_baseline(photo_pixels(i, 52, 36), 95,
                                    subsampling="420", restart_interval=2)
               for i in range(5)]
            + [encode_jpeg_progressive(photo_pixels(i, 52, 36), 95)
               for i in range(3)]
        )
        got = decode_jpeg_batch(datas)
        for g, d in zip(got, datas):
            assert np.array_equal(g, decode_jpeg_baseline(d))


class TestRoundHalfEvenExpr:
    """round_half_even's float-algebra CASE form must match Spark's
    BigDecimal bround (and numpy banker's rounding) on every input,
    ties and negatives included."""

    def test_matches_bround_and_numpy(self, spark):
        from pyspark.sql import functions as F
        from karta_spark.raster.gridpoints import round_half_even
        vals = [0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 0.49999999999999994,
                0.5000000000000001, -0.49999999999999994, 1e15 + 0.5,
                -3.5, 7.5, 0.0, -0.0, 123.456, -123.456]
        # dense near-tie sweep
        vals += [k / 2.0 + eps for k in range(-20, 21)
                 for eps in (0.0, 1e-12, -1e-12)]
        df = spark.createDataFrame([(float(v),) for v in vals], "p double")
        got = df.select(
            round_half_even(F.col("p")).cast("long").alias("a"),
            F.bround(F.col("p")).cast("long").alias("b"),
            "p").collect()
        for r in got:
            assert r["a"] == r["b"], r["p"]
            assert r["a"] == int(np.round(r["p"])), r["p"]


class TestBatchedDecodeStats:
    def test_pixels_for_phash_batch_parity(self):
        from karta_spark.sources.images import (phash_for_index,
                                                pixels_for_phash,
                                                pixels_for_phash_batch)
        ph = phash_for_index(np.arange(200))
        got = pixels_for_phash_batch(ph, 16, 16)
        for i in range(200):
            assert np.array_equal(got[i], pixels_for_phash(int(ph[i]), 16, 16))
        got = pixels_for_phash_batch(ph[:20], 7, 5)
        for i in range(20):
            assert np.array_equal(got[i], pixels_for_phash(int(ph[i]), 7, 5))

    def test_decode_stats_bit_equal_to_per_row(self, spark):
        """The grouped axis-reduction stats must equal the per-image
        np.mean/np.std/psnr floats EXACTLY (same pairwise sums)."""
        from pyspark.sql import functions as F
        from karta_spark.sources import images as im
        imgs = im.synth_images(spark, 300, partitions=2)
        got = {r["image_id"]: r for r in im.decode_stats(imgs).collect()}
        src = imgs.collect()
        assert len(got) == 300
        for row in src:
            pix = im.decode_image(bytes(row["bytes"]), row["fmt"])
            if pix.ndim == 2:
                pix = np.repeat(pix[:, :, None], 3, axis=2)
            ref = im.pixels_for_phash(int(row["phash"]), row["w"], row["h"])
            g = got[row["image_id"]]
            assert g["pix_mean"] == float(pix.mean())
            assert g["pix_std"] == float(pix.std())
            assert g["psnr_vs_ref"] == im.psnr(pix, ref)
