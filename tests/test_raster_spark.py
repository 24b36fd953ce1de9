"""Spark raster tests — goldens from reference tests/grid_tests.py."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from karta_spark.functions.kernels import sample_bilinear, sample_nearest
from karta_spark.raster import algebra, sampling, tiles
from karta_spark.raster.gridpoints import gridpoints
from karta_spark.raster.mask import mask_by_poly
from karta_spark.raster.sampling import round_half_even

T1 = (0.0, 0.0, 1.0, 1.0, 0.0, 0.0)


def _is_nodata(v):
    return v is None or (isinstance(v, float) and np.isnan(v))
Z2 = np.array([[0.0, 1.0], [1.0, 0.5]])


def peaks(n=49):
    X, Y = np.meshgrid(np.linspace(-3, 3, n), np.linspace(-3, 3, n))
    return (3.0 * (1 - X) ** 2 * np.exp(-X ** 2 - (Y + 1) ** 2)
            - 10.0 * (X / 5.0 - X ** 3 - Y ** 5) * np.exp(-X ** 2 - Y ** 2)
            - 1.0 / 3.0 * np.exp(-(X + 1) ** 2 - Y ** 2))


def sample_at(spark, grid_df, transform, pts, method):
    pdf = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "pid long, x double, y double")
    got = sampling.sample_join(pdf, grid_df, transform, method=method).orderBy("pid").collect()
    return [r["value"] for r in got]


class TestSampling:
    def test_nearest_golden(self, spark):
        # grid_tests.py:220-226
        g = tiles.grid_to_df(spark, "g", Z2, T1)
        got = sample_at(spark, g, T1, [(0.6, 0.7), (0.6, 1.3), (1.4, 0.3), (1.6, 1.3)], "nearest")
        assert got == [0.0, 1.0, 1.0, 0.5]

    def test_bilinear_golden(self, spark):
        # grid_tests.py:261-264: center (1,1) -> 0.625
        g = tiles.grid_to_df(spark, "g", Z2, T1)
        got = sample_at(spark, g, T1, [(1.0, 1.0)], "bilinear")
        assert got[0] == pytest.approx(0.625)

    def test_nearest_out_of_bounds(self, spark):
        # grid_tests.py:194-201: ones 10x10; (12,-1),(15,1) -> nan
        g = tiles.grid_to_df(spark, "g", np.ones((10, 10)), T1)
        got = sample_at(spark, g, T1, [(7, 3), (9, 1), (12, -1), (15, 1)], "nearest")
        assert got[0] == 1.0 and got[1] == 1.0
        # NaN nodata surfaces as SQL NULL across the Arrow boundary
        assert _is_nodata(got[2]) and _is_nodata(got[3])

    def test_bilinear_out_of_bounds(self, spark):
        g = tiles.grid_to_df(spark, "g", np.ones((10, 10)), T1)
        got = sample_at(spark, g, T1, [(7, 3), (9, 1), (12, -1), (15, 1)], "bilinear")
        assert got[0] == 1.0 and got[1] == 1.0
        assert _is_nodata(got[2]) and _is_nodata(got[3])

    def test_multi_tile_consistency(self, spark):
        # same samples from a 1-tile and a 16-tile layout must agree
        rng = np.random.default_rng(3)
        Z = rng.uniform(0, 10, (64, 64))
        one = tiles.grid_to_df(spark, "g", Z, T1, tile=256)
        many = tiles.grid_to_df(spark, "g", Z, T1, tile=16)
        pts = [(float(x), float(y)) for x, y in rng.uniform(0.6, 63.4, (50, 2))]
        a = sample_at(spark, one, T1, pts, "bilinear")
        b = sample_at(spark, many, T1, pts, "bilinear")
        np.testing.assert_allclose(a, b, rtol=0, atol=0)

    def test_peaks_minmax(self, spark):
        # grid_tests.py:389-397
        g = tiles.grid_to_df(spark, "g", peaks(49), (0.0, 0.0, 30.0, 30.0, 0.0, 0.0),
                             tile=16)
        row = tiles.grid_minmax(g).collect()[0]
        assert row["min"] == pytest.approx(-6.5466445243204294)
        assert row["max"] == pytest.approx(8.075173545159231)


def _bits(v):
    """Bit pattern of a sample; NaN and NULL (how NaN leaves sample_join)
    both read None."""
    return None if v is None or math.isnan(v) else np.float64(v).view(np.int64).item()


def assert_samples_match_kernels(spark, grid_df, transform, Z, nodata, rows):
    """sample_join returns one row per (pid, x, y) point, bit-equal to the
    numpy kernels on the dense array *Z* for both methods."""
    pts = spark.createDataFrame(rows, "pid long, x double, y double")
    x0, y0, dx, dy, _, _ = transform  # unskewed: i = (y - y0)/dy - 0.5
    xs = np.array([np.nan if r[1] is None else r[1] for r in rows])
    ys = np.array([np.nan if r[2] is None else r[2] for r in rows])
    with np.errstate(invalid="ignore", over="ignore"):
        gi, gj = (ys - y0) / dy - 0.5, (xs - x0) / dx - 0.5
        for method, kernel in (("bilinear", sample_bilinear), ("nearest", sample_nearest)):
            got = sampling.sample_join(pts, grid_df, transform, method=method).collect()
            assert sorted(r["pid"] for r in got) == sorted(r[0] for r in rows)
            got = {r["pid"]: r["value"] for r in got}
            want = kernel(gi, gj, Z, nodata)
            for k, (pid, x, y) in enumerate(rows):
                assert _bits(got[pid]) == _bits(want[k]), (method, x, y, got[pid], want[k])


class TestSampleJoinGlobalIndex:
    """Rounding and splitting happen on GLOBAL fractional indices.  Tile
    size 4 with halo 1 makes the local offset odd, which would flip
    banker's rounding at every half-integer; and global index 0 split
    locally would hit the NaN halo row."""

    def _tiles(self, spark, Z, tile=4):
        return tiles.grid_to_df(spark, "g", Z, T1, tile=tile, halo=1)

    def test_matches_full_array_kernels(self, spark):
        rng = np.random.default_rng(2)
        Z = rng.uniform(0, 100, size=(8, 8)).round(3)
        tl = self._tiles(spark, Z)
        # world coords hitting: exact cell centers (integer global index,
        # incl. global 0 at the grid edge), half-integers, and interior
        # fractional positions in tiles with odd local offsets
        iis = [0.0, 0.5, 1.5, 2.5, 3.5, 4.0, 4.5, 5.5, 6.5, 7.0, 3.0, 6.0]
        pts_rows = []
        pid = 0
        for gi in iis:
            for gj in iis:
                # world = forward affine of (index + 0.5) (the -0.5 conv.)
                pts_rows.append((pid, gj + 0.5, gi + 0.5))
                pid += 1
        pts = spark.createDataFrame(pts_rows, "pid long, x double, y double")

        for method, kernel in (("nearest", sample_nearest),
                               ("bilinear", sample_bilinear)):
            got = {r["pid"]: r["value"] for r in
                   sampling.sample_join(pts, tl, T1, method=method).collect()}
            gi = np.array([r[2] - 0.5 for r in pts_rows])
            gj = np.array([r[1] - 0.5 for r in pts_rows])
            want = kernel(gi, gj, Z, float("nan"))
            for k, r in enumerate(pts_rows):
                w, g = float(want[k]), got[r[0]]
                assert (math.isnan(w) and math.isnan(g)) or abs(w - g) < 1e-12, (
                    f"{method} mismatch at global ({gi[k]},{gj[k]}): {g} != {w}")

    def test_edge_zero_bilinear_not_nan(self, spark):
        Z = np.arange(64, dtype=np.float64).reshape(8, 8)
        tl = self._tiles(spark, Z)
        # global fractional index exactly 0 -> split (0,1), valid edge sample
        pts = spark.createDataFrame([(0, 0.5, 0.5)], "pid long, x double, y double")
        got = sampling.sample_join(pts, tl, T1, method="bilinear").collect()[0]["value"]
        assert not math.isnan(got)
        assert abs(got - float(sample_bilinear(
            np.array([0.0]), np.array([0.0]), Z, float("nan"))[0])) < 1e-12


class TestSampleJoinEdges:
    """Bit-equality with the numpy kernels on a 7x9 grid with NaN cells:
    half-integers, exact 0, both grid edges, and null/NaN/+-inf/huge
    coordinates (nodata, never an ANSI overflow), over several tilings."""

    Z = np.where(np.isin(np.arange(63).reshape(7, 9), [21, 53]), np.nan,
                 np.arange(63, dtype=np.float64).reshape(7, 9) * 1.37 - 20.0)
    COORDS = ([k / 2.0 for k in range(-4, 22)]
              + [-0.0, 0.25, 3.3, 6.75, 8.75, 1e-300]
              + [float("nan"), float("inf"), -float("inf"), None, 1e300, -1e300, 1e10, 2e9, -1e9])

    @pytest.mark.parametrize("tile", [2, 3, 16])
    @pytest.mark.parametrize("nodata", [float("nan"), -9999.0])
    def test_bit_equal_to_kernels(self, spark, nodata, tile):
        g = tiles.grid_to_df(spark, "g", self.Z, T1, nodata=nodata, tile=tile)
        rows = [(k, x, y) for k, (x, y) in enumerate(
            (x, y) for x in self.COORDS for y in self.COORDS)]
        assert_samples_match_kernels(spark, g, T1, self.Z, nodata, rows)

    def test_sparse_tables_from_cells_and_resize(self, spark):
        """tiles_from_cells keeps only tiles with data and stores NaN cells
        and its NaN nodata as nulls; resize() goes through it too."""
        rng = np.random.default_rng(11)
        gny, gnx = 20, 30
        mask = rng.uniform(size=(gny, gnx)) < 0.6
        mask[:10, :15] = False  # tiles with no data are absent
        vals = rng.standard_normal((gny, gnx)).round(4)
        cdf = spark.createDataFrame(
            [(int(i), int(j), float(vals[i, j])) for i, j in zip(*np.nonzero(mask))],
            "cell_i int, cell_j int, value double")
        sparse = tiles.tiles_from_cells(cdf, T1, (gny, gnx), tile=5)
        assert sparse.count() < 4 * 6
        xy = np.vstack([rng.uniform(-1.0, 32.0, (300, 2)),
                        np.mgrid[0:32:2.5, 0:24:1.5].reshape(2, -1).T])
        rows = [(k, float(x), float(y)) for k, (x, y) in enumerate(xy)]
        assert_samples_match_kernels(spark, sparse, T1, np.where(mask, vals, np.nan),
                                     float("nan"), rows)
        resized = tiles.resize(sparse, (-3.0, 2.0, 27.0, 25.0), tile=8)
        Zr, tr, nodata = tiles.df_to_grid(resized)
        assert Zr.shape == (23, 30) and math.isnan(nodata)
        assert_samples_match_kernels(spark, resized, tr, Zr, nodata, rows)


class TestSampleJoinPlan:
    def test_catalyst_join_builds_the_point_side(self, spark):
        """No Python worker anywhere in the plan, and a small point batch
        against a larger cached tile table is the join's build side."""
        rng = np.random.default_rng(4)
        g = tiles.grid_to_df(spark, "g", rng.uniform(0, 1, (128, 128)), T1, tile=16).cache()
        g.count()
        # a source with size statistics, as a parquet scan has
        pts = spark.range(20).select(F.col("id").alias("pid"),
                                     (F.col("id") * 37 % 128 + 0.3).alias("x"),
                                     (F.col("id") * 53 % 128 + 0.7).alias("y"))
        try:
            for method in ("bilinear", "nearest"):
                out = sampling.sample_join(pts, g, T1, method=method)
                assert len(out.collect()) == 20
                plan = out._jdf.queryExecution().executedPlan().toString()
                for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
                    assert node not in plan
                assert "BroadcastHashJoin" in plan
                assert "BuildLeft" in plan and "BuildRight" not in plan
        finally:
            g.unpersist()

    def test_tile_size_and_halo_checked(self, spark):
        g = tiles.grid_to_df(spark, "g", np.ones((40, 40)), T1, tile=16)
        pts = spark.createDataFrame([(0, 1.0, 1.0)], "pid long, x double, y double")
        assert sampling.sample_join(pts, g, T1, tile=16).first()["value"] == 1.0
        with pytest.raises(ValueError, match="16-cell tiles"):
            sampling.sample_join(pts, g, T1, tile=256)
        bare = tiles.grid_to_df(spark, "g", np.ones((40, 40)), T1, tile=16, halo=0)
        with pytest.raises(ValueError, match="halo"):
            sampling.sample_join(pts, bare, T1)


class TestSampleJoinSkewed:
    """Skewed transforms, as in the reference's sampling goldens
    (grid_tests.py:220-313): non-zero sx, sy, a north-up negative dy and
    negative origin terms.  Bit-equal to the numpy kernels at the
    positions the closed-form inverse affine gives, in the same order."""

    Z = TestSampleJoinEdges.Z
    T = (-4.25, 3.5, 0.75, -0.6, 0.13, -0.09)

    @pytest.mark.parametrize("tile", [3, 16])
    def test_bit_equal_to_kernels(self, spark, tile):
        x0, y0, dx, dy, sx, sy = self.T
        rng = np.random.default_rng(23)
        # forward affine of every quarter-cell position around the grid,
        # random points, and non-finite coordinates
        ii, jj = np.mgrid[-1.5:8.0:0.25, -1.5:10.0:0.25].reshape(2, -1)
        xs = np.concatenate([x0 + (jj + 0.5) * dx + (ii + 0.5) * sx,
                             rng.uniform(-6.0, 7.0, 300), [np.nan, np.inf, 0.0]])
        ys = np.concatenate([y0 + (ii + 0.5) * dy + (jj + 0.5) * sy,
                             rng.uniform(-2.0, 5.0, 300), [0.0, 1.0, -np.inf]])
        rows = [(k, float(x), float(y)) for k, (x, y) in enumerate(zip(xs, ys))]
        pts = spark.createDataFrame(rows, "pid long, x double, y double")
        g = tiles.grid_to_df(spark, "g", self.Z, self.T, nodata=-9999.0, tile=tile)
        with np.errstate(invalid="ignore", over="ignore"):
            j = (dy * xs - dy * x0 + sx * y0 - sx * ys) / (dx * dy - sx * sy)
            gi, gj = (ys - y0 - j * sy) / dy - 0.5, j - 0.5
            for method, kernel in (("bilinear", sample_bilinear), ("nearest", sample_nearest)):
                got = {r["pid"]: r["value"] for r in
                       sampling.sample_join(pts, g, self.T, method=method).collect()}
                want = kernel(gi, gj, self.Z, -9999.0)
                assert len(got) == len(rows)
                assert sum(w != -9999.0 for w in want) > 200  # most are on the grid
                for k, (pid, x, y) in enumerate(rows):
                    assert _bits(got[pid]) == _bits(want[k]), (method, x, y, got[pid], want[k])


class TestSqlText:
    VALUES = [-0.0, 0.0, 5e-324, -5e-324, 1e300, -1e300, 0.1, -1 / 3, 2.0 ** 63,
              1.7976931348623157e308, -2.2250738585072014e-308, math.pi * 1e-310]

    def test_double_literals_round_trip(self, spark):
        lits = [sampling.sql_double(v) for v in self.VALUES]
        row = spark.range(1).selectExpr(*(f"{t} AS c{k}" for k, t in enumerate(lits))).first()
        for k, v in enumerate(self.VALUES):
            assert _bits(row[k]) == _bits(v) and math.copysign(1.0, row[k]) == math.copysign(1.0, v)
        special = spark.range(1).selectExpr(
            *(sampling.sql_double(v) for v in (float("nan"), float("inf"), -float("inf")))).first()
        assert math.isnan(special[0]) and special[1] == float("inf") and special[2] == -float("inf")

    def test_negative_literal_after_a_minus_sign(self, spark):
        # "1.0D--5.0D" would be 1.0 followed by a comment
        neg = sampling.sql_double(-5.0)
        assert neg.startswith("(")
        assert spark.range(1).selectExpr(f"1.0D-{neg}").first()[0] == 6.0
        assert spark.range(1).selectExpr(f"1.0D-{sampling.sql_double(-0.0)}").first()[0] == 1.0

    @pytest.mark.parametrize("nodata", [float("inf"), -float("inf"), float("nan")])
    def test_non_finite_nodata(self, spark, nodata):
        g = tiles.grid_to_df(spark, "g", np.ones((6, 6)), T1, nodata=nodata, tile=4)
        got = sample_at(spark, g, T1, [(2.0, 2.0), (40.0, 2.0), (2.0, -7.0)], "bilinear")
        assert got[0] == 1.0
        want = None if math.isnan(nodata) else nodata  # NaN leaves as NULL
        assert got[1:] == [want, want]


class TestSampleJoinBuildCost:
    def test_one_job_and_few_py4j_round_trips(self, spark, monkeypatch):
        """Building the plan runs only the metadata query and makes at most
        150 py4j round trips (one Column call each made ~1,500)."""
        import py4j.clientserver as cs

        g = tiles.grid_to_df(spark, "g", np.ones((64, 64)), T1, tile=16).cache()
        g.count()
        pts = spark.createDataFrame([(0, 1.0, 1.0)], "pid long, x double, y double")
        sc = spark.sparkContext
        group = "sample-join-build"
        calls = []
        send = cs.ClientServerConnection.send_command

        def counted(self, command):
            calls.append(1)
            return send(self, command)

        try:
            for method in ("bilinear", "nearest"):
                sc.setJobGroup(group + method, "sample_join build")
                calls.clear()
                monkeypatch.setattr(cs.ClientServerConnection, "send_command", counted)
                out = sampling.sample_join(pts, g, T1, method=method)
                monkeypatch.undo()
                n_calls = len(calls)
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                assert len(sc.statusTracker().getJobIdsForGroup(group + method)) == 1
                assert 0 < n_calls <= 150, n_calls
                assert out.first()["value"] == 1.0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            g.unpersist()


class TestSampleCrsTransform:
    def test_points_reprojected_to_grid_crs(self, spark):
        """reference grid.py:1018-1021: sample() converts query points to
        the grid CRS before the inverse-affine lookup."""
        from karta_spark.functions import crs as kcrs
        rng = np.random.default_rng(3)
        Z = rng.uniform(0, 10, (8, 8)).round(3)
        # grid lives in web-mercator meters around (0,0)
        t = (-40000.0, -40000.0, 10000.0, 10000.0, 0.0, 0.0)
        g = tiles.grid_to_df(spark, "g", Z, t, tile=8)
        lons = rng.uniform(-0.3, 0.3, 40)
        lats = rng.uniform(-0.3, 0.3, 40)
        pts = spark.createDataFrame(
            [(i, float(lons[i]), float(lats[i])) for i in range(40)],
            "pid long, x double, y double")
        got = {r["pid"]: r["value"] for r in sampling.sample_join(
            pts, g, t, method="nearest",
            point_crs="lonlat", grid_crs="webmercator").collect()}
        # twin: project manually, sample in grid coords
        mx, my = kcrs.forward_np(kcrs.WEB_MERCATOR, lons, lats)
        ptsm = spark.createDataFrame(
            [(i, float(mx[i]), float(my[i])) for i in range(40)],
            "pid long, x double, y double")
        want = {r["pid"]: r["value"] for r in sampling.sample_join(
            ptsm, g, t, method="nearest").collect()}
        assert got == want and len(got) == 40


class TestResample:
    def test_resample_linear_exact(self, spark):
        # grid_tests.py:162-192: linear field exact under resampling
        def makevals(n):
            xx, yy = np.meshgrid(np.linspace(0.0, 1.0 - 2.0 / 300, n) * 0 + 0, [0])
            return None
        n = 150
        xx, yy = np.meshgrid(np.linspace(0.0, 1.0 - 2.0 / 300, n),
                             np.linspace(0.0, 1.0 - 2.0 / 300, n))
        # reference grids are in index space: transform (0,0,2,2,0,0)
        X, Y = np.meshgrid(np.arange(n) * 2.0 + 1.0, np.arange(n) * 2.0 + 1.0)
        zz = 2.0 * xx - 3.0 * yy
        T = (0.0, 0.0, 2.0, 2.0, 0.0, 0.0)
        g = tiles.grid_to_df(spark, "g", zz, T, tile=64)
        for method in ("nearest", "linear" ):
            sampled, tnew, (ny, nx) = sampling.resample(
                g, T, zz.shape, 6.0, 6.0,
                method="bilinear" if method == "linear" else "nearest", tile=64)
            assert (ny, nx) == (50, 50)
            # analytic solution on the new lattice
            pdf = sampled.orderBy("ti", "tj").toPandas()
            n2 = 50
            xx2, yy2 = np.meshgrid(np.linspace(0.0, 1.0 - 6.0 / 300, n2),
                                   np.linspace(0.0, 1.0 - 6.0 / 300, n2))
            sol = 2.0 * xx2 - 3.0 * yy2
            got = np.full((n2, n2), np.nan)
            got[pdf["ti"].to_numpy(), pdf["tj"].to_numpy()] = pdf["value"].to_numpy()
            assert np.nanmax(np.abs(got - sol)) < 1e-12


class TestGridpoints:
    def test_mean_per_cell(self, spark):
        # fillarray semantics (crfuncs.pyx:161-195): mean per cell
        pts = [(0.5, 0.5, 1.0), (0.9, 0.9, 3.0), (1.5, 0.5, 7.0)]
        df = spark.createDataFrame(pts, "x double, y double, z double")
        got = {(r["cell_i"], r["cell_j"]): (r["value"], r["n"])
               for r in gridpoints(df, T1).collect()}
        assert got[(0, 0)] == (2.0, 2)
        assert got[(0, 1)] == (7.0, 1)

    def test_reference_benchmark_shape(self, spark):
        # benchmark_gridpoints.py workload: n=50k seed 49, 100x100 grid
        np.random.seed(49)
        x = np.random.rand(50_000)
        y = np.random.rand(50_000)
        z = x ** 2 + np.sin(y)
        df = spark.createDataFrame(
            [(float(a), float(b), float(c)) for a, b, c in zip(x, y, z)],
            "x double, y double, z double")
        T = (0.0, 0.0, 0.01, 0.01, 0.0, 0.0)
        got = gridpoints(df, T).collect()
        # every cell mean must equal the numpy reference
        I = np.round((y - T[1]) / 0.01 - 0.5).astype(int)
        J = np.round((x - T[0]) / 0.01 - 0.5).astype(int)
        import collections
        acc = collections.defaultdict(list)
        for i, j, v in zip(I, J, z):
            acc[(i, j)].append(v)
        for r in got[:200]:
            want = float(np.mean(acc[(r["cell_i"], r["cell_j"])]))
            assert r["value"] == pytest.approx(want, rel=1e-12)

    def test_non_finite_points_dropped(self, spark):
        """A NaN/inf/null coordinate neither aborts the job (ANSI overflow)
        nor lands in a real cell: gridpoints skips the row."""
        good = [(0.5, 0.5, 1.0), (0.9, 0.9, 3.0), (1.5, 0.5, 7.0), (2.5, 2.5, 4.0)]
        bad = [(float("nan"), 0.5, 50.0), (0.5, float("nan"), 60.0),
               (float("inf"), 0.5, 70.0), (0.5, -float("inf"), 80.0),
               (float("nan"), float("nan"), 90.0), (None, 1.5, 95.0)]
        schema = "x double, y double, z double"
        want = gridpoints(spark.createDataFrame(good, schema), T1).collect()
        got = gridpoints(spark.createDataFrame(good + bad, schema), T1).collect()
        assert sorted(got) == sorted(want) and len(want) == 3

    def test_round_half_even_null_off_the_long_range(self, spark):
        vals = [float("nan"), float("inf"), -float("inf"), None, 1e300, -1e19, 2.5, -2.5]
        df = spark.createDataFrame([(v,) for v in vals], "p double")
        got = [r[0] for r in df.select(round_half_even(F.col("p"))).collect()]
        assert got == [None] * 6 + [2, -2]


class TestMergeAlgebra:
    def test_merge_golden(self, spark):
        # grid_tests.py:126-133
        g1 = tiles.grid_to_df(spark, "g1", np.ones((8, 8)), (10, 20, 1, 1, 0, 0))
        g2 = tiles.grid_to_df(spark, "g2", 2 * np.ones((4, 6)), (7, 22, 1, 1, 0, 0))
        g3 = tiles.grid_to_df(spark, "g3", 3 * np.ones((5, 5)), (12, 15, 1, 1, 0, 0))
        merged, T, (ny, nx) = algebra.merge_grids([g1, g2, g3])
        assert T == (7.0, 15.0, 1.0, 1.0, 0.0, 0.0)
        assert (ny, nx) == (13, 11)
        vals, _, _ = tiles.df_to_grid(merged)
        assert int(np.sum(np.isnan(vals))) == 42

    def test_merge_weighted_golden(self, spark):
        # grid_tests.py:135-142
        g1 = tiles.grid_to_df(spark, "g1", np.ones((8, 8)), (10, 20, 1, 1, 0, 0))
        g2 = tiles.grid_to_df(spark, "g2", 2 * np.ones((4, 6)), (7, 22, 1, 1, 0, 0))
        g3 = tiles.grid_to_df(spark, "g3", 3 * np.ones((5, 5)), (12, 19, 1, 1, 0, 0))
        merged, T, shape = algebra.merge_grids([g1, g2, g3], weights=[1, 2, 3])
        vals, _, _ = tiles.df_to_grid(merged)
        assert vals[4, 4] == pytest.approx(1.66666666666)
        assert vals[2, 8] == pytest.approx(2.5)
        assert vals[4, 5] == pytest.approx(2.33333333333)

    def test_apply_in_pandas_paths_infer_no_type_hints(self, spark):
        """merge_grids, mosaic and tiles_from_cells (through resize) hand
        applyInPandas unannotated functions, so pyspark does not warn that
        it cannot infer their eval type."""
        import warnings
        g1 = tiles.grid_to_df(spark, "g1", np.ones((8, 8)), (10, 20, 1, 1, 0, 0))
        g2 = tiles.grid_to_df(spark, "g2", 2 * np.ones((4, 6)), (7, 22, 1, 1, 0, 0))
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            algebra.merge_grids([g1, g2])
            algebra.mosaic(g1.unionByName(g1.withColumn("grid_id", F.lit("h"))))
            tiles.resize(g1, (10.0, 20.0, 14.0, 24.0), tile=4)
        assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]

    def test_grid_add_sub(self, spark):
        a = tiles.grid_to_df(spark, "a", np.full((4, 4), 3.0), T1)
        b = tiles.grid_to_df(spark, "b", np.full((4, 4), 1.5), T1)
        s, _, _ = tiles.df_to_grid(algebra.grid_add(a, b))
        d, _, _ = tiles.df_to_grid(algebra.grid_sub(a, b))
        assert np.allclose(s, 4.5) and np.allclose(d, 1.5)

    def test_grid_apply(self, spark):
        g = tiles.grid_to_df(spark, "g", np.array([[1.0, 4.0], [9.0, 16.0]]), T1)
        out, _, _ = tiles.df_to_grid(algebra.grid_apply(g, np.sqrt))
        assert np.allclose(out, [[1, 2], [3, 4]])


class TestMask:
    def test_mask_by_poly(self, spark):
        # semantics of grid_tests.py:459-556: inside kept, outside nodata
        g = tiles.grid_to_df(spark, "g", np.ones((10, 10)), T1, tile=8)
        tri = (np.array([(1.0, 1.0), (9.0, 1.0), (5.0, 9.0)]), [])
        masked, _, _ = tiles.df_to_grid(mask_by_poly(g, [tri]))
        from karta_spark.functions.kernels import winding_contains
        jj, ii = np.meshgrid(np.arange(10), np.arange(10))
        cx, cy = jj + 0.5, ii + 0.5
        want = winding_contains(cx.ravel(), cy.ravel(), tri[0]).reshape(10, 10)
        assert np.array_equal(~np.isnan(masked), want)


class TestTilesFromCells:
    def test_matches_driver_side_assembly(self, spark):
        rng = np.random.default_rng(9)
        gny, gnx = 40, 56
        # sparse cells (~60% fill)
        mask = rng.uniform(size=(gny, gnx)) < 0.6
        vals = rng.standard_normal((gny, gnx))
        rows = [(int(i), int(j), float(vals[i, j]))
                for i, j in zip(*np.nonzero(mask))]
        cdf = spark.createDataFrame(rows, "cell_i int, cell_j int, value double")
        got_df = tiles.tiles_from_cells(cdf, T1, (gny, gnx), tile=16)
        got, transform, _ = tiles.df_to_grid(got_df)
        want = np.where(mask, vals, np.nan)
        np.testing.assert_allclose(got, want, equal_nan=True)
        # halos correct: a stencil over this equals the stencil over a
        # driver-side grid_to_df of the same array
        from karta_spark.raster import stencil
        a, _, _ = tiles.df_to_grid(stencil.slope(got_df))
        b, _, _ = tiles.df_to_grid(stencil.slope(
            tiles.grid_to_df(spark, "ref", want, T1, tile=16)))
        np.testing.assert_allclose(a, b, equal_nan=True)


class TestMultiband:
    def test_three_band_sampling(self, spark):
        # reference resample_multiband golden shape (grid_tests.py:210-218):
        # constant bands 1/2/3 sample to their constants
        dfs = [tiles.grid_to_df(spark, "g", float(b + 1) * np.ones((8, 8)), T1, band=b)
               for b in range(3)]
        g = dfs[0].unionByName(dfs[1]).unionByName(dfs[2])
        pts = spark.createDataFrame([(0, 3.3, 4.7)], "pid long, x double, y double")
        row = sampling.sample_join_multiband(pts, g, T1, method="bilinear").collect()[0]
        assert (row["band_0"], row["band_1"], row["band_2"]) == (1.0, 2.0, 3.0)
