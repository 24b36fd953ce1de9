"""Round-5 regression tests (r4 ADVICE findings + VERDICT r4 roadmap)."""
import numpy as np
import pytest


class TestKnnBoundaryTies:
    """ADVICE r4 (medium): knn_broadcast_kernel must match the ring
    path's (dist asc, point_id asc) tie-break even when a tie group
    STRADDLES the k-th rank (argpartition picks arbitrary members of a
    tied group — more tied points than remaining slots)."""

    @staticmethod
    def _tie_frames(spark):
        import pandas as pd
        # 8 points on a unit circle around (0,0): all exactly tied at
        # dist 1 from the query; plus one closer point.  k=4 leaves 3
        # slots for an 8-way tie — the kernel must pick the 3 LOWEST
        # point_ids, like row_number() over (dist, point_id) would.
        # axis points and 3-4-5 points: sqrt(x*x+y*y) == 1.0 EXACTLY in
        # float64 for all eight (verified), so the tie is bit-for-bit
        px = [1.0, 0.0, -1.0, 0.0, 0.6, -0.6, -0.6, 0.6, 0.25]
        py = [0.0, 1.0, 0.0, -1.0, 0.8, 0.8, -0.8, -0.8, 0.0]
        pids = [10, 11, 12, 13, 14, 15, 16, 17, 5]
        pts = spark.createDataFrame(pd.DataFrame(
            {"point_id": pids, "x": [float(v) for v in px],
             "y": [float(v) for v in py]}))
        qs = spark.createDataFrame(pd.DataFrame(
            {"query_id": [1], "qx": [0.0], "qy": [0.0]}))
        return qs, pts

    def test_kernel_picks_lowest_pids_in_straddling_tie(self, spark):
        from karta_spark.operators.knn import knn_broadcast_kernel
        qs, pts = self._tie_frames(spark)
        out = knn_broadcast_kernel(qs, pts, k=4).orderBy("rank").collect()
        # rank 1: pid 5 (dist 0.25); ranks 2-4: the 3 LOWEST of the
        # 8-way dist-1.0 tie group -> pids 10, 11, 12
        assert [r["point_id"] for r in out] == [5, 10, 11, 12]
        assert [r["rank"] for r in out] == [1, 2, 3, 4]

    def test_kernel_matches_ring_path_on_ties(self, spark):
        from karta_spark.operators.knn import knn_broadcast_kernel, knn_join
        qs, pts = self._tie_frames(spark)
        kern = knn_broadcast_kernel(qs, pts, k=4).orderBy("rank").collect()
        ring = knn_join(qs, pts, k=4, zoom=4).orderBy("rank").collect()
        assert [(r["point_id"], r["rank"]) for r in kern] == \
            [(r["point_id"], r["rank"]) for r in ring]

    def test_no_tie_path_unchanged(self, spark):
        import pandas as pd
        from karta_spark.operators.knn import knn_broadcast_kernel
        rng = np.random.default_rng(7)
        pts = spark.createDataFrame(pd.DataFrame(
            {"point_id": np.arange(50, dtype=np.int64),
             "x": rng.uniform(-5, 5, 50), "y": rng.uniform(-5, 5, 50)}))
        qs = spark.createDataFrame(pd.DataFrame(
            {"query_id": [1, 2], "qx": [0.0, 2.0], "qy": [0.0, -1.0]}))
        out = knn_broadcast_kernel(qs, pts, k=5)
        pdf = out.toPandas()
        assert len(pdf) == 10
        # distances ascend within each query
        for qid, grp in pdf.groupby("query_id"):
            d = grp.sort_values("rank")["dist"].to_numpy()
            assert (np.diff(d) >= 0).all()


class TestShingleHashesSurrogates:
    """ADVICE r4 (low): lone surrogates must not crash the gram hash, and
    every doc (empty, short and null included) yields >= 1 gram."""

    def test_lone_surrogate_text(self):
        from karta_spark.operators.dedup import _gram_hashes
        hv, seg = _gram_hashes(["\ud800\ud801\ud802\ud803\ud804"], 3)
        assert isinstance(hv, np.ndarray)
        assert hv.dtype == np.uint64
        assert len(hv) == 3 and list(seg) == [0]

    def test_empty_and_short_text(self):
        from karta_spark.operators.dedup import _gram_hashes
        hv, seg = _gram_hashes(["", "a", None], 3)
        assert len(hv) == 3 and list(seg) == [0, 1, 2]  # one padded gram each
        assert hv[0] != hv[1] and hv[0] == hv[2]  # null hashes like ''

    def test_normal_text_unchanged(self):
        from karta_spark.operators.dedup import _gram_hashes
        h1, _ = _gram_hashes(["hello world"], 3)
        h2, _ = _gram_hashes(["hello world"], 3)
        assert np.array_equal(h1, h2)
        assert len(set(h1.tolist())) == len(set("hello world"[i:i + 3]
                                                for i in range(len("hello world") - 2)))


class TestPseudoMercatorWkt:
    """ADVICE r4 (low): canonical GDAL/EPSG:3857 WKT (ellipsoidal WGS84
    GEOGCS + Mercator_1SP, all-zero params) must parse as WEB_MERCATOR."""

    # the canonical EPSG:3857 WKT1 as GDAL exports it
    EPSG_3857 = (
        'PROJCS["WGS 84 / Pseudo-Mercator",'
        'GEOGCS["WGS 84",DATUM["WGS_1984",'
        'SPHEROID["WGS 84",6378137,298.257223563,'
        'AUTHORITY["EPSG","7030"]],AUTHORITY["EPSG","6326"]],'
        'PRIMEM["Greenwich",0,AUTHORITY["EPSG","8901"]],'
        'UNIT["degree",0.0174532925199433,AUTHORITY["EPSG","9122"]],'
        'AUTHORITY["EPSG","4326"]],'
        'PROJECTION["Mercator_1SP"],'
        'PARAMETER["central_meridian",0],'
        'PARAMETER["scale_factor",1],'
        'PARAMETER["false_easting",0],'
        'PARAMETER["false_northing",0],'
        'UNIT["metre",1,AUTHORITY["EPSG","9001"]],'
        'AXIS["Easting",EAST],AXIS["Northing",NORTH],'
        'AUTHORITY["EPSG","3857"]]')

    # EPSG:3395 true ellipsoidal Mercator: SAME shape, different name —
    # must still raise (math would be ellipsoidal, not spherical)
    EPSG_3395 = EPSG_3857.replace(
        'PROJCS["WGS 84 / Pseudo-Mercator"',
        'PROJCS["WGS 84 / World Mercator"').replace(
        'AUTHORITY["EPSG","3857"]', 'AUTHORITY["EPSG","3395"]')

    def test_canonical_3857_parses(self):
        from karta_spark.functions import crs
        assert crs.from_wkt(self.EPSG_3857) is crs.WEB_MERCATOR

    def test_own_spherical_roundtrip_still_parses(self):
        from karta_spark.functions import crs
        assert crs.from_wkt(crs.to_wkt(crs.WEB_MERCATOR)) is crs.WEB_MERCATOR

    def test_world_mercator_3395_resolves_ellipsoidal(self):
        # r5 raised here; since r6 the identical-shape/different-name
        # EPSG:3395 WKT resolves to the TRUE ellipsoidal Mercator —
        # and must NOT be coerced to the spherical Web Mercator.
        from karta_spark.functions import crs
        c = crs.from_wkt(self.EPSG_3395)
        assert c is crs.WORLD_MERCATOR and c.kind == "merc"

    def test_offset_mercator_resolves_ellipsoidal(self):
        from karta_spark.functions import crs
        wkt = self.EPSG_3857.replace('PARAMETER["central_meridian",0]',
                                     'PARAMETER["central_meridian",110]')
        c = crs.from_wkt(wkt)
        assert c.kind == "merc" and c.params[1] == 110.0


class TestLambertConformalConic:
    """VERDICT r4 items 2+4: +proj=lcc (Snyder 15, 1- and 2-SP,
    ellipsoidal) with the triple backend, and non-WGS84 ellipsoid
    parameterization for tmerc/stere/lcc (reference crs.py:248-306
    accepts any projstring via proj.4; ellipsoid table crs.py:34-77)."""

    def test_snyder_lcc_golden(self):
        """Snyder 1987 Appendix A numerical example (pp. 296-297):
        Clarke 1866, lat1=33, lat2=45, lat0=23, lon0=-96; (35N, 75W) ->
        x=1894410.9 y=1564649.5; n=0.6304965 F=1.9523837 rho0=9615955.2."""
        from karta_spark.functions import crs as C
        d = C.lcc(33, 45, 23, -96, ellps="clrk66")
        x, y = C.forward_np(d, np.array([-75.0]), np.array([35.0]))
        assert x[0] == pytest.approx(1894410.9, abs=0.1)
        assert y[0] == pytest.approx(1564649.5, abs=0.1)
        a, f = C.ellipsoid_params("clrk66")
        n, akF, rho0 = C._lcc_consts(33.0, 45.0, 23.0, 1.0, a, f)
        assert n == pytest.approx(0.6304965, abs=1e-7)
        assert akF / a == pytest.approx(1.9523837, abs=1e-7)
        assert rho0 == pytest.approx(9615955.2, abs=0.1)
        lo, la = C.inverse_np(d, x, y)
        assert lo[0] == pytest.approx(-75.0, abs=1e-9)
        assert la[0] == pytest.approx(35.0, abs=1e-9)

    def test_snyder_tmerc_clrk66_golden(self):
        """Snyder 1987 tmerc ellipsoid example (pp. 269-270): Clarke
        1866, lon0=-75, k0=0.9996; (40.5N, 73.5W) -> x=127106.5
        y=4484124.4."""
        from karta_spark.functions import crs as C
        d = C.tmerc(-75.0, 0.9996, ellps="clrk66")
        x, y = C.forward_np(d, np.array([-73.5]), np.array([40.5]))
        assert x[0] == pytest.approx(127106.5, abs=0.1)
        assert y[0] == pytest.approx(4484124.4, abs=0.1)
        lo, la = C.inverse_np(d, x, y)
        assert (lo[0], la[0]) == pytest.approx((-73.5, 40.5), abs=1e-9)

    def test_wgs84_series_bit_identity(self):
        """The cached series generator must reproduce the historical
        WGS84 module constants bit-for-bit (q37/q38/q55 gate parity)."""
        from karta_spark.functions import crs as C
        A, al, be = C._tm_series(C.A_WGS84, C.F_WGS84)
        assert A == C._A_TM and al == C._ALPHA and be == C._BETA
        assert C._conf_inv_coeffs(C.E2_WGS84) == C._CONF_INV

    def test_lcc_triple_backend_equality(self, spark):
        """Catalyst / SQL(DuckDB) / numpy agree on the same points."""
        import duckdb
        import pandas as pd
        from pyspark.sql import functions as F
        from karta_spark.functions import crs as C
        d = C.lcc(33, 45, 23, -96, ellps="clrk66")
        lon = np.array([-75.0, -96.0, -120.5, -70.2])
        lat = np.array([35.0, 23.0, 41.9, 28.4])
        nx, ny = C.forward_np(d, lon, lat)
        sdf = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
        cx, cy = C.forward_exprs(d, F.col("lon"), F.col("lat"))
        rows = sdf.select(cx.alias("x"), cy.alias("y")).collect()
        sx, sy = C.forward_sql(d, "lon", "lat")
        duck = duckdb.sql(
            f"SELECT {sx} AS x, {sy} AS y FROM (SELECT UNNEST({list(lon)}) "
            f"AS lon, UNNEST({list(lat)}) AS lat)").fetchall()
        for i in range(len(lon)):
            # abs floor: at the central meridian x is exactly 0 in one
            # backend and ~1e-9 in another (sin of a wrapped tiny theta)
            assert rows[i]["x"] == pytest.approx(nx[i], rel=1e-12, abs=1e-6)
            assert rows[i]["y"] == pytest.approx(ny[i], rel=1e-12, abs=1e-6)
            assert duck[i][0] == pytest.approx(nx[i], rel=1e-12, abs=1e-6)
            assert duck[i][1] == pytest.approx(ny[i], rel=1e-12, abs=1e-6)

    def test_lcc_1sp_and_southern(self):
        from karta_spark.functions import crs as C
        d1 = C.lcc(45, None, 40, 10, k0=0.99987742)
        lo, la = C.inverse_np(d1, *C.forward_np(
            d1, np.array([2.35]), np.array([48.85])))
        assert (lo[0], la[0]) == pytest.approx((2.35, 48.85), abs=1e-9)
        ds = C.lcc(-18, -36, -32, -60)
        lon = np.array([-60.0, -70.5, -48.2])
        lat = np.array([-32.0, -45.3, -20.1])
        lo, la = C.inverse_np(ds, *C.forward_np(ds, lon, lat))
        assert np.allclose(lo, lon, atol=1e-9)
        assert np.allclose(la, lat, atol=1e-9)

    def test_lcc_scale_unity_at_standard_parallels(self):
        """Conformal-conic property: scale factor k = 1 exactly on both
        standard parallels (checked via numerical differentiation)."""
        from karta_spark.functions import crs as C
        d = C.lcc(33, 45, 23, -96)
        a, f = C.A_WGS84, C.F_WGS84
        e2 = f * (2 - f)
        for latp in (33.0, 45.0):
            eps = 1e-6
            (x1, y1) = C.forward_np(d, np.array([-96.0 - eps]), np.array([latp]))
            (x2, y2) = C.forward_np(d, np.array([-96.0 + eps]), np.array([latp]))
            dist = np.hypot(x2 - x1, y2 - y1)[0]
            phi = np.radians(latp)
            # true parallel arc length for 2*eps degrees of longitude
            N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
            arc = N * np.cos(phi) * np.radians(2 * eps)
            assert dist / arc == pytest.approx(1.0, abs=1e-7)

    def test_proj4_and_wkt_roundtrips(self):
        from karta_spark.functions import crs as C
        defs = [
            C.lcc(33, 45, 23, -96, ellps="clrk66"),
            C.lcc(45, None, 40, 10, k0=0.99987742),
            C.lcc(49, 44, 46.5, 3, fe=700000.0, fn=6600000.0, ellps="GRS80"),
            C.tmerc(-75.0, 0.9996, ellps="clrk66"),
        ]
        for d in defs:
            assert C.from_proj4(C.to_proj4(d)).params == d.params
            assert C.from_wkt(C.to_wkt(d)).params == d.params

    def test_from_proj4_lcc_and_clrk66_utm(self):
        from karta_spark.functions import crs as C
        d = C.from_proj4("+proj=lcc +lat_1=33 +lat_2=45 +lat_0=23 "
                         "+lon_0=-96 +x_0=0 +y_0=0 +ellps=clrk66 +units=m")
        assert d.kind == "lcc"
        assert d.params[:4] == (33.0, 45.0, 23.0, -96.0)
        assert d.params[7:] == C.ellipsoid_params("clrk66")
        # NAD27 UTM zone (Clarke 1866) must NOT collapse to the WGS84 zone
        u = C.from_proj4("+proj=utm +zone=10 +ellps=clrk66")
        assert u.kind == "tmerc" and len(u.params) == 6
        assert u.params[4:] == C.ellipsoid_params("clrk66")
        uw = C.from_proj4("+proj=utm +zone=10 +ellps=WGS84")
        assert uw is not None and len(uw.params) == 4
        # +datum implies the ellipsoid
        n = C.from_proj4("+proj=lcc +lat_1=40 +lat_2=43 +lat_0=38 "
                         "+lon_0=-120 +datum=NAD27")
        assert n.params[7:] == C.ellipsoid_params("clrk66")

    def test_nonwgs84_now_supported_everywhere(self):
        """Later in round 5 aea/laea/cea gained ellipsoid params too —
        every projected kind now accepts any registry ellipsoid."""
        from karta_spark.functions import crs as C
        d1 = C.from_proj4("+proj=laea +lat_0=0 +lon_0=0 +ellps=clrk66")
        assert d1.kind == "laea"
        assert d1.params[1:3] == C.ellipsoid_params("clrk66")
        d2 = C.from_proj4("+proj=aea +lat_1=29.5 +lat_2=45.5 +ellps=intl")
        assert d2.kind == "aea"
        assert d2.params[6:8] == C.ellipsoid_params("intl")

    def test_ellipsoid_registry(self):
        from karta_spark.functions import crs as C
        a, f = C.ellipsoid_params("clrk66")
        assert a == 6378206.4
        assert 1.0 / f == pytest.approx(294.978698, abs=1e-5)
        a, f = C.ellipsoid_params("GRS80")
        assert (a, 1 / f) == (6378137.0, pytest.approx(298.257222101))
        assert C.ellipsoid_params("WGS84") == (C.A_WGS84, C.F_WGS84)
        with pytest.raises(ValueError):
            C.ellipsoid_params("nope")

    def test_reproject_lcc_spark(self, spark):
        """reproject() through lcc in both directions on the Catalyst
        backend (the distributed hot path)."""
        import pandas as pd
        from karta_spark.functions.crs import reproject, lcc, LONLAT
        d = lcc(33, 45, 23, -96, ellps="clrk66")
        pdf = pd.DataFrame({"x": [-75.0, -96.0], "y": [35.0, 23.0]})
        out = reproject(spark.createDataFrame(pdf), LONLAT, d).collect()
        assert out[0]["x"] == pytest.approx(1894410.9, abs=0.1)
        assert out[0]["y"] == pytest.approx(1564649.5, abs=0.1)
        projected = reproject(spark.createDataFrame(pdf), LONLAT, d)
        back = reproject(projected, d, LONLAT).collect()
        assert back[0]["x"] == pytest.approx(-75.0, abs=1e-9)
        assert back[0]["y"] == pytest.approx(35.0, abs=1e-9)


class TestReliableCheckpointCC:
    """VERDICT r4 item 3: connected_components must offer a reliable-
    checkpoint mode (localCheckpoint blocks die with their executor on a
    real cluster; df.checkpoint() survives)."""

    PAIRS = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22),
             (5, 6), (6, 7), (7, 8), (8, 9)]

    def test_reliable_mode_identical_clusters(self, spark, tmp_path):
        from karta_spark.operators.dedup import connected_components
        pairs = spark.createDataFrame(self.PAIRS, "id_a long, id_b long")
        local = {(r["id"], r["comp"])
                 for r in connected_components(pairs).collect()}
        reliable = {(r["id"], r["comp"]) for r in connected_components(
            pairs, checkpoint_dir=str(tmp_path / "cc_ckpt")).collect()}
        assert local == reliable
        # the path-graph chains collapsed to min labels
        comp = dict(local)
        assert comp[4] == 1 and comp[9] == 5 and comp[22] == 20
        # reliable mode actually wrote checkpoint files
        import os
        ckpt_root = tmp_path / "cc_ckpt"
        assert ckpt_root.exists() and any(os.scandir(ckpt_root))

    def test_duplicate_clusters_passthrough(self, spark, tmp_path):
        from karta_spark.operators.dedup import duplicate_clusters
        df = spark.createDataFrame([(i,) for i in range(1, 13)],
                                   "doc_id long")
        pairs = spark.createDataFrame(self.PAIRS[:4], "id_a long, id_b long")
        out = duplicate_clusters(
            df, pairs, "doc_id",
            checkpoint_dir=str(tmp_path / "dc_ckpt")).collect()
        m = {r["id"]: r["canonical_id"] for r in out}
        assert m[2] == 1 and m[4] == 1 and m[11] == 10 and m[12] == 12


class TestRankThreeVertices:
    """VERDICT r4 item 5: optional z in the expression library — the
    reference threads z through Point.distance (geometry.py:311-314) and
    apply_transform (3x4 matrices, geometry.py:180-230)."""

    def test_plane_distance_with_z(self, spark):
        """3-4-5-13 golden: d2d((0,0),(3,4))=5, dz=12 -> 13 (the
        reference folds dz AFTER the 2-D distance)."""
        import pandas as pd
        from pyspark.sql import functions as F
        from karta_spark.functions.geodesy import plane_distance
        df = spark.createDataFrame(pd.DataFrame(
            {"x1": [0.0], "y1": [0.0], "z1": [0.0],
             "x2": [3.0], "y2": [4.0], "z2": [12.0]}))
        r = df.select(
            plane_distance(F.col("x1"), F.col("y1"),
                           F.col("x2"), F.col("y2")).alias("d2"),
            plane_distance(F.col("x1"), F.col("y1"),
                           F.col("x2"), F.col("y2"),
                           F.col("z1"), F.col("z2")).alias("d3")).collect()[0]
        assert r["d2"] == 5.0
        assert r["d3"] == 13.0

    def test_distance_with_z_on_geodesic(self, spark):
        """The rank-3 fold applies to the geodesic arm too (reference
        geometry.py:305-314: z fold AFTER crs.inverse distance)."""
        import pandas as pd
        from pyspark.sql import functions as F
        from karta_spark.functions.geodesy import (
            distance_with_z, sphere_distance)
        df = spark.createDataFrame(pd.DataFrame(
            {"lon1": [0.0], "lat1": [0.0], "z1": [0.0],
             "lon2": [1.0], "lat2": [0.0], "z2": [50000.0]}))
        d2 = sphere_distance(F.col("lon1"), F.col("lat1"),
                             F.col("lon2"), F.col("lat2"))
        r = df.select(d2.alias("d2"),
                      distance_with_z(d2, F.col("z1"), F.col("z2"))
                      .alias("d3")).collect()[0]
        assert r["d3"] == pytest.approx(
            np.sqrt(r["d2"] ** 2 + 50000.0 ** 2), rel=1e-12)
        assert r["d3"] > r["d2"]

    def test_translate_point_3d_via_2x3_lift(self, spark):
        """reference geometry_tests.py:708-714 test_translate_point_3:
        a 2x3 translate on a 3-D point moves x/y and PRESERVES z (the
        lifted z row is identity)."""
        import pandas as pd
        from pyspark.sql import functions as F
        from karta_spark.functions.geodesy import (
            affine3_x, affine3_y, affine3_z, lift_affine)
        m = [0.0, 0.0, 1.0, 0.0, 0.0, 2.0]  # [[0,0,1],[0,0,2]]
        df = spark.createDataFrame(pd.DataFrame(
            {"x": [0.0], "y": [0.0], "z": [3.0]}))
        r = df.select(
            affine3_x(F.col("x"), F.col("y"), F.col("z"), m).alias("nx"),
            affine3_y(F.col("x"), F.col("y"), F.col("z"), m).alias("ny"),
            affine3_z(F.col("x"), F.col("y"), F.col("z"), m).alias("nz"),
        ).collect()[0]
        assert (r["nx"], r["ny"], r["nz"]) == (1.0, 2.0, 3.0)
        assert len(lift_affine(m)) == 12

    def test_full_3x4_transform(self, spark):
        """A genuine rank-3 matrix: scale z by 2 and shear x by z."""
        import pandas as pd
        from pyspark.sql import functions as F
        from karta_spark.functions.geodesy import (
            affine3_x, affine3_y, affine3_z)
        m = [1.0, 0.0, 0.5, 0.0,   # x' = x + 0.5 z
             0.0, 1.0, 0.0, 7.0,   # y' = y + 7
             0.0, 0.0, 2.0, 1.0]   # z' = 2z + 1
        df = spark.createDataFrame(pd.DataFrame(
            {"x": [2.0], "y": [3.0], "z": [4.0]}))
        r = df.select(
            affine3_x(F.col("x"), F.col("y"), F.col("z"), m).alias("nx"),
            affine3_y(F.col("x"), F.col("y"), F.col("z"), m).alias("ny"),
            affine3_z(F.col("x"), F.col("y"), F.col("z"), m).alias("nz"),
        ).collect()[0]
        assert (r["nx"], r["ny"], r["nz"]) == (4.0, 10.0, 9.0)

    def test_lift_affine_rejects_bad_shapes(self):
        from karta_spark.functions.geodesy import lift_affine
        with pytest.raises(ValueError, match="affine matrix size"):
            lift_affine([1.0] * 8)  # the reference raises on 2x4 too

    def test_length_with_z(self, spark):
        """3-D polyline: two 3-4-5-12-13 segments -> length 26 with z,
        10 without (the reference's own length kernel is 2-D —
        vectorgeo.pyx:178; with_z is the documented extension)."""
        import pandas as pd
        from karta_spark.functions.geometry import length
        df = spark.createDataFrame(pd.DataFrame({
            "geom_id": [1, 1, 1],
            "idx": [0, 1, 2],
            "x": [0.0, 3.0, 6.0],
            "y": [0.0, 4.0, 8.0],
            "z": [0.0, 12.0, 0.0]}))
        flat = length(df, "geom_id").collect()[0]["length"]
        with_z = length(df, "geom_id", with_z=True).collect()[0]["length"]
        assert flat == 10.0
        assert with_z == 26.0

    def test_segments_with_z_ring_closure(self, spark):
        import pandas as pd
        from karta_spark.functions.geometry import segments
        df = spark.createDataFrame(pd.DataFrame({
            "geom_id": [1, 1, 1],
            "idx": [0, 1, 2],
            "x": [0.0, 1.0, 0.0],
            "y": [0.0, 0.0, 1.0],
            "z": [5.0, 6.0, 7.0]}))
        segs = segments(df, "geom_id", closed=True, with_z=True) \
            .orderBy("seg_idx").collect()
        assert len(segs) == 3
        assert segs[2]["z0"] == 7.0 and segs[2]["z1"] == 5.0  # wraps


class TestOldStyleJpegInTiff:
    """VERDICT r4 item 6: old-style JPEG-in-TIFF (compression 6, TIFF
    6.0 §22) — the deprecated pre-TTN2 layout still found in aerial
    archives; the reference reads it through GDAL (_gdal.py:114-188).
    Three hand-built fixtures cover the three wild layouts."""

    @staticmethod
    def _image(ny=32, nx=32):
        yy, xx = np.mgrid[0:ny, 0:nx]
        return np.clip(128 + 80 * np.sin(xx / 6.0) * np.cos(yy / 8.0),
                       0, 255).round().astype(np.uint8)

    @staticmethod
    def _write_tiff(path, entries_fn, tail_writer):
        """Minimal little-endian classic TIFF: header + one IFD built by
        entries_fn(data_start) + tail bytes from tail_writer()."""
        import struct
        entries = entries_fn()
        n = len(entries)
        with open(path, "wb") as fh:
            fh.write(b"II*\x00" + struct.pack("<I", 8))
            fh.write(struct.pack("<H", n) + b"".join(entries)
                     + struct.pack("<I", 0))
            tail_writer(fh)

    def _run_case_a(self, spark, tmp_path):
        """Case A: every strip is a complete SOI..EOI JPEG stream."""
        import struct
        from karta_spark.raster.tiles import df_to_grid
        from karta_spark.sources import geotiff
        from karta_spark.sources.images import psnr
        from karta_spark.sources.jpeg import encode_jpeg_baseline
        A = self._image()
        rps = 16
        strips = [encode_jpeg_baseline(A[r:r + rps], 95)
                  for r in range(0, 32, rps)]
        entry = lambda tag, ftype, count, value: struct.pack(
            "<HHI4s", tag, ftype, count, value)
        vl = lambda v: struct.pack("<I", v)
        vs = lambda v: struct.pack("<HH", v, 0)
        n_entries = 12
        ext = 8 + 2 + n_entries * 12 + 4
        scale_off, tie_off = ext, ext + 24
        off_off, cnt_off = tie_off + 48, tie_off + 48 + 8
        data_off = cnt_off + 8
        offs, pos = [], data_off
        for s in strips:
            offs.append(pos); pos += len(s)

        def entries():
            return [
                entry(256, 4, 1, vl(32)), entry(257, 4, 1, vl(32)),
                entry(258, 3, 1, vs(8)), entry(259, 3, 1, vs(6)),  # OJPEG
                entry(262, 3, 1, vs(1)), entry(273, 4, 2, vl(off_off)),
                entry(277, 3, 1, vs(1)), entry(278, 4, 1, vl(rps)),
                entry(279, 4, 2, vl(cnt_off)), entry(339, 3, 1, vs(1)),
                entry(33550, 12, 3, vl(scale_off)),
                entry(33922, 12, 6, vl(tie_off)),
            ]

        def tail(fh):
            fh.write(struct.pack("<3d", 1.0, 1.0, 0.0))
            fh.write(struct.pack("<6d", 0, 0, 0, 0.0, 32.0, 0))
            fh.write(struct.pack("<2I", *offs))
            fh.write(struct.pack("<2I", *[len(s) for s in strips]))
            for s in strips:
                fh.write(s)

        p = str(tmp_path / "ojpeg_a.tif")
        self._write_tiff(p, entries, tail)
        with open(p, "rb") as fh:
            m = geotiff.TiffMeta(fh)
            assert m.comp == geotiff.COMPRESSION_OJPEG
        back, t, _ = df_to_grid(geotiff.read_geotiff(spark, p, tile=16))
        assert psnr(back, A[::-1].astype(np.float64)) >= 40.0
        return p, A, back

    def test_full_stream_strips(self, spark, tmp_path):
        self._run_case_a(spark, tmp_path)

    def test_lazy_window_parity(self, spark, tmp_path):
        """read_geotiff_window must agree with the full read (VERDICT
        done-criterion: lazy-window parity on the OJPEG path)."""
        from karta_spark.sources import geotiff
        p, A, back = self._run_case_a(spark, tmp_path)
        vals, _ = geotiff.read_geotiff_window(p, 5, 3, 20, 17)
        assert np.array_equal(vals, back[5:25, 3:20])

    def test_interchange_stream(self, spark, tmp_path):
        """Case B: tags 513/514 hold ONE whole-image JPEG; strip offsets
        alias into it (decode once, slice rows per strip)."""
        import struct
        from karta_spark.raster.tiles import df_to_grid
        from karta_spark.sources import geotiff
        from karta_spark.sources.images import psnr
        from karta_spark.sources.jpeg import encode_jpeg_baseline
        A = self._image()
        stream = encode_jpeg_baseline(A, 95)
        entry = lambda tag, ftype, count, value: struct.pack(
            "<HHI4s", tag, ftype, count, value)
        vl = lambda v: struct.pack("<I", v)
        vs = lambda v: struct.pack("<HH", v, 0)
        n_entries = 14
        ext = 8 + 2 + n_entries * 12 + 4
        scale_off, tie_off = ext, ext + 24
        off_off, cnt_off = tie_off + 48, tie_off + 48 + 8
        jif_off = cnt_off + 8
        # strips alias into the stream (NOT at SOI)
        offs = [jif_off + 2, jif_off + 4]

        def entries():
            return [
                entry(256, 4, 1, vl(32)), entry(257, 4, 1, vl(32)),
                entry(258, 3, 1, vs(8)), entry(259, 3, 1, vs(6)),
                entry(262, 3, 1, vs(1)), entry(273, 4, 2, vl(off_off)),
                entry(277, 3, 1, vs(1)), entry(278, 4, 1, vl(16)),
                entry(279, 4, 2, vl(cnt_off)), entry(339, 3, 1, vs(1)),
                entry(513, 4, 1, vl(jif_off)),
                entry(514, 4, 1, vl(len(stream))),
                entry(33550, 12, 3, vl(scale_off)),
                entry(33922, 12, 6, vl(tie_off)),
            ]

        def tail(fh):
            fh.write(struct.pack("<3d", 1.0, 1.0, 0.0))
            fh.write(struct.pack("<6d", 0, 0, 0, 0.0, 32.0, 0))
            fh.write(struct.pack("<2I", *offs))
            fh.write(struct.pack("<2I", 4, 4))
            fh.write(stream)

        p = str(tmp_path / "ojpeg_b.tif")
        self._write_tiff(p, entries, tail)
        back, _, _ = df_to_grid(geotiff.read_geotiff(spark, p, tile=16))
        assert psnr(back, A[::-1].astype(np.float64)) >= 40.0

    def test_bare_strips_with_table_pointers(self, spark, tmp_path):
        """Case C: strips carry only SOS+entropy; DQT/DHT data live at
        the JPEGQTables/DCTables/ACTables pointer tags (the layout the
        spec actually mandated).  Header is synthesized per strip."""
        import struct
        from karta_spark.raster.tiles import df_to_grid
        from karta_spark.sources import geotiff
        from karta_spark.sources.images import psnr
        from karta_spark.sources.jpeg import encode_jpeg_baseline
        A = self._image()
        rps = 16

        def split(full):
            """(qtable64, dc_payload, ac_payload, sos_to_eoi)"""
            pos, qt, dc, ac = 2, None, None, None
            while pos < len(full):
                marker = full[pos + 1]
                (seglen,) = struct.unpack(">H", full[pos + 2:pos + 4])
                body = full[pos + 4:pos + 2 + seglen]
                if marker == 0xDB:
                    qt = body[1:65]
                elif marker == 0xC4:
                    cls = body[0] >> 4
                    if cls == 0:
                        dc = body[1:]
                    else:
                        ac = body[1:]
                elif marker == 0xDA:
                    return qt, dc, ac, full[pos:-2]  # SOS..before EOI
                pos += 2 + seglen
            raise AssertionError("no SOS")

        strips, qt = [], None
        dc = ac = None
        for r in range(0, 32, rps):
            q, d, a, body = split(encode_jpeg_baseline(A[r:r + rps], 95))
            qt, dc, ac = q, d, a
            strips.append(body)

        entry = lambda tag, ftype, count, value: struct.pack(
            "<HHI4s", tag, ftype, count, value)
        vl = lambda v: struct.pack("<I", v)
        vs = lambda v: struct.pack("<HH", v, 0)
        p = str(tmp_path / "ojpeg_c.tif")
        n_entries2 = 16
        ext2 = 8 + 2 + n_entries2 * 12 + 4
        scale_off = ext2; tie_off = scale_off + 24
        off_off = tie_off + 48; cnt_off = off_off + 8
        qt_off = cnt_off + 8; dc_off = qt_off + 64
        ac_off = dc_off + len(dc); data_off = ac_off + len(ac)
        offs, pos = [], data_off
        for s in strips:
            offs.append(pos); pos += len(s)

        def entries2():
            return [
                entry(256, 4, 1, vl(32)), entry(257, 4, 1, vl(32)),
                entry(258, 3, 1, vs(8)), entry(259, 3, 1, vs(6)),
                entry(262, 3, 1, vs(1)), entry(273, 4, 2, vl(off_off)),
                entry(277, 3, 1, vs(1)), entry(278, 4, 1, vl(rps)),
                entry(279, 4, 2, vl(cnt_off)), entry(339, 3, 1, vs(1)),
                entry(512, 3, 1, vs(1)),
                entry(519, 4, 1, vl(qt_off)),
                entry(520, 4, 1, vl(dc_off)),
                entry(521, 4, 1, vl(ac_off)),
                entry(33550, 12, 3, vl(scale_off)),
                entry(33922, 12, 6, vl(tie_off)),
            ]

        def tail2(fh):
            fh.write(struct.pack("<3d", 1.0, 1.0, 0.0))
            fh.write(struct.pack("<6d", 0, 0, 0, 0.0, 32.0, 0))
            fh.write(struct.pack("<2I", *offs))
            fh.write(struct.pack("<2I", *[len(s) for s in strips]))
            fh.write(qt)
            fh.write(dc)
            fh.write(ac)
            for s in strips:
                fh.write(s)

        self._write_tiff(p, entries2, tail2)
        back, _, _ = df_to_grid(geotiff.read_geotiff(spark, p, tile=16))
        assert psnr(back, A[::-1].astype(np.float64)) >= 40.0

    def test_unsupported_proc_raises(self, spark, tmp_path):
        """Unknown JPEGProc values must raise, not mis-decode (1=baseline
        and 14=lossless are the supported ones)."""
        from karta_spark.sources import geotiff
        p, A, _ = self._run_case_a(spark, tmp_path)
        with open(p, "rb") as fh:
            m = geotiff.TiffMeta(fh)
            m.ojpeg_proc = 3
            with pytest.raises(NotImplementedError, match="JPEGProc"):
                m.read_chunk(fh, 0)

    def test_lossless_proc14_full_stream_strips(self, spark, tmp_path):
        """JPEGProc=14 with SOF3 full-stream strips decodes EXACTLY
        (lossless roundtrip through the OJPEG path)."""
        from karta_spark.sources import geotiff
        from tests.encoders import encode_jpeg_lossless
        p, A, _ = self._run_case_a(spark, tmp_path)
        with open(p, "rb") as fh:
            m = geotiff.TiffMeta(fh)
            m.ojpeg_proc = 14
            # replace the strip decode input by monkeypatching offsets to
            # lossless streams appended to a scratch file
        import struct
        scratch = str(tmp_path / "scratch.bin")
        streams = [encode_jpeg_lossless(A[r:r + 16], predictor=1)
                   for r in range(0, 32, 16)]
        offs = []
        with open(scratch, "wb") as fh:
            pos = 0
            for s in streams:
                offs.append(pos)
                fh.write(s)
                pos += len(s)
        m.ojpeg_proc = 14
        m.offsets = offs
        m.counts = [len(s) for s in streams]
        with open(scratch, "rb") as fh:
            top = m.read_chunk(fh, 0)
            bot = m.read_chunk(fh, 1)
        back = np.concatenate([top, bot], axis=0)[:, :, 0]
        assert np.array_equal(back, A)


class TestReplicaRecord:
    """VERDICT r4 item 7: the q51+ gates live past the driver's 50-row
    snapshot, so each round commits a local replica record
    (CORRECTNESS_local_rNN.json from tools/check_oracle.py --json).
    Guard: the newest record must cover every queries() entry and be
    all-green — silent drift (a query added without a recorded run, or a
    recorded FAIL) breaks the build."""

    def test_record_covers_all_queries_and_is_green(self):
        import glob
        import json
        import os
        import re
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        recs = sorted(glob.glob(os.path.join(
            here, "CORRECTNESS_local_r*.json")))
        assert recs, "no CORRECTNESS_local_rNN.json committed"
        latest = max(recs, key=lambda p: int(
            re.search(r"_r(\d+)\.json$", p).group(1)))
        with open(latest) as fh:
            rec = json.load(fh)
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            "entry_mod5", os.path.join(here, "__spark_entry__.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        qnames = set(mod.queries())
        assert set(rec["queries"]) == qnames, (
            f"replica record out of date: missing "
            f"{sorted(qnames - set(rec['queries']))}, stale "
            f"{sorted(set(rec['queries']) - qnames)} — re-run "
            "python tools/check_oracle.py --json CORRECTNESS_local_rNN.json")
        assert rec["fail"] == 0, f"recorded FAILs in {latest}"
        bad = [n for n, r in rec["queries"].items()
               if r.get("status") not in ("ok", "weak")]
        assert not bad, f"non-green rows: {bad}"


class TestRepeatedSpans:
    """Exact repeated-substring spans (substring-dedup signal): coverage
    of cross-document repeated L-grams via a per-doc interval-union
    window — no all-pairs, no position explosion."""

    @staticmethod
    def _df(spark):
        import pandas as pd
        return spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [
                "the quick brown fox jumps over the lazy dog "
                "ABCDEFGHIJKLMNOPQRSTUV end",
                "prefix ABCDEFGHIJKLMNOPQRSTUV suffix and the quick "
                "brown fox jumps over",
                "totally unrelated content with no repeats here at all",
            ]}))

    def test_coverage_golden(self, spark):
        from karta_spark.operators.text import repeated_spans
        out = {r["id"]: (r["n_flagged"], r["dup_chars"])
               for r in repeated_spans(self._df(spark), L=20).collect()}
        # docs 1 and 2 share two 39+/23-char regions; doc 3 clean
        assert set(out) == {1, 2}
        assert out[1] == out[2] == (16, 54)

    def test_hashed_variant_identical(self, spark):
        from karta_spark.operators.text import repeated_spans
        df = self._df(spark)
        a = {(r["id"], r["n_flagged"], r["dup_chars"])
             for r in repeated_spans(df, L=20).collect()}
        b = {(r["id"], r["n_flagged"], r["dup_chars"])
             for r in repeated_spans(df, L=20, hashed=True).collect()}
        assert a == b

    def test_interval_union_no_double_count(self, spark):
        """Overlapping flagged positions must not double-count chars:
        two docs sharing one 25-char run with L=20 give 6 flagged
        positions but only 25 covered chars."""
        import pandas as pd
        from karta_spark.operators.text import repeated_spans
        shared = "XYZABCDEFGHIJKLMNOPQRSTUW"  # 25 chars
        # distinct separators so the common run is EXACTLY the 25 chars
        # (a shared space on either side would widen it)
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2],
            "text": ["aaa-" + shared + "-bbb", "ccc_" + shared + "_ddd"]}))
        out = {r["id"]: (r["n_flagged"], r["dup_chars"])
               for r in repeated_spans(df, L=20).collect()}
        assert out[1] == (6, 25)
        assert out[2] == (6, 25)

    def test_min_docs_threshold(self, spark):
        import pandas as pd
        from karta_spark.operators.text import repeated_spans
        shared = "SHAREDRUNOFCHARACTERSX"
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": ["a " + shared, "b " + shared, "c " + shared]}))
        assert repeated_spans(df, L=20, min_docs=4).count() == 0
        assert repeated_spans(df, L=20, min_docs=3).count() == 3

    def test_duckdb_twin_matches(self, spark):
        import duckdb
        import pandas as pd
        from karta_spark.operators.text import (
            repeated_spans, repeated_spans_sql)
        rng = np.random.default_rng(11)
        words = ["alpha", "beta", "gamma", "delta", "shared phrase "
                 "that recurs verbatim in several documents here"]
        texts = [" ".join(rng.choice(words, 8)) for _ in range(20)]
        pdf = pd.DataFrame({"doc_id": range(20), "text": texts})
        spark_out = {(r["id"], r["n_flagged"], r["dup_chars"])
                     for r in repeated_spans(
                         spark.createDataFrame(pdf), L=20).collect()}
        con = duckdb.connect()
        con.register("documents", pdf)
        duck_out = set(map(tuple, con.execute(
            repeated_spans_sql("documents")).fetchall()))
        assert spark_out == duck_out


class TestEqualAreaEllipsoids:
    """Round-5 follow-on: aea/laea/cea parameterized by ellipsoid (the
    last WGS84-only kinds) — NAD27 Albers is the headline user."""

    def test_snyder_albers_clrk66_golden(self):
        """Snyder 1987 Albers appendix example: Clarke 1866,
        lat1=29.5 lat2=45.5 lat0=23 lon0=-96, (35N, 75W) ->
        x=1885472.7 y=1535925.0."""
        from karta_spark.functions import crs as C
        d = C.albers(29.5, 45.5, 23.0, -96.0, ellps="clrk66")
        x, y = C.forward_np(d, np.array([-75.0]), np.array([35.0]))
        assert x[0] == pytest.approx(1885472.7, abs=0.1)
        assert y[0] == pytest.approx(1535925.0, abs=0.1)
        lo, la = C.inverse_np(d, x, y)
        assert (lo[0], la[0]) == pytest.approx((-75.0, 35.0), abs=1e-7)

    def test_roundtrips_and_interchange(self):
        from karta_spark.functions import crs as C
        defs = [
            C.albers(29.5, 45.5, 23.0, -96.0, ellps="clrk66"),
            C.from_proj4("+proj=laea +lat_0=0 +lon_0=10 +ellps=intl"),
            C.from_proj4("+proj=cea +lat_ts=30 +ellps=clrk66"),
        ]
        for d in defs:
            lo, la = C.inverse_np(d, *C.forward_np(
                d, np.array([12.0]), np.array([47.0])))
            assert (lo[0], la[0]) == pytest.approx((12.0, 47.0), abs=1e-7)
            assert C.from_proj4(C.to_proj4(d)).params == d.params
            assert C.from_wkt(C.to_wkt(d)).params == d.params

    def test_wgs84_named_instances_unchanged(self):
        """GALL_PETERS / LAEA_WGS84 / WGS84 albers keep their historical
        params (no tail) and resolve back to the named instances."""
        from karta_spark.functions import crs as C
        assert len(C.GALL_PETERS.params) == 1
        assert len(C.LAEA_WGS84.params) == 1
        assert len(C.albers(55, 65, 50, -154).params) == 6
        assert C.from_proj4(C.to_proj4(C.GALL_PETERS)) is C.GALL_PETERS
        assert C.from_proj4(C.to_proj4(C.LAEA_WGS84)) is C.LAEA_WGS84


class TestPolarLaea:
    """EASE-Grid 2.0 polar LAEA (+proj=laea +lat_0=+-90) — previously
    parsed SILENTLY as the equatorial aspect (wrong projection); now a
    first-class laea_polar kind, oblique raises."""

    def test_known_points(self):
        from karta_spark.functions import crs as C
        x, y = C.forward_np(C.EASE2_NORTH, np.array([0.0, 0.0]),
                            np.array([90.0, 0.0]))
        assert (x[0], y[0]) == (0.0, 0.0)  # pole -> origin
        # published EASE-Grid 2.0 constant: map radius to the equator
        assert y[1] == pytest.approx(-9009964.76, abs=0.1)

    def test_equal_area_property(self):
        """det(Jacobian) equals the ellipsoid area element M*N*cos(phi)
        everywhere — the defining property, checked numerically."""
        from karta_spark.functions import crs as C
        a, f = C.A_WGS84, C.F_WGS84
        e2 = f * (2 - f)
        for lon0, lat0 in [(30.0, 60.0), (-120.0, 40.0), (10.0, 85.0)]:
            eps = 1e-6
            xs, ys = C.forward_np(
                C.EASE2_NORTH,
                np.array([lon0, lon0 + eps, lon0]),
                np.array([lat0, lat0, lat0 + eps]))
            J = abs((xs[1] - xs[0]) * (ys[2] - ys[0])
                    - (xs[2] - xs[0]) * (ys[1] - ys[0])) / np.radians(eps) ** 2
            phi = np.radians(lat0)
            M = a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
            N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
            assert J / (M * N * np.cos(phi)) == pytest.approx(1.0, abs=1e-6)

    def test_roundtrip_both_poles(self):
        from karta_spark.functions import crs as C
        lon = np.array([0.0, 90.0, -135.0, 17.3])
        lat = np.array([80.0, 70.0, 45.0, 62.1])
        for d, sl in ((C.EASE2_NORTH, 1.0), (C.EASE2_SOUTH, -1.0)):
            lo, la = C.inverse_np(d, *C.forward_np(d, lon, sl * lat))
            assert np.allclose(lo, lon, atol=1e-7)
            assert np.allclose(la, sl * lat, atol=1e-7)

    def test_proj4_wkt_and_named_resolution(self):
        from karta_spark.functions import crs as C
        assert C.from_proj4(
            "+proj=laea +lat_0=90 +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84"
        ) is C.EASE2_NORTH
        assert C.from_proj4(C.to_proj4(C.EASE2_SOUTH)) is C.EASE2_SOUTH
        assert C.from_wkt(C.to_wkt(C.EASE2_NORTH)) is C.EASE2_NORTH
        off = C.from_proj4("+proj=laea +lat_0=-90 +lon_0=100 +x_0=1 +y_0=2")
        assert off.kind == "laea_polar"
        assert C.from_proj4(C.to_proj4(off)).params == off.params

    def test_oblique_is_not_silently_equatorial(self):
        # round 5 made this raise; round 6 implements the oblique aspect
        # (EPSG 9820) as its own kind — it must never silently parse as
        # the equatorial form
        from karta_spark.functions import crs as C
        d = C.from_proj4("+proj=laea +lat_0=45 +lon_0=0")
        assert d.kind == "laea_oblique"
        assert d.params[0] == 45.0

    def test_spark_backend(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from karta_spark.functions import crs as C
        df = spark.createDataFrame(pd.DataFrame(
            {"lon": [0.0, 90.0], "lat": [90.0, 70.0]}))
        ex, ny = C.forward_exprs(C.EASE2_NORTH, F.col("lon"), F.col("lat"))
        rows = df.select(ex.alias("x"), ny.alias("y")).collect()
        nx_np, ny_np = C.forward_np(C.EASE2_NORTH,
                                    np.array([0.0, 90.0]),
                                    np.array([90.0, 70.0]))
        for i, r in enumerate(rows):
            assert r["x"] == pytest.approx(nx_np[i], abs=1e-6)
            assert r["y"] == pytest.approx(ny_np[i], abs=1e-6)


class TestSilentlyIgnoredProjParams:
    """Round-5 audit: proj.4 parameters that parsed but were silently
    DROPPED (wrong projection, no error) — cea lon_0/x_0/y_0, equatorial
    laea x_0/y_0, tmerc lat_0 — now all honored."""

    def test_osgb_national_grid_worked_example(self):
        """THE published OSGB36 test vector (OS 'A guide to coordinate
        systems in Great Britain'): tmerc on Airy 1830 with lat_0=49
        folded into the false northing.  lon 1d43'4.5177\"E,
        lat 52d39'27.2531\"N -> E 651409.903 N 313177.270 (mm-exact)."""
        from karta_spark.functions import crs as C
        d = C.from_proj4("+proj=tmerc +lat_0=49 +lon_0=-2 "
                         "+k=0.9996012717 +x_0=400000 +y_0=-100000 "
                         "+ellps=airy")
        lon = 1 + 43 / 60 + 4.5177 / 3600
        lat = 52 + 39 / 60 + 27.2531 / 3600
        x, y = C.forward_np(d, np.array([lon]), np.array([lat]))
        assert x[0] == pytest.approx(651409.903, abs=1e-3)
        assert y[0] == pytest.approx(313177.270, abs=1e-3)
        lo, la = C.inverse_np(d, x, y)
        assert (lo[0], la[0]) == pytest.approx((lon, lat), abs=1e-9)
        # the grid origin carries exactly (x_0, y_0)
        x0, y0 = C.forward_np(d, np.array([-2.0]), np.array([49.0]))
        assert (x0[0], y0[0]) == pytest.approx((400000.0, -100000.0),
                                               abs=1e-6)

    def test_laea_offsets_etrs89_shape(self):
        from karta_spark.functions import crs as C
        d = C.from_proj4("+proj=laea +lat_0=0 +lon_0=10 +x_0=4321000 "
                         "+y_0=3210000 +ellps=GRS80")
        x, y = C.forward_np(d, np.array([10.0]), np.array([0.0]))
        assert (x[0], y[0]) == (4321000.0, 3210000.0)
        assert C.from_proj4(C.to_proj4(d)).params == d.params

    def test_cea_lon0_and_offsets(self):
        from karta_spark.functions import crs as C
        d = C.from_proj4("+proj=cea +lat_ts=30 +lon_0=-75 +x_0=100 +y_0=-50")
        lo, la = C.inverse_np(d, *C.forward_np(
            d, np.array([-74.0]), np.array([40.7])))
        assert (lo[0], la[0]) == pytest.approx((-74.0, 40.7), abs=1e-7)
        assert C.from_proj4(C.to_proj4(d)).params == d.params
        # origin maps to exactly the offsets
        x, y = C.forward_np(d, np.array([-75.0]), np.array([0.0]))
        assert (x[0], y[0]) == pytest.approx((100.0, -50.0), abs=1e-9)

    def test_wkt_tmerc_lat0_folds_identically(self):
        from karta_spark.functions import crs as C
        p4 = C.from_proj4("+proj=tmerc +lat_0=49 +lon_0=-2 "
                          "+k=0.9996012717 +x_0=400000 +y_0=-100000 "
                          "+ellps=airy")
        wkt = ('PROJCS["OSGB-ish",GEOGCS["unknown",DATUM["unknown",'
               'SPHEROID["Airy 1830",6377563.396,299.3249646]],'
               'PRIMEM["Greenwich",0],'
               'UNIT["degree",0.0174532925199433]],'
               'PROJECTION["Transverse_Mercator"],'
               'PARAMETER["latitude_of_origin",49],'
               'PARAMETER["central_meridian",-2],'
               'PARAMETER["scale_factor",0.9996012717],'
               'PARAMETER["false_easting",400000],'
               'PARAMETER["false_northing",-100000],UNIT["metre",1]]')
        w = C.from_wkt(wkt)
        assert w.params == pytest.approx(p4.params)

    def test_legacy_short_tuples_still_work(self):
        from karta_spark.functions import crs as C
        assert C.from_proj4("+proj=laea +lat_0=0 +lon_0=0") is C.LAEA_WGS84
        assert C.from_proj4("+proj=cea +lat_ts=45") is C.GALL_PETERS


class TestEqcAndSinusoidal:
    """Equidistant cylindrical (EPSG method 1028 — exact plate carree)
    and sinusoidal (the MODIS land grid) with triple backend."""

    def test_modis_grid_constants(self):
        """The MODIS sinusoidal grid's published western edge:
        x(lon=-180, lat=0) = -20015109.354 m (R=6371007.181)."""
        from karta_spark.functions import crs as C
        x, y = C.forward_np(C.MODIS_SINU, np.array([-180.0]),
                            np.array([0.0]))
        assert x[0] == pytest.approx(-20015109.354, abs=0.01)
        assert y[0] == 0.0
        assert C.from_proj4(
            "+proj=sinu +R=6371007.181 +lon_0=0") is C.MODIS_SINU

    def test_sinu_equal_area_on_ellipsoid(self):
        from karta_spark.functions import crs as C
        d = C.from_proj4("+proj=sinu +lon_0=0 +ellps=WGS84")
        a, f = C.A_WGS84, C.F_WGS84
        e2 = f * (2 - f)
        for lat0 in (10.0, 45.0, 75.0):
            eps = 1e-6
            xs, ys = C.forward_np(
                d, np.array([20.0, 20.0 + eps, 20.0]),
                np.array([lat0, lat0, lat0 + eps]))
            J = abs((xs[1] - xs[0]) * (ys[2] - ys[0])
                    - (xs[2] - xs[0]) * (ys[1] - ys[0])) \
                / np.radians(eps) ** 2
            phi = np.radians(lat0)
            M = a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
            N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
            assert J / (M * N * np.cos(phi)) == pytest.approx(1.0,
                                                              abs=1e-6)

    def test_quarter_meridian(self):
        """Plate carree pole northing = the WGS84 quarter meridian
        (10001965.729 m — the historical metre definition check)."""
        from karta_spark.functions import crs as C
        x, y = C.forward_np(C.PLATE_CARREE, np.array([0.0]),
                            np.array([90.0]))
        assert y[0] == pytest.approx(10001965.729, abs=0.01)

    def test_roundtrips_and_interchange(self):
        from karta_spark.functions import crs as C
        defs = [
            C.MODIS_SINU, C.PLATE_CARREE,
            C.from_proj4("+proj=eqc +lat_ts=30 +lon_0=10 +x_0=5 "
                         "+y_0=-5 +ellps=clrk66"),
            C.from_proj4("+proj=sinu +lon_0=-100 +ellps=WGS84"),
        ]
        lon = np.array([12.3, -77.0, 170.0])
        lat = np.array([45.6, -33.0, 80.0])
        for d in defs:
            lo, la = C.inverse_np(d, *C.forward_np(d, lon, lat))
            # longitudes compare modulo 360: the forward wrap puts
            # far-from-lon0 points on the adjacent branch (same
            # convention as the cea arm)
            dl = (lo - lon + 180.0) % 360.0 - 180.0
            assert np.allclose(dl, 0.0, atol=1e-7)
            assert np.allclose(la, lat, atol=1e-7)
            assert C.from_proj4(C.to_proj4(d)).params == d.params
            assert C.from_wkt(C.to_wkt(d)).params == d.params

    def test_spark_sql_backends_agree(self, spark):
        import duckdb
        import pandas as pd
        from pyspark.sql import functions as F
        from karta_spark.functions import crs as C
        d = C.MODIS_SINU
        lon = np.array([12.3, -77.0, 170.0])
        lat = np.array([45.6, -33.0, 80.0])
        nx, ny = C.forward_np(d, lon, lat)
        sdf = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
        cx, cy = C.forward_exprs(d, F.col("lon"), F.col("lat"))
        rows = sdf.select(cx.alias("x"), cy.alias("y")).collect()
        sx, sy = C.forward_sql(d, "lon", "lat")
        duck = duckdb.sql(
            f"SELECT {sx} AS x, {sy} AS y FROM (SELECT UNNEST({list(lon)})"
            f" AS lon, UNNEST({list(lat)}) AS lat)").fetchall()
        for i in range(3):
            assert rows[i]["x"] == pytest.approx(nx[i], rel=1e-12, abs=1e-6)
            assert duck[i][0] == pytest.approx(nx[i], rel=1e-12, abs=1e-6)
            assert rows[i]["y"] == pytest.approx(ny[i], rel=1e-12, abs=1e-6)
            assert duck[i][1] == pytest.approx(ny[i], rel=1e-12, abs=1e-6)


class TestModisTiles:
    """MODIS hNNvNN tile assignment on the sinusoidal grid sphere."""

    def test_known_locations(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from karta_spark.functions.cells import modis_tile
        df = spark.createDataFrame(pd.DataFrame({
            "lon": [0.5, -0.5, 0.5, 179.9, -179.9, 0.0],
            "lat": [0.5, 0.5, -0.5, 0.0, 0.0, 89.99]}))
        h, v = modis_tile(F.col("lon"), F.col("lat"))
        rows = df.select(h.alias("h"), v.alias("v")).collect()
        got = [(r["h"], r["v"]) for r in rows]
        # equator origin quadrants: h18/h17 x v8/v9; date line edges at
        # h35/h0; near-pole clamps to v0
        assert got[0] == (18, 8)
        assert got[1] == (17, 8)
        assert got[2] == (18, 9)
        assert got[3][0] == 35 and got[4][0] == 0
        assert got[5] == (18, 0)

    def test_duckdb_twin(self, spark):
        import duckdb
        import pandas as pd
        from pyspark.sql import functions as F
        from karta_spark.functions.cells import modis_tile, modis_tile_sql
        rng = np.random.default_rng(3)
        pdf = pd.DataFrame({"lon": rng.uniform(-180, 180, 200),
                            "lat": rng.uniform(-89, 89, 200)})
        h, v = modis_tile(F.col("lon"), F.col("lat"))
        srows = spark.createDataFrame(pdf).select(
            h.alias("h"), v.alias("v")).collect()
        hs, vs = modis_tile_sql("lon", "lat")
        con = duckdb.connect()
        con.register("t", pdf)
        drows = con.execute(f"SELECT {hs} AS h, {vs} AS v FROM t").fetchall()
        assert [(r["h"], r["v"]) for r in srows] == \
            [(a, b) for a, b in drows]


class TestMollweide:
    """Mollweide (Snyder 31): unrolled-Newton parametric angle as pure
    backend expressions; ellipsoids via the authalic sphere (exactly
    equal-area — proj.4 ignores the ellipsoid here, documented)."""

    def test_snyder_spherical_golden(self):
        """Snyder 1987 Mollweide numerical example: R=1, lon0=-90,
        (50N, 75W) -> x=0.1788845 y=0.9208758."""
        from karta_spark.functions import crs as C
        d = C.from_proj4("+proj=moll +lon_0=-90 +R=1")
        x, y = C.forward_np(d, np.array([-75.0]), np.array([50.0]))
        assert x[0] == pytest.approx(0.1788845, abs=1e-7)
        assert y[0] == pytest.approx(0.9208758, abs=1e-7)
        lo, la = C.inverse_np(d, x, y)
        assert (lo[0], la[0]) == pytest.approx((-75.0, 50.0), abs=1e-7)

    def test_equal_area_on_ellipsoid(self):
        from karta_spark.functions import crs as C
        d = C.from_proj4("+proj=moll +lon_0=0 +ellps=WGS84")
        a, f = C.A_WGS84, C.F_WGS84
        e2 = f * (2 - f)
        for lat0 in (0.0, 40.0, 80.0):
            eps = 1e-6
            xs, ys = C.forward_np(
                d, np.array([30.0, 30.0 + eps, 30.0]),
                np.array([lat0, lat0, lat0 + eps]))
            J = abs((xs[1] - xs[0]) * (ys[2] - ys[0])
                    - (xs[2] - xs[0]) * (ys[1] - ys[0])) \
                / np.radians(eps) ** 2
            phi = np.radians(lat0)
            M = a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
            N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
            assert J / (M * N * np.cos(phi)) == pytest.approx(1.0,
                                                              abs=1e-6)

    def test_poles_pinned(self):
        from karta_spark.functions import crs as C
        d = C.from_proj4("+proj=moll +lon_0=0 +ellps=WGS84")
        x, y = C.forward_np(d, np.array([15.0, -170.0]),
                            np.array([90.0, -90.0]))
        assert np.abs(x).max() < 1e-6  # poles collapse to x=0 exactly

    def test_roundtrip_and_interchange(self):
        from karta_spark.functions import crs as C
        d = C.from_proj4("+proj=moll +lon_0=20 +x_0=3 +y_0=-7 "
                         "+ellps=clrk66")
        lon = np.array([12.3, -77.0, 170.0])
        lat = np.array([45.6, -33.0, 80.0])
        lo, la = C.inverse_np(d, *C.forward_np(d, lon, lat))
        dl = (lo - lon + 180.0) % 360.0 - 180.0
        assert np.allclose(dl, 0.0, atol=1e-7)
        assert np.allclose(la, lat, atol=1e-7)
        assert C.from_proj4(C.to_proj4(d)).params == d.params
        assert C.from_wkt(C.to_wkt(d)).params == d.params

    def test_spark_backend_matches_numpy(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from karta_spark.functions import crs as C
        d = C.from_proj4("+proj=moll +lon_0=0 +ellps=WGS84")
        lon = np.array([12.3, -77.0, 0.0])
        lat = np.array([45.6, -33.0, 90.0])
        nx, ny = C.forward_np(d, lon, lat)
        sdf = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
        cx, cy = C.forward_exprs(d, F.col("lon"), F.col("lat"))
        rows = sdf.select(cx.alias("x"), cy.alias("y")).collect()
        for i, r in enumerate(rows):
            assert r["x"] == pytest.approx(nx[i], rel=1e-12, abs=1e-6)
            assert r["y"] == pytest.approx(ny[i], rel=1e-12, abs=1e-6)


class TestSwissObliqueMercator:
    """CH1903/LV03 + LV95 (EPSG 9814 Rosenmund double projection) —
    ellipsoid -> conformal sphere -> pole rotation -> Mercator."""

    def test_bern_origin_exact(self):
        from karta_spark.functions import crs as C
        x, y = C.forward_np(C.CH1903_LV03, np.array([C._CH_LON0]),
                            np.array([C._CH_LAT0]))
        assert x[0] == pytest.approx(600000.0, abs=1e-6)
        assert y[0] == pytest.approx(200000.0, abs=1e-6)
        x, y = C.forward_np(C.CH1903_LV95, np.array([C._CH_LON0]),
                            np.array([C._CH_LAT0]))
        assert (x[0], y[0]) == pytest.approx((2600000.0, 1200000.0),
                                             abs=1e-6)

    def test_swisstopo_rigi_golden(self):
        """The official swisstopo reference point (Rigi):
        47d03'28.95649\" N, 8d29'11.11127\" E -> E 679520.05
        N 212273.44 (centimeter-exact)."""
        from karta_spark.functions import crs as C
        lat = 47 + 3 / 60 + 28.95649 / 3600
        lon = 8 + 29 / 60 + 11.11127 / 3600
        x, y = C.forward_np(C.CH1903_LV03, np.array([lon]),
                            np.array([lat]))
        assert x[0] == pytest.approx(679520.05, abs=0.01)
        assert y[0] == pytest.approx(212273.44, abs=0.01)
        lo, la = C.inverse_np(C.CH1903_LV03, x, y)
        assert (lo[0], la[0]) == pytest.approx((lon, lat), abs=1e-9)

    def test_conformality_isotropy(self):
        """Conformal projections scale isotropically: the lon- and
        lat-direction scale factors agree everywhere (numeric check)."""
        from karta_spark.functions import crs as C
        a, f = C.ellipsoid_params("bessel")
        e2 = f * (2 - f)
        for L, P in [(7.44, 46.95), (8.5, 47.3), (6.5, 46.3)]:
            eps = 1e-7
            x0, y0 = C.forward_np(C.CH1903_LV03, np.array([L]),
                                  np.array([P]))
            x1, y1 = C.forward_np(C.CH1903_LV03, np.array([L + eps]),
                                  np.array([P]))
            x2, y2 = C.forward_np(C.CH1903_LV03, np.array([L]),
                                  np.array([P + eps]))
            phi = np.radians(P)
            N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
            M = a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
            k_lon = np.hypot(x1 - x0, y1 - y0)[0] / (
                np.radians(eps) * N * np.cos(phi))
            k_lat = np.hypot(x2 - x0, y2 - y0)[0] / (np.radians(eps) * M)
            assert k_lon / k_lat == pytest.approx(1.0, abs=1e-5)

    def test_proj4_and_wkt_interchange(self):
        from karta_spark.functions import crs as C
        assert C.from_proj4(C.to_proj4(C.CH1903_LV03)) is C.CH1903_LV03
        assert C.from_wkt(C.to_wkt(C.CH1903_LV95)) is C.CH1903_LV95
        d = C.from_proj4("+proj=somerc +lat_0=46.952405555555565 "
                         "+lon_0=7.439583333333333 +k_0=1 +x_0=600000 "
                         "+y_0=200000 +ellps=bessel")
        assert d is C.CH1903_LV03

    def test_hotine_azimuth90_wkt_is_swiss_others_are_omerc(self):
        # r5 made non-90 azimuths raise; r6 implements general Hotine:
        # the ESRI azimuth-90 shape still routes to the Swiss double
        # projection, every other azimuth gets the true omerc kind
        from karta_spark.functions import crs as C
        wkt = C.to_wkt(C.CH1903_LV03).replace(
            "Swiss_Oblique_Cylindrical",
            "Hotine_Oblique_Mercator_Azimuth_Center")
        assert C.from_wkt(wkt).params == C.CH1903_LV03.params
        other = wkt.replace('PROJECTION["Hotine_Oblique_Mercator_'
                            'Azimuth_Center"]',
                            'PROJECTION["Hotine_Oblique_Mercator_'
                            'Azimuth_Center"],PARAMETER["azimuth",39.0]')
        d = C.from_wkt(other)
        assert d.kind == "omerc"
        assert d.params[2] == 39.0

    def test_spark_backend(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from karta_spark.functions import crs as C
        lat = 47 + 3 / 60 + 28.95649 / 3600
        lon = 8 + 29 / 60 + 11.11127 / 3600
        df = spark.createDataFrame(pd.DataFrame(
            {"lon": [lon], "lat": [lat]}))
        ex, ny = C.forward_exprs(C.CH1903_LV03, F.col("lon"),
                                 F.col("lat"))
        r = df.select(ex.alias("x"), ny.alias("y")).collect()[0]
        assert r["x"] == pytest.approx(679520.05, abs=0.01)
        assert r["y"] == pytest.approx(212273.44, abs=0.01)
