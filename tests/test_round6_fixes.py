"""Round-6 regression tests for the ADVICE r5 findings.

1. repeated_spans: docs shorter than L must emit nothing (Spark's
   sequence(1, 0) counts DOWN, so the unfiltered plan produced two
   spurious gram rows per short doc and diverged from the DuckDB twin).

The JPEG findings of this round are in test_jpeg.py.
"""
import numpy as np
import pandas as pd
import pytest


class TestRepeatedSpansShortDocs:
    def test_short_dup_docs_emit_nothing(self, spark):
        from karta_spark.operators.text import repeated_spans
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2], "text": ["tiny dup", "tiny dup"]}))
        assert repeated_spans(df, L=20).count() == 0
        assert repeated_spans(df, L=20, hashed=True).count() == 0

    def test_empty_and_boundary_docs(self, spark):
        from karta_spark.operators.text import repeated_spans
        # empty, L-1 (no gram), exactly L (one gram each -> flagged)
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": ["", "", "a" * 19, "a" * 19, "b" * 20, "b" * 20]}))
        out = {r["id"]: (r["n_flagged"], r["dup_chars"])
               for r in repeated_spans(df, L=20).collect()}
        assert out == {5: (1, 20), 6: (1, 20)}

    def test_mixed_corpus_dup_chars_bounded(self, spark):
        """Short dup docs must not appear at all, and no doc's dup_chars
        may exceed its own length (the r5 bug produced 21 > 8)."""
        from karta_spark.operators.text import repeated_spans
        texts = ["tiny dup", "tiny dup",
                 "long shared boilerplate sentence here A",
                 "long shared boilerplate sentence here B"]
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3, 4], "text": texts}))
        out = {r["id"]: r["dup_chars"]
               for r in repeated_spans(df, L=20).collect()}
        assert set(out) == {3, 4}
        for i, d in out.items():
            assert d <= len(texts[i - 1])


class TestTrueMercator:
    """Ellipsoidal Mercator (kind 'merc', EPSG 9804/9805 — EPSG:3395
    World Mercator family), round 6.  Goldens: EPSG Guidance Note 7-2
    worked examples (Mercator 1SP: Makassar / NEIEZ EPSG:3002; Mercator
    2SP: Pulkovo 1942 / Caspian Sea EPSG:3388), plus an independent
    numeric integration of the isometric-latitude integral."""

    def test_epsg_gn7_1sp_golden(self):
        from karta_spark.functions import crs
        c = crs.from_proj4("+proj=merc +lon_0=110 +k_0=0.997 "
                           "+x_0=3900000 +y_0=900000 +ellps=bessel")
        assert c.kind == "merc"
        x, y = crs.forward_np(c, [120.0], [-3.0])
        assert abs(x[0] - 5009726.58) < 0.01
        assert abs(y[0] - 569150.82) < 0.01
        lon, lat = crs.inverse_np(c, x, y)
        assert abs(lon[0] - 120.0) < 2e-8 and abs(lat[0] + 3.0) < 2e-8

    def test_epsg_gn7_2sp_golden(self):
        from karta_spark.functions import crs
        c = crs.from_proj4("+proj=merc +lat_ts=42 +lon_0=51 +ellps=krass")
        assert c.params[:3] == (42.0, 51.0, 1.0)  # lat_ts canonicalizes k
        x, y = crs.forward_np(c, [53.0], [53.0])
        assert abs(x[0] - 165704.29) < 0.01
        assert abs(y[0] - 5171848.07) < 0.01

    def test_3395_matches_numeric_integral(self):
        import numpy as np
        from karta_spark.functions import crs
        _, y = crs.forward_np(crs.WORLD_MERCATOR, [0.0], [55.0])
        e2 = crs.E2_WGS84
        phi = np.linspace(1e-12, np.radians(55.0), 2_000_001)
        integrand = (1 - e2) / ((1 - e2 * np.sin(phi) ** 2) * np.cos(phi))
        y_int = crs.A_WGS84 * np.trapz(integrand, phi)
        assert abs(y[0] - y_int) < 1e-4

    def test_roundtrip_grid(self):
        import numpy as np
        from karta_spark.functions import crs
        rng = np.random.default_rng(6)
        lon = rng.uniform(-179, 179, 400)
        lat = rng.uniform(-84, 84, 400)
        x, y = crs.forward_np(crs.WORLD_MERCATOR, lon, lat)
        lo, la = crs.inverse_np(crs.WORLD_MERCATOR, x, y)
        assert np.abs(lo - lon).max() < 2e-8
        assert np.abs(la - lat).max() < 2e-8

    def test_sql_backend_matches_numpy(self):
        import duckdb
        import numpy as np
        from karta_spark.functions import crs
        rng = np.random.default_rng(7)
        lon = rng.uniform(-170, 170, 48)
        lat = rng.uniform(-80, 80, 48)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE pts AS SELECT i, CAST(lon AS DOUBLE) AS lon, "
            "CAST(lat AS DOUBLE) AS lat FROM (VALUES "
            + ",".join(f"({i}, {lon[i]!r}, {lat[i]!r})" for i in range(48))
            + ") t(i, lon, lat)")
        xs, ys = crs.forward_sql(crs.WORLD_MERCATOR, "lon", "lat")
        rows = con.execute(
            f"SELECT i, {xs} AS x, {ys} AS y FROM pts ORDER BY i").fetchall()
        X, Y = crs.forward_np(crs.WORLD_MERCATOR, lon, lat)
        for i, x, y in rows:
            assert abs(x - X[i]) < 1e-6 and abs(y - Y[i]) < 1e-6

    def test_column_backend_matches_numpy(self, spark):
        import numpy as np
        from pyspark.sql import functions as F
        from karta_spark.functions import crs
        rng = np.random.default_rng(8)
        lon = rng.uniform(-170, 170, 64)
        lat = rng.uniform(-80, 80, 64)
        df = spark.createDataFrame(
            [(i, float(lon[i]), float(lat[i])) for i in range(64)],
            "i long, lon double, lat double")
        fx, fy = crs.forward_exprs(crs.WORLD_MERCATOR,
                                   F.col("lon"), F.col("lat"))
        ix, iy = crs.inverse_exprs(crs.WORLD_MERCATOR,
                                   F.col("lon"), F.col("lat"))
        rows = df.select("i", fx.alias("x"), fy.alias("y")).orderBy(
            "i").collect()
        X, Y = crs.forward_np(crs.WORLD_MERCATOR, lon, lat)
        for k, r in enumerate(rows):
            assert abs(r["x"] - X[k]) < 1e-6 and abs(r["y"] - Y[k]) < 1e-6

    def test_interchange_roundtrips(self):
        from karta_spark.functions import crs
        cases = [
            crs.WORLD_MERCATOR,
            crs.from_proj4("+proj=merc +lat_ts=42 +lon_0=51 +ellps=krass"),
            crs.from_proj4("+proj=merc +lon_0=110 +k_0=0.997 "
                           "+x_0=3900000 +y_0=900000 +ellps=bessel"),
        ]
        for c in cases:
            for rt in (crs.from_proj4(crs.to_proj4(c)),
                       crs.from_wkt(crs.to_wkt(c))):
                assert rt.kind == c.kind and rt.params == c.params, c.name
        # 3395 WKT (name-disambiguated from 3857) resolves to the named
        # instance; legacy web-mercator shapes are untouched
        assert crs.from_wkt(crs.to_wkt(crs.WORLD_MERCATOR)) \
            is crs.WORLD_MERCATOR
        assert crs.from_proj4("+proj=merc") is crs.WEB_MERCATOR
        assert crs.from_proj4(crs.to_proj4(crs.WEB_MERCATOR)) \
            is crs.WEB_MERCATOR

    def test_webmerc_and_3395_differ(self):
        import numpy as np
        from karta_spark.functions import crs
        _, y_sph = crs.forward_np(crs.WEB_MERCATOR, [0.0], [45.0])
        _, y_ell = crs.forward_np(crs.WORLD_MERCATOR, [0.0], [45.0])
        # ~0.7% northing difference at 45N — the 3857/3395 gap
        assert 20000 < abs(y_sph[0] - y_ell[0]) < 50000


class TestAzimuthalEquidistant:
    """Azimuthal equidistant (kind 'aeqd', round 6).  Three regimes:
    sphere (Snyder 25, exact any distance), ellipsoidal polar (meridian
    arc, Snyder 25-16, exact), ellipsoidal oblique (EPSG method 9832
    Modified Azimuthal Equidistant — the Guam/Micronesia grids).
    Cross-validated against the repo's independent geodesic kernels:
    by definition aeqd maps a point to (s*sin(az), s*cos(az)) of the
    geodesic from the origin."""

    def test_sphere_matches_independent_haversine(self):
        import numpy as np
        from karta_spark.functions import crs
        c = crs.from_proj4("+proj=aeqd +lat_0=40 +lon_0=-100 +R=6371000")
        lon = np.array([100.0, -80.0, -100.0, 30.0])
        lat = np.array([-20.0, 45.0, 40.0, -60.0])
        x, y = crs.forward_np(c, lon, lat)
        # independent formulas: haversine angular distance + the
        # standard initial-azimuth formula (different algebra from the
        # cos-c / k-prime implementation path)
        p0, l0 = np.radians(40.0), np.radians(-100.0)
        p, dl = np.radians(lat), np.radians(lon) - l0
        hav = (np.sin((p - p0) / 2) ** 2
               + np.cos(p0) * np.cos(p) * np.sin(dl / 2) ** 2)
        cang = 2 * np.arcsin(np.sqrt(hav))
        az = np.arctan2(np.sin(dl) * np.cos(p),
                        np.cos(p0) * np.sin(p)
                        - np.sin(p0) * np.cos(p) * np.cos(dl))
        np.testing.assert_allclose(x, 6371000 * cang * np.sin(az),
                                   atol=1e-6)
        np.testing.assert_allclose(y, 6371000 * cang * np.cos(az),
                                   atol=1e-6)

    def test_sphere_snyder_worked_example(self):
        """Snyder 1987 appendix numeric example: R=3, lat_1=40N,
        lon_0=100W, point (20S, 100E) -> x=-5.8311398, y=5.5444634."""
        from karta_spark.functions import crs
        c = crs.from_proj4("+proj=aeqd +lat_0=40 +lon_0=-100 +R=3")
        x, y = crs.forward_np(c, [100.0], [-20.0])
        assert abs(x[0] - (-5.8311398)) < 1e-6
        assert abs(y[0] - 5.5444634) < 1e-6

    def test_polar_quarter_meridian(self):
        """North-polar ellipsoidal aeqd: rho at the equator equals the
        WGS84 quarter meridian 10001965.7293 m (public constant); at
        lon=0 the point lands due south (x=0, y=-rho)."""
        from karta_spark.functions import crs
        c = crs.from_proj4("+proj=aeqd +lat_0=90 +lon_0=0")
        x, y = crs.forward_np(c, [0.0, 90.0], [0.0, 0.0])
        assert abs(x[0]) < 1e-6
        assert abs(y[0] + 10001965.7293) < 1e-3
        assert abs(x[1] - 10001965.7293) < 1e-3 and abs(y[1]) < 1e-6

    def test_polar_rho_is_meridian_arc_integral(self):
        import numpy as np
        from karta_spark.functions import crs
        c = crs.from_proj4("+proj=aeqd +lat_0=90 +lon_0=0")
        x, y = crs.forward_np(c, [0.0], [80.0])
        e2 = crs.E2_WGS84
        phi = np.linspace(np.radians(80.0), np.pi / 2, 1_000_001)
        integrand = (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
        rho_int = crs.A_WGS84 * np.trapz(integrand, phi)
        assert abs(np.hypot(x[0], y[0]) - rho_int) < 1e-3

    def test_oblique_matches_karney_geodesic(self):
        """EPSG 9832 series vs the repo's independent Karney-2013
        inverse: (E, N) must equal (s*sin(az), s*cos(az)) to mm at
        Guam-grid distances."""
        import math
        from karta_spark.functions import crs
        from karta_spark.functions.kernels import karney_inverse_scalar
        c = crs.aeqd(13.5, 144.75)
        for lon, lat in [(144.9, 13.3), (145.5, 14.1), (143.9, 12.8),
                         (144.75, 13.5), (146.0, 13.5)]:
            x, y = crs.forward_np(c, [lon], [lat])
            az, _, s = karney_inverse_scalar(144.75, 13.5, lon, lat)
            if (lon, lat) == (144.75, 13.5):
                assert abs(x[0]) < 1e-6 and abs(y[0]) < 1e-6
                continue
            # series truncation grows with distance: mm inside the
            # ~50 km Guam grid, ~1 cm at 100 km, a few cm by 150 km
            tol = 2e-3 if s < 6e4 else 0.06
            assert abs(x[0] - s * math.sin(math.radians(az))) < tol
            assert abs(y[0] - s * math.cos(math.radians(az))) < tol

    def test_guam_1963_yap_golden(self):
        """EPSG GN7-2 worked example, method 9832 (Guam 1963 / Yap
        Islands, Clarke 1866): phi=9d35'47.493"N lam=138d11'34.908"E
        -> E=42665.90 N=65509.82 (FE=40000, FN=60000, origin
        9d32'48.15"N 138d10'07.48"E)."""
        from karta_spark.functions import crs
        c = crs.aeqd(9 + 32 / 60 + 48.15 / 3600,
                     138 + 10 / 60 + 7.48 / 3600,
                     40000.0, 60000.0, ellps="clrk66")
        x, y = crs.forward_np(c, [138 + 11 / 60 + 34.908 / 3600],
                              [9 + 35 / 60 + 47.493 / 3600])
        assert abs(x[0] - 42665.90) < 0.05
        assert abs(y[0] - 65509.82) < 0.05
        lon, lat = crs.inverse_np(c, x, y)
        assert abs(lon[0] - (138 + 11 / 60 + 34.908 / 3600)) < 1e-8
        assert abs(lat[0] - (9 + 35 / 60 + 47.493 / 3600)) < 1e-8

    @pytest.mark.parametrize("proj4", [
        "+proj=aeqd +lat_0=40 +lon_0=-100 +R=6371000",   # sphere
        "+proj=aeqd +lat_0=90 +lon_0=-45",               # polar N
        "+proj=aeqd +lat_0=-90 +lon_0=10",               # polar S
        "+proj=aeqd +lat_0=13.5 +lon_0=144.75",          # oblique WGS84
        "+proj=aeqd +lat_0=9.5 +lon_0=138.2 +x_0=40000 "
        "+y_0=60000 +ellps=clrk66",                      # oblique clrk66
    ])
    def test_roundtrip(self, proj4):
        import numpy as np
        from karta_spark.functions import crs
        c = crs.from_proj4(proj4)
        rng = np.random.default_rng(hash(proj4) % 2**31)
        lat0 = c.params[0]
        lon0 = c.params[1]
        if abs(lat0) >= 89.0:  # polar: stay within ~25 deg of the pole
            lat = (np.sign(lat0) or 1) * rng.uniform(65, 89.5, 300)
            lon = rng.uniform(-180, 180, 300)
        elif len(c.params) > 4 and c.params[5] == 0.0:  # sphere: global
            lon = lon0 + rng.uniform(-150, 150, 300)
            lat = rng.uniform(-85, 85, 300)
        else:  # oblique series: regional validity (~800 km)
            lon = lon0 + rng.uniform(-4, 4, 300)
            lat = lat0 + rng.uniform(-4, 4, 300)
        x, y = crs.forward_np(c, lon, lat)
        lo, la = crs.inverse_np(c, x, y)
        dlon = (lo - lon + 180.0) % 360.0 - 180.0
        assert np.abs(dlon * np.cos(np.radians(lat))).max() < 1e-7
        assert np.abs(la - lat).max() < 1e-7

    def test_sql_and_column_backends_match_numpy(self, spark):
        import duckdb
        import numpy as np
        from pyspark.sql import functions as F
        from karta_spark.functions import crs
        c = crs.aeqd(13.5, 144.75)
        rng = np.random.default_rng(9)
        lon = 144.75 + rng.uniform(-3, 3, 48)
        lat = 13.5 + rng.uniform(-3, 3, 48)
        X, Y = crs.forward_np(c, lon, lat)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE pts AS SELECT i, CAST(lon AS DOUBLE) AS lon, "
            "CAST(lat AS DOUBLE) AS lat FROM (VALUES "
            + ",".join(f"({i}, {lon[i]!r}, {lat[i]!r})" for i in range(48))
            + ") t(i, lon, lat)")
        xs, ys = crs.forward_sql(c, "lon", "lat")
        for i, x, y in con.execute(
                f"SELECT i, {xs} AS x, {ys} AS y FROM pts "
                "ORDER BY i").fetchall():
            assert abs(x - X[i]) < 1e-6 and abs(y - Y[i]) < 1e-6
        df = spark.createDataFrame(
            [(i, float(lon[i]), float(lat[i])) for i in range(48)],
            "i long, lon double, lat double")
        fx, fy = crs.forward_exprs(c, F.col("lon"), F.col("lat"))
        for k, r in enumerate(
                df.select("i", fx.alias("x"), fy.alias("y"))
                .orderBy("i").collect()):
            assert abs(r["x"] - X[k]) < 1e-6 and abs(r["y"] - Y[k]) < 1e-6

    def test_interchange_roundtrips(self):
        from karta_spark.functions import crs
        cases = [
            crs.aeqd(13.5, 144.75),
            crs.aeqd(9.5, 138.2, 40000.0, 60000.0, ellps="clrk66"),
            crs.from_proj4("+proj=aeqd +lat_0=90 +lon_0=-45"),
            crs.from_proj4("+proj=aeqd +lat_0=40 +lon_0=-100 +R=6371000"),
        ]
        for c in cases:
            for rt in (crs.from_proj4(crs.to_proj4(c)),
                       crs.from_wkt(crs.to_wkt(c))):
                assert rt.kind == "aeqd" and rt.params == c.params, c.name

    def test_guam_variant_routes_to_guam_kernel(self):
        # supported since round 7 (EPSG 9831); behavior pinned against
        # the EPSG worked example in test_crs_round7.py::TestAeqdGuam
        from karta_spark.functions import crs
        g = crs.from_proj4("+proj=aeqd +lat_0=13.5 +lon_0=144.75 +guam")
        assert g.kind == "aeqd_guam" and g.params[:2] == (13.5, 144.75)


class TestClipRepeatedSpans:
    """clip_repeated_spans (round 6): documents with cross-document
    repeated spans physically removed — the clip step of exact-substring
    dedup.  Interval-merge + Catalyst aggregate fold; verified against
    hand-computed expectations."""

    def test_planted_boilerplate_removed(self, spark):
        from karta_spark.operators.text import clip_repeated_spans
        boiler = "COPYRIGHT 2024 ALL RIGHTS RESERVED."  # 35 chars
        texts = {
            1: "unique alpha content. " + boiler,
            2: boiler + " unique beta content here.",
            3: "totally clean document with original words only",
        }
        df = spark.createDataFrame(pd.DataFrame(
            {"doc_id": list(texts), "text": list(texts.values())}))
        out = {r["id"]: (r["clean_text"], r["removed_chars"])
               for r in clip_repeated_spans(df, L=20).collect()}
        assert set(out) == {1, 2, 3}
        # every 20-gram inside the planted span is cross-doc repeated,
        # so the whole boilerplate run is cut; unique text survives
        assert boiler not in out[1][0] and boiler not in out[2][0]
        assert out[1][0].startswith("unique alpha content.")
        assert out[2][0].endswith("unique beta content here.")
        assert out[3] == (texts[3], 0)  # clean doc byte-identical
        for i in (1, 2):
            assert out[i][1] == len(texts[i]) - len(out[i][0])

    def test_full_doc_duplicate_clips_to_empty(self, spark):
        from karta_spark.operators.text import clip_repeated_spans
        dup = "this entire document is duplicated verbatim elsewhere"
        df = spark.createDataFrame(pd.DataFrame(
            {"doc_id": [1, 2], "text": [dup, dup]}))
        out = {r["id"]: (r["clean_text"], r["removed_chars"])
               for r in clip_repeated_spans(df, L=20).collect()}
        assert out[1] == ("", len(dup)) and out[2] == ("", len(dup))

    def test_two_disjoint_spans_in_one_doc(self, spark):
        from karta_spark.operators.text import clip_repeated_spans
        s1 = "SHARED-HEADER-BLOCK-AAAA"          # 24 chars
        s2 = "SHARED-FOOTER-BLOCK-ZZZZ"          # 24 chars
        # middles must diverge at BOTH boundary chars: any character
        # shared at the same offset from the common block extends the
        # repeated 20-grams into the middle (exact-substring semantics)
        mid1 = "Xoriginal-middle-oneY"
        mid2 = "Qother-middle-entireZ"
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2],
            "text": [s1 + mid1 + s2, s1 + mid2 + s2]}))
        out = {r["id"]: r["clean_text"]
               for r in clip_repeated_spans(df, L=20).collect()}
        assert out[1] == mid1
        assert out[2] == mid2

    def test_short_and_empty_docs_pass_through(self, spark):
        from karta_spark.operators.text import clip_repeated_spans
        df = spark.createDataFrame(pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": ["tiny dup", "tiny dup", ""]}))
        out = {r["id"]: (r["clean_text"], r["removed_chars"])
               for r in clip_repeated_spans(df, L=20).collect()}
        assert out == {1: ("tiny dup", 0), 2: ("tiny dup", 0), 3: ("", 0)}

    def test_hashed_matches_unhashed(self, spark):
        from karta_spark.operators.text import clip_repeated_spans
        texts = ["alpha REPEATED-SPAN-CONTENT-HERE omega",
                 "beta REPEATED-SPAN-CONTENT-HERE psi",
                 "gamma lone content without repeats anywhere"]
        df = spark.createDataFrame(pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": texts}))
        a = {(r["id"], r["clean_text"], r["removed_chars"])
             for r in clip_repeated_spans(df, L=20, hashed=False).collect()}
        b = {(r["id"], r["clean_text"], r["removed_chars"])
             for r in clip_repeated_spans(df, L=20, hashed=True).collect()}
        assert a == b


class TestScaleWarningDocstrings:
    """Lint-style guard (VERDICT r5 task 8): the driver-side utilities
    must carry their scale warnings so nobody routes cluster-scale data
    through them, and repeated_spans must document its 100 TB setting."""

    def test_df_to_grid_warns_driver_side(self):
        from karta_spark.raster.tiles import df_to_grid
        doc = df_to_grid.__doc__
        assert "driver-side" in doc and "small grids only" in doc
        assert "toPandas" in doc

    def test_repeated_spans_100tb_note(self):
        from karta_spark.operators.text import repeated_spans
        doc = repeated_spans.__doc__
        assert "100 TB" in doc and "hashed" in doc
        assert "slice" in doc  # per-job corpus slice guidance

    def test_hashed_is_default(self):
        import inspect
        from karta_spark.operators.text import (repeated_spans,
                                                clip_repeated_spans)
        for fn in (repeated_spans, clip_repeated_spans):
            assert inspect.signature(fn).parameters["hashed"].default is True


class TestTypedRasterDtypes:
    """Complex and 64-bit integer raster pass-through (round 6): the
    reference's GDAL dtype map includes CInt16/CInt32/CFloat32/CFloat64
    (all surfaced as complex, reference _gdal.py:68-79) which the TIFF
    codec previously rejected; 64-bit ints are the GDAL >= 3.5 additions."""

    def _roundtrip(self, tmp_path, arr, **kw):
        import struct
        from karta_spark.sources import geotiff
        p = str(tmp_path / "t.tif")
        geotiff.write_geotiff_array(p, arr, 10.0, 20.0, 0.5, 0.5, **kw)
        with open(p, "rb") as f:
            m = geotiff.TiffMeta(f)
            out = m.read_window(f, 0, m.ny, 0, m.nx)
        return m, out[:, :, 0]

    def test_complex64_strip_roundtrip(self, tmp_path):
        rng = np.random.default_rng(7)
        arr = (rng.normal(size=(9, 7)) + 1j * rng.normal(size=(9, 7))
               ).astype(np.complex64)
        m, out = self._roundtrip(tmp_path, arr)
        assert m.dtype == np.complex64
        np.testing.assert_array_equal(out, arr)

    def test_complex128_deflate_tiled_roundtrip(self, tmp_path):
        rng = np.random.default_rng(8)
        arr = (rng.normal(size=(20, 33)) + 1j * rng.normal(size=(20, 33)))
        m, out = self._roundtrip(tmp_path, arr.astype(np.complex128),
                                 compress="deflate", tiled=16)
        assert m.dtype == np.complex128
        np.testing.assert_array_equal(out, arr)

    def test_complex_overview_keeps_imag(self, tmp_path):
        from karta_spark.sources import geotiff
        arr = (np.arange(64, dtype=np.float32).reshape(8, 8)
               + 1j * np.ones((8, 8), dtype=np.float32)).astype(np.complex64)
        p = str(tmp_path / "ov.tif")
        geotiff.write_geotiff_array(p, arr, 0.0, 8.0, 1.0, 1.0,
                                    overviews=[2])
        with open(p, "rb") as f:
            metas = geotiff.tiff_overview_metas(f)
            ov = metas[1].read_window(f, 0, 4, 0, 4)[:, :, 0]
        assert ov.dtype == np.complex64
        np.testing.assert_allclose(ov.imag, 1.0, rtol=1e-6)

    @pytest.mark.parametrize("dt", [np.int64, np.uint64])
    def test_int64_roundtrip(self, tmp_path, dt):
        rng = np.random.default_rng(9)
        lo, hi = ((-2**62, 2**62) if dt is np.int64 else (0, 2**63))
        arr = rng.integers(lo, hi, size=(6, 5), dtype=dt)
        m, out = self._roundtrip(tmp_path, arr, compress="lzw")
        assert m.dtype == np.dtype(dt)
        np.testing.assert_array_equal(out, arr)

    def test_cint16_sampleformat5_decode(self, tmp_path):
        """Hand-built CInt16 (SampleFormat 5, 32 bits/sample = int16
        re/im pairs) strip TIFF — the SAR product layout; surfaced as
        complex64 per the reference map (_gdal.py:75)."""
        import struct
        from karta_spark.sources import geotiff
        re = np.array([[1, -2, 3], [4, 5, -6]], dtype=np.int16)
        im = np.array([[7, 8, -9], [-10, 11, 12]], dtype=np.int16)
        pix = np.empty((2, 3, 2), dtype=np.int16)
        pix[:, :, 0], pix[:, :, 1] = re, im
        data = pix.tobytes()
        # minimal little-endian TIFF: header + 9-entry IFD + strip
        def entry(tag, ftype, count, val):
            return struct.pack("<HHI4s", tag, ftype, count, val)
        ifd_off = 8
        n = 9
        strip_off = ifd_off + 2 + n * 12 + 4
        entries = [
            entry(256, 3, 1, struct.pack("<HH", 3, 0)),    # width
            entry(257, 3, 1, struct.pack("<HH", 2, 0)),    # height
            entry(258, 3, 1, struct.pack("<HH", 32, 0)),   # bits/sample
            entry(259, 3, 1, struct.pack("<HH", 1, 0)),    # no compress
            entry(262, 3, 1, struct.pack("<HH", 1, 0)),    # photometric
            entry(273, 4, 1, struct.pack("<I", strip_off)),  # strip offset
            entry(277, 3, 1, struct.pack("<HH", 1, 0)),    # spp
            entry(279, 4, 1, struct.pack("<I", len(data))),  # strip bytes
            entry(339, 3, 1, struct.pack("<HH", 5, 0)),    # fmt 5 = cint
        ]
        buf = (b"II*\x00" + struct.pack("<I", ifd_off)
               + struct.pack("<H", n) + b"".join(entries)
               + struct.pack("<I", 0) + data)
        p = tmp_path / "cint16.tif"
        p.write_bytes(buf)
        with open(p, "rb") as f:
            m = geotiff.TiffMeta(f)
            out = m.read_window(f, 0, 2, 0, 3)[:, :, 0]
        assert m.dtype == np.complex64
        np.testing.assert_array_equal(out, re.astype(np.float32)
                                      + 1j * im.astype(np.float32))

    def test_get_nodata_default_reference_semantics(self):
        """reference grid.py:1233-1257: unsigned -> max, signed -> min,
        float/complex -> NaN, otherwise ValueError."""
        from karta_spark.raster.tiles import get_nodata_default
        assert get_nodata_default(np.uint8) == 255
        assert get_nodata_default(np.uint16) == 65535
        assert get_nodata_default(np.uint64) == 2**64 - 1
        assert get_nodata_default(np.int16) == -32768
        assert get_nodata_default(np.int64) == -2**63
        assert np.isnan(get_nodata_default(np.float32))
        assert np.isnan(get_nodata_default(np.complex64))
        with pytest.raises(ValueError):
            get_nodata_default(np.bool_)


class TestObliqueLaea:
    """Oblique-aspect ellipsoidal LAEA (EPSG method 9820) — VERDICT r5
    breadth: ETRS89-LAEA Europe (EPSG:3035) is the highest-traffic CRS
    the registry still rejected.  Goldens: the published EPSG Guidance
    Note 7-2 worked example; internal pins: bit-exact reduction to the
    equatorial kind at lat_0=0 and the equal-area Jacobian property."""

    def test_epsg_worked_example(self):
        """EPSG GN 7-2 method 9820 example (ETRS89-LAEA): lat 50N,
        lon 5E -> E 3962799.45, N 2999718.85 (values published to cm)."""
        from karta_spark.functions import crs as C
        x, y = C.forward_np(C.ETRS89_LAEA, 5.0, 50.0)
        assert x == pytest.approx(3962799.45, abs=0.01)
        assert y == pytest.approx(2999718.85, abs=0.01)
        lon, lat = C.inverse_np(C.ETRS89_LAEA, x, y)
        assert lon == pytest.approx(5.0, abs=1e-8)
        assert lat == pytest.approx(50.0, abs=1e-8)

    def test_equatorial_reduction_bit_exact(self):
        from karta_spark.functions import crs as C
        ob = C.laea_oblique(0.0, 13.0)
        eq = C.from_proj4("+proj=laea +lat_0=0 +lon_0=13 +datum=WGS84")
        lon = np.array([15.0, -20.0, 13.0, 100.0])
        lat = np.array([47.0, -33.0, 0.0, -71.0])
        xo, yo = C.forward_np(ob, lon, lat)
        xe, ye = C.forward_np(eq, lon, lat)
        np.testing.assert_array_equal(xo, xe)
        np.testing.assert_array_equal(yo, ye)

    def test_equal_area_jacobian(self):
        """det(J) == M*N*cos(phi) everywhere (the defining property),
        same numeric check the polar EASE-Grid suite uses."""
        from karta_spark.functions import crs as C
        a, f = C.A_WGS84, C.F_WGS84
        e2 = f * (2 - f)
        d = C.laea_oblique(52.0, 10.0)
        for lon0, lat0 in [(10.0, 52.0), (-8.0, 37.0), (31.0, 69.0),
                           (25.0, -20.0)]:
            eps = 1e-6
            xs, ys = C.forward_np(
                d, np.array([lon0, lon0 + eps, lon0]),
                np.array([lat0, lat0, lat0 + eps]))
            J = abs((xs[1] - xs[0]) * (ys[2] - ys[0])
                    - (xs[2] - xs[0]) * (ys[1] - ys[0])) / np.radians(eps) ** 2
            phi = np.radians(lat0)
            M = a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
            N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
            assert J / (M * N * np.cos(phi)) == pytest.approx(1.0, abs=1e-5)

    def test_roundtrip_grid(self):
        from karta_spark.functions import crs as C
        rng = np.random.default_rng(35)
        lon = rng.uniform(-30, 50, 200)
        lat = rng.uniform(20, 75, 200)
        lo, la = C.inverse_np(C.ETRS89_LAEA,
                              *C.forward_np(C.ETRS89_LAEA, lon, lat))
        np.testing.assert_allclose(lo, lon, atol=2e-8)
        np.testing.assert_allclose(la, lat, atol=2e-8)

    def test_proj4_wkt_roundtrips_and_named(self):
        from karta_spark.functions import crs as C
        p4 = ("+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 "
              "+ellps=GRS80 +units=m +no_defs")
        d = C.from_proj4(p4)
        assert d is C.ETRS89_LAEA
        assert C.from_proj4(C.to_proj4(d)) is C.ETRS89_LAEA
        assert C.from_wkt(C.to_wkt(d)) is C.ETRS89_LAEA
        g = C.from_proj4("+proj=laea +lat_0=45 +lon_0=-100 +x_0=8e6 "
                         "+y_0=8e6 +ellps=GRS80")  # US NLCD-style grid
        assert g.kind == "laea_oblique"
        assert C.from_proj4(C.to_proj4(g)).params == g.params
        assert C.from_wkt(C.to_wkt(g)).params == g.params

    def test_sql_backend_matches_numpy(self):
        import duckdb
        from karta_spark.functions import crs as C
        xs, ys = C.forward_sql(C.ETRS89_LAEA, "lon", "lat")
        rows = duckdb.sql(
            f"SELECT {xs} AS x, {ys} AS y FROM (SELECT CAST(5.0 AS DOUBLE)"
            f" AS lon, CAST(50.0 AS DOUBLE) AS lat)").fetchone()
        x, y = C.forward_np(C.ETRS89_LAEA, 5.0, 50.0)
        assert rows[0] == pytest.approx(x, abs=1e-6)
        assert rows[1] == pytest.approx(y, abs=1e-6)

    def test_spark_backend_matches_numpy(self, spark):
        from pyspark.sql import functions as F
        from karta_spark.functions import crs as C
        df = spark.createDataFrame(pd.DataFrame(
            {"lon": [5.0, 24.0, -9.1], "lat": [50.0, 61.5, 38.7]}))
        ex, ey = C.forward_exprs(C.ETRS89_LAEA, F.col("lon"), F.col("lat"))
        got = df.select(ex.alias("x"), ey.alias("y")).toPandas()
        x, y = C.forward_np(C.ETRS89_LAEA,
                            np.array([5.0, 24.0, -9.1]),
                            np.array([50.0, 61.5, 38.7]))
        np.testing.assert_allclose(got["x"], x, atol=1e-6)
        np.testing.assert_allclose(got["y"], y, atol=1e-6)


class TestHotineObliqueMercator:
    """General Hotine oblique Mercator (EPSG 9812 variant A / 9815
    variant B) — round-6 breadth: Malaysia RSO, Alaska zone 1, the
    rectified-skew grids.  External pins: the published EPSG Guidance
    Note 7-2 Timbalai/RSO-Borneo worked example, and the swisstopo-
    pinned somerc arm (alpha=90 Hotine agrees with the Rosenmund double
    projection to mm over the Swiss window)."""

    TIMBALAI = ("+proj=omerc +lat_0=4 +lonc=115 +alpha=53.31582047222222 "
                "+gamma=53.130102361111114 +k_0=0.99984 +x_0=590476.87 "
                "+y_0=442857.65 +a=6377298.556 +rf=300.8017")

    def test_epsg_timbalai_worked_example(self):
        """EPSG GN 7-2 method 9815: lat 5deg23'14.1129\"N,
        lon 115deg48'19.8196\"E -> E 679245.73, N 596562.78 (to cm)."""
        from karta_spark.functions import crs as C
        d = C.from_proj4(self.TIMBALAI)
        lon = 115 + 48 / 60 + 19.8196 / 3600
        lat = 5 + 23 / 60 + 14.1129 / 3600
        x, y = C.forward_np(d, lon, lat)
        assert x == pytest.approx(679245.73, abs=0.01)
        assert y == pytest.approx(596562.78, abs=0.01)
        lo, la = C.inverse_np(d, x, y)
        assert lo == pytest.approx(lon, abs=1e-9)
        assert la == pytest.approx(lat, abs=1e-9)

    def test_center_maps_to_false_origin_variant_b(self):
        from karta_spark.functions import crs as C
        d = C.from_proj4(self.TIMBALAI)
        x, y = C.forward_np(d, 115.0, 4.0)
        assert x == pytest.approx(590476.87, abs=1e-6)
        assert y == pytest.approx(442857.65, abs=1e-6)

    def test_alpha90_matches_swiss_somerc_to_mm(self):
        """Hotine with alpha=gamma=90 at the CH1903 origin vs the
        Rosenmund double projection (somerc, pinned cm-exact against
        swisstopo): different constructions of the same conformal
        cylinder — must agree to mm over the Swiss window."""
        from karta_spark.functions import crs as C
        om = C.from_proj4(
            "+proj=omerc +lat_0=46.95240555555556 "
            "+lonc=7.43958333333333 +alpha=90 +gamma=90 +k_0=1 "
            "+x_0=600000 +y_0=200000 +ellps=bessel")
        som = C.from_proj4(
            "+proj=somerc +lat_0=46.95240555555556 "
            "+lon_0=7.43958333333333 +k_0=1 +x_0=600000 +y_0=200000 "
            "+ellps=bessel")
        lon = np.array([7.439583333333333, 8.0, 6.0, 10.0, 7.0, 9.5])
        lat = np.array([46.952405555555565, 47.0, 46.0, 47.5, 45.8, 46.3])
        xo, yo = C.forward_np(om, lon, lat)
        xs, ys = C.forward_np(som, lon, lat)
        np.testing.assert_allclose(xo, xs, atol=5e-3)
        np.testing.assert_allclose(yo, ys, atol=5e-3)
        # at the shared origin both are exact
        assert xo[0] == pytest.approx(600000.0, abs=1e-6)
        assert yo[0] == pytest.approx(200000.0, abs=1e-6)

    def test_conformality(self):
        """The Jacobian w.r.t. isometric coordinates is a similarity
        transform (equal column norms, orthogonal) — the defining
        property of a conformal projection, checked numerically."""
        from karta_spark.functions import crs as C
        a, f = 6377298.556, 1.0 / 300.8017
        e2 = f * (2 - f)
        d = C.from_proj4(self.TIMBALAI)
        for lon0, lat0 in [(115.0, 4.0), (117.5, 5.8), (112.0, 1.5)]:
            eps = 1e-6
            xs, ys = C.forward_np(
                d, np.array([lon0, lon0 + eps, lon0]),
                np.array([lat0, lat0, lat0 + eps]))
            dxl, dyl = xs[1] - xs[0], ys[1] - ys[0]
            dxp, dyp = xs[2] - xs[0], ys[2] - ys[0]
            # d(iso lat)/d(phi) = M / (N cos phi) * ... : scale dphi to
            # the isometric differential so both columns compare equal
            phi = np.radians(lat0)
            M = a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
            N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
            s = M / (N * np.cos(phi))
            dxp, dyp = dxp / s, dyp / s
            n1 = np.hypot(dxl, dyl)
            n2 = np.hypot(dxp, dyp)
            assert n1 / n2 == pytest.approx(1.0, abs=1e-5)
            dot = (dxl * dxp + dyl * dyp) / (n1 * n2)
            assert dot == pytest.approx(0.0, abs=1e-5)

    def test_roundtrip_grid(self):
        from karta_spark.functions import crs as C
        d = C.from_proj4(self.TIMBALAI)
        rng = np.random.default_rng(41)
        lon = rng.uniform(109, 119, 200)
        lat = rng.uniform(-4, 7, 200)
        lo, la = C.inverse_np(d, *C.forward_np(d, lon, lat))
        np.testing.assert_allclose(lo, lon, atol=2e-8)
        np.testing.assert_allclose(la, lat, atol=2e-8)

    def test_proj4_wkt_roundtrips_both_variants(self):
        from karta_spark.functions import crs as C
        d = C.from_proj4(self.TIMBALAI)
        assert d.kind == "omerc" and d.params[7] == 1.0
        assert C.from_proj4(C.to_proj4(d)).params == d.params
        assert C.from_wkt(C.to_wkt(d)).params == d.params
        a = C.from_proj4(self.TIMBALAI + " +no_off")
        assert a.params[7] == 0.0
        assert C.from_proj4(C.to_proj4(a)).params == a.params
        assert C.from_wkt(C.to_wkt(a)).params == a.params
        assert "Hotine_Oblique_Mercator\"" in C.to_wkt(a).replace("', '", '"')
        # Swiss azimuth-90 azimuth-center WKT still routes to somerc
        assert C.from_wkt(C.to_wkt(C.CH1903_LV03)) is C.CH1903_LV03

    def test_two_point_form_converts_to_azimuth(self):
        # supported since round 7: converted to the equivalent azimuth
        # form exactly as proj omerc.c does; geometry pinned in
        # test_crs_round7.py::TestOmercTwoPoint
        from karta_spark.functions import crs as C
        tp = C.from_proj4("+proj=omerc +lat_1=1 +lon_1=110 +lat_2=5 "
                          "+lon_2=118 +k_0=1")
        # lonc is where the centerline crosses lat_0=0 — west of both
        # defining points for this NE-trending line
        assert tp.kind == "omerc" and 100.0 < tp.params[1] < 110.0
        assert 0.0 < tp.params[2] < 90.0

    def test_spark_backend_matches_numpy(self, spark):
        from pyspark.sql import functions as F
        from karta_spark.functions import crs as C
        d = C.from_proj4(self.TIMBALAI)
        lons, lats = [115.8, 110.2, 118.0], [5.39, 1.2, 6.5]
        df = spark.createDataFrame(pd.DataFrame({"lon": lons, "lat": lats}))
        ex, ey = C.forward_exprs(d, F.col("lon"), F.col("lat"))
        got = df.select(ex.alias("x"), ey.alias("y")).toPandas()
        x, y = C.forward_np(d, np.array(lons), np.array(lats))
        np.testing.assert_allclose(got["x"], x, atol=1e-6)
        np.testing.assert_allclose(got["y"], y, atol=1e-6)


class TestObliqueStereographic:
    """Oblique stereographic, EPSG method 9809 / proj.4 +proj=sterea
    (the Gauss-sphere double projection) — round-6 breadth: Amersfoort
    / RD New (EPSG:28992).  External pin: the published EPSG GN 7-2
    worked example; internal pins: conformality and the Gauss-sphere
    inverse via the shared conformal-latitude series."""

    def test_epsg_rd_new_worked_example(self):
        """EPSG GN 7-2 method 9809: lat 53N lon 6E on RD New ->
        E 196105.283, N 557057.739 (published to mm)."""
        from karta_spark.functions import crs as C
        x, y = C.forward_np(C.RD_NEW, 6.0, 53.0)
        assert x == pytest.approx(196105.283, abs=1e-3)
        assert y == pytest.approx(557057.739, abs=1e-3)
        lo, la = C.inverse_np(C.RD_NEW, x, y)
        assert lo == pytest.approx(6.0, abs=1e-9)
        assert la == pytest.approx(53.0, abs=1e-9)

    def test_center_maps_to_false_origin(self):
        from karta_spark.functions import crs as C
        x, y = C.forward_np(C.RD_NEW, C.RD_NEW.params[1], C.RD_NEW.params[0])
        assert x == pytest.approx(155000.0, abs=1e-6)
        assert y == pytest.approx(463000.0, abs=1e-6)

    def test_conformality(self):
        from karta_spark.functions import crs as C
        a, f = 6377397.155, 1.0 / 299.1528128
        e2 = f * (2 - f)
        for lon0, lat0 in [(5.4, 52.2), (3.5, 51.0), (7.0, 53.4)]:
            eps = 1e-6
            xs, ys = C.forward_np(
                C.RD_NEW, np.array([lon0, lon0 + eps, lon0]),
                np.array([lat0, lat0, lat0 + eps]))
            dxl, dyl = xs[1] - xs[0], ys[1] - ys[0]
            dxp, dyp = xs[2] - xs[0], ys[2] - ys[0]
            phi = np.radians(lat0)
            M = a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
            N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
            s = M / (N * np.cos(phi))
            dxp, dyp = dxp / s, dyp / s
            n1, n2 = np.hypot(dxl, dyl), np.hypot(dxp, dyp)
            assert n1 / n2 == pytest.approx(1.0, abs=1e-5)
            assert (dxl * dxp + dyl * dyp) / (n1 * n2) == \
                pytest.approx(0.0, abs=1e-5)

    def test_scale_factor_at_origin(self):
        """Point scale at the origin equals k0 = 0.9999079 (the
        defining property of the scale reduction)."""
        from karta_spark.functions import crs as C
        a, f = 6377397.155, 1.0 / 299.1528128
        e2 = f * (2 - f)
        lat0, lon0 = C.RD_NEW.params[0], C.RD_NEW.params[1]
        eps = 1e-7
        xs, ys = C.forward_np(C.RD_NEW,
                              np.array([lon0, lon0 + eps]),
                              np.array([lat0, lat0]))
        phi = np.radians(lat0)
        N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
        k = np.hypot(xs[1] - xs[0], ys[1] - ys[0]) / (
            np.radians(eps) * N * np.cos(phi))
        assert k == pytest.approx(0.9999079, abs=1e-7)

    def test_roundtrip_and_registry(self):
        from karta_spark.functions import crs as C
        rng = np.random.default_rng(53)
        lon = rng.uniform(3.3, 7.2, 200)
        lat = rng.uniform(50.7, 53.6, 200)
        lo, la = C.inverse_np(C.RD_NEW, *C.forward_np(C.RD_NEW, lon, lat))
        np.testing.assert_allclose(lo, lon, atol=2e-8)
        np.testing.assert_allclose(la, lat, atol=2e-8)
        assert C.from_proj4(C.to_proj4(C.RD_NEW)) is C.RD_NEW
        assert C.from_wkt(C.to_wkt(C.RD_NEW)) is C.RD_NEW
        g = C.from_proj4("+proj=sterea +lat_0=46.0 +lon_0=25.0 "
                         "+k_0=0.99975 +x_0=500000 +y_0=500000 "
                         "+ellps=krass")  # Romanian stereo-70 shape
        assert g.kind == "sterea"
        assert C.from_proj4(C.to_proj4(g)).params == g.params
        assert C.from_wkt(C.to_wkt(g)).params == g.params

    def test_spark_backend_matches_numpy(self, spark):
        from pyspark.sql import functions as F
        from karta_spark.functions import crs as C
        lons, lats = [6.0, 4.9, 3.6], [53.0, 52.37, 51.5]
        df = spark.createDataFrame(pd.DataFrame({"lon": lons, "lat": lats}))
        ex, ey = C.forward_exprs(C.RD_NEW, F.col("lon"), F.col("lat"))
        got = df.select(ex.alias("x"), ey.alias("y")).toPandas()
        x, y = C.forward_np(C.RD_NEW, np.array(lons), np.array(lats))
        np.testing.assert_allclose(got["x"], x, atol=1e-6)
        np.testing.assert_allclose(got["y"], y, atol=1e-6)


class TestEpsgLookup:
    """EPSG-code resolution for the natively-carried definitions (the
    reference resolves any code via pyproj; unknown codes raise here
    rather than guess)."""

    def test_well_known_codes(self):
        from karta_spark.functions import crs as C
        assert C.from_epsg(4326) is C.LONLAT
        assert C.from_epsg(3857) is C.WEB_MERCATOR
        assert C.from_epsg(3395) is C.WORLD_MERCATOR
        assert C.from_epsg(3035) is C.ETRS89_LAEA
        assert C.from_epsg(28992) is C.RD_NEW
        assert C.from_epsg(21781) is C.CH1903_LV03
        assert C.from_epsg(2056) is C.CH1903_LV95
        assert C.from_epsg(6931) is C.EASE2_NORTH
        assert C.from_epsg(3413) is C.NSIDC_NORTH

    def test_utm_ranges_and_lookup_string(self):
        from karta_spark.functions import crs as C
        assert C.from_epsg(32633).params == C.utm(33, south=False).params
        assert C.from_epsg(32733).params == C.utm(33, south=True).params
        assert C.lookup("epsg:3035") is C.ETRS89_LAEA
        assert C.lookup("EPSG:4087") is C.PLATE_CARREE
        assert C.lookup("rd_new") is C.RD_NEW
        assert C.lookup("etrs89_laea") is C.ETRS89_LAEA

    def test_constructible_codes(self):
        from karta_spark.functions import crs as C
        d = C.from_epsg(2154)               # RGF93 / Lambert-93
        assert d.kind == "lcc"
        # IGN worked value neighborhood: Paris (2.3522E, 48.8566N)
        x, y = C.forward_np(d, 2.3522, 48.8566)
        assert x == pytest.approx(652469, abs=1000)
        assert y == pytest.approx(6862035, abs=1000)
        assert C.from_epsg(5070).kind == "aea"
        assert C.from_epsg(3031).kind == "stere"
        assert C.from_epsg(3034).kind == "lcc"

    def test_unknown_code_raises(self):
        from karta_spark.functions import crs as C
        with pytest.raises(ValueError, match="native registry"):
            C.from_epsg(27200)  # New Zealand Map Grid: not implemented


class TestKrovak:
    """Krovak oblique conformal conic (EPSG method 9819) — S-JTSK, the
    Czech/Slovak national grid (EPSG:5514 east-north convention).
    External pin: the published EPSG GN 7-2 worked example."""

    def test_epsg_worked_example(self):
        """EPSG GN 7-2: lat 50d12'32.4416\"N lon 16d50'59.1790\"E ->
        southing X=1050538.63, westing Y=568991.00 (to cm); EPSG:5514
        east-north emits (-Y, -X)."""
        from karta_spark.functions import crs as C
        lat = 50 + 12 / 60 + 32.4416 / 3600
        lon = 16 + 50 / 60 + 59.1790 / 3600
        x, y = C.forward_np(C.S_JTSK, lon, lat)
        assert x == pytest.approx(-568991.00, abs=0.01)
        assert y == pytest.approx(-1050538.63, abs=0.02)
        lo, la = C.inverse_np(C.S_JTSK, x, y)
        assert lo == pytest.approx(lon, abs=1e-9)
        assert la == pytest.approx(lat, abs=1e-9)

    def test_conformality(self):
        from karta_spark.functions import crs as C
        a, f = 6377397.155, 1.0 / 299.1528128
        e2 = f * (2 - f)
        for lon0, lat0 in [(14.42, 50.09), (17.1, 48.15), (21.2, 48.7)]:
            eps = 1e-6
            xs, ys = C.forward_np(
                C.S_JTSK, np.array([lon0, lon0 + eps, lon0]),
                np.array([lat0, lat0, lat0 + eps]))
            dxl, dyl = xs[1] - xs[0], ys[1] - ys[0]
            dxp, dyp = xs[2] - xs[0], ys[2] - ys[0]
            phi = np.radians(lat0)
            M = a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
            N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
            s = M / (N * np.cos(phi))
            dxp, dyp = dxp / s, dyp / s
            n1, n2 = np.hypot(dxl, dyl), np.hypot(dxp, dyp)
            assert n1 / n2 == pytest.approx(1.0, abs=1e-5)
            assert (dxl * dxp + dyl * dyp) / (n1 * n2) == \
                pytest.approx(0.0, abs=1e-5)

    def test_scale_at_pseudo_standard_parallel(self):
        """Point scale equals k0=0.9999 where the cone touches (the
        pseudo standard parallel U = 78.5 on the Gauss sphere); the
        Prague region sits near it, scale within [0.9999, 1.0001]."""
        from karta_spark.functions import crs as C
        a, f = 6377397.155, 1.0 / 299.1528128
        e2 = f * (2 - f)
        eps = 1e-6
        scales = []
        for lon0, lat0 in [(14.42, 50.088), (18.0, 49.2), (16.6, 49.2)]:
            xs, ys = C.forward_np(C.S_JTSK,
                                  np.array([lon0, lon0 + eps]),
                                  np.array([lat0, lat0]))
            phi = np.radians(lat0)
            N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
            scales.append(np.hypot(xs[1] - xs[0], ys[1] - ys[0])
                          / (np.radians(eps) * N * np.cos(phi)))
        assert all(0.99985 <= k <= 1.0002 for k in scales), scales

    def test_roundtrip_and_registry(self):
        from karta_spark.functions import crs as C
        rng = np.random.default_rng(61)
        lon = rng.uniform(12, 23, 200)
        lat = rng.uniform(47.7, 51.1, 200)
        lo, la = C.inverse_np(C.S_JTSK, *C.forward_np(C.S_JTSK, lon, lat))
        np.testing.assert_allclose(lo, lon, atol=2e-8)
        np.testing.assert_allclose(la, lat, atol=2e-8)
        assert C.from_epsg(5514) is C.S_JTSK
        assert C.from_proj4("+proj=krovak") is C.S_JTSK
        assert C.from_proj4(C.to_proj4(C.S_JTSK)) is C.S_JTSK
        assert C.from_wkt(C.to_wkt(C.S_JTSK)) is C.S_JTSK
        # +czech supported since round 7 (positive southing/westing);
        # full behavior pinned in test_crs_round7.py::TestKrovakCzech
        cz = C.from_proj4("+proj=krovak +czech")
        assert cz.params[:9] == C.S_JTSK.params and cz.params[9] == 1.0

    def test_spark_backend_matches_numpy(self, spark):
        from pyspark.sql import functions as F
        from karta_spark.functions import crs as C
        lons, lats = [14.42, 17.1, 21.2], [50.09, 48.15, 48.7]
        df = spark.createDataFrame(pd.DataFrame({"lon": lons, "lat": lats}))
        ex, ey = C.forward_exprs(C.S_JTSK, F.col("lon"), F.col("lat"))
        got = df.select(ex.alias("x"), ey.alias("y")).toPandas()
        x, y = C.forward_np(C.S_JTSK, np.array(lons), np.array(lats))
        np.testing.assert_allclose(got["x"], x, atol=1e-6)
        np.testing.assert_allclose(got["y"], y, atol=1e-6)


class TestCanonicalUrl:
    """URL canonicalization (web-corpus dedup key, round 6): pure
    Catalyst normalization chain with a step-identical DuckDB twin."""

    CASES = [
        ("HTTPS://Example.COM:443/a/b/?id=7&utm_source=x#frag",
         "https://example.com/a/b?id=7"),
        ("https://example.com/a//b?utm_campaign=y&id=7",
         "https://example.com/a/b?id=7"),
        ("http://example.com:80/", "http://example.com/"),
        ("http://example.com", "http://example.com/"),
        ("https://example.com/a/b?z=1&a=2", "https://example.com/a/b?a=2&z=1"),
        ("not a url", "not a url"),
        ("  ftp://Host.Example/Path/ ", "ftp://host.example/Path"),
        ("https://example.com:8443/x?fbclid=abc",
         "https://example.com:8443/x"),  # non-default port kept
        ("https://example.com/?gclid=1&msclkid=2&mc_eid=3",
         "https://example.com/"),
    ]

    def test_spark_semantics(self, spark):
        from pyspark.sql import functions as F
        from karta_spark.operators.text import canonical_url
        df = spark.createDataFrame(
            pd.DataFrame({"u": [c for c, _ in self.CASES]}))
        got = [r["c"] for r in
               df.select(canonical_url(F.col("u")).alias("c")).collect()]
        assert got == [w for _, w in self.CASES]

    def test_duckdb_twin_identical(self):
        import duckdb
        from karta_spark.operators.text import canonical_url_sql
        sql = canonical_url_sql("u")
        for raw, want in self.CASES:
            got = duckdb.sql(
                f"SELECT {sql} AS c FROM (SELECT '{raw}' AS u)"
            ).fetchone()[0]
            assert got == want, (raw, got, want)


class TestHtmlExtraction:
    """html_to_text / html_title / extract_links (round 6): web-corpus
    WARC->WET step; Catalyst chain with a step-identical DuckDB twin."""

    HTML = ('<html><head><title> T1 &amp; T2 </title>'
            '<style type="text/css">h1{x:1}</style>'
            '<SCRIPT>if(a<b){doc.write("<p>evil</p>")}</SCRIPT></head>'
            '<body><h1 class="x">Head</h1>'
            '<p>one &lt;two&gt; &quot;three&quot; &#39;four&#39;</p>'
            '<a href="https://x.example/a?b=1">A</a>\n'
            "<a class='z' href='/rel/path'>B</a>"
            '<!-- <p>never</p> --><br/><div>tail&nbsp;end</div></body>')
    WANT = ('T1 & T2\nHead\none <two> "three" \'four\'\nA\nB\ntail end')

    def test_spark_semantics(self, spark):
        from pyspark.sql import functions as F
        from karta_spark.operators.text import (
            extract_links, html_title, html_to_text,
        )
        df = spark.createDataFrame([(self.HTML,)], "h string")
        row = df.select(
            html_to_text(F.col("h")).alias("c"),
            html_title(F.col("h")).alias("t"),
            extract_links(F.col("h")).alias("l")).collect()[0]
        assert row["c"] == self.WANT
        assert row["t"] == "T1 & T2"
        assert row["l"] == ["https://x.example/a?b=1", "/rel/path"]

    def test_duckdb_twin_identical(self):
        import duckdb
        from karta_spark.operators.text import (
            extract_links_sql, html_title_sql, html_to_text_sql,
        )
        duckdb.sql("CREATE OR REPLACE TEMP TABLE th AS SELECT ? AS h",
                   params=[self.HTML])
        c, t, links = duckdb.sql(
            f"SELECT {html_to_text_sql('h')}, {html_title_sql('h')}, "
            f"{extract_links_sql('h')} FROM th").fetchone()
        assert c == self.WANT
        assert t == "T1 & T2"
        assert links == ["https://x.example/a?b=1", "/rel/path"]

    def test_plain_text_passthrough(self, spark):
        from pyspark.sql import functions as F
        from karta_spark.operators.text import html_to_text
        df = spark.createDataFrame([("no tags here, just words",)],
                                   "h string")
        got = df.select(html_to_text(F.col("h")).alias("c")).collect()
        assert got[0]["c"] == "no tags here, just words"

    def test_numeric_entities_not_decoded(self, spark):
        # documented scope limit: only the common named entities
        from pyspark.sql import functions as F
        from karta_spark.operators.text import html_to_text
        df = spark.createDataFrame([("<p>&#169; &amp;</p>",)], "h string")
        got = df.select(html_to_text(F.col("h")).alias("c")).collect()
        assert got[0]["c"] == "&#169; &"


class TestWebpTiffAndFpPredictor:
    """Round 6: WebP compression 50001 (modern COG codec) and the
    floating-point byte predictor (tag 317 = 3, TIFF TechNote 3)."""

    def test_webp_tiled_roundtrip(self, tmp_path):
        from karta_spark.sources import geotiff
        rng = np.random.default_rng(0)
        a = rng.integers(0, 256, (70, 90), dtype=np.uint8)
        p = str(tmp_path / "w.tif")
        geotiff.write_geotiff_array(p, a, 0.0, 70.0, 1.0, 1.0,
                                    compress="webp", tiled=32)
        with open(p, "rb") as f:
            m = geotiff.TiffMeta(f)
            assert m.comp == geotiff.COMPRESSION_WEBP
            ntx, nty = 3, 3
            out = np.zeros((nty * 32, ntx * 32), a.dtype)
            for k in range(ntx * nty):
                ty, tx = divmod(k, ntx)
                out[ty*32:(ty+1)*32, tx*32:(tx+1)*32] = \
                    m.read_chunk(f, k)[:, :, 0]
        np.testing.assert_array_equal(out[:70, :90], a)

    @pytest.mark.parametrize("dt,compress,tiled", [
        (np.float32, "deflate", None),
        (np.float64, "lzw", 16),
        (np.float32, None, None),
    ])
    def test_fp_predictor_roundtrip(self, tmp_path, dt, compress, tiled):
        from karta_spark.sources import geotiff
        rng = np.random.default_rng(3)
        b = rng.normal(size=(33, 47)).astype(dt)
        p = str(tmp_path / "fp.tif")
        geotiff.write_geotiff_array(p, b, 0.0, 33.0, 1.0, 1.0,
                                    compress=compress, predictor=3,
                                    tiled=tiled)
        with open(p, "rb") as f:
            m = geotiff.TiffMeta(f)
            assert m.predictor == 3
            if tiled:
                ntx = (47 + tiled - 1) // tiled
                nty = (33 + tiled - 1) // tiled
                out = np.zeros((nty * tiled, ntx * tiled), dt)
                for k in range(ntx * nty):
                    ty, tx = divmod(k, ntx)
                    out[ty*tiled:(ty+1)*tiled, tx*tiled:(tx+1)*tiled] = \
                        m.read_chunk(f, k)[:, :, 0]
                got = out[:33, :47]
            else:
                got = m.read_chunk(f, 0)[:, :, 0]
        np.testing.assert_array_equal(got, b)

    def test_handbuilt_rgb_webp_tiff(self, tmp_path):
        """GDAL's real WEBP-in-TIFF shape: photometric 2, spp 3, one
        strip whose payload is a complete RIFF WebP."""
        import struct
        from karta_spark.sources import geotiff
        from karta_spark.sources.webp import encode_webp
        rng = np.random.default_rng(5)
        rgb = rng.integers(0, 256, (20, 30, 3), dtype=np.uint8)
        payload = encode_webp(rgb)

        def entry(tag, typ, cnt, val4):
            return struct.pack("<HHI", tag, typ, cnt) + val4

        n = 8
        ifd_off = 8
        data_off = ifd_off + 2 + n * 12 + 4
        entries = [
            entry(256, 4, 1, struct.pack("<I", 30)),
            entry(257, 4, 1, struct.pack("<I", 20)),
            entry(258, 3, 1, struct.pack("<HH", 8, 0)),
            entry(259, 3, 1, struct.pack("<HH", 50001, 0)),
            entry(262, 3, 1, struct.pack("<HH", 2, 0)),   # RGB
            entry(277, 3, 1, struct.pack("<HH", 3, 0)),   # spp 3
            entry(273, 4, 1, struct.pack("<I", data_off)),
            entry(279, 4, 1, struct.pack("<I", len(payload))),
        ]
        buf = (b"II*\x00" + struct.pack("<I", ifd_off)
               + struct.pack("<H", n) + b"".join(entries)
               + struct.pack("<I", 0) + payload)
        p = str(tmp_path / "rgb_webp.tif")
        with open(p, "wb") as f:
            f.write(buf)
        with open(p, "rb") as f:
            m = geotiff.TiffMeta(f)
            got = m.read_chunk(f, 0)
        np.testing.assert_array_equal(got, rgb)

    def test_predictor3_on_int_rejected(self, tmp_path):
        from karta_spark.sources import geotiff
        with pytest.raises(ValueError):
            geotiff.write_geotiff_array(
                str(tmp_path / "x.tif"),
                np.zeros((4, 4), np.uint8), 0, 4, 1, 1, predictor=3)

    def test_webp_on_float_rejected(self, tmp_path):
        from karta_spark.sources import geotiff
        with pytest.raises(ValueError):
            geotiff.write_geotiff_array(
                str(tmp_path / "x.tif"),
                np.zeros((4, 4), np.float32), 0, 4, 1, 1, compress="webp")


class TestDedupLines:
    """C4-rule line-level corpus dedup (round 6): drop lines whose
    corpus-wide occurrence count exceeds max_df; blanks exempt."""

    DOCS = [
        (0, "SUB\nalpha beta\n\ncopy1\nEND"),
        (1, "SUB\ngamma delta\ncopy1\nEND"),
        (2, "SUB\nepsilon\ncopy1\nEND"),
        (3, "SUB\nSUB\nEND"),  # in-doc repeats count toward df
    ]
    WANT = [
        (0, "alpha beta\n", 2, 3),   # blank line exempt -> kept
        (1, "gamma delta", 1, 3),
        (2, "epsilon", 1, 3),
        (3, "", 0, 3),               # fully-boilerplate doc -> empty
    ]

    @pytest.mark.parametrize("hashed", [True, False])
    def test_semantics(self, spark, hashed):
        from karta_spark.operators.text import dedup_lines
        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        got = [(r["doc_id"], r["text"], r["n_lines_kept"],
                r["n_lines_removed"])
               for r in dedup_lines(df, max_df=2, hashed=hashed)
               .orderBy("doc_id").collect()]
        assert got == self.WANT

    def test_duckdb_twin_identical(self, spark):
        import duckdb
        import pandas as pd
        from karta_spark.operators.text import dedup_lines_sql
        pdl_docs = pd.DataFrame(self.DOCS, columns=["doc_id", "text"])
        con = duckdb.connect()
        con.register("dl_docs", pdl_docs)
        got = [tuple(r) for r in con.sql(
            dedup_lines_sql("dl_docs", max_df=2)
            + " ORDER BY doc_id").fetchall()]
        assert got == self.WANT

    def test_threshold_boundary(self, spark):
        from karta_spark.operators.text import dedup_lines
        # 'x' appears exactly max_df times -> kept; 'y' once more -> cut
        docs = [(i, "x\ny") for i in range(3)] + [(3, "y\nunique")]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r["doc_id"]: r["text"]
               for r in dedup_lines(df, max_df=3).collect()}
        assert got[0] == "x"
        assert got[3] == "unique"

    def test_min_chars_exemption(self, spark):
        from karta_spark.operators.text import dedup_lines
        docs = [(i, "ab\nlong enough line") for i in range(5)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = dedup_lines(df, max_df=2, min_chars=3).collect()
        # 'ab' is shorter than min_chars -> exempt despite df=5
        assert all(r["text"].startswith("ab\n") or r["text"] == "ab"
                   for r in got)


class TestWebDataset:
    """WebDataset tar shards (round 6): multimodal training's standard
    sample container (key = basename up to the FIRST period)."""

    def test_roundtrip_and_grouping(self):
        from karta_spark.sources.webdataset import parse_shard, write_shard
        samples = [{"jpg": b"img0", "txt": b"cap0", "json": b"{}"},
                   {"jpg": b"img1", "txt": b"cap1"}]
        out = parse_shard(write_shard(samples))
        assert [s["__key__"] for s in out] == ["000000", "000001"]
        assert out[0]["json"] == b"{}"
        assert "json" not in out[1]

    def test_first_dot_rule(self):
        from karta_spark.sources.webdataset import parse_shard, write_shard
        data = write_shard([{"seg.png": b"mask", "jpg": b"raw"}],
                           keys=["a1"])
        out = parse_shard(data)
        assert len(out) == 1
        assert out[0]["__key__"] == "a1"
        assert out[0]["seg.png"] == b"mask"
        assert out[0]["jpg"] == b"raw"

    def test_subdir_keys(self):
        from karta_spark.sources.webdataset import parse_shard, write_shard
        out = parse_shard(write_shard([{"txt": b"x"}], keys=["d0/k1"]))
        assert out[0]["__key__"] == "d0/k1"

    def test_deterministic_bytes(self):
        from karta_spark.sources.webdataset import write_shard
        s = [{"txt": b"same"}]
        assert write_shard(s) == write_shard(s)

    def test_distributed_scan(self, spark, tmp_path):
        from karta_spark.sources.webdataset import (
            read_webdataset_distributed, write_shard,
        )
        for sh in range(3):
            samples = [{"jpg": f"i{sh}{k}".encode(),
                        "txt": f"c{sh}{k}".encode()} for k in range(4)]
            (tmp_path / f"s{sh}.tar").write_bytes(write_shard(samples))
        rows = read_webdataset_distributed(spark, str(tmp_path)).collect()
        assert len(rows) == 12
        one = next(r for r in rows if bytes(r["jpg"]) == b"i21")
        assert bytes(one["txt"]) == b"c21"

    def test_missing_extension_is_null(self, spark, tmp_path):
        from karta_spark.sources.webdataset import (
            read_webdataset_distributed, write_shard,
        )
        (tmp_path / "s.tar").write_bytes(
            write_shard([{"jpg": b"only-image"}]))
        rows = read_webdataset_distributed(spark, str(tmp_path)).collect()
        assert rows[0]["txt"] is None


class TestExifGps:
    """EXIF APP1 GPS/orientation (round 6): the image->geo bridge."""

    def _tagged(self, lonm, latm, **kw):
        from karta_spark.sources.exif import exif_app1, insert_exif
        from karta_spark.sources.images import encode_jpeg
        base = encode_jpeg(np.full((8, 8), 100, np.uint8))
        return insert_exif(base, exif_app1(lonm, latm, **kw))

    @pytest.mark.parametrize("lonm,latm", [
        (-122418400, 37774900),    # SF (W/N)
        (139691700, -35689500),    # (E/S)
        (0, 0), (-180000000, -84999999), (179999999, 84999999),
    ])
    def test_micro_degree_exact(self, lonm, latm):
        from karta_spark.sources.exif import parse_exif
        got = parse_exif(self._tagged(lonm, latm))
        sign = lambda v: -1.0 if v < 0 else 1.0
        assert got["lon"] == sign(lonm) * (abs(lonm) / 1000000)
        assert got["lat"] == sign(latm) * (abs(latm) / 1000000)

    def test_orientation_and_altitude(self):
        from karta_spark.sources.exif import parse_exif
        got = parse_exif(self._tagged(1000000, 2000000, orientation=6,
                                      alt_mm=-3500))
        assert got["orientation"] == 6
        assert got["alt_m"] == -3.5

    def test_no_exif_returns_none(self):
        from karta_spark.sources.exif import parse_exif
        from karta_spark.sources.images import encode_jpeg
        got = parse_exif(encode_jpeg(np.zeros((8, 8), np.uint8)))
        assert got == dict(orientation=None, lon=None, lat=None,
                           alt_m=None)

    def test_tagged_jpeg_still_decodes(self):
        from karta_spark.sources.images import decode_jpeg
        img = decode_jpeg(self._tagged(5000000, 6000000))
        assert img.shape == (8, 8)

    def test_big_endian_body_parses(self):
        # flip the TIFF body to MM by hand: rebuild via struct is
        # overkill; instead assert the parser honors the endianness flag
        # using a minimal hand-built big-endian EXIF
        import struct
        from karta_spark.sources.exif import parse_exif
        body = bytearray()
        body += b"MM\x00*" + struct.pack(">I", 8)
        body += struct.pack(">H", 1)
        body += struct.pack(">HHI", 274, 3, 1) + struct.pack(">HH", 3, 0)
        body += struct.pack(">I", 0)
        seg = b"Exif\x00\x00" + bytes(body)
        app1 = b"\xff\xe1" + struct.pack(">H", len(seg) + 2) + seg
        jpeg = b"\xff\xd8" + app1 + b"\xff\xd9"
        assert parse_exif(jpeg)["orientation"] == 3


class TestExifOrientation:
    def test_all_eight_on_2x2(self):
        from karta_spark.sources.exif import normalize_orientation as N
        a = np.array([[1, 2], [3, 4]])
        want = {
            1: [[1, 2], [3, 4]], 2: [[2, 1], [4, 3]],
            3: [[4, 3], [2, 1]], 4: [[3, 4], [1, 2]],
            5: [[1, 3], [2, 4]], 6: [[3, 1], [4, 2]],
            7: [[4, 2], [3, 1]], 8: [[2, 4], [1, 3]],
        }
        for o, w in want.items():
            np.testing.assert_array_equal(N(a, o), w)

    def test_multichannel_and_none(self):
        from karta_spark.sources.exif import normalize_orientation as N
        rgb = np.arange(24).reshape(2, 4, 3)
        assert N(rgb, 6).shape == (4, 2, 3)
        np.testing.assert_array_equal(N(rgb, None), rgb)

    def test_invalid_raises(self):
        from karta_spark.sources.exif import normalize_orientation as N
        with pytest.raises(ValueError):
            N(np.zeros((2, 2)), 9)


class TestWavExtensible:
    def test_extensible_pcm16(self):
        import struct
        from karta_spark.sources.av import decode_wav
        samples = np.arange(-8, 8, dtype=np.int16).reshape(-1, 2)
        data = samples.astype("<i2").tobytes()
        tail = (b"\x00\x00\x00\x00\x10\x00\x80\x00"
                b"\x00\xaa\x00\x38\x9b\x71")
        fmt = struct.pack("<HHIIHH", 0xFFFE, 2, 8000, 32000, 4, 16)
        fmt += struct.pack("<HHI", 22, 16, 3) + struct.pack("<H", 1) + tail
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        s, sr = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
        np.testing.assert_array_equal(
            s, samples.astype(np.float64) / 32767.0)
        assert sr == 8000


class TestIco:
    """ICO favicons (round 6): PNG and 32bpp-DIB entries."""

    @pytest.mark.parametrize("as_png", [False, True])
    def test_roundtrip(self, as_png):
        from karta_spark.sources.ico import decode_ico, encode_ico
        rng = np.random.default_rng(1)
        imgs = [rng.integers(0, 256, (16, 16, 4), dtype=np.uint8),
                rng.integers(0, 256, (32, 32, 4), dtype=np.uint8)]
        out = decode_ico(encode_ico(imgs, as_png=as_png))
        for o, i in zip(out, imgs):
            np.testing.assert_array_equal(o["rgba"], i)

    def test_legacy_32bpp_empty_alpha_uses_and_mask(self):
        import struct
        from karta_spark.sources.ico import decode_ico, encode_ico
        img = np.zeros((2, 2, 4), np.uint8)
        img[:, :, 0] = 50  # red, alpha all zero
        ico = bytearray(encode_ico([img]))
        # set an AND mask bit for pixel (0,0): rows are bottom-up, so
        # the top row is the LAST and-mask row. DIB starts at offset 22.
        hdr_off = 22
        and_off = hdr_off + 40 + 2 * 2 * 4 + 4  # header + XOR + row0
        ico[and_off] = 0x80  # MSB = leftmost pixel transparent
        out = decode_ico(bytes(ico))
        assert out[0]["rgba"][0, 0, 3] == 0
        assert out[0]["rgba"][0, 1, 3] == 255
        assert out[0]["rgba"][1, 1, 3] == 255

    def test_palette_8bpp_dib(self):
        import struct
        from karta_spark.sources.ico import decode_ico
        # hand-built 2x1 8bpp entry: palette [blue, green]
        w, h = 2, 1
        hdr = struct.pack("<IiiHHIIiiII", 40, w, h * 2, 1, 8, 0,
                          0, 0, 0, 2, 0)
        pal = bytes([255, 0, 0, 0,   0, 255, 0, 0])  # BGRX: blue, green
        xor = bytes([0, 1, 0, 0])  # row padded to 4
        andm = bytes([0, 0, 0, 0])
        blob = hdr + pal + xor + andm
        ico = (struct.pack("<HHH", 0, 1, 1)
               + struct.pack("<BBBBHHII", w, h, 2, 0, 1, 8, len(blob), 22)
               + blob)
        out = decode_ico(ico)
        np.testing.assert_array_equal(out[0]["rgba"][0, 0, :3], (0, 0, 255))
        np.testing.assert_array_equal(out[0]["rgba"][0, 1, :3], (0, 255, 0))

    def test_not_ico(self):
        from karta_spark.sources.ico import decode_ico
        with pytest.raises(ValueError):
            decode_ico(b"\x89PNG....")


class TestGeohash:
    """Geohash cell key (round 6): closed-form bit algebra, no loop."""

    def test_published_goldens(self):
        from karta_spark.functions.cells import geohash_py
        # the spec's canonical example and the classic Palermo case
        assert geohash_py(-5.6, 42.6, 5) == "ezs42"
        assert geohash_py(13.361389, 38.115556, 10) == "sqc8b49rny"

    def test_three_way_parity(self, spark):
        import duckdb
        import pandas as pd
        from pyspark.sql import functions as F
        from karta_spark.functions.cells import (
            geohash, geohash_py, geohash_sql,
        )
        rng = np.random.default_rng(7)
        pdf = pd.DataFrame({"lon": rng.uniform(-180, 180, 100),
                            "lat": rng.uniform(-90, 90, 100)})
        got = [r["g"] for r in spark.createDataFrame(pdf)
               .select(geohash(F.col("lon"), F.col("lat"), 7)
                       .alias("g")).collect()]
        con = duckdb.connect()
        con.register("gh_t", pdf)
        want = [r[0] for r in con.sql(
            f"SELECT {geohash_sql('lon', 'lat', 7)} FROM gh_t").fetchall()]
        py = [geohash_py(lo, la, 7)
              for lo, la in zip(pdf.lon, pdf.lat)]
        assert got == want == py

    def test_prefix_property(self):
        from karta_spark.functions.cells import geohash_py
        g8 = geohash_py(2.3488, 48.8534, 8)
        for p in range(1, 8):
            assert geohash_py(2.3488, 48.8534, p) == g8[:p]

    def test_poles_and_dateline(self):
        from karta_spark.functions.cells import geohash_py
        # edge coordinates produce valid alphabet chars
        from karta_spark.functions.cells import GEOHASH_ALPHABET
        for lon, lat in ((-180.0, -90.0), (179.999999, 89.999999),
                         (0.0, 0.0)):
            g = geohash_py(lon, lat, 6)
            assert len(g) == 6 and all(c in GEOHASH_ALPHABET for c in g)


class TestGeohashDecode:
    def test_roundtrip_within_cell(self):
        from karta_spark.functions.cells import geohash_decode_py, geohash_py
        import numpy as np
        rng = np.random.default_rng(11)
        for _ in range(50):
            lon = float(rng.uniform(-180, 180))
            lat = float(rng.uniform(-90, 90))
            gh = geohash_py(lon, lat, 8)
            clon, clat, elon, elat = geohash_decode_py(gh)
            assert abs(clon - lon) <= elon
            assert abs(clat - lat) <= elat

    def test_canonical_example(self):
        from karta_spark.functions.cells import geohash_decode_py
        clon, clat, elon, elat = geohash_decode_py("ezs42")
        assert abs(clon - (-5.60302734375)) < 1e-9
        assert abs(clat - 42.60498046875) < 1e-9


class TestRobustIngest:
    """sniff_format / decode_any (round 6): the crawl-ingest contract —
    magic-number dispatch, and NO exception ever escapes on bad bytes."""

    def _valid_blobs(self):
        from karta_spark.sources.gif import encode_gif
        from karta_spark.sources.ico import encode_ico
        from karta_spark.sources.images import (
            encode_bmp, encode_jpeg, encode_png,
        )
        from karta_spark.sources.webp import encode_webp
        rng = np.random.default_rng(0)
        g = rng.integers(0, 256, (8, 8), dtype=np.uint8)
        rgba = rng.integers(0, 256, (8, 8, 4), dtype=np.uint8)
        pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
        idx = rng.integers(0, 16, (8, 8), dtype=np.uint8)
        return {"png": encode_png(g), "bmp": encode_bmp(g),
                "jpeg": encode_jpeg(g), "gif": encode_gif(idx, pal),
                "webp": encode_webp(rgba), "ico": encode_ico([rgba])}

    def test_sniff_and_decode_all(self):
        from karta_spark.sources.multimodal import decode_any, sniff_format
        for want, blob in self._valid_blobs().items():
            assert sniff_format(blob) == want
            fmt, arr, err = decode_any(blob)
            assert fmt == want and arr is not None and err is None

    def test_truncations_fail_cleanly(self):
        from karta_spark.sources.multimodal import decode_any
        for want, blob in self._valid_blobs().items():
            for cut in (3, 8, len(blob) // 3, len(blob) - 2):
                fmt, arr, err = decode_any(blob[:cut])
                if arr is None:
                    assert err is not None or fmt is None

    def test_random_fuzz_never_raises(self):
        from karta_spark.sources.multimodal import decode_any
        rng = np.random.default_rng(42)
        magics = [b"\x89PNG\r\n\x1a\n", b"GIF89a", b"\xff\xd8", b"BM",
                  b"RIFF\x10\x00\x00\x00WEBP", b"\x00\x00\x01\x00"]
        for k in range(300):
            junk = rng.integers(0, 256, int(rng.integers(0, 200)),
                                dtype=np.uint8).tobytes()
            blob = magics[k % len(magics)] + junk if k % 2 else junk
            fmt, arr, err = decode_any(blob)  # must not raise
            assert arr is not None or err is not None

    def test_flipped_bits_fail_cleanly(self):
        from karta_spark.sources.multimodal import decode_any
        rng = np.random.default_rng(7)
        for want, blob in self._valid_blobs().items():
            b = bytearray(blob)
            for _ in range(5):
                i = int(rng.integers(8, len(b)))
                b[i] ^= 0xFF
            decode_any(bytes(b))  # any outcome, but never an exception


class TestC4Clean:
    """C4 line/page rules (round 6): terminal punct, min words,
    blocklist, min sentences — engine-identical."""

    DOCS = [
        (0, "This is a fine sentence.\nshort.\nAnother good line here!"
            "\nno punct line\nmenu { display: none }"),
        (1, 'He said "stop".\nfragment without others'),
        (2, "Lorem Ipsum dolor sit amet.\nA real one is here. And more."),
    ]

    def test_semantics(self, spark):
        from karta_spark.operators.text import c4_clean
        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        got = {r["doc_id"]: r for r in c4_clean(df).collect()}
        assert got[0]["text"] == ("This is a fine sentence.\n"
                                  "Another good line here!")
        assert got[0]["kept"] is True and got[0]["n_lines_dropped"] == 3
        assert got[1]["n_sentences"] == 1 and got[1]["kept"] is False
        assert got[2]["text"] == "A real one is here. And more."

    def test_duckdb_twin_identical(self):
        import duckdb
        import pandas as pd
        from karta_spark.operators.text import c4_clean_sql
        con = duckdb.connect()
        con.register("c4_docs", pd.DataFrame(self.DOCS,
                                             columns=["doc_id", "text"]))
        rows = {r[0]: r for r in con.sql(
            c4_clean_sql("c4_docs")).fetchall()}
        assert rows[0][1] == ("This is a fine sentence.\n"
                              "Another good line here!")
        assert rows[1][5] is False
        assert rows[2][1] == "A real one is here. And more."

    def test_quote_terminal_allowed(self, spark):
        from karta_spark.operators.text import c4_clean
        df = spark.createDataFrame(
            [(0, 'She finished with a quote she liked."')],
            "doc_id long, text string")
        got = c4_clean(df, min_sentences=0).collect()[0]
        assert got["n_lines_kept"] == 1


class TestMultipageTiff:
    """Chained-IFD multi-page documents (round 6): fax-archive layout."""

    def test_pages_roundtrip_mixed_sizes(self, tmp_path):
        from karta_spark.sources import geotiff
        pages = [((np.add.outer(np.arange(40 + 8 * k), np.arange(60))
                   % (5 + k)) == 0).astype(np.uint8) for k in range(3)]
        p = str(tmp_path / "mp.tif")
        geotiff.write_multipage_bilevel(p, pages, rows_per_strip=16)
        with open(p, "rb") as f:
            metas = geotiff.tiff_pages(f)
            assert [m.ny for m in metas] == [40, 48, 56]
            assert all(m.comp == geotiff.COMPRESSION_CCITT_G4
                       for m in metas)
            for m, want in zip(metas, pages):
                got = np.concatenate([m.read_chunk(f, k)[:, :, 0]
                                      for k in range(len(m.offsets))])
                np.testing.assert_array_equal(got[:want.shape[0]], want)

    def test_single_page_writer_unchanged(self, tmp_path):
        from karta_spark.sources import geotiff
        bm = (np.add.outer(np.arange(24), np.arange(31)) % 3 == 0) \
            .astype(np.uint8)
        p = str(tmp_path / "sp.tif")
        geotiff.write_bilevel_geotiff(p, bm, 0.0, 24.0, 1.0, 1.0)
        with open(p, "rb") as f:
            metas = geotiff.tiff_pages(f)
            assert len(metas) == 1
            np.testing.assert_array_equal(
                metas[0].read_chunk(f, 0)[:, :, 0], bm)

    def test_uncompressed_pages(self, tmp_path):
        from karta_spark.sources import geotiff
        pages = [np.eye(16, dtype=np.uint8), np.ones((8, 16), np.uint8)]
        p = str(tmp_path / "mpn.tif")
        geotiff.write_multipage_bilevel(p, pages, compress=None,
                                        photometric=0)
        with open(p, "rb") as f:
            metas = geotiff.tiff_pages(f)
            for m, want in zip(metas, pages):
                got = m.read_chunk(f, 0)[:, :, 0]
                np.testing.assert_array_equal(got, want)


class TestGopherRules:
    """Gopher quality rules (round 6): Rae et al. 2021 table A1."""

    CASES = [
        # (text, failing_rules)
        (" ".join(["the quick brown fox and that dog have fun."] * 8),
         set()),
        ("too short.", {"word_count_ok", "stopword_ok"}),
        (" ".join(["####", "..."] * 40),
         {"symbol_ratio_ok", "alpha_ok", "stopword_ok",
          "ellipsis_ok"}),
        ("\n".join(["- item with the thing of it and that stuff here"]
                   * 10), {"bullet_ok"}),
    ]

    def test_rules_spark(self, spark):
        from pyspark.sql import functions as F
        from karta_spark.operators.text import gopher_quality
        df = spark.createDataFrame(
            [(i, t) for i, (t, _) in enumerate(self.CASES)],
            "doc_id long, text string")
        rules = gopher_quality(F.col("text"), min_words=8)
        rows = df.select("doc_id", *[v.alias(k) for k, v in rules.items()
                                     if k != "pass"]) \
            .orderBy("doc_id").collect()
        for row, (_, failing) in zip(rows, self.CASES):
            got_fail = {k for k in row.asDict() if k != "doc_id"
                        and row[k] is False}
            assert got_fail == failing, (row["doc_id"], got_fail, failing)

    def test_duckdb_twin(self):
        import duckdb
        import pandas as pd
        from karta_spark.operators.text import gopher_quality_sql
        con = duckdb.connect()
        con.register("gq_docs", pd.DataFrame(
            [(i, t) for i, (t, _) in enumerate(self.CASES)],
            columns=["doc_id", "text"]))
        rules = gopher_quality_sql("text", min_words=8)
        cols = ", ".join(f"{v} AS {k}" for k, v in rules.items()
                         if k != "pass")
        rows = con.sql(f"SELECT doc_id, {cols} FROM gq_docs "
                       "ORDER BY doc_id").df()
        for i, (_, failing) in enumerate(self.CASES):
            got_fail = {c for c in rows.columns if c != "doc_id"
                        and rows.iloc[i][c] == False}  # noqa: E712
            assert got_fail == failing, (i, got_fail, failing)


class TestContainerFuzz:
    """Round 6 hardening: container parsers raise ONLY ValueError-family
    errors on corrupt input (zlib/tarfile internals never leak), and the
    distributed readers honor on_error='skip'."""

    def test_wds_corrupt_raises_valueerror(self):
        from karta_spark.sources.webdataset import parse_shard
        with pytest.raises(ValueError):
            parse_shard(b"definitely not a tar" * 40)

    def test_wds_skip_policy(self, spark, tmp_path):
        from karta_spark.sources.webdataset import (
            read_webdataset_distributed, write_shard,
        )
        (tmp_path / "good.tar").write_bytes(
            write_shard([{"txt": b"keep me"}]))
        (tmp_path / "bad.tar").write_bytes(b"\x00garbage" * 100)
        rows = read_webdataset_distributed(
            spark, str(tmp_path), on_error="skip").collect()
        assert len(rows) == 1
        assert bytes(rows[0]["txt"]) == b"keep me"
