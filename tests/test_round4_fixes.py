"""Round-4 regression tests (VERDICT r3 roadmap + ADVICE findings)."""
import numpy as np
import pytest


class TestKnnEmptyQueries:
    """ADVICE r3 (medium): empty queries input made the widening loop
    break before round one, so results==[] and results[0] raised."""

    def test_empty_queries_returns_empty_with_contract_schema(self, spark):
        import pandas as pd
        from karta_spark.operators.knn import knn_join
        pts = spark.createDataFrame(pd.DataFrame(
            {"point_id": [1, 2, 3], "x": [0.0, 1.0, 2.0], "y": [0.0, 1.0, 2.0]}))
        qs = spark.createDataFrame(
            [], "query_id long, qx double, qy double")
        out = knn_join(qs, pts, k=2)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == \
            ["query_id", "point_id", "dist", "rank"]


class TestFromProj4Strictness:
    """ADVICE r3 (low): unsupported merc/stere variants must raise, not
    silently coerce to WEB_MERCATOR / polar stereographic."""

    def test_nonpolar_stere_routes_to_oblique_kind(self):
        # r4 rejected these rather than silently coercing to the polar
        # kind; since round 7 plain oblique stereographic is a real
        # kind of its own (q97) — still never coerced to polar
        from karta_spark.functions import crs
        c = crs.from_proj4("+proj=stere +lat_0=45 +lon_0=0 +k=1")
        assert c.kind == "stere_obl" and c.params[0] == 45.0

    def test_ellipsoidal_merc_resolves_to_true_mercator(self):
        # r4 rejected these rather than silently coercing to Web
        # Mercator; since r6 they resolve to the TRUE ellipsoidal
        # Mercator kind (EPSG 9804) — still never coerced to spherical.
        from karta_spark.functions import crs
        c = crs.from_proj4("+proj=merc +a=6378137 +b=6356752.3142 +lon_0=0")
        assert c.kind == "merc" and c is not crs.WEB_MERCATOR

    def test_offset_merc_resolves_to_true_mercator(self):
        from karta_spark.functions import crs
        c = crs.from_proj4("+proj=merc +lon_0=110 +k=1")
        assert c.kind == "merc" and c.params == (0.0, 110.0, 1.0, 0.0, 0.0)

    def test_webmercator_roundtrip_still_accepted(self):
        from karta_spark.functions import crs
        assert crs.from_proj4(crs.to_proj4(crs.WEB_MERCATOR)) is crs.WEB_MERCATOR
        for named in (crs.UPS_NORTH, crs.UPS_SOUTH,
                      crs.NSIDC_NORTH, crs.NSIDC_SOUTH):
            assert crs.from_proj4(crs.to_proj4(named)) is named


class TestOversizedBucketStats:
    """ADVICE r3 (low): the degenerate-bucket guard's recall loss must be
    auditable — oversized_bucket_stats reports what the guard drops."""

    def test_stats_match_guard(self, spark):
        import pandas as pd
        from karta_spark.operators.dedup import (
            hamming_near_pairs, oversized_bucket_stats)
        rows = [("a%d" % i, 0, 7) for i in range(10)] + \
               [("b%d" % i, 0, 9) for i in range(3)]
        banded = spark.createDataFrame(
            pd.DataFrame(rows, columns=["id", "band", "key"]))
        stats = oversized_bucket_stats(banded, ("band", "key"), 5).collect()
        assert len(stats) == 1
        assert stats[0].key == 7 and stats[0].members == 10
        assert stats[0].dropped_pairs == 45
        # as signatures, the keys' low 32-bit band reproduces the buckets
        # above (the all-zero high band only adds 7-vs-9 pairs, which the
        # hamming filter rejects): the guard drops exactly the 45 pairs
        sigs = banded.withColumnRenamed("key", "sig")
        full = hamming_near_pairs(sigs, "sig", "id", 1, max_bucket=None).count()
        kept = hamming_near_pairs(sigs, "sig", "id", 1, max_bucket=5).count()
        assert (full, kept) == (45 + 3, 3)
        assert oversized_bucket_stats(banded, ("band", "key"), 100).count() == 0


class TestWkt:
    """VERDICT r3 item 7: WKT1 interchange surface mirroring the
    reference's CRS.get_wkt (crs.py:143-158, via osgeo.osr there)."""

    def test_named_registry_roundtrip(self):
        from karta_spark.functions import crs
        named = [crs.LONLAT, crs.LONLAT_NAD27, crs.LONLAT_NAD83,
                 crs.WEB_MERCATOR, crs.UPS_NORTH, crs.UPS_SOUTH,
                 crs.NSIDC_NORTH, crs.NSIDC_SOUTH, crs.LAEA_WGS84,
                 crs.GALL_PETERS, crs.utm(10), crs.utm(33, True),
                 crs.tmerc(9.0), crs.albers(55, 65, 50, -154)]
        for c in named:
            back = crs.from_wkt(crs.to_wkt(c))
            assert back == c, (c.name, back.name)

    def test_parses_gdal_flavored_epsg32610(self):
        # real-world WKT with AUTHORITY/AXIS decorations the emitter omits
        from karta_spark.functions import crs
        s = ('PROJCS["WGS 84 / UTM zone 10N",GEOGCS["WGS 84",'
             'DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563,'
             'AUTHORITY["EPSG","7030"]],AUTHORITY["EPSG","6326"]],'
             'PRIMEM["Greenwich",0,AUTHORITY["EPSG","8901"]],'
             'UNIT["degree",0.0174532925199433,AUTHORITY["EPSG","9122"]],'
             'AUTHORITY["EPSG","4326"]],PROJECTION["Transverse_Mercator"],'
             'PARAMETER["latitude_of_origin",0],'
             'PARAMETER["central_meridian",-123],'
             'PARAMETER["scale_factor",0.9996],'
             'PARAMETER["false_easting",500000],'
             'PARAMETER["false_northing",0],'
             'UNIT["metre",1,AUTHORITY["EPSG","9001"]],'
             'AXIS["Easting",EAST],AXIS["Northing",NORTH],'
             'AUTHORITY["EPSG","32610"]]')
        assert crs.from_wkt(s) == crs.utm(10)

    def test_geogcs_datum_dispatch(self):
        from karta_spark.functions import crs
        assert crs.from_wkt(crs.to_wkt(crs.LONLAT)) is crs.LONLAT
        nad27 = ('GEOGCS["NAD27",DATUM["North_American_Datum_1927",'
                 'SPHEROID["Clarke 1866",6378206.4,294.978698213898]],'
                 'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]')
        assert crs.from_wkt(nad27) is crs.LONLAT_NAD27

    def test_unsupported_projection_raises(self):
        from karta_spark.functions import crs
        s = ('PROJCS["x",GEOGCS["WGS 84",DATUM["WGS_1984",'
             'SPHEROID["WGS 84",6378137,298.257223563]],'
             'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
             'PROJECTION["Robinson"],PARAMETER["central_meridian",0],'
             'UNIT["metre",1]]')
        # round 5 made Sinusoidal (the old probe) a supported kind;
        # Robinson (table-interpolated) stays genuinely unsupported
        with pytest.raises(ValueError, match="Robinson"):
            crs.from_wkt(s)

    def test_ellipsoidal_mercator_wkt_resolves(self):
        # r4/r5 raised here (no ellipsoidal-mercator math existed);
        # round 6 added the TRUE Mercator kind, so this WKT — no
        # Pseudo-Mercator name, ellipsoidal WGS84 — now resolves to it
        # (still never silently coerced to spherical Web Mercator).
        from karta_spark.functions import crs
        s = ('PROJCS["x",GEOGCS["WGS 84",DATUM["WGS_1984",'
             'SPHEROID["WGS 84",6378137,298.257223563]],'
             'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
             'PROJECTION["Mercator_1SP"],PARAMETER["central_meridian",0],'
             'PARAMETER["scale_factor",1],UNIT["metre",1]]')
        c = crs.from_wkt(s)
        assert c is crs.WORLD_MERCATOR


class TestKnnBroadcastKernel:
    """Round-4 perf: small point sides dispatch to the broadcast numpy
    kernel (no join, no window shuffle) — must be BIT-identical to the
    ring path for planar."""

    def _data(self, spark, n_q=40, n_p=300):
        import pandas as pd
        rng = np.random.default_rng(3)
        q = spark.createDataFrame(pd.DataFrame({
            "query_id": np.arange(n_q),
            "qx": rng.uniform(-170, 170, n_q),
            "qy": rng.uniform(-80, 80, n_q)}))
        p = spark.createDataFrame(pd.DataFrame({
            "point_id": np.arange(n_p),
            "x": rng.uniform(-170, 170, n_p),
            "y": rng.uniform(-80, 80, n_p)}))
        return q, p

    def test_kernel_bit_equals_ring_path_planar(self, spark):
        from karta_spark.operators import knn
        q, p = self._data(spark)
        ring = sorted(map(tuple, knn.knn_join(q, p, k=4, zoom=3).collect()))
        kern = sorted(map(tuple, knn.knn_join(q, p, k=4, zoom=None).collect()))
        assert ring == kern  # exact float equality, ranks included
        assert len(kern) == 40 * 4

    def test_tie_break_lowest_point_id(self, spark):
        # two points equidistant from the query: lower id must rank first
        import pandas as pd
        from karta_spark.operators import knn
        q = spark.createDataFrame(pd.DataFrame(
            {"query_id": [0], "qx": [0.0], "qy": [0.0]}))
        p = spark.createDataFrame(pd.DataFrame(
            {"point_id": [7, 3, 9], "x": [1.0, -1.0, 5.0], "y": [0.0, 0.0, 0.0]}))
        out = {r.rank: r.point_id
               for r in knn.knn_join(q, p, k=3, zoom=None).collect()}
        assert out == {1: 3, 2: 7, 3: 9}

    def test_k_exceeds_point_count(self, spark):
        import pandas as pd
        from karta_spark.operators import knn
        q = spark.createDataFrame(pd.DataFrame(
            {"query_id": [0, 1], "qx": [0.0, 2.0], "qy": [0.0, 2.0]}))
        p = spark.createDataFrame(pd.DataFrame(
            {"point_id": [1, 2], "x": [1.0, 3.0], "y": [0.0, 0.0]}))
        out = knn.knn_join(q, p, k=5, zoom=None).collect()
        assert len(out) == 4  # 2 queries x min(k, n_points)=2

    def test_spherical_keeps_ring_path(self, spark):
        # the auto dispatch must NOT reroute spherical (ulp drift) — the
        # zoom=None spherical plan still matches the explicit-zoom plan
        from karta_spark.operators import knn
        q, p = self._data(spark, 15, 120)
        a = sorted(map(tuple,
                       knn.knn_join(q, p, k=3, zoom=3, spherical=True).collect()))
        b = sorted(map(tuple,
                       knn.knn_join(q, p, k=3, zoom=None, spherical=True).collect()))
        assert a == b


class TestPngAllFilters:
    """Round-4: PNG filters 3 (Average) and 4 (Paeth) — real-world
    encoders emit them heavily; previously only 0-2 decoded."""

    @staticmethod
    def _encode_with_filters(arr, ftypes):
        """Test-side PNG writer applying a chosen filter per row
        (forward filtering per RFC 2083 §6) — independent of the
        library's filter-0-only encoder."""
        import struct
        import zlib
        h, w, nch = arr.shape[0], arr.shape[1], (arr.shape[2] if arr.ndim == 3 else 1)
        raw_rows = arr.reshape(h, w * nch).astype(np.int32)
        out_rows = []
        for i in range(h):
            ft = ftypes[i % len(ftypes)]
            cur = raw_rows[i]
            prev = raw_rows[i - 1] if i else np.zeros(w * nch, np.int32)
            f = np.empty(w * nch, np.int32)
            for j in range(w * nch):
                a = int(cur[j - nch]) if j >= nch else 0
                b = int(prev[j])
                c = int(prev[j - nch]) if (i and j >= nch) else 0
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b if i else 0
                elif ft == 3:
                    pred = (a + (b if i else 0)) >> 1
                else:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                f[j] = (cur[j] - pred) & 0xFF
            out_rows.append(bytes([ft]) + f.astype(np.uint8).tobytes())
        raw = b"".join(out_rows)

        def chunk(tag, data):
            return (struct.pack(">I", len(data)) + tag + data
                    + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

        color = 2 if nch == 3 else 0
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))

    @pytest.mark.parametrize("ftypes", [[3], [4], [0, 1, 2, 3, 4], [4, 3]])
    def test_filters_roundtrip_rgb(self, ftypes):
        from karta_spark.sources.images import decode_png
        rng = np.random.default_rng(sum(ftypes) + 1)
        a = rng.integers(0, 256, (13, 9, 3), dtype=np.uint8)
        dec = decode_png(self._encode_with_filters(a, ftypes))
        assert np.array_equal(dec, a), ftypes

    @pytest.mark.parametrize("ftypes", [[3], [4]])
    def test_filters_roundtrip_gray(self, ftypes):
        from karta_spark.sources.images import decode_png
        rng = np.random.default_rng(9)
        a = rng.integers(0, 256, (7, 11), dtype=np.uint8)
        dec = decode_png(self._encode_with_filters(a, ftypes))
        assert np.array_equal(dec, a), ftypes
