"""Round-2 regression tests: the fixes for the judge/advisor findings.

Each test pins one defect named in VERDICT.md / ADVICE.md round 1:
- kNN ring-join guarantee at high latitude (Mercator row shrink)
- nearest_vertex distributed top-1 plan (no single-task global window)
- simhash banded blocking recall for max_hamming > 3
"""

import numpy as np

from karta_spark.operators import dedup, knn


class TestKnnGuarantee:
    def test_poleward_coverage_not_overestimated(self, spark):
        """ADVICE round 1 (high): at zoom 3 a query at 66N has ring-1
        coverage only ~13 deg north (row 1 top edge is 79.2N), but the old
        ring*span guarantee claimed 45 deg — a closer point in row 0 was
        silently missed.  Adversarial layout: in-ring candidate at 22 deg,
        true nearest at 14.5 deg due north in the uncovered row 0."""
        pts = spark.createDataFrame(
            [(0, 32.0, 66.0),    # same ring (dist 22 deg in lon)
             (1, 10.0, 80.5)],   # row 0 at zoom 3 — outside ring 1, dist 14.5
            "point_id long, x double, y double")
        qs = spark.createDataFrame([(0, 10.0, 66.0)],
                                   "query_id long, qx double, qy double")
        got = knn.knn_join(qs, pts, k=1, zoom=3, ring=1).collect()
        assert len(got) == 1 and got[0]["point_id"] == 1
        assert abs(got[0]["dist"] - 14.5) < 1e-9

    def test_poleward_spherical(self, spark):
        # in-ring candidate at 40 deg lon (~1773 km at lat 66) vs true
        # nearest due north in uncovered row 0 (~1612 km); the old
        # ring*span*cos(lat) guarantee (~2035 km) accepted the wrong one
        pts = spark.createDataFrame(
            [(0, 50.0, 66.0), (1, 10.0, 80.5)],
            "point_id long, x double, y double")
        qs = spark.createDataFrame([(0, 10.0, 66.0)],
                                   "query_id long, qx double, qy double")
        got = knn.knn_join(qs, pts, k=1, zoom=3, ring=1, spherical=True).collect()
        brute = knn.knn_bruteforce(qs, pts, 1, spherical=True).collect()
        assert got[0]["point_id"] == brute[0]["point_id"] == 1

    def test_dense_random_still_matches_bruteforce(self, spark):
        rng = np.random.default_rng(3)
        pts = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(
                zip(rng.uniform(-170, 170, 300), rng.uniform(40, 84, 300)))],
            "point_id long, x double, y double")
        qs = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(
                zip(rng.uniform(-170, 170, 15), rng.uniform(60, 83, 15)))],
            "query_id long, qx double, qy double")
        brute = {(r["query_id"], r["rank"]): r["point_id"]
                 for r in knn.knn_bruteforce(qs, pts, 3).collect()}
        ring = {(r["query_id"], r["rank"]): r["point_id"]
                for r in knn.knn_join(qs, pts, 3, zoom=4).collect()}
        assert brute == ring


class TestNearestVertexPlan:
    def test_take_ordered_not_global_window(self, spark):
        df = spark.createDataFrame(
            [(i, float(i), float(i % 7)) for i in range(100)],
            "point_id long, x double, y double")
        out = knn.nearest_vertex(df, 3.0, 3.0)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan
        assert out.collect()[0]["point_id"] == 3


class TestSimhashRecall:
    def test_high_hamming_pairs_found(self, spark):
        """VERDICT item 2: 4x16-bit blocking only guarantees hamming <= 3;
        pairs at hamming 4..8 were dropped.  Build near-dup texts (small
        token edits => small simhash hamming), brute-force the truth set
        from the signatures, and require exact set equality at
        max_hamming=8."""
        rng = np.random.default_rng(11)
        vocab = [f"tok{i}" for i in range(400)]
        docs = []
        did = 0
        for g in range(12):
            base = list(rng.choice(vocab, size=60))
            docs.append((did, " ".join(base))); did += 1
            for edits in (1, 2, 3, 4):
                var = base.copy()
                for pos in rng.choice(60, size=edits, replace=False):
                    var[pos] = str(rng.choice(vocab))
                docs.append((did, " ".join(var))); did += 1
        df = spark.createDataFrame(docs, "doc_id long, text string")

        sig = {r["id"]: r["simhash"] for r in
               dedup.simhash(df, "text", "doc_id").collect()}
        ids = sorted(sig)
        truth = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                ham = bin((sig[a] ^ sig[b]) & ((1 << 64) - 1)).count("1")
                if ham <= 8:
                    truth.add((a, b))
        # the synthetic corpus must actually exercise the broken range
        hams = [bin((sig[a] ^ sig[b]) & ((1 << 64) - 1)).count("1")
                for (a, b) in truth]
        assert any(4 <= h <= 8 for h in hams), "fixture lost its hamming-4..8 pairs"

        got = {(r["id_a"], r["id_b"]) for r in
               dedup.simhash_near_pairs(df, "text", "doc_id", max_hamming=8).collect()}
        assert got == truth


class TestAffineMatrixFit:
    """Least-squares affine_matrix (reference geometry.py:1833-1852) as a
    single distributed aggregation + Cramer solve."""

    def test_exact_recovery(self, spark):
        from karta_spark.functions.geodesy import affine_matrix
        rng = np.random.default_rng(6)
        M = np.array([[1.25, -0.4, 3.0], [0.7, 0.9, -12.5]])
        a = rng.uniform(-100, 100, (400, 2))
        b = a @ M[:, :2].T + M[:, 2]
        df = spark.createDataFrame(
            [(float(a[i, 0]), float(a[i, 1]), float(b[i, 0]), float(b[i, 1]))
             for i in range(len(a))], "ax double, ay double, bx double, by double")
        got = affine_matrix(df)
        assert np.abs(got - M).max() < 1e-9

    def test_noisy_matches_reference_lstsq(self, spark):
        from karta_spark.functions.geodesy import affine_matrix
        rng = np.random.default_rng(7)
        M = np.array([[0.3, 1.8, -5.0], [-1.1, 0.2, 40.0]])
        a = rng.uniform(-10, 10, (300, 2))
        b = a @ M[:, :2].T + M[:, 2] + rng.normal(0, 0.05, (300, 2))
        # the reference's exact formulation: kron design + lstsq
        A = np.zeros((2 * len(a), 6))
        for i, (x, y) in enumerate(a):
            A[2 * i:2 * i + 2, :] = np.kron(np.eye(2), [x, y, 1])
        want = np.linalg.lstsq(A, b.ravel(), rcond=None)[0].reshape(2, 3)
        df = spark.createDataFrame(
            [(float(a[i, 0]), float(a[i, 1]), float(b[i, 0]), float(b[i, 1]))
             for i in range(len(a))], "ax double, ay double, bx double, by double")
        got = affine_matrix(df)
        assert np.abs(got - want).max() < 1e-8


class TestGeoInterface:
    def test_from_shapes_and_join(self, spark):
        """reference read.py:18-48 from_shape: ingest geo-interface dicts
        (incl. a Feature and a bare geometry), then drive the PIP join via
        polygon_specs."""
        from karta_spark.sources.geojson import from_shapes, polygon_specs

        class FakeShapely:
            __geo_interface__ = {
                "type": "Polygon",
                "coordinates": [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]]}

        objs = [
            FakeShapely(),
            {"type": "Feature", "properties": {"name": "pt"},
             "geometry": {"type": "Point", "coordinates": [3.0, 4.0]}},
            {"type": "LineString", "coordinates": [[0, 0], [5, 5]]},
        ]
        layers = from_shapes(spark, objs)
        assert layers["points"].count() == 1
        assert layers["lines"].count() == 1
        poly_rows = layers["polygons"].collect()
        assert len(poly_rows) == 1 and len(poly_rows[0]["outer"]) == 4  # unclosed

        from karta_spark.operators.pip_join import point_in_polygon_join
        specs = polygon_specs(layers["polygons"])
        pts = spark.createDataFrame([(0, 3.0, 4.0), (1, 50.0, 50.0)],
                                    "pid long, x double, y double")
        got = {(r["pid"], r["poly_id"])
               for r in point_in_polygon_join(pts, specs, zoom=6).collect()}
        assert got == {(0, "0")}


class TestConnectedComponents:
    def test_chain_and_clique_and_singletons(self, spark):
        from karta_spark.operators.dedup import connected_components, duplicate_clusters
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4),      # chain -> comp 1
             (10, 11), (11, 10),          # dup edge
             (20, 21), (20, 22), (21, 22)],  # clique -> comp 20
            "id_a long, id_b long")
        comp = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                        20: 20, 21: 20, 22: 20}
        df = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]],
                                   "doc_id long")
        lab = {r["id"]: r["canonical_id"]
               for r in duplicate_clusters(df, pairs, "doc_id").collect()}
        assert lab[99] == 99  # singleton maps to itself
        assert lab[4] == 1 and lab[22] == 20

    def test_long_path_converges(self, spark):
        from karta_spark.operators.dedup import connected_components
        n = 40  # worst case for min-label: a long path
        pairs = spark.createDataFrame([(i, i + 1) for i in range(n)],
                                      "id_a long, id_b long")
        comp = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
        assert set(comp.values()) == {0} and len(comp) == n + 1


class TestZonalStats:
    def test_matches_driver_mask_reduce(self, spark):
        """zonal_stats == the reference's two-step mask_by_poly + reduce
        (kernels.mask_poly over cell centers), incl. nodata skips."""
        from karta_spark.functions.kernels import mask_poly
        from karta_spark.operators.pip_join import PolygonSpec
        from karta_spark.raster.tiles import grid_to_df
        from karta_spark.raster.zonal import zonal_stats
        rng = np.random.default_rng(10)
        Z = rng.uniform(0, 100, (12, 14))
        Z[2:4, 3:6] = np.nan  # nodata holes
        t = (0.0, 0.0, 1.0, 1.0, 0.0, 0.0)
        tiles = grid_to_df(spark, "g", Z, t, tile=5)
        ring = np.array([[1.2, 1.1], [12.5, 2.0], [10.0, 11.0], [2.0, 9.5]])
        p = PolygonSpec("zone", ring)
        got = zonal_stats(tiles, [p]).collect()[0]
        mask = mask_poly(ring[:, 0], ring[:, 1], 14, 12, t) & ~np.isnan(Z)
        vals = Z[mask]
        assert got["n_cells"] == int(mask.sum())
        assert abs(got["mean"] - vals.mean()) < 1e-9
        assert got["min"] == vals.min() and got["max"] == vals.max()


class TestBucketedCoLocation:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        """Two tables bucketed on cell_id join with zero Exchange nodes —
        the co-located-join layout the 100 TB path relies on."""
        import numpy as np
        from karta_spark.plans import layout
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        rng = np.random.default_rng(1)
        mk = lambda n, tag: spark.createDataFrame(  # noqa: E731
            [(f"{tag}{i}", float(x), float(y)) for i, (x, y) in enumerate(
                zip(rng.uniform(-170, 170, n), rng.uniform(-80, 80, n)))],
            f"{tag}_id string, x double, y double")
        layout.write_bucketed(mk(500, "a"), "bk_a", n_buckets=8, fine_zoom=4)
        layout.write_bucketed(mk(400, "b"), "bk_b", n_buckets=8, fine_zoom=4)
        try:
            a = spark.table("bk_a")
            b = spark.table("bk_b")
            j = a.join(b, "cell_id").groupBy("cell_id").count()
            plan = j._jdf.queryExecution().executedPlan().toString()
            # a shuffle join shape, with NO exchange anywhere above the
            # scans: the bucket spec satisfies the join's distribution
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            assert "Exchange" not in plan
            assert j.count() > 0
        finally:
            spark.sql("DROP TABLE IF EXISTS bk_a")
            spark.sql("DROP TABLE IF EXISTS bk_b")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
