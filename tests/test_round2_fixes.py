"""Round-2 regression tests: the fixes for the judge/advisor findings.

Each test pins one defect named in VERDICT.md / ADVICE.md round 1:
- kNN ring-join guarantee at high latitude (Mercator row shrink)
- nearest_vertex distributed top-1 plan (no single-task global window)
- simhash banded blocking recall for max_hamming > 3
- embedding near-dup via LSH candidates (no all-pairs join)
- ngram_jaccard_pairs hot-shingle df cap
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

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


class TestEmbeddingLshNearDup:
    def test_lsh_equals_exact_and_prunes(self, spark):
        rng = np.random.default_rng(5)
        dim, n_base, n_planted = 32, 150, 15
        vecs = rng.standard_normal((n_base, dim))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        rows = [(i, [float(v) for v in vecs[i]]) for i in range(n_base)]
        for p in range(n_planted):
            v = vecs[p] + 0.01 * rng.standard_normal(dim)
            v /= np.linalg.norm(v)
            rows.append((n_base + p, [float(x) for x in v]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        n = len(rows)

        exact = {(r["id_a"], r["id_b"]) for r in dedup.embedding_near_dup_pairs(
            df, "embedding", "vec_id", threshold=0.98, method="exact").collect()}
        assert len(exact) >= n_planted  # the planted pairs are all > 0.999

        lsh = {(r["id_a"], r["id_b"]) for r in dedup.embedding_near_dup_pairs(
            df, "embedding", "vec_id", threshold=0.98, method="lsh").collect()}
        assert lsh == exact

        cand = dedup.embedding_near_dup_candidates(
            df, "embedding", "vec_id", dim=dim).count()
        assert cand < n * (n - 1) / 2 / 5  # bucketing prunes >80% of pairs


class TestNgramDfCap:
    def test_cap_drops_hot_shingles_exactly(self, spark):
        docs = [
            (0, "aaa common xyz"),
            (1, "bbb common xyz"),
            (2, "ccc common xyz"),
            (3, "ddd common xyz"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")

        def shingles(t, n=3):
            return {t[i:i + n] for i in range(len(t) - n + 1)}

        # numpy/pure-python reference with df-cap 3
        sets = {i: shingles(t) for i, t in docs}
        from collections import Counter
        cnt = Counter(g for s in sets.values() for g in s)
        capped = {i: {g for g in s if cnt[g] <= 3} for i, s in sets.items()}
        want = {}
        for a in range(4):
            for b in range(a + 1, 4):
                u = capped[a] | capped[b]
                if u:
                    j = len(capped[a] & capped[b]) / len(u)
                    if j >= 0.05:
                        want[(a, b)] = round(j, 9)
        got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
               for r in dedup.ngram_jaccard_pairs(
                   df, "text", "doc_id", n=3, threshold=0.05, max_df=3).collect()}
        assert got == want


class TestBatchedCover:
    """VERDICT item 10: cover building must not stall the driver at 10k
    polygons, and the conservative full/boundary split must stay sound."""

    def _star(self, cx, cy, r, k=9):
        ang = np.linspace(0, 2 * np.pi, 2 * k, endpoint=False)
        rad = np.where(np.arange(2 * k) % 2 == 0, r, r * 0.45)
        return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])

    def test_full_cells_are_truly_full(self, spark):
        from karta_spark.fixtures import flagship_polys
        from karta_spark.functions import cells as kcells
        from karta_spark.operators.pip_join import PolygonSpec, cover_cells
        rng = np.random.default_rng(8)
        polys = list(flagship_polys()) + [
            PolygonSpec("star", self._star(20.0, 30.0, 14.0), crs="lonlat")]
        for p in polys:
            cover = cover_cells(p, 6)
            n_full = 0
            for cid, full in cover:
                if not full:
                    continue
                n_full += 1
                z, x, y = cid >> 58, (cid >> 29) & ((1 << 29) - 1), cid & ((1 << 29) - 1)
                w, s, e, n = kcells.tile_bbox_py(z, x, y)
                sx = rng.uniform(w, e, 50)
                sy = rng.uniform(s, n, 50)
                assert p.contains(sx, sy).all(), (p.poly_id, cid)
            assert n_full > 0, f"{p.poly_id}: cover produced no full cells"

    def test_join_matches_bruteforce_many_polys(self, spark):
        from karta_spark.operators.pip_join import PolygonSpec, point_in_polygon_join
        rng = np.random.default_rng(12)
        polys = []
        for i in range(120):
            cx, cy = rng.uniform(-150, 150), rng.uniform(-60, 60)
            polys.append(PolygonSpec(f"p{i:03d}", self._star(cx, cy, rng.uniform(2, 8)),
                                     crs="lonlat"))
        pts = [(j, float(x), float(y)) for j, (x, y) in enumerate(
            zip(rng.uniform(-170, 170, 3000), rng.uniform(-70, 70, 3000)))]
        df = spark.createDataFrame(pts, "pid long, x double, y double")
        got = {(r["pid"], r["poly_id"]) for r in
               point_in_polygon_join(df, polys, zoom=6).collect()}
        want = set()
        xs = np.array([p[1] for p in pts])
        ys = np.array([p[2] for p in pts])
        for p in polys:
            inside = p.contains(xs, ys)
            for j in np.flatnonzero(inside):
                want.add((j, p.poly_id))
        assert got == want

    def test_distributed_cover_equals_driver_cover(self, spark):
        """Above DISTRIBUTED_COVER_THRESHOLD cover rows are produced by a
        mapInPandas stage; the table must be identical to the driver-side
        build (same ids, same full/boundary classification)."""
        from karta_spark.operators import pip_join as pj
        rng = np.random.default_rng(5)
        polys = [
            pj.PolygonSpec(f"d{i:03d}", self._star(
                rng.uniform(-150, 150), rng.uniform(-55, 55),
                rng.uniform(2, 7)), crs="lonlat")
            for i in range(pj.DISTRIBUTED_COVER_THRESHOLD + 24)
        ]
        # force one polygon through the holes arm too
        sq = np.array([[-10.0, -10.0], [10.0, -10.0], [10.0, 10.0], [-10.0, 10.0]])
        polys.append(pj.PolygonSpec("dhole", sq * 2.0, holes=(sq,), crs="lonlat"))
        dist = {(r["poly_id"], r["cell_id"], r["full"])
                for r in pj.cover_df(spark, polys, zoom=6).collect()}
        driver = set()
        for p in polys:
            for cid, full in pj.cover_cells(p, 6):
                driver.add((p.poly_id, cid, full))
        assert dist == driver

    def test_distributed_cover_planar_equals_driver(self, spark):
        """The planar (cartesian-CRS) arm of the distributed cover build
        must match the driver build too."""
        from karta_spark.operators import pip_join as pj
        rng = np.random.default_rng(9)
        polys = [
            pj.PolygonSpec(f"c{i:03d}", self._star(
                rng.uniform(-1000, 1000), rng.uniform(-1000, 1000),
                rng.uniform(20, 90)), crs="cartesian")
            for i in range(pj.DISTRIBUTED_COVER_THRESHOLD + 10)
        ]
        size = 25.0
        dist = {(r["poly_id"], r["cell_id"], r["full"]) for r in
                pj.cover_df(spark, polys, zoom=0, planar_size=size).collect()}
        driver = {(p.poly_id, cid, full)
                  for p in polys for cid, full in pj.cover_cells_planar(p, size)}
        assert dist == driver

    def test_shuffle_join_arm_matches_broadcast(self, spark):
        """With auto-broadcast disabled, the large-set branch must take the
        sort-merge-join arm (cover too 'big' to broadcast) and produce the
        identical join result — pins the SMJ code path AQE normally hides
        by broadcasting test-sized covers."""
        from karta_spark.operators import pip_join as pj
        rng = np.random.default_rng(31)
        polys = [pj.PolygonSpec(f"s{i:03d}", self._star(
            rng.uniform(-150, 150), rng.uniform(-55, 55), rng.uniform(2, 7)),
            crs="lonlat") for i in range(pj.DISTRIBUTED_COVER_THRESHOLD + 10)]
        # concentrate points so one cell is hot (the skew shape a 100 TB
        # corpus produces); correctness must be distribution-independent
        pts = [(j, float(x), float(y)) for j, (x, y) in enumerate(zip(
            np.concatenate([rng.uniform(-170, 170, 1500),
                            polys[0].outer[0, 0] + rng.uniform(-1, 1, 1500)]),
            np.concatenate([rng.uniform(-70, 70, 1500),
                            polys[0].outer[0, 1] + rng.uniform(-1, 1, 1500)])))]
        df = spark.createDataFrame(pts, "pid long, x double, y double")
        baseline = {(r["pid"], r["poly_id"]) for r in
                    pj.point_in_polygon_join(df, polys, zoom=6).collect()}
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            forced = {(r["pid"], r["poly_id"]) for r in
                      pj.point_in_polygon_join(df, polys, zoom=6).collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert forced == baseline
        assert len(baseline) > 500  # hot-cell points actually landed in polys

    def test_expr_poly_cap_routes_large_sets_to_kernel(self, spark):
        """> MAX_EXPR_POLYS expression-able polygons must not compile a
        giant CASE chain; results stay identical either way."""
        from karta_spark.operators import pip_join as pj
        rng = np.random.default_rng(17)
        tri = lambda cx, cy: np.array(
            [[cx - 2, cy - 2], [cx + 2, cy - 2], [cx, cy + 2.5]])
        polys = [pj.PolygonSpec(f"t{i:02d}", tri(rng.uniform(-100, 100),
                                                 rng.uniform(-50, 50)),
                                crs="lonlat")
                 for i in range(pj.MAX_EXPR_POLYS + 5)]
        assert all(pj._expr_able(p) for p in polys)
        pts = spark.createDataFrame(
            [(j, float(x), float(y)) for j, (x, y) in enumerate(zip(
                rng.uniform(-110, 110, 2000), rng.uniform(-60, 60, 2000)))],
            "pid long, x double, y double")
        got = {(r["pid"], r["poly_id"]) for r in
               pj.point_in_polygon_join(pts, polys, zoom=6).collect()}
        xs, ys = (np.array(a) for a in zip(
            *[(r["x"], r["y"]) for r in pts.orderBy("pid").collect()]))
        want = {(j, p.poly_id) for p in polys
                for j in np.flatnonzero(p.contains(xs, ys))}
        assert got == want

    def test_table_pip_join_matches_broadcast_path(self, spark):
        """The big-big variant (polygon side a DataFrame) must produce the
        identical join result as the broadcast-list path."""
        from karta_spark.operators import pip_join as pj
        rng = np.random.default_rng(41)
        polys = [pj.PolygonSpec(f"s{i:03d}", self._star(
            rng.uniform(-150, 150), rng.uniform(-55, 55), rng.uniform(2, 7)),
            crs="lonlat") for i in range(60)]
        pts = spark.createDataFrame(
            [(j, float(x), float(y)) for j, (x, y) in enumerate(zip(
                rng.uniform(-170, 170, 3000), rng.uniform(-70, 70, 3000)))],
            "pid long, x double, y double")
        want = {(r["pid"], r["poly_id"]) for r in
                pj.point_in_polygon_join(pts, polys, zoom=6).collect()}
        poly_df = spark.createDataFrame(
            [(p.poly_id, [{"x": float(x), "y": float(y)} for x, y in p.outer])
             for p in polys],
            "poly_id string, vertices array<struct<x double, y double>>")
        got = {(r["pid"], r["poly_id"]) for r in
               pj.point_in_polygon_join_table(pts, poly_df, zoom=6, small_table_threshold=None).collect()}
        assert got == want and len(want) > 100

    # probed ground truth (sphere_contains — the reference's azimuth-swing
    # semantics): cap=(lons 0..315 @80) contains the north polar region;
    # srev=(lons 240,120,0 @-75, reversed orientation) contains the
    # complement-side region incl. points far from its vertex bbox — the
    # case that proves no cell cover can index polar rings.
    _CAP = [(float(a), 80.0) for a in range(0, 360, 45)]
    _SREV = [(float(a), -75.0) for a in (240, 120, 0)]
    _POLAR_PTS = [(0, 45.0, 85.0), (1, 45.0, 75.0), (2, -120.0, 89.0),
                  (3, 10.0, -80.0), (4, 10.0, -60.0)]
    _POLAR_WANT = {(0, "cap"), (2, "cap"),
                   (1, "srev"), (3, "srev"), (4, "srev")}

    def test_broadcast_pip_join_polar_ring(self, spark):
        """Latent bug fix: polar rings' contained region is not bounded by
        the vertex bbox (points poleward of — or nowhere near — the
        vertices were silently dropped by the cover join); they now take a
        dense spherical-kernel arm."""
        from karta_spark.operators import pip_join as pj
        pts = spark.createDataFrame(self._POLAR_PTS,
                                    "pid long, x double, y double")
        got = {(r["pid"], r["poly_id"]) for r in pj.point_in_polygon_join(
            pts, [pj.PolygonSpec("cap", np.array(self._CAP), crs="lonlat"),
                  pj.PolygonSpec("srev", np.array(self._SREV), crs="lonlat")],
            zoom=4).collect()}
        assert got == self._POLAR_WANT

    def test_table_pip_join_polar_ring(self, spark):
        """Same memberships through the table variant's polar arm
        (executor-side detection + broadcast dense cross-join)."""
        from karta_spark.operators import pip_join as pj
        poly_df = spark.createDataFrame(
            [("cap", [{"x": x, "y": y} for x, y in self._CAP]),
             ("srev", [{"x": x, "y": y} for x, y in self._SREV])],
            "poly_id string, vertices array<struct<x double, y double>>")
        pts = spark.createDataFrame(self._POLAR_PTS,
                                    "pid long, x double, y double")
        got = {(r["pid"], r["poly_id"]) for r in
               pj.point_in_polygon_join_table(pts, poly_df, zoom=4, small_table_threshold=None).collect()}
        assert got == self._POLAR_WANT

    def test_contains_flags_polar_no_bbox_gate(self, spark):
        """contains_flags had the same vertex-bbox trap for polar rings."""
        from karta_spark.operators import pip_join as pj
        pts = spark.createDataFrame(self._POLAR_PTS,
                                    "pid long, x double, y double")
        got = {r["pid"]: r["contained"] for r in pj.contains_flags(
            pts, pj.PolygonSpec("cap", np.array(self._CAP), crs="lonlat")
        ).collect()}
        assert got == {0: True, 1: False, 2: True, 3: False, 4: False}

    def test_winding_rows_kernel_bit_identical(self):
        """winding_contains_rows vs winding_number over variable rings,
        boundary points included."""
        from karta_spark.functions.kernels import (
            winding_contains, winding_contains_rows)
        rng = np.random.default_rng(13)
        rings = []
        for _ in range(60):
            k = int(rng.integers(3, 25))
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            rad = rng.uniform(0.5, 3.0, k)
            cx, cy = rng.uniform(-5, 5, 2)
            rings.append(np.column_stack(
                [cx + rad * np.cos(ang), cy + rad * np.sin(ang)]))
        n = 4000
        rid = rng.integers(0, len(rings), n)
        px = rng.uniform(-9, 9, n)
        py = rng.uniform(-9, 9, n)
        px[:40] = [rings[r][0, 0] for r in rid[:40]]  # exact vertices
        py[:40] = [rings[r][0, 1] for r in rid[:40]]
        got = winding_contains_rows(
            px, py, [rings[r][:, 0] for r in rid], [rings[r][:, 1] for r in rid])
        for j in range(len(rings)):
            m = rid == j
            assert (got[m] == winding_contains(px[m], py[m], rings[j])).all(), j

    def test_1k_polygon_cover_wall_time(self):
        import time
        from karta_spark.operators.pip_join import PolygonSpec, cover_cells
        rng = np.random.default_rng(3)
        t0 = time.monotonic()
        total = 0
        for i in range(1000):
            cx, cy = rng.uniform(-150, 150), rng.uniform(-55, 55)
            p = PolygonSpec(f"w{i}", self._star(cx, cy, 6.0, k=24), crs="lonlat")
            total += len(cover_cells(p, 7))
        dt = time.monotonic() - t0
        assert total > 10_000  # real covers, not trivial ones
        assert dt < 20.0, f"1k-polygon cover took {dt:.1f}s"


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
