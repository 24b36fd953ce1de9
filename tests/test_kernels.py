"""Pure-numpy kernel tests — golden values ported from the reference suite
(tests/vector_predicate_tests.py, tests/grid_tests.py, tests/tile_tests.py).
No Spark needed; these pin the exact float semantics the UDFs rely on.
"""

import math

import numpy as np
import pytest

from karta_spark.functions import cells
from karta_spark.functions.kernels import (
    BAND_TABLE_CAP,
    banded_contains,
    convex_hull,
    edge_bands,
    ispolar,
    polygon_contains,
    polyline_intersection_points,
    polyline_intersects,
    positions,
    sample_bilinear,
    sample_nearest,
    sphere_contains,
    winding_contains,
)

UNIT_SQUARE = np.array([(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)])
DIAMOND = np.array([(0, 0), (1, 1), (2, 0), (1, -1)], dtype=float)


class TestContains:
    # vector_predicate_tests.py:136-170
    def test_unit_square_trivial(self):
        assert not winding_contains([-0.5], [0.92], UNIT_SQUARE)[0]
        assert winding_contains([0.125], [0.875], UNIT_SQUARE)[0]

    def test_parabola_filter(self):
        x = np.arange(-4, 5, dtype=float)
        y = x ** 2
        bbox = np.array([(-2.5, 2.5), (2.5, 2.5), (2.5, -2.5), (-2.5, -2.5)])
        got = winding_contains(x, y, bbox)
        assert [tuple(p) for p in np.column_stack([x, y])[got]] == [
            (-1.0, 1.0), (0.0, 0.0), (1.0, 1.0)]

    def test_diamond_hard_cases(self):
        px = np.array([2.0, 1.0, 2.5, 0.0, 2.0])
        py = np.array([1.0, 0.0, 0.0, -1.0, -1.0])
        got = winding_contains(px, py, DIAMOND)
        assert list(got) == [False, True, False, False, False]

    def test_boundary_is_inside(self):
        got = winding_contains([0.5, 0.0], [0.0, 0.5], UNIT_SQUARE)
        assert list(got) == [True, True]

    def test_hippie_star(self):
        theta = np.linspace(0, 2 * np.pi, 361)[:-1]
        r = 10 * np.sin(theta * 8) + 15
        ring = np.column_stack([np.cos(theta) * r + 25, np.sin(theta) * r + 25])
        assert winding_contains([28.75], [25.625], ring)[0]

    def test_polar_cap(self):
        ring = np.array([(0, 80), (45, 80), (90, 80), (135, 80),
                         (180, 80), (225, 80), (270, 80), (315, 80)], dtype=float)
        assert sphere_contains([45.0], [85.0], ring)[0]
        assert not sphere_contains([45.0], [75.0], ring)[0]

    def test_batched_polyline_kernels_match_per_member(self):
        """The flattened batch kernels must be decision-identical to the
        per-member polyline_intersects, including degenerate members
        (empty, 1-vertex, 1-vertex closed) and collinear overlaps."""
        from karta_spark.functions.kernels import (
            polyline_intersects,
            polyline_pairs_intersect,
            polylines_intersect_target,
            polylines_intersection_points_target,
            polyline_intersection_points,
        )
        rng = np.random.default_rng(23)
        target = np.array([(0, 0), (4, 0), (4, 4), (0, 4)], dtype=float)

        def rand_member():
            k = int(rng.integers(0, 8))
            return (rng.uniform(-2, 6, k), rng.uniform(-2, 6, k))

        members = [rand_member() for _ in range(200)]
        members += [(np.array([1.0]), np.array([1.0])),        # single vertex
                    (np.empty(0), np.empty(0)),                 # empty
                    (np.array([0.0, 4.0]), np.array([0.0, 0.0]))]  # collinear w/ edge
        xs = [m[0] for m in members]
        ys = [m[1] for m in members]
        for closed in (False, True):
            for t_closed in (False, True):
                got = polylines_intersect_target(xs, ys, closed, target, t_closed)
                want = [polyline_intersects(
                    np.column_stack([x, y]) if len(x) else np.empty((0, 2)),
                    target, a_closed=closed, b_closed=t_closed)
                    for x, y in members]
                assert list(got) == want, (closed, t_closed)
        # pairwise variant: member i vs member (i+7)%n
        n = len(members)
        bxs = [xs[(i + 7) % n] for i in range(n)]
        bys = [ys[(i + 7) % n] for i in range(n)]
        got = polyline_pairs_intersect(xs, ys, bxs, bys, True, False)
        want = [polyline_intersects(
            np.column_stack([xs[i], ys[i]]) if len(xs[i]) else np.empty((0, 2)),
            np.column_stack([bxs[i], bys[i]]) if len(bxs[i]) else np.empty((0, 2)),
            a_closed=True, b_closed=False) for i in range(n)]
        assert list(got) == want
        # intersection points: same point sets per member
        owner, px, py = polylines_intersection_points_target(
            xs, ys, False, target, True)
        for i in range(n):
            mine = {(round(a, 12), round(b, 12))
                    for a, b in zip(px[owner == i], py[owner == i])}
            ref = polyline_intersection_points(
                np.column_stack([xs[i], ys[i]]) if len(xs[i]) else np.empty((0, 2)),
                target, a_closed=False, b_closed=True)
            theirs = {(round(float(a), 12), round(float(b), 12)) for a, b in ref}
            assert mine == theirs, i

    def test_packed_bit_identical_to_per_ring(self):
        """winding_contains_packed must agree bit-for-bit with the per-ring
        kernel across mixed ring sizes (padding edges are degenerate and
        contribute zero winding), boundary points included."""
        from karta_spark.functions.kernels import winding_contains_packed
        rng = np.random.default_rng(11)
        rings = []
        for _ in range(40):
            k = int(rng.integers(3, 30))
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            rad = rng.uniform(0.5, 3.0, k)
            cx, cy = rng.uniform(-5, 5, 2)
            rings.append(np.column_stack(
                [cx + rad * np.cos(ang), cy + rad * np.sin(ang)]))
        kmax = max(len(r) for r in rings)
        R = np.empty((len(rings), kmax + 1, 2))
        for j, r in enumerate(rings):
            R[j, :len(r)] = r
            R[j, len(r):] = r[0]
        n = 5000
        pid = rng.integers(0, len(rings), n)
        px = rng.uniform(-9, 9, n)
        py = rng.uniform(-9, 9, n)
        # force exact-boundary evaluations too
        px[:40] = R[pid[:40], 0, 0]
        py[:40] = R[pid[:40], 0, 1]
        got = winding_contains_packed(px, py, R[pid])
        for j, r in enumerate(rings):
            m = pid == j
            assert (got[m] == winding_contains(px[m], py[m], r)).all(), j

    def test_hole_excludes(self):
        outer = np.array([(0, 0), (10, 0), (10, 10), (0, 10)], dtype=float)
        hole = np.array([(2, 2), (4, 2), (3, 6)], dtype=float)
        got = polygon_contains([3.0, 8.0], [3.0, 8.0], outer, [hole])
        assert list(got) == [False, True]


def _star_ring(rng, k, cx, cy, r, cw=False):
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    ang = ang[::-1] if cw else ang
    rad = r * rng.uniform(0.3, 1.0, k)
    return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])


def _ring_points(rings):
    """Every vertex and every edge midpoint of *rings*."""
    pts = [np.empty((0, 2))]
    for r in rings:
        r = np.asarray(r, dtype=np.float64).reshape(-1, 2)
        pts += [r, (r + np.roll(r, -1, axis=0)) / 2.0]
    return np.concatenate(pts)


class TestBandedContains:
    """banded_contains over an edge_bands index must equal polygon_contains
    point for point: the band filter only drops edges whose half-open
    ``[min y, max y)`` span misses the point's y."""

    def _check(self, polys, pidx, px, py):
        bands = edge_bands(polys)
        got = banded_contains(pidx, px, py, bands)
        assert got.dtype == bool and got.shape == np.shape(px)
        for j, (outer, holes) in enumerate(polys):
            m = pidx == j
            want = polygon_contains(px[m], py[m], outer, holes)
            assert (got[m] == want).all(), j
        return bands, got

    def _probe(self, rng, polys, n_random):
        """Points on each polygon's vertices and edge midpoints, on its band
        boundaries (its y-extent ends among them) and uniform over its
        bbox — every polygon index mixed in one shuffled batch."""
        bands = edge_bands(polys)
        pidx, px, py = [], [], []
        for j, (outer, holes) in enumerate(polys):
            on = _ring_points((outer, *holes))
            cuts = bands.ylo[j] + bands.h[j] * np.arange(bands.nb[j] + 1)
            cuts = cuts[np.isfinite(cuts)]
            box = on if len(on) else np.zeros((1, 2))
            (x0, y0), (x1, y1) = box.min(axis=0) - 1, box.max(axis=0) + 1
            qx = np.r_[on[:, 0], rng.uniform(x0, x1, cuts.size),
                       rng.uniform(x0, x1, n_random)]
            qy = np.r_[on[:, 1], cuts, rng.uniform(y0, y1, n_random)]
            pidx.append(np.full(qx.size, j))
            px.append(qx)
            py.append(qy)
        order = rng.permutation(sum(a.size for a in pidx))
        return (np.concatenate(pidx)[order], np.concatenate(px)[order],
                np.concatenate(py)[order])

    def test_star_rings_with_and_without_holes(self):
        rng = np.random.default_rng(71)
        polys = []
        for j in range(40):
            k = int(rng.integers(3, 401)) if j > 1 else (3, 400)[j]
            cx, cy, r = rng.uniform(-50, 50), rng.uniform(-50, 50), rng.uniform(1, 9)
            outer = _star_ring(rng, k, cx, cy, r, cw=j % 2 == 1)
            holes = tuple(_star_ring(rng, int(rng.integers(3, 40)), cx, cy,
                                     0.25 * r, cw=h % 2 == 0)
                          for h in range(j % 3))
            polys.append((outer, holes))
        bands, got = self._check(polys, *self._probe(rng, polys, 400))
        assert got.any() and not got.all()
        assert bands.nb.max() > 50  # many bands: the filter is exercised

    def test_degenerate_rings(self):
        rng = np.random.default_rng(72)
        square = np.array([(0, 0), (4, 0), (4, 4), (0, 4)], dtype=float)
        stairs = np.array([(0, 0), (3, 0), (3, 1), (2, 1), (2, 2), (1, 2),
                           (1, 3), (0, 3)], dtype=float)
        repeated = np.array([(0, 0), (0, 0), (2, 0), (4, 0), (4, 0), (4, 2),
                             (4, 4), (2, 4), (0, 4), (0, 2), (0, 0)], dtype=float)
        polys = [
            (square, ()),
            (stairs, (np.empty((0, 2)),)),
            (repeated, (np.array([(1.0, 1.0), (3.0, 1.0), (2.0, 3.0)]),)),
            (square, (square[::-1],)),                       # hole == outer
            (np.array([(1.0, 1.0)]), ()),                    # 1 vertex
            (np.array([(0.0, 0.0), (2.0, 3.0)]), ()),        # 2 vertices
            (square, (np.array([(1.0, 1.0), (3.0, 3.0)]),)),  # 2-vertex hole
            (np.array([(0, 2), (5, 2), (9, 2)], dtype=float), ()),  # flat
            (np.empty((0, 2)), ()),                          # no outer ring
            (np.array([(0, 0), (1, 1e-310), (2, 0)], dtype=float), ()),
        ]
        self._check(polys, *self._probe(rng, polys, 300))

    def test_nonfinite_points_and_empty_batch(self):
        rng = np.random.default_rng(73)
        polys = [(_star_ring(rng, 200, 0.0, 0.0, 5.0), ()),
                 (_star_ring(rng, 30, 20.0, 0.0, 3.0),
                  (_star_ring(rng, 12, 20.0, 0.0, 1.0),))]
        special = np.array([np.nan, np.inf, -np.inf, 0.0, 1.0, -4.0])
        px, py = (a.ravel() for a in np.meshgrid(special, special))
        pidx = np.arange(px.size) % 2
        self._check(polys, pidx, px, py)
        bands = edge_bands(polys)
        empty = np.empty(0)
        assert banded_contains(empty.astype(np.int64), empty, empty,
                               bands).shape == (0,)
        none = edge_bands([])
        assert none.off.tolist() == [0]

    def test_zigzag_ring_is_capped(self):
        """Every edge of a zigzag spans the whole y-extent: one band per
        four edges would list each edge in every band (quadratic), so the
        band count halves until the table holds at most BAND_TABLE_CAP
        listings per edge — 400 edges: 100 -> 50 -> 25 -> 12 -> 6 bands."""
        rng = np.random.default_rng(74)
        k = 400
        zig = np.column_stack([np.arange(k, dtype=float) / 10.0,
                               np.where(np.arange(k) % 2 == 0, 0.0, 10.0)])
        zig[0, 1] = 10.0 * (k % 2 == 1)
        zig[-1] = (zig[-2, 0], -1.0)
        star = _star_ring(rng, 400, 70.0, 0.0, 5.0)
        polys = [(zig, ()), (star, ())]
        bands = edge_bands(polys)
        per_poly = np.diff(bands.off)
        n0 = int(per_poly[:bands.nb[0]].sum())
        assert bands.nb[0] == 6 and n0 <= BAND_TABLE_CAP * k
        assert bands.nb[1] == 100  # the star is not over the cap
        self._check(polys, *self._probe(rng, polys, 2000))


class TestIsPolar:
    # vector_predicate_tests.py:24-46
    def test_polar_rings(self):
        ring = np.array([(0.0, 80), (30, 80), (60, 80), (90, 80), (120, 80),
                         (150, 80), (180, 80), (-150, 80), (-120, 80),
                         (-90, 80), (-60, 80), (-30, 80)])
        assert ispolar(ring)
        ring2 = np.array([(0.0, 85), (90, 85), (180, 85), (-90, 85)])
        assert ispolar(ring2)

    def test_nonpolar_rings(self):
        assert not ispolar(np.array([(45.0, 30), (40, 25), (45, 20), (35, 25)]))
        assert not ispolar(np.array(
            [(-80, 0), (-50, -10), (20, -8), (35, -17), (55, 15), (-45, 18), (-60, 12)],
            dtype=float))


class TestIntersections:
    # vector_predicate_tests.py:50-101
    def test_crossing_lines(self):
        a = np.array([(0.0, 0), (3, 3)])
        b = np.array([(0.0, 3), (3, 0)])
        assert polyline_intersects(a, b)
        pts = polyline_intersection_points(a, b)
        assert pts.shape == (1, 2)
        np.testing.assert_allclose(pts[0], [1.5, 1.5])

    def test_overlapping_bbox_no_cross(self):
        a = np.array([(0.0, 0), (3, 0), (3, 3), (0, 3)])
        b = np.array([(1.0, 4), (-2, 4), (-2, 1), (1, 1)])
        assert not polyline_intersects(a, b)

    def test_closed_rings_cross(self):
        a = np.array([(0.0, 0), (3, 0), (3, 3), (0, 3)])
        b = np.array([(1.0, 4), (-2, 4), (-2, 1), (1, 1)])
        assert polyline_intersects(a, b, a_closed=True, b_closed=True)
        pts = polyline_intersection_points(a, b, a_closed=True, b_closed=True)
        got = sorted(map(tuple, pts))
        assert got == [(0.0, 1.0), (1.0, 3.0)]

    def test_horizontal_vertical(self):
        a = np.array([(-2.5, 2.5), (2.5, 2.5)])
        b = np.array([(0.0, 0.0), (1.0, 5.0)])
        pts = polyline_intersection_points(a, b)
        np.testing.assert_allclose(pts[0], [0.5, 2.5])
        a = np.array([(2.5, 2.5), (2.5, -2.5)])
        b = np.array([(1.5, 2.5), (3.5, -2.5)])
        pts = polyline_intersection_points(a, b)
        np.testing.assert_allclose(pts[0], [2.5, 0.0])

    def test_polygon_pair(self):
        a = np.array([(0.0, 0), (2, 0), (3, 1), (2, 1), (2, 2), (1, 0)])
        b = np.array([(-1.0, -1), (1, -1), (1, 1), (-1, 1)])
        assert polyline_intersects(a, b, a_closed=True, b_closed=True)


class TestConvexHull:
    # geometry_tests.py:354-385 style: hull membership
    def test_simple_hull(self):
        pts = np.array([(0.0, 0), (1, 0), (1, 1), (0, 1), (0.5, 0.5), (0.2, 0.8)])
        hull = set(convex_hull(pts))
        assert hull == {0, 1, 2, 3}


class TestTiles:
    # tile_tests.py:8-33
    def test_tile_from_point(self):
        assert cells.tile_xy_py(0.0, 0.0, 0) == (0, 0)
        assert cells.tile_xy_py(0.0, 0.0, 8) == (128, 128)
        assert cells.tile_xy_py(60.0, -30.0, 12) == (2730, 2406)

    def test_nw_corner(self):
        lon, lat = cells.tile_nw_corner_py(0, 0, 0)
        assert lon == -180.0
        assert abs(lat - 85.05112877) < 1e-6

    def test_bbox(self):
        w, s, e, n = cells.tile_bbox_py(1, 0, 0)
        assert (w, s, e) == (-180.0, 0.0, 0.0)
        assert abs(n - 85.05112877) < 1e-6

    def test_pack_roundtrip(self):
        cid = cells.tile_id_py(60.0, -30.0, 12)
        z, x, y = cid >> 58, (cid >> 29) & ((1 << 29) - 1), cid & ((1 << 29) - 1)
        assert (z, x, y) == (12, 2730, 2406)


class TestRasterKernels:
    # grid_tests.py:220-313
    T = (0.0, 0.0, 1.0, 1.0, 0.0, 0.0)
    Z = np.array([[0.0, 1.0], [1.0, 0.5]])

    def test_positions_center_convention(self):
        i, j = positions(self.T, [0.5], [0.5])
        np.testing.assert_allclose([i[0], j[0]], [0.0, 0.0])
        i, j = positions(self.T, [1.5], [1.5])
        np.testing.assert_allclose([i[0], j[0]], [1.0, 1.0])

    def test_nearest(self):
        i, j = positions(self.T, [0.6, 0.6, 1.4, 1.4], [0.7, 1.3, 0.3, 1.3])
        got = sample_nearest(i, j, self.Z, np.nan)
        np.testing.assert_allclose(got, [0.0, 1.0, 1.0, 0.5])

    def test_bilinear_golden(self):
        # grid_tests.py:261-264: bilinear at grid center (1,1) = 0.625
        i, j = positions(self.T, [1.0], [1.0])
        got = sample_bilinear(i, j, self.Z, np.nan)
        np.testing.assert_allclose(got, [0.625])

    def test_bilinear_skewed(self):
        # grid_tests.py:253-259 / 301-304: transform with skew (0,0,1,1,0.5,0.2)
        Tskew = (0.0, 0.0, 1.0, 1.0, 0.5, 0.2)
        i, j = positions(Tskew, [1.5], [1.2])
        got = sample_bilinear(i, j, self.Z, np.nan)
        assert np.isfinite(got[0])

    def test_out_of_bounds_nodata(self):
        i, j = positions(self.T, [5.0], [5.0])
        got = sample_bilinear(i, j, self.Z, -9999.0)
        assert got[0] == -9999.0

    def test_typed_bilinear_truncates(self):
        # grid_tests.py:280-293: int 2x2 [[0,2],[2,1]] center -> 1
        Z = np.array([[0, 2], [2, 1]], dtype=np.int32)
        i, j = positions(self.T, [1.0], [1.0])
        got = sample_bilinear(i, j, Z, -1)
        assert got.dtype == np.int32 and got[0] == 1


class TestSphereDistance:
    def test_branch_rule(self):
        from karta_spark.functions.kernels import sphere_distance
        # small separation -> haversine; large -> law of cosines; both ~ same
        d1 = sphere_distance(0.0, 0.0, 0.005, 0.0)
        assert abs(d1 - math.radians(0.005) * 6370997.0) < 1e-6
        d2 = sphere_distance(0.0, 0.0, 90.0, 0.0)
        assert abs(d2 - math.pi / 2 * 6370997.0) < 1e-3


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


class TestGeodesyExtra:
    def test_vincenty_classic_line(self):
        from karta_spark.functions.kernels import vincenty_inverse
        lat1 = -(37 + 57 / 60 + 3.72030 / 3600)
        lon1 = 144 + 25 / 60 + 29.52440 / 3600
        lat2 = -(37 + 39 / 60 + 10.15610 / 3600)
        lon2 = 143 + 55 / 60 + 35.38390 / 3600
        az, baz, d = vincenty_inverse(lon1, lat1, lon2, lat2)
        assert abs(d[0] - 54972.271) < 0.01  # Vincenty's published test line
        assert abs(((az[0] + 360) % 360) - 306.86816) < 1e-3

    def test_vincenty_coincident_and_equator(self):
        from karta_spark.functions.kernels import vincenty_inverse
        _, _, d = vincenty_inverse(10.0, 20.0, 10.0, 20.0)
        assert d[0] == 0.0
        _, _, d = vincenty_inverse(0.0, 0.0, 90.0, 0.0)
        assert abs(d[0] - 10018754.17) < 1.0

    def test_sphere_polygon_area(self):
        from karta_spark.functions.kernels import sphere_polygon_area
        a0 = sphere_polygon_area([(-1, -1), (1, -1), (1, 1), (-1, 1)])
        a1 = sphere_polygon_area([(179, -1), (-179, -1), (-179, 1), (179, 1)])
        assert abs(a0 - a1) / a0 < 1e-9  # dateline invariance golden
        oct_area = sphere_polygon_area([(0, 0), (90, 0), (0, 90)], radius=1.0)
        assert abs(oct_area - math.pi / 2) < 1e-12

    def test_spherical_hull_golden(self):
        from karta_spark.functions.kernels import convex_hull_sph
        pts = np.array([(-50, 70), (0, 71), (50, 70), (0, 50)], float)
        got = {tuple(p) for p in pts[convex_hull_sph(pts)]}
        assert got == {(-50, 70), (0, 50), (50, 70)}

    def test_geographic_bbox_non_crossing(self):
        from karta_spark.functions.kernels import geographic_bbox
        bb = geographic_bbox([(10, 10), (20, 10), (20, 20), (10, 20)], ring=True)
        assert bb[0] == 10 and bb[2] == 20
        assert bb[3] > 20  # great-circle bulge above the northern edge


class TestSphericalIntersects:
    # vector_predicate_tests.py:103-134 geodesic goldens
    def test_geographic_cases(self):
        from karta_spark.functions.kernels import polyline_intersects_sph as pis
        assert pis(np.array([(-40.0, 36), (-38, 36.5)]),
                   np.array([(-39.0, 34), (-39, 37.5)]))
        assert not pis(np.array([(-40.0, 36), (-38, 36.5)]),
                       np.array([(-42.0, 34), (-41, 37.5)]))
        # geodesic bulge: the -50..50 @70N great circle passes north of 71N
        assert pis(np.array([(-50.0, 70), (50, 70)]),
                   np.array([(0.0, 71), (1, 89)]))
        # vertical segment handling
        assert pis(np.array([(-50.0, 70), (50, 70)]),
                   np.array([(0.0, 71), (0, 89)]))
        # longitude normalization (340 == -20)
        assert pis(np.array([(-10.0, 20), (-30, 20)]),
                   np.array([(340.0, 10), (340, 30)]))


class TestGeodesicNearest:
    # geometry_tests.py:393-429 (pyproj-derived goldens; our Vincenty +
    # bisection agrees to <1e-5 deg / <1e-4 m relative)
    def test_shortest_distance_geodesic(self):
        from karta_spark.functions.kernels import shortest_distance_geodesic
        d, _ = shortest_distance_geodesic(
            98.0, -7.0, [(127.0, -35.0), (132.0, -28.0), (142.0, -29.0)])
        assert d == pytest.approx(4257313.5324397, abs=1e-4)

    def test_nearest_on_boundary_equator(self):
        from karta_spark.functions.kernels import pt_nearest_geodesic
        pt, _ = pt_nearest_geodesic(30.0, 80.0, -40.0, 0.0, 35.0, 0.0)
        assert pt[0] == pytest.approx(30.0, abs=1e-5)
        assert pt[1] == pytest.approx(0.0, abs=1e-5)
        # the near-degenerate case that breaks naive root finding
        pt, _ = pt_nearest_geodesic(30.0, 1e-8, -40.0, 0.0, 35.0, 0.0)
        assert pt[0] == pytest.approx(30.0, abs=1e-5)

    def test_nearest_on_boundary_multiseg(self):
        from karta_spark.functions.kernels import shortest_distance_geodesic
        _, pt = shortest_distance_geodesic(
            -34.0, 52.0, [(-20.0, 32.0), (-26.0, 43.0), (-38.0, 39.0)])
        assert pt[0] == pytest.approx(-27.98347, abs=1e-5)
        assert pt[1] == pytest.approx(42.456316, abs=1e-5)
