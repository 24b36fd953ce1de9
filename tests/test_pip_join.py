"""operators.pip_join: the cell cover, the join arms and their plans.

``cover_cells`` / ``cover_cells_planar`` below build one polygon's cover
at a time: the corner lattice tested with ``PolygonSpec.contains``, the
edges marked ring by ring.  They are the reference ``cover_arrays`` (one
pass over a whole polygon set) must equal cell for cell, ``full`` flag for
flag.
"""

import math
import time

import numpy as np
import pytest

from karta_spark.functions import cells
from karta_spark.operators import pip_join as pj
from karta_spark.operators.pip_join import PolygonSpec


# ---------------------------------------------------------------------------
# per-polygon reference cover
# ---------------------------------------------------------------------------

def _ref_mark_edges(mark, rings, to_frac):
    ny, nx = mark.shape
    for ring in rings:
        fx, fy = to_frac(ring[:, 0], ring[:, 1])
        ax, ay = fx, fy
        bx, by = np.roll(fx, -1), np.roll(fy, -1)
        n_pieces = np.maximum(
            1, np.ceil(2.0 * np.maximum(np.abs(bx - ax), np.abs(by - ay)))
        ).astype(np.int64)
        m = int(n_pieces.max())
        if m > 4096:
            n_pieces = np.minimum(n_pieces, 4096)
            m = 4096
        t = np.minimum(np.arange(m + 1)[None, :] / n_pieces[:, None], 1.0)
        px = ax[:, None] + (bx - ax)[:, None] * t
        py = ay[:, None] + (by - ay)[:, None] * t
        i0 = np.floor(np.minimum(py[:, :-1], py[:, 1:])).astype(np.int64)
        i1 = np.floor(np.maximum(py[:, :-1], py[:, 1:])).astype(np.int64)
        j0 = np.floor(np.minimum(px[:, :-1], px[:, 1:])).astype(np.int64)
        j1 = np.floor(np.maximum(px[:, :-1], px[:, 1:])).astype(np.int64)
        i0 = np.clip(i0, 0, ny - 1).ravel()
        i1 = np.clip(i1, 0, ny - 1).ravel()
        j0 = np.clip(j0, 0, nx - 1).ravel()
        j1 = np.clip(j1, 0, nx - 1).ravel()
        mark[i0, j0] = True
        mark[i0, j1] = True
        mark[i1, j0] = True
        mark[i1, j1] = True
        for k in np.nonzero((i1 - i0 > 1) | (j1 - j0 > 1))[0]:
            mark[i0[k]:i1[k] + 1, j0[k]:j1[k] + 1] = True


def _ref_classify(poly, nx, ny, corner_x, corner_y, to_frac):
    if poly.polar:
        return np.zeros((ny, nx), dtype=bool)
    CX, CY = np.meshgrid(corner_x, corner_y)
    inside = poly.contains(CX.ravel(), CY.ravel()).reshape(ny + 1, nx + 1)
    full = (inside[:-1, :-1] & inside[:-1, 1:]
            & inside[1:, :-1] & inside[1:, 1:])
    mark = np.zeros((ny, nx), dtype=bool)
    _ref_mark_edges(mark, (poly.outer, *poly.holes), to_frac)
    return full & ~mark


def cover_cells(poly, zoom):
    """Reference slippy-cell cover of one lonlat polygon: [(cell_id, full)]."""
    xmin, ymin, xmax, ymax = poly.bbox()
    if poly.polar:
        xmin, xmax = -180.0, 180.0
        if poly.contains(np.array([0.0]), np.array([89.999]))[0]:
            ymax = 90.0
        if poly.contains(np.array([0.0]), np.array([-89.999]))[0]:
            ymin = -90.0
    ymin = max(ymin, -cells.MAX_LAT + 1e-9)
    ymax = min(ymax, cells.MAX_LAT - 1e-9)
    xmin = max(xmin, -180.0)
    xmax = min(xmax, 180.0 - 1e-12)
    x0, y1 = cells.tile_xy_py(xmin, ymin, zoom)
    x1, y0 = cells.tile_xy_py(xmax, ymax, zoom)
    nmax = 2 ** zoom - 1
    x0, x1 = max(x0, 0), min(x1, nmax)
    y0, y1 = max(y0, 0), min(y1, nmax)
    nx, ny = x1 - x0 + 1, y1 - y0 + 1
    if nx <= 0 or ny <= 0:
        return []
    n = float(2 ** zoom)
    tx = np.arange(x0, x1 + 2, dtype=np.float64)
    ty = np.arange(y0, y1 + 2, dtype=np.float64)
    corner_x = tx / n * 360.0 - 180.0
    corner_y = np.degrees(np.arctan(np.sinh(math.pi * (1.0 - 2.0 * ty / n))))

    def to_frac(lon, lat):
        fx = (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n - x0
        lat = np.clip(np.asarray(lat, dtype=np.float64),
                      -cells.MAX_LAT + 1e-12, cells.MAX_LAT - 1e-12)
        fy = (1.0 - np.log(np.tan(math.pi / 4.0 + np.radians(lat) / 2.0))
              / math.pi) / 2.0 * n - y0
        return fx, fy

    full = _ref_classify(poly, nx, ny, corner_x, corner_y, to_frac)
    cc, rr = np.meshgrid(np.arange(nx, dtype=np.int64),
                         np.arange(ny, dtype=np.int64), indexing="ij")
    cids = (zoom << 58) | ((x0 + cc.ravel()) << 29) | (y0 + rr.ravel())
    return list(zip(cids.tolist(), full.T.ravel().tolist()))


def cover_cells_planar(poly, size):
    """Reference planar-grid cover of one polygon: [(cell_id, full)]."""
    xmin, ymin, xmax, ymax = poly.bbox()
    cx0 = int(math.floor(xmin / size))
    cx1 = int(math.floor(xmax / size))
    cy0 = int(math.floor(ymin / size))
    cy1 = int(math.floor(ymax / size))
    nx, ny = cx1 - cx0 + 1, cy1 - cy0 + 1
    corner_x = (cx0 + np.arange(nx + 1, dtype=np.float64)) * size
    corner_y = (cy0 + np.arange(ny + 1, dtype=np.float64)) * size

    def to_frac(x, y):
        return (np.asarray(x, dtype=np.float64) / size - cx0,
                np.asarray(y, dtype=np.float64) / size - cy0)

    full = _ref_classify(poly, nx, ny, corner_x, corner_y, to_frac)
    cc, rr = np.meshgrid(np.arange(nx, dtype=np.int64),
                         np.arange(ny, dtype=np.int64), indexing="ij")
    cids = ((cx0 + cc.ravel() + cells._PLANAR_OFFSET) * (1 << 29)
            + (cy0 + rr.ravel() + cells._PLANAR_OFFSET))
    return list(zip(cids.tolist(), full.T.ravel().tolist()))


def _reference(polys, zoom, size=None):
    return {(j, cid, full) for j, p in enumerate(polys)
            for cid, full in (cover_cells_planar(p, size) if size is not None
                              else cover_cells(p, zoom))}


def _kernel(polys, zoom, size=None):
    pidx, cid, full = pj.cover_arrays(polys, zoom, size)
    got = set(zip(pidx.tolist(), cid.tolist(), full.tolist()))
    assert len(got) == len(cid), "cover repeats a cell"
    return got


def _star(cx, cy, r, k=9):
    ang = np.linspace(0, 2 * np.pi, 2 * k, endpoint=False)
    rad = np.where(np.arange(2 * k) % 2 == 0, r, r * 0.45)
    return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])


def _lattice_lat(ty, zoom):
    """Tile-row latitudes by the cover's own corner formula (bit-exact)."""
    ty = np.asarray(ty, dtype=np.float64)
    return np.degrees(np.arctan(np.sinh(math.pi * (1.0 - 2.0 * ty / 2.0 ** zoom))))


class TestBatchedCover:
    """Cover building must not stall the driver at 10k polygons, and the
    conservative full/boundary split must stay sound."""

    def test_full_cells_are_truly_full(self, spark):
        from karta_spark.fixtures import flagship_polys
        from karta_spark.functions import cells as kcells
        rng = np.random.default_rng(8)
        polys = list(flagship_polys()) + [
            PolygonSpec("star", _star(20.0, 30.0, 14.0), crs="lonlat")]
        for p in polys:
            _, cids, fulls = pj.cover_arrays([p], 6)
            n_full = 0
            for cid, full in zip(cids.tolist(), fulls.tolist()):
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
        from karta_spark.operators.pip_join import point_in_polygon_join
        rng = np.random.default_rng(12)
        polys = []
        for i in range(120):
            cx, cy = rng.uniform(-150, 150), rng.uniform(-60, 60)
            polys.append(PolygonSpec(f"p{i:03d}", _star(cx, cy, rng.uniform(2, 8)),
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

    def test_cover_kernel_equals_per_polygon_cover(self, spark):
        """cover_df's table (built by the one-pass kernel) must equal the
        per-polygon reference build: same ids, same full/boundary split."""
        rng = np.random.default_rng(5)
        polys = [
            PolygonSpec(f"d{i:03d}", _star(
                rng.uniform(-150, 150), rng.uniform(-55, 55),
                rng.uniform(2, 7)), crs="lonlat")
            for i in range(120)
        ]
        # force one polygon through the holes arm too
        sq = np.array([[-10.0, -10.0], [10.0, -10.0], [10.0, 10.0], [-10.0, 10.0]])
        polys.append(PolygonSpec("dhole", sq * 2.0, holes=(sq,), crs="lonlat"))
        got = {(r["poly_id"], r["cell_id"], r["full"])
               for r in pj.cover_df(spark, polys, zoom=6).collect()}
        want = {(p.poly_id, cid, full)
                for p in polys for cid, full in cover_cells(p, 6)}
        assert got == want
        assert any(full for _, _, full in want)

    def test_cover_kernel_planar_equals_per_polygon_cover(self, spark):
        """The planar (cartesian-CRS) grid, the same way."""
        rng = np.random.default_rng(9)
        polys = [
            PolygonSpec(f"c{i:03d}", _star(
                rng.uniform(-1000, 1000), rng.uniform(-1000, 1000),
                rng.uniform(20, 90)), crs="cartesian")
            for i in range(106)
        ]
        sq = np.array([[-100.0, -100.0], [100.0, -100.0], [100.0, 100.0],
                       [-100.0, 100.0]])
        polys.append(PolygonSpec("dhole", sq * 2.0, holes=(sq,), crs="cartesian"))
        size = 25.0
        got = {(r["poly_id"], r["cell_id"], r["full"]) for r in
               pj.cover_df(spark, polys, zoom=0, planar_size=size).collect()}
        want = {(p.poly_id, cid, full)
                for p in polys for cid, full in cover_cells_planar(p, size)}
        assert got == want

    def test_hot_cell_join_matches_bruteforce(self, spark):
        """A many-polygon join with one hot cell (the skew shape a large
        corpus produces) equals brute-force containment."""
        rng = np.random.default_rng(31)
        polys = [PolygonSpec(f"s{i:03d}", _star(
            rng.uniform(-150, 150), rng.uniform(-55, 55), rng.uniform(2, 7)),
            crs="lonlat") for i in range(106)]
        xs = np.concatenate([rng.uniform(-170, 170, 1500),
                             polys[0].outer[0, 0] + rng.uniform(-1, 1, 1500)])
        ys = np.concatenate([rng.uniform(-70, 70, 1500),
                             polys[0].outer[0, 1] + rng.uniform(-1, 1, 1500)])
        df = spark.createDataFrame(
            [(j, float(x), float(y)) for j, (x, y) in enumerate(zip(xs, ys))],
            "pid long, x double, y double")
        got = {(r["pid"], r["poly_id"]) for r in
               pj.point_in_polygon_join(df, polys, zoom=6).collect()}
        want = {(int(j), p.poly_id) for p in polys
                for j in np.flatnonzero(p.contains(xs, ys))}
        assert got == want
        assert len(want) > 500  # hot-cell points actually landed in polys

    def test_expr_poly_cap_routes_large_sets_to_kernel(self, spark):
        """> MAX_EXPR_POLYS expression-able polygons must not compile a
        giant CASE chain; results stay identical either way."""
        rng = np.random.default_rng(17)
        tri = lambda cx, cy: np.array(
            [[cx - 2, cy - 2], [cx + 2, cy - 2], [cx, cy + 2.5]])
        polys = [PolygonSpec(f"t{i:02d}", tri(rng.uniform(-100, 100),
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
        """The table variant (polygon side a DataFrame) produces the
        identical join result as the list variant."""
        rng = np.random.default_rng(41)
        polys = [PolygonSpec(f"s{i:03d}", _star(
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
               pj.point_in_polygon_join_table(pts, poly_df, zoom=6).collect()}
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
        pts = spark.createDataFrame(self._POLAR_PTS,
                                    "pid long, x double, y double")
        got = {(r["pid"], r["poly_id"]) for r in pj.point_in_polygon_join(
            pts, [PolygonSpec("cap", np.array(self._CAP), crs="lonlat"),
                  PolygonSpec("srev", np.array(self._SREV), crs="lonlat")],
            zoom=4).collect()}
        assert got == self._POLAR_WANT

    def test_table_pip_join_polar_ring(self, spark):
        """Same memberships through the table variant: the collected rings
        are detected polar and take the list variant's dense arm."""
        poly_df = spark.createDataFrame(
            [("cap", [{"x": x, "y": y} for x, y in self._CAP]),
             ("srev", [{"x": x, "y": y} for x, y in self._SREV])],
            "poly_id string, vertices array<struct<x double, y double>>")
        pts = spark.createDataFrame(self._POLAR_PTS,
                                    "pid long, x double, y double")
        got = {(r["pid"], r["poly_id"]) for r in
               pj.point_in_polygon_join_table(pts, poly_df, zoom=4).collect()}
        assert got == self._POLAR_WANT

    def test_table_pip_join_five_polar_rings(self, spark):
        """Five rings around the north pole through the table variant: the
        lat-85 point is inside every one, the lat-40 point in none."""
        rings = [[{"x": float(lo), "y": 80.0}
                  for lo in (np.arange(0.0, 360.0, 45.0) + i) % 360.0 - 180.0]
                 for i in range(5)]
        poly_df = spark.createDataFrame(
            [(f"p{i}", r) for i, r in enumerate(rings)],
            "poly_id string, vertices array<struct<x double, y double>>")
        pts = spark.createDataFrame([(0, 10.0, 85.0), (1, -120.0, 40.0)],
                                    "pid long, x double, y double")
        rows = pj.point_in_polygon_join_table(pts, poly_df, zoom=4).collect()
        assert sorted((r.pid, r.poly_id) for r in rows) == [
            (0, f"p{i}") for i in range(5)]

    def test_contains_flags_polar_no_bbox_gate(self, spark):
        """contains_flags had the same vertex-bbox trap for polar rings."""
        pts = spark.createDataFrame(self._POLAR_PTS,
                                    "pid long, x double, y double")
        got = {r["pid"]: r["contained"] for r in pj.contains_flags(
            pts, PolygonSpec("cap", np.array(self._CAP), crs="lonlat")
        ).collect()}
        assert got == {0: True, 1: False, 2: True, 3: False, 4: False}

    def test_empty_polygon_list_join(self, spark):
        pts = spark.createDataFrame([(0, 1.0, 2.0)], "pid long, x double, y double")
        for keep_flag, extra in ((False, []), (True, ["contained"])):
            out = pj.point_in_polygon_join(pts, [], keep_flag=keep_flag)
            assert out.columns == ["pid", "x", "y", "poly_id", *extra]
            assert out.schema["poly_id"].dataType.simpleString() == "string"
            assert out.count() == 0

    def test_empty_polygon_table_join(self, spark):
        pts = spark.createDataFrame([(0, 1.0, 2.0)], "pid long, x double, y double")
        poly_df = spark.createDataFrame(
            [], "region string, vertices array<struct<x double, y double>>")
        out = pj.point_in_polygon_join_table(pts, poly_df, poly_id="region")
        assert sorted(out.columns) == ["pid", "region", "x", "y"]
        assert out.schema["region"].dataType.simpleString() == "string"
        assert out.count() == 0

    def test_contains_flags_banded_polygon(self, spark):
        """A polygon past MAX_EXPR_EDGES, with a hole, flags every point as
        polygon_contains does — vertices and bbox edges included."""
        from karta_spark.functions.kernels import polygon_contains
        rng = np.random.default_rng(57)
        outer = _star(10.0, 20.0, 6.0, k=90)
        hole = _star(10.0, 20.0, 1.5, k=12)[::-1]
        poly = PolygonSpec("big", outer, (hole,), crs="lonlat")
        assert not pj._expr_able(poly)
        xs = np.r_[rng.uniform(3, 17, 3000), outer[:, 0], hole[:, 0], 4.0]
        ys = np.r_[rng.uniform(13, 27, 3000), outer[:, 1], hole[:, 1], 20.0]
        pts = spark.createDataFrame(
            [(j, float(x), float(y)) for j, (x, y) in enumerate(zip(xs, ys))],
            "pid long, x double, y double")
        got = {r["pid"]: r["contained"] for r in
               pj.contains_flags(pts, poly).collect()}
        want = polygon_contains(xs, ys, outer, (hole,))
        assert [got[j] for j in range(xs.size)] == want.tolist()
        assert 0 < want.sum() < xs.size

    def test_1k_polygon_cover_wall_time(self):
        rng = np.random.default_rng(3)
        polys = [PolygonSpec(f"w{i}", _star(
            rng.uniform(-150, 150), rng.uniform(-55, 55), 6.0, k=24), crs="lonlat")
            for i in range(1000)]
        t0 = time.monotonic()
        _, cids, _ = pj.cover_arrays(polys, 7)
        dt = time.monotonic() - t0
        assert cids.size > 10_000  # real covers, not trivial ones
        assert dt < 5.0, f"1k-polygon cover took {dt:.1f}s"


class TestCoverEdgeCases:
    """The one-pass kernel equals the per-polygon reference, cell ids and
    ``full`` flags, on the inputs where a span or lattice slip would show."""

    @staticmethod
    def _check(polys, zoom, size=None):
        got = _kernel(polys, zoom, size)
        assert got == _reference(polys, zoom, size)
        return got

    def test_square_on_tile_corners_lonlat(self):
        # every vertex IS a corner-lattice point: corners lie exactly on
        # the edges and vertices, where the half-open span decides.  One
        # square per top row: whether the top edge's supercover marks the
        # row above or below it depends on the last bit of its mercator
        # y, and only unmarked cells under the edge expose the span bound
        z = 4
        lon = np.arange(16 + 1) / 16.0 * 360.0 - 180.0
        lat = _lattice_lat(np.arange(16 + 1), z)
        squares = [PolygonSpec(f"sq{t}", np.array(
            [[lon[5], lat[t + 4]], [lon[9], lat[t + 4]],
             [lon[9], lat[t]], [lon[5], lat[t]]]), crs="lonlat")
            for t in range(1, 12)]
        got = self._check(squares, z)
        assert any(full for *_, full in got)

    def test_square_on_cell_corners_planar(self):
        sq = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])
        got = self._check([PolygonSpec("sq", sq), PolygonSpec("sq2", sq * 2.5)],
                          0, 1.0)
        assert sum(full for *_, full in got) == 4 + 64

    def test_clockwise_and_counterclockwise_rings(self):
        ccw = _star(12.0, 40.0, 9.0)
        sq = np.array([[0.0, 0.0], [3.0, 0.0], [3.0, 3.0], [0.0, 3.0]])
        polys = [PolygonSpec("ccw", ccw, crs="lonlat"),
                 PolygonSpec("cw", ccw[::-1], crs="lonlat"),
                 PolygonSpec("cwhole", (sq * 8.0)[::-1], holes=(sq + 10.0,),
                             crs="lonlat")]
        self._check(polys, 6)
        self._check([PolygonSpec(p.poly_id, p.outer, p.holes) for p in polys],
                    0, 0.75)

    def test_repeated_and_collinear_vertices(self):
        ring = np.array([[0.0, 0.0], [0.0, 0.0], [5.0, 0.0], [10.0, 0.0],
                         [20.0, 0.0], [20.0, 20.0], [20.0, 20.0], [10.0, 20.0],
                         [0.0, 20.0], [0.0, 10.0]])
        self._check([PolygonSpec("rep", ring - 3.3, crs="lonlat")], 5)
        self._check([PolygonSpec("rep", ring)], 0, 2.5)

    def test_one_cell_polygon(self):
        tri = np.array([[10.1, 20.1], [10.3, 20.1], [10.2, 20.3]])
        got = self._check([PolygonSpec("tiny", tri, crs="lonlat")], 6)
        assert len(got) == 1
        assert len(self._check([PolygonSpec("tiny", tri)], 0, 1.0)) == 1

    def test_rings_at_the_lat_clamp_and_antimeridian(self):
        polys = [
            PolygonSpec("world", np.array([[-180.0, -89.0], [180.0, -89.0],
                                           [180.0, 89.0], [-180.0, 89.0]]),
                        crs="lonlat"),
            PolygonSpec("clamp", np.array([[-180.0, -cells.MAX_LAT],
                                           [-120.0, -cells.MAX_LAT],
                                           [-120.0, cells.MAX_LAT],
                                           [-180.0, cells.MAX_LAT]]),
                        crs="lonlat"),
            PolygonSpec("east", np.array([[170.0, 60.0], [180.0, 60.0],
                                          [180.0, 85.0511], [170.0, 85.0511]]),
                        crs="lonlat"),
        ]
        got = self._check(polys, 3)
        assert any(full for *_, full in got)

    def test_polar_ring(self):
        cap = PolygonSpec("cap", np.array([(float(a), 80.0)
                                           for a in range(0, 360, 45)]),
                          crs="lonlat")
        assert cap.polar
        got = self._check([cap, PolygonSpec("star", _star(0.0, 0.0, 9.0),
                                            crs="lonlat")], 4)
        assert not any(full for j, _, full in got if j == 0)

    def test_negative_planar_coordinates(self):
        rng = np.random.default_rng(21)
        polys = [PolygonSpec(f"n{i}", _star(rng.uniform(-900, -100),
                                            rng.uniform(-900, -100),
                                            rng.uniform(20, 80)))
                 for i in range(12)]
        got = self._check(polys, 0, 7.0)
        assert any(full for *_, full in got)

    def test_empty_polygon_list(self, spark):
        for size in (None, 1.0):
            pidx, cid, full = pj.cover_arrays([], 6, size)
            assert pidx.size == cid.size == full.size == 0
        df = pj.cover_df(spark, [], 6, with_pidx=True)
        assert df.columns == ["poly_id", "cell_id", "full", "pidx"]
        assert df.count() == 0

    def test_pip_refine_seed3_set(self, tmp_path):
        import os
        import sys
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, root)
        try:
            from perfbench.workloads import ZOOM, PipRefine
        finally:
            sys.path.remove(root)
        polys = PipRefine(3, str(tmp_path), 1).polys
        got = self._check(polys, ZOOM)
        assert len(got) > 5000


class TestCoverPlan:
    """A 120-polygon join (q50's shape: more polygons than MAX_EXPR_POLYS)
    builds its cover on the driver and broadcasts it."""

    @staticmethod
    def _triangles_and_points(spark, n=120):
        rng = np.random.default_rng(50)
        polys = []
        for i in range(n):
            cx, cy, r = rng.uniform(-150, 150), rng.uniform(-55, 55), rng.uniform(2, 8)
            ang = rng.uniform(0, 2 * np.pi) + np.array([0.0, 2.0, 4.0]) * np.pi / 3.0
            polys.append(PolygonSpec(f"t{i:03d}", np.column_stack(
                [cx + r * np.cos(ang), cy + r * np.sin(ang)]), crs="lonlat"))
        xs, ys = rng.uniform(-170, 170, 4000), rng.uniform(-70, 70, 4000)
        pts = spark.createDataFrame(
            [(j, float(x), float(y)) for j, (x, y) in enumerate(zip(xs, ys))],
            "pid long, x double, y double")
        return polys, xs, ys, pts

    @staticmethod
    def _plan_jobs(spark, build):
        """Spark jobs that run while *build()* constructs a plan."""
        sc = spark.sparkContext
        group = "pip-plan-%d" % id(build)
        sc.setJobGroup(group, "pip join plan construction")
        try:
            out = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    def test_plan_builds_without_jobs_and_broadcasts_the_cover(self, spark):
        import re
        polys, xs, ys, pts = self._triangles_and_points(spark)
        joined, jobs = self._plan_jobs(
            spark, lambda: pj.point_in_polygon_join(pts, polys, zoom=6))
        assert jobs == []

        out = joined.select("pid", "poly_id")
        got = {(r["pid"], r["poly_id"]) for r in out.collect()}
        want = {(int(j), p.poly_id) for p in polys
                for j in np.flatnonzero(p.contains(xs, ys))}
        assert got == want and len(want) > 50

        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "MapInPandas" not in plan
        assert not re.search(r"(?<!Broadcast)Exchange ", plan), plan
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan

    def test_table_plan_runs_one_job(self, spark):
        """The table variant's plan costs one Spark job, the polygon
        collect, at any table size."""
        polys, xs, ys, pts = self._triangles_and_points(spark, 300)
        poly_df = spark.createDataFrame(
            [(p.poly_id, [{"x": float(x), "y": float(y)} for x, y in p.outer])
             for p in polys],
            "poly_id string, vertices array<struct<x double, y double>>")
        joined, jobs = self._plan_jobs(
            spark, lambda: pj.point_in_polygon_join_table(pts, poly_df, zoom=6))
        assert len(jobs) == 1
        assert joined.count() == sum(int(p.contains(xs, ys).sum()) for p in polys)


class TestCoverLimit:
    """``MAX_COVER_CELLS`` bounds the driver cover, checked before any
    per-cell work."""

    SQUARE = PolygonSpec("sq", np.array(
        [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]]), crs="lonlat")

    def test_limit_raises_before_the_build(self, spark, monkeypatch):
        n = pj.cover_arrays([self.SQUARE], 6)[1].size
        monkeypatch.setattr(pj, "MAX_COVER_CELLS", n)
        assert pj.cover_arrays([self.SQUARE], 6)[1].size == n

        def built(*args, **kwargs):
            raise AssertionError("cover built past MAX_COVER_CELLS")

        monkeypatch.setattr(pj, "MAX_COVER_CELLS", n - 1)
        monkeypatch.setattr(pj, "ring_edges", built)
        monkeypatch.setattr(pj, "ragged", built)
        with pytest.raises(ValueError, match=(
                rf"{n} cells exceeds MAX_COVER_CELLS={n - 1}; use a coarser zoom")):
            pj.cover_arrays([self.SQUARE], 6)
        pts = spark.createDataFrame([(0, 5.0, 5.0)], "pid long, x double, y double")
        with pytest.raises(ValueError, match="use a coarser zoom"):
            pj.point_in_polygon_join(pts, [self.SQUARE], zoom=6)
