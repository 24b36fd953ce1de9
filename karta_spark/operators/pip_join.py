"""Point-in-polygon join — the flagship spatial join.

Distributed re-expression of ``Multipoint.within_polygon`` (reference
geometry.py:1391-1405): karta's plan is *bbox prefilter -> quadtree probe ->
exact winding refine*; ours is the same two-phase filter-then-refine, built
as a Spark plan:

1. points get an int64 ``cell_id`` (slippy tile at a chosen zoom) — a pure
   column expression, JVM-side;
2. polygons are *covered* with cells at the same zoom by ``cover_arrays``:
   one numpy pass over every ring of the whole set, on the driver (polygon
   sets are the broadcast-small side).  Cover cells are classified
   ``full`` (entirely inside: join hit needs no refine) or ``boundary``
   (needs the exact winding test) — this is the distributed analogue of the
   quadtree's interior/leaf split and skips the kernel for most matches;
3. ``points ⋈ cover`` on cell_id — always a Catalyst broadcast hash join;
   no shuffle of the point table at all;
4. full-cell hits leave the join as they are; boundary candidates are
   refined by a compiled winding CASE (up to MAX_EXPR_POLYS small
   polygons) or, for every other non-polar polygon, by one y-banded edge
   kernel (kernels.banded_contains over an ``edge_bands`` index built once
   per join on the driver — bit-identical to contains.pyx:13-42) inside an
   Arrow-batched pandas UDF.  Polar rings take a dense spherical arm.

``point_in_polygon_join_table`` takes the polygon set as a DataFrame,
collects it, and runs this same plan: there is one PIP join path.

Scale notes (100 TB): the big side is never shuffled — the join is
broadcast; the refine UDF sees only boundary-cell candidates (a thin
O(perimeter) slice).  The polygon side is bounded by its cover, which the
driver builds and holds: ``cover_arrays`` refuses a set whose cover runs
past ``MAX_COVER_CELLS`` cells instead of running the driver out of memory.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from karta_spark.functions import cells
from karta_spark.functions.kernels import (
    banded_contains,
    edge_bands,
    ispolar,
    polygon_contains,
    ragged,
    ring_edges,
    sphere_contains,
)


@dataclass
class PolygonSpec:
    """A broadcastable polygon: outer ring (K,2), optional holes, CRS tag."""

    poly_id: str
    outer: np.ndarray
    holes: tuple = ()
    crs: str = "cartesian"  # "cartesian" | "lonlat"
    _polar: bool | None = field(default=None, repr=False)

    def __post_init__(self):
        self.outer = np.asarray(self.outer, dtype=np.float64)
        self.holes = tuple(np.asarray(h, dtype=np.float64) for h in self.holes)

    @property
    def polar(self) -> bool:
        if self._polar is None:
            self._polar = self.crs == "lonlat" and ispolar(self.outer)
        return self._polar

    def contains(self, px, py) -> np.ndarray:
        """CRS dispatch exactly as Polygon.contains (geometry.py:1168-1174)."""
        if self.polar:
            inside = sphere_contains(px, py, self.outer)
            for h in self.holes:
                inside &= ~sphere_contains(px, py, h)
            return inside
        return polygon_contains(px, py, self.outer, self.holes)

    def bbox(self):
        return (
            float(self.outer[:, 0].min()), float(self.outer[:, 1].min()),
            float(self.outer[:, 0].max()), float(self.outer[:, 1].max()),
        )


def _mark_edges(ax, ay, bx, by, ny, nx):
    """Conservatively mark every grid cell an edge might pass through.

    Edges run (ax, ay) -> (bx, by) in fractional cell coordinates of
    their own (ny, nx) grid (per-edge arrays).  Each edge is split
    into pieces no longer than half a cell; each piece marks the <=2x2 rect
    of cells its bbox touches — a supercover superset of the exactly-
    crossed cells.  Marked cells are classified boundary (never full), so
    over-marking only costs refine work, never correctness.  Returns
    ``(edge, i, j)`` of the marked cells (with repeats), one vectorized
    pass over all edges of all rings."""
    # an absurdly long edge vs cell size keeps 4096 pieces (coarse fallback)
    n_pieces = np.minimum(np.maximum(1, np.ceil(2.0 * np.maximum(
        np.abs(bx - ax), np.abs(by - ay)))).astype(np.int64), 4096)
    e, s = ragged(n_pieces)
    k = n_pieces[e]
    t0, t1 = s / k, (s + 1) / k
    dx, dy = (bx - ax)[e], (by - ay)[e]
    xa, xb = ax[e] + dx * t0, ax[e] + dx * t1
    ya, yb = ay[e] + dy * t0, ay[e] + dy * t1
    ny_e, nx_e = ny[e] - 1, nx[e] - 1
    i0 = np.clip(np.floor(np.minimum(ya, yb)).astype(np.int64), 0, ny_e)
    i1 = np.clip(np.floor(np.maximum(ya, yb)).astype(np.int64), 0, ny_e)
    j0 = np.clip(np.floor(np.minimum(xa, xb)).astype(np.int64), 0, nx_e)
    j1 = np.clip(np.floor(np.maximum(xa, xb)).astype(np.int64), 0, nx_e)
    # Capped-subdivision pieces can be LONGER than half a cell, so their
    # bbox may span >2x2 cells; 4-corner marking would leave interior
    # crossed cells unmarked (a crossed cell with all 4 corners inside
    # would then be misclassified 'full' and skip the exact refine).
    # Fill the whole bbox rectangle for those rare wide pieces.
    wide = np.flatnonzero((i1 - i0 > 1) | (j1 - j0 > 1))
    w = j1[wide] - j0[wide] + 1
    q, r = ragged((i1[wide] - i0[wide] + 1) * w)
    return (np.concatenate([e, e, e, e, e[wide][q]]),
            np.concatenate([i0, i0, i1, i1, i0[wide][q] + r // w[q]]),
            np.concatenate([j0, j1, j0, j1, j0[wide][q] + r % w[q]]))


def _lonlat_grid(poly: PolygonSpec, zoom: int):
    """Slippy-tile cover grid of one polygon: (x0, y0, nx, ny), nx = ny = 0
    when the clamped bbox holds no tile."""
    xmin, ymin, xmax, ymax = poly.bbox()
    if poly.polar:
        # a polar ring encloses a pole BEYOND its vertex latitudes, and
        # wraps every longitude — the vertex bbox under-covers both axes
        # (points poleward of the vertices silently missed the join).
        # Full lon span; extend lat to whichever pole the ring contains.
        xmin, xmax = -180.0, 180.0
        if poly.contains(np.array([0.0]), np.array([89.999]))[0]:
            ymax = 90.0
        if poly.contains(np.array([0.0]), np.array([-89.999]))[0]:
            ymin = -90.0
    ymin = max(ymin, -cells.MAX_LAT + 1e-9)
    ymax = min(ymax, cells.MAX_LAT - 1e-9)
    xmin = max(xmin, -180.0)
    xmax = min(xmax, 180.0 - 1e-12)
    x0, y1 = cells.tile_xy_py(xmin, ymin, zoom)  # y grows southward
    x1, y0 = cells.tile_xy_py(xmax, ymax, zoom)
    nmax = 2 ** zoom - 1
    x0, x1 = max(x0, 0), min(x1, nmax)
    y0, y1 = max(y0, 0), min(y1, nmax)
    nx, ny = x1 - x0 + 1, y1 - y0 + 1
    return (x0, y0, nx, ny) if nx > 0 and ny > 0 else (x0, y0, 0, 0)


def _planar_grid(poly: PolygonSpec, size: float):
    """Planar cover grid of one polygon: (x0, y0, nx, ny) in cell units."""
    xmin, ymin, xmax, ymax = poly.bbox()
    x0, y0 = math.floor(xmin / size), math.floor(ymin / size)
    return (x0, y0, math.floor(xmax / size) - x0 + 1,
            math.floor(ymax / size) - y0 + 1)


# Cover cells one cover_arrays call may build.  The build peaks at ~310
# bytes of driver memory per cell (see cover_df), so 16M cells is ~5 GB: a
# third of a 16 GB driver, far past every cover the gates, bench.py and
# perfbench build.  A set that needs more is refused rather than left to
# run the driver out of memory.
MAX_COVER_CELLS = 16_000_000


def cover_arrays(polys: list[PolygonSpec], zoom: int,
                 planar_size: float | None = None):
    """Classified cell cover of a whole polygon set in one numpy pass.

    Returns ``(pidx int32, cell_id int64, full bool)`` arrays, one entry per
    cover cell; ``pidx`` indexes *polys*.  Cells are slippy tiles at *zoom*,
    or a planar grid of *planar_size* cells (cartesian CRS).  A cell is
    *full* when all four corners are inside and no polygon edge can cross
    it (conservative supercover, ``_mark_edges``) — candidate rows in full
    cells skip the exact refine.  Polar polygons are boundary everywhere.

    The corner test pairs each corner-lattice row only with the edges
    whose half-open ``[min y, max y)`` span holds it: every other edge adds
    exactly 0 winding, so the counts — and the per-(corner, edge) ``isleft``
    algebra — are those of ``kernels.winding_number``, and the cover is
    bit-identical to testing each polygon's lattice with
    ``PolygonSpec.contains``.

    Raises ``ValueError`` before any per-cell work when the cover would
    hold more than ``MAX_COVER_CELLS`` cells."""
    planar = planar_size is not None
    grid = (np.array([_planar_grid(p, planar_size) if planar
                      else _lonlat_grid(p, zoom) for p in polys], dtype=np.int64)
            .reshape(-1, 4))
    gx0, gy0, nx, ny = grid.T
    ncell = nx * ny
    if ncell.sum() > MAX_COVER_CELLS:
        raise ValueError(
            f"polygon cover of {int(ncell.sum())} cells exceeds "
            f"MAX_COVER_CELLS={MAX_COVER_CELLS}; use a coarser zoom "
            "(or a larger planar_size)")
    ncor = (nx + 1) * (ny + 1) * (ncell > 0)
    cco = np.cumsum(ncor) - ncor  # polygon p's corners start at cco[p]
    n = float(2 ** zoom)

    # every ring of every non-polar polygon with cells, as one edge list
    ring_poly, ring_hole, verts = [], [], []
    for j in np.flatnonzero(ncell > 0):
        p = polys[j]
        if not p.polar:
            for h, ring in enumerate((p.outer, *p.holes)):
                if len(ring):
                    ring_poly.append(j)
                    ring_hole.append(h > 0)
                    verts.append(ring)
    ring_poly = np.array(ring_poly, dtype=np.int64)
    ring_hole = np.array(ring_hole, dtype=bool)
    er, nxt, x0, y0 = ring_edges(verts)
    x1, y1 = x0[nxt], y0[nxt]
    ep = ring_poly[er]

    # edge marking over the concatenated rings, in fractional cell coords
    # relative to each polygon's grid origin
    if planar:
        fx, fy = x0 / planar_size - gx0[ep], y0 / planar_size - gy0[ep]
    else:
        lat = np.clip(y0, -cells.MAX_LAT + 1e-12, cells.MAX_LAT - 1e-12)
        fx = (x0 + 180.0) / 360.0 * n - gx0[ep]
        fy = (1.0 - np.log(np.tan(math.pi / 4.0 + np.radians(lat) / 2.0))
              / math.pi) / 2.0 * n - gy0[ep]
    e, i, j = _mark_edges(fx, fy, fx[nxt], fy[nxt], ny[ep], nx[ep])
    mark = np.zeros(ncell.sum(), dtype=bool)
    pe = ep[e]
    mark[(np.cumsum(ncell) - ncell)[pe] + i * nx[pe] + j] = True

    # corner-lattice rows: the distinct tile rows of all polygons, sorted;
    # polygon p's rows are the consecutive run starting at u0[p]
    rp, ri = ragged((ny + 1) * (ncell > 0))
    tyu = np.unique(gy0[rp] + ri)
    u0 = np.searchsorted(tyu, gy0)
    ty = tyu.astype(np.float64)
    if planar:
        cy = ty * planar_size
        a = np.searchsorted(cy, np.minimum(y0, y1), "left")
        b = np.searchsorted(cy, np.maximum(y0, y1), "left")
    else:  # row latitude falls as the tile row grows: search on -lat
        cy = np.degrees(np.arctan(np.sinh(math.pi * (1.0 - 2.0 * ty / n))))
        a = np.searchsorted(-cy, -np.maximum(y0, y1), "right")
        b = np.searchsorted(-cy, -np.minimum(y0, y1), "right")
    # rows [lo, hi) of each edge's own lattice with min y <= cy < max y
    lo = np.maximum(a, u0[ep])
    hi = np.minimum(b, u0[ep] + ny[ep] + 1)
    w = nx[ep] + 1
    q, k = ragged(np.maximum(hi - lo, 0) * w)
    row = lo[q] + k // w[q]
    col = k % w[q]
    tx = (gx0[ep[q]] + col).astype(np.float64)
    cx = tx * planar_size if planar else tx / n * 360.0 - 180.0
    left = ((x1 - x0)[q] * (cy[row] - y0[q]) - (cx - x0[q]) * (y1 - y0)[q])
    up = (y0 < y1)[q]
    hit = np.where(up, left > 0, left < 0)
    # winding per (ring, corner): ring r's corners start at rco[r]
    nrc = ncor[ring_poly]
    rco = np.cumsum(nrc) - nrc
    key = rco[er[q]] + (row - u0[ep[q]]) * w[q] + col
    wind = np.bincount(key[hit], weights=np.where(up[hit], 1.0, -1.0),
                       minlength=int(nrc.sum()))
    rr, rl = ragged(nrc)
    nz = wind != 0
    pc = cco[ring_poly[rr]] + rl
    inside = np.zeros(ncor.sum(), dtype=bool)
    inside[pc[nz & ~ring_hole[rr]]] = True  # in the outer ring ...
    inside[pc[nz & ring_hole[rr]]] = False  # ... and in no hole

    cp, ck = ragged(ncell)
    ci, cj = ck // nx[cp], ck % nx[cp]
    c00 = cco[cp] + ci * (nx[cp] + 1) + cj
    c10 = c00 + nx[cp] + 1
    full = (inside[c00] & inside[c00 + 1] & inside[c10] & inside[c10 + 1]
            & ~mark)
    tx, ty = gx0[cp] + cj, gy0[cp] + ci
    if planar:  # same id algebra as cells.planar_cell_py
        cid = ((tx + cells._PLANAR_OFFSET) * (1 << 29)
               + (ty + cells._PLANAR_OFFSET))
    else:
        cid = (zoom << 58) | (tx << 29) | ty
    return cp.astype(np.int32), cid, full


def winding_col(ring: np.ndarray, x, y):
    """Winding-number containment for a *fixed* ring as a pure Catalyst
    column expression — the JVM twin of kernels.winding_contains (same
    cross-product algebra as contains.pyx:11-40, so results are
    bit-identical). Whole-stage-codegen'd: zero Python in the hot path.

    Pass x/y as column NAMES (strings) on the hot construction path: the
    whole CASE chain is then emitted as one SQL string (winding_sql — the
    identical algebra the DuckDB oracle twin runs) and parsed by a SINGLE
    F.expr py4j round trip.  Building the same tree by Column algebra
    costs ~100 gateway round trips per edge (~0.4 s of driver latency per
    plan construction for a 14-edge polygon set — measured r8, the
    dominant cost of q25/flagship plan builds).  Column objects remain
    accepted (legacy path, same result).

    Practical for rings up to a few hundred edges; bigger rings or polar
    polygons use the pandas kernel fallback.
    """
    if isinstance(x, str) and isinstance(y, str):
        return F.expr(winding_sql(ring, f"`{x}`", f"`{y}`"))
    ring = np.asarray(ring, dtype=np.float64)
    k = len(ring)
    total = F.lit(0)
    for i in range(k):
        x0, y0 = float(ring[i, 0]), float(ring[i, 1])
        x1, y1 = float(ring[(i + 1) % k, 0]), float(ring[(i + 1) % k, 1])
        left = (F.lit(x1 - x0)) * (y - F.lit(y0)) - (x - F.lit(x0)) * F.lit(y1 - y0)
        up = (F.lit(y0) <= y) & (y < F.lit(y1)) & (left > 0)
        down = (F.lit(y0) > y) & (y >= F.lit(y1)) & (left < 0)
        total = total + F.when(up, 1).when(down, -1).otherwise(0)
    return total != 0


def polygon_contains_col(poly: PolygonSpec, x, y):
    """Full polygon-with-holes containment as a Catalyst expression.
    String x/y take the one-expr construction fast path (see winding_col)."""
    if isinstance(x, str) and isinstance(y, str):
        sql = winding_sql(poly.outer, f"`{x}`", f"`{y}`")
        for h in poly.holes:
            sql = f"({sql} AND (NOT {winding_sql(h, f'`{x}`', f'`{y}`')}))"
        return F.expr(sql)
    cond = winding_col(poly.outer, x, y)
    for h in poly.holes:
        cond = cond & ~winding_col(h, x, y)
    return cond


MAX_EXPR_EDGES = 128  # above this, codegen blows up; use the numpy kernel


def _expr_able(poly: PolygonSpec) -> bool:
    edges = len(poly.outer) + sum(len(h) for h in poly.holes)
    return not poly.polar and edges <= MAX_EXPR_EDGES


# beyond this many expression-able polygons the compiled CASE chain is
# abandoned for the Arrow kernel (codegen size, broadcast-closure instead)
MAX_EXPR_POLYS = 48

# largest ring _pack_rings pads
PACK_MAX_VERTS = 96


# only perfbench's PipRefine.microbench uses this; the refine is banded_contains
def _pack_rings(polys: list[PolygonSpec]):
    """Pad small hole-free non-polar rings into one (P, Kmax+1, 2) array
    for the pair-batched winding kernel. Returns (poly_id -> row index
    dict, packed array), or None when batching can't pay off."""
    packable = [p for p in polys
                if not p.holes and not p.polar and len(p.outer) <= PACK_MAX_VERTS]
    if len(packable) < 2:
        return None
    kmax = max(len(p.outer) for p in packable)
    R = np.empty((len(packable), kmax + 1, 2), dtype=np.float64)
    for j, p in enumerate(packable):
        k = len(p.outer)
        R[j, :k] = p.outer
        R[j, k:] = p.outer[0]  # closure + degenerate padding edges
    return {p.poly_id: j for j, p in enumerate(packable)}, R


def cover_df(spark: SparkSession, polys: list[PolygonSpec], zoom: int,
             planar_size: float | None = None,
             with_pidx: bool = False) -> DataFrame:
    """Classified cell cover for a polygon set, as a (poly_id, cell_id, full
    [, pidx]) table — ``pidx`` is the polygon's index in *polys*, carried so
    a downstream Arrow kernel can key on a 4-byte int instead of
    re-serializing the poly_id string per candidate row.

    Built on the driver by ``cover_arrays`` (one numpy pass over every
    polygon) and handed to Spark as one Arrow table, so the caller can
    broadcast it.  The whole cover is then held by the driver: measured on
    4 cores, the build peaks at ~310 bytes of Python memory and ~1 us per
    cover cell, and the broadcast is ~110 bytes per cell (10k seeded star
    polygons at auto_zoom: 3.1M cells, 2.9 s, 1.1 GB peak, 336 MB
    broadcast).  The same 10k polygons at z12 are 11.6M cells and a 3.6 GB
    build; ``cover_arrays`` refuses covers past ``MAX_COVER_CELLS``."""
    pidx, cid, full = cover_arrays(polys, zoom, planar_size)
    names = np.array([p.poly_id for p in polys], dtype=object)[pidx]
    out = {"poly_id": pa.array(names, pa.string()), "cell_id": cid, "full": full}
    if with_pidx:
        out["pidx"] = pidx
    return spark.createDataFrame(pa.table(out))


def auto_zoom(polys: list[PolygonSpec], target_cells: int = 256,
              max_zoom: int = 14) -> int:
    """Pick a cover zoom so the median polygon covers ~target_cells cells:
    finer cover => smaller boundary fraction => less exact-refine work,
    bounded by driver-side cover-build cost."""
    extents = []
    for p in polys:
        xmin, ymin, xmax, ymax = p.bbox()
        extents.append(max(xmax - xmin, ymax - ymin, 1e-9))
    med = float(np.median(extents))
    side = math.sqrt(target_cells)
    # cell span ~ 360/2^z degrees; want med/span ~ side
    z = int(round(math.log2(360.0 * side / max(med, 1e-9))))
    return max(1, min(max_zoom, z))


def _polar_udf(spec: PolygonSpec):
    """Dense spherical refine of one polar polygon (``spec.contains``)."""
    @F.pandas_udf(BooleanType())
    def polar_refine(px: pd.Series, py: pd.Series) -> pd.Series:
        return pd.Series(spec.contains(
            px.to_numpy(dtype=np.float64), py.to_numpy(dtype=np.float64)))
    return polar_refine


def point_in_polygon_join(
    points: DataFrame,
    polys: list[PolygonSpec],
    zoom: int | None = 7,
    lon: str = "x",
    lat: str = "y",
    keep_flag: bool = False,
    planar_size: float | None = None,
) -> DataFrame:
    """points ⋈ polygons containment join (semi-join style: one output row
    per (point, containing polygon)).

    ``points`` keeps all its columns; adds ``poly_id`` (and ``contained``
    when keep_flag). Exact two-phase plan of within_polygon
    (geometry.py:1391-1405): cell join = index probe, winding UDF = refine.

    lonlat polygons use the slippy cover at *zoom*; cartesian polygons (or
    an explicit *planar_size*) use a planar cell grid so coordinates of any
    magnitude work. Mixing CRSes in one call requires planar_size=None and
    all-lonlat, or planar for all."""
    spark = points.sparkSession

    if zoom is None:
        zoom = auto_zoom(polys)

    if planar_size is None and any(p.crs == "cartesian" for p in polys):
        # auto planar cell size: ~1/8 of the median polygon bbox extent
        extents = []
        for p in polys:
            xmin, ymin, xmax, ymax = p.bbox()
            extents.append(max(xmax - xmin, ymax - ymin))
        planar_size = max(float(np.median(extents)) / 8.0, 1e-9)

    # polar rings bypass the cover entirely: their contained region under
    # the reference's azimuth-swing semantics (contains.pyx:44-83) is NOT
    # lat/lon-bounded by the vertex bbox (a reversed-orientation ring
    # contains points far from the ring), so no cell cover can index them.
    # They take a dense kernel branch — rare parity path, full scan.
    polar_polys = [p for p in polys if p.crs == "lonlat" and p.polar]
    polys = [p for p in polys if not (p.crs == "lonlat" and p.polar)]

    expr_polys = [p for p in polys if _expr_able(p)]
    udf_polys = [p for p in polys if not _expr_able(p)]
    if len(expr_polys) > MAX_EXPR_POLYS:
        # a per-polygon compiled CASE chain over thousands of polygons would
        # produce an unbounded codegen method; large sets go through the
        # banded Arrow kernel instead (one pass per batch)
        udf_polys = udf_polys + expr_polys
        expr_polys = []

    if planar_size is not None:
        pts = points.withColumn(
            "cell_id", cells.planar_cell_id(F.col(lon), F.col(lat), planar_size))
    else:
        pts = points.withColumn("cell_id", cells.tile_id_clamped(lon, lat, zoom))

    branches = []
    if expr_polys:
        # single pass, fully JVM: cell join prunes to cover cells; full
        # cells pass outright; boundary cells evaluate the compiled
        # per-polygon winding expression (codegen short-circuits on `full`)
        cover = cover_df(spark, expr_polys, zoom, planar_size)
        cand = pts.join(F.broadcast(cover), "cell_id", "inner")
        refine_case = F.lit(False)
        for p in expr_polys:
            refine_case = F.when(
                F.col("poly_id") == p.poly_id,
                polygon_contains_col(p, lon, lat),
            ).otherwise(refine_case)
        branches.append(
            cand.where(F.col("full") | refine_case).drop("full", "cell_id"))

    if udf_polys:
        bands = edge_bands([(p.outer, p.holes) for p in udf_polys])
        cover = cover_df(spark, udf_polys, zoom, planar_size, with_pidx=True)

        @F.pandas_udf(BooleanType())
        def refine(pidx: pd.Series, px: pd.Series, py: pd.Series) -> pd.Series:
            # every polygon, holes and ring size alike, in one banded pass
            # over the batch — no per-polygon or per-edge loop.  Keyed on
            # the int polygon index: the poly_id string never crosses the
            # Arrow pipe (serialization-bound on this box)
            return pd.Series(banded_contains(
                pidx.to_numpy(dtype=np.int64), px.to_numpy(dtype=np.float64),
                py.to_numpy(dtype=np.float64), bands))

        # broadcast join: scanning the candidate set twice is cheap (no
        # shuffle) and full-cell hits never serialize to Python at all —
        # ``full`` is pushed into the cover side of each branch's join
        cand = pts.join(F.broadcast(cover), "cell_id", "inner")
        boundary_hits = cand.where(
            ~F.col("full") & refine(F.col("pidx"), F.col(lon), F.col(lat)))
        branches.append(cand.where(F.col("full")).unionByName(boundary_hits)
                        .drop("full", "cell_id", "pidx"))

    for p in polar_polys:
        # dense arm: every point through the spherical kernel — correct for
        # the unbounded polar contained-region, parallel, no index
        branches.append(
            points.where(_polar_udf(p)(F.col(lon), F.col(lat)))
            .withColumn("poly_id", F.lit(p.poly_id)))

    if not branches:  # no polygons: no pairs, same columns
        branches.append(points.where(F.lit(False))
                        .withColumn("poly_id", F.lit(None).cast("string")))
    result = branches[0]
    for b in branches[1:]:
        result = result.unionByName(b)
    if keep_flag:
        result = result.withColumn("contained", F.lit(True))
    return result


def contains_flags(
    points: DataFrame,
    poly: PolygonSpec,
    lon: str = "x",
    lat: str = "y",
    flag: str = "contained",
) -> DataFrame:
    """Per-point boolean containment against one polygon — the dense variant
    (every input row kept, flag column added). Used for oracle-checked
    queries and mask-style ops; bypasses the cover (bbox gate only).

    Small non-polar polygons compile to a pure Catalyst winding expression
    (zero Python); other non-polar polygons run ``banded_contains`` behind
    a bbox gate, and polar rings the spherical kernel on every row."""
    xmin, ymin, xmax, ymax = poly.bbox()
    in_bbox = (
        (F.col(lon) >= xmin) & (F.col(lon) <= xmax)
        & (F.col(lat) >= ymin) & (F.col(lat) <= ymax)
    )

    if _expr_able(poly):
        return points.withColumn(
            flag,
            F.when(in_bbox, polygon_contains_col(poly, lon, lat))
            .otherwise(F.lit(False)),
        )

    if poly.polar:
        # no bbox gate: a polar ring's contained region is not bounded by
        # its vertex bbox (see point_in_polygon_join's polar arm) — dense
        return points.withColumn(flag, _polar_udf(poly)(F.col(lon), F.col(lat)))

    bands = edge_bands([(poly.outer, poly.holes)])

    @F.pandas_udf(BooleanType())
    def refine(px: pd.Series, py: pd.Series) -> pd.Series:
        return pd.Series(banded_contains(
            np.zeros(len(px), dtype=np.int64), px.to_numpy(dtype=np.float64),
            py.to_numpy(dtype=np.float64), bands))

    # hard-filter the bbox slice before the Arrow kernel: Spark evaluates a
    # pandas UDF inside F.when() on EVERY row regardless of the branch
    # (conditional evaluation is not short-circuited for Python UDFs), so
    # the when() form would defeat the bbox gate entirely; union the
    # complement back with a constant False flag instead
    inside = points.where(in_bbox).withColumn(
        flag, refine(F.col(lon), F.col(lat)))
    outside = points.where(~in_bbox).withColumn(flag, F.lit(False))
    return inside.unionByName(outside)


def point_in_polygon_join_table(
    points: DataFrame,
    polys: DataFrame,
    zoom: int = 7,
    lon: str = "x",
    lat: str = "y",
    poly_id: str = "poly_id",
    vertices: str = "vertices",
) -> DataFrame:
    """``point_in_polygon_join`` against a polygon *table* (poly_id,
    vertices array<struct<x double, y double>> — outer rings, lonlat).

    The table is collected in one Spark job and its rows become
    ``PolygonSpec``s, so the plan and the scale bound (``MAX_COVER_CELLS``)
    are those of the list variant; the output names the polygon column
    *poly_id*."""
    specs = [PolygonSpec(pid, np.array([[v.x, v.y] for v in ring],
                                       dtype=np.float64), (), "lonlat")
             for pid, ring in polys.select(poly_id, vertices).collect()]
    out = point_in_polygon_join(points, specs, zoom=zoom, lon=lon, lat=lat)
    return (out if poly_id == "poly_id"
            else out.withColumnRenamed("poly_id", poly_id))


def winding_sql(outer: np.ndarray, x_expr: str, y_expr: str) -> str:
    """ANSI-SQL winding-number containment for a *fixed* ring — the DuckDB
    oracle twin of the kernel (same float algebra: cross-product form of
    contains.pyx:11, crossing rules of contains.pyx:25-40). Emits one CASE
    term per edge; suitable for small literal polygons."""
    ring = np.asarray(outer, dtype=np.float64)
    k = len(ring)

    def d(v):
        # explicit DOUBLE literal: bare high-precision literals parse as
        # DECIMAL in DuckDB and overflow DECIMAL(18,17) for |v| >= 10;
        # CAST('repr' AS DOUBLE) is the exact repr->float64 roundtrip
        return f"CAST({v!r} AS DOUBLE)"

    terms = []
    for i in range(k):
        x0, y0 = ring[i]
        x1, y1 = ring[(i + 1) % k]
        left = (f"(({d(x1)} - {d(x0)}) * ({y_expr} - {d(y0)}) "
                f"- ({x_expr} - {d(x0)}) * ({d(y1)} - {d(y0)}))")
        up = f"({d(y0)} <= {y_expr} AND {y_expr} < {d(y1)} AND {left} > 0)"
        down = f"({d(y0)} > {y_expr} AND {y_expr} >= {d(y1)} AND {left} < 0)"
        terms.append(f"(CASE WHEN {up} THEN 1 WHEN {down} THEN -1 ELSE 0 END)")
    return "((" + " + ".join(terms) + ") <> 0)"
