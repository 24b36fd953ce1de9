"""Vectorized numpy geometry kernels.

These are the batch "refine" kernels that run inside pandas/Arrow UDFs after
a coarse cell-keyed join has produced candidates.  Each replicates the exact
float64 algebra of the corresponding karta Cython kernel so that predicate
results are bit-for-bit identical:

- ``winding_contains``   ← reference karta/vector/contains.pyx:13-42
  (winding number; boundary points count as inside, see reference
  tests/vector_predicate_tests.py:165-170); ``banded_contains`` is the
  same test for many polygons at once over a y-banded edge index
- ``isleft``             ← contains.pyx:6-11 (cross-product form)
- ``segment_intersections`` ← karta/vector/intersection.pyx:606-622 primitive,
  brute pairing as in ``all_intersections`` intersection.pyx:41-68
- ``convex_hull``        ← karta/vector/convexhull.pyx:18-82 (Graham-type scan
  from leftmost pivot by azimuth)
- ``positions``          ← karta/raster/crfuncs.pyx:12-33 (inverse affine with
  the -0.5 cell-center convention)
- ``sample_bilinear``    ← crfuncs.pyx:118-157 incl. the integer-index
  splitting rules (crfuncs.pyx:49-67)
- ``mask_poly``          ← karta/raster/grid.py:1304-1384 scanline fill

All functions take/return plain numpy arrays so they can be reused from any
UDF shape (pandas_udf, applyInPandas, mapInPandas) and unit-tested directly.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np


# ---------------------------------------------------------------------------
# point-in-polygon (winding number, boundary-inclusive)
# ---------------------------------------------------------------------------

def isleft(px, py, x0, y0, x1, y1):
    """>0 if (px,py) left of segment (x0,y0)->(x1,y1); 0 on the line.

    Same algebraic form as contains.pyx:11 for float parity.
    """
    return (x1 - x0) * (py - y0) - (px - x0) * (y1 - y0)


def winding_number(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Winding number of each point wrt *ring* (K,2) (not explicitly closed).

    Vectorized over points; loops over the (small) edge count.  Upward
    crossings with point strictly left add 1; downward crossings with point
    strictly right subtract 1 — exactly contains.pyx:25-40.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    cnt = np.zeros(px.shape, dtype=np.int64)
    k = len(ring)
    # a non-finite point gives a NaN cross product (inf - inf), which
    # compares false: the answer is right, so the warning is noise
    with np.errstate(invalid="ignore"):
        for i in range(k):
            x0, y0 = ring[i, 0], ring[i, 1]
            x1, y1 = ring[(i + 1) % k, 0], ring[(i + 1) % k, 1]
            left = isleft(px, py, x0, y0, x1, y1)
            up = (y0 <= py) & (py < y1) & (left > 0)
            down = (y0 > py) & (py >= y1) & (left < 0)
            cnt += up.astype(np.int64)
            cnt -= down.astype(np.int64)
    return cnt


def winding_contains(px, py, ring) -> np.ndarray:
    """Boolean point-in-ring (winding != 0). Boundary counts as inside for
    axis-crossing edge cases per the reference tests."""
    return winding_number(px, py, ring) != 0


# only perfbench's PipRefine.microbench uses this; the refine is banded_contains
def winding_contains_packed(px, py, V) -> np.ndarray:
    """Pair-batched winding test: point i is tested against its OWN ring
    ``V[i]`` where V is (n, K+1, 2) — rings pre-closed (V[i, k] repeats
    V[i, 0]) and padded by repeating the closure vertex, whose degenerate
    edges (y0 == y1) contribute zero winding by construction.

    Same per-edge algebra and edge order as ``winding_number``
    (contains.pyx:25-40), so results are bit-identical; the point of this
    form is batching MANY small polygons through one vectorized pass —
    per-polygon numpy calls measured 8x slower at ~200-row group sizes
    (per-call overhead dominates)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    cnt = np.zeros(px.shape, dtype=np.int64)
    for i in range(V.shape[1] - 1):
        x0, y0 = V[:, i, 0], V[:, i, 1]
        x1, y1 = V[:, i + 1, 0], V[:, i + 1, 1]
        left = (x1 - x0) * (py - y0) - (px - x0) * (y1 - y0)
        cnt += ((y0 <= py) & (py < y1) & (left > 0)).astype(np.int64)
        cnt -= ((y0 > py) & (py >= y1) & (left < 0)).astype(np.int64)
    return cnt != 0


def polygon_contains(px, py, outer, holes=()) -> np.ndarray:
    """Point in polygon-with-holes: inside outer ring and in no hole
    (reference geometry.py:1168-1174 semantics)."""
    inside = winding_contains(px, py, outer)
    for hole in holes or ():
        if len(hole):
            inside &= ~winding_contains(px, py, np.asarray(hole))
    return inside


def ragged(counts):
    """Flat enumeration of ragged ranges: ``(owner, k)`` for every
    ``0 <= k < counts[owner]``, owners ascending — the one expansion the
    cover and banded kernels use in place of per-polygon / per-edge Python
    loops."""
    counts = np.asarray(counts, dtype=np.int64)
    owner = np.repeat(np.arange(counts.size), counts)
    return owner, np.arange(owner.size) - (np.cumsum(counts) - counts)[owner]


def ring_edges(verts):
    """Concatenate (K,2) rings into one implicitly closed edge list:
    returns ``(ring, nxt, x, y)`` — edge i runs from vertex
    ``(x[i], y[i])`` to ``(x[nxt[i]], y[nxt[i]])`` and belongs to ring
    ``ring[i]`` (edges in ring order, winding_number's modulo rule)."""
    klen = np.array([len(v) for v in verts], dtype=np.int64)
    V = (np.concatenate([np.asarray(v, dtype=np.float64).reshape(-1, 2)
                         for v in verts]) if verts else np.empty((0, 2)))
    er, ek = ragged(klen)
    nxt = (np.cumsum(klen) - klen)[er] + (ek + 1) % klen[er]
    return er, nxt, V[:, 0], V[:, 1]


# a band table may list at most this many edges per polygon edge (an edge
# spanning several bands is listed in each); zigzag rings halve their band
# count until they fit
BAND_TABLE_CAP = 8


@dataclass(frozen=True)
class EdgeBands:
    """CSR y-band index of a polygon set (``edge_bands``): polygon p owns
    bands ``base[p] .. base[p] + nb[p] - 1`` of height ``h[p]`` from
    ``ylo[p]``; band g lists edges ``edge[off[g] .. off[g+1] - 1]`` of the
    flat ``x0, y0, x1, y1, ring`` arrays (``ring`` = 0 for the outer ring,
    k for hole k); ``nrings[p]`` counts polygon p's rings.  Listings are
    int32 edge ids, so an edge spanning several bands is stored once."""

    ylo: np.ndarray
    h: np.ndarray
    nb: np.ndarray
    base: np.ndarray
    off: np.ndarray
    edge: np.ndarray
    x0: np.ndarray
    y0: np.ndarray
    x1: np.ndarray
    y1: np.ndarray
    ring: np.ndarray
    nrings: np.ndarray


def _band(v, ylo, h, nb):
    """``clip(floor((v - ylo) / h), 0, nb - 1)``, NaN to band 0.  Monotone
    in ``v``: an edge listed from band(min y) to band(max y) is in the
    band of every y its half-open span holds."""
    with np.errstate(over="ignore"):  # a huge v / tiny h clips to nb - 1
        f = np.floor((v - ylo) / h)
    return np.fmin(np.fmax(f, 0.0), nb - 1).astype(np.int64)


def edge_bands(polys) -> EdgeBands:
    """Build the y-banded edge index of ``polys`` — a sequence of
    ``(outer, holes)`` ring pairs — for ``banded_contains``.

    Each polygon's y-extent is cut into ``ceil(edges / 4)`` bands and every
    edge is listed in each band from ``band(min y)`` to ``band(max y)``.
    A ring whose edges span many bands (a zigzag) would make the table
    quadratic, so a polygon listing more than ``BAND_TABLE_CAP`` x its
    edge count halves its band count until it fits.  Horizontal and NaN-y
    edges never add winding and are not listed; a polygon without a
    finite, positive y-extent gets one band.  One numpy pass over every
    edge of every ring — no per-polygon loop."""
    rings = [(j, k, r) for j, (outer, holes) in enumerate(polys)
             for k, r in enumerate((outer, *holes))]
    P = len(polys)
    nrings = np.bincount(np.array([j for j, _, _ in rings], dtype=np.int64),
                         minlength=P)
    er, nxt, x, y = ring_edges([r for _, _, r in rings])
    ep = np.array([j for j, _, _ in rings], dtype=np.int64)[er]
    lr = np.array([k for _, k, _ in rings], dtype=np.int64)[er]
    x0, y0, x1, y1 = x, y, x[nxt], y[nxt]
    emin, emax = np.minimum(y0, y1), np.maximum(y0, y1)
    keep = np.flatnonzero(emin < emax)
    ep, lr, emin, emax = ep[keep], lr[keep], emin[keep], emax[keep]
    x0, y0, x1, y1 = x0[keep], y0[keep], x1[keep], y1[keep]

    ylo = np.full(P, np.inf)
    yhi = np.full(P, -np.inf)
    np.minimum.at(ylo, ep, emin)
    np.maximum.at(yhi, ep, emax)
    ne = np.bincount(ep, minlength=P)
    span = yhi - ylo
    ok = np.isfinite(span) & (span > 0)
    nb = np.where(ok, np.maximum(-(-ne // 4), 1), 1)
    while True:
        h = np.where(ok, span / nb, 1.0)
        nb = np.where(h > 0, nb, 1)  # a subnormal span: one band
        h = np.where(h > 0, h, 1.0)
        b0 = _band(emin, ylo[ep], h[ep], nb[ep])
        b1 = _band(emax, ylo[ep], h[ep], nb[ep])
        size = np.bincount(ep, weights=b1 - b0 + 1, minlength=P)
        over = size > BAND_TABLE_CAP * ne
        if not over.any():
            break
        nb = np.where(over, np.maximum(nb // 2, 1), nb)

    base = np.cumsum(nb) - nb
    q, k = ragged(b1 - b0 + 1)
    g = base[ep[q]] + b0[q] + k
    off = np.zeros(int(nb.sum()) + 1, dtype=np.int64)
    np.cumsum(np.bincount(g, minlength=off.size - 1), out=off[1:])
    return EdgeBands(ylo=ylo, h=h, nb=nb, base=base, off=off,
                     edge=q[np.argsort(g)].astype(np.int32),
                     x0=x0, y0=y0, x1=x1, y1=y1, ring=lr.astype(np.int32),
                     nrings=nrings)


def banded_contains(pidx, px, py, bands: EdgeBands) -> np.ndarray:
    """Point i in polygon ``pidx[i]`` of an ``edge_bands`` index.

    Each point meets only the edges listed in its own y-band; every other
    edge's half-open ``[min y, max y)`` span misses the point's y and adds
    exactly 0 winding.  The surviving (point, edge) pairs run
    winding_number's ``isleft`` algebra and up/down rules, one bincount per
    (point, ring) sums them, and a point is inside when its outer winding
    is non-zero and no hole's is — ``polygon_contains`` bit for bit."""
    pidx = np.asarray(pidx, dtype=np.int64)
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    g = bands.base[pidx] + _band(py, bands.ylo[pidx], bands.h[pidx],
                                 bands.nb[pidx])
    start = bands.off[g]
    q, k = ragged(bands.off[g + 1] - start)
    e = bands.edge[start[q] + k]
    qx, qy = px[q], py[q]
    x0, y0, x1, y1 = bands.x0[e], bands.y0[e], bands.x1[e], bands.y1[e]
    with np.errstate(invalid="ignore"):  # non-finite point: NaN, as in winding_number
        left = (x1 - x0) * (qy - y0) - (qx - x0) * (y1 - y0)
    up = (y0 <= qy) & (qy < y1) & (left > 0)
    down = (y0 > qy) & (qy >= y1) & (left < 0)
    # winding per (point, ring): point i's rings start at rbase[i]
    nr = bands.nrings[pidx]
    rbase = np.cumsum(nr) - nr
    key = rbase[q] + bands.ring[e]
    m = int(nr.sum())
    wind = (np.bincount(key[up], minlength=m)
            - np.bincount(key[down], minlength=m))
    rr, rl = ragged(nr)
    nz = wind != 0
    inside = np.zeros(pidx.size, dtype=bool)
    inside[rr[nz & (rl == 0)]] = True  # in the outer ring ...
    inside[rr[nz & (rl > 0)]] = False  # ... and in no hole
    return inside


# ---------------------------------------------------------------------------
# segment intersection
# ---------------------------------------------------------------------------

def _cross(ox, oy, ax, ay, bx, by):
    return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)


def segments_intersect(
    ax0, ay0, ax1, ay1, bx0, by0, bx1, by1
) -> np.ndarray:
    """Vectorized proper-or-touching segment intersection test.

    Equivalent decision to the reference ``intersection`` primitive
    (intersection.pyx:606-622): parametric solve; parallel/collinear
    overlap counts as intersecting when bounding intervals overlap.
    """
    ax0 = np.asarray(ax0, dtype=np.float64)
    d1x, d1y = ax1 - ax0, ay1 - ay0
    d2x, d2y = bx1 - bx0, by1 - by0
    denom = d1x * d2y - d1y * d2x
    # non-parallel case: 0 <= t,u <= 1
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((bx0 - ax0) * d2y - (by0 - ay0) * d2x) / denom
        u = ((bx0 - ax0) * d1y - (by0 - ay0) * d1x) / denom
    nonpar = denom != 0
    hit = nonpar & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)

    # parallel: collinear and interval-overlapping
    par = ~nonpar
    if np.any(par):
        collinear = par & (_cross(ax0, ay0, ax1, ay1, bx0, by0) == 0)
        lo_ax = np.minimum(ax0, ax1); hi_ax = np.maximum(ax0, ax1)
        lo_ay = np.minimum(ay0, ay1); hi_ay = np.maximum(ay0, ay1)
        lo_bx = np.minimum(bx0, bx1); hi_bx = np.maximum(bx0, bx1)
        lo_by = np.minimum(by0, by1); hi_by = np.maximum(by0, by1)
        overlap = (lo_ax <= hi_bx) & (lo_bx <= hi_ax) & \
                  (lo_ay <= hi_by) & (lo_by <= hi_ay)
        hit = hit | (collinear & overlap)
    return hit


def segment_intersection_points(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1):
    """Intersection points for non-parallel crossing segment pairs.

    Returns (xs, ys, valid) arrays; ``valid`` False where no crossing or
    parallel (matches all_intersections which yields NaN for parallel,
    intersection.pyx:41-68).
    """
    ax0 = np.asarray(ax0, dtype=np.float64)
    d1x, d1y = ax1 - ax0, ay1 - ay0
    d2x, d2y = bx1 - bx0, by1 - by0
    denom = d1x * d2y - d1y * d2x
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((bx0 - ax0) * d2y - (by0 - ay0) * d2x) / denom
        u = ((bx0 - ax0) * d1y - (by0 - ay0) * d1x) / denom
    valid = (denom != 0) & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
    with np.errstate(invalid="ignore"):
        xs = ax0 + t * d1x
        ys = ay0 + t * d1y
    return xs, ys, valid


def _ref_sph2cart(lon, lat):
    """Reference sph2cart frame (vectorgeo.pyx:132-138): theta = 90 - lat."""
    theta = math.radians(90.0 - lat)
    lam = math.radians(lon)
    return (math.sin(theta) * math.cos(lam),
            math.sin(theta) * math.sin(lam),
            math.cos(theta))


def _ref_cross3(u, v):
    """Reference cross3 (vectorgeo.pyx:28-29). NOTE: the y component is NOT
    negated — this is not a mathematical cross product, but the spherical
    intersection tests are built on it consistently, so we replicate."""
    return (u[1] * v[2] - u[2] * v[1],
            u[0] * v[2] - u[2] * v[0],
            u[0] * v[1] - u[1] * v[0])


def _ref_cart2sph(a):
    """Reference cart2sph (vectorgeo.pyx:141-153) incl. its 1e-8 branches."""
    x, y, z = a
    if abs(x) > 1e-8:
        lon = math.atan2(y, x)
    else:
        lon = math.asin(y / math.sqrt(x * x + y * y))
    if abs(z) > 1e-8:
        lat = 0.5 * math.pi - math.atan(math.sqrt(x * x + y * y) / z)
    else:
        lat = 0.5 * math.pi - math.acos(z / math.sqrt(x * x + y * y + z * z))
    return math.degrees(lon), math.degrees(lat)


def _isbetween_inc(a, b, c):
    return min(a, c) <= b <= max(a, c)


def _intersection_meridian(x0, x1, y0, y1, xmeridian):
    """Latitude where the geodesic (x0,y0)->(x1,y1) crosses *xmeridian* —
    replica of intersection.pyx:567-583; NaN if outside the segment."""
    ep1 = _ref_cross3(_ref_sph2cart(x0, y0), _ref_sph2cart(x1, y1))
    ep2 = (math.sin(math.radians(xmeridian)), math.cos(math.radians(xmeridian)), 0.0)
    try:
        nlon, nlat = _ref_cart2sph(_ref_cross3(ep1, ep2))
    except (ValueError, ZeroDivisionError):
        return float("nan")
    nlon = (nlon + 180.0) % 360.0 - 180.0
    nlat = (nlat + 90.0) % 180.0 - 90.0
    anti = (nlon + 360.0) % 360.0 - 180.0
    if _isbetween_inc(x0, nlon, x1):
        return nlat
    if _isbetween_inc(x0, anti, x1):
        return -nlat
    return float("nan")


def segment_intersects_sph(x0, y0, x1, y1, x2, y2, x3, y3) -> bool:
    """Spherical segment crossing test — replica of _intersects_sph
    (intersection.pyx:553-564): great circles' 'euler pole' cross, candidate
    longitude (or its antipode) must fall in both segments' lon spans.
    Vertical (meridian) segments take the reference sweep's special path
    (event kinds 2/3, intersection.pyx:308-322 via intersection_meridian)."""
    if x0 == x1 and x2 == x3:
        # two meridian segments: cross only if same meridian and lat overlap
        return x0 == x2 and min(y0, y1) <= max(y2, y3) and min(y2, y3) <= max(y0, y1)
    if x2 == x3:
        lat = _intersection_meridian(x0, x1, y0, y1, x2)
        return not math.isnan(lat) and min(y2, y3) <= lat <= max(y2, y3)
    if x0 == x1:
        lat = _intersection_meridian(x2, x3, y2, y3, x0)
        return not math.isnan(lat) and min(y0, y1) <= lat <= max(y0, y1)
    ep1 = _ref_cross3(_ref_sph2cart(x0, y0), _ref_sph2cart(x1, y1))
    ep2 = _ref_cross3(_ref_sph2cart(x2, y2), _ref_sph2cart(x3, y3))
    try:
        nlon, _ = _ref_cart2sph(_ref_cross3(ep1, ep2))
    except (ValueError, ZeroDivisionError):
        return False
    anti = (nlon + 360.0) % 360.0 - 180.0
    if _isbetween_inc(x0, nlon, x1) and _isbetween_inc(x2, nlon, x3):
        return True
    if _isbetween_inc(x0, anti, x1) and _isbetween_inc(x2, anti, x3):
        return True
    return False


def polyline_intersects_sph(a: np.ndarray, b: np.ndarray,
                            a_closed=False, b_closed=False) -> bool:
    """Geodesic polyline intersection (SphericalEarth ``intersects``):
    longitudes reduced to [-180, 180) (as the reference's spherical sweep
    normalizes, intersection.pyx:342-380), then brute pairwise euler-pole
    tests over the segments."""
    a = np.asarray(a, dtype=np.float64).copy()
    b = np.asarray(b, dtype=np.float64).copy()
    a[:, 0] = np.mod(a[:, 0] + 180.0, 360.0) - 180.0
    b[:, 0] = np.mod(b[:, 0] + 180.0, 360.0) - 180.0
    if a_closed:
        a = np.vstack([a, a[:1]])
    if b_closed:
        b = np.vstack([b, b[:1]])
    for i in range(len(a) - 1):
        for j in range(len(b) - 1):
            if segment_intersects_sph(a[i, 0], a[i, 1], a[i + 1, 0], a[i + 1, 1],
                                      b[j, 0], b[j, 1], b[j + 1, 0], b[j + 1, 1]):
                return True
    return False


def polyline_intersects(a: np.ndarray, b: np.ndarray, a_closed=False, b_closed=False) -> bool:
    """Do two vertex strings (N,2)/(M,2) intersect? Brute vectorized
    all-pairs segment test (beats a sweep under numpy vectorization for the
    candidate sizes a cell join produces; see SURVEY §2.3)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if a_closed:
        a = np.vstack([a, a[:1]])
    if b_closed:
        b = np.vstack([b, b[:1]])
    if len(a) < 2 or len(b) < 2:
        return False
    ax0, ay0 = a[:-1, 0], a[:-1, 1]
    ax1, ay1 = a[1:, 0], a[1:, 1]
    bx0, by0 = b[:-1, 0], b[:-1, 1]
    bx1, by1 = b[1:, 0], b[1:, 1]
    # broadcast (n_a, 1) x (1, n_b)
    hit = segments_intersect(
        ax0[:, None], ay0[:, None], ax1[:, None], ay1[:, None],
        bx0[None, :], by0[None, :], bx1[None, :], by1[None, :],
    )
    return bool(np.any(hit))


def _flat_segments(xs_seq, ys_seq, closed: bool):
    """Flatten per-member vertex arrays into segment-endpoint arrays.

    Returns (sx0, sy0, sx1, sy1, owner).  Replicates polyline_intersects'
    closure rule exactly: a closed member appends its first vertex (so a
    1-vertex closed member yields one degenerate segment), members with
    <2 effective vertices yield no segments."""
    n = len(xs_seq)
    if n == 0:
        e = np.empty(0, dtype=np.float64)
        return e, e, e, e, np.empty(0, dtype=np.int64)
    arrs_x = [np.asarray(v, dtype=np.float64) for v in xs_seq]
    arrs_y = [np.asarray(v, dtype=np.float64) for v in ys_seq]
    lens = np.fromiter((len(v) for v in arrs_x), dtype=np.int64, count=n)
    X = np.concatenate(arrs_x) if lens.sum() else np.empty(0)
    Y = np.concatenate(arrs_y) if lens.sum() else np.empty(0)
    offsets = np.concatenate([[0], np.cumsum(lens)[:-1]])
    # open segments: every vertex except each member's last starts one
    keep = np.ones(len(X), dtype=bool)
    nonempty = lens > 0
    keep[(offsets + lens - 1)[nonempty]] = False
    starts = np.flatnonzero(keep)
    owner = np.repeat(np.arange(n), np.maximum(lens - 1, 0))
    sx0, sy0 = X[starts], Y[starts]
    sx1, sy1 = X[starts + 1], Y[starts + 1]
    if closed:
        m = np.flatnonzero(nonempty)
        last = (offsets + lens - 1)[m]
        first = offsets[m]
        sx0 = np.concatenate([sx0, X[last]])
        sy0 = np.concatenate([sy0, Y[last]])
        sx1 = np.concatenate([sx1, X[first]])
        sy1 = np.concatenate([sy1, Y[first]])
        owner = np.concatenate([owner, m])
        # regroup so each member's segments are contiguous (stable: keeps
        # the open-then-closure order of the reference's vstack form) —
        # polyline_pairs_intersect indexes members by contiguous ranges
        order = np.argsort(owner, kind="stable")
        sx0, sy0 = sx0[order], sy0[order]
        sx1, sy1 = sx1[order], sy1[order]
        owner = owner[order]
    return sx0, sy0, sx1, sy1, owner


def polylines_intersect_target(xs_seq, ys_seq, closed: bool, target,
                               t_closed: bool, chunk: int = 1 << 22) -> np.ndarray:
    """Batched ``polyline_intersects(member_i, target)`` for MANY members in
    one vectorized pass: all members' segments are flattened and tested
    against the target's segments in chunks, then OR-reduced per member.
    Decision-identical to calling polyline_intersects per member (same
    segments_intersect primitive on the same endpoint pairs) without the
    per-member Python call overhead."""
    n = len(xs_seq)
    out = np.zeros(n, dtype=bool)
    t = np.asarray(target, dtype=np.float64)
    if t_closed and len(t):
        t = np.vstack([t, t[:1]])
    if len(t) < 2 or n == 0:
        return out
    sx0, sy0, sx1, sy1, owner = _flat_segments(xs_seq, ys_seq, closed)
    if not len(sx0):
        return out
    bx0, by0 = t[:-1, 0][None, :], t[:-1, 1][None, :]
    bx1, by1 = t[1:, 0][None, :], t[1:, 1][None, :]
    step = max(1, chunk // t.shape[0])
    for s in range(0, len(sx0), step):
        e = s + step
        hit = segments_intersect(
            sx0[s:e, None], sy0[s:e, None], sx1[s:e, None], sy1[s:e, None],
            bx0, by0, bx1, by1).any(axis=1)
        if hit.any():
            out |= np.bincount(owner[s:e][hit], minlength=n).astype(bool)
    return out


def polyline_pairs_intersect(axs, ays, bxs, bys, a_closed: bool,
                             b_closed: bool, chunk: int = 1 << 22) -> np.ndarray:
    """Batched ``polyline_intersects(a_i, b_i)`` over row-aligned pairs of
    vertex arrays: per-pair segment cross-products are laid out flat and
    tested in one chunked segments_intersect call.  Decision-identical to
    the per-pair kernel."""
    n = len(axs)
    out = np.zeros(n, dtype=bool)
    if n == 0:
        return out
    asx0, asy0, asx1, asy1, aown = _flat_segments(axs, ays, a_closed)
    bsx0, bsy0, bsx1, bsy1, bown = _flat_segments(bxs, bys, b_closed)
    na = np.bincount(aown, minlength=n)
    nb = np.bincount(bown, minlength=n)
    ao = np.concatenate([[0], np.cumsum(na)[:-1]])
    bo = np.concatenate([[0], np.cumsum(nb)[:-1]])
    prod = na * nb
    total = int(prod.sum())
    if total == 0:
        return out
    po = np.concatenate([[0], np.cumsum(prod)[:-1]])
    # process pairs in runs whose summed products stay under *chunk*
    i = 0
    while i < n:
        j = i
        acc = 0
        while j < n and (acc + prod[j] <= chunk or j == i):
            acc += prod[j]
            j += 1
        if acc:
            pair_of = np.repeat(np.arange(i, j), prod[i:j])
            t = np.arange(acc) - (po[pair_of] - po[i])
            ai = ao[pair_of] + t // nb[pair_of]
            bi = bo[pair_of] + t % nb[pair_of]
            hit = segments_intersect(
                asx0[ai], asy0[ai], asx1[ai], asy1[ai],
                bsx0[bi], bsy0[bi], bsx1[bi], bsy1[bi])
            if hit.any():
                out |= np.bincount(pair_of[hit], minlength=n).astype(bool)
        i = j
    return out


def polylines_intersection_points_target(xs_seq, ys_seq, closed: bool,
                                         target, t_closed: bool,
                                         chunk: int = 1 << 22):
    """Batched ``polyline_intersection_points(member_i, target)``: returns
    (owner, ix, iy) arrays over all members at once (may contain dups —
    caller dedups, matching the reference's set() dedup)."""
    t = np.asarray(target, dtype=np.float64)
    if t_closed and len(t):
        t = np.vstack([t, t[:1]])
    e = np.empty(0)
    if len(t) < 2 or len(xs_seq) == 0:
        return np.empty(0, dtype=np.int64), e, e
    sx0, sy0, sx1, sy1, owner = _flat_segments(xs_seq, ys_seq, closed)
    if not len(sx0):
        return np.empty(0, dtype=np.int64), e, e
    bx0, by0 = t[:-1, 0][None, :], t[:-1, 1][None, :]
    bx1, by1 = t[1:, 0][None, :], t[1:, 1][None, :]
    owners, pxs, pys = [], [], []
    step = max(1, chunk // t.shape[0])
    for s in range(0, len(sx0), step):
        en = s + step
        xs, ys, valid = segment_intersection_points(
            sx0[s:en, None], sy0[s:en, None], sx1[s:en, None], sy1[s:en, None],
            bx0, by0, bx1, by1)
        r, c = np.nonzero(valid)
        if len(r):
            owners.append(owner[s:en][r])
            pxs.append(xs[r, c])
            pys.append(ys[r, c])
    if not owners:
        return np.empty(0, dtype=np.int64), e, e
    return (np.concatenate(owners), np.concatenate(pxs), np.concatenate(pys))


def polyline_intersection_points(a, b, a_closed=False, b_closed=False):
    """All pairwise intersection points between two vertex strings.

    Matches ``Geometry.intersections`` (geometry.py:698-723) brute
    all-pairs semantics. Returns (N,2) float array (may contain dups;
    caller dedups — reference dedups via set())."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if a_closed:
        a = np.vstack([a, a[:1]])
    if b_closed:
        b = np.vstack([b, b[:1]])
    ax0, ay0 = a[:-1, 0][:, None], a[:-1, 1][:, None]
    ax1, ay1 = a[1:, 0][:, None], a[1:, 1][:, None]
    bx0, by0 = b[:-1, 0][None, :], b[:-1, 1][None, :]
    bx1, by1 = b[1:, 0][None, :], b[1:, 1][None, :]
    xs, ys, valid = segment_intersection_points(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1)
    return np.column_stack([xs[valid], ys[valid]])


# ---------------------------------------------------------------------------
# convex hull (planar Graham-type scan, leftmost pivot — convexhull.pyx:18-82)
# ---------------------------------------------------------------------------

def convex_hull(pts: np.ndarray) -> np.ndarray:
    """Indices of convex hull vertices in counterclockwise order.

    Andrew's monotone chain (same hull set as the reference's azimuthal
    Graham scan; vertex membership is what the reference tests assert)."""
    pts = np.asarray(pts, dtype=np.float64)
    n = len(pts)
    if n < 3:
        return np.arange(n)
    order = np.lexsort((pts[:, 1], pts[:, 0]))

    def half(indices):
        out = []
        for idx in indices:
            while len(out) >= 2:
                o, a = pts[out[-2]], pts[out[-1]]
                if _cross(o[0], o[1], a[0], a[1], pts[idx][0], pts[idx][1]) <= 0:
                    out.pop()
                else:
                    break
            out.append(idx)
        return out

    lower = half(order)
    upper = half(order[::-1])
    return np.array(lower[:-1] + upper[:-1], dtype=np.int64)


WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563


def vincenty_inverse(lon1, lat1, lon2, lat2, a=WGS84_A, f=WGS84_F,
                     tol=1e-12, max_iter=200):
    """Vincenty's inverse geodesic problem on the ellipsoid, vectorized.

    Returns (fwd_azimuth_deg, back_azimuth_deg, distance_m). The reference
    delegates ellipsoidal geodesy to pyproj at runtime (crs.py:234-243);
    this is the self-contained classical iteration (non-convergent
    near-antipodal pairs fall back to the spherical two-branch distance).
    """
    lon1 = np.atleast_1d(np.asarray(lon1, dtype=np.float64))
    lat1 = np.atleast_1d(np.asarray(lat1, dtype=np.float64))
    lon2 = np.atleast_1d(np.asarray(lon2, dtype=np.float64))
    lat2 = np.atleast_1d(np.asarray(lat2, dtype=np.float64))
    b = a * (1 - f)
    U1 = np.arctan((1 - f) * np.tan(np.radians(lat1)))
    U2 = np.arctan((1 - f) * np.tan(np.radians(lat2)))
    L = np.radians(lon2 - lon1)
    lam = L.copy()
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)
    converged = np.zeros(lam.shape, dtype=bool)
    sin_sigma = np.zeros_like(lam); cos_sigma = np.ones_like(lam)
    sigma = np.zeros_like(lam); cos_sq_alpha = np.ones_like(lam)
    cos2sm = np.zeros_like(lam)
    for _ in range(max_iter):
        sin_lam, cos_lam = np.sin(lam), np.cos(lam)
        sin_sigma = np.sqrt((cosU2 * sin_lam) ** 2
                            + (cosU1 * sinU2 - sinU1 * cosU2 * cos_lam) ** 2)
        cos_sigma = sinU1 * sinU2 + cosU1 * cosU2 * cos_lam
        sigma = np.arctan2(sin_sigma, cos_sigma)
        with np.errstate(divide="ignore", invalid="ignore"):
            sin_alpha = np.where(sin_sigma != 0,
                                 cosU1 * cosU2 * sin_lam / sin_sigma, 0.0)
        cos_sq_alpha = 1 - sin_alpha ** 2
        with np.errstate(divide="ignore", invalid="ignore"):
            cos2sm = np.where(cos_sq_alpha != 0,
                              cos_sigma - 2 * sinU1 * sinU2 / cos_sq_alpha, 0.0)
        C = f / 16 * cos_sq_alpha * (4 + f * (4 - 3 * cos_sq_alpha))
        lam_new = L + (1 - C) * f * sin_alpha * (
            sigma + C * sin_sigma * (cos2sm + C * cos_sigma * (-1 + 2 * cos2sm ** 2)))
        converged = np.abs(lam_new - lam) < tol
        lam = lam_new
        if converged.all():
            break
    u_sq = cos_sq_alpha * (a * a - b * b) / (b * b)
    A = 1 + u_sq / 16384 * (4096 + u_sq * (-768 + u_sq * (320 - 175 * u_sq)))
    B = u_sq / 1024 * (256 + u_sq * (-128 + u_sq * (74 - 47 * u_sq)))
    dsig = B * sin_sigma * (cos2sm + B / 4 * (
        cos_sigma * (-1 + 2 * cos2sm ** 2)
        - B / 6 * cos2sm * (-3 + 4 * sin_sigma ** 2) * (-3 + 4 * cos2sm ** 2)))
    dist = b * A * (sigma - dsig)
    sin_lam, cos_lam = np.sin(lam), np.cos(lam)
    az = np.degrees(np.arctan2(cosU2 * sin_lam,
                               cosU1 * sinU2 - sinU1 * cosU2 * cos_lam))
    baz = np.degrees(np.arctan2(cosU1 * sin_lam,
                                -sinU1 * cosU2 + cosU1 * sinU2 * cos_lam))
    # non-convergent (near-antipodal) -> spherical fallback for distance
    if not converged.all():
        fb = sphere_distance(lon1, lat1, lon2, lat2)
        dist = np.where(converged, dist, fb)
    # coincident points
    dist = np.where(sin_sigma == 0, 0.0, dist)
    return az, baz, dist


def vincenty_forward(lon1, lat1, az_deg, dist_m, a=WGS84_A, f=WGS84_F,
                     tol=1e-12, max_iter=200):
    """Vincenty's direct geodesic problem (the reference's ``walk``,
    geometry.py:232-258, which delegates to pyproj fwd). Vectorized.

    Returns (lon2, lat2, back_azimuth_deg)."""
    lon1 = np.atleast_1d(np.asarray(lon1, dtype=np.float64))
    lat1 = np.atleast_1d(np.asarray(lat1, dtype=np.float64))
    az = np.radians(np.atleast_1d(np.asarray(az_deg, dtype=np.float64)))
    s = np.atleast_1d(np.asarray(dist_m, dtype=np.float64))
    b = a * (1 - f)
    U1 = np.arctan((1 - f) * np.tan(np.radians(lat1)))
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    cos_az, sin_az = np.cos(az), np.sin(az)
    tan_sigma1 = np.tan(U1) / np.where(cos_az == 0, 1e-300, cos_az)
    sigma1 = np.arctan(tan_sigma1)
    sin_alpha = cosU1 * sin_az
    cos_sq_alpha = 1 - sin_alpha ** 2
    u_sq = cos_sq_alpha * (a * a - b * b) / (b * b)
    A = 1 + u_sq / 16384 * (4096 + u_sq * (-768 + u_sq * (320 - 175 * u_sq)))
    B = u_sq / 1024 * (256 + u_sq * (-128 + u_sq * (74 - 47 * u_sq)))
    sigma = s / (b * A)
    for _ in range(max_iter):
        two_sm = 2 * sigma1 + sigma
        cos2sm = np.cos(two_sm)
        sin_sigma, cos_sigma = np.sin(sigma), np.cos(sigma)
        dsig = B * sin_sigma * (cos2sm + B / 4 * (
            cos_sigma * (-1 + 2 * cos2sm ** 2)
            - B / 6 * cos2sm * (-3 + 4 * sin_sigma ** 2) * (-3 + 4 * cos2sm ** 2)))
        new_sigma = s / (b * A) + dsig
        if np.all(np.abs(new_sigma - sigma) < tol):
            sigma = new_sigma
            break
        sigma = new_sigma
    sin_sigma, cos_sigma = np.sin(sigma), np.cos(sigma)
    two_sm = 2 * sigma1 + sigma
    cos2sm = np.cos(two_sm)
    lat2 = np.arctan2(
        sinU1 * cos_sigma + cosU1 * sin_sigma * cos_az,
        (1 - f) * np.sqrt(sin_alpha ** 2
                          + (sinU1 * sin_sigma - cosU1 * cos_sigma * cos_az) ** 2))
    lam = np.arctan2(sin_sigma * sin_az,
                     cosU1 * cos_sigma - sinU1 * sin_sigma * cos_az)
    C = f / 16 * cos_sq_alpha * (4 + f * (4 - 3 * cos_sq_alpha))
    L = lam - (1 - C) * f * sin_alpha * (
        sigma + C * sin_sigma * (cos2sm + C * cos_sigma * (-1 + 2 * cos2sm ** 2)))
    lon2 = (lon1 + np.degrees(L) + 540.0) % 360.0 - 180.0
    baz = np.degrees(np.arctan2(sin_alpha,
                                -(sinU1 * sin_sigma - cosU1 * cos_sigma * cos_az)))
    return lon2, np.degrees(lat2), baz


def to_points_geodesic(vertices, dx: float, a=WGS84_A, f=WGS84_F) -> np.ndarray:
    """Geodesic ``Line.to_points`` — exact replica of the reference walk
    (geometry.py:890-918) on the ellipsoid: per segment, the initial
    azimuth is computed ONCE at the segment start and re-applied from each
    successive sample (so the path drifts off the geodesic, as karta's
    does — see the -10.80 overshoot in tests/geometry_tests.py:517-525);
    the leftover distance to the segment end carries into the next segment.
    """
    v = np.asarray(vertices, dtype=np.float64)
    remainder = 0.0
    pt = (float(v[0, 0]), float(v[0, 1]))
    out = [pt]
    for k in range(len(v) - 1):
        s0 = (float(v[k, 0]), float(v[k, 1]))
        s1 = (float(v[k + 1, 0]), float(v[k + 1, 1]))
        az0, _, seg_len = vincenty_inverse(s0[0], s0[1], s1[0], s1[1], a=a, f=f)
        az0, seg_len = float(az0[0]), float(seg_len[0])
        pos = 0.0
        while pos < seg_len:
            _, _, d_end = vincenty_inverse(pt[0], pt[1], s1[0], s1[1], a=a, f=f)
            d_end = float(d_end[0])
            if d_end >= dx:
                lon2, lat2, _ = vincenty_forward(pt[0], pt[1], az0, dx - remainder, a=a, f=f)
                pt = (float(lon2[0]), float(lat2[0]))
                pos += dx - remainder
                out.append(pt)
                remainder = 0.0
            else:
                remainder = d_end
                pos = seg_len
                pt = s1
    return np.asarray(out, dtype=np.float64)


def to_npoints_geodesic(vertices, n: int, a=WGS84_A, f=WGS84_F) -> np.ndarray:
    """Geodesic ``Line.to_npoints`` — exact replica of the reference walk
    (geometry.py:920-960): n equally spaced points at step Ltotal/(n-1);
    the azimuth is recomputed each iteration from the CURRENT position to
    the segment end (the reference mutates seg._vertices[0]), segment
    budgets are tracked by subtraction (not re-measurement), the loop ends
    at Ltotal - 1e-8 and appends the final vertex when the walk terminates
    one point short — all faithfully copied, drift included."""
    v = np.asarray(vertices, dtype=np.float64)
    nseg = len(v) - 1
    seglens = []
    for k in range(nseg):
        _, _, d = vincenty_inverse(v[k, 0], v[k, 1], v[k + 1, 0], v[k + 1, 1],
                                   a=a, f=f)
        seglens.append(float(d[0]))
    ltotal = float(np.sum(seglens))
    step = ltotal / float(n - 1)
    step_remaining = step
    pos = (float(v[0, 0]), float(v[0, 1]))
    out = [pos]
    x = 0.0
    k = 0
    s0 = (float(v[0, 0]), float(v[0, 1]))
    s1 = (float(v[1, 0]), float(v[1, 1]))
    seg_remaining = seglens[0]
    while x < ltotal - 1e-8:
        az, _, _ = vincenty_inverse(s0[0], s0[1], s1[0], s1[1], a=a, f=f)
        az = float(az[0])
        if step_remaining <= seg_remaining:
            lon2, lat2, _ = vincenty_forward(pos[0], pos[1], az,
                                             step_remaining, a=a, f=f)
            pos = (float(lon2[0]), float(lat2[0]))
            x += step_remaining
            seg_remaining -= step_remaining
            step_remaining = step
            out.append(pos)
            s0 = pos
        else:
            pos = s1
            x += seg_remaining
            step_remaining -= seg_remaining
            k += 1
            if k < nseg:  # next(segments, seg): exhausted -> keep current
                s0 = (float(v[k, 0]), float(v[k, 1]))
                s1 = (float(v[k + 1, 0]), float(v[k + 1, 1]))
            _, _, d = vincenty_inverse(s0[0], s0[1], s1[0], s1[1], a=a, f=f)
            seg_remaining = float(d[0])
    if len(out) == n - 1:
        out.append(s1)
    return np.asarray(out, dtype=np.float64)


def sphere_walk(lon, lat, az_deg, dist_m, radius=None):
    """Spherical destination point (forward problem on the sphere)."""
    if radius is None:
        radius = R_SPHERE
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    az = np.radians(np.asarray(az_deg, dtype=np.float64))
    d = np.asarray(dist_m, dtype=np.float64) / radius
    lat2 = np.arcsin(np.sin(lat) * np.cos(d) + np.cos(lat) * np.sin(d) * np.cos(az))
    lon2 = lon + np.arctan2(np.sin(az) * np.sin(d) * np.cos(lat),
                            np.cos(d) - np.sin(lat) * np.sin(lat2))
    lon2 = (np.degrees(lon2) + 540.0) % 360.0 - 180.0
    return lon2, np.degrees(lat2)


def _vincenty_inverse_scalar(lon1, lat1, lon2, lat2, a=WGS84_A, f=WGS84_F,
                             tol=1e-12, max_iter=200):
    """Pure-scalar Vincenty inverse (math module — ~10x faster than the
    vectorized path for single points; used by the bisection loops).
    Returns (az_deg, dist_m)."""
    b = a * (1 - f)
    U1 = math.atan((1 - f) * math.tan(math.radians(lat1)))
    U2 = math.atan((1 - f) * math.tan(math.radians(lat2)))
    L = math.radians(lon2 - lon1)
    lam = L
    sinU1, cosU1 = math.sin(U1), math.cos(U1)
    sinU2, cosU2 = math.sin(U2), math.cos(U2)
    sin_sigma = 0.0
    cos_sigma = 1.0
    sigma = cos_sq_alpha = cos2sm = 0.0
    for _ in range(max_iter):
        sin_lam, cos_lam = math.sin(lam), math.cos(lam)
        sin_sigma = math.sqrt((cosU2 * sin_lam) ** 2
                              + (cosU1 * sinU2 - sinU1 * cosU2 * cos_lam) ** 2)
        if sin_sigma == 0:
            return 0.0, 0.0
        cos_sigma = sinU1 * sinU2 + cosU1 * cosU2 * cos_lam
        sigma = math.atan2(sin_sigma, cos_sigma)
        sin_alpha = cosU1 * cosU2 * sin_lam / sin_sigma
        cos_sq_alpha = 1 - sin_alpha ** 2
        cos2sm = (cos_sigma - 2 * sinU1 * sinU2 / cos_sq_alpha
                  if cos_sq_alpha != 0 else 0.0)
        C = f / 16 * cos_sq_alpha * (4 + f * (4 - 3 * cos_sq_alpha))
        lam_new = L + (1 - C) * f * sin_alpha * (
            sigma + C * sin_sigma * (cos2sm + C * cos_sigma * (-1 + 2 * cos2sm ** 2)))
        if abs(lam_new - lam) < tol:
            lam = lam_new
            break
        lam = lam_new
    u_sq = cos_sq_alpha * (a * a - b * b) / (b * b)
    A = 1 + u_sq / 16384 * (4096 + u_sq * (-768 + u_sq * (320 - 175 * u_sq)))
    B = u_sq / 1024 * (256 + u_sq * (-128 + u_sq * (74 - 47 * u_sq)))
    dsig = B * sin_sigma * (cos2sm + B / 4 * (
        cos_sigma * (-1 + 2 * cos2sm ** 2)
        - B / 6 * cos2sm * (-3 + 4 * sin_sigma ** 2) * (-3 + 4 * cos2sm ** 2)))
    dist = b * A * (sigma - dsig)
    sin_lam, cos_lam = math.sin(lam), math.cos(lam)
    az = math.degrees(math.atan2(cosU2 * sin_lam,
                                 cosU1 * sinU2 - sinU1 * cosU2 * cos_lam))
    return az, dist


def _vincenty_forward_scalar(lon1, lat1, az_deg, s, a=WGS84_A, f=WGS84_F,
                             tol=1e-12, max_iter=200):
    """Pure-scalar Vincenty direct. Returns (lon2, lat2)."""
    b = a * (1 - f)
    U1 = math.atan((1 - f) * math.tan(math.radians(lat1)))
    az = math.radians(az_deg)
    sinU1, cosU1 = math.sin(U1), math.cos(U1)
    cos_az, sin_az = math.cos(az), math.sin(az)
    sigma1 = math.atan2(math.tan(U1), cos_az) if cos_az != 0 else (
        math.pi / 2 if math.tan(U1) > 0 else -math.pi / 2)
    sin_alpha = cosU1 * sin_az
    cos_sq_alpha = 1 - sin_alpha ** 2
    u_sq = cos_sq_alpha * (a * a - b * b) / (b * b)
    A = 1 + u_sq / 16384 * (4096 + u_sq * (-768 + u_sq * (320 - 175 * u_sq)))
    B = u_sq / 1024 * (256 + u_sq * (-128 + u_sq * (74 - 47 * u_sq)))
    sigma = s / (b * A)
    for _ in range(max_iter):
        cos2sm = math.cos(2 * sigma1 + sigma)
        sin_sigma, cos_sigma = math.sin(sigma), math.cos(sigma)
        dsig = B * sin_sigma * (cos2sm + B / 4 * (
            cos_sigma * (-1 + 2 * cos2sm ** 2)
            - B / 6 * cos2sm * (-3 + 4 * sin_sigma ** 2) * (-3 + 4 * cos2sm ** 2)))
        new_sigma = s / (b * A) + dsig
        if abs(new_sigma - sigma) < tol:
            sigma = new_sigma
            break
        sigma = new_sigma
    sin_sigma, cos_sigma = math.sin(sigma), math.cos(sigma)
    cos2sm = math.cos(2 * sigma1 + sigma)
    lat2 = math.atan2(
        sinU1 * cos_sigma + cosU1 * sin_sigma * cos_az,
        (1 - f) * math.sqrt(sin_alpha ** 2
                            + (sinU1 * sin_sigma - cosU1 * cos_sigma * cos_az) ** 2))
    lam = math.atan2(sin_sigma * sin_az,
                     cosU1 * cos_sigma - sinU1 * sin_sigma * cos_az)
    C = f / 16 * cos_sq_alpha * (4 + f * (4 - 3 * cos_sq_alpha))
    L = lam - (1 - C) * f * sin_alpha * (
        sigma + C * sin_sigma * (cos2sm + C * cos_sigma * (-1 + 2 * cos2sm ** 2)))
    lon2 = (lon1 + math.degrees(L) + 540.0) % 360.0 - 180.0
    return lon2, math.degrees(lat2)


def pt_nearest_geodesic(px, py, x0, y0, x1, y1, tol=0.01, max_iter=100,
                        a=WGS84_A, f=WGS84_F):
    """Nearest point on the geodesic arc (x0,y0)->(x1,y1) to (px,py) —
    replica of pt_nearest_proj (vectorgeo.pyx:275-318): endpoint gradient
    tests, then bisection on arc-length fraction to *tol* meters.

    Returns ((lon, lat), distance_m)."""
    def along_dist(frac_len):
        lon2, lat2 = _vincenty_forward_scalar(x0, y0, az, frac_len, a=a, f=f)
        _, d = _vincenty_inverse_scalar(lon2, lat2, px, py, a=a, f=f)
        return d

    def grad(frac_len, dx):
        return (along_dist(frac_len + dx) - along_dist(frac_len)) / dx

    az, L = _vincenty_inverse_scalar(x0, y0, x1, y1, a=a, f=f)
    if L == 0:
        _, d = _vincenty_inverse_scalar(x0, y0, px, py, a=a, f=f)
        return (x0, y0), d
    eps = 1e-7 * L
    if grad(0.0, eps) > 0:
        return (x0, y0), along_dist(0.0)
    if grad(L, eps) < 0:
        return (x1, y1), along_dist(L)
    lo, hi = 0.0, 1.0
    xm = 0.5
    dx = tol + 1.0
    i = 0
    while dx > tol:
        if i == max_iter:
            break
        xm = 0.5 * (lo + hi)
        if grad(xm * L, eps) > 0:
            dx = abs(hi - xm) * L
            hi = xm
        else:
            dx = abs(lo - xm) * L
            lo = xm
        i += 1
    lon2, lat2 = _vincenty_forward_scalar(x0, y0, az, xm * L, a=a, f=f)
    return (lon2, lat2), along_dist(xm * L)


def shortest_distance_geodesic(px, py, vertices, tol=0.01):
    """Min geodesic distance from (px,py) to a vertex string — the
    geographic arm of shortest_distance_to (geometry.py:725-792)."""
    v = np.asarray(vertices, dtype=np.float64)
    best = None
    best_pt = None
    for k in range(len(v) - 1):
        pt, d = pt_nearest_geodesic(px, py, v[k, 0], v[k, 1], v[k + 1, 0], v[k + 1, 1], tol)
        if best is None or d < best:
            best, best_pt = d, pt
    return best, best_pt


def sph2cart(lon, lat):
    """(lon, lat) degrees -> unit 3-vector (vectorgeo.pyx:132-138 frame)."""
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    return np.stack([np.cos(lat) * np.cos(lon),
                     np.cos(lat) * np.sin(lon),
                     np.sin(lat)], axis=-1)


def sphere_polygon_area(ring_lonlat, radius=None) -> float:
    """Area of a spherical polygon via Girard's spherical excess on unit
    vectors — inherently dateline/meridian invariant (the reference reaches
    the same invariance through per-segment spherical_area sums,
    geodesy.py:115-126; the dateline test asserts area equality across the
    meridian, which this satisfies by construction)."""
    if radius is None:
        radius = R_SPHERE
    ring = np.asarray(ring_lonlat, dtype=np.float64)
    v = sph2cart(ring[:, 0], ring[:, 1])
    n = len(v)
    total = 0.0
    for i in range(n):
        a, b, c = v[(i - 1) % n], v[i], v[(i + 1) % n]
        # interior angle at b between great circles (b,a) and (b,c)
        t1 = np.cross(np.cross(b, a), b)
        t2 = np.cross(np.cross(b, c), b)
        denom = np.linalg.norm(t1) * np.linalg.norm(t2)
        if denom == 0:
            continue
        ang = math.acos(max(-1.0, min(1.0, float(np.dot(t1, t2)) / denom)))
        total += ang
    excess = total - (n - 2) * math.pi
    return abs(excess) * radius * radius


# ---------------------------------------------------------------------------
# geodesic quadrilateral areas (the reference's Polygon.area primitives on
# geographical CRSes: geodesy.py:115-127 spherical, geodesy.py:637-729
# ellipsoidal — re-derived from Karney 2013 "Algorithms for geodesics",
# eqs. 44 (canonical configuration), 59-65 (I4 area integral))
# ---------------------------------------------------------------------------

def _reduce_deg(x):
    """Normalize degrees into [-180, 180)."""
    return (np.asarray(x, dtype=np.float64) + 180.0) % 360.0 - 180.0


def _canonical_quad(x1, y1, x2, y2):
    """Karney eq. 44: y1 <= 0, y1 <= y2 <= -y1, 0 <= x2-x1 <= 180
    (vectorized twin of the reference's _canonical_configuration,
    geodesy.py:285-308; the transformation record is unused by the area
    path, as in the reference)."""
    x1, y1 = np.asarray(x1, np.float64), np.asarray(y1, np.float64)
    x2, y2 = np.asarray(x2, np.float64), np.asarray(y2, np.float64)
    swap = np.abs(y1) < np.abs(y2)
    y1n = np.where(swap, y2, y1)
    y2n = np.where(swap, y1, y2)
    neg = y1n > 0
    y1n = np.where(neg, -y1n, y1n)
    y2n = np.where(neg, -y2n, y2n)
    dx = _reduce_deg(x2 - x1)
    dx = np.where((dx < 0) | (dx > 180), -dx, dx)
    return np.zeros_like(dx), y1n, dx, y2n


def spherical_quad_area(r, x1, y1, x2, y2):
    """Signed area between a great-circle segment and the equator
    (geodesy.py:115-127): S = r^2 (alpha2 - alpha1) with the forward
    azimuths of the f=0 geodesic at both endpoints, sign from the
    original longitude order.  Vectorized."""
    reverse = np.where(np.asarray(x2, np.float64) < np.asarray(x1, np.float64),
                       -1.0, 1.0)
    _, y1c, dxc, y2c = _canonical_quad(x1, y1, x2, y2)
    p1, p2 = np.radians(y1c), np.radians(y2c)
    lam = np.radians(dxc)
    a1 = np.arctan2(np.cos(p2) * np.sin(lam),
                    np.cos(p1) * np.sin(p2) - np.sin(p1) * np.cos(p2) * np.cos(lam))
    a2 = np.arctan2(np.cos(p1) * np.sin(lam),
                    -np.cos(p2) * np.sin(p1) + np.sin(p2) * np.cos(p1) * np.cos(lam))
    return reverse * r * r * (a2 - a1)


def _c4_coeffs(ep2, k2):
    """Karney 2013 eq. 65 I4 Fourier coefficients, O(e'^10) truncation —
    the same published polynomial constants the reference carries
    (geodesy.py:667-689)."""
    C40 = ((2.0 / 3 - ep2 / 15 + 4 * ep2 ** 2 / 105 - 8 * ep2 ** 3 / 315
            + 64 * ep2 ** 4 / 3465 - 128 * ep2 ** 5 / 9009)
           - (1.0 / 20 - ep2 / 35 + 2 * ep2 ** 2 / 105 - 16 * ep2 ** 3 / 1155
              + 32 * ep2 ** 4 / 3003) * k2
           + (1.0 / 42 - ep2 / 63 + 8 * ep2 ** 2 / 693 - 90 * ep2 ** 3 / 9009) * k2 ** 2
           - (1.0 / 72 - ep2 / 99 + 10 * ep2 ** 2 / 1287) * k2 ** 3
           + (1.0 / 110 - ep2 / 143) * k2 ** 4 - k2 ** 5 / 156)
    C41 = ((1.0 / 180 - ep2 / 315 + 2 * ep2 ** 2 / 945 - 16 * ep2 ** 3 / 10395
            + 32 * ep2 ** 4 / 27027) * k2
           - (1.0 / 252 - ep2 / 378 + 4 * ep2 ** 2 / 2079 - 40 * ep2 ** 3 / 27027) * k2 ** 2
           + (1.0 / 360 - ep2 / 495 + 2 * ep2 ** 2 / 1287) * k2 ** 3
           - (1.0 / 495 - 2 * ep2 / 1287) * k2 ** 4 + 5 * k2 ** 5 / 3276)
    C42 = ((1.0 / 2100 - ep2 / 3150 + 4 * ep2 ** 2 / 17325 - 8 * ep2 ** 3 / 45045) * k2 ** 2
           - (1.0 / 1800 - ep2 / 2475 + 2 * ep2 ** 2 / 6435) * k2 ** 3
           + (1.0 / 1925 - 2 * ep2 / 5005) * k2 ** 4 - k2 ** 5 / 2184)
    C43 = ((1.0 / 17640 - ep2 / 24255 + 2 * ep2 ** 2 / 63063) * k2 ** 3
           - (1.0 / 10780 - ep2 / 14014) * k2 ** 4 + 5 * k2 ** 5 / 45864)
    C44 = (1.0 / 124740 - ep2 / 162162) * k2 ** 4 - k2 ** 5 / 58968
    C45 = k2 ** 5 / 792792
    return (C40, C41, C42, C43, C44, C45)


# ---------------------------------------------------------------------------
# Karney (2013) geodesic inverse — "Algorithms for geodesics", J. Geod 87.
# The reference implements the same published algorithm in pure python
# (geodesy.py:432-635); this is an independent scalar implementation kept
# branch-compatible (equatorial / two meridional cases / Newton with the
# 0.0087-rad antipodal threshold, astroid starter, |dlambda12| <= 1e-12
# stop) so the ellipsoidal AREA path lands on the reference's azimuths to
# machine precision — the Vincenty azimuth previously left ~2e-3 km^2 on
# the 84275623.42235 km^2 crs_tests golden vs the reference's own
# places=4 assertion.
# ---------------------------------------------------------------------------

def _brent(f, xa, xb, tol, max_iter=200):
    """Brent's root finder (standard bracketing algorithm)."""
    fa, fb = f(xa), f(xb)
    if fa * fb > 0:
        raise ValueError("root not bracketed")
    if abs(fa) < abs(fb):
        xa, xb, fa, fb = xb, xa, fb, fa
    xc, fc = xa, fa
    d = e = xb - xa
    for _ in range(max_iter):
        if fb == 0.0 or abs(xb - xa) < tol:
            return xb
        if fa != fc and fb != fc:
            s = (xa * fb * fc / ((fa - fb) * (fa - fc))
                 + xb * fa * fc / ((fb - fa) * (fb - fc))
                 + xc * fa * fb / ((fc - fa) * (fc - fb)))
        else:
            s = xb - fb * (xb - xa) / (fb - fa)
        cond = ((s < (3 * xa + xb) / 4 or s > xb) if xa < xb
                else (s > (3 * xa + xb) / 4 or s < xb))
        if cond or abs(s - xb) >= abs(e) / 2:
            s = 0.5 * (xa + xb)
            d = e = xb - xa
        else:
            e, d = d, s - xb
        fs = f(s)
        xc, fc = xb, fb
        if fa * fs < 0:
            xb, fb = s, fs
        else:
            xa, fa = s, fs
        if abs(fa) < abs(fb):
            xa, xb, fa, fb = xb, xa, fb, fa
    return xb


def _k_c1(eps):
    """Karney eq. 18 C1 coefficients, O(eps^6)."""
    return [-eps / 2 + 3 * eps ** 3 / 16 - eps ** 5 / 32,
            -eps ** 2 / 16 + eps ** 4 / 32 - 9 * eps ** 6 / 2048,
            -eps ** 3 / 48 + 3 * eps ** 5 / 256,
            -5 * eps ** 4 / 512 + 3 * eps ** 6 / 512,
            -7 * eps ** 5 / 1280,
            -7 * eps ** 6 / 2048]


def _k_i1(sigma, eps):
    """Karney eq. 15/17 distance integral I1(sigma)."""
    a1 = (1 + eps ** 2 / 4 + eps ** 4 / 64 + eps ** 6 / 256) / (1 - eps)
    return a1 * (sigma + sum(c * math.sin(2 * (i + 1) * sigma)
                             for i, c in enumerate(_k_c1(eps))))


def _k_i2(sigma, eps):
    """Karney eq. 41-43 I2(sigma) (for the reduced length m12)."""
    a2 = (1 - eps) * (1 + eps ** 2 / 4 + 9 * eps ** 4 / 64 + 25 * eps ** 6 / 256)
    c2 = [eps / 2 + eps ** 3 / 16 + eps ** 5 / 32,
          3 * eps ** 2 / 16 + eps ** 4 / 32 + 35 * eps ** 6 / 2048,
          5 * eps ** 3 / 48 + 5 * eps ** 5 / 256,
          35 * eps ** 4 / 512 + 7 * eps ** 6 / 512,
          63 * eps ** 5 / 1280,
          77 * eps ** 6 / 2048]
    return a2 * (sigma + sum(c * math.sin(2 * (i + 1) * sigma)
                             for i, c in enumerate(c2)))


def _k_i3(sigma, eps, n):
    """Karney eq. 23-25 longitude integral I3(sigma)."""
    n2 = n * n
    a3 = (1.0 - (0.5 - 0.5 * n) * eps - (0.25 + n / 8 - 3 * n2 / 8) * eps ** 2
          - (1.0 / 16 + 3 * n / 16 + n2 / 16) * eps ** 3
          - (3.0 / 64 + n / 32) * eps ** 4 - 3 * eps ** 5 / 128)
    c3 = [(0.25 - n / 4) * eps + (1.0 / 8 - n2 / 8) * eps ** 2
          + (3.0 / 64 + 3 * n / 64 - n2 / 64) * eps ** 3
          + (5.0 / 128 + n / 64) * eps ** 4 + 3 * eps ** 5 / 128,
          (1.0 / 16 - 3 * n / 32 + n2 / 32) * eps ** 2
          + (3.0 / 64 - n / 32 - 3 * n2 / 64) * eps ** 3
          + (3.0 / 128 + n / 128) * eps ** 4 + 5 * eps ** 5 / 256,
          (5.0 / 192 - 3 * n / 64 + 5 * n2 / 192) * eps ** 3
          + (3.0 / 128 - 5 * n / 192) * eps ** 4 + 7 * eps ** 5 / 512,
          (7.0 / 512 - 7 * n / 256) * eps ** 4 + 7 * eps ** 5 / 512,
          21 * eps ** 5 / 2560]
    return a3 * (sigma + sum(c * math.sin(2 * (i + 1) * sigma)
                             for i, c in enumerate(c3)))


def _k_nea(alpha0, alpha1, beta1):
    """Karney eq. 11: sigma/omega at point 1 from the node."""
    sigma1 = math.atan2(math.sin(beta1), math.cos(alpha1) * math.cos(beta1))
    omega1 = math.atan2(math.sin(alpha0) * math.sin(sigma1), math.cos(sigma1))
    return sigma1, omega1


def _k_neb(alpha0, alpha1, beta1, beta2):
    """Karney eq. 5/11 at point 2, with the asin fallback exactly where
    the cos-composition leaves its domain (the reference's try/except,
    geodesy.py:274-283)."""
    num = (math.cos(alpha1) ** 2 * math.cos(beta1) ** 2
           + (math.cos(beta2) ** 2 - math.cos(beta1) ** 2))
    if num >= 0.0 and math.sqrt(num) / math.cos(beta2) <= 1.0:
        alpha2 = math.acos(math.sqrt(num) / math.cos(beta2))
    else:
        alpha2 = math.asin(min(1.0, max(
            -1.0, math.sin(alpha0) / math.cos(beta2))))
    sigma2 = math.atan2(math.sin(beta2), math.cos(alpha2) * math.cos(beta2))
    omega2 = math.atan2(math.sin(alpha0) * math.sin(sigma2), math.cos(sigma2))
    return alpha2, sigma2, omega2


def karney_inverse_scalar(x1, y1, x2, y2, a=WGS84_A, f=WGS84_F, tol=1e-12):
    """(az_deg, back_az_deg, s12_m) geodesic inverse, Karney 2013.

    Branch structure and thresholds mirror the reference (geodesy.py:
    432-635): equatorial shortcut, canonical configuration (eq. 44), two
    meridional special cases, Vincenty-sphere or astroid (eq. 55-57)
    starting azimuth by the 0.0087-rad antipodal test, Newton on
    lambda12 via the reduced length m12 (eq. 38)."""
    if y1 == y2 == 0:
        diff = (x2 - x1 + 180.0) % 360.0 - 180.0
        az, baz = (-90.0, 90.0) if diff < 0 else (90.0, -90.0)
        # Distance intentionally uses the UNWRAPPED abs(x1-x2) while the
        # azimuth uses the wrapped diff — replicating the reference's
        # equatorial-shortcut quirk (geodesy.py:421-431), where an
        # antimeridian-crossing equatorial pair (e.g. 170 -> -170) gets
        # the long-way distance.  Do NOT "fix" this on one side only:
        # the DuckDB oracle twins pin this exact behavior.
        return az, baz, 2 * math.pi * a * abs(x1 - x2) / 360.0

    # canonical configuration (Karney eq. 44) with a transformation record
    yflip = abs(y1) < abs(y2)
    if yflip:
        y1, y2 = y2, y1
    ysign = y1 > 0
    if ysign:
        y1, y2 = -y1, -y2
    dx = (x2 - x1 + 180.0) % 360.0 - 180.0
    xflip = (dx < 0) or (dx > 180.0)
    if xflip:
        dx = -dx
    x1, x2 = 0.0, dx

    phi1 = math.radians(y1)
    phi2 = math.radians(y2)
    lambda12 = math.radians(x2)
    b = a * (1.0 - f)
    beta1 = math.atan((1 - f) * math.tan(phi1))
    beta2 = math.atan((1 - f) * math.tan(phi2))
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    n = f / (2 - f)

    if x1 == x2:
        # meridional: the geodesic runs due north
        alpha0 = alpha1 = alpha2 = 0.0
        sigma1, _ = _k_nea(alpha0, alpha1, beta1)
        _, sigma2, _ = _k_neb(alpha0, alpha1, beta1, beta2)
        k2 = ep2
    elif abs(lambda12 % (2 * math.pi) - math.pi) < 1e-12:
        # meridional through the pole
        if y1 + y2 > 0:
            alpha0 = alpha1 = 0.0
            alpha2 = math.pi
        else:
            alpha0 = alpha1 = math.pi
            alpha2 = 0.0
        sigma1, _ = _k_nea(alpha0, alpha1, beta1)
        _, sigma2, _ = _k_neb(alpha0, alpha1, beta1, beta2)
        k2 = ep2
    else:
        if abs(lambda12 - math.pi) > 0.0087 and abs(phi1 + phi2) > 0.0087:
            # Vincenty starting azimuth on the auxiliary sphere (eq. 48-51)
            w = math.sqrt(1 - e2 * (0.5 * (math.cos(beta1) + math.cos(beta2))) ** 2)
            om12 = lambda12 / w
            alpha1 = math.atan2(
                math.cos(beta2) * math.sin(om12),
                math.cos(beta1) * math.sin(beta2)
                - math.sin(beta1) * math.cos(beta2) * math.cos(om12))
        else:
            # astroid starter for nearly-antipodal inputs (eq. 55-57)
            delta = f * a * math.pi * math.cos(beta1) ** 2
            ax = (lambda12 - math.pi) * a * math.cos(beta1) / delta
            ay = (beta2 + beta1) * a / delta
            mu = _brent(
                lambda m: (m ** 4 + 2 * m ** 3 + (1 - ax * ax - ay * ay) * m * m
                           - 2 * ay * ay * m - ay * ay),
                1e-6, math.pi * a, 1e-12)
            alpha1 = math.atan2(-ax / (1 + mu), ay / mu)

        alpha0 = alpha2 = sigma1 = sigma2 = 0.0
        k2 = ep2
        dl = tol + 1.0
        for _ in range(100):
            if abs(dl) <= tol:
                break
            hyp = math.sqrt(math.cos(alpha1) ** 2
                            + (math.sin(alpha1) * math.sin(beta1)) ** 2)
            alpha0 = math.atan2(math.sin(alpha1) * math.cos(beta1), hyp)
            sigma1, omega1 = _k_nea(alpha0, alpha1, beta1)
            alpha2, sigma2, omega2 = _k_neb(alpha0, alpha1, beta1, beta2)
            k2 = ep2 * math.cos(alpha0) ** 2
            rad = math.sqrt(1 + k2)
            eps = (rad - 1) / (rad + 1)
            lam1 = omega1 - f * math.sin(alpha0) * _k_i3(sigma1, eps, n)
            lam2 = omega2 - f * math.sin(alpha0) * _k_i3(sigma2, eps, n)
            dl = (lam2 - lam1) - lambda12
            if abs(dl) > tol:
                js1 = _k_i1(sigma1, eps) - _k_i2(sigma1, eps)
                js2 = _k_i1(sigma2, eps) - _k_i2(sigma2, eps)
                m12 = b * (math.sqrt(1 + k2 * math.sin(sigma2) ** 2)
                           * math.cos(sigma1) * math.sin(sigma2)
                           - math.sqrt(1 + k2 * math.sin(sigma1) ** 2)
                           * math.sin(sigma1) * math.cos(sigma2)
                           - math.cos(sigma1) * math.cos(sigma2) * (js2 - js1))
                dldalpha = m12 / (a * math.cos(alpha2) * math.cos(beta2))
                alpha1 = (alpha1 - dl / dldalpha) % (2 * math.pi)

    k2 = ep2 * math.cos(alpha0) ** 2
    rad = math.sqrt(1 + k2)
    eps = (rad - 1) / (rad + 1)
    s12 = (_k_i1(sigma2, eps) - _k_i1(sigma1, eps)) * b

    if xflip:
        alpha1, alpha2 = -alpha1, -alpha2
    if yflip:
        alpha1, alpha2 = math.pi - alpha2, math.pi - alpha1
    if ysign:
        alpha1 = math.pi - alpha1
        alpha2 = math.pi - alpha2
    az = (math.degrees(alpha1) + 180.0) % 360.0 - 180.0
    baz = (math.degrees(alpha2) + 180.0 + 180.0) % 360.0 - 180.0
    return az, baz, s12


def ellipsoidal_quad_area(a, b, x1, y1, x2, y2):
    """Signed area of the quadrilateral bounded by a geodesic, two
    meridians and the equator on the (a, b) ellipsoid (geodesy.py:697-729).

    alpha1 from the Vincenty inverse (converged — agrees with the Karney
    reference solver to ~1e-9 deg for non-antipodal segments); the
    spherical term uses the Bessel alpha12 identity on the authalic
    sphere; the ellipsoidal correction integrates the Karney I4 series.
    Vectorized."""
    x1 = np.atleast_1d(np.asarray(x1, np.float64))
    y1 = np.atleast_1d(np.asarray(y1, np.float64))
    x2 = np.atleast_1d(np.asarray(x2, np.float64))
    y2 = np.atleast_1d(np.asarray(y2, np.float64))
    reverse = np.where(x2 < x1, -1.0, 1.0)
    x1c, y1c, x2c, y2c = _canonical_quad(x1, y1, x2, y2)
    f = (a - b) / a
    e2 = f * (2.0 - f)
    ep2 = e2 / (1.0 - e2)
    e = math.sqrt(e2)
    c2 = a * a / 2.0 + b * b / 2.0 * math.atanh(e) / e  # authalic radius^2

    # alpha1 from the Karney inverse (bit-matched to the reference solver
    # on randomized ensembles incl. near-antipodal) — the Vincenty azimuth
    # left ~2e-3 km^2 on the crs_tests area golden vs the reference's own
    # places=4 assertion; scalar per segment, vectorized trig after
    fq = (a - b) / a
    az1 = np.array([
        karney_inverse_scalar(float(px1), float(py1), float(px2), float(py2),
                              a=a, f=fq)[0]
        for px1, py1, px2, py2 in zip(x1c, y1c, x2c, y2c)])
    alpha1 = np.radians(az1)
    beta1 = np.arctan((1.0 - f) * np.tan(np.radians(y1c)))
    beta2 = np.arctan((1.0 - f) * np.tan(np.radians(y2c)))

    alpha0 = np.arctan2(
        np.sin(alpha1) * np.cos(beta1),
        np.sqrt(np.cos(alpha1) ** 2 + (np.sin(alpha1) * np.sin(beta1)) ** 2))
    sigma1 = np.arctan2(np.sin(beta1), np.cos(alpha1) * np.cos(beta1))
    omega1 = np.arctan2(np.sin(alpha0) * np.sin(sigma1), np.cos(sigma1))
    # alpha2 on the auxiliary sphere (geodesy.py:274-283 incl. the
    # fall-back branch when the cos-composition leaves [0, 1])
    num = np.cos(alpha1) ** 2 * np.cos(beta1) ** 2 + (np.cos(beta2) ** 2 - np.cos(beta1) ** 2)
    with np.errstate(invalid="ignore"):
        arg = np.sqrt(np.maximum(num, 0.0)) / np.cos(beta2)
        # the asin fall-back fires when the cos-composition leaves [0, 1]
        # in EITHER direction — the reference's sqrt raises on num < 0
        # (geodesy.py:274-283), so clamping num to the arccos branch there
        # would diverge from it exactly where the branch exists
        alpha2 = np.where((num >= 0.0) & (arg <= 1.0),
                          np.arccos(np.minimum(arg, 1.0)),
                          np.arcsin(np.clip(np.sin(alpha0) / np.cos(beta2), -1.0, 1.0)))
    sigma2 = np.arctan2(np.sin(beta2), np.cos(alpha2) * np.cos(beta2))
    omega2 = np.arctan2(np.sin(alpha0) * np.sin(sigma2), np.cos(sigma2))
    omega12 = omega2 - omega1

    alpha12 = 2.0 * np.arctan(
        np.sin(0.5 * (beta1 + beta2)) / np.cos(0.5 * (beta2 - beta1))
        * np.tan(0.5 * omega12))
    sph_term = c2 * alpha12

    k2 = ep2 * np.cos(alpha0) ** 2
    Cs = _c4_coeffs(ep2, k2)
    i4_1 = sum(cc * np.cos((2 * i + 1) * sigma1) for i, cc in enumerate(Cs))
    i4_2 = sum(cc * np.cos((2 * i + 1) * sigma2) for i, cc in enumerate(Cs))
    S12 = sph_term + e2 * a * a * np.cos(alpha0) * np.sin(alpha0) * (i4_2 - i4_1)
    return reverse * S12


def geodesic_ring_area(ring_lonlat, a=WGS84_A, f=WGS84_F) -> float:
    """Ellipsoidal polygon area: per-segment quadrilateral sum, the exact
    semantics of the reference Polygon.area geographic arm
    (geometry.py:1119-1135)."""
    ring = np.asarray(ring_lonlat, dtype=np.float64)
    x1 = ring[:, 0]
    y1 = ring[:, 1]
    x2 = np.roll(x1, -1)
    y2 = np.roll(y1, -1)
    b = a * (1.0 - f)
    return float(np.sum(ellipsoidal_quad_area(a, b, x1, y1, x2, y2)))


def _azimuth_sph_scalar(x1, y1, x2, y2):
    dlon = math.radians(x2 - x1)
    lat1, lat2 = math.radians(y1), math.radians(y2)
    return math.atan2(math.sin(dlon),
                      math.cos(lat1) * math.tan(lat2) - math.sin(lat1) * math.cos(dlon))


def _isleft_sph(p0, p1, p2):
    """Is p0 left of the geodesic p1->p2? (convexhull.pyx:11-16)."""
    az = _azimuth_sph_scalar(p1[0], p1[1], p2[0], p2[1])
    az_pt = _azimuth_sph_scalar(p1[0], p1[1], p0[0], p0[1])
    daz = ((az - az_pt) + math.pi) % (2 * math.pi) - math.pi
    return daz > 0


def convex_hull_sph(pts: np.ndarray) -> np.ndarray:
    """Spherical convex hull indices — replica of convexhull.pyx:84-148:
    leftmost-pivot azimuthal sort, scan with geodesic left tests. Assumes
    the point set fits a hemisphere (as the reference implicitly does)."""
    pts = np.asarray(pts, dtype=np.float64)
    n = len(pts)
    if n < 3:
        return np.arange(n)
    ileft = 0
    for i in range(1, n):
        if pts[i, 0] < pts[ileft, 0] or (
                pts[i, 0] == pts[ileft, 0] and pts[i, 1] > pts[ileft, 1]):
            ileft = i
    leftmost = pts[ileft]
    az_idx = sorted(
        (math.pi / 2 - _azimuth_sph_scalar(leftmost[0], leftmost[1],
                                           pts[i, 0], pts[i, 1]), i)
        for i in range(n) if i != ileft
    )
    # drop all but farthest of duplicate azimuths
    indices = [az_idx[0][1]]
    last_az = az_idx[0][0]
    for az, i in az_idx[1:]:
        if az == last_az:
            d_new = sphere_distance(leftmost[0], leftmost[1], pts[i, 0], pts[i, 1])
            d_old = sphere_distance(leftmost[0], leftmost[1],
                                    pts[indices[-1], 0], pts[indices[-1], 1])
            if d_new > d_old:
                indices[-1] = i
        else:
            indices.append(i)
        last_az = az
    if len(indices) < 2:
        return np.array([ileft] + indices, dtype=np.int64)
    hull = [ileft, indices[0], indices[1]]
    for i in indices[2:]:
        while len(hull) >= 2 and not _isleft_sph(pts[hull[-2]], pts[hull[-1]], pts[i]):
            hull.pop()
        hull.append(i)
    return np.array(hull, dtype=np.int64)


# ---------------------------------------------------------------------------
# raster kernels
# ---------------------------------------------------------------------------

def positions(transform, x, y):
    """World coords -> fractional (i, j) row/col indices.

    Exact algebra of crfuncs.pyx:12-33 (inverse affine with skew; -0.5
    offset so integer index = cell center)."""
    x0, y0, dx, dy, sx, sy = transform
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    j = (dy * x - dy * x0 + sx * y0 - sx * y) / (dx * dy - sx * sy)
    i = (y - y0 - j * sy) / dy
    return i - 0.5, j - 0.5


def _split_index(v):
    """Bilinear neighbor-index split, replicating crfuncs.pyx:49-67.

    i0 = floor(v) and i1 = i0+1 for fractional v; for *integer* v the cell
    pair is (v-1, v) except at v==0 where it is (0, 1)."""
    v = np.asarray(v, dtype=np.float64)
    frac = np.mod(v, 1.0) != 0
    i0 = np.where(frac, np.floor(v), np.where(v != 0, v - 1.0, v))
    i1 = np.where(frac, np.floor(v) + 1.0, np.where(v != 0, v, v + 1.0))
    return i0.astype(np.int64), i1.astype(np.int64)


def sample_bilinear(I, J, Z, nodata):
    """Bilinear sample of grid Z (ny,nx) at fractional indices (I, J).

    Out-of-support points -> nodata (crfuncs.pyx:152-156). Output dtype
    follows Z's family: float stays float64; (u)int results truncate via
    int() like the typed reference kernels (crfuncs.pyx:70-73, 112-115)."""
    I = np.asarray(I, dtype=np.float64)
    J = np.asarray(J, dtype=np.float64)
    Z = np.asarray(Z)
    m, n = Z.shape
    i0, i1 = _split_index(I)
    j0, j1 = _split_index(J)
    ok = (i0 >= 0) & (i1 < m) & (j0 >= 0) & (j1 < n)
    i0c = np.clip(i0, 0, m - 1); i1c = np.clip(i1, 0, m - 1)
    j0c = np.clip(j0, 0, n - 1); j1c = np.clip(j1, 0, n - 1)
    Zf = Z.astype(np.float64)
    val = (
        Zf[i0c, j0c] * (i1 - I) * (j1 - J)
        + Zf[i1c, j0c] * (I - i0) * (j1 - J)
        + Zf[i0c, j1c] * (i1 - I) * (J - j0)
        + Zf[i1c, j1c] * (I - i0) * (J - j0)
    )
    if np.issubdtype(Z.dtype, np.integer):
        out = np.trunc(val)
        out = np.where(ok, out, float(nodata))
        return out.astype(Z.dtype)
    return np.where(ok, val, np.float64(nodata))


def sample_nearest(I, J, Z, nodata):
    """Nearest sample: round fractional index, out of bounds -> nodata
    (grid.py:830-892)."""
    I = np.round(np.asarray(I, dtype=np.float64)).astype(np.int64)
    J = np.round(np.asarray(J, dtype=np.float64)).astype(np.int64)
    Z = np.asarray(Z)
    m, n = Z.shape
    ok = (I >= 0) & (I < m) & (J >= 0) & (J < n)
    Ic = np.clip(I, 0, m - 1)
    Jc = np.clip(J, 0, n - 1)
    out = Z[Ic, Jc].astype(np.float64)
    return np.where(ok, out, np.float64(nodata))


def mask_poly(xpoly, ypoly, nx, ny, transform):
    """Boolean raster mask of a polygon via even-odd scanline fill over cell
    centers (semantics of grid.py:1304-1384)."""
    x0, y0, dx, dy, sx, sy = transform
    jj, ii = np.meshgrid(np.arange(nx), np.arange(ny))
    # cell centers (forward affine + half-cell, coordgen.py:63-64)
    cx = x0 + (jj + 0.5) * dx + (ii + 0.5) * sx
    cy = y0 + (ii + 0.5) * dy + (jj + 0.5) * sy
    ring = np.column_stack([np.asarray(xpoly, dtype=np.float64),
                            np.asarray(ypoly, dtype=np.float64)])
    return winding_contains(cx.ravel(), cy.ravel(), ring).reshape(ny, nx)


# ---------------------------------------------------------------------------
# geodesy (spherical; reference geodesy.py:96-113, radius crs.py:77)
# ---------------------------------------------------------------------------

R_SPHERE = 6370997.0  # "+ellps=sphere" radius used by karta's SphericalEarth


def sphere_distance(lon1, lat1, lon2, lat2, radius=R_SPHERE):
    """Two-branch spherical distance (law of cosines for large separations,
    haversine under 0.01 rad) — geodesy.py:96-108, inputs in degrees."""
    lon1 = np.radians(np.asarray(lon1, dtype=np.float64))
    lat1 = np.radians(np.asarray(lat1, dtype=np.float64))
    lon2 = np.radians(np.asarray(lon2, dtype=np.float64))
    lat2 = np.radians(np.asarray(lat2, dtype=np.float64))
    dx = np.abs(lon1 - lon2)
    dy = np.abs(lat1 - lat2)
    big = (dx > 0.01) | (dy > 0.01)
    arg = np.clip(np.sin(lat1) * np.sin(lat2) + np.cos(lat1) * np.cos(lat2) * np.cos(dx), -1, 1)
    d_loc = np.arccos(arg)
    d_hav = 2 * np.arcsin(np.sqrt(np.sin(dy / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dx / 2) ** 2))
    return radius * np.where(big, d_loc, d_hav)


def sphere_azimuth(lon1, lat1, lon2, lat2):
    """Spherical azimuth in radians (geodesy.py:111-113), degrees in."""
    lon1 = np.asarray(lon1, dtype=np.float64)
    dlon = np.radians(np.asarray(lon2, dtype=np.float64) - lon1)
    lat1r = np.radians(np.asarray(lat1, dtype=np.float64))
    lat2r = np.radians(np.asarray(lat2, dtype=np.float64))
    return np.arctan2(np.sin(dlon), np.cos(lat1r) * np.tan(lat2r) - np.sin(lat1r) * np.cos(dlon))


def sphere_contains(px, py, ring_lonlat) -> np.ndarray:
    """Geographic (polar) point-in-polygon by azimuth winding — exact
    replica of contains_proj (contains.pyx:44-83), vectorized over points.

    Note the reference's correction is deliberately asymmetric (its second
    branch re-tests the same condition and is unreachable, contains.pyx:67-72)
    and the *contained* verdict is |sum| <= 1e-4 (contains.pyx:80-83):
    an inside point's -360 wind is cancelled by the +360 correction while an
    outside point's uncorrected positive jump accumulates to 360."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring = np.asarray(ring_lonlat, dtype=np.float64)
    k = len(ring)
    az0 = np.degrees(sphere_azimuth(px, py, ring[0, 0], ring[0, 1]))
    az0 = np.mod(az0 + 360.0, 360.0)
    total = np.zeros_like(px)
    for i in range(1, k + 1):
        vx, vy = ring[i % k]
        az1 = np.degrees(sphere_azimuth(px, py, vx, vy))
        az1 = np.mod(az1 + 360.0, 360.0)
        d = az1 - az0
        d = np.where(d < -180.0, d + 360.0, d)  # only the first branch is live
        total += d
        az0 = az1
    return np.abs(total) <= 1e-4


def bndlat_sph(x0, y0, x1, y1):
    """Bounding latitudes of a great-circle segment on a sphere — exact
    replica of vectorgeo.pyx:64-106. Returns (ymin, ymax) or None for a
    degenerate segment."""
    s0 = 1 if y0 == 0 else int(np.sign(y0))
    s1 = 1 if y1 == 0 else int(np.sign(y1))
    dlam = math.radians(x1 - x0)
    phi0 = math.radians(y0)
    phi1 = math.radians(y1)
    faz = baz = 0.0
    if dlam != 0.0:
        faz = math.atan2(math.sin(dlam) * math.cos(phi1),
                         math.cos(phi0) * math.sin(phi1)
                         - math.sin(phi0) * math.cos(phi1) * math.cos(dlam))
        baz = math.atan2(math.sin(-dlam) * math.cos(phi0),
                         math.cos(phi1) * math.sin(phi0)
                         - math.sin(phi1) * math.cos(phi0) * math.cos(-dlam))
    elif phi0 == phi1:
        return None

    if dlam == 0.0 or s0 != s1:
        return (min(y0, y1), max(y0, y1))
    if s0 == 1:  # northern hemisphere: the arc may peak above both ends
        ymin = math.degrees(min(phi0, phi1))
        if (abs((faz + math.pi) % (2 * math.pi) - math.pi) < 0.5 * math.pi
                and abs((baz + math.pi) % (2 * math.pi) - math.pi) < 0.5 * math.pi):
            ymax = math.degrees(math.acos(abs(math.sin(faz) * math.cos(phi0))))
        else:
            ymax = math.degrees(max(phi0, phi1))
    else:
        ymax = math.degrees(max(phi0, phi1))
        if (abs((faz + math.pi) % (2 * math.pi) - math.pi) > 0.5 * math.pi
                and abs((baz + math.pi) % (2 * math.pi) - math.pi) > 0.5 * math.pi):
            ymin = -math.degrees(math.acos(abs(math.sin(faz) * math.cos(phi0))))
        else:
            ymin = math.degrees(min(phi0, phi1))
    return (ymin, ymax)


def geographic_bbox(vertices, ring: bool = False):
    """Dateline-aware spherical bbox (xmin, ymin, xmax, ymax) — replica of
    dateline.pyx:19-61: longitudes unrolled across dateline crossings,
    latitudes bounded by great-circle extrema."""
    v = np.asarray(vertices, dtype=np.float64)
    n = len(v)
    if n == 0:
        return (np.nan, np.nan, np.nan, np.nan)
    idx = list(range(n)) + ([0] if ring else [])
    xmin = xmax = v[0, 0]
    ymin = ymax = v[0, 1]
    rot = 0.0
    x0, y0 = v[0]
    for i in idx:
        x1, y1 = v[i]
        b = bndlat_sph(x0, y0, x1, y1)
        if b is not None:
            ymin = min(ymin, b[0])
            ymax = max(ymax, b[1])
        s0 = 1 if x0 == 0 else np.sign(x0)
        s1 = 1 if x1 == 0 else np.sign(x1)
        xdl = 0
        if s0 != s1 and abs(x0 - x1) > 180.0:
            xdl = 1 if (x1 - x0) > 180 else -1
        if xdl != 0:
            rot -= xdl * 360.0
            xmin = min(xmin, x1 + rot)
            xmax = max(xmax, x1 + rot)
        else:
            if x0 > x1:
                xmin = min(xmin, x1)
            else:
                xmax = max(xmax, x1)
        x0, y0 = x1, y1
    xmin = (xmin + 180) % 360 - 180
    xmax = (xmax + 180) % 360 - 180
    return (xmin, ymin, xmax, ymax)


def ispolar(ring_lonlat) -> bool:
    """Does a lon/lat ring wind around a pole? Exact replica of
    geometry.py:1050-1076: each dateline-crossing step contributes
    360 + (lon1 - lon0) regardless of direction; |sum| > 1e-4 => polar."""
    ring = np.asarray(ring_lonlat, dtype=np.float64)
    lon1 = np.mod(ring[:, 0] + 180.0, 360.0) - 180.0  # reduce_deg to [-180,180)
    lon0 = np.roll(lon1, 1)
    d = lon1 - lon0
    # the step straddles the dateline (dateline.pyx:5-17; sign of 0.0 is +1
    # per vectorgeo fsign); cumsum adds the steps in ring order, as the
    # reference loop does
    cross = ((np.where(lon0 == 0, 1.0, np.sign(lon0))
              != np.where(lon1 == 0, 1.0, np.sign(lon1)))
             & (np.abs(lon0 - lon1) > 180.0))
    return bool(abs(np.cumsum(np.where(cross, 360.0 + d, d))[-1]) > 1e-4)
