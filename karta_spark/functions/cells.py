"""Spatial cell / slippy-tile column expressions.

The distributed replacement for karta's QuadTree/R-tree (reference
geometry.py:1266-1267, 1575-1576): every point gets an int64 ``cell_id`` at a
chosen zoom, computed with *pure Catalyst column expressions* (JVM-side,
whole-stage-codegen — no Python in the hot path).  Joins, bucketing and
Parquet/Iceberg min-max pruning on cell_id then do the index's job.

Tile math is the OSM slippy scheme of reference tile.py:52-78:
    x0 = 128/pi * 2^z * (radians(lon) + pi);  x = floor(x0 / 256)
    y0 = 128/pi * 2^z * (pi - log(tan(pi/4 + radians(lat)/2))); y = floor(y0/256)
which simplifies to the canonical
    x = floor((lon + 180)/360 * 2^z)
    y = floor((1 - log(tan(pi/4 + lat*pi/360))/pi) / 2 * 2^z)
We keep karta's exact floating-point form for golden parity.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LAT = 85.05112877  # atan(sinh(pi)) — slippy tile latitude bound (tile.py:22-33)


def tile_x(lon: Column, zoom: int) -> Column:
    c = 128.0 / math.pi * float(2 ** zoom)
    x0 = c * (F.radians(lon) + math.pi)
    return F.floor(x0 / 256.0).cast("long")


def tile_y(lat: Column, zoom: int) -> Column:
    c = 128.0 / math.pi * float(2 ** zoom)
    y0 = c * (math.pi - F.log(F.tan(math.pi / 4.0 + F.radians(lat) / 2.0)))
    return F.floor(y0 / 256.0).cast("long")


def tile_id(lon: Column, lat: Column, zoom: int) -> Column:
    """Pack (z, x, y) into one int64: z<<58 | x<<29 | y (supports z<=28).

    A single sortable key so one column drives partitioning, bucketing and
    min-max pruning."""
    return (
        F.lit(zoom).cast("long") * (1 << 58)
        + tile_x(lon, zoom) * (1 << 29)
        + tile_y(lat, zoom)
    ).cast("long")


def tile_id_clamped(lon: Column, lat: Column, zoom: int) -> Column:
    """tile_id with the row index clamped into [0, 2^zoom): latitudes
    poleward of MAX_LAT otherwise produce out-of-range rows (tile_y at
    lat 89 is negative) and such points silently never match any cover
    cell in a join.  Cell ASSIGNMENT only — exact refines keep the true
    coordinates.

    Pass column NAMES (strings) on hot plan-construction paths: the whole
    expression is then emitted as one SQL string (the tile_x_sql/tile_y_sql
    algebra — identical float ops) and parsed by a single F.expr round
    trip instead of ~150 py4j gateway calls (r8 driver-latency finding)."""
    if isinstance(lon, str) and isinstance(lat, str):
        n = 2 ** zoom
        tx = f"least(greatest({tile_x_sql(f'`{lon}`', zoom)}, 0L), {n - 1}L)"
        ty = f"least(greatest({tile_y_sql(f'`{lat}`', zoom)}, 0L), {n - 1}L)"
        return F.expr(
            f"CAST({zoom}L * {1 << 58}L + {tx} * {1 << 29}L + {ty} AS BIGINT)")
    n = 2 ** zoom
    ty = F.least(F.greatest(tile_y(lat, zoom), F.lit(0).cast("long")),
                 F.lit(n - 1).cast("long"))
    # lon == +180.0 exactly evaluates tile_x to 2^zoom, outside the cover
    # column range [0, 2^zoom-1] (cover_cells clamps x to nmax), so such a
    # point would silently never match any cover or kNN ring cell.
    tx = F.least(F.greatest(tile_x(lon, zoom), F.lit(0).cast("long")),
                 F.lit(n - 1).cast("long"))
    return (
        F.lit(zoom).cast("long") * (1 << 58)
        + tx * (1 << 29)
        + ty
    ).cast("long")


def unpack_tile_id(cell: Column):
    z = (cell / (1 << 58)).cast("long")
    x = ((cell % (1 << 58)) / (1 << 29)).cast("long")
    y = (cell % (1 << 29)).cast("long")
    return z, x, y


def tile_id_py(lon: float, lat: float, zoom: int) -> int:
    """Driver-side scalar twin of tile_id (used for polygon cell covers)."""
    x, y = tile_xy_py(lon, lat, zoom)
    return (zoom << 58) | (x << 29) | y


def tile_xy_py(lon: float, lat: float, zoom: int):
    c = 128.0 / math.pi * float(2 ** zoom)
    x0 = c * (math.radians(lon) + math.pi)
    y0 = c * (math.pi - math.log(math.tan(math.pi / 4.0 + math.radians(lat) / 2.0)))
    return int(x0 // 256.0), int(y0 // 256.0)


def tile_nw_corner_py(z: int, x: int, y: int):
    """NW corner lon/lat of a tile (inverse web-mercator, tile.py:20-33)."""
    n = float(2 ** z)
    lon = x / n * 360.0 - 180.0
    lat = math.degrees(math.atan(math.sinh(math.pi * (1.0 - 2.0 * y / n))))
    return lon, lat


def tile_bbox_py(z: int, x: int, y: int):
    """(xmin, ymin, xmax, ymax) of a tile (tile.py:36-50)."""
    w, n = tile_nw_corner_py(z, x, y)
    e, _ = tile_nw_corner_py(z, x + 1, y)
    _, s = tile_nw_corner_py(z, x, y + 1)
    return (w, s, e, n)


# ---------------------------------------------------------------------------
# planar cell grid (cartesian CRS — coordinates in arbitrary units)
# ---------------------------------------------------------------------------

_PLANAR_OFFSET = 1 << 28  # keeps packed indices positive for |index| < 2^28


def planar_cell_id(x: Column, y: Column, size: float) -> Column:
    """int64 cell key for a planar grid of *size*-sized square cells."""
    cx = F.floor(x / F.lit(float(size))).cast("long") + _PLANAR_OFFSET
    cy = F.floor(y / F.lit(float(size))).cast("long") + _PLANAR_OFFSET
    return cx * (1 << 29) + cy


# ---------------------------------------------------------------------------
# deterministic geolocation of arbitrary keyed rows (FIXTURES.md §1 rule)
# ---------------------------------------------------------------------------

# Knuth/Fibonacci multiplicative constants; any deterministic mix works, but
# these are also exactly expressible in ANSI SQL for the DuckDB oracle.
_LON_MULT = 2654435761  # 2^32 * golden ratio conjugate
_LAT_MULT = 2246822519


def phash_from_key(key: Column) -> Column:
    """Synthesize a 63-bit 'phash' from an integer key: low 32 bits drive
    lon, next 31 bits drive lat — mirrors the images-table rule so star-
    schema rows can be geolocated for oracle-checked spatial queries."""
    lo = (key * _LON_MULT) % F.lit(4294967296).cast("long")
    hi = (key * _LAT_MULT) % F.lit(2147483648).cast("long")
    return (hi * F.lit(4294967296).cast("long") + lo).cast("long")


def lon_from_phash(phash: Column) -> Column:
    """lon = (phash & 0xFFFFFFFF)/2^32*360 - 180 (FIXTURES.md §1)."""
    lo = phash % F.lit(4294967296).cast("long")
    return (lo.cast("double") / 4294967296.0 * 360.0 - 180.0)


def lat_from_phash(phash: Column) -> Column:
    """lat = ((phash>>32) & 0x7FFFFFFF)/2^31*170 - 85 (clamped to slippy
    range, FIXTURES.md §1)."""
    hi = (phash / F.lit(4294967296).cast("long")).cast("long") % F.lit(2147483648).cast("long")
    return (hi.cast("double") / 2147483648.0 * 170.0 - 85.0)


def lon_from_key_sql(key_expr: str) -> str:
    return f"(CAST(({key_expr} * {_LON_MULT}) % 4294967296 AS DOUBLE) / 4294967296.0 * 360.0 - 180.0)"


def lat_from_key_sql(key_expr: str) -> str:
    return f"(CAST(({key_expr} * {_LAT_MULT}) % 2147483648 AS DOUBLE) / 2147483648.0 * 170.0 - 85.0)"


def tile_x_sql(lon_expr: str, zoom: int) -> str:
    c = repr(128.0 / math.pi * float(2 ** zoom))
    return f"CAST(floor(({c} * (radians({lon_expr}) + pi())) / 256.0) AS BIGINT)"


def tile_y_sql(lat_expr: str, zoom: int) -> str:
    c = repr(128.0 / math.pi * float(2 ** zoom))
    return f"CAST(floor(({c} * (pi() - ln(tan(pi()/4.0 + radians({lat_expr})/2.0)))) / 256.0) AS BIGINT)"


# ---------------------------------------------------------------------------
# MODIS sinusoidal land-grid tiles (the 36 x 18 "hNNvNN" tiling every
# MODIS land product ships in).  The grid lives on the sinusoidal sphere
# R = 6371007.181; each tile spans 1111950.5196666666 m (= 10 deg of
# meridian arc).  The reference reaches this CRS via a proj.4 string; the
# tiling itself is the standard published grid math.
# ---------------------------------------------------------------------------

MODIS_TILE_SIZE = 1111950.5196666666  # 2 * pi * R / 36
MODIS_X_MIN = -18.0 * MODIS_TILE_SIZE  # = -20015109.354 (western edge)
MODIS_Y_MAX = 9.0 * MODIS_TILE_SIZE    # = +10007554.677 (northern edge)


def modis_tile(lon: Column, lat: Column):
    """(h, v) MODIS sinusoidal tile indices for lonlat columns — pure
    Catalyst: sinusoidal forward on the grid sphere, then integer grid
    math.  h in 0..35 west->east, v in 0..17 north->south (the standard
    hNNvNN naming)."""
    from karta_spark.functions import crs as kcrs
    x, y = kcrs.forward_exprs(kcrs.MODIS_SINU, lon, lat)
    h = F.floor((x - F.lit(MODIS_X_MIN)) / F.lit(MODIS_TILE_SIZE))
    v = F.floor((F.lit(MODIS_Y_MAX) - y) / F.lit(MODIS_TILE_SIZE))
    # clamp the exact-edge cases (lon=180, the poles) into the grid
    h = F.least(F.greatest(h, F.lit(0)), F.lit(35)).cast("int")
    v = F.least(F.greatest(v, F.lit(0)), F.lit(17)).cast("int")
    return h, v


def modis_tile_sql(lon_expr: str, lat_expr: str) -> tuple[str, str]:
    """DuckDB twin of :func:`modis_tile` (identical algebra)."""
    from karta_spark.functions import crs as kcrs
    x, y = kcrs.forward_sql(kcrs.MODIS_SINU, lon_expr, lat_expr)
    h = (f"CAST(least(greatest(floor(({x} - ({MODIS_X_MIN!r})) "
         f"/ {MODIS_TILE_SIZE!r}), 0), 35) AS INTEGER)")
    v = (f"CAST(least(greatest(floor(({MODIS_Y_MAX!r} - ({y})) "
         f"/ {MODIS_TILE_SIZE!r}), 0), 17) AS INTEGER)")
    return h, v


# ---------------------------------------------------------------------------
# Geohash — the other ubiquitous cell key (base32 interleaved bisection).
# Closed form, no iteration: global bit g of the hash is a LON bit when
# g is even (its index i = g/2), a LAT bit when odd; each bit is
# floor(frac * 2^(i+1)) mod 2 with frac = (lon+180)/360 or (lat+90)/180.
# Power-of-two multiplies are IEEE-exact, so Spark and DuckDB agree
# bit-for-bit on the identical expression (same discipline as tile_x/y).
# ---------------------------------------------------------------------------

GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"

# Largest double < 1.  Clamping frac into [0, _GH_FRAC_MAX] makes the
# closed-form bits match the published bisection algorithm at the exact
# domain edges (lon=180 / lat=90 -> all-1 bits, easternmost/northernmost
# cell) and keeps out-of-range inputs from producing negative bits via
# sign-preserving %.  (1 - 2^-53) * 2^(i+1) is IEEE-exact on both Spark
# and DuckDB, so the twins stay bit-identical.
_GH_FRAC_MAX = 1.0 - 2.0 ** -53


def _geohash_char_val(lon: Column, lat: Column, c: int) -> Column:
    """Integer value (0..31) of geohash character ``c`` (0-based)."""
    fx = F.greatest(F.lit(0.0),
                    F.least((lon + 180.0) / 360.0, F.lit(_GH_FRAC_MAX)))
    fy = F.greatest(F.lit(0.0),
                    F.least((lat + 90.0) / 180.0, F.lit(_GH_FRAC_MAX)))
    val = F.lit(0)
    for j in range(5):
        g = 5 * c + j
        i = g // 2
        frac = fx if g % 2 == 0 else fy
        bit = F.floor(frac * float(2 ** (i + 1))).cast("long") % 2
        val = val + bit * (1 << (4 - j))
    return val


def geohash(lon: Column, lat: Column, precision: int = 6) -> Column:
    """Geohash string of the given precision — pure Catalyst (floor /
    arithmetic / substring), whole-stage-codegen'd like the tile
    exprs."""
    parts = []
    for c in range(precision):
        idx = _geohash_char_val(lon, lat, c)
        parts.append(F.lit(GEOHASH_ALPHABET).substr(
            idx.cast("int") + 1, F.lit(1)))
    return F.concat(*parts)


def geohash_sql(lon_expr: str, lat_expr: str, precision: int = 6) -> str:
    """DuckDB twin — identical bit algebra."""
    chars = []
    for c in range(precision):
        bits = []
        for j in range(5):
            g = 5 * c + j
            i = g // 2
            raw = (f"(({lon_expr}) + 180.0) / 360.0" if g % 2 == 0
                   else f"(({lat_expr}) + 90.0) / 180.0")
            # NB: DuckDB parses the literal 0.9999999999999999 as
            # DECIMAL(17,16), whose DOUBLE cast rounds to 1.0 — spell
            # 1 - 2^-53 as an exact IEEE expression instead.
            frac = (f"greatest(0.0, least({raw}, "
                    f"1.0 - power(2.0, -53.0)))")
            bits.append(f"(CAST(floor({frac} * {float(2 ** (i + 1))!r}) "
                        f"AS BIGINT) % 2) * {1 << (4 - j)}")
        chars.append(f"substring('{GEOHASH_ALPHABET}', "
                     f"CAST({' + '.join(bits)} AS INT) + 1, 1)")
    return " || ".join(chars)


def geohash_py(lon: float, lat: float, precision: int = 6) -> str:
    """Reference implementation (same algebra) for tests."""
    out = []
    fx = max(0.0, min((lon + 180.0) / 360.0, _GH_FRAC_MAX))
    fy = max(0.0, min((lat + 90.0) / 180.0, _GH_FRAC_MAX))
    for c in range(precision):
        v = 0
        for j in range(5):
            g = 5 * c + j
            i = g // 2
            frac = fx if g % 2 == 0 else fy
            v += (int(math.floor(frac * 2.0 ** (i + 1))) % 2) << (4 - j)
        out.append(GEOHASH_ALPHABET[v])
    return "".join(out)


def geohash_decode_py(gh: str):
    """Decode a geohash to ``(lon, lat, lon_err, lat_err)`` — the cell
    center and half-widths (inverse of the bisection bits)."""
    lon_lo, lon_hi = -180.0, 180.0
    lat_lo, lat_hi = -90.0, 90.0
    even = True
    for ch in gh:
        v = GEOHASH_ALPHABET.index(ch)
        for j in range(4, -1, -1):
            bit = (v >> j) & 1
            if even:
                mid = (lon_lo + lon_hi) / 2
                lon_lo, lon_hi = (mid, lon_hi) if bit else (lon_lo, mid)
            else:
                mid = (lat_lo + lat_hi) / 2
                lat_lo, lat_hi = (mid, lat_hi) if bit else (lat_lo, mid)
            even = not even
    return ((lon_lo + lon_hi) / 2, (lat_lo + lat_hi) / 2,
            (lon_hi - lon_lo) / 2, (lat_hi - lat_lo) / 2)
