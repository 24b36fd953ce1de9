"""Raster sampling as cell-keyed hash joins.

``RegularGrid.sample_nearest / sample_bilinear`` (reference grid.py:830-969)
become: compute fractional (i, j) for every point with *pure column
expressions* (the closed-form inverse affine of crfuncs.pyx:12-33, -0.5
convention), key each point by the tile containing its clamped floor index,
inner-join the points to the tile table on that key, and gather the one
(nearest) or four (bilinear) cell values out of the joined ``block`` with
``get`` — all Catalyst, no Python worker.  The join carries no hint, so
Spark's size statistics decide which side it builds: a small point batch
is broadcast against a large cached tile table, not the other way round.

The tile halo (tiles.py) makes bilinear tile-local — no neighbor exchange at
query time; rounding, splitting and validity are decided on *global*
indices so boundary semantics match the reference kernels bit-for-bit
(nearest: banker's round then bounds-check, grid.py:830-892; bilinear:
split-index bounds, crfuncs.pyx; ``kernels.sample_nearest`` /
``kernels.sample_bilinear`` are the numpy twins the tests compare with).

The expressions are built as SQL text, one ``selectExpr`` per projection,
because each ``Column`` call is a py4j round trip: built from chained
``Column`` calls the join took 1,500-1,900 round trips (400-600 with
PySpark's call-site capture off, see session.py), as SQL text ~70.
The position, banker's-rounding and split math is written once, as the
SQL-text helpers below (``gridpoints`` and the q32 gate wrap them with
``F.expr``).  Doubles enter the text through ``sql_double``, which round
trips every value exactly, and every operator is parenthesised in the
order the numpy kernels apply it, so Catalyst gets the same expression
trees — and the same bits — as the equivalent ``Column`` chain.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sql_double(v) -> str:
    """*v* as an exact SQL double literal: ``repr`` (the shortest text that
    reads back as the same double) with the ``D`` suffix, parenthesised
    when negative so it can follow a minus sign (``--`` starts an SQL
    comment); NaN and +-inf go through a CAST."""
    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return "CAST('%sInfinity' AS DOUBLE)" % ("-" if v < 0 else "")
    return f"({v!r}D)" if math.copysign(1.0, v) < 0 else f"{v!r}D"


def quote(name: str) -> str:
    """A column name as an SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def position_sql(transform, x: str, y: str) -> tuple[str, str]:
    """Fractional (i, j) of SQL expressions *x*, *y* as SQL text
    (crfuncs.pyx:12-33)."""
    x0, y0, dx, dy, sx, sy = (float(v) for v in transform)
    d = sql_double
    j = (f"(((({d(dy)} * {x}) - {d(dy * x0)}) + {d(sx * y0)}) - ({d(sx)} * {y}))"
         f" / {d(dx * dy - sx * sy)}")
    i = f"(({y} - {d(y0)}) - (({j}) * {d(sy)})) / {d(dy)}"
    return f"(({i}) - 0.5D)", f"(({j}) - 0.5D)"


def round_half_even_sql(p: str) -> str:
    """np.round (banker's) of SQL expression *p* to an integer, as SQL text.

    Float-algebra form instead of bround: Spark's BRound allocates a
    BigDecimal per row (measured r8: 0.6 s of the 1.0 s q11 aggregate at
    6M rows); this CASE form is pure double/long codegen.  Exactness: the
    fraction f = p - floor(p) is computed EXACTLY for every double p —
    for p >= 0 and for p <= -0.5 by Sterbenz's lemma (floor(p) is within
    a factor 2 of p), and for p in (-0.5, 0) the true f lies in (0.5, 1)
    where any representation rounding stays strictly on the same side of
    0.5 — so the >0.5 / <0.5 / ==0.5 classification, and hence the
    half-even result, matches BigDecimal rounding of the exact double
    value on every input (verified exceptAll-equal over the 6M-row q11
    grid, ties included).

    Null for null, NaN, infinite and beyond-long input: floor() saturates
    there, so r + 1 would raise under ANSI (and NaN > 0.5 holds in Spark)."""
    r = f"FLOOR({p})"
    f = f"({p} - {r})"
    return (f"(CASE WHEN abs({p}) < {sql_double(2 ** 63)} THEN"
            f" CASE WHEN {f} > 0.5D THEN ({r} + 1) WHEN {f} < 0.5D THEN {r}"
            f" ELSE ({r} + pmod({r}, 2)) END END)")


def round_half_even(p) -> Column:
    """``round_half_even_sql`` as a Column; *p* is SQL text or a plain
    column reference (``F.col(name)``)."""
    if not isinstance(p, str):
        node = p._jc.node()
        if node.getClass().getSimpleName() != "UnresolvedAttribute":
            raise TypeError(f"expected SQL text or a column reference, got {p}")
        p = node.sql()
    return F.expr(round_half_even_sql(p))


def _split_low_sql(v: str) -> str:
    """Lower bilinear neighbor of global position *v* (crfuncs.pyx:49-67,
    ``kernels._split_index``): floor(v), or v-1 at a nonzero integer v;
    the upper neighbor is always this plus one."""
    fl = f"FLOOR({v})"
    return f"(CASE WHEN ({fl} = {v}) AND ({v} != 0) THEN ({fl} - 1) ELSE {fl} END)"


def sample_join(
    points: DataFrame, tiles: DataFrame, transform,
    method: str = "bilinear", px: str = "x", py: str = "y",
    tile: int | None = None, value_col: str = "value",
    point_crs=None, grid_crs=None,
) -> DataFrame:
    """Sample a (single-grid, single-band) tile table at point locations.

    Returns *points* plus ``value_col``, one row per point: nodata where
    the sample is off the grid, and SQL NULL wherever the value is NaN
    (NaN nodata, NaN cells).  The tile size is inferred from the table
    (max core extent); an explicit *tile* must agree with it.

    When *point_crs* differs from *grid_crs* the query coordinates are
    reprojected into the grid's CRS first — pure column math via
    functions.crs — mirroring the reference's ``sample`` CRS transform
    (grid.py:1018-1021: points are converted to the grid CRS before the
    inverse-affine positions lookup)."""
    if method not in ("bilinear", "linear", "nearest"):
        raise ValueError(f"unknown sampling method {method!r}")
    use_bilinear = method in ("bilinear", "linear")  # reference names it 'linear'
    if point_crs is not None and grid_crs is not None:
        from karta_spark.functions import crs as kcrs
        src = kcrs.lookup(point_crs)
        dst = kcrs.lookup(grid_crs)
        if src.name != dst.name:
            lon, lat = kcrs.inverse_exprs(src, F.col(px), F.col(py))
            gx, gy = kcrs.forward_exprs(dst, lon, lat)
            points = points.withColumns({"_gx": gx, "_gy": gy})
            out = sample_join(points, tiles, transform, method=method,
                              px="_gx", py="_gy", tile=tile, value_col=value_col)
            return out.drop("_gx", "_gy")
    # one task over the scalar columns: a single-stage job, no exchange
    meta = tiles.coalesce(1).selectExpr(
        "first(gny) AS gny", "first(gnx) AS gnx", "first(nodata) AS nodata",
        "min(halo) AS halo", "max(ny) AS tny", "max(nx) AS tnx",
        "count(*) AS n_tiles").first()
    gny, gnx = int(meta["gny"]), int(meta["gnx"])
    # tiles_from_cells tables carry their NaN nodata as null
    nodata = float("nan") if meta["nodata"] is None else float(meta["nodata"])
    # the keys use the table's own tile size, its largest core extent (a
    # one-tile table may be smaller than the size it was cut with)
    size = max(int(meta["tny"]), int(meta["tnx"]))
    if tile is not None and tile != size and (size < max(gny, gnx) or tile < size):
        raise ValueError(f"tile={tile} does not match the table's {size}-cell tiles")
    if int(meta["halo"]) < 1:
        raise ValueError("sampling needs tiles with a halo of at least one cell")

    # both methods answer every position outside [-1, n] with nodata, so
    # a null, NaN, infinite or off-grid one becomes -2: the integer math
    # below then stays small and cannot overflow under ANSI
    i, j = position_sql(transform, quote(px), quote(py))
    pts = points.selectExpr("*", *(
        f"CASE WHEN ({c} >= -1) AND ({c} <= {n}) THEN {c} ELSE (-2.0D) END AS {name}"
        for c, n, name in ((i, gny, "_i"), (j, gnx, "_j"))))
    low = _split_low_sql if use_bilinear else round_half_even_sql  # np.round is banker's
    pts = pts.selectExpr(
        "*", f"{low('_i')} AS _r", f"{low('_j')} AS _c",
        f"CAST(greatest(0, least({gny - 1}, FLOOR(_i))) / {size} AS INT) AS _ti",
        f"CAST(greatest(0, least({gnx - 1}, FLOOR(_j))) / {size} AS INT) AS _tj")
    t = tiles.selectExpr("tile_i AS _ti", "tile_j AS _tj", "i0 - halo AS _oi",
                         "j0 - halo AS _oj", "nx + halo * 2 AS _w", "block")

    at = "(((_r - _oi) * _w) + (_c - _oj))"  # flat index in the halo'd block
    if use_bilinear:
        # the kernel's exact product and sum order, weights in float64
        wi0, wi1, wj0, wj1 = "((_r + 1) - _i)", "(_i - _r)", "((_c + 1) - _j)", "(_j - _c)"
        val = (f"((((get(block, {at}) * {wi0}) * {wj0})"
               f" + ((get(block, ({at} + _w)) * {wi1}) * {wj0}))"
               f" + ((get(block, ({at} + 1)) * {wi0}) * {wj1}))"
               f" + ((get(block, (({at} + _w) + 1)) * {wi1}) * {wj1})")
        ok = f"((((_r >= 0) AND ((_r + 1) < {gny})) AND (_c >= 0)) AND ((_c + 1) < {gnx}))"
    else:
        val = f"get(block, {at})"
        ok = f"((((_r >= 0) AND (_r < {gny})) AND (_c >= 0)) AND (_c < {gnx}))"

    def no_nan(v):
        # a NaN sample leaves as SQL NULL; a NaN cell that a tile table
        # stores as a null element gathers null already
        return f"nanvl({v}, CAST(NULL AS DOUBLE)) AS {quote(value_col)}"

    keep = [quote(c) for c in points.columns]
    out = pts.join(t, ["_ti", "_tj"]).selectExpr(
        *keep, no_nan(f"CASE WHEN {ok} THEN {val} ELSE {sql_double(nodata)} END"))
    n_ti, n_tj = -(-gny // size), -(-gnx // size)
    if int(meta["n_tiles"]) < n_ti * n_tj:
        # a sparse table (tiles_from_cells keeps only tiles with data):
        # points keyed to an absent tile get nodata; clamped keys always
        # hit in a dense table, which is therefore scanned once
        miss = pts.join(t.select("_ti", "_tj"), ["_ti", "_tj"], "left_anti")
        out = out.unionByName(miss.selectExpr(*keep, no_nan(sql_double(nodata))))
    return out


def sample_join_multiband(
    points: DataFrame, tiles: DataFrame, transform,
    method: str = "bilinear", px: str = "x", py: str = "y",
    tile: int | None = None, value_prefix: str = "band",
) -> DataFrame:
    """Multiband sampling (reference returns a value per band,
    grid.py:830-969): one sampling join per band on the same point keys."""
    bands = sorted(r["band"] for r in tiles.select("band").distinct().collect())
    out = points
    for b in bands:
        out = sample_join(out, tiles.where(F.col("band") == b), transform,
                          method=method, px=px, py=py, tile=tile,
                          value_col=f"{value_prefix}_{b}")
    return out


def profile(
    tiles: DataFrame, transform, line_vertices, spacing: float,
    method: str = "nearest",
) -> DataFrame:
    """Sample the grid along a line at fixed spacing — reference
    ``RegularGrid.profile`` (grid.py:1035-1064): resample the line with
    ``to_points`` then route through the sampling join."""
    from karta_spark.functions.geometry import to_points

    spark = tiles.sparkSession
    rows = [(0, i, float(x), float(y)) for i, (x, y) in enumerate(line_vertices)]
    line = spark.createDataFrame(rows, "geom_id long, idx long, x double, y double")
    pts = to_points(line, spacing).select("sample_idx", "x", "y")
    return sample_join(pts, tiles, transform, method=method).orderBy("sample_idx")


def resample(
    tiles: DataFrame, transform, shape: tuple, dx: float, dy: float,
    method: str = "nearest", tile: int | None = None,
):
    """Resample a grid to spacing (dx, dy), origin preserved at cell edge —
    reference grid.py:724-760: new transform
    ``(xmin-0.5dx-0.5sx, ymin-0.5dy-0.5sy, dx, dy, sx, sy)`` and every
    target cell routed through the sampling join.

    Returns (sampled point DataFrame with target (ti, tj, x, y, value),
    new_transform, (new_ny, new_nx)).  Target-pixel generation is
    distributed (spark.range cross), not driver-side.
    """
    x0, y0, dxo, dyo, sx, sy = (float(v) for v in transform)
    gny, gnx = shape
    # extent('center') of the source grid (reference grid.py:342-387):
    # from the center LL reference, stepping (n-1) cells with sign-matched
    # skew accumulation
    xc = x0 + 0.5 * (dxo + sx)
    yc = y0 + 0.5 * (dyo + sy)
    sgn = lambda a: 0 if a == 0 else a / abs(a)  # noqa: E731
    if sgn(dxo) == sgn(sx):
        x1 = xc + dxo * (gnx - 1) + sx * (gny - 1)
    else:
        x1 = xc + dxo * (gnx - 1) - sx * (gny - 1)
    if sgn(dyo) == sgn(sy):
        y1 = yc + dyo * (gny - 1) + sy * (gnx - 1)
    else:
        y1 = yc + dyo * (gny - 1) - sy * (gnx - 1)
    xmin, xmax = min(xc, x1), max(xc, x1)
    ymin, ymax = min(yc, y1), max(yc, y1)
    ny = int((ymax - ymin) // dy) + 1
    nx = int((xmax - xmin) // dx) + 1
    tnew = (xmin - 0.5 * dx - 0.5 * sx, ymin - 0.5 * dy - 0.5 * sy, dx, dy, sx, sy)

    spark = tiles.sparkSession
    targets = (
        spark.range(ny).withColumnRenamed("id", "ti")
        .crossJoin(spark.range(nx).withColumnRenamed("id", "tj"))
        .select(
            F.col("ti").cast("int"), F.col("tj").cast("int"),
            (tnew[0] + (F.col("tj") + 0.5) * dx + (F.col("ti") + 0.5) * sx).alias("x"),
            (tnew[1] + (F.col("ti") + 0.5) * dy + (F.col("tj") + 0.5) * sy).alias("y"),
        )
    )
    sampled = sample_join(targets, tiles, transform, method=method, tile=tile)
    return sampled, tnew, (ny, nx)


def resample_transform(
    tiles: DataFrame, transform, shape: tuple, t_new,
    method: str = "nearest", tile: int | None = None,
):
    """Resample the grid onto a NEW transform of the same shape (reference
    grid.py:670-694 _resample_transform): every target pixel center of
    *t_new* sampled from the source lattice through the distributed
    sampling join."""
    gny, gnx = shape
    t_new = tuple(float(v) for v in t_new)
    spark = tiles.sparkSession
    targets = (
        spark.range(gny).withColumnRenamed("id", "ti")
        .crossJoin(spark.range(gnx).withColumnRenamed("id", "tj"))
        .select(
            F.col("ti").cast("int"), F.col("tj").cast("int"),
            (t_new[0] + (F.col("tj") + 0.5) * t_new[2]
             + (F.col("ti") + 0.5) * t_new[4]).alias("x"),
            (t_new[1] + (F.col("ti") + 0.5) * t_new[3]
             + (F.col("tj") + 0.5) * t_new[5]).alias("y"),
        )
    )
    sampled = sample_join(targets, tiles, transform, method=method, tile=tile)
    return sampled, t_new, (gny, gnx)


def align_origin(
    tiles: DataFrame, transform, shape: tuple, x: float, y: float,
    method: str = "nearest", tile: int | None = None,
):
    """Snap the transform anchor to an integer multiple of (x, y) and
    resample onto it (reference grid.py:696-722 _align_origin; python
    banker's round, as the reference uses)."""
    t = tuple(float(v) for v in transform)
    t_new = (x * round(t[0] / x), y * round(t[1] / y), t[2], t[3], t[4], t[5])
    return resample_transform(tiles, transform, shape, t_new,
                              method=method, tile=tile)
