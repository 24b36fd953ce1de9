"""Raster tile table model.

A raster (reference ``RegularGrid``, grid.py:81-1139) becomes a DataFrame of
fixed-size tiles — the distributed analogue of ``CompressedBand`` 256x256
chunking (band.py:244-381) and ``aschunks`` halo iteration (grid.py:479-523):

    grid_id string, band int, tile_i int, tile_j int,
    i0 int, j0 int,                -- global row/col of the tile's core origin
    ny int, nx int,                -- core shape (without halo)
    halo int,                      -- duplicated border rows on each side
    block array<double>,           -- row-major (ny+2h)x(nx+2h) incl. halo
    transform struct<x0,y0,dx,dy,sx,sy>,   -- karta 6-term affine, LL-corner
    nodata double,
    gny int, gnx int               -- full grid shape

The halo makes stencil and bilinear ops tile-local: any sample whose floor
index lands in the core is answerable inside one tile — no neighbor
exchange at query time (the exchange is paid once at write).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TILE_SCHEMA = (
    "grid_id string, band int, tile_i int, tile_j int, i0 int, j0 int, "
    "ny int, nx int, halo int, block array<double>, "
    "transform struct<x0:double,y0:double,dx:double,dy:double,sx:double,sy:double>, "
    "nodata double, gny int, gnx int"
)

DEFAULT_TILE = 256


def grid_to_df(
    spark: SparkSession, grid_id: str, values: np.ndarray, transform,
    nodata: float = float("nan"), band: int = 0,
    tile: int = DEFAULT_TILE, halo: int = 1,
) -> DataFrame:
    """Driver-side ingest of an in-memory array (test fixtures / small
    reference layers). Big rasters arrive as pre-tiled tables instead."""
    values = np.asarray(values, dtype=np.float64)
    gny, gnx = values.shape
    rows = []
    t = tuple(float(v) for v in transform)
    for i0 in range(0, gny, tile):
        for j0 in range(0, gnx, tile):
            ny = min(tile, gny - i0)
            nx = min(tile, gnx - j0)
            ilo, ihi = max(i0 - halo, 0), min(i0 + ny + halo, gny)
            jlo, jhi = max(j0 - halo, 0), min(j0 + nx + halo, gnx)
            blk = np.full((ny + 2 * halo, nx + 2 * halo), np.nan)
            blk[halo - (i0 - ilo): halo - (i0 - ilo) + (ihi - ilo),
                halo - (j0 - jlo): halo - (j0 - jlo) + (jhi - jlo)] = values[ilo:ihi, jlo:jhi]
            rows.append((
                grid_id, band, i0 // tile, j0 // tile, i0, j0, ny, nx, halo,
                blk.ravel().tolist(),
                {"x0": t[0], "y0": t[1], "dx": t[2], "dy": t[3], "sx": t[4], "sy": t[5]},
                float(nodata), gny, gnx,
            ))
    return spark.createDataFrame(rows, TILE_SCHEMA)


def df_to_grid(df: DataFrame, grid_id: str | None = None, band: int = 0):
    """Collect a (small) tile table back to (values, transform, nodata).

    WARNING: driver-side, small grids only — this materializes the FULL
    grid on the driver via toPandas.  It is a test/driver utility for
    grids that fit in driver memory; never route a continental mosaic or
    anything tile-parallel through it.  The scale paths are the tile-table
    operators (stencils, algebra, mask, sampling), which stay distributed."""
    sel = df.where(F.col("band") == band)
    if grid_id is not None:
        sel = sel.where(F.col("grid_id") == grid_id)
    pdf = sel.toPandas()
    assert len(pdf) > 0, "empty grid"
    gny, gnx = int(pdf.iloc[0]["gny"]), int(pdf.iloc[0]["gnx"])
    out = np.full((gny, gnx), np.nan)
    for _, r in pdf.iterrows():
        h = int(r["halo"])
        ny, nx = int(r["ny"]), int(r["nx"])
        blk = np.asarray(r["block"], dtype=np.float64).reshape(ny + 2 * h, nx + 2 * h)
        out[int(r["i0"]):int(r["i0"]) + ny, int(r["j0"]):int(r["j0"]) + nx] = \
            blk[h:h + ny, h:h + nx]
    t = pdf.iloc[0]["transform"]
    transform = (t["x0"], t["y0"], t["dx"], t["dy"], t["sx"], t["sy"])
    return out, transform, float(pdf.iloc[0]["nodata"])


def tiles_from_cells(
    cells_df: DataFrame, transform, shape: tuple, grid_id: str = "from_cells",
    value_col: str = "value", tile: int = DEFAULT_TILE, halo: int = 1,
    band: int = 0,
) -> DataFrame:
    """Assemble a tile table from sparse (cell_i, cell_j, value) rows —
    the distributed densification of a gridpoints() result (empty cells
    nodata=NaN). One shuffle on the tile key; halos are built by routing
    each cell to every tile whose halo'd window covers it (so stencil and
    bilinear ops work on the result without a second exchange)."""
    gny, gnx = shape
    t = tuple(float(v) for v in transform)
    tdict = {"x0": t[0], "y0": t[1], "dx": t[2], "dy": t[3], "sx": t[4], "sy": t[5]}

    n_ti = (gny + tile - 1) // tile
    n_tj = (gnx + tile - 1) // tile

    src = cells_df.select(
        F.col("cell_i").cast("int").alias("gi"),
        F.col("cell_j").cast("int").alias("gj"),
        F.col(value_col).cast("double").alias("v"),
    ).where((F.col("gi") >= 0) & (F.col("gi") < gny)
            & (F.col("gj") >= 0) & (F.col("gj") < gnx))

    # a cell belongs to its own tile and to any neighbor tile whose halo
    # covers it (cells within `halo` of a tile edge duplicate — same rule
    # as grid_to_df's write-time halo). Single pass: build the (ti, tj)
    # targets as an array and explode once.
    owner_ti = (F.col("gi") / tile).cast("int")
    owner_tj = (F.col("gj") / tile).cast("int")
    targets = []
    for di in (-1, 0, 1):
        for dj in (-1, 0, 1):
            ti = owner_ti + di
            tj = owner_tj + dj
            in_halo = (
                (ti >= 0) & (ti < n_ti) & (tj >= 0) & (tj < n_tj)
                & (F.col("gi") >= ti * tile - halo) & (F.col("gi") < (ti + 1) * tile + halo)
                & (F.col("gj") >= tj * tile - halo) & (F.col("gj") < (tj + 1) * tile + halo)
            )
            targets.append(F.when(in_halo, F.struct(ti.alias("ti"), tj.alias("tj"))))
    routed = src.select(
        "gi", "gj", "v",
        F.explode(F.filter(F.array(*targets), lambda s: s.isNotNull())).alias("_t"),
    ).select(F.col("_t.ti").alias("ti"), F.col("_t.tj").alias("tj"), "gi", "gj", "v")

    def assemble(key, pdf):
        ti, tj = int(key[0]), int(key[1])
        i0, j0 = ti * tile, tj * tile
        tny = min(tile, gny - i0)
        tnx = min(tile, gnx - j0)
        blk = np.full((tny + 2 * halo, tnx + 2 * halo), np.nan)
        li = pdf["gi"].to_numpy() - i0 + halo
        lj = pdf["gj"].to_numpy() - j0 + halo
        blk[li, lj] = pdf["v"].to_numpy()
        return pd.DataFrame([{
            "grid_id": grid_id, "band": band, "tile_i": ti, "tile_j": tj,
            "i0": i0, "j0": j0, "ny": tny, "nx": tnx, "halo": halo,
            "block": blk.ravel().tolist(), "transform": tdict,
            "nodata": float("nan"), "gny": gny, "gnx": gnx,
        }])

    return routed.groupBy("ti", "tj").applyInPandas(assemble, TILE_SCHEMA)


def clip(df: DataFrame, xmin: float, xmax: float, ymin: float, ymax: float) -> DataFrame:
    """Sub-lattice selection by bbox (reference grid.py:525-562): keep tiles
    intersecting the index rectangle, blank cells outside it.  Index math
    follows the reference's ceil/floor convention (grid.py:553-556)."""
    meta = df.select("transform", "gny", "gnx").first()
    t = meta["transform"]
    x0, y0, dx, dy, sx, sy = (t["x0"], t["y0"], t["dx"], t["dy"], t["sx"], t["sy"])
    # reference: positions of bbox corners -> ceil(min), floor(max)+1
    import math as _m
    j0 = int(_m.ceil((xmin - x0) / dx - 0.5))
    j1 = int(_m.floor((xmax - x0) / dx - 0.5)) + 1
    i0 = int(_m.ceil((ymin - y0) / dy - 0.5))
    i1 = int(_m.floor((ymax - y0) / dy - 0.5)) + 1
    i0c, j0c = max(i0, 0), max(j0, 0)
    i1c, j1c = min(i1, int(meta["gny"])), min(j1, int(meta["gnx"]))

    cand = df.where((F.col("i0") < i1c) & (F.col("i0") + F.col("ny") > i0c)
                    & (F.col("j0") < j1c) & (F.col("j0") + F.col("nx") > j0c))

    def blank(pdf_iter):
        for pdf in pdf_iter:
            out = pdf.copy()
            blocks = []
            for _, r in pdf.iterrows():
                h, ny, nx = int(r["halo"]), int(r["ny"]), int(r["nx"])
                blk = np.asarray(r["block"], dtype=np.float64).reshape(
                    ny + 2 * h, nx + 2 * h).copy()
                gi = np.arange(int(r["i0"]) - h, int(r["i0"]) + ny + h)
                gj = np.arange(int(r["j0"]) - h, int(r["j0"]) + nx + h)
                JJ, II = np.meshgrid(gj, gi)
                outside = (II < i0c) | (II >= i1c) | (JJ < j0c) | (JJ >= j1c)
                blk[outside] = float(r["nodata"])
                blocks.append(blk.ravel().tolist())
            out["block"] = blocks
            yield out

    return cand.mapInPandas(blank, TILE_SCHEMA)


def tile_cells(df: DataFrame) -> DataFrame:
    """Explode a tile table to (cell_i, cell_j, value) rows (halo excluded,
    nodata dropped) — the inverse of tiles_from_cells; the re-keying step
    any lattice-changing op (resize, re-tiling) shuffles through."""
    def explode(pdf_iter):
        for pdf in pdf_iter:
            outs = []
            for _, r in pdf.iterrows():
                h, ny, nx = int(r["halo"]), int(r["ny"]), int(r["nx"])
                blk = np.asarray(r["block"], dtype=np.float64).reshape(
                    ny + 2 * h, nx + 2 * h)[h:h + ny, h:h + nx]
                jj, ii = np.meshgrid(np.arange(nx), np.arange(ny))
                ok = ~np.isnan(blk)
                nd = float(r["nodata"])
                if not np.isnan(nd):
                    ok &= blk != nd
                outs.append(pd.DataFrame({
                    "cell_i": (ii[ok] + int(r["i0"])).astype(np.int64),
                    "cell_j": (jj[ok] + int(r["j0"])).astype(np.int64),
                    "value": blk[ok],
                }))
            yield pd.concat(outs) if outs else pd.DataFrame(
                {"cell_i": [], "cell_j": [], "value": []})

    return df.mapInPandas(explode, "cell_i long, cell_j long, value double")


def _resize_round(a: float) -> int:
    """The reference resize's own rounding (grid.py:576-581): half-values
    go DOWN (r <= 0.5 -> floor), unlike banker's or half-away."""
    import math as _m
    r = a % 1
    return int(a // 1) if r <= 0.5 else int(a // 1 + 1)


def resize(df: DataFrame, bboxnew, grid_id: str = "resized",
           tile: int = DEFAULT_TILE) -> DataFrame:
    """Reference RegularGrid.resize (grid.py:564-617): re-register the grid
    on a new bbox at the same resolution; the new width/height are ceil'd
    to integer multiples of (dx, dy), data is pasted by pure index shift
    (nearest-neighbour under non-integer origin shifts, the reference's
    _round doing the tie-breaking), everything else nodata.

    Distributed: explode in-window cells (tile_cells), shift indices, and
    re-tile with tiles_from_cells — ONE shuffle on the destination tile
    key; no driver-side array ever materializes."""
    import math as _m
    meta = df.select("transform", "gny", "gnx").first()
    t = meta["transform"]
    dx, dy, sx, sy = t["dx"], t["dy"], t["sx"], t["sy"]
    ny, nx = int(meta["gny"]), int(meta["gnx"])
    # reference bbox(): node-edge bbox of the old grid
    bb = (t["x0"], t["y0"], t["x0"] + nx * dx, t["y0"] + ny * dy)
    bbnew = list(bboxnew)
    bbnew[2] = bbnew[0] + dx * _m.ceil((bbnew[2] - bbnew[0]) / dx)
    bbnew[3] = bbnew[1] + dy * _m.ceil((bbnew[3] - bbnew[1]) / dy)
    nxnew = _resize_round((bbnew[2] - bbnew[0]) / dx)
    nynew = _resize_round((bbnew[3] - bbnew[1]) / dy)
    t_new = (bbnew[0], bbnew[1], dx, dy, sx, sy)
    j0new = max(0, _resize_round((bb[0] - bbnew[0]) / dx))
    i0new = max(0, _resize_round((bb[1] - bbnew[1]) / dy))
    j0 = max(0, _resize_round((bbnew[0] - bb[0]) / dx))
    j1 = min(nx, _resize_round((bbnew[2] - bb[0]) / dx))
    i0 = max(0, _resize_round((bbnew[1] - bb[1]) / dy))
    i1 = min(ny, _resize_round((bbnew[3] - bb[1]) / dy))

    cells_df = (tile_cells(df)
                .where((F.col("cell_i") >= i0) & (F.col("cell_i") < i1)
                       & (F.col("cell_j") >= j0) & (F.col("cell_j") < j1))
                .select((F.col("cell_i") - i0 + i0new).alias("cell_i"),
                        (F.col("cell_j") - j0 + j0new).alias("cell_j"),
                        "value"))
    return tiles_from_cells(cells_df, t_new, (nynew, nxnew),
                            grid_id=grid_id, tile=tile)


def get_nodata_default(T) -> float:
    """Default NODATA sentinel for a numeric dtype (reference
    grid.py:1233-1257 `get_nodata` semantics): unsigned integer types get
    their largest representable value, signed integer types their most
    negative, float and complex types NaN; anything else raises
    ValueError."""
    dt = np.dtype(T)
    if dt.kind == "u":
        return int(np.iinfo(dt).max)
    if dt.kind == "i":
        return int(np.iinfo(dt).min)
    if dt.kind in ("f", "c"):
        return float("nan")
    raise ValueError(f"No default NODATA value for type {T}")


def set_nodata_value(df: DataFrame, val: float) -> DataFrame:
    """Redefine the nodata sentinel (reference grid.py:243-256): cells
    currently equal to the old nodata (NaN-aware) are rewritten to *val*
    and the nodata metadata column updates — one mapInPandas pass, no
    shuffle."""
    def rewrite(pdf_iter):
        for pdf in pdf_iter:
            out = pdf.copy()
            blocks = []
            for _, r in pdf.iterrows():
                blk = np.asarray(r["block"], dtype=np.float64)
                old = float(r["nodata"])
                mask = np.isnan(blk) if np.isnan(old) else blk == old
                blk = np.where(mask, float(val), blk)
                blocks.append(blk.tolist())
            out["block"] = blocks
            out["nodata"] = float(val)
            yield out

    return df.mapInPandas(rewrite, TILE_SCHEMA)


def data_extent(df: DataFrame) -> DataFrame:
    """nodata-trimmed extent as (xmin, xmax, ymin, ymax) of valid cell
    centers (reference RegularGrid.data_extent, grid.py:389-463) — per-tile
    scan + global min/max agg."""
    def scan(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for _, r in pdf.iterrows():
                h, ny, nx = int(r["halo"]), int(r["ny"]), int(r["nx"])
                t = r["transform"]
                blk = np.asarray(r["block"], dtype=np.float64).reshape(
                    ny + 2 * h, nx + 2 * h)[h:h + ny, h:h + nx]
                nd = float(r["nodata"])
                valid = ~np.isnan(blk) if np.isnan(nd) else (blk != nd)
                if not valid.any():
                    continue
                ii, jj = np.nonzero(valid)
                gi = ii + int(r["i0"])
                gj = jj + int(r["j0"])
                cx = t["x0"] + (gj + 0.5) * t["dx"] + (gi + 0.5) * t["sx"]
                cy = t["y0"] + (gi + 0.5) * t["dy"] + (gj + 0.5) * t["sy"]
                rows.append((r["grid_id"], float(cx.min()), float(cx.max()),
                             float(cy.min()), float(cy.max())))
            yield pd.DataFrame(rows, columns=["grid_id", "xmin", "xmax", "ymin", "ymax"])

    per_tile = df.mapInPandas(
        scan, "grid_id string, xmin double, xmax double, ymin double, ymax double")
    return per_tile.groupBy("grid_id").agg(
        F.min("xmin").alias("xmin"), F.max("xmax").alias("xmax"),
        F.min("ymin").alias("ymin"), F.max("ymax").alias("ymax"))


def grid_minmax(df: DataFrame) -> DataFrame:
    """nodata-masked per-grid extrema (reference Grid.min/max, grid.py:26-48)
    as a hash aggregate over tile blocks (core region only)."""
    def stats(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for _, r in pdf.iterrows():
                h, ny, nx = int(r["halo"]), int(r["ny"]), int(r["nx"])
                blk = np.asarray(r["block"]).reshape(ny + 2 * h, nx + 2 * h)[h:h + ny, h:h + nx]
                nd = r["nodata"]
                m = ~np.isnan(blk) if np.isnan(nd) else (blk != nd)
                if m.any():
                    rows.append((r["grid_id"], float(blk[m].min()), float(blk[m].max())))
            yield pd.DataFrame(rows, columns=["grid_id", "tmin", "tmax"])

    per_tile = df.mapInPandas(stats, "grid_id string, tmin double, tmax double")
    return per_tile.groupBy("grid_id").agg(
        F.min("tmin").alias("min"), F.max("tmax").alias("max"))
