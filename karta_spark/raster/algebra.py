"""Tile-table algebra: +/- on structure-equal grids, weighted mosaic, apply.

Reference semantics:
- grid +/- (grid.py:196-210): structure-equal only
- ``merge`` mosaic (grid.py:1141-1231): weighted average of overlapping
  grids on a common lattice (transforms must differ by integer translation)
- ``Grid.apply`` (grid.py:54-78): map a function over non-nodata cells

Distributed shape: every op is a cell-keyed hash join / aggregate on
(tile_i, tile_j) with array zip kernels inside — tiles never leave their
executor except through the one shuffle on the tile key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from karta_spark.raster.tiles import TILE_SCHEMA


def grid_add(a: DataFrame, b: DataFrame, out_grid_id: str = "sum") -> DataFrame:
    """Per-pixel a + b for structure-equal tile tables (zip_with — JVM)."""
    bb = b.select(
        "band", "tile_i", "tile_j", F.col("block").alias("block_b"))
    j = a.join(bb, ["band", "tile_i", "tile_j"])
    return j.withColumn(
        "block", F.zip_with("block", "block_b", lambda x, y: x + y)
    ).drop("block_b").withColumn("grid_id", F.lit(out_grid_id))


def grid_sub(a: DataFrame, b: DataFrame, out_grid_id: str = "diff") -> DataFrame:
    bb = b.select("band", "tile_i", "tile_j", F.col("block").alias("block_b"))
    j = a.join(bb, ["band", "tile_i", "tile_j"])
    return j.withColumn(
        "block", F.zip_with("block", "block_b", lambda x, y: x - y)
    ).drop("block_b").withColumn("grid_id", F.lit(out_grid_id))


def grid_apply(tiles: DataFrame, fn, out_grid_id: str | None = None) -> DataFrame:
    """Map a numpy vector function over non-nodata cells (grid.py:54-78)."""
    def run(pdf_iter):
        for pdf in pdf_iter:
            out = pdf.copy()
            blocks = []
            for _, r in pdf.iterrows():
                blk = np.asarray(r["block"], dtype=np.float64)
                nd = r["nodata"]
                mask = np.isnan(blk) if np.isnan(nd) else (blk == nd)
                res = blk.copy()
                res[~mask] = fn(blk[~mask])
                blocks.append(res.tolist())
            out["block"] = blocks
            if out_grid_id is not None:
                out["grid_id"] = out_grid_id
            yield out

    return tiles.mapInPandas(run, TILE_SCHEMA)


def merge_grids(
    grids: list[DataFrame], weights: list[float] | None = None,
    out_grid_id: str = "merged", tile: int = 256,
):
    """karta ``raster.merge`` (grid.py:1141-1231): mosaic grids whose
    transforms differ by *integer cell translation* onto the combined
    lattice, weighted-averaging overlaps, NaN where no grid has data.

    Distributed shape: each grid's tiles explode to pixel rows keyed by the
    combined-lattice tile -> one shuffle on the tile key -> per-tile
    weighted assembly. Returns (tile DataFrame, combined transform,
    (ny, nx)).
    """
    metas = []
    for g in grids:
        r = g.select("transform", "gny", "gnx").first()
        t = r["transform"]
        metas.append(((t["x0"], t["y0"], t["dx"], t["dy"], t["sx"], t["sy"]),
                      int(r["gny"]), int(r["gnx"])))
    dx, dy = metas[0][0][2], metas[0][0][3]
    sx, sy = metas[0][0][4], metas[0][0][5]
    for t, _, _ in metas:
        if (t[2], t[3], t[4], t[5]) != (dx, dy, sx, sy):
            raise ValueError("merge requires equal cell geometry")
        if abs((t[0] - metas[0][0][0]) / dx % 1.0) > 1e-9 or \
           abs((t[1] - metas[0][0][1]) / dy % 1.0) > 1e-9:
            raise ValueError("transforms must differ by integer translation")
    x0 = min(t[0] for t, _, _ in metas)
    y0 = min(t[1] for t, _, _ in metas)
    T = (x0, y0, dx, dy, sx, sy)
    ny = max(int(round((t[1] - y0) / dy)) + gny for t, gny, _ in metas)
    nx = max(int(round((t[0] - x0) / dx)) + gnx for t, _, gnx in metas)

    pixel_schema = "band int, ti int, tj int, gi int, gj int, wv double, w double"
    pieces = []
    for k, g in enumerate(grids):
        w = float(weights[k]) if weights else 1.0
        di = int(round((metas[k][0][1] - y0) / dy))
        dj = int(round((metas[k][0][0] - x0) / dx))

        def explode(pdf_iter, _di=di, _dj=dj, _w=w):
            for pdf in pdf_iter:
                outs = []
                for _, r in pdf.iterrows():
                    h, tny, tnx = int(r["halo"]), int(r["ny"]), int(r["nx"])
                    blk = np.asarray(r["block"], dtype=np.float64).reshape(
                        tny + 2 * h, tnx + 2 * h)[h:h + tny, h:h + tnx]
                    nd = float(r["nodata"])
                    valid = ~np.isnan(blk) if np.isnan(nd) else (blk != nd)
                    ii, jj = np.nonzero(valid)
                    gi = ii + int(r["i0"]) + _di
                    gj = jj + int(r["j0"]) + _dj
                    outs.append(pd.DataFrame({
                        "band": int(r["band"]), "ti": gi // tile, "tj": gj // tile,
                        "gi": gi, "gj": gj,
                        "wv": blk[ii, jj] * _w, "w": _w,
                    }))
                if outs:
                    yield pd.concat(outs)

        pieces.append(g.mapInPandas(explode, pixel_schema))

    allpix = pieces[0]
    for p in pieces[1:]:
        allpix = allpix.unionByName(p)
    summed = allpix.groupBy("band", "ti", "tj", "gi", "gj").agg(
        F.sum("wv").alias("wv"), F.sum("w").alias("w"))

    tdict = {"x0": T[0], "y0": T[1], "dx": T[2], "dy": T[3], "sx": T[4], "sy": T[5]}

    def assemble(key, pdf):
        band, ti, tj = int(key[0]), int(key[1]), int(key[2])
        i0, j0 = ti * tile, tj * tile
        tny = min(tile, ny - i0)
        tnx = min(tile, nx - j0)
        blk = np.full((tny + 2, tnx + 2), np.nan)  # halo=1, NaN borders
        li = pdf["gi"].to_numpy() - i0 + 1
        lj = pdf["gj"].to_numpy() - j0 + 1
        blk[li, lj] = pdf["wv"].to_numpy() / pdf["w"].to_numpy()
        return pd.DataFrame([{
            "grid_id": out_grid_id, "band": band, "tile_i": ti, "tile_j": tj,
            "i0": i0, "j0": j0, "ny": tny, "nx": tnx, "halo": 1,
            "block": blk.ravel().tolist(), "transform": tdict,
            "nodata": float("nan"), "gny": ny, "gnx": nx,
        }])

    tiles_out = summed.groupBy("band", "ti", "tj").applyInPandas(assemble, TILE_SCHEMA)
    return tiles_out, T, (ny, nx)


def mosaic(grids: DataFrame, weights: dict[str, float] | None = None,
           out_grid_id: str = "mosaic") -> DataFrame:
    """Weighted-average mosaic of co-aligned tile tables (union'd into one
    DataFrame, same transform lattice): groupBy tile key, weighted per-pixel
    mean ignoring nodata (grid.py:1141-1231 semantics on a common lattice).
    """
    w = weights or {}

    def combine(key, pdf):
        r0 = pdf.iloc[0]
        nd = float(r0["nodata"])
        acc = None
        wsum = None
        for _, r in pdf.iterrows():
            blk = np.asarray(r["block"], dtype=np.float64)
            wt = float(w.get(r["grid_id"], 1.0))
            valid = ~np.isnan(blk) if np.isnan(nd) else (blk != nd)
            if acc is None:
                acc = np.zeros_like(blk)
                wsum = np.zeros_like(blk)
            acc[valid] += wt * blk[valid]
            wsum[valid] += wt
        with np.errstate(invalid="ignore", divide="ignore"):
            out = np.where(wsum > 0, acc / wsum, nd)
        row = r0.copy()
        row["block"] = out.tolist()
        row["grid_id"] = out_grid_id
        return pd.DataFrame([row])

    return grids.groupBy("band", "tile_i", "tile_j").applyInPandas(combine, TILE_SCHEMA)
