"""gridpoints — points -> raster mean aggregation.

Reference ``gridpoints`` (grid.py:1259-1302 + crfuncs.pyx:161-195): bin
points into grid cells, mean per cell, empty cells nodata.  This is the
canonical hash aggregate: ``groupBy(cell_i, cell_j).avg(z)`` — partial
(map-side) + final aggregation for free, no UDF anywhere.

Index math: fractional positions (inverse affine, -0.5 convention) rounded
to nearest int (reference ``indices``, grid.py:788-828, np.round =
banker's rounding — replicated here as an expression).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from karta_spark.raster.sampling import position_sql, quote, round_half_even


def gridpoints(
    points: DataFrame, transform, px: str = "x", py: str = "y", pz: str = "z",
) -> DataFrame:
    """(cell_i, cell_j, value=mean(z), n) per non-empty cell.

    Grid shape follows the reference: ny/nx implied by the data maxima
    (grid.py:1275-1276); empty cells are simply absent (the dense nodata
    fill is a presentation concern — see tiles_from_cells).  Points whose
    cell index is not an int (null, NaN, infinite or far-off coordinates)
    are dropped."""
    i, j = position_sql(transform, quote(px), quote(py))
    return (
        points
        .withColumns({"cell_i": round_half_even(i).try_cast("int"),
                      "cell_j": round_half_even(j).try_cast("int")})
        .groupBy("cell_i", "cell_j")
        .agg(F.avg(pz).alias("value"), F.count("*").alias("n"))
        # drop the null-index group here, once per cell: reading n keeps
        # Catalyst from pushing the predicate below the aggregate, where
        # a Filter (no subexpression elimination) would re-evaluate the
        # index expressions on every input row (q11 ran 30x slower)
        .where(F.when(F.col("n") > 0, F.col("cell_i").isNotNull() & F.col("cell_j").isNotNull()))
    )


def gridpoints_sql(transform, x: str, y: str, z: str) -> dict:
    """DuckDB-SQL twins of the index expressions: same -0.5 convention and
    the same banker's rounding as np.round/bround (DuckDB ``round_even``;
    plain round() is half-away-from-zero and disagrees on exact cell
    edges — e.g. the key-0 row landing on i = -0.5)."""
    x0, y0, dx, dy, sx, sy = (float(v) for v in transform)
    denom = dx * dy - sx * sy
    jj = f"(({dy!r} * {x} - {dy!r} * {x0!r} + {sx!r} * {y0!r} - {sx!r} * {y}) / {denom!r})"
    ii = f"(({y} - {y0!r} - {jj} * {sy!r}) / {dy!r})"
    return {
        "cell_i": f"CAST(round_even({ii} - 0.5, 0) AS INT)",
        "cell_j": f"CAST(round_even({jj} - 0.5, 0) AS INT)",
    }
