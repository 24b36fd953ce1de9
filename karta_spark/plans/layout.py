"""Spatial storage layout: partition + sort by cell so the file format's
min-max statistics do the spatial index's job (SURVEY §4: the reference's
QuadTree/R-tree is replaced by layout + pruning).

Layout contract:
- directory partitioning on a COARSE cell (z4/z5): a bbox query prunes
  whole directories at planning time (``PartitionFilters``);
- rows within each file sorted by the FINE cell_id: parquet row-group
  min-max stats prune pages inside surviving files (``PushedFilters``).

With an Iceberg catalog the same layout is `PARTITIONED BY (bucket/truncate
cell_coarse)` + a sort order — the read path and the pruning semantics are
identical; this parquet implementation is the sandbox stand-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from karta_spark.functions import cells


def ensure_min_parallelism(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin repartition *df* up to ``defaultParallelism * factor``
    when its current plan would execute in fewer partitions — otherwise
    return it unchanged (no exchange added).

    Guards the compute-heavy operators (Arrow kernels, candidate joins,
    HOF folds) against an unsplittable input: a single-row-group parquet
    file scans as ONE task no matter what the split config says, and every
    narrow transformation inherits that single partition.  The check is
    scale-adaptive — production inputs with enough partitions pass through
    untouched, so this never adds a shuffle at the 100 TB end; locally it
    costs one exchange of the (by definition small) input.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def write_cell_partitioned(
    points: DataFrame, path: str, lon: str = "x", lat: str = "y",
    coarse_zoom: int = 4, fine_zoom: int = 12, mode: str = "overwrite",
) -> None:
    """Write a point table partitioned by coarse cell, sorted by fine cell."""
    df = (
        points
        .withColumn("cell_coarse", cells.tile_id(F.col(lon), F.col(lat), coarse_zoom))
        .withColumn("cell_id", cells.tile_id(F.col(lon), F.col(lat), fine_zoom))
        .repartition("cell_coarse")
        .sortWithinPartitions("cell_id")
    )
    df.write.mode(mode).partitionBy("cell_coarse").parquet(path)


def bbox_scan(spark: SparkSession, path: str, bbox: tuple,
              coarse_zoom: int = 4, fine_zoom: int = 12,
              lon: str = "x", lat: str = "y") -> DataFrame:
    """bbox query that prunes at both layout levels: a cell_coarse IN (...)
    predicate (directory pruning, computed from the bbox's coarse cover)
    plus a cell_id range + exact coordinate filter (row-group pruning)."""
    xmin, ymin, xmax, ymax = bbox
    cx0, cy1 = cells.tile_xy_py(xmin, max(ymin, -cells.MAX_LAT + 1e-9), coarse_zoom)
    cx1, cy0 = cells.tile_xy_py(xmax, min(ymax, cells.MAX_LAT - 1e-9), coarse_zoom)
    coarse = [
        (coarse_zoom << 58) | (tx << 29) | ty
        for tx in range(cx0, cx1 + 1) for ty in range(cy0, cy1 + 1)
    ]
    df = spark.read.parquet(path).where(F.col("cell_coarse").isin(coarse))
    return df.where(
        (F.col(lon) >= xmin) & (F.col(lon) <= xmax)
        & (F.col(lat) >= ymin) & (F.col(lat) <= ymax)
    )


def write_bucketed(points: DataFrame, table: str, n_buckets: int = 32,
                   lon: str = "x", lat: str = "y", fine_zoom: int = 12,
                   mode: str = "overwrite") -> None:
    """Bucket + sort the point table by cell_id into a saved table.

    Two tables bucketed the same way co-locate: a join on cell_id between
    them needs NO exchange on either side (Catalyst sees the matching
    hash-partitioning from the bucket spec) — the storage-level analogue of
    karta holding both operand indexes in one process.  On Iceberg the same
    contract is `bucket(n, cell_id)` partition transforms."""
    (points
     .withColumn("cell_id", cells.tile_id(F.col(lon), F.col(lat), fine_zoom))
     .write.mode(mode)
     .bucketBy(n_buckets, "cell_id").sortBy("cell_id")
     .format("parquet").saveAsTable(table))
