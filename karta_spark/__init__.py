"""karta_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query semantics of fortyninemaps/karta (reference at
/root/reference, a single-process eager geometry library) as distributed,
declarative Spark DataFrame plans:

- geometry predicates (point-in-polygon, intersects, within-radius, kNN)
  become cell-keyed hash joins + vectorized numpy refine kernels
  (pandas/Arrow UDFs — never per-row Python);
- rasters become tile tables; sampling/resampling/zonal ops become
  cell-keyed joins and hash aggregates;
- the spatial index (karta's QuadTree/R-tree) becomes layout: partition,
  bucket and sort by cell_id so Parquet/Iceberg min-max pruning does the
  index's job, plus in-UDF packed R-trees over broadcast polygon sets.

Everything here is plain public PySpark 4.x + numpy/pandas/pyarrow.
"""

__version__ = "0.1.0"
