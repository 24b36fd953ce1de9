"""Resumable-batch checkpointing with per-partition lineage + metrics.

The north rule requires every stage to checkpoint with per-partition lineage
and row-count/latency metrics so a killed job resumes without recompute
(SURVEY §2.9).  Layout (Iceberg-shaped; plain parquet here because the
sandbox has no Iceberg catalog jars — the directory/table layout and the
anti-join resume logic are identical when the writer targets an Iceberg
catalog via ``spark.table``):

    <root>/<stage>/data/           partitioned parquet, bucketable by cell_id
    <root>/<stage>/_lineage/       (stage, part_id, row_count, wall_ms,
                                    finished_at) one row per partition that
                                    committed a file in the last write
    <root>/<stage>/_SUCCESS_STAGE  stage-complete marker, holding the
                                    written schema

``run_stage`` checkpoints with a plain ``df.write.parquet`` — no Python runs
in the write — and counts rows from committed footers: the driver lists the
data files this write added (a before/after diff, so ``mode="append"`` and
``partition_by`` work), takes ``part_id`` from the ``part-NNNNN-`` file name
(the writing task's partition id) and ``row_count`` from the parquet footers,
summed per part id.  Only committed task attempts leave files, so retried and
speculative tasks cannot double-count and nothing has to be polled: the
counts are exact.  ``wall_ms`` is measured from the write's start to the
file's commit, read as the file's modification time, which is also
``finished_at`` (the latest one when a task wrote several files).  A
partition that wrote no file (Spark skips empty tasks other than partition
0) gets no lineage row.  The driver reads the footers and writes the
lineage parquet itself with pyarrow, so *root* must be driver-visible —
the same contract as the ``_SUCCESS_STAGE`` marker.

``resume_or_run`` returns the checkpointed DataFrame when the stage marker
exists, read with the schema the marker records — a killed pipeline
restarted with the same root skips completed stages entirely, with no
schema-inference job and the column types of the first run; partial
stages re-run only missing partitions via an anti-join on lineage
part_ids when the source is partition-stable.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LINEAGE_SCHEMA = ("stage string, part_id long, row_count long, "
                  "wall_ms double, finished_at double")
_ARROW_SCHEMA = pa.schema([
    ("stage", pa.string()), ("part_id", pa.int64()), ("row_count", pa.int64()),
    ("wall_ms", pa.float64()), ("finished_at", pa.float64())])
_PART_ID = re.compile(r"part-(\d+)-")


def _marker(root: str, stage: str) -> str:
    return os.path.join(root, stage, "_SUCCESS_STAGE")


def stage_complete(root: str, stage: str) -> bool:
    return os.path.exists(_marker(root, stage))


def _data_files(path: str) -> set[str]:
    """Data files under *path*, partition subdirectories included; skips the
    ``_``/``.``-prefixed entries (``_SUCCESS``, ``_temporary``, ``.crc``)."""
    out = set()
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out.update(os.path.join(d, f) for f in files
                   if not f.startswith(("_", ".")))
    return out


def run_stage(
    df: DataFrame, root: str, stage: str,
    partition_by: list[str] | None = None, mode: str = "overwrite",
) -> DataFrame:
    """Materialize *df* as the checkpoint for *stage*, recording lineage.

    Returns the re-read (checkpointed) DataFrame, so downstream stages read
    columnar parquet instead of recomputing the plan.  Its schema is the
    written one, with *partition_by* columns moved last and typed as
    written (not as their directory names would be inferred)."""
    spark = df.sparkSession
    data_path = os.path.join(root, stage, "data")
    lineage_path = os.path.join(root, stage, "_lineage")

    before = _data_files(data_path)
    t0 = time.time()
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_path)

    rows: dict[int, int] = {}
    done: dict[int, float] = {}
    for f in _data_files(data_path) - before:
        pid = int(_PART_ID.match(os.path.basename(f)).group(1))
        rows[pid] = rows.get(pid, 0) + pq.read_metadata(f).num_rows
        done[pid] = max(done.get(pid, 0.0), os.path.getmtime(f))
    # max(0, ·): the file system's clock can trail the driver's (coarse
    # mtimes, a shared store's own clock)
    table = pa.Table.from_pylist([
        {"stage": stage, "part_id": p, "row_count": rows[p],
         "wall_ms": max(0.0, (done[p] - t0) * 1000.0), "finished_at": done[p]}
        for p in sorted(rows)], schema=_ARROW_SCHEMA)
    shutil.rmtree(lineage_path, ignore_errors=True)
    os.makedirs(lineage_path)
    pq.write_table(table, os.path.join(lineage_path, "part-00000.parquet"))

    # read back with the written schema, partition columns last as a
    # partitioned read lists them: Spark infers no schema, which would
    # cost a footer-reading job per stage
    parts = {c.lower(): k for k, c in enumerate(partition_by or (), 1)}
    schema = StructType(sorted(df.schema.fields,
                               key=lambda f: parts.get(f.name.lower(), 0)))
    with open(_marker(root, stage), "w") as f:
        f.write(json.dumps({"stage": stage, "completed_at": time.time(),
                            "schema": schema.jsonValue()}))
    return spark.read.schema(schema).parquet(data_path)


def resume_or_run(build, root: str, stage: str,
                  spark: SparkSession | None = None, **kwargs) -> DataFrame:
    """If *stage* already checkpointed under *root*, read it back; otherwise
    call ``build()`` and checkpoint the result. ``build`` is a zero-arg
    callable returning a DataFrame.  A resumed stage is read with the
    schema ``run_stage`` recorded in the marker, so it has the columns and
    types the first run returned."""
    if stage_complete(root, stage):
        with open(_marker(root, stage)) as f:
            schema = StructType.fromJson(json.load(f)["schema"])
        s = spark or SparkSession.getActiveSession()
        return s.read.schema(schema).parquet(os.path.join(root, stage, "data"))
    return run_stage(build(), root, stage, **kwargs)


def lineage_table(spark: SparkSession, root: str, stage: str) -> DataFrame:
    """Read the per-partition lineage metrics run_stage wrote for a stage
    (an empty table when the stage has none)."""
    path = os.path.join(root, stage, "_lineage")
    if os.path.isdir(path) and any(fn.endswith(".parquet") for fn in os.listdir(path)):
        return spark.read.parquet(path)
    return spark.createDataFrame([], LINEAGE_SCHEMA)


def missing_partitions(source: DataFrame, spark: SparkSession, root: str,
                       stage: str, key: str) -> DataFrame:
    """Partition-stable resume: anti-join source keys against completed
    lineage — only unprocessed keys flow to the re-run."""
    done = lineage_table(spark, root, stage).select(
        F.col("part_id").cast("long").alias(key)).distinct()
    return source.join(done, key, "left_anti")
