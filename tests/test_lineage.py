"""plans/lineage: stage checkpoints, resume, and exact per-partition lineage.

Lineage rows are counted on the driver from the parquet footers of the files
a write committed, so each test below compares a stage's lineage with the
rows the data itself says each partition committed: every row carries the
``spark_partition_id()`` of the task that wrote it.
"""
import json
import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from karta_spark.plans import lineage

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tagged(spark, n, parts, **cols):
    """range(n) over *parts* partitions, each row tagged with its partition."""
    return spark.range(0, n, 1, parts).select(
        "id", F.spark_partition_id().alias("p"),
        *[F.lit(v).alias(k) for k, v in cols.items()])


def _assert_exact(lin_rows, committed):
    """Lineage rows ↔ {partition id: committed rows}: one row per part_id,
    each count exact, no committed partition missing."""
    lin = {r["part_id"]: r["row_count"] for r in lin_rows}
    assert len(lin) == len(lin_rows)
    assert set(committed) <= set(lin)
    assert all(n == committed.get(pid, 0) for pid, n in lin.items())


def _committed(df):
    return {r["p"]: r["count"] for r in df.groupBy("p").count().collect()}


class TestLineage:
    def test_checkpoint_and_resume(self, spark, tmp_path):
        root = str(tmp_path / "ckpt")
        calls = []

        def build():
            calls.append(1)
            return spark.range(100).select(
                F.col("id"), (F.col("id") * 2).alias("doubled"))

        out1 = lineage.resume_or_run(build, root, "stage1", spark)
        assert out1.count() == 100 and len(calls) == 1
        out2 = lineage.resume_or_run(build, root, "stage1", spark)
        assert out2.count() == 100 and len(calls) == 1  # not rebuilt

        lt = lineage.lineage_table(spark, root, "stage1")
        rows = lt.collect()
        assert sum(r["row_count"] for r in rows) == 100
        assert all(r["wall_ms"] >= 0 for r in rows)
        assert os.path.exists(os.path.join(root, "stage1", "_SUCCESS_STAGE"))


class TestResumePartial:
    def test_missing_partitions_antijoin(self, spark, tmp_path):
        root = str(tmp_path / "ck2")
        src = spark.range(100).select(
            (F.col("id") % 10).alias("part_key"), F.col("id"))
        # simulate a partially completed stage: lineage rows for parts 0-4,
        # in the parquet layout run_stage writes
        spark.createDataFrame(
            [("stage_x", p, 10, 1.0, 0.0) for p in range(5)], lineage.LINEAGE_SCHEMA
        ).write.parquet(os.path.join(root, "stage_x", "_lineage"))
        todo = lineage.missing_partitions(src, spark, root, "stage_x", "part_key")
        keys = {r["part_key"] for r in todo.select("part_key").distinct().collect()}
        assert keys == {5, 6, 7, 8, 9}


class TestClusterSafeLineage:
    def test_lineage_counted_on_driver_not_side_files(self, spark, tmp_path):
        """VERDICT item 6: executor-local side files are invisible to the
        driver on a real cluster.  Lineage is counted on the driver from the
        committed data files and written as one parquet table, with no
        per-partition JSON side files."""
        root = str(tmp_path / "ck3")
        df = spark.range(1000).repartition(6).select(
            F.col("id"), (F.col("id") * 3).alias("tripled"))
        out = lineage.run_stage(df, root, "s1")
        assert out.count() == 1000

        lpath = os.path.join(root, "s1", "_lineage")
        files = os.listdir(lpath)
        assert not any(f.endswith(".json") for f in files)
        assert any(f.endswith(".parquet") for f in files)

        lt = lineage.lineage_table(spark, root, "s1").collect()
        assert sum(r["row_count"] for r in lt) == 1000
        assert len({r["part_id"] for r in lt}) == len(lt)  # deduped
        assert all(r["wall_ms"] >= 0 for r in lt)


class TestExactLineage:
    def test_schema_unchanged(self, spark, tmp_path):
        root = str(tmp_path / "ck")
        lineage.run_stage(_tagged(spark, 10, 2), root, "s")
        want = spark.createDataFrame([], lineage.LINEAGE_SCHEMA).schema
        assert lineage.lineage_table(spark, root, "s").schema == want

    def test_partition_by_sums_files_per_task(self, spark, tmp_path):
        root = str(tmp_path / "ck")
        df = _tagged(spark, 1000, 4).withColumn("k", F.col("id") % 3)
        out = lineage.run_stage(df, root, "pb", partition_by=["k"])
        data = os.path.join(root, "pb", "data")
        per_task = {}
        for d in os.listdir(data):
            if d.startswith("k="):
                for f in os.listdir(os.path.join(data, d)):
                    if f.startswith("part-"):
                        per_task[f[:10]] = per_task.get(f[:10], 0) + 1
        assert max(per_task.values()) > 1  # a task wrote several files
        _assert_exact(lineage.lineage_table(spark, root, "pb").collect(),
                      _committed(out))
        assert out.count() == 1000

    def test_append_counts_only_this_write(self, spark, tmp_path):
        root = str(tmp_path / "ck")
        lineage.run_stage(_tagged(spark, 1000, 4, w=0), root, "ap")
        out = lineage.run_stage(_tagged(spark, 600, 3, w=1), root, "ap",
                                mode="append")
        assert out.count() == 1600
        rows = lineage.lineage_table(spark, root, "ap").collect()
        _assert_exact(rows, _committed(out.where("w = 1")))
        assert sum(r["row_count"] for r in rows) == 600

    def test_empty_dataframe(self, spark, tmp_path):
        root = str(tmp_path / "ck")
        out = lineage.run_stage(_tagged(spark, 0, 3), root, "empty")
        assert out.count() == 0
        rows = lineage.lineage_table(spark, root, "empty").collect()
        _assert_exact(rows, {})
        assert lineage.stage_complete(root, "empty")

    def test_returned_schema_is_the_written_one(self, spark, tmp_path):
        """Plain, append, partition_by and empty writes come back with the
        written columns, every one nullable as a parquet read makes it;
        partition columns go last and keep their written type (a directory
        name alone would read k back as int)."""
        root = str(tmp_path / "ck")
        out = lineage.run_stage(_tagged(spark, 10, 2, s="a", d=1.5), root, "plain")
        assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema] == [
            ("id", "bigint", True), ("p", "int", True), ("s", "string", True),
            ("d", "double", True)]
        lineage.run_stage(_tagged(spark, 10, 2, w=0), root, "ap")
        out = lineage.run_stage(_tagged(spark, 6, 3, w=1), root, "ap", mode="append")
        assert out.schema.simpleString() == "struct<id:bigint,p:int,w:int>"
        assert out.count() == 16
        pb = (_tagged(spark, 100, 4).withColumn("k", F.col("id") % 3)
              .withColumn("z", F.lit("q")))
        out = lineage.run_stage(pb, root, "pb", partition_by=["K"])
        assert out.schema.simpleString() == "struct<id:bigint,p:int,z:string,k:bigint>"
        assert sorted(r["k"] for r in out.select("k").distinct().collect()) == [0, 1, 2]
        out = lineage.run_stage(_tagged(spark, 0, 3), root, "empty")
        assert out.schema.simpleString() == "struct<id:bigint,p:int>"
        # no file at all: there is nothing a schema could be inferred from
        out = lineage.run_stage(_tagged(spark, 0, 3, k=1), root, "empty_pb",
                                partition_by=["k"])
        assert out.schema.simpleString() == "struct<id:bigint,p:int,k:int>"
        assert out.count() == 0

    def test_task_retry_counted_once(self, tmp_path):
        """Attempt 0 of partition 1 fails mid-write; local[2,2] retries it.
        Only the committed attempt's file is counted."""
        script = textwrap.dedent("""
            import json, sys
            from pyspark.sql import functions as F
            from karta_spark.plans import lineage
            from karta_spark.session import get_spark

            spark = get_spark("retry", master="local[2,2]", shuffle_partitions=2)

            @F.udf("long")
            def flaky(x):
                from pyspark import TaskContext
                ctx = TaskContext.get()
                if ctx.partitionId() == 1 and ctx.attemptNumber() == 0 \\
                        and x == 450:
                    raise RuntimeError("injected task failure")
                return x

            df = spark.range(0, 1000, 1, 4).select(
                flaky("id").alias("id"), F.spark_partition_id().alias("p"))
            out = lineage.run_stage(df, sys.argv[1], "s")
            committed = out.groupBy("p").count().collect()
            lin = lineage.lineage_table(spark, sys.argv[1], "s").collect()
            print(json.dumps({
                "committed": {r["p"]: r["count"] for r in committed},
                "lineage": [[r["part_id"], r["row_count"]] for r in lin]}))
            spark.stop()
        """)
        env = dict(os.environ, PYTHONPATH=REPO)
        r = subprocess.run([sys.executable, "-c", script, str(tmp_path / "ck")],
                           capture_output=True, text=True, env=env, timeout=300)
        assert r.returncode == 0, r.stderr[-2000:]
        assert "injected task failure" in r.stderr  # the retry really happened
        res = json.loads(r.stdout.strip().splitlines()[-1])
        committed = {int(k): v for k, v in res["committed"].items()}
        assert sum(committed.values()) == 1000
        _assert_exact([{"part_id": p, "row_count": n} for p, n in res["lineage"]],
                      committed)
        assert sum(n for _, n in res["lineage"]) == 1000


class TestLineageJobs:
    def test_range_stage_jobs_and_plan(self, spark, tmp_path):
        """A spark.range stage costs one Spark job, the write: the re-read
        takes the written schema instead of inferring one from the
        footers.  The write plan has no Python."""
        sc = spark.sparkContext
        group = "lineage-jobs-%d" % id(tmp_path)
        sc.setJobGroup(group, "run_stage job count")
        try:
            lineage.run_stage(spark.range(1000), str(tmp_path / "ck"), "s")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = set(sc.statusTracker().getJobIdsForGroup(group))
        assert len(jobs) == 1

        store = spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        plans = [e.physicalPlanDescription() for e in
                 (execs.apply(i) for i in range(execs.size()))
                 if any(e.jobs().contains(j) for j in jobs)]
        writes = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
        assert len(writes) == 1
        assert not any("MapInPandas" in p or "PythonUDF" in p for p in plans)

    def test_resume_keeps_the_written_schema_without_a_job(self, spark, tmp_path):
        """A resumed stage comes back with the schema the first run
        returned (partition column k stays bigint, not the int a directory
        name infers) and reading it back runs no Spark job."""
        root = str(tmp_path / "ck")

        def build():
            return _tagged(spark, 100, 4, s="a").withColumn("k", F.col("id") % 3)

        first = lineage.resume_or_run(build, root, "s", spark, partition_by=["k"])
        assert first.schema["k"].dataType.simpleString() == "bigint"
        sc = spark.sparkContext
        group = "lineage-resume-%d" % id(tmp_path)
        sc.setJobGroup(group, "resume_or_run job count")
        try:
            again = lineage.resume_or_run(build, root, "s", spark)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert again.schema == first.schema
        assert sorted(again.collect()) == sorted(first.collect())
