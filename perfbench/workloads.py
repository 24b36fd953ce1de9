"""The benchmark's workloads.

Each workload builds its inputs from the seed, computes the expected output
once without karta_spark (DuckDB over the same parquet files; numpy for
the enrichment; every image verifies), runs one job per call of ``job``
and checks the job's output against it.

- ``pip_tile``: the flagship.  (image_id, phash) rows read from parquet,
  lon/lat from phash, point_in_polygon_join against the three flagship
  polygons at z8, tile_id at z8, per-(polygon, tile) counts.  All JVM: the
  compiled CASE refine and a broadcast cover, no Python.
- ``pip_refine``: skewed points (a tenth of them in one z8 cell on a
  polygon edge) against 200 irregular polygons.  More than 96 polygons
  builds the cover on executors, more than 48 compiles no CASE, so every
  candidate crosses the Arrow pipe into the packed (40-90 vertices) or the
  per-polygon slice (150-300 vertices, some with holes) winding kernel.
  The hits and per-polygon counts are checkpointed with lineage.run_stage.
- ``image_enrich``: each job first verifies synthetic png/bmp/jpeg image
  rows read from parquet through images.verify_images (Python codec
  bound, no spatial layer), then enriches the images' locations:
  knn.knn_join (k=4, zoom None, so the broadcast numpy kernel below its
  2M-point cut-over) against seeded POIs, and raster.sampling.sample_join
  (bilinear) on a seeded global grid built with raster.tiles.grid_to_df.
  The kNN is checked against a brute-force numpy kNN for a sample of
  points, the samples against bilinear values computed from the grid
  array.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.tracing import node_sum

ZOOM = 8


def write_parquet(path: str, cols: dict, files: int) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    n = len(next(iter(cols.values())))
    for k in range(files):
        sl = slice(k * n // files, (k + 1) * n // files)
        pq.write_table(pa.table({c: v[sl] for c, v in cols.items()}),
                       os.path.join(path, f"part-{k:04d}.parquet"))


def digest(rows) -> str:
    return hashlib.sha256(json.dumps(sorted(rows)).encode()).hexdigest()


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def duckdb_connect(work: str, cpus: int):
    import duckdb

    return duckdb.connect(config={
        "threads": cpus, "memory_limit": "2GB",
        "temp_directory": os.path.join(work, "duckdb-tmp")})


def timed_median(fn, reps: int = 3) -> float:
    """Median wall seconds of *reps* calls of *fn* after one untimed call."""
    fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def plan_layers(nodes) -> dict:
    """Layer counters every workload reads from its executed plans."""
    py = ("ArrowEvalPythonExec", "MapInPandasExec")
    return {
        "spark.scan_s": node_sum(nodes, "FileSourceScanExec", "scanTime") / 1e3,
        "spark.scan_rows": node_sum(nodes, "FileSourceScanExec", "numOutputRows"),
        "spark.shuffle_bytes": node_sum(nodes, "ShuffleExchangeExec", "dataSize"),
        "spark.broadcast_bytes": node_sum(nodes, "BroadcastExchangeExec", "dataSize"),
        "spark.python_boot_s": sum(
            node_sum(nodes, c, m) for c in py
            for m in ("pythonBootTime", "pythonInitTime")) / 1e3,
    }


class Workload:
    name = ""
    rows = 0  # input rows one job processes
    warmup_jobs = 3  # jobs after which job times have levelled off

    def __init__(self, seed: int, work: str, cpus: int):
        self.seed = seed
        self.work = work
        self.cpus = cpus
        self.expected = None

    def generate(self, spark, spans) -> None:
        """Write the seed's inputs under the work directory."""

    def compute_expected(self) -> None:
        """Compute the oracle output for the seed."""

    def job(self, spark, spans):
        raise NotImplementedError

    def check(self, out) -> bool:
        return out == self.expected

    def after_job(self) -> None:
        """Clean-up outside the timed region."""

    def layers(self, trace: dict, spans, job: int, out) -> dict:
        """Per-layer metrics of one traced job whose output was *out*."""
        return plan_layers(trace["nodes"])

    def microbench(self, spark) -> dict:
        """Traced-only layer measurements outside the job loop."""
        return {}


# ---------------------------------------------------------------------------
# pip_tile
# ---------------------------------------------------------------------------

_LON_SQL = "(CAST(phash % 4294967296 AS DOUBLE) / 4294967296.0 * 360.0 - 180.0)"
# Spark divides two longs as doubles and truncates; the twin does the same
_LAT_SQL = ("(CAST(CAST(trunc(CAST(phash AS DOUBLE) / 4294967296.0) AS BIGINT)"
            " % 2147483648 AS DOUBLE) / 2147483648.0 * 170.0 - 85.0)")


class PipTile(Workload):
    name = "pip_tile"
    rows = 8_000_000
    files = 8

    def __init__(self, *a):
        super().__init__(*a)
        from karta_spark.fixtures import flagship_polys

        self.path = os.path.join(self.work, "images_phash")
        self.polys = flagship_polys()

    def generate(self, spark, spans):
        rng = np.random.default_rng(self.seed)
        # an odd phash never puts a point exactly on a z8 tile column edge,
        # where the JVM's and DuckDB's radians() differ in the last bit
        phash = rng.integers(0, 2 ** 63 - 1, self.rows, dtype=np.int64) | 1
        write_parquet(self.path, {
            "image_id": np.arange(self.rows, dtype=np.int64),
            "phash": phash,
        }, self.files)

    def compute_expected(self):
        from karta_spark.functions.cells import tile_x_sql, tile_y_sql
        from karta_spark.operators.pip_join import winding_sql

        def arm(p):
            xmin, ymin, xmax, ymax = p.bbox()
            return (f"SELECT '{p.poly_id}' AS poly_id, x, y FROM p "
                    f"WHERE x BETWEEN {xmin} AND {xmax} AND y BETWEEN {ymin} AND {ymax} "
                    f"AND {winding_sql(p.outer, 'x', 'y')}")

        arms = " UNION ALL ".join(arm(p) for p in self.polys)
        tile = (f"CAST({ZOOM} AS BIGINT) * {1 << 58} + {tile_x_sql('x', ZOOM)} "
                f"* {1 << 29} + {tile_y_sql('y', ZOOM)}")
        sql = (f"WITH p AS (SELECT {_LON_SQL} AS x, {_LAT_SQL} AS y "
               f"FROM read_parquet('{self.path}/*.parquet')), f AS ({arms}) "
               f"SELECT poly_id, CAST({tile} AS BIGINT), CAST(count(*) AS BIGINT) "
               f"FROM f GROUP BY ALL")
        con = duckdb_connect(self.work, self.cpus)
        try:
            self.expected = digest([list(r) for r in con.execute(sql).fetchall()])
        finally:
            con.close()

    def points(self, spark):
        from pyspark.sql import functions as F
        from karta_spark.functions import cells

        return spark.read.parquet(self.path).select(
            "image_id", "phash",
            cells.lon_from_phash(F.col("phash")).alias("x"),
            cells.lat_from_phash(F.col("phash")).alias("y"))

    def job(self, spark, spans):
        from pyspark.sql import functions as F
        from karta_spark.functions import cells
        from karta_spark.operators import pip_join

        pts = self.points(spark)
        with spans.span("pip_join.plan"):
            joined = pip_join.point_in_polygon_join(pts, self.polys, zoom=ZOOM)
        tiled = joined.withColumn("tile", cells.tile_id(F.col("x"), F.col("y"), ZOOM))
        agg = tiled.groupBy("poly_id", "tile").agg(F.count("*").alias("n"))
        return digest([[r[0], r[1], r[2]] for r in agg.collect()])

    def layers(self, trace, spans, job, out):
        return pip_layers(trace, spans, job)

    def microbench(self, spark):
        from pyspark.sql import functions as F
        from karta_spark.functions import cells

        def noop(df):
            return lambda: df.write.format("noop").mode("overwrite").save()

        pts = self.points(spark)
        scan = spark.read.parquet(self.path)
        encode = pts.select(
            cells.tile_id_clamped("x", "y", ZOOM).alias("cell"),
            cells.tile_id(F.col("x"), F.col("y"), ZOOM).alias("tile"))
        t_enc = timed_median(noop(encode))
        t_scan = timed_median(noop(scan))
        out = {"cells.encode_ns_per_row": max(t_enc - t_scan, 0.0) / self.rows * 1e9}
        out.update(cover_layers(spark, self.polys))
        return out


def pip_layers(trace, spans, job) -> dict:
    """pip_join layer metrics of one traced job: driver plan span, join
    output rows, Arrow refine counters and task skew."""
    nodes = trace["nodes"]
    res = plan_layers(nodes)
    res["pip_join.plan_s"] = spans.total("pip_join.plan", job)
    res["pip_join.candidate_rows"] = sum(
        node_sum(nodes, c, "numOutputRows")
        for c in ("BroadcastHashJoinExec", "ShuffledHashJoinExec", "SortMergeJoinExec"))
    res["pip_join.refine_rows"] = node_sum(nodes, "ArrowEvalPythonExec",
                                           "pythonNumRowsReceived")
    res["pip_join.refine_s"] = node_sum(nodes, "ArrowEvalPythonExec",
                                        "pythonTotalTime") / 1e3
    res["pip_join.pipe_bytes"] = (node_sum(nodes, "ArrowEvalPythonExec", "pythonDataSent")
                                  + node_sum(nodes, "ArrowEvalPythonExec",
                                             "pythonDataReceived"))
    res["pip_join.task_skew"] = trace["task_skew"]
    return res


def cover_layers(spark, polys) -> dict:
    from pyspark.sql import functions as F
    from karta_spark.operators import pip_join

    row = pip_join.cover_df(spark, polys, ZOOM).agg(
        F.count("*"), F.sum(F.col("full").cast("long"))).first()
    n = int(row[0])
    return {"pip_join.cover_cells": float(n),
            "pip_join.cover_full_frac": int(row[1] or 0) / max(n, 1)}


# ---------------------------------------------------------------------------
# pip_refine
# ---------------------------------------------------------------------------

def _star_ring(rng, cx, cy, r, k):
    """Simple polygon: k vertices at sorted angles and jittered radii."""
    ang = np.sort(rng.uniform(0.0, 2.0 * math.pi, k))
    rad = r * rng.uniform(0.6, 1.0, k)
    return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])


class PipRefine(Workload):
    name = "pip_refine"
    rows = 150_000
    # the first job pays the cold start; the second is within 10% of the
    # steady job time, which is set by fixed per-job costs (the executor
    # cover build, Python worker start-up, two checkpoints), not by rows
    warmup_jobs = 1
    files = 4
    n_polys = 200
    hot_frac = 0.10

    def __init__(self, *a):
        super().__init__(*a)
        self.path = os.path.join(self.work, "points")
        self.ckpt = os.path.join(self.work, "checkpoints")
        self.polys = self._polygons()
        self._roots: list[str] = []

    def _polygons(self):
        from karta_spark.operators.pip_join import PolygonSpec

        rng = np.random.default_rng([self.seed, 1])
        polys = []
        for j in range(self.n_polys):
            cx, cy = rng.uniform(-170, 170), rng.uniform(-60, 60)
            r = rng.uniform(1.5, 4.0)
            if j % 2 == 0:  # packed path: hole-free, <= 96 vertices
                # polygon 0 holds the hot cell; a fixed vertex count keeps
                # the hot cell's refine cost the same for every seed
                k = 64 if j == 0 else int(rng.integers(40, 91))
                outer, holes = _star_ring(rng, cx, cy, r, k), ()
            else:  # slice path: 150-300 vertices, every other one with a hole
                outer = _star_ring(rng, cx, cy, r, int(rng.integers(150, 301)))
                holes = ((_star_ring(rng, cx, cy, 0.3 * r, 24),)
                         if j % 4 == 1 else ())
            polys.append(PolygonSpec(f"p{j:03d}", outer, holes, crs="lonlat"))
        return polys

    def generate(self, spark, spans):
        from karta_spark.functions import cells

        rng = np.random.default_rng([self.seed, 2])
        n = self.rows
        n_hot = int(n * self.hot_frac)
        n_near = int(n * 0.4)
        n_uni = n - n_hot - n_near
        # global background
        x = [rng.uniform(-180, 180, n_uni)]
        y = [rng.uniform(-85, 85, n_uni)]
        # clustered around the polygons, the same number around each
        pick = np.arange(n_near) % self.n_polys
        cen = np.array([p.outer.mean(axis=0) for p in self.polys])
        x.append(cen[pick, 0] + rng.normal(0, 2.0, n_near))
        y.append(cen[pick, 1] + rng.normal(0, 2.0, n_near))
        # one hot z8 cell on an edge of polygon 0
        ex, ey = (self.polys[0].outer[0] + self.polys[0].outer[1]) / 2.0
        tx, ty = cells.tile_xy_py(float(ex), float(ey), ZOOM)
        w, s, e, nn = cells.tile_bbox_py(ZOOM, tx, ty)
        x.append(rng.uniform(w, e, n_hot))
        y.append(rng.uniform(s, nn, n_hot))
        xs = np.concatenate(x)
        ys = np.clip(np.concatenate(y), -85.0, 85.0)
        xs = (xs + 180.0) % 360.0 - 180.0
        order = rng.permutation(n)
        write_parquet(self.path, {"pid": np.arange(n, dtype=np.int64),
                                  "x": xs[order], "y": ys[order]}, self.files)

    def compute_expected(self):
        edges, boxes, grid = [], [], []
        for p in self.polys:
            for ring_no, ring in enumerate((p.outer, *p.holes)):
                nxt = np.roll(ring, -1, axis=0)
                for (x0, y0), (x1, y1) in zip(ring, nxt):
                    edges.append((p.poly_id, ring_no, x0, y0, x1, y1))
            xmin, ymin, xmax, ymax = p.bbox()
            boxes.append((p.poly_id, xmin, ymin, xmax, ymax))
            for gx in range(math.floor(xmin), math.floor(xmax) + 1):
                for gy in range(math.floor(ymin), math.floor(ymax) + 1):
                    grid.append((p.poly_id, gx, gy))
        edges_df = pd.DataFrame(edges, columns=["poly_id", "ring", "x0", "y0", "x1", "y1"])
        boxes_df = pd.DataFrame(boxes, columns=["poly_id", "xmin", "ymin", "xmax", "ymax"])
        grid_df = pd.DataFrame(grid, columns=["poly_id", "gx", "gy"])
        # the winding-number CASE of pip_join.winding_sql over an edge table
        left = "((e.x1 - e.x0) * (c.y - e.y0) - (c.x - e.x0) * (e.y1 - e.y0))"
        sql = f"""
        WITH p AS (SELECT pid, x, y, CAST(floor(x) AS BIGINT) AS gx,
                          CAST(floor(y) AS BIGINT) AS gy
                   FROM read_parquet('{self.path}/*.parquet')),
        c AS (SELECT p.pid, p.x, p.y, g.poly_id FROM p
              JOIN grid_df g ON p.gx = g.gx AND p.gy = g.gy
              JOIN boxes_df b ON b.poly_id = g.poly_id
              WHERE p.x BETWEEN b.xmin AND b.xmax AND p.y BETWEEN b.ymin AND b.ymax),
        w AS (SELECT c.pid, c.poly_id, e.ring,
                     sum(CASE WHEN e.y0 <= c.y AND c.y < e.y1 AND {left} > 0 THEN 1
                              WHEN e.y0 > c.y AND c.y >= e.y1 AND {left} < 0 THEN -1
                              ELSE 0 END) AS wn
              FROM c JOIN edges_df e ON e.poly_id = c.poly_id
              GROUP BY c.pid, c.poly_id, e.ring),
        inside AS (SELECT poly_id, pid FROM w GROUP BY poly_id, pid
                   HAVING bool_or(ring = 0 AND wn <> 0)
                      AND NOT bool_or(ring > 0 AND wn <> 0))
        SELECT poly_id, CAST(count(*) AS BIGINT) FROM inside GROUP BY poly_id
        """
        con = duckdb_connect(self.work, self.cpus)
        try:
            con.register("edges_df", edges_df)
            con.register("boxes_df", boxes_df)
            con.register("grid_df", grid_df)
            rows = con.execute(sql).fetchall()
        finally:
            con.close()
        self.expected = digest([list(r) for r in rows])
        self.expected_hits = sum(r[1] for r in rows)

    def job(self, spark, spans):
        from pyspark.sql import functions as F
        from karta_spark.operators import pip_join
        from karta_spark.plans import lineage

        root = os.path.join(self.ckpt, f"job-{len(self._roots)}-{time.monotonic_ns()}")
        self._roots.append(root)
        pts = spark.read.parquet(self.path)
        with spans.span("pip_join.plan"):
            joined = pip_join.point_in_polygon_join(pts, self.polys, zoom=ZOOM)
        with spans.span("lineage.run_stage"):
            hits = lineage.run_stage(joined.select("pid", "poly_id"), root, "hits")
            counts = lineage.run_stage(
                hits.groupBy("poly_id").agg(F.count("*").alias("n")), root, "counts")
        return digest([[r[0], r[1]] for r in counts.collect()])

    def after_job(self):
        for root in self._roots:
            shutil.rmtree(root, ignore_errors=True)
        self._roots.clear()

    def layers(self, trace, spans, job, out):
        root = self._roots[-1]
        res = pip_layers(trace, spans, job)
        res["pip_join.refine_yield"] = (
            self.expected_hits / res["pip_join.refine_rows"]
            if res["pip_join.refine_rows"] else 0.0)
        res["lineage.write_s"] = spans.total("lineage.run_stage", job)
        res["lineage.bytes_written"] = float(dir_bytes(root))
        recorded = written = 0
        for stage in ("hits", "counts"):
            lin = pq.read_table(os.path.join(root, stage, "_lineage")).to_pandas()
            recorded += int((lin["row_count"] > 0).sum())
            written += sum(f.startswith("part-") for f in
                           os.listdir(os.path.join(root, stage, "data")))
        res["lineage.partitions_recorded_frac"] = recorded / max(written, 1)
        return res

    def microbench(self, spark):
        from karta_spark.functions.kernels import winding_contains_packed
        from karta_spark.operators.pip_join import _pack_rings

        out = cover_layers(spark, self.polys)
        # candidate (point, polygon) pairs: the seed's points inside a
        # polygon's bbox, as the refine kernel would receive them
        pts = pq.read_table(self.path).to_pandas()
        px, py = pts["x"].to_numpy(), pts["y"].to_numpy()
        index, packed = _pack_rings(self.polys)
        pairs = 0
        calls = []
        for j, p in enumerate(self.polys):
            xmin, ymin, xmax, ymax = p.bbox()
            sel = np.flatnonzero((px >= xmin) & (px <= xmax)
                                 & (py >= ymin) & (py <= ymax))[:20_000]
            pairs += sel.size
            if p.poly_id in index:
                V = np.broadcast_to(packed[index[p.poly_id]], (sel.size, *packed.shape[1:]))
                calls.append(lambda s=sel, V=V: winding_contains_packed(px[s], py[s], V))
            else:
                calls.append(lambda s=sel, p=p: p.contains(px[s], py[s]))
        secs = timed_median(lambda: [c() for c in calls])
        out["kernels.winding_ns_per_pair"] = secs / max(pairs, 1) * 1e9
        return out


# ---------------------------------------------------------------------------
# image_enrich: enrichment
# ---------------------------------------------------------------------------

GRID_SHAPE = (1024, 2048)  # rows, columns: a global lon/lat grid
GRID_TRANSFORM = (-180.0, -90.0, 360.0 / GRID_SHAPE[1], 180.0 / GRID_SHAPE[0], 0.0, 0.0)


class KnnSample(Workload):
    """The enrichment half of image_enrich."""
    rows = 5_000  # image points per job
    n_poi = 200_000
    k = 4
    tile = 64
    n_checked = 256  # queries checked against the brute-force kNN

    def __init__(self, *a):
        super().__init__(*a)
        self.qpath = os.path.join(self.work, "queries")
        self.ppath = os.path.join(self.work, "pois")
        self.tiles = None

    def generate(self, spark, spans):
        from karta_spark.raster.tiles import grid_to_df

        rng = np.random.default_rng([self.seed, 3])
        n, m = self.rows, self.n_poi
        # inside the grid by more than a cell, so every point samples a value
        write_parquet(self.qpath, {"query_id": np.arange(n, dtype=np.int64),
                                   "qx": rng.uniform(-179.0, 179.0, n),
                                   "qy": rng.uniform(-85.0, 85.0, n)}, self.cpus)
        write_parquet(self.ppath, {"point_id": np.arange(m, dtype=np.int64),
                                   "x": rng.uniform(-180.0, 180.0, m),
                                   "y": rng.uniform(-85.0, 85.0, m)}, self.cpus)
        yy, xx = np.mgrid[0:GRID_SHAPE[0], 0:GRID_SHAPE[1]]
        self.values = (100.0 * np.sin(xx / 37.0) * np.cos(yy / 23.0)
                       + rng.normal(0.0, 1.0, GRID_SHAPE))
        with spans.span("raster.tiles"):
            self.tiles = grid_to_df(spark, "dem", self.values, GRID_TRANSFORM,
                                    tile=self.tile).cache()
            self.tiles.count()

    def compute_expected(self):
        q = pq.read_table(self.qpath).to_pandas().sort_values("query_id")
        p = pq.read_table(self.ppath).to_pandas()
        qx, qy = q["qx"].to_numpy(), q["qy"].to_numpy()
        pid, px, py = p["point_id"].to_numpy(), p["x"].to_numpy(), p["y"].to_numpy()
        # brute-force planar kNN, ties broken by point id, for a sample
        pick = np.random.default_rng([self.seed, 5]).choice(len(q), self.n_checked,
                                                            replace=False)
        self.expected_nn = {}
        for i in pick:
            dx, dy = px - qx[i], py - qy[i]
            d = np.sqrt(dx * dx + dy * dy)
            cand = np.flatnonzero(d <= np.partition(d, self.k - 1)[self.k - 1])
            top = cand[np.lexsort((pid[cand], d[cand]))][:self.k]
            self.expected_nn[int(q["query_id"].iloc[i])] = (pid[top], d[top])
        # bilinear sample of the grid at every point: fractional (row, col)
        # as sampling.position_exprs evaluates them, then the four neighbours
        x0, y0, dx, dy, sx, sy = GRID_TRANSFORM
        j = (dy * qx - dy * x0 + sx * y0 - sx * qy) / (dx * dy - sx * sy)
        i = (qy - y0 - j * sy) / dy - 0.5
        j = j - 0.5
        i0, j0 = np.floor(i).astype(np.int64), np.floor(j).astype(np.int64)
        i1, j1 = i0 + 1, j0 + 1
        z = self.values
        self.expected_values = (z[i0, j0] * (i1 - i) * (j1 - j) + z[i1, j0] * (i - i0) * (j1 - j)
                                + z[i0, j1] * (i1 - i) * (j - j0) + z[i1, j1] * (i - i0) * (j - j0))

    def job(self, spark, spans):
        from karta_spark.operators import knn
        from karta_spark.raster import sampling

        q = spark.read.parquet(self.qpath)
        with spans.span("knn.plan"):
            nn = knn.knn_join(q, spark.read.parquet(self.ppath), k=self.k, zoom=None)
        nn_pdf = nn.toPandas()
        with spans.span("raster.sample"):
            sampled = sampling.sample_join(q, self.tiles, GRID_TRANSFORM, method="bilinear",
                                           px="qx", py="qy")
            values = sampled.select("query_id", "value").toPandas()
        return nn_pdf, values

    def check(self, out):
        nn, values = out
        if len(nn) != self.k * self.rows:
            return False
        got = nn[nn["query_id"].isin(list(self.expected_nn))].sort_values(["query_id", "rank"])
        for qid, grp in got.groupby("query_id"):
            pids, dists = self.expected_nn[qid]
            if (not np.array_equal(grp["point_id"].to_numpy(), pids)
                    or not np.allclose(grp["dist"].to_numpy(), dists, rtol=1e-12, atol=0.0)):
                return False
        values = values.sort_values("query_id")
        return (got["query_id"].nunique() == self.n_checked
                and np.array_equal(values["query_id"].to_numpy(), np.arange(self.rows))
                and np.allclose(values["value"].to_numpy(), self.expected_values,
                                rtol=1e-9, atol=1e-9))

    def layers(self, trace, spans, job, out):
        nodes = trace["nodes"]
        res = plan_layers(nodes)
        res["knn.plan_s"] = spans.total("knn.plan", job)
        # the knn kernel and the sampling kernel are the operators' Python
        # functions run_planar and kernel
        res["knn.python_s"] = node_sum(nodes, "MapInPandasExec", "pythonTotalTime",
                                       udf="run_planar") / 1e3
        res["raster.sample_s"] = spans.total("raster.sample", job)
        res["raster.pipe_bytes_per_point"] = node_sum(
            nodes, "MapInPandasExec", "pythonDataSent", udf="kernel") / self.rows
        return res


# ---------------------------------------------------------------------------
# image_enrich: verification
# ---------------------------------------------------------------------------

def _synth_rows(batches):
    """images.synth_images' row generator over an arbitrary index range."""
    from karta_spark.sources import images

    cols = [f.name for f in images.IMAGE_SCHEMA.fields]
    for pdf in batches:
        yield pd.DataFrame([images.make_row(int(i)) for i in pdf["id"]], columns=cols)


class DecodeVerify(Workload):
    """The verification half of image_enrich."""
    rows = 5_000

    def __init__(self, *a):
        super().__init__(*a)
        self.path = os.path.join(self.work, "images")
        # a seed-offset index range: different pixels, captions and formats
        self.offset = (self.seed % 30_000) * self.rows

    def generate(self, spark, spans):
        from karta_spark.sources import images

        (spark.range(self.offset, self.offset + self.rows, 1, self.cpus)
         .mapInPandas(_synth_rows, images.IMAGE_SCHEMA)
         .write.mode("overwrite").parquet(self.path))

    def compute_expected(self):
        self.expected = self.rows

    def job(self, spark, spans):
        from pyspark.sql import functions as F
        from karta_spark.sources import images

        imgs = spark.read.parquet(self.path)
        return images.verify_images(imgs).where(F.col("verified")).count()

    def layers(self, trace, spans, job, out):
        nodes = trace["nodes"]
        res = plan_layers(nodes)
        res["images.verified_frac"] = out / self.rows
        # run is the Python function of images.decode_stats
        res["images.decode_s"] = node_sum(nodes, "MapInPandasExec", "pythonTotalTime",
                                          udf="run") / 1e3
        res["images.pipe_bytes"] = (
            node_sum(nodes, "MapInPandasExec", "pythonDataSent", udf="run")
            + node_sum(nodes, "MapInPandasExec", "pythonDataReceived", udf="run"))
        return res

    def microbench(self, spark):
        from karta_spark.sources import images
        from karta_spark.sources.jpeg import decode_jpeg_batch

        tbl = pq.read_table(self.path, columns=["bytes", "fmt", "phash"]).to_pandas()
        jpegs = [bytes(b) for b in tbl.loc[tbl["fmt"] == "jpeg", "bytes"].iloc[:1000]]
        phash = tbl["phash"].to_numpy()[:4000]
        t_jpeg = timed_median(lambda: decode_jpeg_batch(jpegs))
        t_ref = timed_median(lambda: images.pixels_for_phash_batch(phash))
        return {"jpeg.decode_us_per_image": t_jpeg / len(jpegs) * 1e6,
                "images.reference_us_per_image": t_ref / len(phash) * 1e6}


# ---------------------------------------------------------------------------
# image_enrich
# ---------------------------------------------------------------------------

class ImageEnrich(Workload):
    """Each job verifies a batch of images, then enriches their locations:
    DecodeVerify's job, then KnnSample's, on the same number of rows.  One
    workload rather than two saves a JVM start and a cold first job per run,
    which the benchmark's run budget needs."""
    name = "image_enrich"
    rows = 5_000  # images per job, each verified and its location enriched
    # the third job is within a few per cent of the steady job time
    warmup_jobs = 3

    def __init__(self, *a):
        super().__init__(*a)
        self.parts = (DecodeVerify(*a), KnnSample(*a))

    def generate(self, spark, spans):
        for p in self.parts:
            p.generate(spark, spans)

    def compute_expected(self):
        for p in self.parts:
            p.compute_expected()

    def job(self, spark, spans):
        return tuple(p.job(spark, spans) for p in self.parts)

    def check(self, out):
        return all(p.check(o) for p, o in zip(self.parts, out))

    def layers(self, trace, spans, job, out):
        res = {}
        for p, o in zip(self.parts, out):
            res.update(p.layers(trace, spans, job, o))
        return res

    def microbench(self, spark):
        return self.parts[0].microbench(spark)


WORKLOADS = {w.name: w for w in (PipTile, PipRefine, ImageEnrich)}
