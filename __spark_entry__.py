"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (image table -> cell encode ->
broadcast PIP join -> tile assign -> per-(polygon, tile) counts).
``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL.

Oracle float discipline: aggregates that accumulate doubles are computed as
DECIMAL sums (exact, identical across engines) and cast back; per-row
expressions use identical algebraic forms so IEEE semantics match; outputs
are rounded to fixed decimals on BOTH sides; counts are cast to BIGINT in
DuckDB (whose count/sum types differ from Spark's).
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from karta_spark.functions import cells
from karta_spark.functions.geodesy import plane_distance, sphere_distance, sphere_distance_sql
from karta_spark.operators import dedup, knn, pip_join, similarity, text
from karta_spark.operators.pip_join import PolygonSpec, winding_sql
from karta_spark.raster.gridpoints import gridpoints, gridpoints_sql
from karta_spark.sources import images, tables
from karta_spark.sources.tables import with_coords

# --------------------------------------------------------------------------
# shared fixtures
# --------------------------------------------------------------------------

from karta_spark.fixtures import EAST_TRI, HEPTAGON, NORTH_QUAD, flagship_polys

FLAGSHIP_POLYS = flagship_polys()

GRID_T = (-180.0, -85.0, 10.0, 10.0, 0.0, 0.0)  # 10-degree world grid

_LON = cells.lon_from_key_sql
_LAT = cells.lat_from_key_sql


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthetic image+caption table (input_hint shape) -> lonlat
    from phash -> broadcast PIP join -> slippy-tile assign (z8) ->
    per-(polygon, tile) counts. Checked for >0 rows + stable schema."""
    imgs = images.synth_images(spark, 2000, partitions=8)
    pts = images.with_lonlat(imgs)
    joined = pip_join.point_in_polygon_join(pts, FLAGSHIP_POLYS, zoom=5)
    tiled = joined.withColumn("tile", cells.tile_id(F.col("x"), F.col("y"), 8))
    return (
        tiled.groupBy("poly_id", "tile")
        .agg(F.count("*").alias("n_images"))
        .orderBy("poly_id", "tile")
    )


# --------------------------------------------------------------------------
# queries + oracles
# --------------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("decimal(18,2)").cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("decimal(18,2)").cast("double").alias("sum_base_price"),
            F.count("*").alias("count_order"),
            F.max("l_discount").alias("max_disc"),
            F.min("l_extendedprice").alias("min_price"),
        )
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
       CAST(count(*) AS BIGINT) AS count_order,
       max(l_discount) AS max_disc,
       min(l_extendedprice) AS min_price
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q02_revenue_by_nation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1.0).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
    # orders is the ONE mid-size join side: under ~64 MB the planner
    # auto-broadcasts it, and the single-threaded driver-side hash build of
    # ~1.5M rows costs more than the distributed join it saves (measured r8:
    # 2.55 s -> 1.02 s at sf1.0, 1.12 -> 0.53 at sf0.1).  Shuffled-hash over
    # sort-merge (guide §3.1): both sides exchange on l_orderkey either way,
    # but SHJ skips both sorts; interleaved 5-run A/B — sf10 3.90 vs 4.48 s,
    # sf1.0 0.735 vs 0.838, sf0.1 0.468 vs 0.510, SHJ faster on every pair.
    # Build side is the per-partition orders slice (|orders|/partitions,
    # uniform key, no skew; AQE partition sizing bounds it at scale).
    # Result rows verified identical (join strategy never changes results).
    return (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(rev).cast("decimal(22,6)").cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q02_SQL = """
SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1.0 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
            AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q03_top_customers(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    spend = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("decimal(18,2)").cast("double").alias("total_spend"),
             F.count("*").alias("n_orders"))
    )
    # distributed top-10 (TakeOrderedAndProject), then rank the 10 survivors
    # with a window — a global no-partition window over the full spend table
    # would single-task-sort every customer at scale
    top = spend.orderBy(F.col("total_spend").desc(), F.col("o_custkey").asc()).limit(10)
    w = Window.orderBy(F.col("total_spend").desc(), F.col("o_custkey").asc())
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .select("rank", "c_name", "total_spend", "n_orders")
    )


Q03_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_spend,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY total_spend DESC, o_custkey ASC) AS BIGINT) AS rank
  FROM spend
)
SELECT rank, c_name, total_spend, n_orders
FROM ranked JOIN customer ON o_custkey = c_custkey
WHERE rank <= 10
"""


def q04_cumulative_spend(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        o.where(F.col("o_custkey") <= 50)
        .select(
            "o_custkey", "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("decimal(18,2)").cast("double").alias("cum_spend"),
        )
    )


Q04_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_spend
FROM orders WHERE o_custkey <= 50
"""


def q05_order_gaps(spark, sf_dir):
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # match DuckDB's naive-ts epoch
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return (
        o.where(F.col("o_custkey") <= 100)
        .select(
            "o_custkey", "o_orderkey",
            F.datediff(F.col("o_orderdate"), prev).cast("long").alias("gap_days"),
        )
    )


Q05_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(date_diff('day',
            lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
            o_orderdate) AS BIGINT) AS gap_days
FROM orders WHERE o_custkey <= 100
"""


def q06_tile_assign(spark, sf_dir):
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    return (
        c.withColumn("tile_x", cells.tile_x(F.col("x"), 6))
        .withColumn("tile_y", cells.tile_y(F.col("y"), 6))
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n_points"))
    )


Q06_SQL = f"""
WITH pts AS (
  SELECT {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
)
SELECT {cells.tile_x_sql('x', 6)} AS tile_x,
       {cells.tile_y_sql('y', 6)} AS tile_y,
       CAST(count(*) AS BIGINT) AS n_points
FROM pts GROUP BY 1, 2
"""


def q07_pip_heptagon(spark, sf_dir):
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    poly = PolygonSpec("heptagon", HEPTAGON, crs="lonlat")
    return pip_join.contains_flags(c, poly).select("c_custkey", "contained")


Q07_SQL = f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
)
SELECT c_custkey, {winding_sql(HEPTAGON, 'x', 'y')} AS contained FROM pts
"""


def q08_within_radius(spark, sf_dir):
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    d = sphere_distance(F.lit(0.0), F.lit(0.0), F.col("x"), F.col("y"))
    return (
        c.withColumn("dist_m", F.round(d, 3))
        .where(F.col("dist_m") < 3_000_000.0)
        .select("c_custkey", "dist_m")
    )


Q08_SQL = f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
)
SELECT c_custkey, round({sphere_distance_sql('0.0', '0.0', 'x', 'y')}, 3) AS dist_m
FROM pts
WHERE round({sphere_distance_sql('0.0', '0.0', 'x', 'y')}, 3) < 3000000.0
"""


def q09_knn(spark, sf_dir):
    s = with_coords(_t(spark, sf_dir, "supplier"), "s_suppkey").select(
        F.col("s_suppkey").alias("query_id"),
        F.col("x").alias("qx"), F.col("y").alias("qy"))
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey").select(
        F.col("c_custkey").alias("point_id"), "x", "y")
    # zoom=None: density-derived tile zoom (auto_zoom) — exactness is
    # zoom-invariant (the ring guarantee verifies), only the plan changes
    out = knn.knn_join(s, c, k=3, zoom=None, ring=1)
    return out.select(
        "query_id", "point_id", F.round("dist", 6).alias("dist"),
        F.col("rank").cast("long").alias("rank"))


Q09_SQL = f"""
WITH q AS (
  SELECT s_suppkey AS query_id, {_LON('s_suppkey')} AS qx, {_LAT('s_suppkey')} AS qy
  FROM supplier
), p AS (
  SELECT c_custkey AS point_id, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y
  FROM customer
), joined AS (
  SELECT query_id, point_id,
         sqrt((x - qx)*(x - qx) + (y - qy)*(y - qy)) AS dist
  FROM q, p
), ranked AS (
  SELECT query_id, point_id, dist,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, point_id ASC) AS BIGINT) AS rank
  FROM joined
)
SELECT query_id, point_id, round(dist, 6) AS dist, rank FROM ranked WHERE rank <= 3
"""


def q10_bbox_by_nation(spark, sf_dir):
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    return (
        c.groupBy("c_nationkey")
        .agg(
            F.round(F.min("x"), 6).alias("xmin"), F.round(F.min("y"), 6).alias("ymin"),
            F.round(F.max("x"), 6).alias("xmax"), F.round(F.max("y"), 6).alias("ymax"),
            F.count("*").alias("n"),
        )
    )


Q10_SQL = f"""
WITH pts AS (
  SELECT c_nationkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
)
SELECT c_nationkey,
       round(min(x), 6) AS xmin, round(min(y), 6) AS ymin,
       round(max(x), 6) AS xmax, round(max(y), 6) AS ymax,
       CAST(count(*) AS BIGINT) AS n
FROM pts GROUP BY c_nationkey
"""


def q11_gridpoints(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "key", F.col("l_orderkey") * 10 + F.col("l_linenumber"))
    li = with_coords(li, "key")
    g = gridpoints(li, GRID_T, pz="l_quantity")
    return g.select("cell_i", "cell_j", F.round("value", 6).alias("value"), "n")


_GP = gridpoints_sql(GRID_T, "x", "y", "l_quantity")
Q11_SQL = f"""
WITH pts AS (
  SELECT {_LON('(l_orderkey * 10 + l_linenumber)')} AS x,
         {_LAT('(l_orderkey * 10 + l_linenumber)')} AS y,
         l_quantity
  FROM lineitem
)
SELECT {_GP['cell_i']} AS cell_i, {_GP['cell_j']} AS cell_j,
       round(avg(l_quantity), 6) AS value, CAST(count(*) AS BIGINT) AS n
FROM pts GROUP BY 1, 2
"""


def q12_nearest_vertex(spark, sf_dir):
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    out = knn.nearest_vertex(c.select(F.col("c_custkey").alias("point_id"), "x", "y"),
                             10.0, 10.0)
    return out.select("point_id", F.round("dist", 6).alias("dist"))


Q12_SQL = f"""
WITH pts AS (
  SELECT c_custkey AS point_id, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y
  FROM customer
)
SELECT point_id, round(sqrt((x-10.0)*(x-10.0) + (y-10.0)*(y-10.0)), 6) AS dist
FROM pts
ORDER BY sqrt((x-10.0)*(x-10.0) + (y-10.0)*(y-10.0)) ASC, point_id ASC LIMIT 1
"""


def q13_path_length(spark, sf_dir):
    """Per-customer 'track length': orders as a vertex string ordered by
    date, planar distance between consecutive derived points (segments +
    sum = karta length, geometry.py:647-665)."""
    o = with_coords(_t(spark, sf_dir, "orders"), "o_orderkey")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seg = plane_distance(F.lag("x").over(w), F.lag("y").over(w), F.col("x"), F.col("y"))
    return (
        o.select("o_custkey", seg.alias("_seg"))
        .groupBy("o_custkey")
        .agg(F.round(F.sum("_seg"), 4).alias("path_length"),
             F.count("*").alias("n_orders"))
    )


Q13_SQL = f"""
WITH pts AS (
  SELECT o_custkey, o_orderdate, o_orderkey,
         {_LON('o_orderkey')} AS x, {_LAT('o_orderkey')} AS y
  FROM orders
), segs AS (
  SELECT o_custkey,
         sqrt(pow(x - lag(x) OVER w, 2) + pow(y - lag(y) OVER w, 2)) AS seg
  FROM pts WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT o_custkey, round(sum(seg), 4) AS path_length, CAST(count(*) AS BIGINT) AS n_orders
FROM segs GROUP BY o_custkey
"""


def q14_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.duplicate_groups(d, ["text"], "doc_id")


Q14_SQL = """
SELECT CAST(min(doc_id) AS BIGINT) AS canonical_id, CAST(count(*) AS BIGINT) AS n_dups
FROM documents GROUP BY text
"""


def q15_text_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        text.token_count(c).cast("long").alias("n_tokens"),
        text.bpe_token_count(c).cast("long").alias("n_bpe_tokens"),
        F.length(c).cast("long").alias("n_chars"),
        F.round(text.digit_ratio(c), 6).alias("digit_ratio"),
        F.round(text.mean_token_len(c), 6).alias("mean_token_len"),
    )


Q15_SQL = r"""
SELECT doc_id,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
       CAST({bpe} AS BIGINT) AS n_bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       round(CASE WHEN length(text) = 0 THEN 0.0
             ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                  / length(text) END, 6) AS digit_ratio,
       round(CASE WHEN length(trim(text)) = 0 THEN 0.0
             ELSE CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
                  / len(regexp_split_to_array(trim(text), '\s+')) END, 6) AS mean_token_len
FROM documents
"""
Q15_SQL = Q15_SQL.replace("{bpe}", text.bpe_token_count_sql("text"))


def q16_fingerprint_distinct(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(text.fingerprint(F.col("text")).alias("fp")).agg(
        F.countDistinct("fp").alias("n_distinct"))


Q16_SQL = r"""
SELECT CAST(count(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS BIGINT)
       AS n_distinct
FROM documents
"""


def q17_ngram_jaccard(spark, sf_dir):
    """Word-trigram Jaccard near-dup pairs (threshold 0.2, gram df cap 50)
    — exact, via dedup.ngram_jaccard_pairs."""
    # tokens materialized as a named column: referencing the raw split()
    # inside the lambda makes Catalyst re-evaluate the split per element
    # (measured 2.6x slower); shingles are hashed to int64 so the gram
    # shuffle moves 8-byte keys (collision odds over ~1e5 grams ~1e-9)
    # ensure_min_parallelism: a single-row-group corpus file scans as one
    # task and the tokenize/explode/hash subtree would run single-threaded
    from karta_spark.plans.layout import ensure_min_parallelism
    d = ensure_min_parallelism(_t(spark, sf_dir, "documents")).withColumn(
        "toks", F.split(F.trim(F.col("text")), " "))
    idx = F.sequence(F.lit(1), F.greatest(F.size("toks") - 2, F.lit(1)))
    gram = F.transform(idx, lambda i: F.xxhash64(F.concat_ws(
        " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1),
        F.element_at(F.col("toks"), i + 2))))
    # the df cap (df > 50 dropped) is mirrored in the SQL twin
    return dedup.ngram_jaccard_pairs(d, "doc_id", gram, threshold=0.2, max_df=50)


Q17_SQL = """
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
sh0 AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t)-2, 1) + 1)) AS i FROM toks)
),
sh AS (  -- hot-shingle df cap, mirroring the Spark side (df > 50 dropped)
  SELECT * FROM sh0
  WHERE gram NOT IN (SELECT gram FROM sh0 GROUP BY gram HAVING count(*) > 50)
),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS i
  FROM sh a JOIN sh b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) >= 0.2
"""


def q18_cosine_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding"))
    vectors = e.where(F.col("vec_id") >= 5)
    out = similarity.cosine_topk(vectors, queries, k=5, qid="query_id")
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"),
                      F.col("rank").cast("long").alias("rank"))


Q18_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings WHERE vec_id >= 5),
joined AS (
  SELECT query_id, vec_id,
         list_dot_product(ev, qv)
           / (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv))) AS cosine
  FROM v, q
), ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
  FROM joined
)
SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank FROM ranked WHERE rank <= 5
"""


def q19_embedding_neardup(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_pairs(e, "embedding", "vec_id", "label", 0.25)


Q19_SQL = """
WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.25
"""


def q20_events_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id", "event_id",
            F.round(F.col("value") - F.lag("value").over(w), 6).alias("value_delta"),
            F.row_number().over(w).cast("long").alias("seq"),
        )
    )


Q20_SQL = """
SELECT user_id, event_id,
       round(value - lag(value) OVER w, 6) AS value_delta,
       CAST(row_number() OVER w AS BIGINT) AS seq
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q26_customers_no_orders(spark, sf_dir):
    """Anti-join (karta has no named anti op; the `within` join's
    not-intersects arm is the analog, geometry.py:1542)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")).distinct(),
               "c_custkey", "left_anti")
        .select("c_custkey", "c_name")
    )


Q26_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q27_revenue_rollup(spark, sf_dir):
    """Rollup aggregate (region -> nation -> total)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
         .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (
        j.rollup("r_name", "n_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("decimal(18,2)").cast("double").alias("total"),
             F.count("*").alias("n"))
    )


Q27_SQL = """
SELECT r_name, n_name,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total,
       CAST(count(*) AS BIGINT) AS n
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q28_merge_point_sets(spark, sf_dir):
    """Multipart merge (geometry.py:1313-1347): union of two point sets on
    common columns + dedup of exact duplicates."""
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey").select(
        F.round("x", 6).alias("x"), F.round("y", 6).alias("y"))
    s = with_coords(_t(spark, sf_dir, "supplier"), "s_suppkey").select(
        F.round("x", 6).alias("x"), F.round("y", 6).alias("y"))
    return c.unionByName(s).dropDuplicates(["x", "y"]) \
            .agg(F.count("*").alias("n_members"),
                 F.round(F.sum("x"), 4).alias("sum_x"))


Q28_SQL = f"""
WITH merged AS (
  SELECT DISTINCT * FROM (
    SELECT round({_LON('c_custkey')}, 6) AS x, round({_LAT('c_custkey')}, 6) AS y
    FROM customer
    UNION ALL
    SELECT round({_LON('s_suppkey')}, 6), round({_LAT('s_suppkey')}, 6)
    FROM supplier)
)
SELECT CAST(count(*) AS BIGINT) AS n_members, round(sum(x), 4) AS sum_x FROM merged
"""


def q29_affine_transform(spark, sf_dir):
    """Affine vertex transform (geometry.py:180-230): rotate 30 deg about
    the origin, pure column exprs."""
    from karta_spark.functions.geodesy import affine_x, affine_y, rotation_matrix
    m = rotation_matrix(30.0)
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    return c.select(
        "c_custkey",
        F.round(affine_x(F.col("x"), F.col("y"), m), 6).alias("tx"),
        F.round(affine_y(F.col("x"), F.col("y"), m), 6).alias("ty"),
    )


_COS30 = repr(math.cos(math.radians(30.0)))
_SIN30 = repr(math.sin(math.radians(30.0)))
Q29_SQL = f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
)
SELECT c_custkey,
       round({_COS30} * x + (-{_SIN30}) * y + 0.0, 6) AS tx,
       round({_SIN30} * x + {_COS30} * y + 0.0, 6) AS ty
FROM pts
"""


def q30_tile_pyramid(spark, sf_dir):
    """Hypertable-style rollup: point counts at three zooms in one pass."""
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    levels = []
    for z in (4, 6, 8):
        levels.append(
            c.select(F.lit(z).alias("zoom"),
                     cells.tile_x(F.col("x"), z).alias("tx"),
                     cells.tile_y(F.col("y"), z).alias("ty"))
        )
    u = levels[0].unionByName(levels[1]).unionByName(levels[2])
    return u.groupBy("zoom", "tx", "ty").agg(F.count("*").alias("n"))


Q30_SQL = f"""
WITH pts AS (
  SELECT {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
), lv AS (
  SELECT 4 AS zoom, {cells.tile_x_sql('x', 4)} AS tx, {cells.tile_y_sql('y', 4)} AS ty FROM pts
  UNION ALL
  SELECT 6, {cells.tile_x_sql('x', 6)}, {cells.tile_y_sql('y', 6)} FROM pts
  UNION ALL
  SELECT 8, {cells.tile_x_sql('x', 8)}, {cells.tile_y_sql('y', 8)} FROM pts
)
SELECT zoom, tx, ty, CAST(count(*) AS BIGINT) AS n FROM lv GROUP BY 1, 2, 3
"""


def q31_sessionize(spark, sf_dir):
    """Session windows over the events stream (30-minute inactivity gap):
    lag + running sum — the batch equivalent of streaming session windows."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # match DuckDB's naive-ts epoch
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = ep - F.lag(ep).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn("_new", new_sess).withColumn(
        "session_id",
        F.sum("_new").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"),
             F.min("event_id").alias("first_event"),
             F.round(F.sum("value"), 4).alias("session_value"))
    )


Q31_SQL = """
WITH marked AS (
  SELECT user_id, event_id, value, ts,
         CASE WHEN lag(epoch(ts)) OVER w IS NULL
                   OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(event_id) AS BIGINT) AS first_event,
       round(sum(value), 4) AS session_value
FROM sess GROUP BY 1, 2
"""


def q32_raster_sample_cells(spark, sf_dir):
    """Raster<->vector join: build a raster from lineitem (gridpoints),
    sample it at customer locations by cell join (nearest at cell
    resolution) — the zonal-assignment hash join of the north rule."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "key", F.col("l_orderkey") * 10 + F.col("l_linenumber"))
    li = with_coords(li, "key")
    grid = gridpoints(li, GRID_T, pz="l_quantity").select(
        "cell_i", "cell_j", F.col("value").alias("cell_value"))
    from karta_spark.raster.sampling import position_sql, round_half_even
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    i, j = position_sql(GRID_T, "x", "y")
    c = c.withColumn("cell_i", round_half_even(i).cast("int")) \
         .withColumn("cell_j", round_half_even(j).cast("int"))
    return (
        c.join(grid, ["cell_i", "cell_j"], "left")
        .select("c_custkey", F.round("cell_value", 6).alias("sampled"))
    )


Q32_SQL = f"""
WITH li AS (
  SELECT {_LON('(l_orderkey * 10 + l_linenumber)')} AS x,
         {_LAT('(l_orderkey * 10 + l_linenumber)')} AS y, l_quantity
  FROM lineitem
), grid AS (
  SELECT {_GP['cell_i']} AS cell_i, {_GP['cell_j']} AS cell_j,
         avg(l_quantity) AS cell_value
  FROM li GROUP BY 1, 2
), cpts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
), ckeyed AS (
  SELECT c_custkey, {_GP['cell_i']} AS cell_i, {_GP['cell_j']} AS cell_j FROM cpts
)
SELECT c_custkey, round(cell_value, 6) AS sampled
FROM ckeyed LEFT JOIN grid USING (cell_i, cell_j)
"""


def q35_distance_join(spark, sf_dir):
    """General distance theta-join: all (supplier, customer) pairs within
    15 planar degrees (band prefilter + exact distance — the distributed
    form of within_radius against many centers)."""
    from karta_spark.operators.radius_join import distance_join
    s = with_coords(_t(spark, sf_dir, "supplier"), "s_suppkey").select(
        F.col("s_suppkey").alias("sid"), F.col("x").alias("lx"), F.col("y").alias("ly"))
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey").select(
        F.col("c_custkey").alias("cid"), "x", "y")
    out = distance_join(s, c, 15.0)
    return out.select("sid", "cid", F.round("dist", 6).alias("dist"))


Q35_SQL = f"""
WITH s AS (
  SELECT s_suppkey AS sid, {_LON('s_suppkey')} AS lx, {_LAT('s_suppkey')} AS ly
  FROM supplier
), c AS (
  SELECT c_custkey AS cid, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y
  FROM customer
)
SELECT sid, cid, round(sqrt((x-lx)*(x-lx) + (y-ly)*(y-ly)), 6) AS dist
FROM s, c
WHERE sqrt((x-lx)*(x-lx) + (y-ly)*(y-ly)) < 15.0
"""


def q33_slope_stats(spark, sf_dir):
    """Raster stencil path: gridpoints raster -> dense tile table -> ESRI
    slope stencil -> global stats; the oracle replays the 3x3 stencil as
    an 8-way SQL self-join over the dense cell lattice."""
    from karta_spark.raster import stencil, tiles as rt
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "key", F.col("l_orderkey") * 10 + F.col("l_linenumber"))
    li = with_coords(li, "key")
    cells_df = gridpoints(li, GRID_T, pz="l_quantity")
    # fully distributed densification: sparse cells -> halo'd tile table
    g = rt.tiles_from_cells(cells_df, GRID_T, (17, 36), tile=16)
    sl = stencil.slope(g)
    # crop grid-border rows/cols (their reflect-odd padding is a raster
    # presentation detail; the interior is SQL-oracle-checkable)
    interior = rt.clip(sl, GRID_T[0] + GRID_T[2], GRID_T[0] + 35 * GRID_T[2],
                       GRID_T[1] + GRID_T[3], GRID_T[1] + 16 * GRID_T[3])
    return rt.grid_minmax(interior).select(
        F.round("min", 6).alias("slope_min"), F.round("max", 6).alias("slope_max"))


def q34_geographic_bbox(spark, sf_dir):
    """Dateline-aware spherical bbox per nation's customer point set."""
    from karta_spark.functions.geometry import geographic_bbox_df
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    members = (
        c.groupBy("c_nationkey")
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col("c_custkey").alias("k"), F.col("x").alias("x"), F.col("y").alias("y")
        ))).alias("_s"))
        .select(F.col("c_nationkey").cast("long").alias("geom_id"),
                F.transform("_s", lambda s: F.struct(s.x.alias("x"), s.y.alias("y")))
                .alias("vertices"))
    )
    out = geographic_bbox_df(members)
    return out.select("geom_id", F.round("xmin", 6).alias("xmin"),
                      F.round("ymin", 6).alias("ymin"),
                      F.round("xmax", 6).alias("xmax"),
                      F.round("ymax", 6).alias("ymax"))



Q33_SQL = f"""
WITH li AS (
  SELECT {_LON('(l_orderkey * 10 + l_linenumber)')} AS x,
         {_LAT('(l_orderkey * 10 + l_linenumber)')} AS y, l_quantity
  FROM lineitem
), grid AS (
  SELECT {_GP['cell_i']} AS i, {_GP['cell_j']} AS j, avg(l_quantity) AS v
  FROM li GROUP BY 1, 2
), interior AS (
  SELECT g.i, g.j,
    ((2*e.v + ne.v + se.v) - (2*w.v + nw.v + sw.v)) / (8.0 * 10.0) AS ddx,
    ((2*n.v + ne.v + nw.v) - (2*s.v + se.v + sw.v)) / (8.0 * 10.0) AS ddy
  FROM grid g
  LEFT JOIN grid e  ON e.i  = g.i     AND e.j  = g.j + 1
  LEFT JOIN grid w  ON w.i  = g.i     AND w.j  = g.j - 1
  LEFT JOIN grid n  ON n.i  = g.i + 1 AND n.j  = g.j
  LEFT JOIN grid s  ON s.i  = g.i - 1 AND s.j  = g.j
  LEFT JOIN grid ne ON ne.i = g.i + 1 AND ne.j = g.j + 1
  LEFT JOIN grid nw ON nw.i = g.i + 1 AND nw.j = g.j - 1
  LEFT JOIN grid se ON se.i = g.i - 1 AND se.j = g.j + 1
  LEFT JOIN grid sw ON sw.i = g.i - 1 AND sw.j = g.j - 1
  WHERE g.i BETWEEN 1 AND 15 AND g.j BETWEEN 1 AND 34
)
SELECT round(min(sqrt(ddx*ddx + ddy*ddy)), 6) AS slope_min,
       round(max(sqrt(ddx*ddx + ddy*ddy)), 6) AS slope_max
FROM interior
"""


Q34_SQL = f"""
WITH pts AS (
  SELECT c_nationkey AS geom_id, c_custkey AS k,
         {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y
  FROM customer
), seg AS (
  SELECT geom_id, k, x, y,
         lag(x) OVER w AS x0, lag(y) OVER w AS y0,
         first_value(x) OVER w AS xf, first_value(y) OVER w AS yf,
         row_number() OVER w AS rn
  FROM pts WINDOW w AS (PARTITION BY geom_id ORDER BY k)
), steps AS (
  SELECT geom_id, k, rn, x AS x1, y AS y1, x0, y0, xf, yf,
    CASE WHEN x0 IS NULL THEN 0
         WHEN (CASE WHEN x0 = 0 THEN 1 ELSE sign(x0) END)
              <> (CASE WHEN x = 0 THEN 1 ELSE sign(x) END)
              AND abs(x0 - x) > 180.0
         THEN (CASE WHEN x - x0 > 180 THEN 1 ELSE -1 END)
         ELSE 0 END AS xdl,
    -- bndlat_sph(x0,y0,x1,y1): bounding latitudes of the great-circle arc
    CASE WHEN x0 IS NULL THEN NULL ELSE radians(x - x0) END AS dlam,
    CASE WHEN x0 IS NULL THEN NULL ELSE radians(y0) END AS phi0,
    CASE WHEN x0 IS NULL THEN NULL ELSE radians(y) END AS phi1
  FROM seg
), az AS (
  SELECT *,
    CASE WHEN dlam IS NOT NULL AND dlam <> 0.0 THEN
      atan2(sin(dlam)*cos(phi1), cos(phi0)*sin(phi1) - sin(phi0)*cos(phi1)*cos(dlam))
    END AS faz,
    CASE WHEN dlam IS NOT NULL AND dlam <> 0.0 THEN
      atan2(sin(-dlam)*cos(phi0), cos(phi1)*sin(phi0) - sin(phi1)*cos(phi0)*cos(-dlam))
    END AS baz,
    CASE WHEN y0 IS NULL THEN NULL
         WHEN y0 = 0 THEN 1 ELSE sign(y0) END AS s0,
    CASE WHEN y0 IS NULL THEN NULL
         WHEN y1 = 0 THEN 1 ELSE sign(y1) END AS s1
  FROM steps
), lat_bounds AS (
  SELECT *,
    CASE
      WHEN x0 IS NULL THEN NULL
      WHEN dlam = 0.0 AND phi0 = phi1 THEN NULL              -- degenerate
      WHEN dlam = 0.0 OR s0 <> s1 THEN least(y0, y1)
      WHEN s0 = 1 THEN degrees(least(phi0, phi1))
      WHEN abs((faz + pi()) % (2*pi()) - pi()) > 0.5*pi()
           AND abs((baz + pi()) % (2*pi()) - pi()) > 0.5*pi()
      THEN -degrees(acos(abs(sin(faz)*cos(phi0))))
      ELSE degrees(least(phi0, phi1)) END AS seg_ymin,
    CASE
      WHEN x0 IS NULL THEN NULL
      WHEN dlam = 0.0 AND phi0 = phi1 THEN NULL
      WHEN dlam = 0.0 OR s0 <> s1 THEN greatest(y0, y1)
      WHEN s0 = -1 THEN degrees(greatest(phi0, phi1))
      WHEN abs((faz + pi()) % (2*pi()) - pi()) < 0.5*pi()
           AND abs((baz + pi()) % (2*pi()) - pi()) < 0.5*pi()
      THEN degrees(acos(abs(sin(faz)*cos(phi0))))
      ELSE degrees(greatest(phi0, phi1)) END AS seg_ymax
  FROM az
), rotted AS (
  SELECT *,
    -360.0 * sum(xdl) OVER (PARTITION BY geom_id ORDER BY rn
                            ROWS UNBOUNDED PRECEDING) AS rot
  FROM lat_bounds
), cands AS (
  SELECT geom_id,
    CASE WHEN rn = 1 THEN x1
         WHEN xdl <> 0 THEN x1 + rot
         WHEN x0 > x1 THEN x1
         ELSE NULL END AS xmin_c,
    CASE WHEN rn = 1 THEN x1
         WHEN xdl <> 0 THEN x1 + rot
         WHEN x0 <= x1 THEN x1
         ELSE NULL END AS xmax_c,
    CASE WHEN rn = 1 THEN y1 ELSE seg_ymin END AS ymin_c,
    CASE WHEN rn = 1 THEN y1 ELSE seg_ymax END AS ymax_c
  FROM rotted
)
SELECT geom_id,
  round(((min(xmin_c) + 180.0) % 360.0 + 360.0) % 360.0 - 180.0, 6) AS xmin,
  round(min(ymin_c), 6) AS ymin,
  round(((max(xmax_c) + 180.0) % 360.0 + 360.0) % 360.0 - 180.0, 6) AS xmax,
  round(max(ymax_c), 6) AS ymax
FROM cands GROUP BY geom_id
"""


def q37_webmercator(spark, sf_dir):
    """Projected-CRS forward: customer lonlat -> Web Mercator (crs.py:386
    '+proj=merc +a=6378137 +b=6378137').  Pure Catalyst exprs; the oracle
    twin is the same algebra emitted as SQL."""
    from karta_spark.functions import crs as kcrs
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    mx, my = kcrs.forward_exprs(kcrs.WEB_MERCATOR, F.col("x"), F.col("y"))
    return c.select("c_custkey", F.round(mx, 4).alias("mx"),
                    F.round(my, 4).alias("my"))


def _q37_sql():
    from karta_spark.functions import crs as kcrs
    xs, ys = kcrs.forward_sql(kcrs.WEB_MERCATOR, "x", "y")
    return f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
)
SELECT c_custkey, round({xs}, 4) AS mx, round({ys}, 4) AS my FROM pts
"""


def q38_utm_reproject(spark, sf_dir):
    """UTM zone-31N forward + inverse roundtrip (Krüger series, WGS84) on
    the customers whose lon falls inside the zone — the reprojection story
    the reference gets from pyproj (crs.py:219-243), here as whole-stage-
    codegen column math with a DuckDB twin of the identical series."""
    from karta_spark.functions import crs as kcrs
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    z = c.where((F.col("x") > 0.5) & (F.col("x") < 5.5))
    ex, ny = kcrs.forward_exprs(kcrs.utm(31), F.col("x"), F.col("y"))
    z = z.withColumn("easting", ex).withColumn("northing", ny)
    lon2, lat2 = kcrs.inverse_exprs(kcrs.utm(31), F.col("easting"), F.col("northing"))
    # Roundtrip check as a BOOLEAN tolerance, not a rounded float: the
    # Krüger roundtrip error is itself ~1e-9..1e-10, so round(err, 9) sits
    # exactly at the rounding noise floor and a last-ulp difference between
    # Spark and a DuckDB build flips +-1e-9 <-> 0.0 (driver r2 red cell).
    return z.select(
        "c_custkey", F.round("easting", 4).alias("easting"),
        F.round("northing", 4).alias("northing"),
        (F.abs(lon2 - F.col("x")) < 1e-7).cast("int").alias("lon_rt_ok"),
        (F.abs(lat2 - F.col("y")) < 1e-7).cast("int").alias("lat_rt_ok"))


def _q38_sql():
    from karta_spark.functions import crs as kcrs
    xs, ys = kcrs.forward_sql(kcrs.utm(31), "x", "y")
    lo, la = kcrs.inverse_sql(kcrs.utm(31), "easting", "northing")
    return f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
), zone AS (
  SELECT * FROM pts WHERE x > 0.5 AND x < 5.5
), proj AS (
  SELECT c_custkey, x, y, {xs} AS easting, {ys} AS northing FROM zone
)
SELECT c_custkey, round(easting, 4) AS easting, round(northing, 4) AS northing,
       CAST(abs({lo} - x) < 1e-7 AS INT) AS lon_rt_ok,
       CAST(abs({la} - y) < 1e-7 AS INT) AS lat_rt_ok
FROM proj
"""


def q39_affine_fit(spark, sf_dir):
    """Least-squares affine_matrix (reference geometry.py:1833-1852) as one
    distributed aggregation + Cramer solve. Control points: customer coords
    -> a fixed affine image plus a deterministic sin/cos perturbation."""
    from karta_spark.functions.geodesy import affine_matrix_agg
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    pts = c.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"),
        (0.5 * F.col("x") - 1.25 * F.col("y") + 7.0
         + 0.01 * F.sin(F.col("c_custkey").cast("double"))).alias("bx"),
        (0.75 * F.col("x") + 0.25 * F.col("y") - 3.0
         + 0.01 * F.cos(F.col("c_custkey").cast("double"))).alias("by"),
    )
    out = affine_matrix_agg(pts, exact_sums=True)
    return out.select(*[F.round(m, 7).alias(m)
                        for m in ("m00", "m01", "m02", "m10", "m11", "m12")])


def _q39_sql():
    from karta_spark.functions.geodesy import affine_matrix_sql
    inner = affine_matrix_sql("pts", exact_sums=True)
    return f"""
WITH pts AS (
  SELECT {_LON('c_custkey')} AS ax, {_LAT('c_custkey')} AS ay,
         0.5 * {_LON('c_custkey')} - 1.25 * {_LAT('c_custkey')} + 7.0
           + 0.01 * sin(CAST(c_custkey AS DOUBLE)) AS bx,
         0.75 * {_LON('c_custkey')} + 0.25 * {_LAT('c_custkey')} - 3.0
           + 0.01 * cos(CAST(c_custkey AS DOUBLE)) AS by
  FROM customer
), fit AS ({inner})
SELECT round(m00, 7) AS m00, round(m01, 7) AS m01, round(m02, 7) AS m02,
       round(m10, 7) AS m10, round(m11, 7) AS m11, round(m12, 7) AS m12
FROM fit
"""


def _seed42_points():
    """The reference's seeded within_polygon point set
    (vector_predicate_tests.py:208-221): np.random.seed(42), 100 points in
    [-90,90]x[-15,15].  Legacy MT19937 is deterministic, so both the Spark
    side and the SQL VALUES literal derive from the same arrays."""
    np.random.seed(42)
    x = (np.random.random(100) - 0.5) * 180.0
    y = (np.random.random(100) - 0.5) * 30.0
    return x, y


def q40_seeded_within_polygon(spark, sf_dir):
    """The reference's flagship seeded within_polygon case, moved under the
    oracle: seed-42 points joined against the heptagon through the FULL
    cover/classify/refine machinery; oracle recomputes membership with the
    pure-SQL winding twin over the same literal points."""
    x, y = _seed42_points()
    pts = spark.createDataFrame(
        [(i, float(x[i]), float(y[i])) for i in range(len(x))],
        "idx long, x double, y double")
    joined = pip_join.point_in_polygon_join(
        pts, [PolygonSpec("heptagon", HEPTAGON, crs="lonlat")], zoom=5)
    return joined.select("idx", F.round("x", 9).alias("x"),
                         F.round("y", 9).alias("y"))


def _q40_sql():
    x, y = _seed42_points()
    values = ",".join(f"({i}, {x[i]!r}, {y[i]!r})" for i in range(len(x)))
    return f"""
WITH pts AS (
  SELECT idx, CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y
  FROM (VALUES {values}) t(idx, x, y)
)
SELECT CAST(idx AS BIGINT) AS idx, round(x, 9) AS x, round(y, 9) AS y
FROM pts WHERE {winding_sql(HEPTAGON, 'x', 'y')}
"""


def _seed49_multiline():
    """Seed-49 multiline members (vector_predicate_tests.py:223-229)."""
    np.random.seed(49)
    return [10 * np.random.rand(10, 2) + np.random.randint(-50, 50, (1, 2))
            for _ in range(50)]


_Q41_LINE = [(-30.0, -40.0), (11.0, -30.0), (10.0, 22.0), (-10.0, 50.0)]


def q41_seeded_touching(spark, sf_dir):
    """Seed-49 multiline touching a query line (reference count golden = 4,
    vector_predicate_tests.py:223-230) via the distributed bbox-gate +
    segment-intersection join; the oracle recomputes with a SQL
    segment-crossing EXISTS over the same literal segments."""
    from karta_spark.operators import intersect_join
    members = _seed49_multiline()
    rows = [(i, [{"x": float(px), "y": float(py)} for px, py in m])
            for i, m in enumerate(members)]
    df = spark.createDataFrame(
        rows, "geom_id long, vertices array<struct<x:double,y:double>>")
    out = intersect_join.touching(df, np.array(_Q41_LINE), False)
    return out.select("geom_id").orderBy("geom_id")


def _q41_sql():
    members = _seed49_multiline()
    seg_rows = []
    for gid, m in enumerate(members):
        for k in range(len(m) - 1):
            seg_rows.append(f"({gid}, {m[k][0]!r}, {m[k][1]!r}, "
                            f"{m[k + 1][0]!r}, {m[k + 1][1]!r})")
    qseg_rows = [f"({_Q41_LINE[k][0]!r}, {_Q41_LINE[k][1]!r}, "
                 f"{_Q41_LINE[k + 1][0]!r}, {_Q41_LINE[k + 1][1]!r})"
                 for k in range(len(_Q41_LINE) - 1)]
    # proper segment crossing via orientation signs (no degenerate cases in
    # the seeded data, pinned by the pytest golden count = 4)
    cross = ("((qx2-qx1)*({py}-qy1) - ({px}-qx1)*(qy2-qy1))")
    d1 = cross.format(px="ax", py="ay")
    d2 = cross.format(px="bx", py="by")
    cross2 = ("((bx-ax)*({py}-ay) - ({px}-ax)*(by-ay))")
    d3 = cross2.format(px="qx1", py="qy1")
    d4 = cross2.format(px="qx2", py="qy2")
    return f"""
WITH segs AS (
  SELECT geom_id, CAST(ax AS DOUBLE) AS ax, CAST(ay AS DOUBLE) AS ay,
         CAST(bx AS DOUBLE) AS bx, CAST(by AS DOUBLE) AS by
  FROM (VALUES {','.join(seg_rows)}) t(geom_id, ax, ay, bx, by)
), qsegs AS (
  SELECT CAST(qx1 AS DOUBLE) AS qx1, CAST(qy1 AS DOUBLE) AS qy1,
         CAST(qx2 AS DOUBLE) AS qx2, CAST(qy2 AS DOUBLE) AS qy2
  FROM (VALUES {','.join(qseg_rows)}) q(qx1, qy1, qx2, qy2)
)
SELECT DISTINCT CAST(geom_id AS BIGINT) AS geom_id
FROM segs, qsegs
WHERE (({d1}) * ({d2}) < 0) AND (({d3}) * ({d4}) < 0)
ORDER BY geom_id
"""


def q42_duplicate_clusters(spark, sf_dir):
    """Near-dup CLUSTERS (not just pairs): connected components over the
    q17 word-trigram Jaccard pair graph, min-id canonical labels, every
    document mapped (singletons to themselves).  The Spark side is the
    iterative min-label propagation in dedup.connected_components; the
    oracle recomputes components with a recursive reachability CTE."""
    d = _t(spark, sf_dir, "documents")
    pairs = q17_ngram_jaccard(spark, sf_dir)
    out = dedup.duplicate_clusters(d, pairs, "doc_id")
    return out.select(F.col("id").alias("doc_id"), "canonical_id")


_Q42_SQL = f"""
WITH RECURSIVE jpairs AS (
  SELECT id_a, id_b FROM ({{q17}}) p
), edges AS (
  SELECT id_a AS a, id_b AS b FROM jpairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM jpairs
), reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
)
SELECT id AS doc_id, min(r) AS canonical_id FROM reach GROUP BY id
"""


def _q42_sql():
    return _Q42_SQL.format(q17=Q17_SQL)


def q43_zonal_stats(spark, sf_dir):
    """Zonal statistics (the reference's mask_by_poly + grid reduce, fused):
    lineitem gridpoints raster -> dense tile table -> per-flagship-polygon
    cell-center stats in one tile pass.  Oracle recomputes membership with
    the winding SQL twin over the same cell centers."""
    from karta_spark.raster import tiles as rt
    from karta_spark.raster.zonal import zonal_stats
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "key", F.col("l_orderkey") * 10 + F.col("l_linenumber"))
    li = with_coords(li, "key")
    cells_df = gridpoints(li, GRID_T, pz="l_quantity").withColumn(
        "value", F.round("value", 6))
    g = rt.tiles_from_cells(cells_df, GRID_T, (17, 36), tile=16)
    out = zonal_stats(g, FLAGSHIP_POLYS, round_values=6)
    return out.select(
        "poly_id", "n_cells", F.round("mean", 6).alias("mean"),
        F.round("min", 6).alias("min"), F.round("max", 6).alias("max"))


def _q43_sql():
    x0, y0, dx, dy = GRID_T[0], GRID_T[1], GRID_T[2], GRID_T[3]
    branches = []
    for p in FLAGSHIP_POLYS:
        branches.append(
            f"SELECT '{p.poly_id}' AS poly_id, value FROM centers "
            f"WHERE {winding_sql(p.outer, 'cx', 'cy')}")
    union = "\nUNION ALL\n".join(branches)
    return f"""
WITH pts AS (
  SELECT {_LON('(l_orderkey * 10 + l_linenumber)')} AS x,
         {_LAT('(l_orderkey * 10 + l_linenumber)')} AS y,
         l_quantity
  FROM lineitem
), cells AS (
  SELECT {_GP['cell_i']} AS cell_i, {_GP['cell_j']} AS cell_j,
         round(avg(l_quantity), 6) AS value
  FROM pts GROUP BY 1, 2
), centers AS (
  SELECT ({x0!r} + (cell_j + 0.5) * {dx!r}) AS cx,
         ({y0!r} + (cell_i + 0.5) * {dy!r}) AS cy, value
  FROM cells
), zoned AS ({union})
SELECT poly_id, CAST(count(*) AS BIGINT) AS n_cells,
       round(avg(value), 6) AS mean,
       round(min(value), 6) AS min, round(max(value), 6) AS max
FROM zoned GROUP BY poly_id
"""


def q44_audio_stats(spark, sf_dir):
    """Multimodal audio path, oracle-checked as an INVARIANT: synthesize
    deterministic WAV clips (PCM 16/8-bit + float32 stereo; amplitude and
    frequency closed-form functions of the clip index), decode with the
    pure-python RIFF/WAV codec, verify per row that the decoded sample
    rate, sample count and RMS match the synthesis contract (integer-cycle
    sines make expected RMS exactly A/sqrt(2) mono, A*sqrt(0.3125) for the
    half-amplitude stereo arm — mean square over both channels is
    A^2*(0.5+0.125)/2; 1% tolerance covers 8-bit quantization).
    The oracle states the expected per-kind census — any codec/decode
    regression shrinks a count and fails the hash gate."""
    import numpy as np
    from karta_spark.sources.av import encode_wav
    from karta_spark.sources import multimodal
    rows = []
    for i in range(60):
        t = np.linspace(0, 1, 4000, endpoint=False)
        amp = 0.2 + 0.01 * (i % 7)
        tone = amp * np.sin(2 * np.pi * (220 + i) * t)
        bits = [16, 8, "float32"][i % 3]
        exp_rms = amp * math.sqrt(0.3125) if bits == "float32" else amp / math.sqrt(2.0)
        if bits == "float32":
            tone = np.stack([tone, 0.5 * tone], axis=1)
        rows.append((f"clip{i:03d}", ["pcm16", "pcm8", "f32st"][i % 3],
                     float(exp_rms), bytearray(encode_wav(tone, 4000, bits))))
    clips = spark.createDataFrame(
        rows, "clip_id string, kind string, exp_rms double, bytes binary")
    stats = multimodal.decode_audio(clips)
    joined = stats.join(clips.select("clip_id", "kind", "exp_rms"), "clip_id")
    return (joined.groupBy("kind").agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("sample_rate") == 4000).cast("long")).alias("n_sr_ok"),
        F.sum((F.col("n_samples") == 4000).cast("long")).alias("n_len_ok"),
        F.sum((F.abs(F.col("rms") - F.col("exp_rms"))
               < 0.01 * F.col("exp_rms")).cast("long")).alias("n_rms_ok"))
            .orderBy("kind"))


Q44_SQL = """
SELECT CASE i WHEN 0 THEN 'pcm16' WHEN 1 THEN 'pcm8' ELSE 'f32st' END AS kind,
       CAST(20 AS BIGINT) AS n, CAST(20 AS BIGINT) AS n_sr_ok,
       CAST(20 AS BIGINT) AS n_len_ok, CAST(20 AS BIGINT) AS n_rms_ok
FROM range(3) t(i) ORDER BY kind
"""


def q45_video_frames(spark, sf_dir):
    """Multimodal video path, oracle-checked as an INVARIANT: deterministic
    MJPEG-in-AVI clips -> frame sampling through the baseline JPEG decoder
    -> per-video sampled-frame counts.  Video v has 12+v frames sampled
    every 5th, so the expected count is 1 + (11+v)/5 — closed-form in the
    oracle; a frame-indexing or JPEG-decode failure changes a count and
    fails the hash gate."""
    import numpy as np
    from karta_spark.sources.av import encode_mjpeg_avi
    from karta_spark.sources import multimodal
    rows = []
    for v in range(6):
        frames = [np.full((16, 16, 3), (v * 20 + k * 7) % 256, dtype=np.uint8)
                  for k in range(12 + v)]
        rows.append((f"vid{v}", bytearray(encode_mjpeg_avi(frames, fps=5))))
    vids = spark.createDataFrame(rows, "video_id string, bytes binary")
    out = multimodal.sample_video_frames(vids, every_n=5)
    return (out.groupBy("video_id").agg(
        F.count("*").cast("long").alias("n_frames"))
        .orderBy("video_id"))


Q45_SQL = """
SELECT 'vid' || CAST(v AS VARCHAR) AS video_id,
       CAST(1 + (12 + v - 1) // 5 AS BIGINT) AS n_frames
FROM range(6) t(v) ORDER BY video_id
"""


def q48_geodesic_area(spark, sf_dir):
    """Spherical geodesic ring area per nation (the reference
    Polygon.area spherical arm, geometry.py:1119-1128): ring from each
    nation's 6 lowest-key customers, per-segment quadrilateral areas
    (geodesy.py:115-127) summed — the whole pipeline is closed-form trig,
    shared verbatim with the DuckDB oracle via spherical_quad_area_sql."""
    from pyspark.sql import Window
    from karta_spark.functions import geometry
    from karta_spark.functions.geodesy import spherical_quad_area_sql
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    v = (c.withColumn("idx", F.row_number().over(w).cast("long"))
         .where(F.col("idx") <= 6)
         .select(F.col("c_nationkey").cast("long").alias("geom_id"), "idx", "x", "y"))
    seg = geometry.segments(v, "geom_id", closed=True)
    terms = seg.withColumn("_s", F.expr(spherical_quad_area_sql("x0", "y0", "x1", "y1")))
    return (terms.groupBy("geom_id")
            .agg(F.round(F.abs(F.sum("_s")) / 1e6, 4).alias("area_km2"))
            .orderBy("geom_id"))


def _q48_sql():
    from karta_spark.functions.geodesy import spherical_quad_area_sql
    quad = spherical_quad_area_sql("x0", "y0", "x1", "y1")
    return f"""
WITH c AS (
  SELECT CAST(c_nationkey AS BIGINT) AS geom_id, c_custkey AS k,
         {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y
  FROM customer
),
r AS (
  SELECT geom_id, x, y,
         row_number() OVER (PARTITION BY geom_id ORDER BY k) AS idx
  FROM c
),
v AS (SELECT geom_id, idx, x, y FROM r WHERE idx <= 6),
seg AS (
  SELECT geom_id, x AS x0, y AS y0,
         coalesce(lead(x) OVER w,
                  first_value(x) OVER (PARTITION BY geom_id ORDER BY idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS x1,
         coalesce(lead(y) OVER w,
                  first_value(y) OVER (PARTITION BY geom_id ORDER BY idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS y1
  FROM v
  WINDOW w AS (PARTITION BY geom_id ORDER BY idx)
)
SELECT geom_id, round(abs(sum({quad})) / 1e6, 4) AS area_km2
FROM seg GROUP BY geom_id ORDER BY geom_id
"""


def q49_ivf_static(spark, sf_dir):
    """IVF ANN top-k with a static integer codebook: list assignment and
    probe selection are exact integer arithmetic (floor-quantized
    components), bit-identical in DuckDB — the oracle checks the
    approximate candidate structure, not just the final ranking."""
    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding"))
    vectors = e.where(F.col("vec_id") >= 5)
    out = similarity.ivf_topk_static(vectors, queries, k=5, dim=64, nprobe=2)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"),
                      F.col("rank").cast("long").alias("rank"))


def _q50_tris():
    """120 seeded triangles — deliberately MORE than MAX_EXPR_POLYS=48 so
    the gate exercises the many-polygon machinery: one-pass driver cover,
    broadcast cover join, y-banded edge winding kernel."""
    rng = np.random.default_rng(50)
    tris = []
    for i in range(120):
        cx = rng.uniform(-150.0, 150.0)
        cy = rng.uniform(-55.0, 55.0)
        r = rng.uniform(2.0, 8.0)
        rot = rng.uniform(0.0, 2.0 * math.pi)
        ang = rot + np.array([0.0, 2.0 * math.pi / 3.0, 4.0 * math.pi / 3.0])
        tris.append((f"t{i:03d}", np.column_stack(
            [cx + r * np.cos(ang), cy + r * np.sin(ang)])))
    return tris


def q50_pip_many_polys(spark, sf_dir):
    """Per-polygon containment counts against 120 seeded triangles — the
    large-polygon-set PIP path (broadcast cover + banded Arrow kernel)
    under the oracle: the SQL twin recomputes every triangle's membership
    with the literal winding form."""
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    polys = [PolygonSpec(pid, v, crs="lonlat") for pid, v in _q50_tris()]
    joined = pip_join.point_in_polygon_join(
        c.select("c_custkey", "x", "y"), polys, zoom=6)
    return joined.groupBy("poly_id").agg(
        F.count("*").cast("long").alias("n_inside"))


def _q50_sql():
    arms = "\nUNION ALL\n".join(
        f"SELECT '{pid}' AS poly_id, CAST(count(*) AS BIGINT) AS n_inside "
        f"FROM pts WHERE {winding_sql(v, 'x', 'y')}"
        for pid, v in _q50_tris())
    return f"""
WITH pts AS (
  SELECT {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
), u AS (
{arms}
)
SELECT poly_id, n_inside FROM u WHERE n_inside > 0
"""


def q54_pip_table_join(spark, sf_dir):
    """Table-variant PIP: the SAME 120 seeded triangles as q50, but as a
    polygon TABLE (poly_id, vertices).  point_in_polygon_join_table
    collects the table into PolygonSpecs, so the plan is q50's; same
    oracle as q50."""
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    poly_df = spark.createDataFrame(
        [(pid, [{"x": float(x), "y": float(y)} for x, y in v])
         for pid, v in _q50_tris()],
        "poly_id string, vertices array<struct<x double, y double>>")
    joined = pip_join.point_in_polygon_join_table(
        c.select("c_custkey", "x", "y"), poly_df, zoom=6)
    return joined.groupBy("poly_id").agg(
        F.count("*").cast("long").alias("n_inside"))


def q55_nad27_reproject(spark, sf_dir):
    """Datum-shift reprojection (reference crs.py:354-356 LonLatNAD27 ->
    LonLatNAD83): geocentric 3-param Helmert + Bowring inverse as pure
    Catalyst column math, DuckDB twin emitted from the same backend-generic
    algebra.  CONUS-ish customers only (the Molodensky parameters are a
    CONUS fit)."""
    from karta_spark.functions import crs as kcrs
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    z = c.where((F.col("x") > -125) & (F.col("x") < -66)
                & (F.col("y") > 24) & (F.col("y") < 49))
    lon83, lat83 = kcrs.inverse_exprs(kcrs.LONLAT_NAD27, F.col("x"), F.col("y"))
    return z.select(
        "c_custkey",
        F.round(lon83, 9).alias("lon_nad83"),
        F.round(lat83, 9).alias("lat_nad83"),
        F.round((lon83 - F.col("x")) * 3600.0, 6).alias("dlon_arcsec"),
        F.round((lat83 - F.col("y")) * 3600.0, 6).alias("dlat_arcsec"))


def _q55_sql():
    from karta_spark.functions import crs as kcrs
    lo, la = kcrs.inverse_sql(kcrs.LONLAT_NAD27, "x", "y")
    return f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
), zone AS (
  SELECT * FROM pts WHERE x > -125 AND x < -66 AND y > 24 AND y < 49
)
SELECT c_custkey,
       round({lo}, 9) AS lon_nad83,
       round({la}, 9) AS lat_nad83,
       round(({lo} - x) * 3600.0, 6) AS dlon_arcsec,
       round(({la} - y) * 3600.0, 6) AS dlat_arcsec
FROM zone
"""


def _q56_ring():
    ang = -2.0 * np.pi * np.arange(12) / 12
    r = np.where(np.arange(12) % 2 == 0, 44.0, 20.0)
    x = np.round(28.3 + r * np.cos(ang + 0.23), 2)
    y = np.round(48.2 + r * np.sin(ang + 0.23), 2)
    return np.column_stack([x, y])  # clockwise; pokes off-grid at x<0


def q56_scanline_mask_census(spark, sf_dir):
    """Scanline raster mask parity at gate level: burn a 12-vertex star
    into a 100x120 tiled grid with the reference-exact scanline rasterizer
    (mask_by_poly method='scanline', reference grid.py:1304-1384) and
    census the surviving cells per 10-row band.  The DuckDB twin replays
    the same algebra — per-edge row crossings with floor(v+0.5) rounding
    (identical to banker's here: no crossing lands on an exact half),
    running-sum runs per row, closed-form value sums.  Any rounding,
    normalization, clamping or tile-window regression moves a count."""
    from karta_spark.raster import tiles as rtiles
    from karta_spark.raster.mask import mask_by_poly
    nx, ny = 120, 100
    vals = np.arange(ny * nx, dtype=np.float64).reshape(ny, nx)  # v = i*nx + j
    g = rtiles.grid_to_df(spark, "q56", vals, (0.0, 0.0, 1.0, 1.0, 0.0, 0.0),
                          tile=32)
    masked = mask_by_poly(g, [(_q56_ring(), [])], method="scanline")

    def census(pdf_iter):
        import pandas as _pd
        for pdf in pdf_iter:
            agg = {}
            for _, r in pdf.iterrows():
                h, tny, tnx = int(r["halo"]), int(r["ny"]), int(r["nx"])
                blk = np.asarray(r["block"], dtype=np.float64).reshape(
                    tny + 2 * h, tnx + 2 * h)[h:h + tny, h:h + tnx]
                ii = np.arange(int(r["i0"]), int(r["i0"]) + tny)
                ok = ~np.isnan(blk)
                nrow = ok.sum(axis=1)
                vrow = np.where(ok, blk, 0.0).sum(axis=1)
                for band in np.unique(ii // 10):
                    sel = (ii // 10) == band
                    k = (int(band))
                    n0, v0 = agg.get(k, (0, 0.0))
                    agg[k] = (n0 + int(nrow[sel].sum()), v0 + float(vrow[sel].sum()))
            yield _pd.DataFrame(
                [(k, n, v) for k, (n, v) in agg.items()],
                columns=["row_band", "n", "v"])

    part = masked.mapInPandas(census, "row_band long, n long, v double")
    return (part.groupBy("row_band")
            .agg(F.sum("n").cast("long").alias("n_masked"),
                 F.round(F.sum("v")).cast("long").alias("val_sum"))
            .where(F.col("n_masked") > 0))


def _q56_sql():
    ring = _q56_ring()
    nx, ny = 120, 100
    edges = ", ".join(
        f"({a!r}, {b!r}, {c!r}, {d!r})"
        for (a, b), (c, d) in zip(ring, np.roll(ring, -1, axis=0)))
    return f"""
WITH edges(x0, y0, x1, y1) AS (VALUES {edges}),
anch AS (
  SELECT x0, y0, x1, y1,
         CAST(floor(y0 + 0.5) AS BIGINT) AS i0,
         CAST(floor(x0 + 0.5) AS BIGINT) AS j0,
         CAST(floor(y1 + 0.5) AS BIGINT) AS i1,
         CAST(floor(x1 + 0.5) AS BIGINT) AS j1
  FROM edges
),
spans AS (
  SELECT CASE WHEN y1 > y0 THEN greatest(i0, 0) ELSE greatest(i1, 0) END AS lo,
         CASE WHEN y1 > y0 THEN least(i1, {ny}) ELSE least(i0, {ny}) END AS hi,
         CASE WHEN y1 > y0 THEN i0 ELSE i1 END AS ia,
         CASE WHEN y1 > y0 THEN j0 ELSE j1 END AS ja,
         CASE WHEN y1 > y0 THEN 1 ELSE -1 END AS s,
         (x1 - x0) / (y1 - y0) AS slope
  FROM anch WHERE y1 <> y0
),
ev0 AS (
  SELECT CAST(t.i AS BIGINT) AS i,
         CAST(floor((CAST(t.i AS BIGINT) - ia) * slope + ja + 0.5) AS BIGINT) AS jraw,
         s
  FROM spans, LATERAL unnest(range(lo, hi)) AS t(i)
  WHERE hi > lo
),
ev AS (
  SELECT i, greatest(jraw, 0) AS j, CAST(sum(s) AS BIGINT) AS ds
  FROM ev0 WHERE jraw < {nx} GROUP BY i, greatest(jraw, 0)
),
marks AS (
  SELECT i, j AS j_lo,
         lead(j, 1, {nx}) OVER (PARTITION BY i ORDER BY j) AS j_hi,
         sum(ds) OVER (PARTITION BY i ORDER BY j) AS run
  FROM ev
),
cells AS (SELECT i, j_lo, j_hi FROM marks WHERE run <> 0 AND j_hi > j_lo)
SELECT CAST(i // 10 AS BIGINT) AS row_band,
       CAST(sum(j_hi - j_lo) AS BIGINT) AS n_masked,
       CAST(sum((j_hi - j_lo) * i * {nx}
                + (j_hi * (j_hi - 1) - j_lo * (j_lo - 1)) // 2) AS BIGINT) AS val_sum
FROM cells GROUP BY 1
"""


def q57_resize_census(spark, sf_dir):
    """Distributed RegularGrid.resize (reference grid.py:564-617) under the
    value gate: resize a 90x140 grid with v = i*140 + j onto a shifted,
    partly-overlapping bbox (explode -> index-shift -> re-tile, one
    shuffle), then census surviving cells per target row band.  The oracle
    predicts the index mapping in closed form: new (i,j) holds old
    (i - i0new + i0, j - j0new + j0) inside the pasted window, nodata
    elsewhere.  Transform (0,0,1,1): old bbox (0,0,140,90), new bbox
    (-20,30,100,130) -> paste window rows [0,60) cols [20,120) of the new
    100x120 grid mapping to old rows [30,90) cols [0,100)."""
    from karta_spark.raster import tiles as rtiles
    ny, nx = 90, 140
    vals = np.arange(ny * nx, dtype=np.float64).reshape(ny, nx)
    g = rtiles.grid_to_df(spark, "q57", vals, (0.0, 0.0, 1.0, 1.0, 0.0, 0.0),
                          tile=32)
    out = rtiles.resize(g, [-20.0, 30.0, 100.0, 130.0], tile=32)
    cells_new = rtiles.tile_cells(out)
    return (cells_new
            .groupBy((F.col("cell_i") / 10).cast("long").alias("row_band"))
            .agg(F.count("*").cast("long").alias("n_cells"),
                 F.sum("value").cast("long").alias("val_sum"))
            .where(F.col("n_cells") > 0))


Q57_SQL = """
WITH newcells AS (
  SELECT i, j, (CAST(i AS BIGINT) + 30) * 140 + (CAST(j AS BIGINT) - 20) AS v
  FROM range(0, 60) t(i), range(20, 120) u(j)
)
SELECT CAST(i // 10 AS BIGINT) AS row_band,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(v) AS BIGINT) AS val_sum
FROM newcells GROUP BY 1
"""


def q58_phash_neardup(spark, sf_dir):
    """Perceptual-hash image near-dup (the input_hint's phash column at
    corpus scale): 400 base images via the closed-form phash rule plus 100
    planted variants with three deterministic bit flips; pairs at
    hamming <= 4 through the banded pigeonhole blocking
    (dedup.hamming_near_pairs — recall-complete, degenerate-bucket
    guarded).  The oracle brute-forces all pairs with xor + bit_count:
    the scale path must reproduce the exhaustive answer exactly."""
    from karta_spark.operators.dedup import hamming_near_pairs
    base = spark.range(0, 500).select(
        F.col("id").alias("img_id"),
        ((F.col("id") % 400) * F.lit(2654435761) % F.lit(2 ** 32)
         + ((F.col("id") % 400) * F.lit(2246822519) % F.lit(2 ** 31))
         * F.lit(2 ** 32)).cast("long").alias("_ph0"))
    # python F.shiftleft only takes a literal shift — the SQL function
    # accepts expressions
    flips = F.expr(
        "shiftleft(1L, cast((img_id - 400) % 63 as int)) | "
        "shiftleft(1L, cast(((img_id - 400) * 7 + 11) % 63 as int)) | "
        "shiftleft(1L, cast(((img_id - 400) * 13 + 29) % 63 as int))")
    imgs = base.select(
        "img_id",
        F.when(F.col("img_id") >= 400,
               F.col("_ph0").bitwiseXOR(flips)).otherwise(F.col("_ph0"))
        .alias("phash"))
    return (hamming_near_pairs(imgs, "phash", "img_id", max_hamming=4)
            .select(F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"),
                    F.col("hamming").cast("long").alias("hamming")))


Q58_SQL = """
WITH base AS (
  SELECT i AS img_id,
         (i % 400) * 2654435761 % 4294967296
         + ((i % 400) * 2246822519 % 2147483648) * 4294967296 AS ph0
  FROM range(500) t(i)
), imgs AS (
  SELECT img_id,
         CASE WHEN img_id >= 400 THEN
           xor(ph0, (1::BIGINT << CAST((img_id - 400) % 63 AS INT))
                  | (1::BIGINT << CAST(((img_id - 400) * 7 + 11) % 63 AS INT))
                  | (1::BIGINT << CAST(((img_id - 400) * 13 + 29) % 63 AS INT)))
         ELSE ph0 END AS phash
  FROM base
)
SELECT CAST(a.img_id AS BIGINT) AS id_a, CAST(b.img_id AS BIGINT) AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM imgs a JOIN imgs b ON a.img_id < b.img_id
WHERE bit_count(xor(a.phash, b.phash)) <= 4
"""


def q51_decontaminate(spark, sf_dir):
    """Benchmark decontamination (training-pipeline op): documents sharing
    any word 5-gram with the held-out set (doc_id % 17 == 0 plays the
    benchmark) are flagged; output is every non-benchmark doc with its
    contamination flag.  Spark plan: distinct-gram explode both sides ->
    broadcast semi-join on the gram; the oracle recomputes the same gram
    sets with list slicing."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 17 == 0)
    corpus = d.where(F.col("doc_id") % 17 != 0)
    bad = text.contaminated_ids(corpus, bench, "text", "doc_id", n=5)
    return (corpus.join(bad.withColumnRenamed("id", "doc_id")
                        .withColumn("contaminated", F.lit(True)),
                        "doc_id", "left")
            .select("doc_id",
                    F.coalesce("contaminated", F.lit(False)).alias("contaminated")))


Q51_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), doc_g AS (
  SELECT DISTINCT doc_id, array_to_string(t[CAST(i AS INT):CAST(i+4 AS INT)], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
  WHERE doc_id % 17 <> 0 AND len(t) >= 5
), bench_g AS (
  SELECT DISTINCT array_to_string(t[CAST(i AS INT):CAST(i+4 AS INT)], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
  WHERE doc_id % 17 = 0 AND len(t) >= 5
), bad AS (
  SELECT DISTINCT doc_id FROM doc_g WHERE g IN (SELECT g FROM bench_g)
)
SELECT d.doc_id, (bad.doc_id IS NOT NULL) AS contaminated
FROM documents d LEFT JOIN bad ON d.doc_id = bad.doc_id
WHERE d.doc_id % 17 <> 0
"""


def q53_repetition_filter(spark, sf_dir):
    """Intra-document repetition (Gopher-style quality rule): fraction of
    word bigrams that repeat an earlier bigram in the same doc, plus the
    filter verdict at the 0.2 threshold — pure Catalyst; the oracle
    recomputes the bigram multiset with list slicing."""
    d = _t(spark, sf_dir, "documents")
    rr = text.repetition_ratio(F.col("text"), n=2)
    return d.select(
        "doc_id", F.round(rr, 6).alias("rep_ratio"),
        (rr <= 0.2).alias("keep"))


Q53_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), grams AS (
  SELECT doc_id,
         len(t) - 1 AS total,
         CASE WHEN len(t) < 2 THEN 0
              ELSE (SELECT count(DISTINCT array_to_string(
                        t[CAST(i AS INT):CAST(i+1 AS INT)], ' '))
                    FROM UNNEST(range(1, len(t))) AS u(i)) END AS n_distinct
  FROM toks
), ratio AS (
  SELECT doc_id,
         CASE WHEN total < 1 THEN 0.0
              ELSE 1.0 - CAST(n_distinct AS DOUBLE) / total END AS rr
  FROM grams
)
SELECT doc_id, round(rr, 6) AS rep_ratio, rr <= 0.2 AS keep FROM ratio
"""


def q52_cluster_representatives(spark, sf_dir):
    """Duplicate-cluster representative selection (training-pipeline op):
    after q17 near-dup pairs collapse to clusters (q42 machinery), keep
    ONE best copy per cluster — longest text, lowest doc_id on ties.  A
    single min_by hash aggregate over (-score, id); the oracle replays the
    recursive-CTE components and ranks with a window."""
    d = _t(spark, sf_dir, "documents")
    pairs = q17_ngram_jaccard(spark, sf_dir)
    out = dedup.cluster_representatives(
        d, pairs, "doc_id", F.length("text").cast("double"))
    return out.select("canonical_id", "rep_id", "n_members")


def _q52_sql():
    return f"""
WITH comp AS ({_q42_sql()}),
scored AS (
  SELECT c.canonical_id, c.doc_id, length(d.text) AS sc
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
), ranked AS (
  SELECT canonical_id, doc_id,
         row_number() OVER (PARTITION BY canonical_id
                            ORDER BY sc DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY canonical_id) AS n_members
  FROM scored
)
SELECT canonical_id, doc_id AS rep_id, CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""


def q46_tfidf_terms(spark, sf_dir):
    """Smoothed TF-IDF top-3 terms per document (keyword extraction, pure
    Catalyst — one (doc,term) shuffle + broadcast df table + per-doc window)."""
    d = _t(spark, sf_dir, "documents")
    return text.tfidf_top_terms(d, "text", "doc_id", k=3)


def q47_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling (training-mix balancing): keep 40
    docs per language stratum ranked by a seeded portable hash —
    reproducible across engines, cluster sizes and partition layouts."""
    d = _t(spark, sf_dir, "documents")
    return text.stratified_sample(d, ["lang"], "doc_id", cap=40)


# -- probabilistic sketches (ARCHITECTURE 7b) -------

def q21_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs — the operator bench.py times.  Its
    hashes are seeded int64 arithmetic the DuckDB oracle replays, so
    signatures, band buckets, candidates and Jaccard are all checked."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.minhash_lsh_pairs(
        d, "text", "doc_id", num_perm=64, bands=8, shingle=6, threshold=0.5,
        max_bucket=None)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q22_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs; signatures, band blocking and hamming are
    replayed by the DuckDB oracle."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.simhash_near_pairs(d, "text", "doc_id", max_hamming=8,
                                   max_bucket=None)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q23_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH ANN top-k; bucket assignment is exact integer
    arithmetic, so the oracle checks the approximate candidate set."""
    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding"))
    vectors = e.where(F.col("vec_id") >= 5)
    out = similarity.lsh_topk(vectors, queries, k=5, dim=64, nbits=4)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"),
                      F.col("rank").cast("long").alias("rank"))


def q24_image_decode(spark, sf_dir):
    """Multimodal decode path: synthesize the image table (deterministic),
    decode with the Arrow kernel, verify PSNR>=40dB AND caption byte-
    equality per row, count per format.

    Oracle-checked as an INVARIANT: fmt assignment is i % 3 over the 500
    synthesized ids, and the BASELINE contract says every row must verify —
    so the expected output is the full per-format census, which DuckDB
    states without decoding.  Any decode/PSNR/caption failure shrinks a
    count and fails the hash gate.  (The decode MATH is pinned separately
    by the codec roundtrip/PSNR pytest goldens.)"""
    imgs = images.synth_images(spark, 500, partitions=4)
    ok = images.verify_images(imgs).where(F.col("verified"))
    return (
        imgs.join(ok.select("image_id"), "image_id", "left_semi")
        .groupBy("fmt").agg(F.count("*").cast("long").alias("n_verified"))
    )


Q24_SQL = """
SELECT CASE i % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'jpeg' END AS fmt,
       CAST(count(*) AS BIGINT) AS n_verified
FROM range(500) t(i)
GROUP BY 1
"""


def q25_pip_join_full(spark, sf_dir):
    """Flagship cell-keyed PIP join on the star schema (per-polygon counts).
    Uses the full cover/refine machinery (not the dense-flag variant)."""
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    joined = pip_join.point_in_polygon_join(c, FLAGSHIP_POLYS, zoom=5)
    return joined.groupBy("poly_id").agg(F.count("*").alias("n_points"))


Q25_SQL = f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
), flags AS (
  SELECT 'heptagon' AS poly_id, {winding_sql(HEPTAGON, 'x', 'y')} AS contained FROM pts
  UNION ALL
  SELECT 'north_quad', {winding_sql(NORTH_QUAD, 'x', 'y')} FROM pts
  UNION ALL
  SELECT 'east_tri', {winding_sql(EAST_TRI, 'x', 'y')} FROM pts
)
SELECT poly_id, CAST(count(*) AS BIGINT) AS n_points FROM flags WHERE contained GROUP BY poly_id
"""


def q36_image_feature_buckets(spark, sf_dir):
    """Full multimodal chain, VALUE-ORACLE-checked: synthesize images ->
    decode (real Arrow batch kernels) -> pooled embeddings -> portable
    (Rademacher, floor-quantized) hyperplane LSH buckets -> bucket census.

    Oracle-exact because every stage is integer-reproducible: the pixel
    synthesis is a SQL-expressible hash (pixels_for_phash), lossless
    formats decode bit-exactly, the 4x4 nearest-resize sample grid is
    closed-form (rows/cols {2,6,10,14}), and the portable bucket uses
    exact integer arithmetic (similarity.portable_bucket_expr).  DuckDB
    regenerates the bytes from (i -> phash -> pixel hash) and must land
    every image in the same bucket; any decode/pooling/batching bug moves
    a row.  JPEG rows are excluded here (lossy decode has no SQL twin) —
    they are invariant-checked by q24."""
    from karta_spark.sources import multimodal
    from karta_spark.operators import similarity as sim
    imgs = images.synth_images(spark, 400, partitions=4).where(F.col("fmt") != "jpeg")
    feats = multimodal.image_features(imgs, pool=4)
    bucketed = feats.withColumn(
        "lsh_bucket", sim.portable_bucket_expr("embedding", dim=48, nbits=4))
    return bucketed.groupBy("lsh_bucket").agg(
        F.count("*").cast("long").alias("n_images"))


def _q36_sql():
    from karta_spark.operators.similarity import _rademacher_planes
    from karta_spark.sources.images import pixel_hash_sql
    planes = _rademacher_planes(48, 4, seed=7)
    bits = []
    for r in planes:
        lit = "[" + ", ".join(f"{float(c):.1f}" for c in r) + "]::DOUBLE[]"
        bits.append(f"(CASE WHEN list_dot_product(sv, {lit}) > 0"
                    " THEN '1' ELSE '0' END)")
    bucket = "||".join(bits)
    # embedding component m samples pixel (y=4*(m//12)+2, x=4*((m//3)%4)+2,
    # c=m%3) of the 16x16x3 image -> flat byte index y*48 + x*3 + c
    return f"""
WITH ids AS (
  SELECT CAST(i AS BIGINT) AS i FROM range(400) t(i) WHERE i % 3 != 2
), ph AS (
  SELECT i, (i * 2654435761) % 4294967296
           + ((i * 2246822519) % 2147483648) * 4294967296 AS phash
  FROM ids
), comp AS (
  SELECT i, phash, CAST(m AS BIGINT) AS m,
         (4*(m//12)+2)*48 + (4*((m//3)%4)+2)*3 + (m%3) AS idx
  FROM ph, range(48) t(m)
), bytes AS (
  SELECT i, m, {pixel_hash_sql('phash', 'idx')} AS b FROM comp
), quant AS (
  SELECT i, m, floor(CAST(CAST(b / 255.0 AS REAL) AS DOUBLE) * 1048576) AS s
  FROM bytes
), vecs AS (
  SELECT i, list(s ORDER BY m) AS sv FROM quant GROUP BY i
), buckets AS (
  SELECT i, {bucket} AS lsh_bucket FROM vecs
)
SELECT lsh_bucket, CAST(count(*) AS BIGINT) AS n_images
FROM buckets GROUP BY lsh_bucket
"""


def q59_jpeg_modes_census(spark, sf_dir):
    """4:2:0 / 4:2:2 / restart-interval JPEG decode census (round 4):
    synthesize the photo-like corpus cycling all nine (subsampling,
    restart, progressive) modes the codec supports — incl. progressive
    SOF2 in both spectral-selection and successive-approximation forms —
    decode every stream with the from-scratch decoder, verify the
    BASELINE lossy invariant (PSNR >= 40 dB vs the closed-form
    regenerated reference) per row.

    Oracle-checked as an INVARIANT like q24: mode assignment is i % 9
    over 300 ids and every row must verify, so DuckDB states the full
    per-mode census without decoding; any subsampling/restart/placement
    bug drops a row from its count and fails the hash gate.  (The decode
    MATH is pinned separately by the hand-built bit-level 4:2:0 fixture
    in tests/test_jpeg.py.)"""
    photos = images.synth_photo_jpegs(spark, 300, partitions=4)
    ok = images.verify_photo_jpegs(photos).where(F.col("verified"))
    return ok.groupBy("mode").agg(
        F.count("*").cast("long").alias("n_verified"))


Q59_SQL = """
SELECT CASE i % 9 WHEN 0 THEN '444_r0' WHEN 1 THEN '422_r0'
                  WHEN 2 THEN '420_r0' WHEN 3 THEN '444_r2'
                  WHEN 4 THEN '422_r2' WHEN 5 THEN '420_r2'
                  WHEN 6 THEN '444_prog_ss' WHEN 7 THEN '420_prog_sa'
                  ELSE '422_prog_sa' END AS mode,
       CAST(count(*) AS BIGINT) AS n_verified
FROM range(300) t(i)
GROUP BY 1
"""


def q60_geotiff_window_census(spark, sf_dir):
    """Lazy tiled-GeoTIFF scan census (round 4): synthesize a
    closed-form grid, write it as a TILED + LZW GeoTIFF (tags 322-325),
    re-read it with the DISTRIBUTED lazy scan (driver parses only the
    IFD; every executor task seeks to exactly the tile byte ranges its
    halo'd output tiles need — geotiff.TiffMeta.read_window), explode to
    cells and census three windows.

    Value-oracle-exact because the content is integer closed-form
    ((i*31 + j*17) % 97 as uint8): DuckDB regenerates every cell from
    the formula, so any tile-placement / LZW / predictor / edge-padding
    / halo bug in the lazy read path moves a sum and fails the hash
    gate."""
    import os
    import tempfile
    from karta_spark.raster.tiles import grid_to_df, tile_cells
    from karta_spark.sources import geotiff
    ny, nx = 120, 90
    ii, jj = np.mgrid[0:ny, 0:nx]
    Z = ((ii * 31 + jj * 17) % 97).astype(np.float64)
    path = os.path.join(tempfile.gettempdir(), "karta_q60_lazy.tif")
    tiles = grid_to_df(spark, "q60", Z, (0.0, 0.0, 1.0, 1.0, 0.0, 0.0),
                       tile=32)
    geotiff.write_geotiff(path, tiles, dtype=np.uint8, compress="lzw",
                          tiled=16)
    cells_df = tile_cells(
        geotiff.read_geotiff_distributed(spark, path, tile=32))
    i = F.col("cell_i")
    j = F.col("cell_j")
    w1 = cells_df.where((i >= 10) & (i < 40) & (j >= 5) & (j < 50)) \
                 .withColumn("win", F.lit("w1"))
    w2 = cells_df.where((i >= 100) & (j >= 60)).withColumn("win", F.lit("w2"))
    wf = cells_df.withColumn("win", F.lit("full"))
    v = F.col("value").cast("long")
    return (w1.unionByName(w2).unionByName(wf)
            .groupBy("win")
            .agg(F.count("*").cast("long").alias("n_cells"),
                 F.sum(v).alias("sum_v"),
                 F.min(v).alias("min_v"),
                 F.max(v).alias("max_v")))


Q60_SQL = """
WITH g AS (
  SELECT i, j, (i*31 + j*17) % 97 AS v
  FROM range(120) t(i), range(90) s(j)
), w AS (
  SELECT 'w1' AS win, v FROM g WHERE i >= 10 AND i < 40 AND j >= 5 AND j < 50
  UNION ALL SELECT 'w2', v FROM g WHERE i >= 100 AND j >= 60
  UNION ALL SELECT 'full', v FROM g
)
SELECT win, CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(v) AS BIGINT) AS sum_v,
       CAST(min(v) AS BIGINT) AS min_v, CAST(max(v) AS BIGINT) AS max_v
FROM w GROUP BY win
"""


def q61_sequence_packing(spark, sf_dir):
    """GPT-style sequence packing census (round 4): shard the documents
    table (portable id%16 shard), concatenate each shard's whitespace
    token stream in id order, slice into fixed 512-token training
    sequences (text.pack_token_spans — window cumsum partitioned by
    shard, no global window), then census per shard: docs, total
    tokens, sequences produced, boundary-spanning docs.

    Value-oracle-exact: pure integer window algebra, identical in
    DuckDB (pack_token_spans_sql)."""
    d = _t(spark, sf_dir, "documents")
    spans = text.pack_token_spans(
        d, text.token_count(F.col("text")), id_col="doc_id",
        budget=512, shards=16, shard_by="mod")
    return (spans.groupBy("shard")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.col("tok_end") - F.col("tok_start")).alias("n_tokens"),
                 (F.max("seq_last") + 1).alias("n_seqs"),
                 F.sum(F.when(F.col("n_seqs_spanned") > 1, 1)
                       .otherwise(0)).cast("long").alias("n_spanning")))


def _q61_sql():
    from karta_spark.operators.text import pack_token_spans_sql
    tok = ("CASE WHEN len(trim(text)) = 0 THEN 0 "
           "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END")
    inner = pack_token_spans_sql("documents", tok, "doc_id",
                                 budget=512, shards=16)
    return f"""
WITH spans AS ({inner})
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok_end - tok_start) AS BIGINT) AS n_tokens,
       CAST(max(seq_last) + 1 AS BIGINT) AS n_seqs,
       CAST(sum(CASE WHEN n_seqs_spanned > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_spanning
FROM spans GROUP BY shard
"""


def q62_token_budget_mixture(spark, sf_dir):
    """Dataset-mixture primitive (round 4): per-source 'take documents
    until the token budget' with deterministic portable-hash priority
    (text.token_budget_sample — two-pass bucketed plan: whole hash-range
    buckets below each source's boundary are kept windowless, only the
    boundary bucket runs the exact running-total window).  Census per
    source: docs kept + tokens kept.

    Value-oracle-exact: the DuckDB twin is the plain per-source window
    cumsum over the SAME seeded affine hash order — any bucket-boundary
    or hash-order bug moves a count."""
    d = _t(spark, sf_dir, "documents")
    kept = text.token_budget_sample(
        d, "source", text.token_count(F.col("text")), budgets=600,
        id_col="doc_id", seed=13, n_buckets=64)
    return (kept.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens")))


def _q62_sql():
    from karta_spark.operators.text import token_budget_sample_sql
    tok = ("CASE WHEN len(trim(text)) = 0 THEN 0 "
           "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END")
    inner = token_budget_sample_sql("documents", "source", tok, 600,
                                    "doc_id", seed=13)
    return f"""
WITH kept AS ({inner})
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM kept GROUP BY source
"""


def q63_jpeg_tiff_census(spark, sf_dir):
    """JPEG-in-TIFF chain census (round 4): synthesize a smooth
    closed-form grid, write it as a TILED compression-7 GeoTIFF (each
    tile an independent JPEG stream from the from-scratch encoder),
    re-read through the DISTRIBUTED lazy scan (per-task byte-range
    seeks + per-tile JPEG decode), explode to cells and verify every
    cell lands within a tolerance of the regenerated reference (16
    gray levels — far above the q95 smooth-content JPEG error, far
    below any tile-placement/codec failure).

    Oracle-checked as an INVARIANT: DuckDB states the full census
    (3072 cells, all within tolerance); any JPEG-chunk, JPEGTables,
    tile-order or edge-padding bug moves n_ok and fails the gate."""
    import os
    import tempfile
    from karta_spark.raster.tiles import grid_to_df, tile_cells
    from karta_spark.sources import geotiff
    ny, nx = 48, 64
    ii, jj = np.mgrid[0:ny, 0:nx]
    Z = np.floor(128.0 + 60.0 * np.sin(jj / 7.0) * np.cos(ii / 9.0))
    path = os.path.join(tempfile.gettempdir(), "karta_q63_jpegtiff.tif")
    tiles = grid_to_df(spark, "q63", Z, (0.0, 0.0, 1.0, 1.0, 0.0, 0.0),
                       tile=32)
    geotiff.write_geotiff(path, tiles, dtype=np.uint8, compress="jpeg",
                          tiled=16)
    cells_df = tile_cells(
        geotiff.read_geotiff_distributed(spark, path, tile=32))
    want = F.floor(128.0 + 60.0 * F.sin(F.col("cell_j") / 7.0)
                   * F.cos(F.col("cell_i") / 9.0))
    ok = F.abs(F.col("value") - want) <= 16
    return cells_df.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum(ok.cast("long")).alias("n_ok"))


Q63_SQL = """
SELECT CAST(48 * 64 AS BIGINT) AS n_cells, CAST(48 * 64 AS BIGINT) AS n_ok
"""


def q64_pii_redaction(spark, sf_dir):
    """PII scrub census (round 4): plant deterministic emails (docs with
    doc_id%3==0) and phone numbers (%3==1) into the documents text, run
    text.redact_pii (portable RE2-safe regex chain, pure Catalyst), and
    census per plant-class: docs, characters removed, docs fully clean
    after the scrub.

    Value-oracle-exact: DuckDB constructs the identical strings (concat/
    lpad) and runs the IDENTICAL patterns through regexp_replace, so any
    pattern/semantics divergence between the engines moves a count."""
    d = _t(spark, sf_dir, "documents")
    i3 = F.pmod(F.col("doc_id"), F.lit(3))
    planted = (
        F.when(i3 == 0, F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@example.com")))
        .when(i3 == 1, F.concat(
            F.col("text"), F.lit(" call 555-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(1000)).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0")))
        .otherwise(F.col("text")))
    red = text.redact_pii(planted)
    still = (red.rlike(text.PII_EMAIL) | red.rlike(text.PII_PHONE)
             | red.rlike(text.PII_IPV4))
    return (d.select(i3.cast("long").alias("plant"),
                     (F.length(planted) - F.length(red)).alias("_rm"),
                     (~still).cast("long").alias("_clean"))
            .groupBy("plant")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("_rm").cast("long").alias("chars_removed"),
                 F.sum("_clean").alias("n_clean")))


def _q64_sql():
    from karta_spark.operators.text import (
        PII_EMAIL, PII_IPV4, PII_PHONE, pii_redact_sql)
    planted = ("""CASE doc_id % 3
      WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com'
      WHEN 1 THEN text || ' call 555-'
                  || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      ELSE text END""")
    red = pii_redact_sql("planted")
    still = (f"(regexp_matches(red, '{PII_EMAIL}') OR "
             f"regexp_matches(red, '{PII_PHONE}') OR "
             f"regexp_matches(red, '{PII_IPV4}'))")
    return f"""
WITH p AS (
  SELECT doc_id % 3 AS plant, {planted} AS planted FROM documents
), r AS (
  SELECT plant, planted, {red} AS red FROM p
)
SELECT CAST(plant AS BIGINT) AS plant, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(planted) - length(red)) AS BIGINT) AS chars_removed,
       CAST(sum(CASE WHEN NOT {still} THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
FROM r GROUP BY plant
"""


def q65_lcc_stateplane(spark, sf_dir):
    """Lambert conformal conic reprojection (round 5): CONUS customers
    forward-projected through Snyder's 15.1 test conic (Clarke 1866,
    lat1=33 lat2=45 lat0=23 lon0=-96 — the State-Plane-era NAD27 setup)
    plus an inverse roundtrip as a boolean tolerance (q38 lesson: never
    round an error at its own noise floor).  The reference reaches lcc
    through arbitrary proj.4 strings (reference crs.py:248-306); here it
    is native triple-backend column math, so the DuckDB twin runs the
    textually identical algebra."""
    from karta_spark.functions import crs as kcrs
    conic = kcrs.lcc(33, 45, 23, -96, ellps="clrk66")
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    z = c.where((F.col("x") > -125) & (F.col("x") < -66)
                & (F.col("y") > 24) & (F.col("y") < 49))
    ex, ny = kcrs.forward_exprs(conic, F.col("x"), F.col("y"))
    z = z.withColumn("px", ex).withColumn("py", ny)
    lon2, lat2 = kcrs.inverse_exprs(conic, F.col("px"), F.col("py"))
    rt_ok = (F.abs(lon2 - F.col("x")) < 1e-7) & \
        (F.abs(lat2 - F.col("y")) < 1e-7)
    return z.select(
        "c_custkey",
        F.round(F.col("px"), 4).alias("sp_x"),
        F.round(F.col("py"), 4).alias("sp_y"),
        rt_ok.alias("rt_ok"))


def _q65_sql():
    from karta_spark.functions import crs as kcrs
    conic = kcrs.lcc(33, 45, 23, -96, ellps="clrk66")
    xs, ys = kcrs.forward_sql(conic, "x", "y")
    lo, la = kcrs.inverse_sql(conic, "px", "py")
    return f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
), zone AS (
  SELECT * FROM pts WHERE x > -125 AND x < -66 AND y > 24 AND y < 49
), proj AS (
  SELECT c_custkey, x, y, {xs} AS px, {ys} AS py FROM zone
)
SELECT c_custkey, round(px, 4) AS sp_x, round(py, 4) AS sp_y,
       (abs({lo} - x) < 1e-7 AND abs({la} - y) < 1e-7) AS rt_ok
FROM proj
"""


def q66_repeated_spans(spark, sf_dir):
    """Exact repeated-substring spans (round 5): per document, positions
    and distinct characters covered by 20-grams that recur in >= 2
    distinct documents — the substring-level dedup signal (clip/drop
    duplicated spans in training corpora).  Gram extraction map-side,
    doc-frequency one hash agg, flag-back an equi-join, coverage a
    per-doc lag window; the hashed=True variant (xxhash64 keys) is the
    100 TB plan, the oracle runs the unhashed twin."""
    d = _t(spark, sf_dir, "documents")
    # hashed=False: the library default (xxhash64 keys, the 100 TB
    # plan) gives identical results, but the gate runs the raw-gram
    # plan so the DuckDB twin is textually identical
    return text.repeated_spans(d, "text", "doc_id", L=20, min_docs=2,
                               hashed=False)


def _q66_sql():
    return text.repeated_spans_sql("documents", "text", "doc_id",
                                   L=20, min_docs=2)


def q67_modis_tiles(spark, sf_dir):
    """MODIS sinusoidal land-grid tile assignment (round 5): customers
    binned into the 36x18 hNNvNN grid through the sinusoidal forward on
    the published grid sphere (R=6371007.181) — the same
    project-then-integer-grid family as the flagship's Web-Mercator tile
    assign, on the second real-world tiling.  Pure Catalyst; the DuckDB
    twin runs the textually identical sinusoidal algebra."""
    from karta_spark.functions.cells import modis_tile
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    h, v = modis_tile(F.col("x"), F.col("y"))
    return (c.select(h.alias("h"), v.alias("v"))
            .groupBy("h", "v")
            .agg(F.count("*").cast("long").alias("n_customers"))
            .where(F.col("n_customers") > 0))


def _q67_sql():
    from karta_spark.functions.cells import modis_tile_sql
    hs, vs = modis_tile_sql("x", "y")
    return f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
)
SELECT {hs} AS h, {vs} AS v, CAST(count(*) AS BIGINT) AS n_customers
FROM pts GROUP BY 1, 2
"""


def q68_world_mercator(spark, sf_dir):
    """TRUE ellipsoidal Mercator reprojection (round 6): customers
    forward-projected to WGS 84 / World Mercator (EPSG:3395, method
    9804 — Snyder 7-7 via atanh, conformal-latitude series inverse),
    with an inverse roundtrip as a boolean tolerance.  Distinct from
    q37's spherical Web Mercator (EPSG:3857) — the two diverge by up to
    ~0.7% in northing.  The reference reaches EPSG:3395 through
    arbitrary proj.4 strings (reference crs.py:248-306); here it is
    native triple-backend column math, so the DuckDB twin runs the
    textually identical algebra."""
    from karta_spark.functions import crs as kcrs
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    z = c.where((F.col("y") > -80) & (F.col("y") < 84))
    ex, ny = kcrs.forward_exprs(kcrs.WORLD_MERCATOR,
                                F.col("x"), F.col("y"))
    z = z.withColumn("px", ex).withColumn("py", ny)
    lon2, lat2 = kcrs.inverse_exprs(kcrs.WORLD_MERCATOR,
                                    F.col("px"), F.col("py"))
    rt_ok = (F.abs(lon2 - F.col("x")) < 1e-7) & \
        (F.abs(lat2 - F.col("y")) < 1e-7)
    return z.select(
        "c_custkey",
        F.round(F.col("px"), 4).alias("wm_x"),
        F.round(F.col("py"), 4).alias("wm_y"),
        rt_ok.alias("rt_ok"))


def _q68_sql():
    from karta_spark.functions import crs as kcrs
    xs, ys = kcrs.forward_sql(kcrs.WORLD_MERCATOR, "x", "y")
    lo, la = kcrs.inverse_sql(kcrs.WORLD_MERCATOR, "px", "py")
    return f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
), zone AS (
  SELECT * FROM pts WHERE y > -80 AND y < 84
), proj AS (
  SELECT c_custkey, x, y, {xs} AS px, {ys} AS py FROM zone
)
SELECT c_custkey, round(px, 4) AS wm_x, round(py, 4) AS wm_y,
       (abs({lo} - x) < 1e-7 AND abs({la} - y) < 1e-7) AS rt_ok
FROM proj
"""


def q69_clip_repeated_spans(spark, sf_dir):
    """Exact-substring dedup CLIP output (round 6): every document with
    its cross-document repeated 20-gram spans physically removed —
    (id, clean_text, removed_chars), clean docs byte-identical.  The
    Spark plan merges flagged positions into [start, end] intervals
    (per-doc lag window + running group sum) and cuts them with one
    Catalyst aggregate fold; the DuckDB twin is an INDEPENDENT
    per-character covered-set anti-join + ordered string_agg, so the
    value hash crosses two different formulations."""
    d = _t(spark, sf_dir, "documents")
    return text.clip_repeated_spans(d, "text", "doc_id", L=20,
                                    min_docs=2, hashed=False)


def _q69_sql():
    return text.clip_repeated_spans_sql("documents", "text", "doc_id",
                                        L=20, min_docs=2)


def q70_aeqd_range_rings(spark, sf_dir):
    """Azimuthal equidistant range-ring analysis (round 6): customers
    within the Guam grid's regional window projected through the EPSG
    9832 Modified Azimuthal Equidistant (aeqd on the WGS84 ellipsoid,
    origin 13.5N 144.75E), bucketed into 50 km range rings — the
    canonical aeqd workload (distance-true from the center), plus an
    inverse roundtrip as a boolean tolerance.  The reference reaches
    aeqd through arbitrary proj.4 strings (reference crs.py:248-306);
    here it is native triple-backend column math, so the DuckDB twin
    runs the textually identical algebra.  The rt tolerance is 1e-4 deg
    (~11 m): the truncated 9832 inverse is consistent with the forward
    series to that level at the window's ~1650 km corner (mm inside the
    actual Guam grid)."""
    from karta_spark.functions import crs as kcrs
    grid = kcrs.aeqd(13.5, 144.75)
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    z = c.where((F.col("x") > 129.75) & (F.col("x") < 159.75)
                & (F.col("y") > -1.5) & (F.col("y") < 28.5))
    ex, ny = kcrs.forward_exprs(grid, F.col("x"), F.col("y"))
    z = z.withColumn("px", ex).withColumn("py", ny)
    lon2, lat2 = kcrs.inverse_exprs(grid, F.col("px"), F.col("py"))
    rt_ok = (F.abs(lon2 - F.col("x")) < 1e-4) & \
        (F.abs(lat2 - F.col("y")) < 1e-4)
    ring = F.floor(F.sqrt(F.col("px") * F.col("px")
                          + F.col("py") * F.col("py")) / 50000.0)
    return z.select(
        "c_custkey",
        F.round(F.col("px"), 4).alias("ae_x"),
        F.round(F.col("py"), 4).alias("ae_y"),
        ring.cast("long").alias("ring_50km"),
        rt_ok.alias("rt_ok"))


def _q70_sql():
    from karta_spark.functions import crs as kcrs
    grid = kcrs.aeqd(13.5, 144.75)
    xs, ys = kcrs.forward_sql(grid, "x", "y")
    lo, la = kcrs.inverse_sql(grid, "px", "py")
    return f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
), zone AS (
  SELECT * FROM pts
  WHERE x > 129.75 AND x < 159.75 AND y > -1.5 AND y < 28.5
), proj AS (
  SELECT c_custkey, x, y, {xs} AS px, {ys} AS py FROM zone
)
SELECT c_custkey, round(px, 4) AS ae_x, round(py, 4) AS ae_y,
       CAST(floor(sqrt(px * px + py * py) / 50000.0) AS BIGINT)
         AS ring_50km,
       (abs({lo} - x) < 1e-4 AND abs({la} - y) < 1e-4) AS rt_ok
FROM proj
"""


def q72_etrs89_laea_grid(spark, sf_dir):
    """ETRS89-LAEA Europe (EPSG:3035) INSPIRE-grid assignment (round 6):
    customers inside the European window projected through the oblique-
    aspect ellipsoidal LAEA (EPSG method 9820, lat_0=52 lon_0=10 on
    GRS80 — the EU statistical grid CRS the registry rejected until
    this round), assigned to their 100 km INSPIRE grid cell, plus an
    inverse roundtrip as a boolean tolerance.  The reference reaches
    oblique laea through arbitrary proj.4 strings (reference
    crs.py:248-306); here it is native triple-backend column math, so
    the DuckDB twin runs the textually identical algebra.  Validated
    externally against the EPSG Guidance Note 7-2 worked example
    (tests/test_round6_fixes.py::TestObliqueLaea)."""
    from karta_spark.functions import crs as kcrs
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    z = c.where((F.col("x") > -10.0) & (F.col("x") < 40.0)
                & (F.col("y") > 35.0) & (F.col("y") < 70.0))
    ex, ny = kcrs.forward_exprs(kcrs.ETRS89_LAEA, F.col("x"), F.col("y"))
    z = z.withColumn("px", ex).withColumn("py", ny)
    lon2, lat2 = kcrs.inverse_exprs(kcrs.ETRS89_LAEA,
                                    F.col("px"), F.col("py"))
    rt_ok = (F.abs(lon2 - F.col("x")) < 1e-6) & \
        (F.abs(lat2 - F.col("y")) < 1e-6)
    return z.select(
        "c_custkey",
        F.round(F.col("px"), 2).alias("e3035"),
        F.round(F.col("py"), 2).alias("n3035"),
        F.floor(F.col("px") / 100000.0).cast("long").alias("cell_e"),
        F.floor(F.col("py") / 100000.0).cast("long").alias("cell_n"),
        rt_ok.alias("rt_ok"))


def _q72_sql():
    from karta_spark.functions import crs as kcrs
    xs, ys = kcrs.forward_sql(kcrs.ETRS89_LAEA, "x", "y")
    lo, la = kcrs.inverse_sql(kcrs.ETRS89_LAEA, "px", "py")
    return f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y
  FROM customer
), zone AS (
  SELECT * FROM pts
  WHERE x > -10.0 AND x < 40.0 AND y > 35.0 AND y < 70.0
), proj AS (
  SELECT c_custkey, x, y, {xs} AS px, {ys} AS py FROM zone
)
SELECT c_custkey, round(px, 2) AS e3035, round(py, 2) AS n3035,
       CAST(floor(px / 100000.0) AS BIGINT) AS cell_e,
       CAST(floor(py / 100000.0) AS BIGINT) AS cell_n,
       (abs({lo} - x) < 1e-6 AND abs({la} - y) < 1e-6) AS rt_ok
FROM proj
"""


def q73_rso_borneo(spark, sf_dir):
    """Rectified Skew Orthomorphic grid assignment (round 6): customers
    in the southeast-Asia window projected through the general Hotine oblique
    Mercator (EPSG method 9815 variant B — Timbalai 1948 / RSO Borneo,
    azimuth 53.3158 deg on Everest 1830), the rectified-skew grid
    family (Malaysia, Alaska zone 1) the registry rejected until this
    round; 50 km skew-grid cells plus an inverse-roundtrip boolean.
    The reference reaches omerc via arbitrary proj.4 strings
    (reference crs.py:248-306); here the forward+inverse are native
    triple-backend column math, so the DuckDB twin runs the textually
    identical algebra.  Externally pinned by the EPSG GN 7-2 Timbalai
    worked example and mm-agreement with the swisstopo-pinned somerc
    arm (tests/test_round6_fixes.py::TestHotineObliqueMercator)."""
    from karta_spark.functions import crs as kcrs
    grid = kcrs.from_proj4(
        "+proj=omerc +lat_0=4 +lonc=115 +alpha=53.31582047222222 "
        "+gamma=53.130102361111114 +k_0=0.99984 +x_0=590476.87 "
        "+y_0=442857.65 +a=6377298.556 +rf=300.8017")
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    z = c.where((F.col("x") > 95.0) & (F.col("x") < 135.0)
                & (F.col("y") > -12.0) & (F.col("y") < 18.0))
    ex, ny = kcrs.forward_exprs(grid, F.col("x"), F.col("y"))
    z = z.withColumn("px", ex).withColumn("py", ny)
    lon2, lat2 = kcrs.inverse_exprs(grid, F.col("px"), F.col("py"))
    rt_ok = (F.abs(lon2 - F.col("x")) < 1e-6) & \
        (F.abs(lat2 - F.col("y")) < 1e-6)
    return z.select(
        "c_custkey",
        F.round(F.col("px"), 2).alias("rso_e"),
        F.round(F.col("py"), 2).alias("rso_n"),
        F.floor(F.col("px") / 50000.0).cast("long").alias("cell_e"),
        F.floor(F.col("py") / 50000.0).cast("long").alias("cell_n"),
        rt_ok.alias("rt_ok"))


def _q73_sql():
    from karta_spark.functions import crs as kcrs
    grid = kcrs.from_proj4(
        "+proj=omerc +lat_0=4 +lonc=115 +alpha=53.31582047222222 "
        "+gamma=53.130102361111114 +k_0=0.99984 +x_0=590476.87 "
        "+y_0=442857.65 +a=6377298.556 +rf=300.8017")
    xs, ys = kcrs.forward_sql(grid, "x", "y")
    lo, la = kcrs.inverse_sql(grid, "px", "py")
    return f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y
  FROM customer
), zone AS (
  SELECT * FROM pts
  WHERE x > 95.0 AND x < 135.0 AND y > -12.0 AND y < 18.0
), proj AS (
  SELECT c_custkey, x, y, {xs} AS px, {ys} AS py FROM zone
)
SELECT c_custkey, round(px, 2) AS rso_e, round(py, 2) AS rso_n,
       CAST(floor(px / 50000.0) AS BIGINT) AS cell_e,
       CAST(floor(py / 50000.0) AS BIGINT) AS cell_n,
       (abs({lo} - x) < 1e-6 AND abs({la} - y) < 1e-6) AS rt_ok
FROM proj
"""


def q74_rd_new_grid(spark, sf_dir):
    """Amersfoort / RD New (EPSG:28992) grid assignment (round 6):
    customers in the northwest-Europe window projected through the oblique
    stereographic double projection (EPSG method 9809, +proj=sterea on
    Bessel 1841 — the Dutch national grid the registry rejected until
    this round), assigned to 10 km RD cells, plus an inverse-roundtrip
    boolean.  The reference reaches sterea via arbitrary proj.4 strings
    (reference crs.py:248-306); here forward+inverse are native
    triple-backend column math, so the DuckDB twin runs the textually
    identical algebra.  Externally pinned by the EPSG GN 7-2 worked
    example (tests/test_round6_fixes.py::TestObliqueStereographic)."""
    from karta_spark.functions import crs as kcrs
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    z = c.where((F.col("x") > -10.0) & (F.col("x") < 20.0)
                & (F.col("y") > 40.0) & (F.col("y") < 62.0))
    ex, ny = kcrs.forward_exprs(kcrs.RD_NEW, F.col("x"), F.col("y"))
    z = z.withColumn("px", ex).withColumn("py", ny)
    lon2, lat2 = kcrs.inverse_exprs(kcrs.RD_NEW, F.col("px"), F.col("py"))
    rt_ok = (F.abs(lon2 - F.col("x")) < 1e-6) & \
        (F.abs(lat2 - F.col("y")) < 1e-6)
    return z.select(
        "c_custkey",
        F.round(F.col("px"), 2).alias("rd_e"),
        F.round(F.col("py"), 2).alias("rd_n"),
        F.floor(F.col("px") / 10000.0).cast("long").alias("cell_e"),
        F.floor(F.col("py") / 10000.0).cast("long").alias("cell_n"),
        rt_ok.alias("rt_ok"))


def _q74_sql():
    from karta_spark.functions import crs as kcrs
    xs, ys = kcrs.forward_sql(kcrs.RD_NEW, "x", "y")
    lo, la = kcrs.inverse_sql(kcrs.RD_NEW, "px", "py")
    return f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y
  FROM customer
), zone AS (
  SELECT * FROM pts
  WHERE x > -10.0 AND x < 20.0 AND y > 40.0 AND y < 62.0
), proj AS (
  SELECT c_custkey, x, y, {xs} AS px, {ys} AS py FROM zone
)
SELECT c_custkey, round(px, 2) AS rd_e, round(py, 2) AS rd_n,
       CAST(floor(px / 10000.0) AS BIGINT) AS cell_e,
       CAST(floor(py / 10000.0) AS BIGINT) AS cell_n,
       (abs({lo} - x) < 1e-6 AND abs({la} - y) < 1e-6) AS rt_ok
FROM proj
"""


def q75_krovak_sjtsk(spark, sf_dir):
    """S-JTSK / Krovak East North (EPSG:5514) grid assignment
    (round 6): customers in the central-Europe window projected through
    the Krovak oblique conformal conic (EPSG method 9819 on Bessel 1841
    — the Czech/Slovak national grid), assigned to 25 km cells, plus an
    inverse-roundtrip boolean.  The reference reaches krovak via
    arbitrary proj.4 strings (reference crs.py:248-306); here
    forward+inverse are native triple-backend column math, so the
    DuckDB twin runs the textually identical algebra.  Externally
    pinned by the EPSG GN 7-2 worked example
    (tests/test_round6_fixes.py::TestKrovak)."""
    from karta_spark.functions import crs as kcrs
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    z = c.where((F.col("x") > 5.0) & (F.col("x") < 30.0)
                & (F.col("y") > 44.0) & (F.col("y") < 56.0))
    ex, ny = kcrs.forward_exprs(kcrs.S_JTSK, F.col("x"), F.col("y"))
    z = z.withColumn("px", ex).withColumn("py", ny)
    lon2, lat2 = kcrs.inverse_exprs(kcrs.S_JTSK, F.col("px"), F.col("py"))
    rt_ok = (F.abs(lon2 - F.col("x")) < 1e-6) & \
        (F.abs(lat2 - F.col("y")) < 1e-6)
    return z.select(
        "c_custkey",
        F.round(F.col("px"), 2).alias("sjtsk_x"),
        F.round(F.col("py"), 2).alias("sjtsk_y"),
        F.floor(F.col("px") / 25000.0).cast("long").alias("cell_x"),
        F.floor(F.col("py") / 25000.0).cast("long").alias("cell_y"),
        rt_ok.alias("rt_ok"))


def _q75_sql():
    from karta_spark.functions import crs as kcrs
    xs, ys = kcrs.forward_sql(kcrs.S_JTSK, "x", "y")
    lo, la = kcrs.inverse_sql(kcrs.S_JTSK, "px", "py")
    return f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y
  FROM customer
), zone AS (
  SELECT * FROM pts
  WHERE x > 5.0 AND x < 30.0 AND y > 44.0 AND y < 56.0
), proj AS (
  SELECT c_custkey, x, y, {xs} AS px, {ys} AS py FROM zone
)
SELECT c_custkey, round(px, 2) AS sjtsk_x, round(py, 2) AS sjtsk_y,
       CAST(floor(px / 25000.0) AS BIGINT) AS cell_x,
       CAST(floor(py / 25000.0) AS BIGINT) AS cell_y,
       (abs({lo} - x) < 1e-6 AND abs({la} - y) < 1e-6) AS rt_ok
FROM proj
"""


def q76_url_canonical_dedup(spark, sf_dir):
    """URL canonicalization dedup census (round 6): plant four
    deterministic variants of each base URL over the documents table
    (scheme/host case, default :443 port, trailing + duplicate
    slashes, utm_*/fbclid tracking params, fragments), canonicalize
    with text.canonical_url (pure Catalyst: regexp components +
    filter/array_sort HOFs — the standard web-corpus dedup key), and
    verify EVERY row lands on its expected base plus the dup-group
    census.  DuckDB runs the step-identical SQL chain
    (canonical_url_sql), so any normalization divergence between
    engines moves n_match or n_canon and fails the hash gate."""
    from karta_spark.operators import text as T
    d = _t(spark, sf_dir, "documents")
    g = (F.col("doc_id") / 4).cast("long")
    v = F.pmod(F.col("doc_id"), F.lit(4))
    gs = g.cast("string")
    url = (
        F.when(v == 0, F.concat(F.lit("https://site"), gs,
                                F.lit(".example.com/p/q?id="), gs))
        .when(v == 1, F.concat(F.lit("HTTPS://SITE"), gs,
                               F.lit(".EXAMPLE.COM:443/p/q/?id="), gs))
        .when(v == 2, F.concat(F.lit("https://site"), gs,
                               F.lit(".example.com/p//q?utm_source=feed&id="),
                               gs))
        .otherwise(F.concat(F.lit("https://site"), gs,
                            F.lit(".example.com/p/q?id="), gs,
                            F.lit("&utm_campaign=x#top"))))
    expected = F.concat(F.lit("https://site"), gs,
                        F.lit(".example.com/p/q?id="), gs)
    canon = T.canonical_url(url)
    return (d.select(canon.alias("canon"), expected.alias("want"))
            .agg(F.count("*").cast("long").alias("n_urls"),
                 F.countDistinct("canon").cast("long").alias("n_canon"),
                 F.sum((F.col("canon") == F.col("want")).cast("long"))
                 .alias("n_match")))


def _q76_sql():
    from karta_spark.operators.text import canonical_url_sql
    return f"""
WITH planted AS (
  SELECT doc_id // 4 AS g, doc_id % 4 AS v,
         CASE doc_id % 4
           WHEN 0 THEN 'https://site' || CAST(doc_id // 4 AS VARCHAR)
                       || '.example.com/p/q?id='
                       || CAST(doc_id // 4 AS VARCHAR)
           WHEN 1 THEN 'HTTPS://SITE' || CAST(doc_id // 4 AS VARCHAR)
                       || '.EXAMPLE.COM:443/p/q/?id='
                       || CAST(doc_id // 4 AS VARCHAR)
           WHEN 2 THEN 'https://site' || CAST(doc_id // 4 AS VARCHAR)
                       || '.example.com/p//q?utm_source=feed&id='
                       || CAST(doc_id // 4 AS VARCHAR)
           ELSE 'https://site' || CAST(doc_id // 4 AS VARCHAR)
                || '.example.com/p/q?id=' || CAST(doc_id // 4 AS VARCHAR)
                || '&utm_campaign=x#top'
         END AS url,
         'https://site' || CAST(doc_id // 4 AS VARCHAR)
           || '.example.com/p/q?id=' || CAST(doc_id // 4 AS VARCHAR)
           AS want
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT {canonical_url_sql('url')}) AS BIGINT)
         AS n_canon,
       CAST(sum(CASE WHEN {canonical_url_sql('url')} = want
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_match
FROM planted
"""


def q77_png_variants_census(spark, sf_dir):
    """Full-PNG IHDR-matrix census (round 6): per documents row,
    synthesize a closed-form image in one of six real-world PNG shapes
    (8-bit gray; Adam7-interlaced RGB; 4-bit palette; 16-bit gray; RGBA
    with a varying alpha plane; 1-bit interlaced bilevel — cycling all
    five scanline filters), encode + decode ENTIRELY on executors with
    the from-scratch codec (sources/png.py; the reference reads PNGs
    via GDAL/Pillow, _gdal.py:114-188), and census the decoded sample
    sums per variant.

    Value-oracle-exact: every pixel formula is integer closed form and
    restated verbatim in the oracle SQL, so DuckDB regenerates the
    per-variant sample sums without any codec — a filter, interlace
    pass-layout, palette, bit-unpack, or 16-bit byte-order bug moves
    sum_samples (or drops a pixel from n_px_match) and fails the hash
    gate."""
    import pandas as pd
    from karta_spark.sources.png import variant_census_row
    d = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        for pdf in batches:
            rows = [variant_census_row(int(x)) for x in pdf["doc_id"]]
            yield pd.DataFrame(rows,
                               columns=["variant", "got_sum", "n_px"])

    res = d.repartition(8).mapInPandas(
        run, "variant string, got_sum long, n_px long")
    return res.groupBy("variant").agg(
        F.count("*").cast("long").alias("n_images"),
        F.sum("got_sum").alias("sum_samples"),
        F.sum("n_px").alias("n_px_match"))


Q77_SQL = """
WITH px AS (
  SELECT doc_id AS d, i, j
  FROM documents, range(12) t(i), range(16) s(j)
), per AS (
  SELECT d, d % 6 AS v,
    CASE d % 6
      WHEN 0 THEN (d*7 + 13*i + 29*j) % 256
      WHEN 1 THEN (d*7 + 13*i + 29*j) % 256
                + (d*7 + 13*i + 29*j + 71) % 256
                + (d*7 + 13*i + 29*j + 142) % 256
      WHEN 2 THEN (37*((d + 3*i + 5*j) % 16) + 11) % 256
                + (59*((d + 3*i + 5*j) % 16) + 3) % 256
                + (83*((d + 3*i + 5*j) % 16) + 7) % 256
      WHEN 3 THEN (d*2654435761 + 65537*i + 12345*j) % 65536
      WHEN 4 THEN (d + 2*i + 3*j) % 256
                + (d + 2*i + 3*j + 50) % 256
                + (d + 2*i + 3*j + 100) % 256
                + (d + i + j) % 256
      ELSE CASE WHEN (31*i + 17*j + d) % 5 <> 0 THEN 1 ELSE 0 END
    END AS s
  FROM px
)
SELECT CASE v WHEN 0 THEN 'gray8' WHEN 1 THEN 'rgb8_adam7'
              WHEN 2 THEN 'pal4' WHEN 3 THEN 'gray16'
              WHEN 4 THEN 'rgba8' ELSE 'gray1_adam7' END AS variant,
       CAST(count(DISTINCT d) AS BIGINT) AS n_images,
       CAST(sum(s) AS BIGINT) AS sum_samples,
       CAST(count(*) AS BIGINT) AS n_px_match
FROM per GROUP BY variant, v
"""


def q78_gif_frame_sampling(spark, sf_dir):
    """Animated-GIF frame-sampling census (round 6): per documents row,
    synthesize a closed-form 4-frame GIF89a animation (LZW-compressed,
    frames 1-3 transparent-index compositing over disposal 1, odd ids
    interlaced, every third id with a per-frame LOCAL color table),
    decode + composite it ENTIRELY on executors with the from-scratch
    codec (sources/gif.py — the reference reads rasters via GDAL,
    _gdal.py:114-188; GIF animation sampling mirrors the MJPEG-AVI
    path, av.py:150), sample frame ``d % 4``, and census the RGB sums
    per sampled-frame position.

    Value-oracle-exact: the transparency show-through recursion is
    restated in SQL (source frame m = last k' <= k with a nonzero
    index), so DuckDB regenerates every composited pixel sum with no
    codec — an LZW width slip, interlace reorder, GCE transparency,
    local-palette, or compositing bug moves sum_rgb (or drops a pixel
    from n_px_match) and fails the hash gate."""
    import pandas as pd
    from karta_spark.sources.gif import gif_census_row
    d = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        for pdf in batches:
            rows = [gif_census_row(int(x)) for x in pdf["doc_id"]]
            yield pd.DataFrame(rows,
                               columns=["frame_sampled", "sum_rgb", "n_px"])

    res = d.repartition(8).mapInPandas(
        run, "frame_sampled long, sum_rgb long, n_px long")
    return res.groupBy("frame_sampled").agg(
        F.count("*").cast("long").alias("n_images"),
        F.sum("sum_rgb").alias("sum_rgb"),
        F.sum("n_px").alias("n_px_match"))


def _q78_sql() -> str:
    # source frame m for composited frame k = d % 4: the last k' <= k
    # whose index (d + 7k' + 3i + 5j) % 16 is nonzero (frame 0 is fully
    # opaque), restating gif.animated_variant's compositing recursion
    def idx(k):
        return f"((d + 7*{k} + 3*i + 5*j) % 16)"

    def src(k):
        if k == 0:
            return "0"
        arms = " ".join(f"WHEN {idx(m)} <> 0 THEN {m}"
                        for m in range(k, 0, -1))
        return f"CASE {arms} ELSE 0 END"

    m_expr = ("CASE d % 4 " + " ".join(
        f"WHEN {k} THEN {src(k)}" for k in range(4)) + " END")
    return f"""
WITH px AS (
  SELECT doc_id AS d, i, j
  FROM documents, range(10) t(i), range(12) r(j)
), src AS (
  SELECT d, d % 4 AS fs, ({m_expr}) AS m, i, j FROM px
), val AS (
  SELECT d, fs, (d + 7*m + 3*i + 5*j) % 16 AS ki, m FROM src
)
SELECT CAST(fs AS BIGINT) AS frame_sampled,
       CAST(count(DISTINCT d) AS BIGINT) AS n_images,
       CAST(sum(CASE WHEN m = 2 AND d % 3 = 0
                THEN (91*ki + 13) % 256 + (29*ki + 41) % 256
                     + (53*ki + 17) % 256
                ELSE (23*ki + 5) % 256 + (47*ki + 9) % 256
                     + (71*ki + 2) % 256 END) AS BIGINT) AS sum_rgb,
       CAST(count(*) AS BIGINT) AS n_px_match
FROM val GROUP BY fs
"""


def q79_html_extraction(spark, sf_dir):
    """HTML -> text extraction (round 6): wrap every documents row in a
    deterministic HTML page (title, style + script blocks with tag
    traps inside, heading, body paragraph, href link, comment, named
    entities), run text.html_to_text / html_title / extract_links (pure
    Catalyst regexp chain, JVM-side), and return the CLEANED TEXT
    ITSELF plus title and link census per row.  The first step of every
    crawl-corpus pipeline (WARC -> WET production); the reference has
    no text layer (beyond-reference op).

    Value-oracle-exact: DuckDB builds the identical page and runs the
    step-identical RE2 chain (html_to_text_sql), so the full cleaned
    string is hash-compared row by row — any tag-strip, entity,
    block-newline, or whitespace-normalization divergence between
    engines fails the gate."""
    from karta_spark.operators.text import (
        extract_links, html_title, html_to_text,
    )
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit("</title><style>p{margin:0}</style>"
              "<script>var x=\"<b>trap</b>\";</script></head>"
              "<body><h1>Doc "), did,
        F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><a href=\"https://ex.org/"), did,
        F.lit("?x=1\">see</a><br><!-- hidden --><div>tail&nbsp;"), did,
        F.lit(" &amp; &lt;end&gt;</div></body></html>"))
    links = extract_links(html)
    return (d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        html_to_text(html).alias("clean"),
        html_title(html).alias("title"),
        F.size(links).cast("long").alias("n_links"),
        F.element_at(links, 1).alias("first_link"))
        .orderBy("doc_id"))


def _q79_sql():
    from karta_spark.operators.text import (
        extract_links_sql, html_title_sql, html_to_text_sql,
    )
    html = """('<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
 || '</title><style>p{margin:0}</style>'
 || '<script>var x="<b>trap</b>";</script></head><body><h1>Doc '
 || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
 || '</p><a href="https://ex.org/' || CAST(doc_id AS VARCHAR)
 || '?x=1">see</a><br><!-- hidden --><div>tail&nbsp;'
 || CAST(doc_id AS VARCHAR) || ' &amp; &lt;end&gt;</div></body></html>')"""
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {html_to_text_sql(html)} AS clean,
       {html_title_sql(html)} AS title,
       CAST(len({extract_links_sql(html)}) AS BIGINT) AS n_links,
       list_extract({extract_links_sql(html)}, 1) AS first_link
FROM documents ORDER BY doc_id
"""


def q80_webp_variants_census(spark, sf_dir):
    """Lossless-WebP (VP8L) census (round 6): per documents row,
    synthesize a closed-form RGBA image, encode + decode it ENTIRELY on
    executors with the from-scratch VP8L codec (sources/webp.py —
    canonical prefix codes via the code-length code, LZ77 with the 2D
    neighbor distance map, color cache, and the four transforms:
    predictor, cross-color, subtract-green, color-indexing with
    sub-byte bundling; the reference reads rasters via GDAL,
    _gdal.py:114-188), cycling six transform stacks, and census the
    decoded RGBA sums per variant.

    Value-oracle-exact: VP8L is lossless and every pixel formula is
    integer closed form restated verbatim in the oracle SQL, so DuckDB
    regenerates the per-variant channel sums with no codec — a Huffman,
    LZ77, cache, or inverse-transform bug moves sum_rgba (or drops a
    pixel from n_px_match) and fails the hash gate."""
    import pandas as pd
    from karta_spark.sources.webp import variant_census_row
    d = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        for pdf in batches:
            rows = [variant_census_row(int(x)) for x in pdf["doc_id"]]
            yield pd.DataFrame(rows,
                               columns=["variant", "got_sum", "n_px"])

    res = d.repartition(8).mapInPandas(
        run, "variant string, got_sum long, n_px long")
    return res.groupBy("variant").agg(
        F.count("*").cast("long").alias("n_images"),
        F.sum("got_sum").alias("sum_rgba"),
        F.sum("n_px").alias("n_px_match"))


Q80_SQL = """
WITH px AS (
  SELECT doc_id AS d, i, j
  FROM documents, range(10) t(i), range(14) s(j)
), per AS (
  SELECT d, d % 6 AS v,
    CASE d % 6
      WHEN 0 THEN (d + 2*i + 3*j) % 256 + (3*d + 5*i + j) % 256
                + (5*d + i + 7*j) % 256 + 255
      WHEN 1 THEN (d + 4*i + j) % 256 + (2*d + i + 6*j) % 256
                + (7*d + 3*i + 2*j) % 256 + (d + i + j) % 256
      WHEN 2 THEN (37*((d + 3*i + 5*j) % 16) + 11) % 256
                + (59*((d + 3*i + 5*j) % 16) + 3) % 256
                + (83*((d + 3*i + 5*j) % 16) + 7) % 256
                + (29*((d + 3*i + 5*j) % 16) + 200) % 256
      WHEN 3 THEN 3 * ((d + i + (j // 4) * 9) % 256) + 255
      WHEN 4 THEN (11*d + i + j) % 256 + (d + 9*i + 2*j) % 256
                + (13*d + 2*i + 5*j) % 256 + 255
      ELSE (17*((i + j + d) % 4) + d) % 256
           + (31*((i + j + d) % 4) + 2*d) % 256
           + (43*((i + j + d) % 4) + 5) % 256 + 255
    END AS s
  FROM px
)
SELECT CASE v WHEN 0 THEN 'plain' WHEN 1 THEN 'subgreen_pred7'
              WHEN 2 THEN 'pal16' WHEN 3 THEN 'cache_lz77'
              WHEN 4 THEN 'cross_pred2' ELSE 'pal4_lz77' END AS variant,
       CAST(count(DISTINCT d) AS BIGINT) AS n_images,
       CAST(sum(s) AS BIGINT) AS sum_rgba,
       CAST(count(*) AS BIGINT) AS n_px_match
FROM per GROUP BY variant, v
"""


def q81_g711_audio_census(spark, sf_dir):
    """G.711 telephony-audio census (round 6): per documents row, build
    a closed-form byte stream, wrap it as a mu-law (even ids) or A-law
    (odd ids) WAV (format codes 7/6), decode through the WAV path
    (sources/av.py — vectorized ports of the public G.711 expansion
    algebra), and census the recovered 16-bit-scale linear samples.

    Value-oracle-exact: both companding laws are closed-form bijections
    byte -> linear level (mu-law's duplicate zero code is avoided by
    remapping byte 0x7F), so DuckDB regenerates every sample from the
    G.711 algebra restated in SQL — any segment/mantissa/sign slip in
    the expansion moves sum_v/min_v/max_v and fails the hash gate."""
    import pandas as pd
    from karta_spark.sources.av import decode_wav, encode_g711_wav
    d = _t(spark, sf_dir, "documents").select("doc_id")
    N = 64

    def run(batches):
        for pdf in batches:
            rows = []
            for x in pdf["doc_id"]:
                did = int(x)
                i = np.arange(N)
                b = ((did * 7 + i * 13) % 256).astype(np.uint8)
                law = "ulaw" if did % 2 == 0 else "alaw"
                if law == "ulaw":
                    b[b == 0x7F] = 0x80  # avoid mu-law's second zero
                wav = encode_g711_wav(b, 8000, law=law)
                s, _sr = decode_wav(wav)
                v = np.rint(s.ravel() * 32767.0).astype(np.int64)
                rows.append((law, len(v), int(v.sum()),
                             int(v.min()), int(v.max())))
            yield pd.DataFrame(rows, columns=["law", "n", "s", "mn", "mx"])

    res = d.repartition(8).mapInPandas(
        run, "law string, n long, s long, mn long, mx long")
    return res.groupBy("law").agg(
        F.count("*").cast("long").alias("n_clips"),
        F.sum("n").alias("n_samples"),
        F.sum("s").alias("sum_v"),
        F.min("mn").alias("min_v"),
        F.max("mx").alias("max_v"))


Q81_SQL = """
WITH raw AS (
  SELECT doc_id AS d, (doc_id * 7 + i * 13) % 256 AS b0
  FROM documents, range(64) t(i)
), mapped AS (
  SELECT d, CASE WHEN d % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS law,
         CASE WHEN d % 2 = 0 AND b0 = 127 THEN 128 ELSE b0 END AS b
  FROM raw
), dec AS (
  SELECT d, law,
    CASE WHEN law = 'ulaw' THEN
      CASE WHEN (255 - b) >= 128
           THEN 132 - (((255 - b) % 16) * 8 + 132)
                      * (1 << (((255 - b) // 16) % 8))
           ELSE (((255 - b) % 16) * 8 + 132)
                * (1 << (((255 - b) // 16) % 8)) - 132 END
    ELSE
      CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END *
      CASE WHEN (xor(b, 85) // 16) % 8 = 0
           THEN (xor(b, 85) % 16) * 16 + 8
           ELSE ((xor(b, 85) % 16) * 16 + 264)
                * (1 << ((xor(b, 85) // 16) % 8 - 1)) END
    END AS v
  FROM mapped
)
SELECT law,
       CAST(count(DISTINCT d) AS BIGINT) AS n_clips,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(v) AS BIGINT) AS sum_v,
       CAST(min(v) AS BIGINT) AS min_v,
       CAST(max(v) AS BIGINT) AS max_v
FROM dec GROUP BY law
"""


def q82_webp_cog_census(spark, sf_dir):
    """WebP-compressed COG census (round 6): synthesize a closed-form
    uint8 grid, write it as a TILED GeoTIFF with compression 50001 —
    the modern cloud-optimized-GeoTIFF codec GDAL emits as
    COMPRESS=WEBP — where every tile is a complete lossless-VP8L RIFF
    payload (sources/webp.py), re-read it through the DISTRIBUTED lazy
    scan (driver parses only the IFD; executors seek per-tile byte
    ranges and run the VP8L decoder), and census three windows.

    Value-oracle-exact: VP8L is lossless and the content is integer
    closed form ((i*29 + j*23 + 7) % 251), so DuckDB regenerates every
    cell — a tile-placement, VP8L, or byte-range slip moves a sum and
    fails the hash gate.  (Same plan shape as the LZW q60 and JPEG q63
    censuses; this pins the third COG codec.)"""
    import os
    import tempfile
    from karta_spark.raster.tiles import tile_cells
    from karta_spark.sources import geotiff
    ny, nx = 96, 128
    ii, jj = np.mgrid[0:ny, 0:nx]
    Z = ((ii * 29 + jj * 23 + 7) % 251).astype(np.uint8)
    path = os.path.join(tempfile.gettempdir(), "karta_q82_webp.tif")
    # write_geotiff_array takes TOP-DOWN rows; formula is in LL cell
    # coords (cell_i counts up from the bottom row), so flip on write
    geotiff.write_geotiff_array(path, Z[::-1], 0.0, float(ny), 1.0, 1.0,
                                compress="webp", tiled=32)
    cells = tile_cells(
        geotiff.read_geotiff_distributed(spark, path, tile=32))
    i, j = F.col("cell_i"), F.col("cell_j")
    v = F.col("value").cast("long")
    w1 = cells.where((i >= 8) & (i < 40) & (j >= 16) & (j < 100)) \
              .withColumn("win", F.lit("w1"))
    w2 = cells.where((i >= 80) | (j >= 120)).withColumn("win", F.lit("w2"))
    wf = cells.withColumn("win", F.lit("full"))
    return (w1.unionByName(w2).unionByName(wf)
            .groupBy("win")
            .agg(F.count("*").cast("long").alias("n_cells"),
                 F.sum(v).alias("sum_v"),
                 F.min(v).alias("min_v"),
                 F.max(v).alias("max_v")))


Q82_SQL = """
WITH g AS (
  SELECT i, j, (i*29 + j*23 + 7) % 251 AS v
  FROM range(96) t(i), range(128) s(j)
), w AS (
  SELECT 'w1' AS win, v FROM g
   WHERE i >= 8 AND i < 40 AND j >= 16 AND j < 100
  UNION ALL SELECT 'w2', v FROM g WHERE i >= 80 OR j >= 120
  UNION ALL SELECT 'full', v FROM g
)
SELECT win, CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(v) AS BIGINT) AS sum_v,
       CAST(min(v) AS BIGINT) AS min_v,
       CAST(max(v) AS BIGINT) AS max_v
FROM w GROUP BY win
"""


def q83_line_dedup(spark, sf_dir):
    """C4-rule line-level corpus dedup (round 6): plant boilerplate
    around every documents row — a subscribe banner and a CMS footer on
    every page (corpus df = N), plus a 'copyright site<k>' line with
    k = doc_id % 130 so ids 110..129 sit exactly AT the max_df=3
    threshold (kept) while the rest exceed it (removed) — then run
    text.dedup_lines (posexplode -> ONE corpus line-frequency hash agg
    -> equi-join back -> per-doc sort_array reassembly; hashed=True
    ships 8-byte xxhash64 shuffle keys, the 100 TB setting) and return
    the CLEANED TEXT ITSELF per row.

    Value-oracle-exact: DuckDB runs the identical algebra with raw-line
    keys (dedup_lines_sql), so the full reassembled strings hash-compare
    row by row — an off-by-one at the df threshold, a line-order slip
    in reassembly, or an exempt-blank-line bug fails the gate."""
    from karta_spark.operators.text import dedup_lines
    d = _t(spark, sf_dir, "documents")
    nl = F.lit("\n")
    planted = d.select(
        F.col("doc_id"),
        F.concat(F.lit("SUBSCRIBE TO OUR NEWSLETTER"), nl,
                 F.col("text"), nl,
                 F.lit("copyright site"),
                 F.pmod(F.col("doc_id"), F.lit(130)).cast("string"), nl,
                 F.lit("Powered by ExampleCMS")).alias("text"))
    return (dedup_lines(planted, max_df=3, hashed=True)
            .orderBy("doc_id")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "text",
                    F.col("n_lines_kept").cast("long").alias("n_kept"),
                    F.col("n_lines_removed").cast("long")
                    .alias("n_removed")))


def _q83_sql():
    from karta_spark.operators.text import dedup_lines_sql
    inner = dedup_lines_sql("planted", max_df=3)
    return f"""
WITH planted AS (
  SELECT doc_id,
         'SUBSCRIBE TO OUR NEWSLETTER' || chr(10) || text || chr(10)
         || 'copyright site' || CAST(doc_id % 130 AS VARCHAR) || chr(10)
         || 'Powered by ExampleCMS' AS text
  FROM documents
), dl AS ({inner})
SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
       CAST(n_lines_kept AS BIGINT) AS n_kept,
       CAST(n_lines_removed AS BIGINT) AS n_removed
FROM dl ORDER BY doc_id
"""


def q86_webdataset_census(spark, sf_dir):
    """WebDataset shard-ingest census (round 6): write the documents
    table as 6 `.tar` shards in the WebDataset convention (one sample
    per doc: `<id>.png` + `<id>.txt`, members contiguous, key = name
    up to the first period — sources/webdataset.py), re-read with the
    DISTRIBUTED scan (binaryFile: one task per shard, no driver
    bytes), DECODE every image on executors (the training-ingest
    step), and census pixels + caption chars per id bucket.

    Value-oracle-exact: pixels and captions are integer closed form,
    so DuckDB regenerates the sums codec-free — a tar-member grouping,
    key-split, PNG, or caption slip moves a sum and fails the gate."""
    import os
    import tempfile
    from karta_spark.sources.images import decode_png, encode_png
    from karta_spark.sources.webdataset import (
        read_webdataset_distributed, write_shard,
    )
    ids = [int(r["doc_id"])
           for r in _t(spark, sf_dir, "documents").select("doc_id")
           .collect()]  # fixture construction: ids only
    root = os.path.join(tempfile.gettempdir(), "karta_q86_wds")
    os.makedirs(root, exist_ok=True)
    shards: dict[int, tuple[list, list]] = {s: ([], []) for s in range(6)}
    ii, jj = np.mgrid[0:8, 0:8]
    for d in sorted(ids):
        png = encode_png(((d + 5 * ii + 7 * jj) % 256).astype(np.uint8))
        txt = (f"caption {d} " + "z" * (d % 13)).encode()
        smp, keys = shards[d % 6]
        smp.append({"png": png, "txt": txt})
        keys.append(str(d))
    for s, (smp, keys) in shards.items():
        with open(os.path.join(root, f"shard-{s}.tar"), "wb") as f:
            f.write(write_shard(smp, keys=keys))
    rows = read_webdataset_distributed(spark, root,
                                       extensions=("png", "txt"))

    def run(batches):
        import pandas as pd
        for pdf in batches:
            out = []
            for key, png, txt in zip(pdf["key"], pdf["png"], pdf["txt"]):
                pix = decode_png(bytes(png))
                out.append((int(key) % 4, int(pix.astype(np.int64).sum()),
                            len(bytes(txt))))
            yield pd.DataFrame(out, columns=["bucket", "px", "chars"])

    stats = rows.mapInPandas(run, "bucket long, px long, chars long")
    return stats.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_samples"),
        F.sum("px").alias("sum_pixels"),
        F.sum("chars").alias("sum_caption_chars"))


Q86_SQL = """
WITH px AS (
  SELECT doc_id AS d, (d + 5*i + 7*j) % 256 AS v
  FROM documents, range(8) t(i), range(8) s(j)
), per AS (
  SELECT d, sum(v) AS pxsum FROM px GROUP BY d
)
SELECT CAST(d % 4 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(pxsum) AS BIGINT) AS sum_pixels,
       CAST(sum(8 + length(CAST(d AS VARCHAR)) + 1 + d % 13) AS BIGINT)
         AS sum_caption_chars
FROM per GROUP BY 1
"""


def q87_exif_gps_tiles(spark, sf_dir):
    """EXIF-GPS geotagging census (round 6): the image -> geospatial
    bridge.  Per documents row, encode a baseline JPEG and splice an
    EXIF APP1 segment carrying closed-form camera GPS (micro-degree
    rationals) + orientation (sources/exif.py), then ON EXECUTORS parse
    the EXIF back out of the bytes and feed the recovered lon/lat into
    the slippy-tile assignment (functions/cells.py, zoom 6) — exactly
    how a crawled-photo corpus becomes a point table for the spatial
    operators.

    Value-oracle-exact: the rationals are micro-degree-exact so the
    extracted doubles are bit-identical to DuckDB's regenerated
    lon/lat, and the tile math uses the proven q06 SQL twins — an IFD
    offset, rational, sign-ref, or orientation slip moves a tile count
    or drops ori_ok and fails the hash gate."""
    import pandas as pd
    from karta_spark.sources.exif import exif_app1, insert_exif, parse_exif
    from karta_spark.sources.images import encode_jpeg
    d = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        img = np.zeros((8, 8), np.uint8)
        base = encode_jpeg(img + 128)
        for pdf in batches:
            rows = []
            for x in pdf["doc_id"]:
                did = int(x)
                lonm = (did * 2654435761) % 360000000 - 180000000
                latm = (did * 2246822519) % 170000000 - 85000000
                ori = did % 8 + 1
                tagged = insert_exif(
                    base, exif_app1(lonm, latm, orientation=ori,
                                    alt_mm=1000 * (did % 9)))
                got = parse_exif(tagged)
                rows.append((got["lon"], got["lat"],
                             int(got["orientation"] == ori)))
            yield pd.DataFrame(rows, columns=["lon", "lat", "ori_ok"])

    pts = d.repartition(8).mapInPandas(
        run, "lon double, lat double, ori_ok long")
    return (pts.groupBy(
        cells.tile_x(F.col("lon"), 6).alias("tile_x"),
        cells.tile_y(F.col("lat"), 6).alias("tile_y"))
        .agg(F.count("*").cast("long").alias("n_photos"),
             F.sum("ori_ok").alias("n_ori_ok")))


Q87_SQL = f"""
WITH pts AS (
  SELECT CAST((doc_id * 2654435761) % 360000000 - 180000000 AS DOUBLE)
           / 1000000.0 AS lon,
         CAST((doc_id * 2246822519) % 170000000 - 85000000 AS DOUBLE)
           / 1000000.0 AS lat
  FROM documents
)
SELECT {cells.tile_x_sql('lon', 6)} AS tile_x,
       {cells.tile_y_sql('lat', 6)} AS tile_y,
       CAST(count(*) AS BIGINT) AS n_photos,
       CAST(count(*) AS BIGINT) AS n_ori_ok
FROM pts GROUP BY 1, 2
"""


def q88_apng_frame_sampling(spark, sf_dir):
    """APNG frame-sampling census (round 6): per documents row,
    synthesize a 3-frame animated PNG (acTL/fcTL/fdAT on the full PNG
    codec, sources/png.py) — two full-canvas frames plus a SUB-RECT
    third frame composited at (x=3, y=2) — decode + composite ENTIRELY
    on executors, sample frame ``d % 3``, and census the RGBA sums.

    Value-oracle-exact: APNG is lossless and the sub-rect compositing
    is a coordinate CASE, so DuckDB regenerates every composited pixel
    — an fdAT sequence, fcTL offset, or canvas-compositing bug moves
    sum_rgba (or drops a pixel from n_px_match) and fails the gate."""
    import pandas as pd
    from karta_spark.sources.png import decode_apng, encode_apng
    d = _t(spark, sf_dir, "documents").select("doc_id")
    H, W = 8, 10

    def build(did: int):
        ii, jj, cc = np.mgrid[0:H, 0:W, 0:4]
        f0 = ((did + 3 * ii + 5 * jj + 11 * cc) % 256).astype(np.uint8)
        f1 = ((2 * did + ii + 7 * jj + 17 * cc) % 256).astype(np.uint8)
        pi, pj, pc = np.mgrid[0:4, 0:5, 0:4]
        patch = ((5 * did + 9 * pi + pj + 23 * pc) % 256).astype(np.uint8)
        apng = encode_apng([f0, f1, patch],
                           offsets=[(0, 0), (0, 0), (3, 2)],
                           dispose=0, blend=0)
        expect2 = f1.copy()
        expect2[2:6, 3:8] = patch
        return apng, [f0, f1, expect2]

    def run(batches):
        for pdf in batches:
            rows = []
            for x in pdf["doc_id"]:
                did = int(x)
                apng, expects = build(did)
                frames, _ = decode_apng(apng)
                s = did % 3
                got = frames[s]
                rows.append((s, int(got.astype(np.int64).sum()),
                             int((got == expects[s]).all(axis=2).sum())))
            yield pd.DataFrame(rows,
                               columns=["frame_sampled", "sum_rgba",
                                        "n_px"])

    res = d.repartition(8).mapInPandas(
        run, "frame_sampled long, sum_rgba long, n_px long")
    return res.groupBy("frame_sampled").agg(
        F.count("*").cast("long").alias("n_images"),
        F.sum("sum_rgba").alias("sum_rgba"),
        F.sum("n_px").alias("n_px_match"))


def _q88_sql() -> str:
    f0 = " + ".join(f"(d + 3*i + 5*j + {11 * c}) % 256" for c in range(4))
    f1 = " + ".join(f"(2*d + i + 7*j + {17 * c}) % 256" for c in range(4))
    patch = " + ".join(f"(5*d + 9*(i-2) + (j-3) + {23 * c}) % 256"
                       for c in range(4))
    comp2 = (f"CASE WHEN i >= 2 AND i < 6 AND j >= 3 AND j < 8 "
             f"THEN {patch} ELSE {f1} END")
    return f"""
WITH px AS (
  SELECT doc_id AS d, i, j
  FROM documents, range(8) t(i), range(10) s(j)
), per AS (
  SELECT d, d % 3 AS fs,
    CASE d % 3 WHEN 0 THEN {f0}
               WHEN 1 THEN {f1}
               ELSE {comp2} END AS v
  FROM px
)
SELECT CAST(fs AS BIGINT) AS frame_sampled,
       CAST(count(DISTINCT d) AS BIGINT) AS n_images,
       CAST(sum(v) AS BIGINT) AS sum_rgba,
       CAST(count(*) AS BIGINT) AS n_px_match
FROM per GROUP BY fs
"""


def q89_geohash_census(spark, sf_dir):
    """Geohash cell census (round 6): assign every customer point its
    precision-4 geohash (functions/cells.geohash — the OTHER ubiquitous
    spatial key besides slippy tiles; closed-form interleaved-bisection
    bits, pure Catalyst, no iteration) and count per cell plus a
    precision-6 refinement census.

    Value-oracle-exact: every hash bit is floor(frac * 2^k) mod 2 with
    power-of-two multiplies (IEEE-exact), and DuckDB runs the identical
    algebra (geohash_sql) — the char-for-char base32 strings are
    hash-compared, so any bit-order, alphabet, or parity slip fails.
    The algebra itself is pinned to the published 'ezs42'/Palermo
    goldens in tests."""
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    return (c.withColumn("gh4", cells.geohash(F.col("x"), F.col("y"), 4))
            .groupBy("gh4")
            .agg(F.count("*").cast("long").alias("n_points"),
                 F.countDistinct(
                     cells.geohash(F.col("x"), F.col("y"), 6))
                 .cast("long").alias("n_gh6")))


Q89_SQL = f"""
WITH pts AS (
  SELECT {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y FROM customer
)
SELECT {cells.geohash_sql('x', 'y', 4)} AS gh4,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(count(DISTINCT {cells.geohash_sql('x', 'y', 6)}) AS BIGINT)
         AS n_gh6
FROM pts GROUP BY 1
"""


def q90_robust_ingest_census(spark, sf_dir):
    """Mixed-format robust-ingest census (round 6): per documents row,
    synthesize a blob cycling SEVEN shapes — PNG, GIF, lossless WebP,
    JPEG, BMP, ICO, and a deliberately truncated GIF — sniff + decode
    with multimodal.decode_any (magic numbers; NEVER raises — one bad
    blob must not kill a 10^9-row task), and census ok/err counts and
    decoded pixel sums per format.

    Value-oracle-exact: all lossless formats decode closed-form pixels
    DuckDB regenerates (JPEG contributes counts only — lossy); the
    corrupt bucket must land entirely in n_err — a sniff, codec, or
    error-contract slip moves a count or sum and fails the gate."""
    import pandas as pd
    from karta_spark.sources.gif import encode_gif
    from karta_spark.sources.ico import encode_ico
    from karta_spark.sources.images import (
        encode_bmp, encode_jpeg, encode_png,
    )
    from karta_spark.sources.multimodal import decode_any
    from karta_spark.sources.webp import encode_webp
    d = _t(spark, sf_dir, "documents").select("doc_id")
    FMT = ("png", "gif", "webp", "jpeg", "bmp", "ico", "corrupt")

    def build(did: int):
        ii, jj = np.mgrid[0:8, 0:8]
        v = did % 7
        gray = ((did + 5 * ii + 7 * jj) % 256).astype(np.uint8)
        if v == 0:
            return encode_png(gray)
        if v == 1:
            k16 = np.arange(16)
            pal = np.stack([(23 * k16 + 5) % 256, (47 * k16 + 9) % 256,
                            (71 * k16 + 2) % 256], 1).astype(np.uint8)
            idx = ((did + 3 * ii + 5 * jj) % 16).astype(np.uint8)
            return encode_gif(idx, pal)
        if v == 3:
            return encode_jpeg(gray)
        if v == 4:
            return encode_bmp(gray)
        rgba = np.zeros((8, 8, 4), np.uint8)
        rgba[:, :, 0] = (did + 2 * ii + 3 * jj) % 256
        rgba[:, :, 1] = (3 * did + 5 * ii + jj) % 256
        rgba[:, :, 2] = (5 * did + ii + 7 * jj) % 256
        rgba[:, :, 3] = 255
        if v == 2:
            return encode_webp(rgba)
        if v == 5:
            return encode_ico([rgba])
        return b"GIF89a" + b"\x00" * 3  # truncated: sniffs, fails decode

    def run(batches):
        for pdf in batches:
            rows = []
            for x in pdf["doc_id"]:
                did = int(x)
                want = FMT[did % 7]
                fmt, arr, err = decode_any(build(did))
                ok = arr is not None
                px = int(arr.astype(np.int64).sum()) if ok and \
                    want not in ("jpeg",) else 0
                rows.append((want, int(ok), int(err is not None), px))
            yield pd.DataFrame(rows, columns=["fmt", "ok", "err", "px"])

    res = d.repartition(8).mapInPandas(
        run, "fmt string, ok long, err long, px long")
    return res.groupBy("fmt").agg(
        F.count("*").cast("long").alias("n_blobs"),
        F.sum("ok").alias("n_ok"),
        F.sum("err").alias("n_err"),
        F.sum("px").alias("sum_px"))


Q90_SQL = """
WITH px AS (
  SELECT doc_id AS d, i, j
  FROM documents, range(8) t(i), range(8) s(j)
), per AS (
  SELECT d, d % 7 AS v,
    CASE d % 7
      WHEN 0 THEN (d + 5*i + 7*j) % 256
      WHEN 1 THEN (23*((d + 3*i + 5*j) % 16) + 5) % 256
                + (47*((d + 3*i + 5*j) % 16) + 9) % 256
                + (71*((d + 3*i + 5*j) % 16) + 2) % 256
      WHEN 2 THEN (d + 2*i + 3*j) % 256 + (3*d + 5*i + j) % 256
                + (5*d + i + 7*j) % 256 + 255
      WHEN 4 THEN 3 * ((d + 5*i + 7*j) % 256)
      WHEN 5 THEN (d + 2*i + 3*j) % 256 + (3*d + 5*i + j) % 256
                + (5*d + i + 7*j) % 256 + 255
      ELSE 0 END AS s
  FROM px
)
SELECT CASE v WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'webp'
              WHEN 3 THEN 'jpeg' WHEN 4 THEN 'bmp' WHEN 5 THEN 'ico'
              ELSE 'corrupt' END AS fmt,
       CAST(count(DISTINCT d) AS BIGINT) AS n_blobs,
       CAST(count(DISTINCT CASE WHEN v <> 6 THEN d END) AS BIGINT)
         AS n_ok,
       CAST(count(DISTINCT CASE WHEN v = 6 THEN d END) AS BIGINT)
         AS n_err,
       CAST(sum(s) AS BIGINT) AS sum_px
FROM per GROUP BY 1
"""


def q91_c4_clean(spark, sf_dir):
    """C4 line/page cleaning rules (round 6, Raffel et al. 2020 §2.2):
    plant lines with known verdicts around every documents row — a
    2-word fragment (dropped: < 3 words), a proper planted sentence
    (kept), a 'lorem ipsum' line and a curly-brace CSS line (both
    blocklisted) — run text.c4_clean (terminal-punctuation + min-words
    + blocklist line filter, min-sentences page verdict; a pure
    Catalyst PROJECTION, no shuffle), and return the cleaned text
    itself plus all rule counters per row.

    Value-oracle-exact: DuckDB applies the identical RE2-safe rules
    (c4_clean_sql), so the kept-line strings hash-compare row by row."""
    from karta_spark.operators.text import c4_clean
    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        F.col("doc_id"),
        F.concat(F.col("text"),
                 F.lit("\nBuy now\nThis planted sentence stays in doc "),
                 F.col("doc_id").cast("string"),
                 F.lit(".\nplenty of lorem ipsum filler text here.\n"
                       ".menu { display: none }")).alias("text"))
    return (c4_clean(planted)
            .orderBy("doc_id")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "text",
                    "n_lines_kept", "n_lines_dropped", "n_sentences",
                    "kept"))


def _q91_sql():
    from karta_spark.operators.text import c4_clean_sql
    inner = c4_clean_sql("planted")
    return f"""
WITH planted AS (
  SELECT doc_id,
         text || chr(10) || 'Buy now' || chr(10)
         || 'This planted sentence stays in doc '
         || CAST(doc_id AS VARCHAR) || '.' || chr(10)
         || 'plenty of lorem ipsum filler text here.' || chr(10)
         || '.menu {{ display: none }}' AS text
  FROM documents
), cleaned AS ({inner})
SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
       n_lines_kept, n_lines_dropped, n_sentences, kept
FROM cleaned ORDER BY doc_id
"""


def q92_multipage_document_census(spark, sf_dir):
    """Multi-page scanned-document census (round 6): write a 4-page
    CCITT-G4 document (chained IFDs, the layout fax archives and
    scanners emit — pages of DIFFERENT sizes;
    geotiff.write_multipage_bilevel), parse only the IFD chain on the
    driver (tiff_pages), then fan the (page, strip) grid out to
    executors that seek their strip byte ranges and run the T.6
    decoder locally — per-page parallelism on top of q71's per-strip
    shape.

    Value-oracle-exact: each page's ink is an integer closed form
    DuckDB regenerates, so a chained-IFD offset, page-geometry, or
    strip-seek slip moves n_black or drops a pixel from n_match."""
    import os
    import tempfile
    import pandas as pd
    from karta_spark.sources import geotiff
    K, NX = 4, 64

    def page_bitmap(p: int) -> np.ndarray:
        ny = 48 + 8 * p
        ii, jj = np.mgrid[0:ny, 0:NX]
        return (((ii // (3 + p) + jj // 5) % 2 == 0)
                & ((ii * 7 + jj * 11 + p) % 4 != 0)).astype(np.uint8)

    path = os.path.join(tempfile.gettempdir(), "karta_q92_mp.tif")
    geotiff.write_multipage_bilevel(
        path, [page_bitmap(p) for p in range(K)], rows_per_strip=16)
    with open(path, "rb") as f:
        offs = [8] + [m.next_ifd for m in geotiff.tiff_pages(f)][:-1]
        strips = [(p, s, off) for p, off in enumerate(offs)
                  for s in range(len(geotiff.TiffMeta(
                      f, None if p == 0 else off).offsets))]
    spec = spark.createDataFrame(
        pd.DataFrame(strips, columns=["page", "strip", "ifd_off"]))

    def run(batches):
        for pdf in batches:
            rows = []
            with open(path, "rb") as fh:
                for p, s, off in zip(pdf["page"], pdf["strip"],
                                     pdf["ifd_off"]):
                    m = geotiff.TiffMeta(fh, None if p == 0 else int(off))
                    got = m.read_chunk(fh, int(s))[:, :, 0]
                    r0 = int(s) * 16
                    want = page_bitmap(int(p))[r0:r0 + got.shape[0]]
                    rows.append((int(p), int(got.sum()),
                                 int((got == want).sum()), got.size))
            yield pd.DataFrame(rows, columns=["page", "n_black",
                                              "n_match", "n_px"])

    res = spec.repartition(8).mapInPandas(
        run, "page long, n_black long, n_match long, n_px long")
    return res.groupBy("page").agg(
        F.count("*").cast("long").alias("n_strips"),
        F.sum("n_black").alias("n_black"),
        F.sum("n_match").alias("n_px_match"),
        F.sum("n_px").alias("n_px"))


Q92_SQL = """
WITH pages AS (
  SELECT p FROM range(4) t(p)
), px AS (
  SELECT p, i, j
  FROM pages, range(80) a(i), range(64) b(j)
  WHERE i < 48 + 8*p
), per AS (
  SELECT p,
    CASE WHEN ((i // (3 + p) + j // 5) % 2 = 0)
              AND ((i*7 + j*11 + p) % 4 <> 0)
         THEN 1 ELSE 0 END AS v
  FROM px
)
SELECT CAST(p AS BIGINT) AS page,
       CAST((48 + 8*p + 15) // 16 AS BIGINT) AS n_strips,
       CAST(sum(v) AS BIGINT) AS n_black,
       CAST(count(*) AS BIGINT) AS n_px_match,
       CAST(count(*) AS BIGINT) AS n_px
FROM per GROUP BY p
"""


def q93_gopher_rules(spark, sf_dir):
    """Gopher quality-rule audit (round 6, Rae et al. 2021 table A1):
    evaluate all seven published rules per documents row — word-count
    bounds, mean word length, symbol-to-word ratio, bullet-line and
    ellipsis-line fractions, alphabetic-word fraction, stop-word
    presence — as named booleans plus the AND verdict
    (text.gopher_quality, a pure Catalyst projection; completes the
    canonical published-filter trio beside C4's line rules q91 and the
    Gopher repetition rule q53).

    Value-oracle-exact: DuckDB evaluates the identical RE2-safe
    algebra per row (gopher_quality_sql); all 500x8 booleans are
    hash-compared."""
    from karta_spark.operators.text import gopher_quality
    d = _t(spark, sf_dir, "documents")
    rules = gopher_quality(F.col("text"), min_words=30)
    return (d.select(F.col("doc_id").cast("long").alias("doc_id"),
                     *[v.alias(k if k != "pass" else "pass_all")
                       for k, v in rules.items()])
            .orderBy("doc_id"))


def _q93_sql():
    from karta_spark.operators.text import gopher_quality_sql
    rules = gopher_quality_sql("text", min_words=30)
    cols = ", ".join(f"{v} AS {(k if k != 'pass' else 'pass_all')}"
                     for k, v in rules.items())
    return (f"SELECT CAST(doc_id AS BIGINT) AS doc_id, {cols} "
            f"FROM documents ORDER BY doc_id")


def q94_vp8_lossy_census(spark, sf_dir):
    """Lossy-WebP (VP8 key frame) census (round 7): per documents row,
    synthesize a closed-form smooth RGB image, encode + decode it
    ENTIRELY on executors with the from-scratch RFC 6386 codec
    (sources/vp8.py — boolean arithmetic coder, coefficient-token
    trees with the §13.5 default probabilities, WHT/DCT fixed-point
    inverse transforms, all 16x16 and 4x4 intra modes, normal + simple
    loop filters; the reference reads lossy WebP via GDAL,
    _gdal.py:114-188), cycling q_index 0-7, loop-filter settings,
    B_PRED, token partitions and an ALPH alpha plane, then verify the
    north rule's lossy invariant per row: PSNR >= 40 dB vs the source,
    exact dimensions, byte-exact alpha.

    Value-oracle semantics: lossy pixels are not SQL-restatable, so
    the gate asserts the PSNR bound as a per-image boolean (never round
    a difference of nearly-equal floats at its own noise floor — emit a
    boolean tolerance instead) and hash-compares it together with
    the SQL-regenerated source-pixel sums — a codec regression flips
    n_ok, a synth drift moves sum_src, and either fails the gate."""
    import pandas as pd
    from karta_spark.sources.vp8 import vp8_census_row
    d = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        for pdf in batches:
            rows = [vp8_census_row(int(x)) for x in pdf["doc_id"]]
            yield pd.DataFrame(rows, columns=["variant", "ok", "src_sum"])

    res = d.repartition(16).mapInPandas(
        run, "variant string, ok int, src_sum long")
    return res.groupBy("variant").agg(
        F.count("*").cast("long").alias("n_images"),
        F.sum("ok").cast("long").alias("n_ok"),
        F.sum("src_sum").alias("sum_src"))


Q94_SQL = """
WITH px AS (
  SELECT doc_id AS d, i, j
  FROM documents, range(32) t(i), range(32) s(j)
)
SELECT 'q' || CAST(d % 8 AS VARCHAR) AS variant,
       CAST(count(DISTINCT d) AS BIGINT) AS n_images,
       CAST(count(DISTINCT d) AS BIGINT) AS n_ok,
       CAST(sum((d % 97 + 2*j + i // 2) + (d % 83 + 2*i + j // 2)
                + (d % 71 + i + j)) AS BIGINT) AS sum_src
FROM px GROUP BY 1
"""


def q96_ivf_trained_determinism(spark, sf_dir):
    """Trained-IVF replica stability (round 7): train_centroids is now
    CONTENT-deterministic (similarity.py — rows sampled by
    xxhash64(vector) and ordered by the full hash, so the codebook is a
    pure function of the corpus, not of the partition layout;
    df.sample's per-layout seeding silently retrained different
    codebooks when upstream partitioning shifted).  The gate trains,
    assigns and runs trained ivf_topk on two deliberately different
    layouts (repartition(3) vs repartition(13, vec_id)) and emits the
    mismatch counts, which must be zero, alongside corpus totals.

    Value-oracle semantics: determinism itself is not SQL-expressible,
    so the oracle pins the mismatch counts at zero and regenerates the
    totals (vector count, centroid-component count, top-k row count)
    from the embeddings table — any layout-dependence in the trained
    path flips n_bad and fails the hash gate.  Bit-stability is
    additionally pinned by tests/test_ivf_determinism.py."""
    import pandas as pd
    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"))
    vectors = e.where(F.col("vec_id") >= 5)
    va = vectors.repartition(3)
    vb = vectors.repartition(13, "vec_id")
    c, k = 8, 5
    cent_a = similarity.train_centroids(va, "embedding", c)
    cent_b = similarity.train_centroids(vb, "embedding", c)
    cent_bad = int((cent_a != cent_b).sum())
    asg_a = similarity.ivf_assign(va, "embedding", cent_a) \
        .select("vec_id", F.col("ivf_list").alias("la"))
    asg_b = similarity.ivf_assign(vb, "embedding", cent_b) \
        .select("vec_id", F.col("ivf_list").alias("lb"))
    asg = asg_a.join(asg_b, "vec_id")
    n_vec = vectors.count()
    asg_bad = asg.where(F.col("la") != F.col("lb")).count()
    top_a = similarity.ivf_topk(va, queries, k=k, c=c, nprobe=3)
    top_b = similarity.ivf_topk(vb, queries, k=k, c=c, nprobe=3)
    ta = {(r["query_id"], r["rank"]): r["vec_id"] for r in top_a.collect()}
    tb = {(r["query_id"], r["rank"]): r["vec_id"] for r in top_b.collect()}
    top_bad = sum(1 for kk in set(ta) | set(tb) if ta.get(kk) != tb.get(kk))
    rows = [
        ("assignment_stability", int(asg_bad), int(n_vec)),
        ("centroid_stability", cent_bad, int(cent_a.size)),
        ("topk_stability", int(top_bad), len(ta)),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["check", "n_bad", "n_total"])
    ).select("check", F.col("n_bad").cast("long"),
             F.col("n_total").cast("long"))


Q96_SQL = """
WITH v AS (SELECT count(*) AS n FROM embeddings WHERE vec_id >= 5)
SELECT 'assignment_stability' AS check, CAST(0 AS BIGINT) AS n_bad,
       CAST(n AS BIGINT) AS n_total FROM v
UNION ALL
SELECT 'centroid_stability', CAST(0 AS BIGINT),
       CAST(8 * 64 AS BIGINT)
UNION ALL
SELECT 'topk_stability', CAST(0 AS BIGINT),
       CAST(5 * (SELECT count(*) FROM embeddings WHERE vec_id < 5)
            AS BIGINT)
"""


_STERE_OBL_NL = None


def _stere_obl_crs():
    global _STERE_OBL_NL
    if _STERE_OBL_NL is None:
        from karta_spark.functions import crs as kcrs
        _STERE_OBL_NL = kcrs.from_proj4(
            "+proj=stere +lat_0=52 +lon_0=6 +k_0=0.9999 "
            "+x_0=155000 +y_0=463000 +ellps=bessel")
    return _STERE_OBL_NL


def q97_oblique_stere_grid(spark, sf_dir):
    """Plain oblique stereographic reproject gate (round 7): customers
    in the northwest-Europe window through +proj=stere +lat_0=52 (the
    PROJ OBLIQ arm, Snyder 21-27..21-31 on the conformal latitude —
    crs.py:2017 raised on any non-polar lat_0 until this round;
    reference accepts the projstring via proj.4, crs.py:248-306), 10 km
    grid assignment plus an inverse-roundtrip boolean.  Deliberately
    the same window and grid as q74's sterea (EPSG 9809 double
    projection) so the two conformal oblique-stereographic VARIANTS are
    gated side by side — a registry mixup between them would flip both.

    Value-oracle-exact: forward+inverse are backend-generic column
    algebra; the DuckDB twin runs the textually identical SQL emitted
    from the same registry entry.  Conformality / sphere-form /
    roundtrip invariants pinned in tests/test_crs_round7.py."""
    from karta_spark.functions import crs as kcrs
    g = _stere_obl_crs()
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    z = c.where((F.col("x") > -10.0) & (F.col("x") < 20.0)
                & (F.col("y") > 40.0) & (F.col("y") < 62.0))
    ex, ny = kcrs.forward_exprs(g, F.col("x"), F.col("y"))
    z = z.withColumn("px", ex).withColumn("py", ny)
    lon2, lat2 = kcrs.inverse_exprs(g, F.col("px"), F.col("py"))
    rt_ok = (F.abs(lon2 - F.col("x")) < 1e-6) & \
        (F.abs(lat2 - F.col("y")) < 1e-6)
    return z.select(
        "c_custkey",
        F.round(F.col("px"), 2).alias("st_e"),
        F.round(F.col("py"), 2).alias("st_n"),
        F.floor(F.col("px") / 10000.0).cast("long").alias("cell_e"),
        F.floor(F.col("py") / 10000.0).cast("long").alias("cell_n"),
        rt_ok.alias("rt_ok"))


def _q97_sql():
    from karta_spark.functions import crs as kcrs
    g = _stere_obl_crs()
    xs, ys = kcrs.forward_sql(g, "x", "y")
    lo, la = kcrs.inverse_sql(g, "px", "py")
    return f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y
  FROM customer
), zone AS (
  SELECT * FROM pts
  WHERE x > -10.0 AND x < 20.0 AND y > 40.0 AND y < 62.0
), proj AS (
  SELECT c_custkey, x, y, {xs} AS px, {ys} AS py FROM zone
)
SELECT c_custkey, round(px, 2) AS st_e, round(py, 2) AS st_n,
       CAST(floor(px / 10000.0) AS BIGINT) AS cell_e,
       CAST(floor(py / 10000.0) AS BIGINT) AS cell_n,
       (abs({lo} - x) < 1e-6 AND abs({la} - y) < 1e-6) AS rt_ok
FROM proj
"""


_EQDC_NL = None


def _eqdc_crs():
    global _EQDC_NL
    if _EQDC_NL is None:
        from karta_spark.functions import crs as kcrs
        _EQDC_NL = kcrs.from_proj4(
            "+proj=eqdc +lat_1=29.5 +lat_2=45.5 +lat_0=23 +lon_0=-96 "
            "+ellps=clrk66")
    return _EQDC_NL


def q98_eqdc_conus(spark, sf_dir):
    """Equidistant conic reproject gate (round 7): CONUS-window
    customers through +proj=eqdc on Clarke 1866 (Snyder ch. 16 —
    crs.py:2077 raised on eqdc until this round; national grids that
    use it reach the reference via proj.4).  Output: projected coords,
    100 km cells, an inverse-roundtrip boolean, AND the projection's
    defining invariant as a column — the projected radial distance to
    the lat_0 parallel along the point's own meridian equals the
    ellipsoidal meridian-arc difference (true scale along meridians),
    emitted as a tolerance boolean.

    Value-oracle-exact: the DuckDB twin runs the same backend-generic
    SQL for forward, inverse AND the meridian-arc series."""
    from karta_spark.functions import crs as kcrs
    g = _eqdc_crs()
    c = with_coords(_t(spark, sf_dir, "customer"), "c_custkey")
    z = c.where((F.col("x") > -125.0) & (F.col("x") < -66.0)
                & (F.col("y") > 24.0) & (F.col("y") < 49.0))
    ex, ny = kcrs.forward_exprs(g, F.col("x"), F.col("y"))
    z = z.withColumn("px", ex).withColumn("py", ny)
    lon2, lat2 = kcrs.inverse_exprs(g, F.col("px"), F.col("py"))
    rt_ok = (F.abs(lon2 - F.col("x")) < 1e-6) & \
        (F.abs(lat2 - F.col("y")) < 1e-6)
    # meridian equidistance: |(px,py) - fwd(x, 23)| == M(y) - M(23)
    bx, by = kcrs.forward_exprs(g, F.col("x"), F.lit(23.0))
    d_proj = F.sqrt((F.col("px") - bx) ** 2 + (F.col("py") - by) ** 2)
    arc = kcrs.meridian_arc_expr(g, F.col("y")) - \
        kcrs.meridian_arc_expr(g, F.lit(23.0))
    eq_ok = F.abs(d_proj - F.abs(arc)) < 1e-4
    return z.select(
        "c_custkey",
        F.round(F.col("px"), 2).alias("ec_e"),
        F.round(F.col("py"), 2).alias("ec_n"),
        F.floor(F.col("px") / 100000.0).cast("long").alias("cell_e"),
        F.floor(F.col("py") / 100000.0).cast("long").alias("cell_n"),
        rt_ok.alias("rt_ok"),
        eq_ok.alias("meridian_true_scale"))


def _q98_sql():
    from karta_spark.functions import crs as kcrs
    g = _eqdc_crs()
    xs, ys = kcrs.forward_sql(g, "x", "y")
    lo, la = kcrs.inverse_sql(g, "px", "py")
    bx, by = kcrs.forward_sql(g, "x", "23.0")
    arc_y = kcrs.meridian_arc_sql(g, "y")
    arc_0 = kcrs.meridian_arc_sql(g, "23.0")
    return f"""
WITH pts AS (
  SELECT c_custkey, {_LON('c_custkey')} AS x, {_LAT('c_custkey')} AS y
  FROM customer
), zone AS (
  SELECT * FROM pts
  WHERE x > -125.0 AND x < -66.0 AND y > 24.0 AND y < 49.0
), proj AS (
  SELECT c_custkey, x, y, {xs} AS px, {ys} AS py FROM zone
)
SELECT c_custkey, round(px, 2) AS ec_e, round(py, 2) AS ec_n,
       CAST(floor(px / 100000.0) AS BIGINT) AS cell_e,
       CAST(floor(py / 100000.0) AS BIGINT) AS cell_n,
       (abs({lo} - x) < 1e-6 AND abs({la} - y) < 1e-6) AS rt_ok,
       (abs(sqrt((px - {bx}) * (px - {bx}) + (py - {by}) * (py - {by}))
            - abs({arc_y} - {arc_0})) < 1e-4) AS meridian_true_scale
FROM proj
"""


def q99_multimodal_pipeline_resume(spark, sf_dir):
    """End-to-end multimodal pipeline with lineage checkpoints (round
    7), composing this repo's multimodal operators through
    plans/lineage.resume_or_run so every
    stage checkpoints with per-partition lineage and a killed job
    resumes stage-granular (north rule; stage-resume behavior pinned by
    tests/test_pipeline_resume.py).

    WebDataset tar shards of MIXED formats (PNG / lossy-VP8 WebP /
    EXIF-tagged JPEG + caption sidecars) -> stage 'decode': distributed
    shard scan + robust decode + invariant check per arm (exact pixels
    for PNG, PSNR>=40 for VP8, EXIF-GPS==caption-geo for JPEG) + phash
    -> stage 'neardup': banded hamming pairs + connected components +
    cluster representatives -> stage 'census': slippy-tile assignment
    of every image's geotag + per-format rollup.

    Value-oracle-exact: geotags are micro-degree rationals, PNG pixels
    and phashes are integer closed form, and the oracle replays the
    pair generation brute-force, the clustering as a recursive CTE and
    the tile math with the q06 twins — a slip in any stage (tar
    grouping, codec, EXIF, banding, CC, representative pick, tile
    algebra, or a stale checkpoint read) moves a census value."""
    import os
    import shutil
    import tempfile
    from karta_spark.operators.dedup import (
        cluster_representatives, hamming_near_pairs,
    )
    from karta_spark.plans import lineage
    from karta_spark.sources.exif import exif_app1, insert_exif, parse_exif
    from karta_spark.sources.images import (
        decode_png, encode_jpeg, encode_png,
    )
    from karta_spark.sources.webdataset import (
        read_webdataset_distributed, write_shard,
    )
    from karta_spark.sources.webp import decode_webp, encode_webp_vp8

    ids = sorted(int(r["doc_id"])
                 for r in _t(spark, sf_dir, "documents")
                 .select("doc_id").collect())
    wds_root = os.path.join(tempfile.gettempdir(), "karta_q99_wds")
    ckpt_root = os.path.join(tempfile.gettempdir(), "karta_q99_ckpt")
    shutil.rmtree(wds_root, ignore_errors=True)
    shutil.rmtree(ckpt_root, ignore_errors=True)   # gate = clean full run
    os.makedirs(wds_root)
    ii, jj = np.mgrid[0:8, 0:8]
    wi, wj = np.mgrid[0:16, 0:16]
    jpeg_base = encode_jpeg(np.full((8, 8), 128, np.uint8))
    shards: dict[int, tuple[list, list]] = {s: ([], []) for s in range(6)}
    for d in ids:
        lonm = (d * 2654435761) % 360000000 - 180000000
        latm = (d * 2246822519) % 170000000 - 85000000
        cap = f"geo:{lonm},{latm} img {d}".encode()
        smp = {"txt": cap}
        if d % 3 == 0:
            smp["png"] = encode_png(((d + 5 * ii + 7 * jj) % 256)
                                    .astype(np.uint8))
        elif d % 3 == 1:
            img = np.dstack([(d % 97) + wj, (d % 83) + wi,
                             (d % 71) + (wi + wj) // 2]).astype(np.uint8)
            smp["webp"] = encode_webp_vp8(img, q_index=d % 4)
        else:
            smp["jpg"] = insert_exif(
                jpeg_base, exif_app1(lonm, latm, orientation=d % 8 + 1))
        s, k = shards[d % 6]
        s.append(smp)
        k.append(str(d))
    for s, (smp, keys) in shards.items():
        with open(os.path.join(wds_root, f"shard-{s}.tar"), "wb") as f:
            f.write(write_shard(smp, keys=keys))

    def build_decode():
        import pandas as pd
        rows = read_webdataset_distributed(
            spark, wds_root, extensions=("png", "webp", "jpg", "txt"))

        def run(batches):
            i8, j8 = np.mgrid[0:8, 0:8]
            i16, j16 = np.mgrid[0:16, 0:16]
            for pdf in batches:
                out = []
                for key, png, webp, jpg, txt in zip(
                        pdf["key"], pdf["png"], pdf["webp"],
                        pdf["jpg"], pdf["txt"]):
                    d = int(key)
                    geo = bytes(txt).decode().split(" ")[0][4:].split(",")
                    lonm, latm = int(geo[0]), int(geo[1])
                    ok, px, fmt = 0, 0, "?"
                    if png is not None:
                        fmt = "png"
                        pix = decode_png(bytes(png))
                        want = ((d + 5 * i8 + 7 * j8) % 256)
                        ok = int(np.array_equal(pix, want))
                        px = int(pix.astype(np.int64).sum())
                    elif webp is not None:
                        fmt = "webp"
                        got = decode_webp(bytes(webp))[:, :, :3]
                        src = np.dstack([(d % 97) + j16, (d % 83) + i16,
                                         (d % 71) + (i16 + j16) // 2]
                                        ).astype(np.uint8)
                        mse = ((got.astype(np.float64)
                                - src.astype(np.float64)) ** 2).mean()
                        psnr = 10 * np.log10(255.0 ** 2 / max(mse, 1e-12))
                        ok = int(psnr >= 40.0)
                    elif jpg is not None:
                        fmt = "jpg"
                        g = parse_exif(bytes(jpg))
                        ok = int(round(g["lon"] * 1e6) == lonm
                                 and round(g["lat"] * 1e6) == latm
                                 and g["orientation"] == d % 8 + 1)
                    gid = d % 100
                    ph0 = ((gid * 2654435761) % 2 ** 32
                           + ((gid * 2246822519) % 2 ** 31) * 2 ** 32)
                    flips = (1 << ((d * 7 + 3) % 62)) | \
                        (1 << ((d * 13 + 5) % 62))
                    out.append((d, fmt, ok, px,
                                lonm / 1e6, latm / 1e6, ph0 ^ flips))
                yield pd.DataFrame(out, columns=[
                    "doc_id", "fmt", "ok", "px", "lon", "lat", "phash"])

        return rows.mapInPandas(
            run, "doc_id long, fmt string, ok int, px long, "
                 "lon double, lat double, phash long")

    dec = lineage.resume_or_run(build_decode, ckpt_root, "decode",
                                spark=spark)

    def build_reps():
        pairs = hamming_near_pairs(dec.select("doc_id", "phash"),
                                   "phash", "doc_id", max_hamming=4)
        return cluster_representatives(dec, pairs, "doc_id", F.lit(0.0))

    reps = lineage.resume_or_run(build_reps, ckpt_root, "neardup",
                                 spark=spark)

    def build_census():
        r = dec.join(reps.select(F.col("rep_id").alias("doc_id"),
                                 F.lit(1).alias("is_rep")),
                     "doc_id", "left")
        t = (r.withColumn("tile_x", cells.tile_x(F.col("lon"), 4))
             .withColumn("tile_y", cells.tile_y(F.col("lat"), 4)))
        return t.groupBy("fmt").agg(
            F.count("*").cast("long").alias("n_images"),
            F.sum("ok").cast("long").alias("n_ok"),
            F.sum("px").alias("sum_px"),
            F.sum(F.coalesce(F.col("is_rep"), F.lit(0)))
            .cast("long").alias("n_reps"),
            F.sum(F.col("tile_x") * 16 + F.col("tile_y"))
            .cast("long").alias("tile_checksum"))

    return lineage.resume_or_run(build_census, ckpt_root, "census",
                                 spark=spark)


def _q99_sql():
    tx = cells.tile_x_sql("lonm / 1e6", 4)
    ty = cells.tile_y_sql("latm / 1e6", 4)
    return f"""
WITH RECURSIVE ids AS (
  SELECT CAST(doc_id AS BIGINT) AS d FROM documents
), base AS (
  SELECT d,
         (d * 2654435761) % 360000000 - 180000000 AS lonm,
         (d * 2246822519) % 170000000 - 85000000 AS latm,
         CASE d % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'webp'
              ELSE 'jpg' END AS fmt,
         xor((d % 100) * 2654435761 % 4294967296
             + ((d % 100) * 2246822519 % 2147483648) * 4294967296,
             (1::BIGINT << CAST((d * 7 + 3) % 62 AS INT))
             | (1::BIGINT << CAST((d * 13 + 5) % 62 AS INT))) AS phash
  FROM ids
), px AS (
  SELECT d, CAST(sum((d + 5 * i + 7 * j) % 256) AS BIGINT) AS px
  FROM base, range(8) a(i), range(8) b(j) WHERE fmt = 'png' GROUP BY d
), jp AS (
  SELECT a.d AS id_a, b.d AS id_b
  FROM base a JOIN base b ON a.d < b.d
  WHERE bit_count(xor(a.phash, b.phash)) <= 4
), edges AS (
  SELECT id_a AS a, id_b AS b FROM jp
  UNION ALL SELECT id_b, id_a FROM jp
), r(id, lab) AS (
  SELECT d, d FROM base
  UNION
  SELECT e.a, r.lab FROM edges e JOIN r ON r.id = e.b
), reach AS (
  SELECT id, min(lab) AS canonical_id FROM r GROUP BY id
), allc AS (
  SELECT base.*, COALESCE(px.px, 0) AS pxs,
         (reach.canonical_id = base.d) AS is_rep
  FROM base JOIN reach ON reach.id = base.d
  LEFT JOIN px ON px.d = base.d
)
SELECT fmt, CAST(count(*) AS BIGINT) AS n_images,
       CAST(count(*) AS BIGINT) AS n_ok,
       CAST(sum(pxs) AS BIGINT) AS sum_px,
       CAST(sum(CASE WHEN is_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_reps,
       CAST(sum({tx} * 16 + {ty}) AS BIGINT) AS tile_checksum
FROM allc GROUP BY fmt
"""


def q71_g4_document_census(spark, sf_dir):
    """CCITT Group 4 scanned-document census (round 6): synthesize a
    closed-form bilevel "page" (integer texture stressing pass /
    vertical / horizontal T.6 modes), write it as a strip-organized
    compression-4 GeoTIFF with the from-scratch T.6 encoder
    (sources/ccitt.py), re-read it through the DISTRIBUTED lazy scan
    (driver parses only the IFD; executors seek per-strip byte ranges
    and run the T.6 decoder — the path scanned-document archives take
    at corpus scale; the reference reads them via GDAL/libtiff,
    _gdal.py:114-188), then census ink per 16-row band, verifying
    EVERY pixel against the regenerated formula.

    Value-oracle-exact: G4 is lossless and the content is an integer
    closed form, so DuckDB regenerates each cell; any T.6 table/mode
    bug, strip-seek slip, or photometric inversion moves n_black or
    n_match and fails the hash gate.  The codec is additionally pinned
    bit-exact against JDK-ImageIO-encoded fixtures
    (tests/test_ccitt.py::TestJdkOracle)."""
    import os
    import tempfile
    from karta_spark.raster.tiles import tile_cells
    from karta_spark.sources import geotiff
    ny, nx = 160, 200
    ii, jj = np.mgrid[0:ny, 0:nx]
    ill = ny - 1 - ii  # bitmap is top-down; cell_i is the LL row index
    black = ((((ill // 7) + (jj // 13)) % 2 == 0)
             & ((31 * ill + 17 * jj) % 5 != 0)).astype(np.uint8)
    path = os.path.join(tempfile.gettempdir(), "karta_q71_g4.tif")
    geotiff.write_bilevel_geotiff(path, black, 0.0, float(ny), 1.0, 1.0,
                                  compress="g4", rows_per_strip=16)
    cells = tile_cells(
        geotiff.read_geotiff_distributed(spark, path, tile=64))
    i, j = F.col("cell_i"), F.col("cell_j")
    want = (((F.floor(i / 7) + F.floor(j / 13)) % 2 == 0)
            & ((i * 31 + j * 17) % 5 != 0)).cast("long")
    v = F.col("value").cast("long")
    return (cells
            .groupBy(F.floor(i / 16).cast("long").alias("band16"))
            .agg(F.count("*").cast("long").alias("n_cells"),
                 F.sum(v).alias("n_black"),
                 F.sum((v == want).cast("long")).alias("n_match")))


Q71_SQL = """
WITH g AS (
  SELECT i, j,
         CASE WHEN ((i // 7 + j // 13) % 2 = 0)
                   AND ((31 * i + 17 * j) % 5 <> 0)
              THEN 1 ELSE 0 END AS v
  FROM range(160) t(i), range(200) s(j)
)
SELECT CAST(i // 16 AS BIGINT) AS band16,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(v) AS BIGINT) AS n_black,
       CAST(count(*) AS BIGINT) AS n_match
FROM g GROUP BY 1
"""


def q100_zstd_lzma_cog_census(spark, sf_dir):
    """ZSTD + LZMA GeoTIFF census (round 7): the two modern libtiff
    codecs beyond WebP that GDAL emits for cloud-optimized GeoTIFFs
    (COMPRESS=ZSTD, COMPRESS=LZMA; reference reads them via GDAL,
    _gdal.py:114-188).  Synthesize two closed-form grids, write one as
    a TILED compression-50000 (zstd, via pyarrow's bundled codec) and
    one as a strip-organized compression-34925 (lzma xz streams,
    stdlib) float file under predictor 3, re-read BOTH through the
    DISTRIBUTED lazy scan (driver parses only IFDs; executors seek
    per-chunk byte ranges and decompress), and census each.

    Value-oracle-exact: both codecs are lossless and the float values
    are small integers (exactly representable), so DuckDB regenerates
    every cell — a chunk-layout, exact-size-decompress, or predictor-3
    slip moves a sum and fails the hash gate."""
    import os
    import tempfile
    from karta_spark.raster.tiles import tile_cells
    from karta_spark.sources import geotiff
    ny1, nx1 = 80, 96
    ii, jj = np.mgrid[0:ny1, 0:nx1]
    Z1 = ((ii * 13 + jj * 31 + 3) % 241).astype(np.uint8)
    p1 = os.path.join(tempfile.gettempdir(), "karta_q100_zstd.tif")
    geotiff.write_geotiff_array(p1, Z1[::-1], 0.0, float(ny1), 1.0, 1.0,
                                compress="zstd", tiled=32)
    ny2, nx2 = 64, 80
    i2, j2 = np.mgrid[0:ny2, 0:nx2]
    Z2 = ((i2 * 5 + j2 * 7) % 97).astype(np.float32)
    p2 = os.path.join(tempfile.gettempdir(), "karta_q100_lzma.tif")
    geotiff.write_geotiff_array(p2, Z2[::-1], 0.0, float(ny2), 1.0, 1.0,
                                compress="lzma", predictor=3)
    out = []
    for codec, path, tile in (("zstd", p1, 32), ("lzma", p2, 32)):
        cells = tile_cells(
            geotiff.read_geotiff_distributed(spark, path, tile=tile))
        v = F.col("value").cast("long")
        out.append(cells.groupBy(F.lit(codec).alias("codec"))
                   .agg(F.count("*").cast("long").alias("n_cells"),
                        F.sum(v).alias("sum_v"),
                        F.min(v).alias("min_v"),
                        F.max(v).alias("max_v")))
    return out[0].unionByName(out[1])


Q100_SQL = """
WITH z AS (
  SELECT (i*13 + j*31 + 3) % 241 AS v
  FROM range(80) t(i), range(96) s(j)
), l AS (
  SELECT (i*5 + j*7) % 97 AS v
  FROM range(64) t(i), range(80) s(j)
), u AS (
  SELECT 'zstd' AS codec, v FROM z
  UNION ALL SELECT 'lzma', v FROM l
)
SELECT codec, CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(v) AS BIGINT) AS sum_v,
       CAST(min(v) AS BIGINT) AS min_v,
       CAST(max(v) AS BIGINT) AS max_v
FROM u GROUP BY codec
"""


def _q103_defs():
    """The three round-7 projection variants, built from the same
    proj.4 strings on both engines (sources of truth in crs.py):
    Guam 1963 (+proj=aeqd +guam, EPSG 9831 — pinned to the EPSG GN7-2
    worked example in tests), Krovak +czech (positive southing/
    westing sheet convention), and two-point Hotine omerc (converted
    internally to the azimuth form exactly as proj omerc.c does)."""
    from karta_spark.functions import crs as kcrs
    guam = kcrs.from_proj4(
        "+proj=aeqd +guam +lat_0=13.472466352777777 "
        "+lon_0=144.74875070555555 +x_0=50000 +y_0=50000 +ellps=clrk66")
    czech = kcrs.from_proj4("+proj=krovak +czech")
    omerc2 = kcrs.from_proj4(
        "+proj=omerc +lat_0=4 +lat_1=1.6275602834328 "
        "+lon_1=111.84269725505 +lat_2=-1.35671776762 "
        "+lon_2=107.88856718778 +k_0=0.99984 +ellps=GRS80 +no_off")
    return [("guam", guam, 144.3, 0.02, 13.0, 0.03),
            ("krovak_czech", czech, 12.5, 0.15, 48.6, 0.07),
            ("omerc_2pt", omerc2, 108.0, 0.22, -1.0, 0.2)]


def q103_projection_variants(spark, sf_dir):
    """Exotic projection-variant grid assignment (round 7): Guam
    (+proj=aeqd +guam), Krovak +czech, and two-point omerc — the last
    proj.4 forms that raised in round 6 (the reference accepts any
    projstring via proj.4, reference crs.py:248-306).  120 closed-form
    points per variant projected through the Catalyst backend with an
    inverse-roundtrip boolean; DuckDB runs the textually identical
    SQL algebra (forward_sql/inverse_sql twins), so any forward,
    inverse, or variant-wiring divergence fails the hash gate."""
    from karta_spark.functions import crs as kcrs
    out = None
    base = spark.range(120)
    for name, cdef, lon0, dlon, lat0, dlat in _q103_defs():
        lon = F.lit(lon0) + (F.col("id") % 40).cast("double") * dlon
        lat = F.lit(lat0) + (F.col("id") % 30).cast("double") * dlat
        px, py = kcrs.forward_exprs(cdef, lon, lat)
        d = (base.withColumn("variant", F.lit(name))
             .withColumn("lon", lon).withColumn("lat", lat)
             .withColumn("px", px).withColumn("py", py))
        lon2, lat2 = kcrs.inverse_exprs(cdef, F.col("px"), F.col("py"))
        rt_ok = (F.abs(lon2 - F.col("lon")) < 1e-6) & \
            (F.abs(lat2 - F.col("lat")) < 1e-6)
        d = d.select("variant", F.col("id").cast("long").alias("pt_id"),
                     F.round(F.col("px"), 2).alias("proj_x"),
                     F.round(F.col("py"), 2).alias("proj_y"),
                     rt_ok.alias("rt_ok"))
        out = d if out is None else out.unionByName(d)
    return out


def _q103_sql():
    from karta_spark.functions import crs as kcrs
    parts = []
    for name, cdef, lon0, dlon, lat0, dlat in _q103_defs():
        xs, ys = kcrs.forward_sql(cdef, "lon", "lat")
        lo, la = kcrs.inverse_sql(cdef, "px", "py")
        parts.append(f"""
SELECT variant, pt_id, round(px, 2) AS proj_x, round(py, 2) AS proj_y,
       (abs({lo} - lon) < 1e-6 AND abs({la} - lat) < 1e-6) AS rt_ok
FROM (
  SELECT variant, pt_id, lon, lat, {xs} AS px, {ys} AS py
  FROM (
    SELECT '{name}' AS variant, CAST(i AS BIGINT) AS pt_id,
           {lon0!r} + CAST(i % 40 AS DOUBLE) * {dlon!r} AS lon,
           {lat0!r} + CAST(i % 30 AS DOUBLE) * {dlat!r} AS lat
    FROM range(120) t(i)
  ) p
) q""")
    return " UNION ALL ".join(parts)


def q104_flac_audio_census(spark, sf_dir):
    """FLAC audio census (round 7): the dominant lossless audio format
    in crawled corpora, decoded by the from-scratch codec
    (sources/flac.py — fixed + LPC subframes, partitioned Rice,
    stereo decorrelation, CRC-verified frames).  Six closed-form int16
    waveforms are FLAC-encoded AND decoded executor-side (Arrow-
    batched mapInPandas, zero driver bytes), then censused per clip.

    Value-oracle-exact: FLAC is lossless, so DuckDB regenerates every
    sample from the closed form — a Rice, predictor, frame-header, or
    block-boundary slip moves a sum and fails the hash gate.  The
    `compressed` flag additionally pins that the stream is genuinely
    smaller than raw PCM (the encoder really rices, not stores)."""
    import pandas as pd

    def run(batches):
        from karta_spark.sources.flac import decode_flac, encode_flac
        for pdf in batches:
            rows = []
            for c in pdf["id"]:
                c = int(c)
                n = 4000 + 600 * c
                i = np.arange(n, dtype=np.int64)
                v = (i * (2 * c + 3)) % 4001 - 2000
                blob = encode_flac(v, 16000, bits=16, blocksize=1024)
                out, sr, bits = decode_flac(blob)
                s = out[:, 0].astype(np.int64)
                rows.append((c, len(s), int(s.sum()), int(s.min()),
                             int(s.max()),
                             bool(len(blob) < 2 * n) and sr == 16000
                             and bits == 16))
            yield pd.DataFrame(rows, columns=[
                "clip_id", "n_samples", "sum_v", "min_v", "max_v",
                "compressed"])

    schema = ("clip_id long, n_samples long, sum_v long, min_v long, "
              "max_v long, compressed boolean")
    return spark.range(6).repartition(6).mapInPandas(run, schema)


Q104_SQL = """
WITH s AS (
  SELECT c, (i * (2*c + 3)) % 4001 - 2000 AS v
  FROM range(6) t(c), range(7600) r(i)
  WHERE i < 4000 + 600 * c
)
SELECT CAST(c AS BIGINT) AS clip_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(v) AS BIGINT) AS sum_v,
       CAST(min(v) AS BIGINT) AS min_v,
       CAST(max(v) AS BIGINT) AS max_v,
       TRUE AS compressed
FROM s GROUP BY c
"""


def q105_zipshard_census(spark, sf_dir):
    """ZIP shard census (round 7): the other container training
    corpora ship in (Kaggle-style dumps, document archives) — same
    sample-key convention as WebDataset tar shards (q86), stdlib
    zipfile underneath (sources/zipshard.py).  Three shards of
    closed-form samples written to disk, re-read DISTRIBUTED
    (binaryFile: one task per shard, zero driver bytes), censused
    per shard.

    Value-oracle-exact: payload lengths are closed form over (shard,
    sample), so DuckDB regenerates byte sums — a member-grouping,
    deflate, or key-rule slip moves a sum and fails the hash gate."""
    import os
    import tempfile
    from karta_spark.sources.zipshard import (
        read_zipshard_distributed, write_zip_shard)
    root = os.path.join(tempfile.gettempdir(), "karta_q105_zip")
    os.makedirs(root, exist_ok=True)
    for sh in range(3):
        samples = []
        for i in range(10 + sh):
            samples.append({
                "__key__": f"{sh:02d}/{i:05d}",
                "jpg": bytes([(sh * 31 + i) % 251]) * (20 + (i * 7) % 33),
                "txt": (f"shard {sh} sample {i} "
                        + "c" * ((sh * 5 + i * 3) % 17)).encode()})
        with open(os.path.join(root, f"part-{sh}.zip"), "wb") as f:
            f.write(write_zip_shard(samples))
    rows = read_zipshard_distributed(spark, root)
    shard_id = F.regexp_extract(F.col("shard"), r"part-(\d+)\.zip", 1) \
        .cast("long")
    return (rows.groupBy(shard_id.alias("shard_id"))
            .agg(F.count("*").cast("long").alias("n_samples"),
                 F.sum(F.length("jpg")).alias("jpg_bytes"),
                 F.sum(F.length("txt")).alias("txt_bytes")))


Q105_SQL = """
WITH s AS (
  SELECT sh, i,
         20 + (i*7) % 33 AS jpg_len,
         length('shard ' || sh || ' sample ' || i || ' ')
           + (sh*5 + i*3) % 17 AS txt_len
  FROM range(3) t(sh), range(12) r(i)
  WHERE i < 10 + sh
)
SELECT CAST(sh AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(jpg_len) AS BIGINT) AS jpg_bytes,
       CAST(sum(txt_len) AS BIGINT) AS txt_bytes
FROM s GROUP BY sh
"""


def q106_audio_metadata_census(spark, sf_dir):
    """Audio METADATA census without decode (round 7): duration /
    bitrate / channel census over MP3 and Ogg (Opus + Vorbis) — the
    compressed formats whose full decode genuinely needs external
    codecs, but whose container metadata (what a corpus census needs)
    is exact from the frame/page structure (sources/audiometa.py:
    ID3v2 walk + MPEG frame-length arithmetic; Ogg page walk with
    CRC verification + OpusHead/Vorbis id headers, RFC 7845 pre-skip).
    Nine streams synthesized AND parsed executor-side.

    Value-oracle-exact: durations are integer microseconds from frame
    counts and granule positions — any frame-length, granule, or
    pre-skip slip moves duration_us and fails the hash gate."""
    import pandas as pd

    def run(batches):
        from karta_spark.sources.audiometa import (
            encode_mp3_frames, mp3_meta, ogg_meta, opus_head,
            vorbis_id_header, write_ogg)
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                if i % 3 == 0:
                    nf = 40 + i * 10
                    m = mp3_meta(encode_mp3_frames(
                        nf, 128, 44100, tags={"TIT2": f"track {i}"}))
                    us = m["n_frames"] * 1152 * 1_000_000 // m["sample_rate"]
                    rows.append((i, "mp3", m["n_frames"], us,
                                 m["channels"], m["tags"].get("TIT2")))
                elif i % 3 == 1:
                    gran = 4800 * (i + 1) + 312
                    m = ogg_meta(write_ogg(
                        [opus_head(2, 312), b"OpusTags", b"\x00" * 30,
                         b"\x00" * 30], granules=[0, 0, gran // 2, gran]))
                    samples = int(round(m["duration_s"] * 48000))
                    rows.append((i, m["codec"], m["n_pages"],
                                 samples * 1_000_000 // 48000,
                                 m["channels"], None))
                else:
                    gran = 22050 * (i + 1)
                    m = ogg_meta(write_ogg(
                        [vorbis_id_header(1, 22050), b"\x03vorbis",
                         b"x" * 12], granules=[0, 0, gran]))
                    samples = int(round(m["duration_s"] * m["sample_rate"]))
                    rows.append((i, m["codec"], m["n_pages"],
                                 samples * 1_000_000 // m["sample_rate"],
                                 m["channels"], None))
            yield pd.DataFrame(rows, columns=[
                "stream_id", "kind", "n_units", "duration_us",
                "channels", "title"])

    schema = ("stream_id long, kind string, n_units long, "
              "duration_us long, channels int, title string")
    return spark.range(9).repartition(3).mapInPandas(run, schema)


Q106_SQL = """
WITH s AS (
  SELECT i,
         CASE i % 3 WHEN 0 THEN 'mp3' WHEN 1 THEN 'opus'
                    ELSE 'vorbis' END AS kind,
         CASE i % 3 WHEN 0 THEN 40 + i*10 ELSE 4 - (i % 3 = 2)::INT
              END AS n_units,
         CASE i % 3
           WHEN 0 THEN (40 + i*10) * 1152 * 1000000 // 44100
           WHEN 1 THEN (4800 * (i + 1)) * 1000000 // 48000
           ELSE (22050 * (i + 1)) * 1000000 // 22050
         END AS duration_us,
         CASE i % 3 WHEN 0 THEN 2 WHEN 1 THEN 2 ELSE 1 END AS channels,
         CASE i % 3 WHEN 0 THEN 'track ' || i ELSE NULL END AS title
  FROM range(9) t(i)
)
SELECT CAST(i AS BIGINT) AS stream_id, kind,
       CAST(n_units AS BIGINT) AS n_units,
       CAST(duration_us AS BIGINT) AS duration_us,
       CAST(channels AS INT) AS channels, title
FROM s
"""


def q107_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter benchmark decontamination (round 7): the 100 TB
    shape of q51 — when the benchmark gram set outgrows a broadcast
    semi-join, a CONSTANT-size Bloom bitset (8M bits here) probes
    every corpus gram Arrow-batched, then the exact gram join verifies
    ONLY the candidate docs (operators/text.py
    bloom_contaminated_ids).  Zero false negatives by construction,
    false positives removed by the verify phase, so the output is
    bit-identical to the exact path at any scale.

    Value-oracle-exact: DuckDB recomputes the exact gram-overlap
    answer (the q51 shape, benchmark = doc_id % 13); a Bloom build
    (bit_or word aggregation), probe kernel, or verify slip flips a
    contamination flag and fails the hash gate."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 13 == 0)
    corpus = d.where(F.col("doc_id") % 13 != 0)
    bad = text.bloom_contaminated_ids(corpus, bench, "text", "doc_id",
                                      n=5, m_bits=1 << 23, k=5)
    return (corpus.join(bad.withColumnRenamed("id", "doc_id")
                        .withColumn("contaminated", F.lit(True)),
                        "doc_id", "left")
            .select("doc_id",
                    F.coalesce("contaminated",
                               F.lit(False)).alias("contaminated")))


Q107_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), doc_g AS (
  SELECT DISTINCT doc_id, array_to_string(t[CAST(i AS INT):CAST(i+4 AS INT)], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
  WHERE doc_id % 13 <> 0 AND len(t) >= 5
), bench_g AS (
  SELECT DISTINCT array_to_string(t[CAST(i AS INT):CAST(i+4 AS INT)], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
  WHERE doc_id % 13 = 0 AND len(t) >= 5
), bad AS (
  SELECT DISTINCT doc_id FROM doc_g WHERE g IN (SELECT g FROM bench_g)
)
SELECT d.doc_id, (bad.doc_id IS NOT NULL) AS contaminated
FROM documents d LEFT JOIN bad ON d.doc_id = bad.doc_id
WHERE d.doc_id % 13 <> 0
"""


def q109_bpe_roundtrip(spark, sf_dir):
    """BPE tokenizer roundtrip census (round 7): train 60 merges over
    the documents corpus (operators/bpe.py — word counting is the one
    distributed pass; the merge loop runs on the bounded distinct-word
    table, the production-trainer split; deterministic under any
    partitioning by count-desc/lexicographic tie-break), encode every
    document Arrow-batched, detokenize in PURE CATALYST
    (array_join + the </w> marker), and verify lossless reconstruction
    per document.

    Value-oracle-exact: the decoded text must equal the whitespace-
    normalized original, so DuckDB regenerates n_chars_decoded with
    regexp_replace and pins roundtrip_ok/tokens_ge_words TRUE — any
    merge-table, encoder, or marker slip breaks a row."""
    from karta_spark.operators import bpe
    d = _t(spark, sf_dir, "documents")
    merges = bpe.train_bpe(d, "text", n_merges=60)
    enc = bpe.encode_texts(d, "text", "doc_id", merges)
    dec = F.trim(F.regexp_replace(F.array_join("tokens", ""),
                                  "</w>", " "))
    norm = F.trim(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (enc.withColumnRenamed("id", "doc_id")
            .join(d.select("doc_id", "text"), "doc_id")
            .select("doc_id",
                    F.length(dec).cast("long").alias("n_chars_decoded"),
                    (dec == norm).alias("roundtrip_ok"),
                    (F.col("n_tokens") >= n_words.cast("long"))
                    .alias("tokens_ge_words")))


Q109_SQL = r"""
SELECT doc_id,
       CAST(length(regexp_replace(trim(text), '\s+', ' ', 'g'))
            AS BIGINT) AS n_chars_decoded,
       TRUE AS roundtrip_ok,
       TRUE AS tokens_ge_words
FROM documents
"""


def q110_image_quality_census(spark, sf_dir):
    """Image quality-filter statistics (round 7): the LAION-style
    corpus gate for image training data — brightness (mean luma),
    contrast (luma std), Laplacian variance (the standard blur
    metric), and luma-histogram entropy, per image, Arrow-batched
    over decoded pixels (multimodal.image_quality_stats).

    Value-oracle-exact: the synthetic pixels are the SQL-expressible
    hash (pixels_for_phash / pixel_hash_sql, the q36 machinery), the
    luma is the integer BT.601 sum, and the moment arithmetic uses a
    fixed IEEE op sequence on both engines, so DuckDB regenerates all
    four statistics to the rounded digit — any decode, stencil, or
    histogram slip moves a value and fails the hash gate.  (JPEG rows
    excluded: lossy decode has no SQL twin; pinned by q24/q59.)"""
    from karta_spark.sources import multimodal
    imgs = images.synth_images(spark, 24, partitions=4) \
        .where(F.col("fmt") != "jpeg")
    stats = multimodal.image_quality_stats(imgs)
    return stats.select(
        "image_id", "width", "height",
        F.round("aspect", 6).alias("aspect"),
        F.round("mean_luma", 6).alias("mean_luma"),
        F.round("std_luma", 6).alias("std_luma"),
        F.round("laplacian_var", 6).alias("laplacian_var"),
        F.round("entropy", 6).alias("entropy"))


def _q110_sql():
    from karta_spark.sources.images import pixel_hash_sql
    b = [pixel_hash_sql("phash", f"(y*16 + x)*3 + {c}") for c in range(3)]
    return f"""
WITH ids AS (
  SELECT CAST(i AS BIGINT) AS i FROM range(24) t(i) WHERE i % 3 != 2
), ph AS (
  SELECT i, (i * 2654435761) % 4294967296
           + ((i * 2246822519) % 2147483648) * 4294967296 AS phash
  FROM ids
), pix AS (
  SELECT i, CAST(y AS BIGINT) AS y, CAST(x AS BIGINT) AS x,
         299*({b[0]}) + 587*({b[1]}) + 114*({b[2]}) AS luma
  FROM ph, range(16) t(y), range(16) s(x)
), lap AS (
  SELECT p.i, 4*p.luma - u.luma - d.luma - l.luma - r.luma AS v
  FROM pix p
  JOIN pix u ON u.i = p.i AND u.y = p.y - 1 AND u.x = p.x
  JOIN pix d ON d.i = p.i AND d.y = p.y + 1 AND d.x = p.x
  JOIN pix l ON l.i = p.i AND l.y = p.y AND l.x = p.x - 1
  JOIN pix r ON r.i = p.i AND r.y = p.y AND r.x = p.x + 1
  WHERE p.y BETWEEN 1 AND 14 AND p.x BETWEEN 1 AND 14
), mom AS (
  SELECT i, sum(luma) AS s1, sum(luma*luma) AS s2 FROM pix GROUP BY i
), lmom AS (
  SELECT i, sum(v) AS s1, sum(v*v) AS s2 FROM lap GROUP BY i
), hist AS (
  SELECT i, luma // 1000 AS bin, count(*) AS c
  FROM pix GROUP BY i, luma // 1000
), ent AS (
  SELECT i, -sum((c/256.0) * log2(c/256.0)) AS entropy
  FROM hist GROUP BY i
)
SELECT 'img' || lpad(CAST(m.i AS VARCHAR), 12, '0') AS image_id,
       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       round(1.0, 6) AS aspect,
       round(CAST(m.s1 AS DOUBLE)/256/1000.0, 6) AS mean_luma,
       round(sqrt(greatest(
         (CAST(m.s2 AS DOUBLE)/256
          - (CAST(m.s1 AS DOUBLE)/256)*(CAST(m.s1 AS DOUBLE)/256))
         / 1000000.0, 0.0)), 6) AS std_luma,
       round((CAST(lm.s2 AS DOUBLE)/196
              - (CAST(lm.s1 AS DOUBLE)/196)*(CAST(lm.s1 AS DOUBLE)/196))
             / 1000000.0, 6) AS laplacian_var,
       round(e.entropy, 6) AS entropy
FROM mom m JOIN lmom lm ON lm.i = m.i JOIN ent e ON e.i = m.i
"""


def q113_main_content_extraction(spark, sf_dir):
    """Boilerplate removal census (round 7): the crawl-quality step
    between raw HTML→text (q79) and the C4/Gopher filters — block
    text-density extraction (operators/text.py main_content, the
    jusText/readability heuristic family: split on block tags, drop
    short and link-dense blocks).  40 synthetic pages with closed-form
    article paragraphs wrapped in nav/cookie-banner/footer boilerplate
    are extracted DISTRIBUTED; per page the kept-block count and
    content length must equal the designed article exactly.

    Value-oracle-exact: paragraph text lengths are closed form, so
    DuckDB regenerates content_chars — a block-split, link-density,
    entity, or whitespace slip moves a length and fails the gate."""
    from karta_spark.operators.text import main_content
    rows = []
    for d in range(40):
        paras = []
        for p in range((d % 4) + 1):
            body = "word " * (20 + (d * 3 + p) % 7)
            paras.append(f"<p>doc {d} paragraph {p} {body}</p>")
        html = (
            "<html><head><title>T</title><style>b{x}</style>"
            "<script>var n = 1;</script></head><body>"
            '<nav><a href="/">Home</a> <a href="/a">About</a> '
            '<a href="/c">Contact</a></nav>'
            '<div class="cookie">Accept cookies</div>'
            "<article>" + "".join(paras) + "</article>"
            '<footer><a href="/tos">Terms</a> | '
            '<a href="/priv">Privacy</a></footer></body></html>')
        rows.append((d, html))
    df = spark.createDataFrame(rows, "doc_id long, html string")
    out = main_content(df, "html", "doc_id")
    return out.select(F.col("id").alias("doc_id"),
                      F.col("n_blocks_kept").cast("long")
                      .alias("n_blocks_kept"),
                      F.length("content").cast("long")
                      .alias("content_chars"))


Q113_SQL = """
WITH paras AS (
  SELECT d, p,
         length('doc ' || d || ' paragraph ' || p || ' ')
           + 5 * (20 + (d*3 + p) % 7) - 1 AS plen
  FROM range(40) t(d), range(4) r(p)
  WHERE p < (d % 4) + 1
)
SELECT CAST(d AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_blocks_kept,
       CAST(sum(plen) + count(*) - 1 AS BIGINT) AS content_chars
FROM paras GROUP BY d
"""


def q114_tile_render_census(spark, sf_dir):
    """Tile-pyramid rendering census (round 7): the SERVING end of the
    tiling engine — a point table rendered into slippy-map PNG heatmap
    tiles (raster/render.py: pure-Catalyst per-pixel count reduction,
    shuffle bounded by lit pixels not points; applyInPandas
    rasterize + the from-scratch PNG encoder per tile), then each
    tile's PNG DECODED BACK executor-side to verify the raster.

    Value-oracle-exact: the points are closed form, the pixel math is
    the same c=128/π·2^z arithmetic as the tile SQL twins, and the
    tone map is integer, so DuckDB regenerates per-tile point/pixel/
    max counts; png_ok pins the encode→decode roundtrip (lit-pixel
    count and 255 peak) per tile."""
    from karta_spark.raster.render import render_point_tiles
    import pandas as pd
    pts = spark.range(4000).select(
        (F.lit(-170.0) + (F.col("id") % 34).cast("double") * 10.0
         + (F.col("id") % 7).cast("double") * 0.31).alias("lon"),
        (F.lit(-75.0) + (F.col("id") % 16).cast("double") * 9.5
         + (F.col("id") % 5).cast("double") * 0.27).alias("lat"))
    tiles = render_point_tiles(pts, "lon", "lat", zoom=2)

    def verify(batches):
        from karta_spark.sources.images import decode_image
        for pdf in batches:
            ok = []
            for png, n_pix, mx in zip(pdf["png"], pdf["n_pixels"],
                                      pdf["max_count"]):
                pix = decode_image(bytes(png), "png")[:, :, 0]
                ok.append(bool((pix > 0).sum() == n_pix
                               and (int(pix.max()) == 255) == (mx > 0)))
            out = pdf[["z", "tx", "ty", "n_points", "n_pixels",
                       "max_count"]].copy()
            out["png_ok"] = ok
            yield out

    return tiles.mapInPandas(
        verify, "z int, tx long, ty long, n_points long, "
                "n_pixels long, max_count long, png_ok boolean")


def _q114_sql():
    from karta_spark.functions.cells import tile_x_sql  # noqa: F401
    import math
    c = repr(128.0 / math.pi * 4.0)  # zoom 2, tile_px 256
    return f"""
WITH pts AS (
  SELECT -170.0 + (i % 34) * 10.0 + (i % 7) * 0.31 AS lon,
         -75.0 + (i % 16) * 9.5 + (i % 5) * 0.27 AS lat
  FROM range(4000) t(i)
), gp AS (
  SELECT CAST(floor({c} * (radians(lon) + pi())) AS BIGINT) AS gx,
         CAST(floor({c} * (pi() - ln(tan(pi()/4.0 + radians(lat)/2.0))))
              AS BIGINT) AS gy
  FROM pts
  WHERE lat > -85.05112878 AND lat < 85.05112878
    AND lon >= -180.0 AND lon <= 180.0
), clamped AS (
  SELECT least(gx, 1023) AS gx, least(gy, 1023) AS gy FROM gp
), lit AS (
  SELECT gx // 256 AS tx, gy // 256 AS ty, gx % 256 AS px,
         gy % 256 AS py, count(*) AS cnt
  FROM clamped GROUP BY 1, 2, 3, 4
)
SELECT CAST(2 AS INT) AS z, tx, ty,
       CAST(sum(cnt) AS BIGINT) AS n_points,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(max(cnt) AS BIGINT) AS max_count,
       TRUE AS png_ok
FROM lit GROUP BY tx, ty
"""


_Q115_SNIPPETS = [
    ("def main(argv):\n    import sys\n    return 0\n", "python"),
    ("#!/usr/bin/env python3\nimport os\nprint(os.sep)\n", "python"),
    ("const x = 1;\nconst f = (a) => { return a; };\n", "javascript"),
    ("package com.example.app;\npublic class Main { public static "
     "void main(String[] a) { System.out.println(1); } }", "java"),
    ("#include <stdio.h>\nint main(void) { return 0; }\n", "c"),
    ("package main\nfunc Run() { x := 1; _ = x }\n", "go"),
    ("use std::io;\nfn main() { let mut x = 1; }\n", "rust"),
    ("SELECT a, b FROM t WHERE x > 1", "sql"),
    ("#!/bin/bash\nexport FOO=1\necho hi\n", "shell"),
    ("<!DOCTYPE html><html><body><p>x</p></body></html>", "html"),
    ("The quick brown fox jumps over the lazy dog. It was bright.",
     "prose"),
    ("we discussed the function of the committee and its import",
     "prose"),
]


def q115_code_language_routing(spark, sf_dir):
    """Code-vs-prose corpus routing (round 7): training pipelines
    split code from natural language before choosing tokenizers and
    quality filters; operators/text.py code_language classifies by
    per-language signature-regex hit counts — PURE CATALYST (zero
    shuffle at any scale), with an RE2-safe chain the DuckDB twin
    (code_language_sql) runs verbatim.

    Value-oracle-exact: 120 rows cycle 12 designed snippets (9
    languages + 2 prose foils using code-ish words); BOTH engines
    classify the regenerated literal strings, so any regex or
    threshold divergence flips a lang and fails the hash gate."""
    from karta_spark.operators.text import code_language
    rows = [(i, _Q115_SNIPPETS[i % 12][0] + f"\nzz{i}")
            for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return (df.select("doc_id",
                      code_language(F.col("text")).alias("lang"))
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.min("doc_id").alias("first_doc")))


def _q115_sql():
    from karta_spark.operators.text import code_language_sql
    branches = " ".join(
        "WHEN {} THEN '{}'".format(k, s.replace("'", "''")
                                   .replace("\n", "' || chr(10) || '"))
        for k, (s, _) in enumerate(_Q115_SNIPPETS))
    return f"""
WITH docs AS (
  SELECT CAST(i AS BIGINT) AS doc_id,
         (CASE i % 12 {branches} END) || chr(10) || 'zz' || i AS text
  FROM range(120) t(i)
), langs AS (
  SELECT doc_id, {code_language_sql('text')} AS lang FROM docs
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM langs GROUP BY lang
"""


def q116_pq_adc_topk(spark, sf_dir):
    """Product-quantization ADC top-k (round 7): the billion-scale ANN
    storage format — 64 floats compress to 8 subspace codes; queries
    build one integer lookup table each and every candidate distance
    is 8 table lookups (operators/similarity.py pq_encode /
    pq_adc_topk, pure Catalyst).  This is IVF-PQ's inner loop; at
    corpus scale it composes with ivf_topk_static probe lists.

    Value-oracle-exact with NO float caveats: quantized vectors x
    static integer codebooks make assignment and ADC distances
    BIGINT-exact, so DuckDB reproduces codes, distances, and the full
    ranking bit-for-bit (pq_adc_sql runs the identical algebra)."""
    e = _t(spark, sf_dir, "embeddings")
    queries_df = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"))
    vectors = e.where(F.col("vec_id") >= 5)
    return similarity.pq_adc_topk(vectors, queries_df, k=5, dim=64, m=8)


def q117_simplify_dp(spark, sf_dir):
    """Douglas–Peucker simplification (round 7): zoom-dependent
    geometry for the tile pyramid (q114) — six closed-form sawtooth
    polylines of 40 vertices simplified at eps=3 via the per-geometry
    applyInPandas stack (functions/geometry.py simplify_dp), returning
    the kept vertex rows.

    Value-oracle-exact against a RECURSIVE-CTE DuckDB twin that runs
    the actual DP algorithm (interval splitting on max perpendicular
    deviation, strict > eps, ties to the lowest index — kept set =
    every interval endpoint the recursion generates): identical
    deviation algebra per row, so any split-rule or tie-break
    divergence changes the kept set and fails the hash gate."""
    from karta_spark.functions.geometry import simplify_dp
    base = spark.range(6).select(F.col("id").alias("g")) \
        .crossJoin(spark.range(40).select(F.col("id").alias("i")))
    pts = base.select(
        F.col("g").alias("geom_id"), F.col("i").alias("idx"),
        F.col("i").cast("double").alias("x"),
        ((F.col("i") * F.col("i") * 7 + F.col("g") * 13) % 23 - 11)
        .cast("double").alias("y"))
    out = simplify_dp(pts, eps=3.0)
    return out.select("geom_id", "idx", "x", "y")


Q117_SQL = """
WITH RECURSIVE pts AS (
  SELECT g, i, CAST(i AS DOUBLE) AS x,
         CAST((i*i*7 + g*13) % 23 - 11 AS DOUBLE) AS y
  FROM range(6) t(g), range(40) s(i)
), split(g, lo, hi) AS (
  SELECT g, 0, 39 FROM range(6) t(g)
  UNION ALL
  SELECT q.g,
         CASE sd.side WHEN 0 THEN q.lo ELSE q.k END,
         CASE sd.side WHEN 0 THEN q.k ELSE q.hi END
  FROM (
    SELECT s.g, s.lo, s.hi, b.k
    FROM split s
    JOIN pts a ON a.g = s.g AND a.i = s.lo
    JOIN pts c ON c.g = s.g AND c.i = s.hi
    JOIN LATERAL (
      SELECT p.i AS k,
             CASE WHEN a.x = c.x AND a.y = c.y
                  THEN sqrt((p.x-a.x)*(p.x-a.x) + (p.y-a.y)*(p.y-a.y))
                  ELSE abs((c.x-a.x)*(a.y-p.y) - (a.x-p.x)*(c.y-a.y))
                       / sqrt((c.x-a.x)*(c.x-a.x) + (c.y-a.y)*(c.y-a.y))
             END AS dev
      FROM pts p WHERE p.g = s.g AND p.i > s.lo AND p.i < s.hi
      ORDER BY dev DESC, p.i ASC LIMIT 1
    ) b ON b.dev > 3.0
    WHERE s.hi - s.lo > 1
  ) q
  CROSS JOIN (VALUES (0), (1)) sd(side)
)
SELECT CAST(p.g AS BIGINT) AS geom_id, CAST(p.i AS BIGINT) AS idx,
       p.x, p.y
FROM pts p
WHERE EXISTS (SELECT 1 FROM split s
              WHERE s.g = p.g AND (s.lo = p.i OR s.hi = p.i))
"""


def q118_snapshot_time_travel(spark, sf_dir):
    """Snapshot-table time travel (round 7): the north rule checkpoints
    to Iceberg; plans/snapshots.py implements the Iceberg PROPERTIES on
    plain parquet — manifest-isolated reads (orphan files invisible),
    O_EXCL-atomic version commits, append-only history.  Three commits
    of closed-form data (append, append, overwrite), plus a planted
    ORPHAN parquet in data/, then every version is read back and
    censused.

    Value-oracle-exact: per-version row counts and value sums derive
    from the closed forms alone — a manifest-listing, pointer-flip, or
    isolation slip (orphan rows leaking in) moves a sum and fails the
    hash gate."""
    import os
    import shutil
    import tempfile
    from karta_spark.plans.snapshots import SnapshotTable
    root = os.path.join(tempfile.gettempdir(), "karta_q118_snap")
    shutil.rmtree(root, ignore_errors=True)
    t = SnapshotTable(root)
    d1 = spark.range(100).select(F.col("id").alias("v"))
    d2 = spark.range(100, 160).select(F.col("id").alias("v"))
    d3 = spark.range(1000, 1020).select(F.col("id").alias("v"))
    t.append(d1)
    t.append(d2)
    t.overwrite(d3)
    # planted orphan: must stay invisible to every read
    spark.range(5000, 5100).select(F.col("id").alias("v")) \
        .write.parquet(os.path.join(t.data_dir, "orphan"))
    out = None
    for ver in (1, 2, 3):
        c = (t.read(spark, ver)
             .agg(F.count("*").cast("long").alias("n_rows"),
                  F.sum("v").cast("long").alias("sum_v"))
             .select(F.lit(ver).alias("version"), "n_rows", "sum_v"))
        out = c if out is None else out.unionByName(c)
    return out


Q118_SQL = """
SELECT 1 AS version, CAST(100 AS BIGINT) AS n_rows,
       CAST(4950 AS BIGINT) AS sum_v
UNION ALL
SELECT 2, 160, 4950 + (100 + 159) * 60 // 2
UNION ALL
SELECT 3, 20, (1000 + 1019) * 20 // 2
"""


def q120_jpeg_quality_estimate(spark, sf_dir):
    """JPEG encoder-quality recovery (round 7): the standard corpus
    quality signal — the IJG quality knob is recoverable from the DQT
    table alone, no pixel decode (sources/jpeg.py
    estimate_jpeg_quality: nearest Annex-K scaling in L1, exact_match
    when bit-for-bit).  84 images encoded executor-side at seven known
    qualities, estimated distributed, censused per true quality.

    Value-oracle-exact: estimates must equal the encoding quality with
    exact_match TRUE for every IJG-scaled stream, so DuckDB states the
    census from the closed form — any DQT-parse or scaling slip moves
    n_correct and fails the gate."""
    import pandas as pd
    quals = (10, 30, 50, 70, 85, 95, 100)

    def run(batches):
        from karta_spark.sources.images import pixels_for_phash
        from karta_spark.sources.jpeg import (encode_jpeg_baseline,
                                              estimate_jpeg_quality)
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                q = quals[i % 7]
                pix = pixels_for_phash(i * 2654435761 % (1 << 48),
                                       32, 32)
                est, exact = estimate_jpeg_quality(
                    encode_jpeg_baseline(pix, q))
                rows.append((i, q, est, exact))
            yield pd.DataFrame(rows, columns=["img_id", "true_q",
                                              "est_q", "exact"])

    ests = spark.range(84).repartition(4).mapInPandas(
        run, "img_id long, true_q int, est_q int, exact boolean")
    return (ests.groupBy("true_q")
            .agg(F.count("*").cast("long").alias("n_images"),
                 F.sum((F.col("est_q") == F.col("true_q")).cast("long"))
                 .alias("n_correct"),
                 F.sum(F.col("exact").cast("long")).alias("n_exact")))


Q120_SQL = """
SELECT CAST(q AS INT) AS true_q, CAST(12 AS BIGINT) AS n_images,
       CAST(12 AS BIGINT) AS n_correct, CAST(12 AS BIGINT) AS n_exact
FROM (VALUES (10), (30), (50), (70), (85), (95), (100)) t(q)
"""


def q121_mojibake_repair(spark, sf_dir):
    """Mojibake repair census (round 7): UTF-8-read-as-latin-1 damage
    ('café' -> 'cafÃ©') is the most common encoding corruption in
    crawled corpora; operators/text.py fix_mojibake repairs it by the
    ftfy-style roundtrip criterion (re-encode cp1252/latin-1, accept
    only valid-UTF-8 decodes), plus NFC and control stripping.  Sixty
    closed-form accented strings are BROKEN Spark-side (encode utf-8 /
    decode latin-1 — half of them twice) and repaired distributed; the
    output strings hash-compare against DuckDB's regenerated CLEAN
    text.

    Any repair-criterion, double-pass, or normalization slip changes a
    string and fails the hash gate."""
    import pandas as pd
    from karta_spark.operators.text import fix_mojibake_texts

    def synth(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                clean = (f"café {i} número – äöü € "
                         + "x" * (i % 7))
                broken = clean.encode("utf-8").decode("latin-1")
                if i % 2:
                    broken = broken.encode("utf-8").decode("latin-1")
                rows.append((i, broken))
            yield pd.DataFrame(rows, columns=["doc_id", "text"])

    docs = spark.range(60).repartition(4).mapInPandas(
        synth, "doc_id long, text string")
    out = fix_mojibake_texts(docs, "text", "doc_id")
    return out.select(F.col("id").alias("doc_id"), "text", "changed")


Q121_SQL = """
SELECT CAST(i AS BIGINT) AS doc_id,
       'café ' || i || ' número – äöü € ' || repeat('x', i % 7) AS text,
       TRUE AS changed
FROM range(60) t(i)
"""


def q122_blocklist_filter(spark, sf_dir):
    """Aho–Corasick blocklist filter (round 7): the C4-style badwords
    / blocked-URL step at the pattern counts where a regex union dies
    — the broadcast automaton scans each document ONCE regardless of
    pattern count (operators/text.py AhoCorasick, verified against
    brute force by a 300-case fuzz test).  Blocked terms are planted
    into the documents table by a closed form; matching runs over the
    automaton, the oracle re-derives every hit with substring
    contains() on the identically-regenerated text.

    Value-oracle-exact: per-doc hit count, hit-id sum, and blocked
    flag — a goto/failure-link or output-merge slip changes a hit set
    and fails the hash gate."""
    from karta_spark.operators.text import blocklist_hits
    pats = ["blockedterm0", "blockedterm1", "blockedterm2",
            "zzneverzz"]
    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" blockedterm"),
                            (F.col("doc_id") % 3).cast("string")))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit(" BLOCKEDTERM1")).otherwise(F.lit("")))
        .alias("text"))
    out = blocklist_hits(planted, "text", "doc_id", pats)
    return out.select(
        F.col("id").alias("doc_id"), F.col("n_hits").cast("long")
        .alias("n_hits"),
        F.coalesce(F.aggregate("hit_ids", F.lit(0).cast("long"),
                               lambda a, x: a + x.cast("long")),
                   F.lit(0).cast("long")).alias("hit_id_sum"),
        "blocked")


Q122_SQL = """
WITH planted AS (
  SELECT doc_id,
         lower(text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' blockedterm' || (doc_id % 3)
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' BLOCKEDTERM1' ELSE '' END) AS t
  FROM documents
), hits AS (
  SELECT doc_id,
         [k FOR k IN [0, 1, 2, 3]
            IF contains(t, CASE k WHEN 0 THEN 'blockedterm0'
                                  WHEN 1 THEN 'blockedterm1'
                                  WHEN 2 THEN 'blockedterm2'
                                  ELSE 'zzneverzz' END)] AS ids
  FROM planted
)
SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_hits,
       CAST(coalesce(list_sum(ids), 0) AS BIGINT) AS hit_id_sum,
       len(ids) > 0 AS blocked
FROM hits
"""


def q123_semantic_dedup(spark, sf_dir):
    """SemDeDup semantic deduplication (round 7, Abbas et al. 2023):
    cluster the embeddings table on the exact-integer static codebook
    (the q49 assignment), then within each cluster drop any vector
    whose cosine to a LOWER-id member reaches the threshold — the
    clustering makes the quadratic comparison local (self-join keys on
    cluster id; cost = Σ cluster² not corpus²), which is the entire
    scale story of the method.

    Value-oracle-exact: cluster assignment is integer argmin and the
    keep rule is a deterministic EXISTS over exact cosines, so DuckDB
    reproduces every (cluster, kept) row; threshold 0.6 sits far from
    any pair's cosine (no boundary floats)."""
    from karta_spark.operators.dedup import semantic_dedup
    e = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(e, "embedding", "vec_id", threshold=0.6,
                         dim=64)
    return out.select(F.col("id").alias("vec_id"),
                      F.col("cluster").cast("long").alias("cluster"),
                      "kept")


def _q123_sql():
    from karta_spark.operators.similarity import (_Q_SCALE,
                                                  static_codebook)
    codebook = static_codebook(8, 64, 19)
    s = (f"list_transform(CAST(embedding AS DOUBLE[]), "
         f"x -> floor(x * {_Q_SCALE}))")
    ss = f"list_dot_product({s}, {s})"
    dts = []
    for cj in codebook:
        lit = "[" + ", ".join(f"{float(v):.1f}" for v in cj) + "]::DOUBLE[]"
        cc = float(sum(v * v for v in cj))
        dts.append(f"({ss} - 2.0*list_dot_product({s}, {lit}) + {cc})")
    darr = "[" + ", ".join(dts) + "]"
    return f"""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS ev,
         list_position({darr}, list_min({darr})) - 1 AS cluster
  FROM embeddings
), dup AS (
  SELECT DISTINCT b.id
  FROM v a JOIN v b ON a.cluster = b.cluster AND a.id < b.id
  WHERE list_dot_product(a.ev, b.ev)
        / (sqrt(list_dot_product(a.ev, a.ev))
           * sqrt(list_dot_product(b.ev, b.ev))) >= 0.6
)
SELECT v.id AS vec_id, CAST(v.cluster AS BIGINT) AS cluster,
       (dup.id IS NULL) AS kept
FROM v LEFT JOIN dup ON v.id = dup.id
"""


def q124_lm_perplexity_filter(spark, sf_dir):
    """Char-trigram LM perplexity filtering (round 7): the KenLM-style
    quality signal — train an add-1 trigram model on the reference
    slice (doc_id % 17 == 0, the q51 benchmark convention) in one
    distributed pass, score every other document's mean NLL via a
    broadcast join.  Log-probs are INTEGER MICRO-NATS, so per-doc
    sums are exact and partition-order-free (no float-summation
    nondeterminism — the discipline that makes this oracle-exact).

    DuckDB retrains and rescores with the identical algebra: any
    smoothing, normalization, gram-window, or unseen-bucket slip moves
    an nll and fails the hash gate."""
    d = _t(spark, sf_dir, "documents")
    ref = d.where(F.col("doc_id") % 17 == 0)
    rest = d.where(F.col("doc_id") % 17 != 0)
    model, default = text.train_char_lm(ref, "text", n=3, k=1.0)
    out = text.lm_nll(rest, "text", "doc_id", model, default, n=3)
    return out.select(F.col("id").alias("doc_id"), "n_grams", "nll")


Q124_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
), ref_g AS (
  SELECT substr(t, CAST(i AS INT), 3) AS gram
  FROM norm, UNNEST(range(1, length(t) - 1)) u(i)
  WHERE doc_id % 17 = 0
), counts AS (
  SELECT gram, count(*) AS c FROM ref_g GROUP BY gram
), tot AS (
  SELECT sum(c) AS total, count(*) AS v FROM counts
), model AS (
  SELECT gram,
         CAST(round(ln((c + 1.0) / (total + 1.0 * (v + 1))) * 1e6, 0)
              AS BIGINT) AS logp_micro
  FROM counts, tot
), dflt AS (
  SELECT CAST(round(ln(1.0 / (total + 1.0 * (v + 1))) * 1e6, 0)
              AS BIGINT) AS d
  FROM tot
), doc_g AS (
  SELECT doc_id, substr(t, CAST(i AS INT), 3) AS gram
  FROM norm, UNNEST(range(1, length(t) - 1)) u(i)
  WHERE doc_id % 17 <> 0
), scored AS (
  SELECT g.doc_id, coalesce(m.logp_micro, (SELECT d FROM dflt)) AS lp
  FROM doc_g g LEFT JOIN model m ON g.gram = m.gram
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       round(CAST(-sum(lp) AS DOUBLE) / count(*) / 1e6, 6) AS nll
FROM scored GROUP BY doc_id
"""


def q126_sentence_segmentation(spark, sf_dir):
    """Sentence segmentation census (round 7): the chunking step
    before sequence packing (q61) — rule-based splitting with
    abbreviation / initial / decimal protection (operators/text.py
    split_sentences; fixed rules so replicas chunk identically).
    Fifty documents built from closed-form sentences, WITH planted
    'Dr.' abbreviations and decimals that must NOT split, segmented
    distributed and censused per doc.

    Value-oracle-exact: the designed sentence count and per-sentence
    lengths are closed form, so DuckDB regenerates both — a boundary,
    abbreviation, or decimal-guard slip changes a count and fails."""
    from karta_spark.operators.text import sentence_split
    rows = []
    for d in range(50):
        sents = []
        for k in range((d % 4) + 2):
            sents.append(f"Sentence {k} of doc {d} has "
                         + "w" * ((d * 3 + k * 5) % 9 + 1)
                         + (" by Dr. Smith near 3.14 yes." if k % 2
                            else " plain words."))
        rows.append((d, " ".join(sents)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sentence_split(df, "text", "doc_id")
    return (out.groupBy(F.col("id").alias("doc_id"))
            .agg(F.count("*").cast("long").alias("n_sentences"),
                 F.sum(F.col("n_chars").cast("long"))
                 .alias("total_chars")))


Q126_SQL = """
WITH s AS (
  SELECT d, k,
         length('Sentence ' || k || ' of doc ' || d || ' has ')
           + (d*3 + k*5) % 9 + 1
           + length(CASE WHEN k % 2 = 1
                         THEN ' by Dr. Smith near 3.14 yes.'
                         ELSE ' plain words.' END) AS slen
  FROM range(50) t(d), range(5) r(k)
  WHERE k < (d % 4) + 2
)
SELECT CAST(d AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(sum(slen) AS BIGINT) AS total_chars
FROM s GROUP BY d
"""


def q127_subtitle_census(spark, sf_dir):
    """Subtitle parsing census (round 7): SRT + WebVTT cue extraction
    (sources/subtitles.py — timestamp grammar incl. no-hour VTT,
    NOTE/STYLE skip, inline-tag stripping), the aligned-transcript
    layer of video corpora.  Ten files (odd ids VTT, even SRT) of
    closed-form cues parsed distributed and censused per file.

    Value-oracle-exact: cue timings and text lengths are closed form,
    so DuckDB regenerates duration sums — a timestamp-parse, block-
    split, or tag-strip slip moves a value and fails the gate."""
    from karta_spark.sources.subtitles import (subtitles_distributed,
                                               write_srt, write_vtt)
    rows = []
    for s in range(10):
        cues = []
        for k in range((s % 3) + 2):
            start = s * 10000 + k * 2000
            end = start + 1500 + (k % 3) * 100
            cues.append((start, end,
                         f"cue {k} of sub {s} <i>x</i> "
                         + "t" * ((s + k) % 5)))
        rows.append((s, bytearray(write_vtt(cues) if s % 2
                                  else write_srt(cues))))
    docs = spark.createDataFrame(rows, "sub_id long, content binary")
    out = subtitles_distributed(docs).where(F.col("err").isNull())
    return (out.groupBy("sub_id")
            .agg(F.count("*").cast("long").alias("n_cues"),
                 F.sum(F.col("end_ms") - F.col("start_ms"))
                 .alias("total_ms"),
                 F.sum(F.length("text").cast("long"))
                 .alias("text_chars")))


Q127_SQL = """
WITH c AS (
  SELECT s, k, 1500 + (k % 3) * 100 AS dur,
         -- '<i>x</i>' strips to 'x'; trailing 't'*n may be empty, in
         -- which case the normalizer drops the trailing space
         length('cue ' || k || ' of sub ' || s || ' x') AS base,
         (s + k) % 5 AS extra
  FROM range(10) t(s), range(4) r(k)
  WHERE k < (s % 3) + 2
)
SELECT CAST(s AS BIGINT) AS sub_id,
       CAST(count(*) AS BIGINT) AS n_cues,
       CAST(sum(dur) AS BIGINT) AS total_ms,
       CAST(sum(base + CASE WHEN extra > 0 THEN extra + 1 ELSE 0 END)
            AS BIGINT) AS text_chars
FROM c GROUP BY s
"""


def q128_audio_segments(spark, sf_dir):
    """Energy-based audio segmentation census (round 7): VAD-style
    silence trimming before ASR-style training (sources/av.py
    energy_segments — int64-exact frame energies, so boundaries are
    bit-reproducible).  Six closed-form int16 clips with designed
    voiced runs (3 voiced frames every 9; the truncated final run must
    be DROPPED by min_frames) are segmented executor-side.

    Value-oracle-exact: DuckDB states every (clip, segment) row from
    the design — a framing, threshold, or run-merge slip changes the
    segment set and fails the gate."""
    import pandas as pd

    def run(batches):
        from karta_spark.sources.av import energy_segments
        for pdf in batches:
            rows = []
            for c in pdf["id"]:
                c = int(c)
                x = np.zeros(2000, np.int16)
                f = np.arange(100)
                for fr in f[(f % 9) < 3]:
                    x[fr * 20:(fr + 1) * 20] = 2000 + c * 10
                for k, (a, b) in enumerate(energy_segments(
                        x, 1000, frame_ms=20, threshold=10**6,
                        min_frames=2)):
                    rows.append((c, k, a, b))
            yield pd.DataFrame(rows, columns=["clip_id", "seg",
                                              "start", "end"])

    return spark.range(6).repartition(3).mapInPandas(
        run, "clip_id long, seg int, start long, end long")


Q128_SQL = """
-- voiced frames: f % 9 < 3 over 100 frames of 20 samples; runs k=0..10
-- are full (frames 9k..9k+2); the k=11 run is the single frame 99 and
-- drops below min_frames
SELECT CAST(c AS BIGINT) AS clip_id, CAST(k AS INT) AS seg,
       CAST(k * 180 AS BIGINT) AS start,
       CAST(k * 180 + 60 AS BIGINT) AS "end"
FROM range(6) t(c), range(11) r(k)
"""


def q129_snapshot_compaction(spark, sf_dir):
    """Small-files compaction as a snapshot commit (round 7): the
    long-running-append problem — three 5-file appends then
    compact(target_files=2) rewrite the same rows under a new
    manifest while every pinned older version keeps its exact file
    list (plans/snapshots.py compact).

    Value-oracle-exact: per-version row counts, value sums, and file
    counts are fully determined (coalesce(2) of non-empty input
    yields exactly 2 files); a manifest or rewrite slip moves a sum
    and fails the gate."""
    import os
    import shutil
    import tempfile
    from karta_spark.plans.snapshots import SnapshotTable
    root = os.path.join(tempfile.gettempdir(), "karta_q129_snap")
    shutil.rmtree(root, ignore_errors=True)
    t = SnapshotTable(root)
    for k in range(3):
        t.append(spark.range(k * 100, k * 100 + 100)
                 .select(F.col("id").alias("v")).repartition(5))
    t.compact(spark, target_files=2)
    out = None
    for ver in (1, 2, 3, 4):
        m = t.manifest(ver)
        c = (t.read(spark, ver)
             .agg(F.count("*").cast("long").alias("n_rows"),
                  F.sum("v").cast("long").alias("sum_v"))
             .select(F.lit(ver).alias("version"), "n_rows", "sum_v",
                     F.lit(len(m["files"])).cast("long")
                     .alias("n_files"),
                     F.lit(m["operation"]).alias("operation")))
        out = c if out is None else out.unionByName(c)
    return out


Q129_SQL = """
SELECT 1 AS version, CAST(100 AS BIGINT) AS n_rows,
       CAST(4950 AS BIGINT) AS sum_v, CAST(5 AS BIGINT) AS n_files,
       'append' AS operation
UNION ALL SELECT 2, 200, (0 + 199) * 200 // 2, 10, 'append'
UNION ALL SELECT 3, 300, (0 + 299) * 300 // 2, 15, 'append'
UNION ALL SELECT 4, 300, (0 + 299) * 300 // 2, 2, 'compact'
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_revenue_by_nation": q02_revenue_by_nation,
        "q03_top_customers": q03_top_customers,
        "q04_cumulative_spend": q04_cumulative_spend,
        "q05_order_gaps": q05_order_gaps,
        "q06_tile_assign": q06_tile_assign,
        "q07_pip_heptagon": q07_pip_heptagon,
        "q08_within_radius": q08_within_radius,
        "q09_knn": q09_knn,
        "q10_bbox_by_nation": q10_bbox_by_nation,
        "q11_gridpoints": q11_gridpoints,
        "q12_nearest_vertex": q12_nearest_vertex,
        "q13_path_length": q13_path_length,
        "q14_dedup_exact": q14_dedup_exact,
        "q15_text_stats": q15_text_stats,
        "q16_fingerprint_distinct": q16_fingerprint_distinct,
        "q17_ngram_jaccard": q17_ngram_jaccard,
        "q18_cosine_topk": q18_cosine_topk,
        "q19_embedding_neardup": q19_embedding_neardup,
        "q20_events_window": q20_events_window,
        "q21_minhash_pairs": q21_minhash_pairs,
        "q22_simhash_pairs": q22_simhash_pairs,
        "q23_lsh_topk": q23_lsh_topk,
        "q24_image_decode": q24_image_decode,
        "q25_pip_join_full": q25_pip_join_full,
        "q26_customers_no_orders": q26_customers_no_orders,
        "q27_revenue_rollup": q27_revenue_rollup,
        "q28_merge_point_sets": q28_merge_point_sets,
        "q29_affine_transform": q29_affine_transform,
        "q30_tile_pyramid": q30_tile_pyramid,
        "q31_sessionize": q31_sessionize,
        "q32_raster_sample_cells": q32_raster_sample_cells,
        "q33_slope_stats": q33_slope_stats,
        "q34_geographic_bbox": q34_geographic_bbox,
        "q35_distance_join": q35_distance_join,
        "q36_image_feature_buckets": q36_image_feature_buckets,
        "q37_webmercator": q37_webmercator,
        "q38_utm_reproject": q38_utm_reproject,
        "q39_affine_fit": q39_affine_fit,
        "q40_seeded_within_polygon": q40_seeded_within_polygon,
        "q41_seeded_touching": q41_seeded_touching,
        "q42_duplicate_clusters": q42_duplicate_clusters,
        "q43_zonal_stats": q43_zonal_stats,
        "q44_audio_stats": q44_audio_stats,
        "q45_video_frames": q45_video_frames,
        "q46_tfidf_terms": q46_tfidf_terms,
        "q47_stratified_sample": q47_stratified_sample,
        "q48_geodesic_area": q48_geodesic_area,
        "q49_ivf_static": q49_ivf_static,
        "q50_pip_many_polys": q50_pip_many_polys,
        "q51_decontaminate": q51_decontaminate,
        "q52_cluster_representatives": q52_cluster_representatives,
        "q53_repetition_filter": q53_repetition_filter,
        "q54_pip_table_join": q54_pip_table_join,
        "q55_nad27_reproject": q55_nad27_reproject,
        "q56_scanline_mask_census": q56_scanline_mask_census,
        "q57_resize_census": q57_resize_census,
        "q58_phash_neardup": q58_phash_neardup,
        "q59_jpeg_modes_census": q59_jpeg_modes_census,
        "q60_geotiff_window_census": q60_geotiff_window_census,
        "q61_sequence_packing": q61_sequence_packing,
        "q62_token_budget_mixture": q62_token_budget_mixture,
        "q63_jpeg_tiff_census": q63_jpeg_tiff_census,
        "q64_pii_redaction": q64_pii_redaction,
        "q65_lcc_stateplane": q65_lcc_stateplane,
        "q66_repeated_spans": q66_repeated_spans,
        "q67_modis_tiles": q67_modis_tiles,
        "q68_world_mercator": q68_world_mercator,
        "q69_clip_repeated_spans": q69_clip_repeated_spans,
        "q70_aeqd_range_rings": q70_aeqd_range_rings,
        "q71_g4_document_census": q71_g4_document_census,
        "q72_etrs89_laea_grid": q72_etrs89_laea_grid,
        "q73_rso_borneo": q73_rso_borneo,
        "q74_rd_new_grid": q74_rd_new_grid,
        "q75_krovak_sjtsk": q75_krovak_sjtsk,
        "q76_url_canonical_dedup": q76_url_canonical_dedup,
        "q77_png_variants_census": q77_png_variants_census,
        "q78_gif_frame_sampling": q78_gif_frame_sampling,
        "q79_html_extraction": q79_html_extraction,
        "q80_webp_variants_census": q80_webp_variants_census,
        "q81_g711_audio_census": q81_g711_audio_census,
        "q82_webp_cog_census": q82_webp_cog_census,
        "q83_line_dedup": q83_line_dedup,
        "q86_webdataset_census": q86_webdataset_census,
        "q87_exif_gps_tiles": q87_exif_gps_tiles,
        "q88_apng_frame_sampling": q88_apng_frame_sampling,
        "q89_geohash_census": q89_geohash_census,
        "q90_robust_ingest_census": q90_robust_ingest_census,
        "q91_c4_clean": q91_c4_clean,
        "q92_multipage_document_census": q92_multipage_document_census,
        "q93_gopher_rules": q93_gopher_rules,
        "q94_vp8_lossy_census": q94_vp8_lossy_census,
        "q96_ivf_trained_determinism": q96_ivf_trained_determinism,
        "q97_oblique_stere_grid": q97_oblique_stere_grid,
        "q98_eqdc_conus": q98_eqdc_conus,
        "q99_multimodal_pipeline_resume": q99_multimodal_pipeline_resume,
        "q100_zstd_lzma_cog_census": q100_zstd_lzma_cog_census,
        "q103_projection_variants": q103_projection_variants,
        "q104_flac_audio_census": q104_flac_audio_census,
        "q105_zipshard_census": q105_zipshard_census,
        "q106_audio_metadata_census": q106_audio_metadata_census,
        "q107_bloom_decontaminate": q107_bloom_decontaminate,
        "q109_bpe_roundtrip": q109_bpe_roundtrip,
        "q110_image_quality_census": q110_image_quality_census,
        "q113_main_content_extraction": q113_main_content_extraction,
        "q114_tile_render_census": q114_tile_render_census,
        "q115_code_language_routing": q115_code_language_routing,
        "q116_pq_adc_topk": q116_pq_adc_topk,
        "q117_simplify_dp": q117_simplify_dp,
        "q118_snapshot_time_travel": q118_snapshot_time_travel,
        "q120_jpeg_quality_estimate": q120_jpeg_quality_estimate,
        "q121_mojibake_repair": q121_mojibake_repair,
        "q122_blocklist_filter": q122_blocklist_filter,
        "q123_semantic_dedup": q123_semantic_dedup,
        "q124_lm_perplexity_filter": q124_lm_perplexity_filter,
        "q126_sentence_segmentation": q126_sentence_segmentation,
        "q127_subtitle_census": q127_subtitle_census,
        "q128_audio_segments": q128_audio_segments,
        "q129_snapshot_compaction": q129_snapshot_compaction,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": Q01_SQL,
        "q02_revenue_by_nation": Q02_SQL,
        "q03_top_customers": Q03_SQL,
        "q04_cumulative_spend": Q04_SQL,
        "q05_order_gaps": Q05_SQL,
        "q06_tile_assign": Q06_SQL,
        "q07_pip_heptagon": Q07_SQL,
        "q08_within_radius": Q08_SQL,
        "q09_knn": Q09_SQL,
        "q10_bbox_by_nation": Q10_SQL,
        "q11_gridpoints": Q11_SQL,
        "q12_nearest_vertex": Q12_SQL,
        "q13_path_length": Q13_SQL,
        "q14_dedup_exact": Q14_SQL,
        "q15_text_stats": Q15_SQL,
        "q16_fingerprint_distinct": Q16_SQL,
        "q17_ngram_jaccard": Q17_SQL,
        "q24_image_decode": Q24_SQL,
        "q44_audio_stats": Q44_SQL,
        "q45_video_frames": Q45_SQL,
        "q21_minhash_pairs": dedup.minhash_portable_sql(
            "documents", "text", "doc_id",
            num_perm=64, bands=8, shingle=6, threshold=0.5),
        "q22_simhash_pairs": dedup.simhash_portable_sql(
            "documents", "text", "doc_id", max_hamming=8),
        "q23_lsh_topk": similarity.lsh_topk_portable_sql(k=5, dim=64, nbits=4),
        "q46_tfidf_terms": text.tfidf_top_terms_sql("documents", "text", "doc_id", k=3),
        "q47_stratified_sample": text.stratified_sample_sql(
            "documents", ["lang"], "doc_id", cap=40),
        "q48_geodesic_area": _q48_sql(),
        "q49_ivf_static": similarity.ivf_static_sql(k=5, dim=64, nprobe=2),
        "q50_pip_many_polys": _q50_sql(),
        "q51_decontaminate": Q51_SQL,
        "q52_cluster_representatives": _q52_sql(),
        "q53_repetition_filter": Q53_SQL,
        "q54_pip_table_join": _q50_sql(),
        "q55_nad27_reproject": _q55_sql(),
        "q56_scanline_mask_census": _q56_sql(),
        "q57_resize_census": Q57_SQL,
        "q58_phash_neardup": Q58_SQL,
        "q59_jpeg_modes_census": Q59_SQL,
        "q60_geotiff_window_census": Q60_SQL,
        "q61_sequence_packing": _q61_sql(),
        "q62_token_budget_mixture": _q62_sql(),
        "q63_jpeg_tiff_census": Q63_SQL,
        "q64_pii_redaction": _q64_sql(),
        "q65_lcc_stateplane": _q65_sql(),
        "q66_repeated_spans": _q66_sql(),
        "q67_modis_tiles": _q67_sql(),
        "q68_world_mercator": _q68_sql(),
        "q69_clip_repeated_spans": _q69_sql(),
        "q70_aeqd_range_rings": _q70_sql(),
        "q71_g4_document_census": Q71_SQL,
        "q72_etrs89_laea_grid": _q72_sql(),
        "q73_rso_borneo": _q73_sql(),
        "q74_rd_new_grid": _q74_sql(),
        "q75_krovak_sjtsk": _q75_sql(),
        "q76_url_canonical_dedup": _q76_sql(),
        "q77_png_variants_census": Q77_SQL,
        "q78_gif_frame_sampling": _q78_sql(),
        "q79_html_extraction": _q79_sql(),
        "q80_webp_variants_census": Q80_SQL,
        "q81_g711_audio_census": Q81_SQL,
        "q82_webp_cog_census": Q82_SQL,
        "q83_line_dedup": _q83_sql(),
        "q86_webdataset_census": Q86_SQL,
        "q87_exif_gps_tiles": Q87_SQL,
        "q88_apng_frame_sampling": _q88_sql(),
        "q89_geohash_census": Q89_SQL,
        "q90_robust_ingest_census": Q90_SQL,
        "q91_c4_clean": _q91_sql(),
        "q92_multipage_document_census": Q92_SQL,
        "q93_gopher_rules": _q93_sql(),
        "q94_vp8_lossy_census": Q94_SQL,
        "q96_ivf_trained_determinism": Q96_SQL,
        "q97_oblique_stere_grid": _q97_sql(),
        "q98_eqdc_conus": _q98_sql(),
        "q99_multimodal_pipeline_resume": _q99_sql(),
        "q100_zstd_lzma_cog_census": Q100_SQL,
        "q103_projection_variants": _q103_sql(),
        "q104_flac_audio_census": Q104_SQL,
        "q105_zipshard_census": Q105_SQL,
        "q106_audio_metadata_census": Q106_SQL,
        "q107_bloom_decontaminate": Q107_SQL,
        "q109_bpe_roundtrip": Q109_SQL,
        "q110_image_quality_census": _q110_sql(),
        "q113_main_content_extraction": Q113_SQL,
        "q114_tile_render_census": _q114_sql(),
        "q115_code_language_routing": _q115_sql(),
        "q116_pq_adc_topk": similarity.pq_adc_sql(k=5, dim=64, m=8),
        "q117_simplify_dp": Q117_SQL,
        "q118_snapshot_time_travel": Q118_SQL,
        "q120_jpeg_quality_estimate": Q120_SQL,
        "q121_mojibake_repair": Q121_SQL,
        "q122_blocklist_filter": Q122_SQL,
        "q123_semantic_dedup": _q123_sql(),
        "q124_lm_perplexity_filter": Q124_SQL,
        "q126_sentence_segmentation": Q126_SQL,
        "q127_subtitle_census": Q127_SQL,
        "q128_audio_segments": Q128_SQL,
        "q129_snapshot_compaction": Q129_SQL,
        "q18_cosine_topk": Q18_SQL,
        "q19_embedding_neardup": Q19_SQL,
        "q20_events_window": Q20_SQL,
        "q25_pip_join_full": Q25_SQL,
        "q26_customers_no_orders": Q26_SQL,
        "q27_revenue_rollup": Q27_SQL,
        "q28_merge_point_sets": Q28_SQL,
        "q29_affine_transform": Q29_SQL,
        "q30_tile_pyramid": Q30_SQL,
        "q31_sessionize": Q31_SQL,
        "q32_raster_sample_cells": Q32_SQL,
        "q35_distance_join": Q35_SQL,
        "q36_image_feature_buckets": _q36_sql(),
        "q33_slope_stats": Q33_SQL,
        "q34_geographic_bbox": Q34_SQL,
        "q37_webmercator": _q37_sql(),
        "q38_utm_reproject": _q38_sql(),
        "q39_affine_fit": _q39_sql(),
        "q40_seeded_within_polygon": _q40_sql(),
        "q41_seeded_touching": _q41_sql(),
        "q42_duplicate_clusters": _q42_sql(),
        "q43_zonal_stats": _q43_sql(),
    }
