import sys, io, os, re
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from contextlib import redirect_stdout
from karta_spark.session import get_spark
from pyspark.sql import functions as F
import __spark_entry__ as m

spark = get_spark("plans", master="local[8]")
sf = "/root/testdata/sf0.01"

def plan_of(df, maxlines=40):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    txt = buf.getvalue()
    # keep the tree + the scan/filter/join node details, drop long column lists
    lines = txt.splitlines()
    out = []
    for ln in lines:
        if len(out) > maxlines: 
            out.append("   ... (truncated)")
            break
        if len(ln) > 200: ln = ln[:200] + " ..."
        out.append(ln)
    return "\n".join(out)

sections = []

# 1. flagship PIP join
from karta_spark.sources import images, tables
pts = images.with_lonlat(images.synth_images(spark, 100, partitions=2))
from karta_spark.operators import pip_join
flag = pip_join.point_in_polygon_join(pts, m.FLAGSHIP_POLYS, zoom=7)
sections.append(("Flagship PIP join (cell-cover broadcast + compiled winding filter)", plan_of(flag, 30)))

# 2. q07 dense PIP flags (pure expression)
sections.append(("q07 dense containment flags (zero-Python winding expression)", plan_of(m.q07_pip_heptagon(spark, sf), 25)))

# 3. q02 star join (broadcast dims)
sections.append(("q02 star-schema revenue join (broadcast dimensions)", plan_of(m.q02_revenue_by_nation(spark, sf), 45)))

# 4. q11 gridpoints hash agg
sections.append(("q11 gridpoints (partial+final hash aggregate, no UDF)", plan_of(m.q11_gridpoints(spark, sf), 25)))

# 5. pushdown evidence
filtered = spark.read.parquet(f"{sf}/lineitem.parquet").where(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
sections.append(("Parquet scan with predicate pushdown + column pruning", plan_of(filtered, 20)))

# 6. q38 projected-CRS chain: Krueger series forward+inverse as one
# codegen'd projection over the scan — zero Python, zero shuffle
sections.append(("q38 UTM forward+inverse (projection math fully inside "
                 "whole-stage codegen)", plan_of(m.q38_utm_reproject(spark, sf), 25)))

# 7. nearest_vertex: distributed top-1 (TakeOrderedAndProject), the fix for
# the round-1 single-task global window
from karta_spark.operators import knn
nv = knn.nearest_vertex(
    spark.read.parquet(f"{sf}/customer.parquet")
    .selectExpr("c_custkey AS point_id",
                "CAST(c_custkey AS DOUBLE) AS x", "CAST(c_nationkey AS DOUBLE) AS y"),
    10.0, 10.0)
sections.append(("nearest_vertex (TakeOrderedAndProject — per-partition "
                 "top-1 + driver merge, no global sort)", plan_of(nv, 15)))

# 8. q21 minhash: Arrow signature kernel, band buckets, grouped
# posting-list candidates, Catalyst exact-Jaccard verify
sections.append(("q21 MinHash LSH (Arrow signature kernel -> band buckets "
                 "-> one groupBy + HOF pair explosion -> array-set verify)",
                 plan_of(m.q21_minhash_pairs(spark, sf), 45)))

# 9. q47 stratified sample: hash-threshold prefilter keeps the per-stratum
# window tiny; the count agg and the window both shuffle on the same key
sections.append(("q47 stratified sample (hash-threshold prefilter before "
                 "the per-stratum window)", plan_of(m.q47_stratified_sample(spark, sf), 35)))

# 10b. q65 lcc reprojection: conic forward+inverse entirely in codegen
sections.append(("q65 Lambert conformal conic forward+inverse (Clarke 1866 "
                 "ellipsoid constants folded driver-side, per-row math all "
                 "inside WholeStageCodegen — no Python, no shuffle)",
                 plan_of(m.q65_lcc_stateplane(spark, sf), 25)))

# 10c. q66 repeated spans: gram posexplode -> df hash agg -> equi-join ->
# per-doc window; no all-pairs, no position explosion
sections.append(("q66 repeated-substring spans (map-side gram explode, one "
                 "doc-frequency hash agg, equi-join flag-back, per-doc lag "
                 "window for interval union)",
                 plan_of(m.q66_repeated_spans(spark, sf), 45)))

# 10d. q67 MODIS tiles: sinusoidal forward + integer grid math, one
# partial+final hash aggregate
sections.append(("q67 MODIS hNNvNN tile census (sinusoidal forward fully "
                 "inside codegen, map-side partial aggregation)",
                 plan_of(m.q67_modis_tiles(spark, sf), 25)))

# 10. q48 geodesic area: closed-form trig fully inside codegen
sections.append(("q48 spherical geodesic area (canonical-configuration trig "
                 "as one codegen'd expression over the segments window)",
                 plan_of(m.q48_geodesic_area(spark, sf), 30)))

# 11. q50 large polygon set: one-pass driver cover (LocalTableScan),
# broadcast cover join per branch — full cells skip Python, boundary rows
# go through the banded Arrow winding kernel
sections.append(("q50 many-polygon PIP (driver cover -> broadcast join; "
                 "full cells pass, boundary rows -> y-banded edge "
                 "winding kernel)",
                 plan_of(m.q50_pip_many_polys(spark, sf), 35)))

# 12. q51 decontamination: gram explode both sides, broadcast semi-join —
# the benchmark gram set ships to executors, the corpus never shuffles
sections.append(("q51 benchmark decontamination (distinct-gram explode -> "
                 "broadcast LeftSemi on the gram)",
                 plan_of(m.q51_decontaminate(spark, sf), 35)))

# 13. q61 sequence packing: the window cumsum partitions by SHARD — no
# single-partition global window anywhere in the plan
sections.append(("q61 sequence packing (shard-partitioned window cumsum — "
                 "parallelism = shard count, no global window)",
                 plan_of(m.q61_sequence_packing(spark, sf), 30)))

# 14. q62 token-budget mixture: whole hash-range buckets below the
# boundary pass with no window; only the boundary bucket's sliver is
# windowed (broadcast joins against the tiny driver-side boundary table)
sections.append(("q62 token-budget mixture (bucketed two-pass: windowless "
                 "bulk + boundary-bucket sliver window)",
                 plan_of(m.q62_token_budget_mixture(spark, sf), 40)))

with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
    f.write("""# PLANS — physical plan review (.explain) of the headline operators

Generated against sf0.01 on local[8] (`python tools/gen_plans.py` regenerates).
What to look for, per the scale contract:

- **BroadcastHashJoin** on every small side (cover cells, dimensions) — the
  big point/fact table is never shuffled for these joins.
- **`* ` / `[codegen id : N]` markers** — whole-stage codegen spans cover
  the full pipeline including the compiled winding CASE filter (with
  `-XX:-DontCompileHugeMethods` so HotSpot actually JITs them).
- **PushedFilters / ReadSchema** on parquet scans — predicate pushdown and
  column pruning reach the reader.
- **partial hash aggregate before the exchange** in groupBy plans
  (map-side combine), so the gridpoints shuffle carries cells, not points.

""")
    for title, plan in sections:
        f.write(f"## {title}\n\n```\n{plan}\n```\n\n")
print("written")
spark.stop()
