"""Regenerate PLANS.md, the formatted physical plans of the headline operators.

    python tools/gen_plans.py              # every generated section
    python tools/gen_plans.py --only q50   # only sections whose title holds "q50"

Each run rewrites the plan of the generated ``## `` sections it picks and
leaves every other byte of PLANS.md as it is, hand-written sections
included; a picked section that PLANS.md does not have yet is appended.
"""
import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
PLANS = os.path.join(ROOT, "PLANS.md")
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


def sections(spark):
    """(title, build, maxlines) per section; ``build()`` returns the
    DataFrame whose plan the section shows, and runs only when called."""
    from pyspark.sql import functions as F
    import __spark_entry__ as m
    from karta_spark.operators import knn, pip_join
    from karta_spark.sources import images

    def flagship():
        pts = images.with_lonlat(images.synth_images(spark, 100, partitions=2))
        return pip_join.point_in_polygon_join(pts, m.FLAGSHIP_POLYS, zoom=7)

    def q(name):
        return lambda: getattr(m, name)(spark, sf)

    return [
        ("Flagship PIP join (cell-cover broadcast + compiled winding filter)",
         flagship, 30),
        ("q07 dense containment flags (zero-Python winding expression)",
         q("q07_pip_heptagon"), 25),
        ("q02 star-schema revenue join (broadcast dimensions)",
         q("q02_revenue_by_nation"), 45),
        ("q11 gridpoints (partial+final hash aggregate, no UDF)",
         q("q11_gridpoints"), 25),
        # pushdown evidence
        ("Parquet scan with predicate pushdown + column pruning",
         lambda: spark.read.parquet(f"{sf}/lineitem.parquet")
         .where(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity"), 20),
        # projected-CRS chain: Krueger series forward+inverse as one
        # codegen'd projection over the scan — zero Python, zero shuffle
        ("q38 UTM forward+inverse (projection math fully inside "
         "whole-stage codegen)", q("q38_utm_reproject"), 25),
        # distributed top-1 (TakeOrderedAndProject), the fix for the
        # single-task global window
        ("nearest_vertex (TakeOrderedAndProject — per-partition "
         "top-1 + driver merge, no global sort)",
         lambda: knn.nearest_vertex(
             spark.read.parquet(f"{sf}/customer.parquet")
             .selectExpr("c_custkey AS point_id",
                         "CAST(c_custkey AS DOUBLE) AS x",
                         "CAST(c_nationkey AS DOUBLE) AS y"),
             10.0, 10.0), 15),
        # Arrow signature kernel, band buckets, grouped posting-list
        # candidates, Catalyst exact-Jaccard verify
        ("q21 MinHash LSH (Arrow signature kernel -> band buckets "
         "-> one groupBy + HOF pair explosion -> array-set verify)",
         q("q21_minhash_pairs"), 45),
        # hash-threshold prefilter keeps the per-stratum window tiny; the
        # count agg and the window both shuffle on the same key
        ("q47 stratified sample (hash-threshold prefilter before "
         "the per-stratum window)", q("q47_stratified_sample"), 35),
        ("q65 Lambert conformal conic forward+inverse (Clarke 1866 "
         "ellipsoid constants folded driver-side, per-row math all "
         "inside WholeStageCodegen — no Python, no shuffle)",
         q("q65_lcc_stateplane"), 25),
        # gram posexplode -> df hash agg -> equi-join -> per-doc window;
        # no all-pairs, no position explosion
        ("q66 repeated-substring spans (map-side gram explode, one "
         "doc-frequency hash agg, equi-join flag-back, per-doc lag "
         "window for interval union)", q("q66_repeated_spans"), 45),
        ("q67 MODIS hNNvNN tile census (sinusoidal forward fully "
         "inside codegen, map-side partial aggregation)",
         q("q67_modis_tiles"), 25),
        ("q48 spherical geodesic area (canonical-configuration trig "
         "as one codegen'd expression over the segments window)",
         q("q48_geodesic_area"), 30),
        # one-pass driver cover (LocalTableScan), broadcast cover join per
        # branch — full cells skip Python, boundary rows go through the
        # banded Arrow winding kernel
        ("q50 many-polygon PIP (driver cover -> broadcast join; "
         "full cells pass, boundary rows -> y-banded edge "
         "winding kernel)", q("q50_pip_many_polys"), 35),
        # gram explode both sides, broadcast semi-join — the benchmark
        # gram set ships to executors, the corpus never shuffles
        ("q51 benchmark decontamination (distinct-gram explode -> "
         "broadcast LeftSemi on the gram)", q("q51_decontaminate"), 35),
        # the window cumsum partitions by SHARD — no single-partition
        # global window anywhere in the plan
        ("q61 sequence packing (shard-partitioned window cumsum — "
         "parallelism = shard count, no global window)",
         q("q61_sequence_packing"), 30),
        # whole hash-range buckets below the boundary pass with no window;
        # only the boundary bucket's sliver is windowed
        ("q62 token-budget mixture (bucketed two-pass: windowless "
         "bulk + boundary-bucket sliver window)",
         q("q62_token_budget_mixture"), 40),
        # the localCheckpoint-ed gram -> sorted id list table is the scan
        # (ExistingRDD) under both the pair and the set-size aggregates
        ("q17 n-gram Jaccard (localCheckpoint-ed per-gram id lists -> "
         "HOF pair explosion packed into one long -> pair and size "
         "hash aggregates, broadcast size joins)",
         q("q17_ngram_jaccard"), 30),
        ("q19 embedding near-dup (label-blocked broadcast self-join, "
         "rounded cosine filter in the join condition)",
         q("q19_embedding_neardup"), 20),
    ]


def _block(title, plan):
    return f"## {title}\n\n```\n{plan}\n```\n"


def regenerate(path, secs, plan_of, only=None):
    """Splice the plans of *secs* (with *only*, just the sections whose
    title contains it) into *path*: each section's heading and plan block
    are rewritten in place, a section the file does not have yet is
    appended, and every other byte -- hand-written sections included --
    stays.  Returns the titles written."""
    picked = [(t, build, n) for t, build, n in secs if only is None or only in t]
    if not picked:
        raise SystemExit(f"no section title contains {only!r}")
    with open(path) as f:
        text = f.read()
    for title, build, n in picked:
        block = _block(title, plan_of(build(), n))
        # only the heading and its plan block; what follows them stays
        pat = re.compile(rf"^## {re.escape(title)}\n\n```\n.*?\n```\n",
                         re.M | re.S)
        text, hit = pat.subn(lambda _: block, text, count=1)
        if not hit:
            text = text.rstrip("\n") + "\n\n" + block + "\n"
    with open(path, "w") as f:
        f.write(text)
    return [t for t, _, _ in picked]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--only", metavar="TITLE_SUBSTRING",
                    help="regenerate only the sections whose title holds it")
    args = ap.parse_args()
    from karta_spark.session import get_spark
    spark = get_spark("plans", master="local[8]")
    try:
        for title in regenerate(PLANS, sections(spark), plan_of, args.only):
            print("written:", title)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
