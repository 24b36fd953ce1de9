"""Data-driven hot-cell salting: same join results, bounded partition skew."""

import numpy as np
from pyspark.sql import functions as F

from karta_spark.functions import cells
from karta_spark.operators import skew
from karta_spark.operators.pip_join import cover_df
from karta_spark.fixtures import flagship_polys
from karta_spark.sources import images


class TestSalting:
    def test_salted_join_same_results(self, spark):
        # 40% of rows piled into one 1-degree cell (FIXTURES skew variant)
        pts = images.with_lonlat(images.synth_images(
            spark, 4000, partitions=4, skew_cell=(-60.0, 5.0), skew_frac=0.4))
        pts = pts.select("image_id", "x", "y").withColumn(
            "cell_id", cells.tile_id(F.col("x"), F.col("y"), 7))
        cover = cover_df(spark, flagship_polys(), 7)

        plain = pts.join(F.broadcast(cover), "cell_id")
        salted = skew.salted_join(pts, cover, threshold=100)

        a = sorted((r["image_id"], r["poly_id"]) for r in plain.collect())
        b = sorted((r["image_id"], r["poly_id"]) for r in salted.collect())
        assert a == b and len(a) > 0

    def test_histogram_and_salt_map(self, spark):
        pts = images.with_lonlat(images.synth_images(
            spark, 2000, partitions=4, skew_cell=(-60.0, 5.0), skew_frac=0.5))
        pts = pts.withColumn("cell_id", cells.tile_id(F.col("x"), F.col("y"), 7))
        hist = skew.cell_histogram(pts)
        top = hist.orderBy(F.col("cell_count").desc()).first()
        assert top["cell_count"] >= 500  # the planted 1-degree cell straddles
        # up to 4 z7 tiles, so the hottest tile holds a large share, not all
        salts = skew.salt_map(hist, threshold=100).collect()
        hot = {r["cell_id"]: r["n_salt"] for r in salts}
        assert top["cell_id"] in hot and hot[top["cell_id"]] >= 5

    def test_salt_map_fans_out_only_the_hot_cell(self, spark):
        # 500 of 2000 rows in cell 7, every other row in a cell of its own
        pts = spark.range(2000).withColumn(
            "cell_id", F.when(F.col("id") % 4 == 0, F.lit(7)).otherwise(
                F.col("id") + 10000))
        m = {r["cell_id"]: r["n_salt"] for r in
             skew.salt_map(skew.cell_histogram(pts), threshold=100).collect()}
        assert m == {7: 5}  # 500 rows / 100 -> fan-out 5
