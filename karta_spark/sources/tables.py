"""Readers for the driver's star-schema parquet plus geolocation helpers.

``with_coords`` deterministically geolocates any keyed table through the
phash rule (FIXTURES.md §1) so every spatial operator can be exercised —
and oracle-checked in DuckDB — against the shared test tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from karta_spark.functions import cells

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def with_coords(df: DataFrame, key: str, prefix: str = "") -> DataFrame:
    """Add deterministic (phash, x=lon, y=lat) derived from integer *key*.

    Same arithmetic is emitted for DuckDB by cells.lon_from_key_sql /
    lat_from_key_sql, so spatial query outputs are oracle-comparable."""
    phash = cells.phash_from_key(F.col(key))
    return (
        df.withColumn(prefix + "phash", phash)
        .withColumn(prefix + "x", cells.lon_from_phash(F.col(prefix + "phash")))
        .withColumn(prefix + "y", cells.lat_from_phash(F.col(prefix + "phash")))
    )
