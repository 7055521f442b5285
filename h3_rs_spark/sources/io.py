"""Warehouse IO: the `images` fact table as hive-partitioned parquet.

The table is partitioned by the coarse cell (base cell of the res-0
ancestor), so polygon queries prune partitions from the compacted
polyfill's coarse prefix (SURVEY.md §4.2). At design scale the same
layout is an Iceberg partition spec; this pyspark bundles no Iceberg
runtime jar, so the engine writes parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.native import h3_base_cell, h3_to_parent_col, wrap_lng_sql
from ..functions.udfs import geo_to_h3_udf


def with_geo(df: DataFrame, res: int = 9) -> DataFrame:
    """Derive lat/lng from the caption (the lat/lng-bearing metadata of
    the input_hint schema) plus the res-`res` cell and its coarse prefix.

    NULL means "no location": a row whose caption is null, lacks
    " at <lat>,<lng>", holds a non-numeric coordinate, a latitude off
    [-90, 90] or a non-finite longitude gets NULL lat, lng, cell and
    bc0, never cell 0. A longitude off [-180, 180] is stored wrapped
    into [-180, 180) (200 -> -160). The split, the try_cast and the
    wrap run JVM-side; only (lat, lng) cross into the Python worker for
    the encode UDF.
    """
    # substring ops are ~3x cheaper than Java regex in the scan hot path;
    # the caption format is "... at <lat>,<lng>"
    ll = F.split(F.substring_index("caption", " at ", -1), ",")
    lat, lng = (F.get(ll, i).try_cast("double") for i in (0, 1))
    df = df.withColumns({"lat": lat, "lng": lng})
    ok = (F.abs("lat") <= 90) & (F.abs("lng") < float("inf"))
    # wrapped once, here, for the encode, the PIP refine, kNN and tiling;
    # kept as parsed in range, where the wrap moves half the values an ulp
    lng = F.expr(f"IF(ABS(lng) <= 180D, lng, {wrap_lng_sql('lng')})")
    df = df.withColumns({"lat": F.when(ok, F.col("lat")), "lng": F.when(ok, lng)})
    # geo_to_h3_udf is nondeterministic-marked at the source (optimizer
    # barrier against join-constraint pushdown duplicating the Arrow
    # eval — see functions/udfs.py); bc0 partition pruning reads the
    # on-disk partition column, not this expression. The NULL mask is a
    # second projection so the encode still runs once per row.
    df = df.withColumn("cell", geo_to_h3_udf(res)("lat", "lng"))
    df = df.withColumn("cell", F.when(F.col("lat").isNotNull(), F.col("cell")))
    return df.withColumn("bc0", h3_base_cell(h3_to_parent_col("cell", 0)))


def write_images(df: DataFrame, path: str, res: int = 9) -> None:
    """Write the images table partitioned by coarse cell for pruning."""
    (
        with_geo(df, res)
        .repartition("bc0")
        .write.mode("overwrite")
        .partitionBy("bc0")
        .parquet(path)
    )


def read_images(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)

