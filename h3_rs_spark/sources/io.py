"""Warehouse IO: the `images` fact table as one flat parquet directory
sorted on `cell`.

An H3 index orders its digits coarse to fine, so a table range-
partitioned and sorted on `cell` keeps each base cell's rows in one
contiguous run of files, and a filter on `cell` or on its coarse
prefix `bc0` (an ordinary column) prunes files by their parquet
min/max statistics (SURVEY.md §4.2). At design scale the same layout
is an Iceberg sort order on `cell`; this pyspark bundles no Iceberg
runtime jar, so the engine writes parquet. The table is read with its
known schema, IMAGES_TABLE_SCHEMA, so a read runs no Spark job and an
empty table reads back as 0 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions.native import h3_base_cell, wrap_lng_sql
from ..functions.udfs import geo_to_h3_udf
from .datagen import IMAGES_SCHEMA

# the input fields, then what with_geo derives; every field nullable
# (a row without a location has NULL lat, lng, cell and bc0)
IMAGES_TABLE_SCHEMA = StructType(
    [StructField(f.name, f.dataType) for f in IMAGES_SCHEMA]
    + [
        StructField("lat", DoubleType()),
        StructField("lng", DoubleType()),
        StructField("cell", LongType()),
        StructField("bc0", LongType()),
    ]
)


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
    # eval — see functions/udfs.py); a bc0 filter on the written table
    # reads the stored column, not this expression. The NULL mask is a
    # second projection so the encode still runs once per row.
    df = df.withColumn("cell", geo_to_h3_udf(res)("lat", "lng"))
    df = df.withColumn("cell", F.when(F.col("lat").isNotNull(), F.col("cell")))
    return df.withColumn("bc0", h3_base_cell("cell"))


def images_table(df: DataFrame, res: int) -> DataFrame:
    """The images table of raw image rows: with_geo's columns as
    IMAGES_TABLE_SCHEMA, range-partitioned and sorted on `cell`, so
    each written part file holds one disjoint `cell` range. The
    partition count is the session's spark.sql.shuffle.partitions,
    coalesced by AQE."""
    return (
        with_geo(df, res)
        .select([F.col(f.name).cast(f.dataType) for f in IMAGES_TABLE_SCHEMA])
        .repartitionByRange("cell")
        .sortWithinPartitions("cell")
    )


def write_images(df: DataFrame, path: str, res: int = 9) -> None:
    """Write images_table(df, res) to `path`."""
    images_table(df, res).write.mode("overwrite").parquet(path)


def read_images(spark: SparkSession, path: str) -> DataFrame:
    """Read a table written by write_images; runs no Spark job."""
    return spark.read.schema(IMAGES_TABLE_SCHEMA).parquet(path)
