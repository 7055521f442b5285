"""Deterministic synthetic data (FIXTURES.md): the `images` fact table in
exactly the BASELINE.json input_hint shape, the test `POLYGONS` and
the `knn_queries` dimension table.

Generation is distributed (spark.range -> mapInPandas) and *ordinal-
derived*: every value is a pure function of the row id via splitmix64
mixing, so output is identical regardless of partitioning — the property
that makes resumable stages and cross-scale comparisons exact.

Geography is skewed by construction (metro mixture: SF 0.30, Sydney 0.15,
NYC 0.15, null-island 0.05, uniform world 0.35) so dense-cell skew
handling (operators/skew.py) has something real to chew on; the SF /
Sydney / null-island centers sit inside the reference crate's test
polygons (/root/reference/src/region.rs:104-243) so PIP joins return
non-trivial, exactly checkable row sets.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SEED = 42

METROS = [
    # (weight, lat, lng)
    (0.30, 37.76, -122.44),   # SF (inside the SF test hexagon)
    (0.15, -33.87, 151.21),   # Sydney (inside the Sydney test polygon)
    (0.15, 40.71, -74.01),    # NYC
    (0.05, 0.30, 0.20),       # null island box
]
JITTER_SIGMA_DEG = 0.05

IMAGES_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("fmt", StringType(), False),
        StructField("caption", StringType(), False),
        StructField("phash", LongType(), False),
    ]
)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):  # intentional mod-2^64 wraparound
        x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)).astype(
            np.uint64
        )
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)).astype(
            np.uint64
        )
        return x ^ (x >> np.uint64(31))


def _u01(i: np.ndarray, salt: int) -> np.ndarray:
    """Uniform [0,1) derived from row ordinal + salt (order-independent)."""
    h = _splitmix64(i.astype(np.uint64) ^ _splitmix64(np.uint64(SEED * 1000 + salt)))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def row_geography(i: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (lat, lng) for row ordinals, rounded to 1e-6 (the
    caption is the stored source of truth, FIXTURES.md §1)."""
    u_pick = _u01(i, 1)
    # Box-Muller jitter
    u1 = np.clip(_u01(i, 2), 1e-12, 1.0)
    u2 = _u01(i, 3)
    g1 = np.sqrt(-2.0 * np.log(u1)) * np.cos(2 * np.pi * u2)
    g2 = np.sqrt(-2.0 * np.log(u1)) * np.sin(2 * np.pi * u2)

    lat = np.empty(i.shape, dtype=np.float64)
    lng = np.empty(i.shape, dtype=np.float64)
    acc = 0.0
    assigned = np.zeros(i.shape, dtype=bool)
    for w, mlat, mlng in METROS:
        sel = (~assigned) & (u_pick < acc + w)
        lat[sel] = mlat + JITTER_SIGMA_DEG * g1[sel]
        lng[sel] = mlng + JITTER_SIGMA_DEG * g2[sel]
        assigned |= sel
        acc += w
    rest = ~assigned
    lat[rest] = np.degrees(np.arcsin(2.0 * _u01(i[rest], 4) - 1.0))
    lng[rest] = _u01(i[rest], 5) * 360.0 - 180.0
    return np.round(np.clip(lat, -89.9, 89.9), 6), np.round(
        ((lng + 180.0) % 360.0) - 180.0, 6
    )


def _make_images_pdf(ids: np.ndarray, w: int, h: int) -> pd.DataFrame:
    lat, lng = row_geography(ids)
    image_ids = [f"img{int(i):012d}" for i in ids]
    captions = [
        f"photo {iid} at {la:.6f},{ln:.6f}"
        for iid, la, ln in zip(image_ids, lat, lng)
    ]
    payloads = []
    phashes = []
    for i in ids:
        rng = np.random.default_rng(SEED + int(i))
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        b = px.tobytes()
        payloads.append(b)
        digest = hashlib.sha1(b).digest()[:8]
        phashes.append(int.from_bytes(digest, "big") & 0x7FFFFFFFFFFFFFFF)
    return pd.DataFrame(
        {
            "image_id": image_ids,
            "bytes": payloads,
            "w": np.full(len(ids), w, dtype=np.int32),
            "h": np.full(len(ids), h, dtype=np.int32),
            "fmt": "rgb24",
            "caption": captions,
            "phash": np.array(phashes, dtype=np.int64),
        }
    )


def generate_images(
    spark: SparkSession, n: int, w: int = 32, h: int = 32
) -> DataFrame:
    """Distributed deterministic images table (exact input_hint schema).

    The one mapInPandas left in the engine: it is the fixture
    generator, with one RNG and one payload per image, and runs on no
    benchmark path (perfbench reads its inputs from parquet)."""
    parts = max(4, min(256, n // 5000 or 4))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _make_images_pdf(pdf["id"].to_numpy(), w, h)

    return (
        spark.range(0, n, 1, parts)
        .mapInPandas(gen, schema=IMAGES_SCHEMA)
    )


def images_oracle_pdf(n: int, w: int = 32, h: int = 32) -> pd.DataFrame:
    """Single-process oracle: identical rows to generate_images."""
    return _make_images_pdf(np.arange(n, dtype=np.int64), w, h)


# --- polygons (the reference crate's own test polygons, FIXTURES.md §2) ----

SF_EXTERIOR = [
    (-122.4089866999972145, 37.813318999983238),
    (-122.3805436999997056, 37.7866302000007224),
    (-122.3544736999993603, 37.7198061999978478),
    (-122.5123436999983966, 37.7076131999975672),
    (-122.5247187000021967, 37.7835871999971715),
    (-122.4798767000009008, 37.8151571999998453),
]
SF_HOLE_1 = [
    (-122.4471197, 37.7869802),
    (-122.4590777, 37.7664102),
    (-122.4137097, 37.7710682),
]
SF_HOLE_2 = [
    (-122.490025, 37.747976),
    (-122.503758, 37.731550),
    (-122.452603, 37.725440),
]
SYDNEY_EXTERIOR = [
    (151.1979259, -33.8555555), (151.2074556, -33.8519779),
    (151.224743, -33.8579597), (151.2254986, -33.8582212),
    (151.235313348, -33.8564183032), (151.234799568, -33.8594049408),
    (151.233485084, -33.8641069037), (151.233181742, -33.8715791334),
    (151.223980353, -33.8876967719), (151.219388501, -33.8873877027),
    (151.2189209, -33.8869995), (151.2181177, -33.886283399999996),
    (151.2157995, -33.8851287), (151.2156925, -33.8852471),
    (151.2141233, -33.8851287), (151.2116267, -33.8847438),
    (151.2083456, -33.8834707), (151.2080246, -33.8827601),
    (151.2059204, -33.8816053), (151.2043868, -33.8827601),
    (151.2028176, -33.8838556), (151.2022826, -33.8839148),
    (151.2011057, -33.8842405), (151.1986114, -33.8842819),
    (151.1986091, -33.8842405), (151.1948287, -33.8773416),
    (151.1923322, -33.8740845), (151.1850566, -33.8697019),
    (151.1902636, -33.8625354), (151.1986805, -33.8612915),
]
NULL_ISLAND_BOX = [
    (-3.218994140625, -3.0856655287215378),
    (-3.218994140625, 3.6888551431470478),
    (3.5815429687499996, 3.6888551431470478),
    (3.5815429687499996, -3.0856655287215378),
]

POLYGONS = {
    # polygon_id -> (exterior, holes, res)
    "sf_hexagon": (SF_EXTERIOR, [], 9),
    "sf_hexagon_hole": (SF_EXTERIOR, [SF_HOLE_1], 9),
    "sf_hexagon_2holes": (SF_EXTERIOR, [SF_HOLE_1, SF_HOLE_2], 9),
    "sydney": (SYDNEY_EXTERIOR, [], 9),
    "null_island_box": (NULL_ISLAND_BOX, [], 4),
}

def generate_knn_queries(spark: SparkSession, n: int = 64, k: int = 5) -> DataFrame:
    """Query points: metro mixture + a few isolated points that force
    k_ring expansion (FIXTURES.md §3)."""
    ids = np.arange(n, dtype=np.int64) + 10_000_000
    lat, lng = row_geography(ids)
    # last few: remote ocean points
    iso = max(1, n // 16)
    lat[-iso:] = np.linspace(-44.0, -47.0, iso)
    lng[-iso:] = np.linspace(-120.0, -130.0, iso)
    pdf = pd.DataFrame(
        {
            "query_id": [f"q{int(i):06d}" for i in range(n)],
            "lat": lat,
            "lng": lng,
            "k": np.full(n, k, dtype=np.int32),
        }
    )
    return spark.createDataFrame(pdf)
