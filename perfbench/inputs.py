"""Seeded inputs owned by the benchmark.

Everything here is a pure function of ``--seed`` and a size: the images
rows (input_hint schema), the polygon-set pool for ``pip-join`` and the
kNN query batches for the traced run's sweep. The engine only ever sees
the generated tables.

Two on-disk caches live under ``perfbench/_cache``:

* ``raw-*``: the generated images as plain parquet (keyed by seed, rows
  and image side). Pure benchmark output, independent of the engine.
* ``table-*``: the engine-ingested read table (``io.write_images`` of a
  raw set), keyed by seed, rows and a digest of every file under
  ``h3_rs_spark/``, so a changed engine never reuses a stale table.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parents[1]
CACHE = ROOT / "perfbench" / "_cache"
MAX_CACHE_ENTRIES = 64  # ~70 MB per seed across both workloads

# (weight, lat, lng): the reference test polygons' metros; the rest of the
# mass is uniform over the sphere
METROS = (
    (0.30, 37.76, -122.44),  # SF
    (0.15, -33.87, 151.21),  # Sydney
    (0.15, 40.71, -74.01),  # NYC
    (0.05, 0.30, 0.20),  # null island
)
JITTER_DEG = 0.05

# the reference crate's test polygons, (lng, lat)
SF_EXTERIOR = (
    (-122.4089867, 37.813319), (-122.3805437, 37.7866302),
    (-122.3544737, 37.7198062), (-122.5123437, 37.7076132),
    (-122.5247187, 37.7835872), (-122.4798767, 37.8151572),
)
SF_HOLES = (
    ((-122.4471197, 37.7869802), (-122.4590777, 37.7664102),
     (-122.4137097, 37.7710682)),
    ((-122.490025, 37.747976), (-122.503758, 37.731550),
     (-122.452603, 37.725440)),
)
SYDNEY_EXTERIOR = (
    (151.1979259, -33.8555555), (151.2074556, -33.8519779),
    (151.224743, -33.8579597), (151.2254986, -33.8582212),
    (151.235313348, -33.8564183032), (151.234799568, -33.8594049408),
    (151.233485084, -33.8641069037), (151.233181742, -33.8715791334),
    (151.223980353, -33.8876967719), (151.219388501, -33.8873877027),
    (151.2189209, -33.8869995), (151.2181177, -33.8862834),
    (151.2157995, -33.8851287), (151.2156925, -33.8852471),
    (151.2141233, -33.8851287), (151.2116267, -33.8847438),
    (151.2083456, -33.8834707), (151.2080246, -33.8827601),
    (151.2059204, -33.8816053), (151.2043868, -33.8827601),
    (151.2028176, -33.8838556), (151.2022826, -33.8839148),
    (151.2011057, -33.8842405), (151.1986114, -33.8842819),
    (151.1986091, -33.8842405), (151.1948287, -33.8773416),
    (151.1923322, -33.8740845), (151.1850566, -33.8697019),
    (151.1902636, -33.8625354), (151.1986805, -33.8612915),
)
NULL_ISLAND_BOX = (
    (-3.2189941, -3.0856655), (-3.2189941, 3.6888551),
    (3.5815430, 3.6888551), (3.5815430, -3.0856655),
)
# a ~1.6 degree octagon over the SF metro: its res-9 interior is ~2.4e5
# cells, above the engine's 2e5-cell expansion cap, so the sets holding
# it take the compacted multi-key build while the others expand
REGIONAL_HALF_DEG = 0.86
REGIONAL_EVERY = 8

# twice the engine's 16-entry FIFO build and refine memos: requests walk
# the pool in order, so a set comes back only after 31 others and always
# misses the memos
POOL_SETS = 32
KNN_BATCH = 8
KNN_POOL = 64


def rng_for(seed: int, stream: str) -> np.random.Generator:
    key = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "big")
    return np.random.default_rng([seed, key])


def geography(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lng) degrees for n rows, rounded to 1e-6 like the caption."""
    rng = rng_for(seed, "geo")
    pick = rng.random(n)
    g = rng.standard_normal((2, n)) * JITTER_DEG
    u = rng.random((2, n))
    lat = np.degrees(np.arcsin(2.0 * u[0] - 1.0))
    lng = u[1] * 360.0 - 180.0
    acc = 0.0
    for w, mlat, mlng in METROS:
        sel = (pick >= acc) & (pick < acc + w)
        lat[sel] = mlat + g[0, sel]
        lng[sel] = mlng + g[1, sel]
        acc += w
    lat = np.round(np.clip(lat, -89.9, 89.9), 6)
    lng = np.round(((lng + 180.0) % 360.0) - 180.0, 6)
    return lat, lng


def image_ids(idx: np.ndarray) -> np.ndarray:
    return np.char.add("img", np.char.zfill(idx.astype(str), 10))


def pixels(seed: int, n: int, side: int) -> np.ndarray:
    """(n, side * side * 3) rgb24 bytes."""
    rng = rng_for(seed, f"pixels{side}")
    return rng.integers(0, 256, size=(n, side * side * 3), dtype=np.uint8)


def images_frame(seed: int, n: int, side: int) -> pd.DataFrame:
    """input_hint rows: image_id, bytes, w, h, fmt=rgb24, caption, phash."""
    lat, lng = geography(seed, n)
    ids = image_ids(np.arange(n))
    px = pixels(seed, n, side)
    rng = rng_for(seed, "phash")
    captions = [
        f"photo {i} at {la:.6f},{ln:.6f}" for i, la, ln in zip(ids, lat, lng)
    ]
    return pd.DataFrame(
        {
            "image_id": ids,
            "bytes": [r.tobytes() for r in px],
            "w": np.full(n, side, dtype=np.int32),
            "h": np.full(n, side, dtype=np.int32),
            "fmt": "rgb24",
            "caption": captions,
            "phash": rng.integers(0, 1 << 62, size=n, dtype=np.int64),
        }
    )


def _transform(ring, scale: float, dlng: float, dlat: float,
               center=None) -> list[tuple[float, float]]:
    pts = np.asarray(ring, dtype=np.float64)
    c = pts.mean(axis=0) if center is None else np.asarray(center)
    out = (pts - c) * scale + c + (dlng, dlat)
    return [(float(x), float(y)) for x, y in np.round(out, 7)]


def _regional(rng) -> list[tuple[float, float]]:
    clng, clat = -122.44 + rng.uniform(-0.05, 0.05), 37.76 + rng.uniform(-0.05, 0.05)
    ang = np.radians(22.5 + 45.0 * np.arange(8))
    r = REGIONAL_HALF_DEG / np.cos(np.radians(22.5))
    return [(float(clng + r * np.cos(a)), float(clat + r * np.sin(a))) for a in ang]


def polygon_pool(seed: int, size: int = POOL_SETS) -> list[dict]:
    """Polygon sets {polygon_id: (exterior, holes, res)} of shifted and
    scaled reference polygons; every REGIONAL_EVERY-th set adds the
    regional polygon."""
    rng = rng_for(seed, "polygons")

    def jitter():  # scale, d_lng, d_lat
        return rng.uniform(0.8, 1.25), rng.uniform(-0.02, 0.02), rng.uniform(-0.02, 0.02)

    sf_c = np.asarray(SF_EXTERIOR).mean(axis=0)
    to_nyc = (-74.01 - sf_c[0], 40.71 - sf_c[1])
    pool = []
    for s in range(size):
        sc, dx, dy = jitter()
        polys = {
            "sf": (
                _transform(SF_EXTERIOR, sc, dx, dy),
                [_transform(h, sc, dx, dy, sf_c) for h in SF_HOLES[: s % 3]],
                9,
            ),
            "sydney": (_transform(SYDNEY_EXTERIOR, *jitter()), [], 9),
        }
        sc, dx, dy = jitter()
        polys["nyc"] = (_transform(SF_EXTERIOR, sc, dx + to_nyc[0], dy + to_nyc[1]), [], 9)
        sc, dx, dy = jitter()
        polys["null_island"] = (_transform(NULL_ISLAND_BOX, sc, 5 * dx, 5 * dy), [], 4)
        if s % REGIONAL_EVERY == REGIONAL_EVERY - 1:  # sets 0-6, the warm-ups', are plain
            polys["regional"] = (_regional(rng), [], 9)
        pool.append(polys)
    return pool


def knn_batches(seed: int, size: int = KNN_POOL) -> list[pd.DataFrame]:
    """Batches of KNN_BATCH query points: metro-mixture points plus one
    sparse South Pacific point per batch (forces ring expansion and
    resolution escalation)."""
    rng = rng_for(seed, "knn")
    lat, lng = geography(seed + 7919, size * KNN_BATCH)
    lat = lat.reshape(size, KNN_BATCH)
    lng = lng.reshape(size, KNN_BATCH)
    lat[:, -1] = np.round(rng.uniform(-50.0, -30.0, size), 6)
    lng[:, -1] = np.round(rng.uniform(-140.0, -100.0, size), 6)
    return [
        pd.DataFrame(
            {
                "query_id": [f"q{b:03d}_{j}" for j in range(KNN_BATCH)],
                "lat": lat[b],
                "lng": lng[b],
            }
        )
        for b in range(size)
    ]


def engine_digest() -> str:
    """Digest of every file under h3_rs_spark/ (bytecode caches aside)."""
    h = hashlib.sha256()
    pkg = ROOT / "h3_rs_spark"
    for p in sorted(pkg.rglob("*")):
        if p.is_file() and "__pycache__" not in p.parts:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, data files) under a directory, hidden/marker files aside."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return total, files


@dataclass
class Cached:
    path: Path
    built_s: float  # 0.0 on a cache hit
    hit: bool


def _cached(name: str, build) -> Cached:
    """Return CACHE/name, building it with build(tmp_dir) when absent.
    Entries are published by rename, so a killed build never leaves a
    half-written entry behind; the oldest entries are evicted."""
    CACHE.mkdir(parents=True, exist_ok=True)
    path = CACHE / name
    if is_cached(name):
        os.utime(path)
        return Cached(path, 0.0, True)
    tmp = CACHE / f".tmp-{name}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    build(tmp)
    (tmp / "_DONE").write_text("")
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    built = time.perf_counter() - t0
    entries = sorted(
        (p for p in CACHE.iterdir() if not p.name.startswith(".")),
        key=lambda p: p.stat().st_mtime,
    )
    for old in entries[:-MAX_CACHE_ENTRIES]:
        shutil.rmtree(old, ignore_errors=True)
    return Cached(path, built, False)


def raw_images(seed: int, n: int, side: int, files: int) -> Cached:
    """Generated images as plain parquet split over `files` files."""

    def build(tmp: Path):
        tmp.mkdir(parents=True)
        pdf = images_frame(seed, n, side)
        for i, part in enumerate(np.array_split(np.arange(n), files)):
            table = pa.Table.from_pandas(pdf.iloc[part], preserve_index=False)
            pq.write_table(table, tmp / f"part-{i:05d}.parquet")

    return _cached(raw_name(seed, n, side), build)


def raw_name(seed: int, n: int, side: int) -> str:
    return f"raw-s{seed}-n{n}-p{side}"


def table_name(seed: int, n: int, digest: str) -> str:
    return f"table-s{seed}-n{n}-{digest}"


def is_cached(name: str) -> bool:
    return (CACHE / name / "_DONE").exists()


def ingested_table(spark, seed: int, raw: Cached, n: int, digest: str) -> Cached:
    """The engine's own io.write_images of a raw set (the read table)."""
    from h3_rs_spark.sources import io

    def build(tmp: Path):
        io.write_images(spark.read.parquet(str(raw.path)), str(tmp / "images"))

    return _cached(table_name(seed, n, digest), build)


def describe(name: str, path: Path, rows: int) -> str:
    size, files = dir_bytes(path)
    return json.dumps(
        {"input": name, "rows": rows, "bytes_on_disk": size, "files": files}
    )
