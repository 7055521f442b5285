"""Raster <-> vector tiling: decode image tiles and assign each tile to an
H3 cell (SURVEY.md §2.9, BASELINE.json north_star).

Runs as mapInPandas (Arrow batches of whole rows including the binary
payload); decode is fmt-dispatched:
  - 'rgb24': raw (h, w, 3) uint8 -> numpy frombuffer (lossless; the
    PSNR >= 40 dB invariant is trivially infinite — asserted in tests)
  - 'png'/'jpeg': stubbed behind NotImplementedError (no imaging libs in
    this container); the Spark-side plumbing (schema, batching, UDF
    signature) is identical and tested via 'rgb24'.

Each image is anchored at its caption lat/lng; tiles map to geo via a
per-pixel degree scale (DEG_PER_PX), so a w x h image covers a small geo footprint and
each (tile_x, tile_y) gets the cell of its tile-center. Output is the
exploded relation (image_id, tile_x, tile_y, cell, mean_r/g/b).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..h3core import faceijk

DEG_PER_PX = 1e-6  # geo footprint of one pixel, degrees per pixel

TILES_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("cell", LongType(), False),
        StructField("mean_r", DoubleType(), False),
        StructField("mean_g", DoubleType(), False),
        StructField("mean_b", DoubleType(), False),
    ]
)


def decode_image(payload: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """bytes -> (h, w, 3) uint8. Only 'rgb24' is decodable in-container."""
    if fmt == "rgb24":
        return np.frombuffer(payload, dtype=np.uint8).reshape(h, w, 3)
    raise NotImplementedError(
        f"decode for fmt={fmt!r} requires an imaging library not present "
        "in this environment (plumbing is fmt-dispatched; add a decoder here)"
    )


def tile_assign(images: DataFrame, tile_px: int = 8, res: int = 15) -> DataFrame:
    """Decode + tile + cell-assign. Input needs (image_id, bytes, w, h,
    fmt, lat, lng); Catalyst prunes everything else from the scan. A row
    with NULL lat has no location (sources/io.with_geo) and gets no
    tiles."""
    cols = ["image_id", "bytes", "w", "h", "fmt", "lat", "lng"]
    # bound the stacked-pixel working set per task: a full 20k-row Arrow
    # batch of large images stacked at once would dwarf executor memory
    # (ADVICE r2), so same-shape groups split into <= 64 MB sub-stacks —
    # still thousands of small images per vectorized call
    stack_budget = 64 << 20

    def _group_frame(grp: pd.DataFrame, w: int, h: int, fmt: str) -> pd.DataFrame:
        """Vectorized path for a same-(w, h, fmt) group: one stacked
        uint8 (n, h, w, 3) array (1x the raw bytes — NOT a float64 copy;
        the means accumulate in float64 during the reduction), tile
        means + geo offsets computed across the sub-stack at once —
        per-image Python is one frombuffer call."""
        chunk = max(1, stack_budget // max(w * h * 3, 1))
        if len(grp) > chunk:
            return pd.concat(
                [
                    _group_frame(grp.iloc[i:i + chunk], w, h, fmt)
                    for i in range(0, len(grp), chunk)
                ],
                ignore_index=True,
            )
        n_img = len(grp)
        px = np.stack([decode_image(b, w, h, fmt) for b in grp["bytes"]])
        ny, nx = h // tile_px, w // tile_px
        trimmed = px[:, : ny * tile_px, : nx * tile_px, :]
        means = trimmed.reshape(n_img, ny, tile_px, nx, tile_px, 3).mean(
            axis=(2, 4), dtype=np.float64
        )  # (n, ny, nx, 3)
        ty, tx = np.mgrid[0:ny, 0:nx]
        cx = ((tx + 0.5) * tile_px - w / 2.0).ravel()
        cy = ((ty + 0.5) * tile_px - h / 2.0).ravel()
        n_t = ny * nx
        lats = (
            grp["lat"].to_numpy()[:, None] - cy[None, :] * DEG_PER_PX
        ).ravel()
        lngs = (
            grp["lng"].to_numpy()[:, None] + cx[None, :] * DEG_PER_PX
        ).ravel()
        cells = faceijk.geo_to_h3(lats, lngs, res)
        return pd.DataFrame(
            {
                "image_id": np.repeat(grp["image_id"].to_numpy(), n_t),
                "tile_x": np.tile(tx.ravel().astype(np.int32), n_img),
                "tile_y": np.tile(ty.ravel().astype(np.int32), n_img),
                "cell": cells,
                "mean_r": means[..., 0].reshape(-1),
                "mean_g": means[..., 1].reshape(-1),
                "mean_b": means[..., 2].reshape(-1),
            }
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            outs = [
                _group_frame(grp, int(w), int(h), fmt)
                # dropna=False: a row with null w/h/fmt must fail loudly
                # in decode_image, not silently vanish from the output
                for (w, h, fmt), grp in pdf.groupby(
                    ["w", "h", "fmt"], dropna=False
                )
            ]
            yield pd.concat(outs, ignore_index=True)

    return (
        images.select(*cols)
        .where("lat IS NOT NULL")
        .mapInPandas(run, schema=TILES_SCHEMA)
    )


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio; inf for identical arrays."""
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 ** 2 / mse)
