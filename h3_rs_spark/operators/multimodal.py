"""Image column operators for training-data pipelines: opaque binary
payloads + typed metadata, processed in Arrow batches via mapInPandas.

rgb24 decode (raw frames, via tiling.decode_image), nearest-neighbor +
box-mean resize and channel-histogram feature extraction. png/jpeg
decode is stubbed behind NotImplementedError in decode_image (no codec
library is bundled).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .tiling import decode_image


def resize_nn(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize, pure numpy."""
    h, w, _ = px.shape
    yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return px[yi[:, None], xi[None, :], :]


def resize_box(px: np.ndarray, factor: int) -> np.ndarray:
    """Box-mean downscale by an integer factor (antialiased), pure numpy."""
    h, w, c = px.shape
    h2, w2 = h // factor, w // factor
    t = px[: h2 * factor, : w2 * factor, :].astype(np.float64)
    return (
        t.reshape(h2, factor, w2, factor, c).mean(axis=(1, 3)).astype(np.uint8)
    )


def channel_histogram(px: np.ndarray, bins: int = 8) -> np.ndarray:
    """(bins*3,) normalized per-channel histogram — a deterministic
    'feature vector' stand-in for a learned embedding."""
    out = []
    for c in range(3):
        hist, _ = np.histogram(px[:, :, c], bins=bins, range=(0, 256))
        out.append(hist / max(1, px.shape[0] * px.shape[1]))
    return np.concatenate(out)


RESIZED_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("fmt", StringType(), False),
    ]
)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Decode -> resize -> re-encode (rgb24) over Arrow batches."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = decode_image(r.bytes, r.w, r.h, r.fmt)
                rs = resize_nn(px, out_w, out_h)
                rows.append((r.image_id, rs.tobytes(), out_w, out_h, "rgb24"))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["image_id", "bytes", "w", "h", "fmt"]
                )

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        run, schema=RESIZED_SCHEMA
    )


FEATURES_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("features", ArrayType(DoubleType()), False),
    ]
)


def image_features(images: DataFrame, bins: int = 8) -> DataFrame:
    """Per-image channel-histogram feature vectors (ANN-ready)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (
                    r.image_id,
                    channel_histogram(
                        decode_image(r.bytes, r.w, r.h, r.fmt), bins
                    ).tolist(),
                )
                for r in pdf.itertuples(index=False)
            ]
            if rows:
                yield pd.DataFrame(rows, columns=["image_id", "features"])

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        run, schema=FEATURES_SCHEMA
    )

