"""Raster <-> vector tiling: decode image tiles and assign each tile to an
H3 cell (SURVEY.md §2.9, BASELINE.json north_star).

Runs as mapInArrow (Arrow batches of whole rows including the binary
payload), with no pandas object and no per-image Python object: each
same-(w, h, fmt) group's pixels are read straight from the `bytes`
column's value buffer. Decode is fmt-dispatched:
  - 'rgb24': raw (h, w, 3) uint8 rows -> one (n, h, w, 3) numpy view
    of the buffer (lossless; the PSNR >= 40 dB invariant is trivially
    infinite — asserted in tests)
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
from functools import partial

import numpy as np
import pyarrow as pa
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


# images per output batch, and the stacked-pixel working set per group
# slice: a full 20k-row Arrow batch of large images stacked at once
# would dwarf executor memory (ADVICE r2), so same-shape groups split
# into <= 64 MB sub-stacks — still thousands of small images per
# vectorized call
_BATCH_IMAGES = 4096
_STACK_BUDGET = 64 << 20


def _decode_rows(
    payloads: pa.Array, rows: np.ndarray, w: int, h: int, fmt: str
) -> np.ndarray:
    """Rows `rows` (ascending) of a binary column, each one w x h image
    in `fmt` -> (n, h, w, 3) uint8. Every row's payload length is checked
    first, so a short or long row can never shift a neighbour's pixels
    into the stack. Rows adjacent in the buffer come back as a zero-copy
    view of it; others in one numpy gather through the offsets. Only
    'rgb24' is decodable in-container."""
    if fmt != "rgb24":
        raise NotImplementedError(
            f"decode for fmt={fmt!r} requires an imaging library not present "
            "in this environment (plumbing is fmt-dispatched; add a decoder here)"
        )
    if payloads.null_count:
        raise ValueError("image payload is null")
    _, off_buf, data_buf = payloads.buffers()
    wide = pa.types.is_large_binary(payloads.type)
    offsets = np.frombuffer(off_buf, np.int64 if wide else np.int32)[
        payloads.offset: payloads.offset + len(payloads) + 1
    ]
    size = w * h * 3
    starts = offsets[rows]
    if (offsets[rows + 1] - starts != size).any():
        raise ValueError(f"image payload is not {size} bytes ({w}x{h} {fmt})")
    data = np.frombuffer(data_buf, np.uint8) if size else np.empty(0, np.uint8)
    n = len(rows)
    if rows[-1] - rows[0] + 1 == n:
        px = data[starts[0]: starts[0] + n * size]
    else:
        px = np.lib.stride_tricks.sliding_window_view(data, size)[starts]
    return px.reshape(n, h, w, 3)


def decode_image(payload: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """bytes -> (h, w, 3) uint8. Only 'rgb24' is decodable in-container."""
    return _decode_rows(
        pa.array([payload], pa.binary()), np.zeros(1, np.int64), w, h, fmt
    )[0]


def _tile_stack(
    batch: pa.RecordBatch,
    rows: np.ndarray,
    w: int,
    h: int,
    fmt: str,
    tile_px: int,
    res: int,
) -> pa.RecordBatch:
    """Tiles of one same-(w, h, fmt) stack of rows: tile means + geo
    offsets computed across the stack at once, over one stacked uint8
    (n, h, w, 3) array (1x the raw bytes — NOT a float64 copy; the means
    accumulate in float64 during the reduction)."""
    n_img = len(rows)
    px = _decode_rows(batch.column("bytes"), rows, w, h, fmt)
    ny, nx = h // tile_px, w // tile_px
    trimmed = px[:, : ny * tile_px, : nx * tile_px, :]
    means = trimmed.reshape(n_img, ny, tile_px, nx, tile_px, 3).mean(
        axis=(2, 4), dtype=np.float64
    )  # (n, ny, nx, 3)
    ty, tx = np.mgrid[0:ny, 0:nx]
    cx = ((tx + 0.5) * tile_px - w / 2.0).ravel()
    cy = ((ty + 0.5) * tile_px - h / 2.0).ravel()
    n_t = ny * nx
    lat = batch.column("lat").to_numpy(zero_copy_only=False)[rows]
    lng = batch.column("lng").to_numpy(zero_copy_only=False)[rows]
    lats = (lat[:, None] - cy[None, :] * DEG_PER_PX).ravel()
    lngs = (lng[:, None] + cx[None, :] * DEG_PER_PX).ravel()
    cells = faceijk.geo_to_h3(lats, lngs, res)
    return pa.RecordBatch.from_arrays(
        [
            batch.column("image_id").take(pa.array(np.repeat(rows, n_t))),
            pa.array(np.tile(tx.ravel().astype(np.int32), n_img)),
            pa.array(np.tile(ty.ravel().astype(np.int32), n_img)),
            pa.array(cells),
            pa.array(means[..., 0].reshape(-1)),
            pa.array(means[..., 1].reshape(-1)),
            pa.array(means[..., 2].reshape(-1)),
        ],
        names=TILES_SCHEMA.fieldNames(),
    )


def _tile_batches(
    batches: Iterator[pa.RecordBatch], tile_px: int, res: int
) -> Iterator[pa.RecordBatch]:
    """The mapInArrow body of tile_assign: each batch splits into
    same-(w, h, fmt) groups, found in numpy over w, h and the
    dictionary-encoded fmt (pa.Table.group_by would import pyarrow's
    acero engine in every worker), and each group into stacks of at most
    _BATCH_IMAGES images and _STACK_BUDGET pixel bytes, one output batch
    per stack."""
    for batch in batches:
        if not batch.num_rows:
            continue
        shape = [batch.column(c) for c in ("w", "h", "fmt")]
        if any(c.null_count for c in shape):
            # a row with null w/h/fmt must fail loudly, not silently
            # vanish from the output
            raise ValueError("image row with null w, h or fmt")
        fmt = shape[2].dictionary_encode()
        keys = np.stack(
            [c.to_numpy() for c in (shape[0], shape[1], fmt.indices)], axis=1
        )
        groups, group_of = np.unique(keys, axis=0, return_inverse=True)
        for g, (w, h, f) in enumerate(groups.tolist()):
            rows = np.flatnonzero(group_of == g)
            name = fmt.dictionary[f].as_py()
            chunk = max(1, min(_BATCH_IMAGES, _STACK_BUDGET // max(w * h * 3, 1)))
            for i in range(0, len(rows), chunk):
                yield _tile_stack(
                    batch, rows[i:i + chunk], w, h, name, tile_px, res
                )


def tile_assign(images: DataFrame, tile_px: int = 8, res: int = 15) -> DataFrame:
    """Decode + tile + cell-assign. Input needs (image_id, bytes, w, h,
    fmt, lat, lng); Catalyst prunes everything else from the scan. A row
    with NULL lat has no location (sources/io.with_geo) and gets no
    tiles."""
    cols = ["image_id", "bytes", "w", "h", "fmt", "lat", "lng"]
    return (
        images.select(*cols)
        .where("lat IS NOT NULL")
        .mapInArrow(
            partial(_tile_batches, tile_px=tile_px, res=res), schema=TILES_SCHEMA
        )
    )


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio; inf for identical arrays."""
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 ** 2 / mse)
