"""Brute-force oracles for every request the benchmark issues.

They are written independently of the engine's operators: PIP is an
even-odd ray cast over every generated point, kNN a full haversine scan.
The ingest oracle recomputes tiles with numpy and takes cells from
``h3core.faceijk.geo_to_h3``, the kernel the engine's UDFs must match.
Each ``check_*`` returns a list of mismatch descriptions (empty = pass).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EARTH_RADIUS_M = 6371007.180918475
DIST_RTOL = 1e-6
DIST_ATOL_M = 1e-3


def _ring_contains(lng, lat, ring) -> np.ndarray:
    """Even-odd ray cast of points against one closed or open ring."""
    pts = np.asarray(ring, dtype=np.float64)
    x0, y0 = pts[:, 0], pts[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    inside = np.zeros(lng.shape, dtype=bool)
    for ax, ay, bx, by in zip(x0, y0, x1, y1):
        if ay == by:
            continue
        crosses = (ay > lat) != (by > lat)
        x_at = ax + (lat - ay) * (bx - ax) / (by - ay)
        inside ^= crosses & (lng < x_at)
    return inside


def polygon_count(lat, lng, exterior, holes) -> int:
    ext = np.asarray(exterior, dtype=np.float64)
    box = (
        (lng >= ext[:, 0].min()) & (lng <= ext[:, 0].max())
        & (lat >= ext[:, 1].min()) & (lat <= ext[:, 1].max())
    )
    la, ln = lat[box], lng[box]
    inside = _ring_contains(ln, la, ext)
    for hole in holes:
        inside &= ~_ring_contains(ln, la, hole)
    return int(inside.sum())


def pip_expected(lat, lng, polygons: dict) -> dict[str, int]:
    """Per-polygon counts; polygons with no point are absent, as in a
    grouped count."""
    out = {}
    for pid, (ext, holes, _res) in polygons.items():
        n = polygon_count(lat, lng, ext, holes)
        if n:
            out[pid] = n
    return out


def check_pip(rows: dict[str, int], expected: dict[str, int]) -> list[str]:
    if rows == expected:
        return []
    keys = sorted(set(rows) | set(expected))
    return [
        f"pip {k}: engine {rows.get(k)} oracle {expected.get(k)}"
        for k in keys
        if rows.get(k) != expected.get(k)
    ]


def haversine_m(lat1, lng1, lat2, lng2) -> np.ndarray:
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dlat, dlng = p2 - p1, np.radians(lng2) - np.radians(lng1)
    a = np.sin(dlat / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlng / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def knn_expected(lat, lng, ids, queries: pd.DataFrame, k: int) -> pd.DataFrame:
    """Exact top-k per query, ties broken by image_id."""
    rows = []
    for q in queries.itertuples(index=False):
        d = haversine_m(q.lat, q.lng, lat, lng)
        kth = min(k + 16, len(d) - 1)  # room for ties at the k-th place
        part = np.argpartition(d, kth)[: kth + 1]
        order = part[np.lexsort((ids[part], d[part]))][:k]
        for rank, j in enumerate(order, 1):
            rows.append((q.query_id, ids[j], float(d[j]), rank))
    return pd.DataFrame(rows, columns=["query_id", "image_id", "dist_m", "rank"])


def check_knn(out: pd.DataFrame, expected: pd.DataFrame, true_dist) -> list[str]:
    """The engine's rows must hold, per query and rank, the oracle's
    distance; each returned image must really lie at the distance it is
    reported at; no image twice; exact ties ordered by image_id.
    true_dist(query_id, image_ids) gives the exact distances."""
    got = out.sort_values(["query_id", "rank"])
    want = expected.sort_values(["query_id", "rank"])
    if list(got["query_id"]) != list(want["query_id"]) or list(got["rank"]) != list(
        want["rank"]
    ):
        return [f"knn: {len(got)} rows / ranks differ from the oracle's {len(want)}"]
    errs = []
    for qid, g in got.groupby("query_id", sort=False):
        ids = list(g["image_id"])
        gd = g["dist_m"].to_numpy()
        wd = want.loc[want["query_id"] == qid, "dist_m"].to_numpy()
        td = true_dist(qid, ids)
        if not np.allclose(gd, wd, rtol=DIST_RTOL, atol=DIST_ATOL_M):
            errs.append(f"knn {qid}: dist_m {gd.tolist()} vs oracle {wd.tolist()}")
        elif not np.allclose(gd, td, rtol=DIST_RTOL, atol=DIST_ATOL_M) or len(set(ids)) < len(ids):
            errs.append(f"knn {qid}: images {ids} do not lie at their reported distances")
        elif any(td[r] == td[r + 1] and ids[r] > ids[r + 1] for r in range(len(ids) - 1)):
            errs.append(f"knn {qid}: tie not broken by image_id")
    return errs


# --- ingest-tiles ----------------------------------------------------------


def tile_rollup_expected(
    pixels: np.ndarray, lat, lng, side: int, tile_px: int, res: int,
    parent_res: int, deg_per_px: float = 1e-6,
) -> pd.DataFrame:
    """Per res-`parent_res` parent: tile count and summed channel means of
    the tiles (tile_px x tile_px, res-`res` cell of the tile center)."""
    from h3_rs_spark.h3core import faceijk, indexing

    n = len(lat)
    nt = side // tile_px
    img = pixels.reshape(n, nt, tile_px, nt, tile_px, 3)
    means = img.mean(axis=(2, 4), dtype=np.float64).reshape(n, nt * nt, 3)
    ty, tx = np.mgrid[0:nt, 0:nt]
    cx = ((tx + 0.5) * tile_px - side / 2.0).ravel()
    cy = ((ty + 0.5) * tile_px - side / 2.0).ravel()
    tlat = (np.asarray(lat)[:, None] - cy[None, :] * deg_per_px).ravel()
    tlng = (np.asarray(lng)[:, None] + cx[None, :] * deg_per_px).ravel()
    parent = indexing.to_parent(faceijk.geo_to_h3(tlat, tlng, res), parent_res)
    m = means.reshape(-1, 3)
    df = pd.DataFrame(
        {"parent": parent, "n_tiles": 1, "mean_r": m[:, 0], "mean_g": m[:, 1],
         "mean_b": m[:, 2]}
    )
    return df.groupby("parent", as_index=False).sum()


def check_tile_rollup(out: pd.DataFrame, expected: pd.DataFrame, n_images: int,
                      tiles_per_image: int) -> list[str]:
    errs = []
    total = int(out["n_tiles"].sum())
    if total != n_images * tiles_per_image:
        errs.append(f"tiles: {total} != {n_images} x {tiles_per_image}")
    got = out.sort_values("parent").reset_index(drop=True)
    want = expected.sort_values("parent").reset_index(drop=True)
    if len(got) != len(want) or not np.array_equal(
        got["parent"].to_numpy(), want["parent"].to_numpy()
    ):
        return errs + [f"tiles: {len(got)} parents vs oracle {len(want)}"]
    if not np.array_equal(got["n_tiles"].to_numpy(), want["n_tiles"].to_numpy()):
        errs.append("tiles: per-parent tile counts differ")
    for c in ("mean_r", "mean_g", "mean_b"):
        if not np.allclose(got[c].to_numpy(), want[c].to_numpy(), rtol=1e-9):
            errs.append(f"tiles: per-parent sum of {c} differs")
    return errs


def check_cells(sample: pd.DataFrame, lat, lng, res: int) -> list[str]:
    """Sampled ingested rows (index, cell, lat, lng) against the kernel."""
    from h3_rs_spark.h3core import faceijk

    idx = sample["index"].to_numpy()
    want = faceijk.geo_to_h3(np.asarray(lat)[idx], np.asarray(lng)[idx], res)
    errs = []
    if not np.array_equal(sample["lat"].to_numpy(), np.asarray(lat)[idx]) or not (
        np.array_equal(sample["lng"].to_numpy(), np.asarray(lng)[idx])
    ):
        errs.append("ingest: parsed lat/lng differ from the generated ones")
    if not np.array_equal(sample["cell"].to_numpy(), want):
        errs.append(f"ingest: {int((sample['cell'].to_numpy() != want).sum())} cells differ")
    return errs


def check_history(history) -> list[str]:
    want = [("tile_rollup", "ran"), ("tile_rollup", "resumed")]
    return [] if list(history) == want else [f"stages: history {history} != {want}"]
