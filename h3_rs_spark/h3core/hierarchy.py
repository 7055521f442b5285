"""Hierarchy ops: compact / uncompact (exact sets).

Parity targets: /root/reference/src/hierarchy.rs tests (children counts,
SF polygon compact 209 / uncompact 1253). Unlike the reference (which
returns zero-padded buffers from the C FFI, src/hierarchy.rs:102), these
return exact minimal sets.

Both run on the driver, over one polygon's cells (regions.polyfill, the
PIP build); parent and children are indexing.to_parent / to_children.
"""

from __future__ import annotations

import numpy as np

from .constants import BASE_CELL_IS_PENTAGON
from . import indexing as ix


def uncompact(cells: np.ndarray, res: int) -> np.ndarray:
    """Expand a multi-resolution set to uniform resolution `res`."""
    cells = np.atleast_1d(np.asarray(cells, dtype=np.int64))
    if (ix.get_resolution(cells) > res).any():
        raise ValueError("uncompact: input cell finer than target res")
    return ix.to_children_batch(cells, res)[1]


def compact(cells: np.ndarray) -> np.ndarray:
    """Minimal multi-resolution covering set (all inputs same res).

    Vectorized sweep from finest to coarsest: a parent replaces its
    children when all 7 (6 for pentagons) are present.
    """
    cells = np.unique(np.atleast_1d(np.asarray(cells, dtype=np.int64)))
    if cells.size == 0:
        return cells
    res = ix.get_resolution(cells)
    if np.unique(res).size > 1:
        raise ValueError("compact: mixed input resolutions")
    r = int(res[0])

    result = []
    cur = cells
    while r > 0 and cur.size:
        parents = ix.to_parent(cur, r - 1)
        uniq, counts = np.unique(parents, return_counts=True)
        bc = ix.get_base_cell(uniq)
        pent = BASE_CELL_IS_PENTAGON[bc] & (
            ix.leading_nonzero_digit(ix.get_digits(uniq), ix.get_resolution(uniq))
            == 0
        )
        full = counts == np.where(pent, 6, 7)
        promoted = uniq[full]
        # cells whose parent was not promoted stay in the result
        promoted_set = np.isin(parents, promoted, assume_unique=False)
        result.append(cur[~promoted_set])
        cur = promoted
        r -= 1
    if cur.size:
        result.append(cur)
    return np.sort(np.concatenate(result)) if result else cells
