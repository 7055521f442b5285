"""H3 index bit layout and pure-bit operations, vectorized over int64 arrays.

Index layout (H3 v3.6, mode-1 cell index):
  bit 63        reserved (0)
  bits 59..62   mode (1 = cell)
  bits 56..58   reserved (0)
  bits 52..55   resolution (0..15)
  bits 45..51   base cell (0..121)
  bits 0..44    15 x 3-bit digits, digit for res r at bits 3*(15-r)..3*(15-r)+2
                digits past the index resolution are 7 (invalid marker)

Parity target: /root/reference/src/inspection.rs + src/hierarchy.rs tests.
Everything here is reimplemented from the published H3 spec as numpy bit
math (no FFI, no per-row Python).
"""

from __future__ import annotations

import numpy as np

from .constants import BASE_CELL_IS_PENTAGON, MAX_RES, NUM_BASE_CELLS
from .coordijk import ROTATE60_CCW_DIGIT, ROTATE60_CW_DIGIT

H3_MODE_CELL = 1


def _i64(x) -> np.ndarray:
    return np.asarray(x, dtype=np.int64)


def get_mode(h) -> np.ndarray:
    return (_i64(h) >> 59) & 0xF


def get_resolution(h) -> np.ndarray:
    return (_i64(h) >> 52) & 0xF


def get_base_cell(h) -> np.ndarray:
    return (_i64(h) >> 45) & 0x7F


def get_digits(h) -> np.ndarray:
    """(N, 15) uint8 digits for res 1..15 (index 0 == res 1)."""
    h = np.atleast_1d(_i64(h))
    shifts = 3 * (MAX_RES - np.arange(1, MAX_RES + 1, dtype=np.int64))
    return ((h[:, None] >> shifts[None, :]) & 0x7).astype(np.uint8)


def from_components(base_cell, res, digits) -> np.ndarray:
    """Pack (base_cell, res, digits[N,15]) -> int64 index.

    Digits beyond `res` are forced to 7 regardless of input.
    """
    base_cell = np.atleast_1d(_i64(base_cell))
    digits = np.asarray(digits, dtype=np.int64)
    if np.ndim(res) == 0:
        # uniform-res fast path: accumulate used digits, constant 7-tail
        r = int(res)
        packed = np.zeros(base_cell.shape, dtype=np.int64)
        for i in range(r):
            packed |= digits[:, i] << (3 * (MAX_RES - 1 - i))
        packed |= np.int64((1 << (3 * (MAX_RES - r))) - 1)
        return (
            np.int64(H3_MODE_CELL) << 59
            | np.int64(r << 52)
            | (base_cell << 45)
            | packed
        )
    res = np.broadcast_to(_i64(res), base_cell.shape)
    r_idx = np.arange(1, MAX_RES + 1, dtype=np.int64)
    use = r_idx[None, :] <= res[:, None]
    d = np.where(use, digits, 7)
    shifts = 3 * (MAX_RES - r_idx)
    packed = (d << shifts[None, :]).sum(axis=1)
    return (
        np.int64(H3_MODE_CELL) << 59 | (res << 52) | (base_cell << 45) | packed
    )


def leading_nonzero_digit(digits: np.ndarray, res) -> np.ndarray:
    """First nonzero digit among res 1..res (0 if none). digits: (N,15)."""
    res = np.broadcast_to(_i64(res), (digits.shape[0],))
    r_idx = np.arange(1, MAX_RES + 1, dtype=np.int64)
    in_range = r_idx[None, :] <= res[:, None]
    nz = (digits != 0) & in_range
    first = np.argmax(nz, axis=1)
    has = nz.any(axis=1)
    return np.where(has, digits[np.arange(digits.shape[0]), first], 0).astype(np.int64)


def _rotate_digits(digits, res, table) -> np.ndarray:
    res = np.broadcast_to(_i64(res), (digits.shape[0],))
    r_idx = np.arange(1, MAX_RES + 1, dtype=np.int64)
    use = r_idx[None, :] <= res[:, None]
    return np.where(use, table[digits.astype(np.int64)], digits).astype(np.uint8)


def rotate60_ccw_digits(digits, res):
    return _rotate_digits(digits, res, ROTATE60_CCW_DIGIT)


def rotate60_cw_digits(digits, res):
    return _rotate_digits(digits, res, ROTATE60_CW_DIGIT)


def rotate_pent60_ccw_digits(digits, res):
    """Pentagon ccw rotation: rotate digits, then if the leading nonzero
    digit landed on K (deleted axis) rotate once more."""
    out = rotate60_ccw_digits(digits, res)
    lead = leading_nonzero_digit(out, res)
    extra = lead == 1
    if extra.any():
        out2 = rotate60_ccw_digits(out, res)
        out = np.where(extra[:, None], out2, out)
    return out


def is_valid(h) -> np.ndarray:
    """Structural validity per H3 v3.6 h3IsValid."""
    h = np.atleast_1d(_i64(h))
    ok = (h >= 0) & (get_mode(h) == H3_MODE_CELL)
    ok &= ((h >> 56) & 0x7) == 0  # reserved bits
    bc = get_base_cell(h)
    ok &= bc < NUM_BASE_CELLS
    res = get_resolution(h)
    digits = get_digits(h)
    r_idx = np.arange(1, MAX_RES + 1, dtype=np.int64)
    in_range = r_idx[None, :] <= res[:, None]
    ok &= ~(in_range & (digits == 7)).any(axis=1)
    ok &= (np.where(in_range, 0, digits) == np.where(in_range, 0, 7)).all(axis=1)
    # pentagons may not have a leading K digit (deleted subsequence)
    pent = BASE_CELL_IS_PENTAGON[np.clip(bc, 0, NUM_BASE_CELLS - 1)]
    lead = leading_nonzero_digit(digits, res)
    ok &= ~(pent & (lead == 1))
    return ok


def is_pentagon(h) -> np.ndarray:
    h = np.atleast_1d(_i64(h))
    bc = np.clip(get_base_cell(h), 0, NUM_BASE_CELLS - 1)
    lead = leading_nonzero_digit(get_digits(h), get_resolution(h))
    return BASE_CELL_IS_PENTAGON[bc] & (lead == 0)


def is_res_class3(h) -> np.ndarray:
    return get_resolution(_i64(h)) % 2 == 1


def to_parent(h, parent_res) -> np.ndarray:
    """Ancestor at coarser resolution (pure bit math; also expressible as a
    native Spark column expression — see functions/native.py)."""
    h = np.atleast_1d(_i64(h))
    parent_res = np.broadcast_to(_i64(parent_res), h.shape)
    res = get_resolution(h)
    fill_mask = np.zeros_like(h)
    # set digits parent_res+1 .. 15 to 7
    n_fill = 3 * (MAX_RES - parent_res)
    fill_mask = np.where(n_fill > 0, (np.int64(1) << n_fill) - 1, 0)
    out = (h & ~(np.int64(0xF) << 52)) | (parent_res << 52) | fill_mask
    bad = parent_res > res
    return np.where(bad, h, out)


def max_children(res, child_res) -> np.ndarray:
    return 7 ** (np.maximum(_i64(child_res) - _i64(res), 0))


def to_children(h: int, child_res: int) -> np.ndarray:
    """All descendants of a single cell at child_res (1-D int64 array).

    Pentagon lineage skips the K digit: the center child is again a
    pentagon with 6 children, non-center children are plain hexagons.
    """
    h = int(h)
    res = int(get_resolution(h))
    if child_res < res:
        return np.empty(0, dtype=np.int64)
    if child_res == res:
        return np.array([h], dtype=np.int64)
    bc = int(get_base_cell(h))
    pent_base = bool(BASE_CELL_IS_PENTAGON[bc]) and int(
        leading_nonzero_digit(get_digits(np.array([h])), np.array([res]))[0]
    ) == 0

    digit_sets = [get_digits(np.array([h]))[0, :res].tolist()]
    is_pent = [pent_base]
    for _ in range(child_res - res):
        nxt, nxt_pent = [], []
        for ds, p in zip(digit_sets, is_pent):
            for d in range(7):
                if p and d == 1:
                    continue
                nxt.append(ds + [d])
                nxt_pent.append(p and d == 0)
        digit_sets, is_pent = nxt, nxt_pent

    n = len(digit_sets)
    digits = np.full((n, MAX_RES), 7, dtype=np.int64)
    for i, ds in enumerate(digit_sets):
        digits[i, : len(ds)] = ds
    return from_components(np.full(n, bc), np.full(n, child_res), digits)


def to_children_batch(h, child_res: int) -> tuple[np.ndarray, np.ndarray]:
    """All descendants at child_res for a BATCH of cells (vectorized).

    Returns (owner_idx, children): row owner_idx[i] of the input owns
    children[i]. Children are generated level-by-level with pure bit
    math — one numpy step per resolution level, no per-cell Python.
    Pentagon lineage skips the K digit (center child stays a pentagon
    with 6 children). Same outputs as the scalar to_children.
    """
    h = np.atleast_1d(_i64(h))
    res = get_resolution(h)
    out_owner, out_cells = [], []
    for r0 in np.unique(res):
        m = np.flatnonzero(res == r0)
        if r0 > child_res:
            continue
        cur = h[m].copy()
        owner = m.copy()
        pent = is_pentagon(cur)
        for r in range(int(r0) + 1, child_res + 1):
            off = np.int64((15 - r) * 3)
            # bump the res field and clear digit r (7 -> 0)
            base = cur + np.int64(1 << 52) - (np.int64(7) << off)
            child = base[:, None] + (np.arange(7, dtype=np.int64)[None, :] << off)
            keep = np.ones((cur.shape[0], 7), dtype=bool)
            keep[pent, 1] = False  # pentagons skip the K digit
            new_pent = np.zeros((cur.shape[0], 7), dtype=bool)
            new_pent[pent, 0] = True
            flat = keep.ravel()
            cur = child.ravel()[flat]
            owner = np.repeat(owner, 7)[flat]
            pent = new_pent.ravel()[flat]
        out_owner.append(owner)
        out_cells.append(cur)
    if not out_owner:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    return np.concatenate(out_owner), np.concatenate(out_cells)


def h3_to_hex_str(h) -> list[str]:
    return [format(int(x), "x") for x in np.atleast_1d(_i64(h))]


def hex_str_to_h3(strs) -> np.ndarray:
    return np.array([int(s, 16) for s in strs], dtype=np.int64)
