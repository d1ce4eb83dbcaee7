"""Exact Euclidean distance transform with nearest-site indices, pure numpy.

Drop-in for the reference's uses of ``scipy.ndimage.distance_transform_edt(
mask, return_distances=True, return_indices=True)`` (algorithm.py:313, 332,
437): for every True ("invalid") cell of ``mask``, the Euclidean distance to —
and the (row, col) index of — the nearest False ("valid") cell. False cells map
to themselves at distance 0.

Algorithm (from scratch, exact, O(h·w) total):

1. Column scan: for every (i, j), the nearest valid row i*(i, j) within column
   j and its distance g = |i − i*| (two vectorized accumulate scans).
2. Row transform: minimize (j − q)² + g(i, q)² over source columns q with the
   Felzenszwalb–Huttenlocher lower-envelope-of-parabolas method, vectorized
   ACROSS all rows at once: the per-row stack pointers advance in lockstep
   with masked pop/advance rounds, so the Python loop is O(w) amortized while
   every step does O(h) vector work.

One tie rule on every route: the valid cell with the smallest (d², col, row).
``nearest_valid`` finds it with an offset scan whose cost follows the holes
and hands deep voids to this transform.
"""

from __future__ import annotations

import numpy as np

_BIG = 1.0e18  # finite sentinel (inf would produce nan in envelope intersections)
_SCAN_BUDGET = 16  # offset-scan cell-visits per grid cell before the full transform takes over


def _envelope_transform(f: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-row 1-D squared-distance transform: out[i, j] = min_q (j−q)² + f[i, q].

    Returns (min value, argmin q). ``f`` must be float64 with values < _BIG*2.
    Vectorized Felzenszwalb–Huttenlocher across rows.
    """
    h, w = f.shape
    rows = np.arange(h)
    v = np.zeros((h, w), dtype=np.int64)  # parabola stacks (positions q)
    z = np.full((h, w + 1), np.inf)  # envelope boundaries
    z[:, 0] = -np.inf
    k = np.zeros(h, dtype=np.int64)  # stack tops

    for q in range(1, w):
        fq = f[:, q] + float(q * q)
        while True:
            vk = v[rows, k]
            s = (fq - (f[rows, vk] + vk.astype(np.float64) ** 2)) / (2.0 * (q - vk))
            pop = (s <= z[rows, k]) & (k > 0)
            if not pop.any():
                break
            k[pop] -= 1
        k += 1
        v[rows, k] = q
        z[rows, k] = s
        z[rows, k + 1] = np.inf

    out = np.empty((h, w), dtype=np.float64)
    arg = np.empty((h, w), dtype=np.int64)
    ptr = np.zeros(h, dtype=np.int64)
    for j in range(w):
        while True:
            adv = z[rows, ptr + 1] < j
            if not adv.any():
                break
            ptr[adv] += 1
        vp = v[rows, ptr]
        arg[:, j] = vp
        out[:, j] = (j - vp.astype(np.float64)) ** 2 + f[rows, vp]
    return out, arg


def edt_with_indices(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Return (squared distances, nearest_row, nearest_col) for boolean ``mask``.

    ``dist2[i,j]`` = squared Euclidean distance from (i,j) to the nearest cell
    with ``mask == False``; 0 where mask is False. ``nearest_row/col`` index
    that cell (self where mask is False). Requires at least one False cell.
    Squared distances are exact integers in float64 — callers compare
    ``dist2 <= threshold**2``, equivalent to scipy's ``dist <= threshold`` and
    a full-array sqrt cheaper.
    """
    mask = np.asarray(mask, dtype=bool)
    h, w = mask.shape
    if not (~mask).any():
        raise ValueError("edt_with_indices requires at least one valid (False) cell")

    rows = np.arange(h, dtype=np.int32)[:, None]
    # nearest valid row at-or-above: maximum.accumulate of valid row indices
    up = np.where(~mask, rows, np.int32(-1))
    up = np.maximum.accumulate(up, axis=0)  # -1 where none above
    # nearest valid row at-or-below
    down = np.where(~mask, rows, np.int32(2 * h))
    down = np.minimum.accumulate(down[::-1], axis=0)[::-1]  # 2h where none below

    big_i = np.int32(1 << 30)
    dup = np.where(up >= 0, rows - up, big_i)
    ddn = np.where(down < h, down - rows, big_i)
    use_up = dup <= ddn  # prefer the upward site on row-distance ties
    g = np.where(use_up, dup, ddn)
    gr = np.where(use_up, up, down)  # chosen source row per (i, j)

    g2 = np.where(g >= big_i, _BIG, g.astype(np.float64) ** 2)
    dist2, qstar = _envelope_transform(g2)

    nearest_col = qstar
    nearest_row = np.take_along_axis(gr, qstar.astype(np.int32), axis=1)
    return dist2, nearest_row, nearest_col


def _offset_rings(h: int, w: int):
    """Yield rings (R, dr, dc, d²) of doubling radius R = 1, 2, 4, …: the offsets
    with (R/2)² < dr² + dc² ≤ R² that fit an h×w grid, in (d², dc, dr) order."""
    inner, r = 0, 1
    while True:
        span_r, span_c = min(r, h - 1), min(r, w - 1)
        dr, dc = np.mgrid[-span_r : span_r + 1, -span_c : span_c + 1]
        d2 = dr * dr + dc * dc
        ring = (d2 > inner * inner) & (d2 <= r * r)
        dr, dc, d2 = dr[ring], dc[ring], d2[ring]
        order = np.lexsort((dr, dc, d2))
        yield r, dr[order], dc[order], d2[order]
        inner, r = r, 2 * r


def nearest_valid(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``edt_with_indices``'s contract and tie rule, at a cost that follows the holes.

    Distance-ordered offset scan: visit the offsets (dr, dc) in (d², dc, dr)
    order and, per offset, give every still-unassigned invalid cell whose
    shifted cell is valid that cell. The first hit is the smallest
    (d², col, row), so no tie is left to break. Cost is one vector step per
    offset over the cells still pending — small for the shallow holes
    refinement punches. Deep voids (lakes, coverage gaps) exhaust a fixed
    work budget and go to the O(h·w) full transform, with the same answer.
    """
    mask = np.asarray(mask, dtype=bool)
    h, w = mask.shape
    if not (~mask).any():
        raise ValueError("nearest_valid requires at least one valid (False) cell")
    dist2 = np.zeros(h * w, dtype=np.float64)
    nr, nc = (a.ravel() for a in np.indices((h, w)))
    pending = np.flatnonzero(mask)  # flat indices of cells not yet assigned
    budget = _SCAN_BUDGET * h * w  # cell-visits before the full transform is cheaper
    for r, ring_dr, ring_dc, ring_d2 in _offset_rings(h, w):
        if not len(pending):
            break
        # valid cells in a grid padded by r, so no offset of the ring leaves it
        wp = w + 2 * r
        valid = np.pad(~mask, r).ravel()
        pr, pc = np.divmod(pending, w)
        at = (pr + r) * wp + pc + r
        for dr, dc, d2 in zip(ring_dr.tolist(), ring_dc.tolist(), ring_d2.tolist()):
            budget -= len(at)
            if budget < 0:
                return edt_with_indices(mask)
            hit = valid[at + (dr * wp + dc)]
            if hit.any():
                cells = pending[hit]
                dist2[cells] = d2
                nr[cells] += dr
                nc[cells] += dc
                pending, at = pending[~hit], at[~hit]
                if not len(pending):
                    break
    return dist2.reshape(h, w), nr.reshape(h, w), nc.reshape(h, w)


def fill_nearest(values: np.ndarray, invalid_mask: np.ndarray) -> np.ndarray:
    """Replace invalid cells with the value of their nearest valid cell.

    Mirrors the reference's ``a[tuple(distance_transform_edt(...)[1])]`` gather
    (algorithm.py:311-314, 330-335).
    """
    if not invalid_mask.any():
        return values.copy()
    _, nr, nc = nearest_valid(invalid_mask)
    return values[nr, nc]
