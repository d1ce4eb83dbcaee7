"""Reflect ("symmetric", edge-repeated) boundary indexing shared by all kernels.

scipy.ndimage's default boundary mode is ``'reflect'``: ``(d c b a | a b c d |
d c b a)`` — the edge sample is repeated. Reference ops relying on it:
grey_opening (algorithm.py:205-206), gaussian_filter (algorithm.py:248,428).
Reimplemented from scratch; handles pad radius larger than the axis length via
the period-2n symmetric extension.
"""

from __future__ import annotations

import numpy as np


def reflect_indices(n: int, radius: int) -> np.ndarray:
    """Index map of length ``n + 2*radius`` selecting the symmetric-reflect
    extension of an axis of length ``n`` (positions ``-radius .. n+radius-1``)."""
    if n <= 0:
        raise ValueError("axis length must be positive")
    t = np.arange(-radius, n + radius, dtype=np.int64)
    if n == 1:
        return np.zeros_like(t)
    m = np.mod(t, 2 * n)  # non-negative
    return np.where(m < n, m, 2 * n - 1 - m)


def pad_reflect(a: np.ndarray, radius: int, axis: int) -> np.ndarray:
    """Pad ``a`` by ``radius`` samples of symmetric reflection along ``axis``.

    Fast path (0 < radius < n): slice copies (memcpy of rows or row blocks)
    instead of a fancy-indexed gather — this is on the PMF hot path at 10k×10k.
    """
    n = a.shape[axis]
    if not 0 < radius < n:
        return np.take(a, reflect_indices(n, radius), axis=axis)
    axis %= a.ndim
    tail = (slice(None),) * (a.ndim - 1 - axis)

    def at(s: slice) -> tuple:
        return (Ellipsis, s) + tail

    shape = list(a.shape)
    shape[axis] = n + 2 * radius
    out = np.empty(shape, dtype=a.dtype)
    out[at(slice(radius, radius + n))] = a
    out[at(slice(None, radius))] = a[at(slice(radius - 1, None, -1))]
    out[at(slice(radius + n, None))] = a[at(slice(None, -radius - 1, -1))]
    return out
