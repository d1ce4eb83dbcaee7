"""Flat grey-scale morphology over square footprints, pure numpy.

Reference behavior: ``scipy.ndimage.grey_opening(a, footprint=np.ones((k,k)))``
with default boundary mode ``'reflect'`` (reference algorithm.py:205-206). A
square flat footprint separates into two 1-D passes per operation. Each 1-D
sliding min/max runs in O(n·log k) by log-step doubling: ``m_2s[i] =
op(m_s[i], m_s[i+s])`` extends the span from s to 2s, and once s is the largest
power of two ≤ k, ``out[i] = op(m_s[i], m_s[i+k-s])`` covers the window with two
overlapping spans (min and max are idempotent, so the overlap is exact).

In numpy this beats the O(n) van Herk / Gil–Werman scheme: every step is one
whole-array SIMD ``np.minimum``/``np.maximum`` over contiguous slices, while
van Herk's prefix/suffix ``accumulate`` scans are scalar loops with a
dependency on the previous element. The vertical pass slices row blocks
(``[..., a:b, :]``) instead of transposing, so it needs no copy either. A
161-px PMF window takes 8 passes.

All code here is written from scratch against the published scipy semantics.
"""

from __future__ import annotations

import numpy as np

from dsm2dtm_spark.kernels.padding import pad_reflect


def _sliding_extremum_1d(a: np.ndarray, window: int, axis: int, is_min: bool) -> np.ndarray:
    """Running min/max of odd ``window`` along ``axis``, reflect boundary.

    With p the input padded by r = (window-1)//2 on each side, out[i] is the
    extremum of p[i : i+window] for i in 0..n-1.
    """
    if window == 1:
        return a.copy()
    if window % 2 != 1:
        raise ValueError("window must be odd")
    op = np.minimum if is_min else np.maximum
    axis %= a.ndim
    tail = (slice(None),) * (a.ndim - 1 - axis)

    def at(start: int, stop: int) -> tuple:
        return (Ellipsis, slice(start, stop)) + tail

    n = a.shape[axis]
    m = pad_reflect(a, (window - 1) // 2, axis)  # m[i] = extremum of p[i : i+s]
    s = 1
    while 2 * s <= window:
        length = m.shape[axis] - s
        m = op(m[at(0, length)], m[at(s, s + length)])
        s *= 2
    shift = window - s
    return op(m[at(0, n)], m[at(shift, shift + n)])


def erode_square(a: np.ndarray, window: int) -> np.ndarray:
    """Grey erosion by a flat ``window``×``window`` square, reflect boundary."""
    out = _sliding_extremum_1d(a, window, axis=-1, is_min=True)
    return _sliding_extremum_1d(out, window, axis=-2, is_min=True)


def dilate_square(a: np.ndarray, window: int) -> np.ndarray:
    """Grey dilation by a flat ``window``×``window`` square, reflect boundary."""
    out = _sliding_extremum_1d(a, window, axis=-1, is_min=False)
    return _sliding_extremum_1d(out, window, axis=-2, is_min=False)


def grey_opening_square(a: np.ndarray, window: int) -> np.ndarray:
    """Grey opening (erosion then dilation) by a flat square footprint.

    Matches scipy.ndimage.grey_opening(a, footprint=np.ones((window, window)))
    with mode='reflect' for odd windows (the only case the pipeline uses,
    reference algorithm.py:200-212 guarantees odd window growth w -> 2w-1).
    """
    return dilate_square(erode_square(a, window), window)
