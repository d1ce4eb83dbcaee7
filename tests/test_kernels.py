"""Kernel unit tests: each fast kernel is pinned against a brute-force
implementation of the published scipy semantics (SURVEY.md §2.1 parity notes),
on seeded random inputs including windows/radii larger than the array."""

from __future__ import annotations

import numpy as np
import pytest

from dsm2dtm_spark.kernels import (
    edt_with_indices,
    fill_nearest,
    gaussian_filter2d,
    gaussian_kernel1d,
    grey_opening_square,
    reflect_indices,
    zoom_bilinear,
)
from dsm2dtm_spark.kernels.morphology import dilate_square, erode_square


def _reflect_index(t: int, n: int) -> int:
    if n == 1:
        return 0
    m = t % (2 * n)
    return m if m < n else 2 * n - 1 - m


def _brute_extremum(a, k, is_min):
    r = (k - 1) // 2
    h, w = a.shape
    out = np.empty_like(a)
    fn = np.min if is_min else np.max
    for i in range(h):
        for j in range(w):
            rows = [_reflect_index(i + di, h) for di in range(-r, r + 1)]
            cols = [_reflect_index(j + dj, w) for dj in range(-r, r + 1)]
            out[i, j] = fn(a[np.ix_(rows, cols)])
    return out


def _brute_gaussian(a, sigma):
    taps = gaussian_kernel1d(sigma)
    r = (len(taps) - 1) // 2
    h, w = a.shape
    tmp = np.zeros((h, w), dtype=np.float64)
    for i in range(h):
        for j in range(w):
            tmp[i, j] = sum(taps[dj + r] * a[i, _reflect_index(j + dj, w)] for dj in range(-r, r + 1))
    out = np.zeros((h, w), dtype=np.float64)
    for i in range(h):
        for j in range(w):
            out[i, j] = sum(taps[di + r] * tmp[_reflect_index(i + di, h), j] for di in range(-r, r + 1))
    return out


class TestReflect:
    def test_indices_basic(self):
        # (d c b a | a b c d | d c b a) for n=4, r=4
        assert reflect_indices(4, 4).tolist() == [3, 2, 1, 0, 0, 1, 2, 3, 3, 2, 1, 0]

    def test_radius_longer_than_axis(self):
        idx = reflect_indices(3, 8)
        assert len(idx) == 3 + 16
        assert idx.min() >= 0 and idx.max() <= 2


class TestMorphology:
    # k up to 65 spans the PMF schedule 3, 5, 9, 17, 33, 65 plus 19; (1, 9) and (9, 1)
    # are single rows and columns; (4, 40), (40, 4) and (3, 2) put k wider than one
    # axis or both, where the pad comes from reflect_indices rather than slice copies
    @pytest.mark.parametrize("k", [3, 5, 9, 17, 19, 33, 65])
    @pytest.mark.parametrize("shape", [(7, 7), (5, 12), (12, 5), (1, 9), (9, 1), (4, 40), (40, 4), (3, 2)])
    def test_matches_bruteforce(self, k, shape):
        rng = np.random.default_rng(7)
        for dtype in (np.float32, np.float64):
            a = rng.normal(size=shape).astype(dtype)
            for got, is_min in ((erode_square(a, k), True), (dilate_square(a, k), False)):
                assert got.dtype == dtype
                np.testing.assert_array_equal(got, _brute_extremum(a, k, is_min))

    def test_window_larger_than_axis(self):
        rng = np.random.default_rng(3)
        a = rng.normal(size=(4, 15)).astype(np.float32)
        np.testing.assert_array_equal(erode_square(a, 9), _brute_extremum(a, 9, True))

    def test_opening_removes_small_peak_keeps_plateau(self):
        a = np.zeros((20, 20), dtype=np.float32)
        a[10, 10] = 5.0  # 1-px spike: removed by any opening
        a[2:8, 2:8] = 3.0  # 6x6 plateau survives k=3 opening
        o = grey_opening_square(a, 3)
        assert o[10, 10] == 0.0
        assert o[4, 4] == 3.0

    def test_opening_leq_input(self):
        rng = np.random.default_rng(11)
        a = rng.normal(size=(30, 30)).astype(np.float32)
        assert (grey_opening_square(a, 5) <= a + 1e-6).all()

    def test_idempotent_on_flat(self):
        a = np.full((16, 16), 7.25, dtype=np.float32)
        np.testing.assert_array_equal(grey_opening_square(a, 7), a)


class TestGaussian:
    @pytest.mark.parametrize("sigma", [0.5, 1.0, 2.3])
    def test_matches_bruteforce(self, sigma):
        rng = np.random.default_rng(5)
        a = rng.normal(size=(9, 11)).astype(np.float64)
        np.testing.assert_allclose(gaussian_filter2d(a, sigma), _brute_gaussian(a, sigma), rtol=1e-12, atol=1e-12)

    def test_kernel_radius_rule(self):
        # radius = int(4*sigma + 0.5), scipy truncate=4.0 default
        assert len(gaussian_kernel1d(1.0)) == 2 * 4 + 1
        assert len(gaussian_kernel1d(5.0)) == 2 * 20 + 1
        assert len(gaussian_kernel1d(0.5)) == 2 * 2 + 1

    def test_preserves_constant_and_dtype(self):
        a = np.full((20, 30), 3.5, dtype=np.float32)
        out = gaussian_filter2d(a, 2.0)
        assert out.dtype == np.float32
        np.testing.assert_allclose(out, a, atol=1e-5)

    def test_radius_larger_than_image(self):
        a = np.linspace(0, 1, 5 * 6).reshape(5, 6).astype(np.float64)
        out = gaussian_filter2d(a, 10.0)  # radius 40 >> 5
        assert np.isfinite(out).all()
        b = _brute_gaussian(a, 10.0)
        np.testing.assert_allclose(out, b, rtol=1e-12)


class TestEDT:
    def _brute(self, mask):
        h, w = mask.shape
        vr, vc = np.nonzero(~mask)
        dist = np.zeros((h, w))
        nr = np.zeros((h, w), dtype=np.int64)
        nc = np.zeros((h, w), dtype=np.int64)
        for i in range(h):
            for j in range(w):
                d2 = (vr - i) ** 2 + (vc - j) ** 2
                a = np.lexsort((vr, vc, d2))[0]  # smallest (d², col, row)
                dist[i, j] = d2[a]  # squared distances (kernel contract)
                nr[i, j], nc[i, j] = vr[a], vc[a]
        return dist, nr, nc

    @pytest.mark.parametrize("seed", [0, 1, 2])
    def test_distances_match_bruteforce(self, seed):
        rng = np.random.default_rng(seed)
        mask = rng.random((17, 23)) < 0.6
        mask[3, 4] = False  # guarantee a valid cell
        dist, nr, nc = edt_with_indices(mask)
        bd, br, bc = self._brute(mask)
        np.testing.assert_allclose(dist, bd, rtol=0, atol=1e-9)
        np.testing.assert_array_equal(nr, br)
        np.testing.assert_array_equal(nc, bc)

    def test_valid_cells_map_to_self(self):
        mask = np.zeros((5, 5), dtype=bool)
        mask[2, 2] = True
        dist, nr, nc = edt_with_indices(mask)
        assert dist[0, 0] == 0 and nr[0, 0] == 0 and nc[0, 0] == 0
        assert dist[2, 2] == 1.0

    def test_fill_nearest(self):
        v = np.array([[1.0, 2.0], [3.0, 4.0]], dtype=np.float32)
        inv = np.array([[False, True], [False, False]])
        f = fill_nearest(v, inv)
        assert f[0, 1] == 1.0  # equidistant tie: the smaller column wins
        assert f[0, 0] == 1.0 and f[1, 1] == 4.0

    def test_all_invalid_raises(self):
        with pytest.raises(ValueError):
            edt_with_indices(np.ones((3, 3), dtype=bool))

    @pytest.mark.parametrize("density", [0.001, 0.01, 0.03, 0.3, 0.7])
    def test_sparse_dispatcher_matches_full_transform(self, density):
        from dsm2dtm_spark.kernels import nearest_valid

        rng = np.random.default_rng(int(density * 1000))
        mask = rng.random((40, 55)) < density
        mask[0, 0] = False
        for got, want in zip(nearest_valid(mask), edt_with_indices(mask)):
            np.testing.assert_array_equal(got, want)

    def test_sparse_path_deep_blob_falls_back_correctly(self):
        from dsm2dtm_spark.kernels import nearest_valid

        mask = np.zeros((60, 60), dtype=bool)
        mask[10:50, 10:50] = True  # 44% invalid, deep blob: the scan's budget runs out
        for got, want in zip(nearest_valid(mask), edt_with_indices(mask)):
            np.testing.assert_array_equal(got, want)


class TestZoom:
    def _brute(self, a, zf):
        if np.isscalar(zf):
            zf = (zf, zf)
        h, w = a.shape
        oh, ow = int(round(h * zf[0])), int(round(w * zf[1]))
        oh, ow = max(oh, 1), max(ow, 1)
        out = np.zeros((oh, ow))
        for i in range(oh):
            for j in range(ow):
                ci = i * (h - 1) / (oh - 1) if oh > 1 and h > 1 else 0.0
                cj = j * (w - 1) / (ow - 1) if ow > 1 and w > 1 else 0.0
                i0, j0 = min(int(np.floor(ci)), h - 2) if h > 1 else 0, min(int(np.floor(cj)), w - 2) if w > 1 else 0
                fi, fj = ci - i0, cj - j0
                i1, j1 = min(i0 + 1, h - 1), min(j0 + 1, w - 1)
                out[i, j] = (1 - fi) * ((1 - fj) * a[i0, j0] + fj * a[i0, j1]) + fi * (
                    (1 - fj) * a[i1, j0] + fj * a[i1, j1]
                )
        return out

    @pytest.mark.parametrize("zf", [0.5, 2.0, 0.37, 1.75, (0.5, 2.0)])
    def test_matches_bruteforce(self, zf):
        rng = np.random.default_rng(9)
        a = rng.normal(size=(13, 17))
        np.testing.assert_allclose(zoom_bilinear(a, zf), self._brute(a, zf), rtol=1e-12, atol=1e-12)

    def test_output_shape_rounding(self):
        # int(round(...)) with banker's rounding, as scipy computes it
        a = np.zeros((10, 10))
        assert zoom_bilinear(a, 0.25).shape == (2, 2)  # round(2.5) == 2
        assert zoom_bilinear(a, 0.35).shape == (4, 4)  # round(3.5) == 4

    def test_endpoints_exact(self):
        a = np.arange(20, dtype=np.float64).reshape(4, 5)
        z = zoom_bilinear(a, 3.0)
        assert z[0, 0] == a[0, 0]
        assert z[-1, -1] == a[-1, -1]

    def test_identity(self):
        rng = np.random.default_rng(2)
        a = rng.normal(size=(8, 8)).astype(np.float32)
        np.testing.assert_allclose(zoom_bilinear(a, 1.0), a, rtol=1e-6)
