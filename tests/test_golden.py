"""Golden-pipeline behavioral tests.

Each test pins the from-scratch single-node pipeline to a published behavioral
assertion of the reference (file:line cited per test; SURVEY.md §5 level 1/3).
These are the same scenario classes FIXTURES.md turns into the synthetic image
table, so the Spark paths inherit them transitively via the per-row parity
tests.
"""

from __future__ import annotations

import numpy as np
import pytest

from dsm2dtm_spark import golden
from dsm2dtm_spark.params import derive_params

NODATA = -9999.0


def flat(shape=(100, 100), base=100.0):
    return np.full(shape, base, dtype=np.float32)


class TestTerrainSlope:
    def test_flat_clamps_to_min(self):
        # reference tests/test_core.py:69-78
        assert golden.terrain_slope(np.zeros((10, 10), dtype=np.float32), 1.0, NODATA) == 0.01

    def test_unit_gradient(self):
        # reference tests/test_core.py:81-94: z = x → slope 1.0
        x = np.linspace(0, 9, 10)
        xv, _ = np.meshgrid(x, x)
        assert abs(golden.terrain_slope(xv.astype(np.float32), 1.0, NODATA) - 1.0) < 1e-4

    def test_nodata_ignored(self):
        # reference tests/test_core.py:97-103
        dsm = np.zeros((10, 10), dtype=np.float32)
        dsm[:, 5:] = NODATA
        assert golden.terrain_slope(dsm, 1.0, NODATA) == 0.01

    def test_all_nodata_falls_back(self):
        dsm = np.full((10, 10), NODATA, dtype=np.float32)
        assert golden.terrain_slope(dsm, 1.0, NODATA) == 0.05


class TestDerivedParams:
    def test_resolution_scaling(self):
        # reference tests/test_core.py:106-111
        p1 = derive_params(1.0)
        p05 = derive_params(0.5)
        assert p05.init_window >= p1.init_window
        assert abs(p05.slope_px - 0.5 * p1.slope_px) < 1e-6

    def test_one_meter_defaults(self):
        p = derive_params(1.0)
        assert p.init_window == 3
        assert p.max_window == 161
        assert p.refine_sigma == 5.0
        assert p.gap_dist_px == 100.0

    def test_max_window_clamped_to_image(self):
        p = derive_params(1.0, max_image_dim=50)
        assert p.max_window == 49  # odd-floored image dim
        p2 = derive_params(1.0, max_image_dim=10)
        assert p2.max_window == 9

    def test_kernel_safety_cap_5000px(self):
        # reference plugin's hard cap (processing_algorithm.py:19, 219-225):
        # a degree-resolution raster (0.02° pixels read as 0.02 m — past the
        # <0.01 degrees heuristic) with --radius 500 on a large image derives
        # a 50001-px kernel and a multi-GB tiled halo; it must fail fast
        from dsm2dtm_spark.params import apply_radius_override

        p = derive_params(1.0, max_image_dim=100_000)
        with pytest.raises(ValueError, match="safety cap"):
            apply_radius_override(p, 500.0, cell_size=0.02, max_image_dim=100_000)
        # a small chip clamps the kernel to the image dim — legal (the
        # reference's own 1 cm stress case relies on this), no cap trip
        apply_radius_override(p, 500.0, cell_size=0.02, max_image_dim=512)
        assert p.max_window == 511
        # at a sane resolution the same radius is fine on a big image too
        apply_radius_override(p, 500.0, cell_size=1.0, max_image_dim=5000)
        assert p.max_window == 1001


class TestPMF:
    def test_removes_block_keeps_ground(self):
        # reference tests/test_core.py:114-131
        dsm = np.full((20, 20), 10.0, dtype=np.float32)
        dsm[8:12, 8:12] = 20.0
        ground = golden.pmf(dsm, NODATA, init_window=3, max_window=9, slope_px=0.1,
                            init_threshold=0.5, max_threshold=3.0, min_fill=10.0)
        assert ground[10, 10] < 11.0
        assert ground[0, 0] == 10.0

    def test_all_nodata_passthrough(self):
        dsm = np.full((8, 8), NODATA, dtype=np.float32)
        np.testing.assert_array_equal(golden.pmf(dsm, NODATA, 3, 9, 0.1, min_fill=np.nan), dsm)

    def test_global_min_preserved_through_pmf_and_refine(self):
        """Invariant the tiled two-pass plan relies on (SURVEY.md §7.2 item 3):
        the global valid minimum survives PMF and refinement unchanged, so one
        pass-1 aggregation serves every min-fill in the pipeline."""
        rng = np.random.default_rng(0)
        dsm = (100 + rng.normal(0, 3, (60, 60))).astype(np.float32)
        dsm[10:20, 10:20] += 15
        mn = dsm.min()
        g = golden.pmf(dsm, NODATA, 3, 17, 0.05, min_fill=mn)
        assert g[g != NODATA].min() == mn
        r = golden.refine(g, NODATA, sigma=5.0, min_fill=mn)
        assert r[r != NODATA].min() == mn


class TestRefine:
    def test_spike_removed(self):
        # reference tests/test_core.py:134-143
        ground = np.full((10, 10), 10.0, dtype=np.float32)
        ground[5, 5] = 15.0
        refined = golden.refine(ground, NODATA, sigma=2.0, min_fill=10.0)
        assert refined[5, 5] == NODATA
        assert refined[0, 0] == 10.0


class TestEndToEnd:
    def test_building_and_spike_removed(self):
        # reference tests/test_core.py:146-160 (via the array API)
        dsm = flat()
        dsm[40:60, 40:60] = 120.0
        dsm[10, 10] = 115.0
        dtm = golden.dsm_to_dtm(dsm, (1.0, 1.0), radius_m=40.0, nodata=NODATA)
        assert dtm[50, 50] < 110.0
        assert abs(dtm[50, 50] - 100.0) < 2.0
        assert abs(dtm[0, 0] - 100.0) < 0.5

    def test_perfectly_flat_exact(self):
        # reference tests/test_stress.py:99-106
        dtm = golden.dsm_to_dtm(np.zeros((100, 100), dtype=np.float32), (1.0, 1.0), nodata=NODATA)
        assert np.allclose(dtm, 0.0, atol=1e-5)

    def test_cliff_preserved(self):
        # reference tests/test_stress.py:83-96
        dsm = flat()
        dsm[:, 50:] = 150.0
        dtm = golden.dsm_to_dtm(dsm, (1.0, 1.0), slope=0.5, nodata=NODATA)
        assert abs(dtm[50, 10] - 100.0) < 1.0
        assert abs(dtm[50, 90] - 150.0) < 1.0

    def test_noise_variance_reduced(self):
        # reference tests/test_stress.py:109-120
        rng = np.random.default_rng(42)
        dsm = flat() + rng.normal(0, 2.0, (100, 100)).astype(np.float32)
        dtm = golden.dsm_to_dtm(dsm, (1.0, 1.0), nodata=NODATA)
        assert np.std(dtm) < np.std(dsm)

    def test_dense_vegetation_recovers_ground(self):
        # reference tests/test_stress.py:123-134
        rng = np.random.default_rng(42)
        dsm = flat()
        n = int(dsm.size * 0.5)
        idx = rng.choice(dsm.size, n, replace=False)
        dsm.ravel()[idx] += rng.uniform(5.0, 15.0, n).astype(np.float32)
        dtm = golden.dsm_to_dtm(dsm, (1.0, 1.0), nodata=NODATA)
        assert np.mean(dtm) < np.mean(dsm)
        assert abs(np.mean(dtm) - 100.0) < 1.0

    def test_sparse_ground(self):
        # reference tests/test_stress.py:137-155 (shrunk 1000→300 for CI speed)
        rng = np.random.default_rng(42)
        dsm = np.full((300, 300), 120.0, dtype=np.float32)
        idx = rng.choice(dsm.size, int(dsm.size * 0.05), replace=False)
        dsm.ravel()[idx] = 100.0
        dtm = golden.dsm_to_dtm(dsm, (1.0, 1.0), radius_m=50.0, nodata=NODATA)
        assert np.mean(dtm) < 105.0

    def test_heavy_nodata_gap_filled(self):
        # reference tests/test_stress.py:158-171
        rng = np.random.default_rng(42)
        dsm = flat()
        idx = rng.choice(dsm.size, int(dsm.size * 0.6), replace=False)
        dsm.ravel()[idx] = NODATA
        dtm = golden.dsm_to_dtm(dsm, (1.0, 1.0), nodata=NODATA)
        assert np.sum(dtm != NODATA) >= np.sum(dsm != NODATA)

    def test_checkerboard_nodata(self):
        # reference tests/test_stress.py:174-185
        dsm = flat()
        checker = np.indices(dsm.shape).sum(axis=0) % 2
        dsm[checker == 1] = NODATA
        dtm = golden.dsm_to_dtm(dsm, (1.0, 1.0), nodata=NODATA)
        assert np.mean(dtm != NODATA) > 0.95

    def test_spike_and_pit(self):
        # reference tests/test_stress.py:188-200
        dsm = flat((50, 50))
        dsm[25, 25] = 10000.0
        dsm[10, 10] = 0.0
        dtm = golden.dsm_to_dtm(dsm, (1.0, 1.0), nodata=NODATA)
        assert dtm[25, 25] < 150.0
        assert dtm[10, 10] < 50.0

    def test_high_resolution_coarse_path(self):
        # reference tests/test_stress.py:57-69: 1 cm res, 1 m-wide block at +5
        dsm = flat((500, 500))
        dsm[200:300, 200:300] += 5.0
        dtm = golden.dsm_to_dtm(dsm, (0.01, 0.01), nodata=NODATA)
        assert abs(dtm[250, 250] - 100.0) < 0.5

    def test_non_square_pixels(self):
        # reference tests/test_stress.py:72-80
        dtm = golden.dsm_to_dtm(flat(), (0.5, 2.0), nodata=NODATA)
        assert dtm.shape == (100, 100)

    def test_output_is_float32(self):
        dtm = golden.dsm_to_dtm(flat((30, 30)), (1.0, 1.0), nodata=NODATA)
        assert dtm.dtype == np.float32

    def test_monotonicity(self):
        # reference tests/test_integration.py:65-87: DTM ≤ DSM + 0.1 for ≥98.5%
        # of pixels. The reference asserts this on smooth real terrain; the
        # synthetic analog is a ramp (not per-pixel noise, which the final
        # smoothing pass legitimately raises) plus buildings and spikes.
        rng = np.random.default_rng(7)
        yy, xx = np.mgrid[0:150, 0:150]
        dsm = (100.0 + 0.05 * yy + 0.02 * xx).astype(np.float32)
        dsm[30:60, 30:70] += 12.0
        dsm.ravel()[rng.choice(dsm.size, 200, replace=False)] += rng.uniform(3, 10, 200).astype(np.float32)
        dtm = golden.dsm_to_dtm(dsm, (1.0, 1.0), radius_m=40.0, nodata=NODATA)
        both = (dtm != NODATA) & (dsm != NODATA)
        viol = np.mean(dtm[both] > dsm[both] + 0.1)
        assert viol < 0.015


class TestValidation:
    def test_bad_radius(self):
        # reference core.py:231-234
        with pytest.raises(ValueError):
            golden.validate_job_params(-1.0, None)
        with pytest.raises(ValueError):
            golden.validate_job_params(float("nan"), None)

    def test_bad_slope(self):
        with pytest.raises(ValueError):
            golden.validate_job_params(40.0, 1.5)
        with pytest.raises(ValueError):
            golden.validate_job_params(40.0, 0.0)


class TestUTM:
    def test_zone_math(self):
        # reference utm_utils.py:42-45 fallback form; expectations match the
        # reference's own test points (tests/test_utm_utils.py)
        assert golden.estimate_utm_epsg(0.5, 51.0) == 32631  # London-ish
        assert golden.estimate_utm_epsg(-74.0, 40.7) == 32618  # NYC
        assert golden.estimate_utm_epsg(151.2, -33.8) == 32756  # Sydney (south)
        assert golden.estimate_utm_epsg(180.0, 0.0) == 32601  # wrap


class TestIDWInpaint:
    def test_idw_fills_in_range_holes_with_weighted_mean(self):
        g = flat((30, 30))
        g[10:12, 10:12] = NODATA
        out = golden.gap_fill_idw(g, NODATA, max_dist_px=5, k=4)
        assert (out != NODATA).all()
        np.testing.assert_allclose(out[10:12, 10:12], 100.0, atol=1e-4)

    def test_idw_respects_range_bound(self):
        g = flat((40, 40))
        g[5:35, 5:35] = NODATA
        out = golden.gap_fill_idw(g, NODATA, max_dist_px=3, k=4)
        assert out[20, 20] == NODATA  # deep interior stays flagged
        assert out[6, 6] != NODATA

    def test_pipeline_idw_option(self):
        """The pipeline keeps the reference's nearest-value gap fill and
        takes no ``inpaint`` option; IDW is a stage a caller runs on a grid
        itself, and it fills exactly the holes the nearest fill reaches."""
        rng = np.random.default_rng(4)
        dsm = flat((60, 60))
        idx = rng.choice(dsm.size, 400, replace=False)
        dsm.ravel()[idx] = NODATA
        with pytest.raises(TypeError):
            golden.dsm_to_dtm(dsm, (1.0, 1.0), nodata=NODATA, inpaint="idw")
        a = golden.gap_fill(dsm, NODATA, max_dist_px=3)
        b = golden.gap_fill_idw(dsm, NODATA, max_dist_px=3)
        assert np.array_equal(a != NODATA, b != NODATA)
        # IDW output interpolates (bounded by neighborhood range), NN copies
        assert np.abs(b[b != NODATA] - 100.0).max() < 5.0
