"""Property-based tests (hypothesis) — the reference's stress/property style
(SURVEY.md §5 level 3) applied to the engine's pure kernels: random inputs,
invariants that must hold for ALL of them, shrinking on failure. No Spark
session needed — these pin the numpy/stdlib layers every Spark path sits on.
"""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from dsm2dtm_spark import codecs, golden
from dsm2dtm_spark.kernels import edt_with_indices, nearest_valid
from dsm2dtm_spark.operators import cellindex, tiling
from dsm2dtm_spark.params import NODATA_DEFAULT
from dsm2dtm_spark.sources import tiffio

# keep runs fast and deterministic in CI: bounded examples, no deadline
# (Spark-adjacent numpy work can blip over hypothesis's default 200 ms)
FAST = settings(max_examples=60, deadline=None)


grids = st.tuples(
    st.integers(min_value=1, max_value=40),  # h
    st.integers(min_value=1, max_value=40),  # w
    st.integers(min_value=0, max_value=2**32 - 1),  # seed
    st.floats(min_value=0.0, max_value=0.5),  # nodata fraction
)


def _grid(h, w, seed, nodata_frac):
    rng = np.random.default_rng(seed)
    g = (rng.normal(100, 25, (h, w))).astype(np.float32)
    if nodata_frac:
        g[rng.random((h, w)) < nodata_frac] = NODATA_DEFAULT
    return g


# nearest-valid masks: True = invalid. 1×n and n×1 strips alongside 2-D grids
mask_shapes = st.one_of(
    st.tuples(st.just(1), st.integers(min_value=1, max_value=80)),
    st.tuples(st.integers(min_value=1, max_value=80), st.just(1)),
    st.tuples(st.integers(min_value=1, max_value=40), st.integers(min_value=1, max_value=40)),
)
masks = st.tuples(
    st.sampled_from(["random", "lattice", "ringed", "void"]),
    mask_shapes,
    st.integers(min_value=0, max_value=2**32 - 1),  # seed
)


def _mask(kind, shape, seed):
    rng = np.random.default_rng(seed)
    h, w = shape
    if kind == "random":
        mask = rng.random(shape) < rng.random()
    elif kind == "lattice":  # valid sites on a regular lattice: equidistant ties everywhere
        mask = np.ones(shape, dtype=bool)
        s = int(rng.integers(2, 6))
        mask[rng.integers(0, s) :: s, rng.integers(0, s) :: s] = False
    elif kind == "ringed":  # single holes ringed by valid cells: 4-way ties at d² = 1
        ii, jj = np.indices(shape)
        mask = ((ii + jj) % 2 == 0) & (rng.random(shape) < rng.uniform(0.01, 0.2))
    else:  # "void": a few valid cells in a sea of invalid ones, deep enough to end the offset scan early
        mask = np.ones(shape, dtype=bool)
        k = int(rng.integers(1, 4))
        mask[rng.integers(0, h, k), rng.integers(0, w, k)] = False
    if mask.all():
        mask[rng.integers(0, h), rng.integers(0, w)] = False
    return mask


class TestNearestValidProperties:
    @FAST
    @given(masks)
    @example(("void", (40, 40), 0))
    @example(("void", (1, 80), 1))
    @example(("lattice", (37, 29), 2))
    @example(("ringed", (3, 11), 2))  # under 4% invalid: the old sparse route's upper-row tie
    def test_offset_scan_equals_full_transform(self, case):
        """One answer and one tie rule on every route: smallest (d², col, row)."""
        mask = _mask(*case)
        for got, want in zip(nearest_valid(mask), edt_with_indices(mask)):
            np.testing.assert_array_equal(got, want)


class TestTiffProperties:
    @FAST
    @given(grids, st.booleans(), st.booleans())
    def test_roundtrip_identity(self, hwsf, compress, bigtiff):
        h, w, seed, frac = hwsf
        g = _grid(h, w, seed, frac)
        data = tiffio.write_geotiff(
            g, x0=1.5, y0=2.5, xres=0.5, yres=0.25, epsg=32631,
            compress=compress, bigtiff=bigtiff,
        )
        back, meta = tiffio.read_geotiff(data)
        np.testing.assert_array_equal(back, g)
        assert (meta["x0"], meta["y0"], meta["xres"], meta["yres"]) == (1.5, 2.5, 0.5, 0.25)
        assert meta["epsg"] == 32631

    @FAST
    @given(grids)
    def test_roundtrip_with_embedded_overviews(self, hwsf):
        from dsm2dtm_spark.operators.terrain import overview_levels_numpy

        h, w, seed, frac = hwsf
        g = _grid(h, w, seed, frac)
        ovs = [
            np.where(cnt > 0, value, float(NODATA_DEFAULT)).astype(np.float32)
            for _, cnt, value in overview_levels_numpy(g, 2)
        ]
        data = tiffio.write_geotiff(g, 1.5, 2.5, 0.5, 0.25, overviews=ovs)
        back, _ = tiffio.read_geotiff(data)
        np.testing.assert_array_equal(back, g)
        for k, ov in enumerate(ovs, start=1):
            got, _ = tiffio.read_geotiff(data, ifd_index=k)
            np.testing.assert_array_equal(got, ov)

    @FAST
    @given(st.binary(min_size=0, max_size=64))
    @example(b"II\x2a\x00\x40\x00\x00\x00")  # valid magic, IFD past EOF
    @example(b"II\x2a\x00\x08\x00\x00\x00\xff\xff")  # huge entry count, truncated
    @example(b"MM\x00\x2a\x00\x00\x00\x08\x00")  # big-endian, truncated IFD
    def test_garbage_never_crashes_uncontrolled(self, junk):
        # arbitrary bytes must raise ValueError (a typed, catchable error for
        # the permissive quarantine), never segfault/IndexError/struct.error —
        # random bytes rarely carry the TIFF magic, so the post-magic parse
        # paths are pinned by the directed @example cases too
        try:
            tiffio.read_geotiff(junk)
        except ValueError:
            pass
        try:
            tiffio.read_geotiff(b"II\x2a\x00" + junk)  # force the parse path
        except ValueError:
            pass

    @FAST
    @given(grids)
    def test_truncated_payload_detected(self, hwsf):
        h, w, seed, frac = hwsf
        if h * w < 2:
            return
        g = _grid(h, w, seed, frac)
        data = tiffio.write_geotiff(g, 0, 0, 1.0, 1.0)
        try:
            tiffio.read_geotiff(data[: len(data) - h * w * 2])  # cut half the pixels
        except ValueError:
            pass  # either a clean error ...
        # ... or, if the cut only removed trailing strips the reader doesn't
        # need (impossible here since strips are last), equality would hold.


class TestCodecProperties:
    @FAST
    @given(grids)
    def test_raw_f32_and_png16_roundtrip(self, hwsf):
        h, w, seed, frac = hwsf
        g = _grid(h, w, seed, frac)
        np.testing.assert_array_equal(codecs.decode(codecs.encode(g, "raw_f32"), h, w, "raw_f32"), g)
        # png16 quantizes to 65535 levels of the value range: error bounded
        back = codecs.decode(codecs.encode(g, "png16"), h, w, "png16")
        valid = g != NODATA_DEFAULT
        np.testing.assert_array_equal(back == NODATA_DEFAULT, ~valid)
        if valid.any():
            rng_v = float(g[valid].max() - g[valid].min())
            atol = max(rng_v / 65534.0, 1e-6)
            np.testing.assert_allclose(back[valid], g[valid], rtol=0, atol=atol)

    @FAST
    @given(grids)
    def test_qz8_psnr_bound_holds(self, hwsf):
        h, w, seed, frac = hwsf
        g = _grid(h, w, seed, frac)
        valid = g != NODATA_DEFAULT
        if valid.sum() < 2:
            return
        back = codecs.decode(codecs.encode(g, "qz8"), h, w, "qz8")
        # the engine's lossy-codec contract: PSNR >= 40 dB on valid pixels
        assert codecs.psnr(g, back) >= 40.0


class TestCellIndexProperties:
    lonlats = st.tuples(
        st.floats(min_value=-180.0, max_value=180.0, allow_nan=False),
        st.floats(min_value=-90.0, max_value=90.0, allow_nan=False),
        st.integers(min_value=1, max_value=15),
    )

    @FAST
    @given(lonlats)
    def test_res_tag_and_parent_chain(self, lls):
        lon, lat, res = lls
        cell = int(cellindex.encode_cells(np.array([lon]), np.array([lat]), res)[0])
        assert cell & 31 == res  # res tag in the low bits
        # parent at every coarser level is itself the parent's own encode-
        # compatible ancestor: parent(parent(c, r2), r1) == parent(c, r1)
        for r2 in range(1, res + 1):
            p2 = int(cellindex.parent_cell(np.array([cell]), r2)[0])
            assert p2 & 31 == r2
            for r1 in range(1, r2 + 1):
                a = int(cellindex.parent_cell(np.array([cell]), r1)[0])
                b = int(cellindex.parent_cell(np.array([p2]), r1)[0])
                assert a == b, (lon, lat, res, r2, r1)

    @FAST
    @given(lonlats)
    def test_same_point_same_cell_and_containment(self, lls):
        lon, lat, res = lls
        c1 = int(cellindex.encode_cells(np.array([lon]), np.array([lat]), res)[0])
        c2 = int(cellindex.encode_cells(np.array([lon]), np.array([lat]), res)[0])
        assert c1 == c2  # deterministic
        # encoding directly at a coarser res == taking the parent
        for r in range(1, res + 1):
            direct = int(cellindex.encode_cells(np.array([lon]), np.array([lat]), r)[0])
            via_parent = int(cellindex.parent_cell(np.array([c1]), r)[0])
            assert direct == via_parent, (lon, lat, res, r)


class TestTerrainProperties:
    @FAST
    @given(grids)
    def test_pyramid_conserves_mass_and_counts(self, hwsf):
        from dsm2dtm_spark.operators.terrain import overview_levels_numpy

        g = _grid(*hwsf)
        valid = g != NODATA_DEFAULT
        n_valid = int(valid.sum())
        base_sum = float(np.where(valid, g.astype(np.float64), 0.0).sum())
        lo = float(g.astype(np.float64)[valid].min()) if n_valid else 0.0
        hi = float(g.astype(np.float64)[valid].max()) if n_valid else 0.0
        for level, cnt, value in overview_levels_numpy(g, 4):
            assert int(cnt.sum()) == n_valid  # every valid base pixel counted once
            assert cnt.max(initial=0) <= 4 ** level
            m = cnt > 0
            if m.any():
                # weighted mean identity: each cell's value·count is its exact
                # base-pixel sum (float32 addends → exact float64 partials)
                assert np.isclose((value[m] * cnt[m]).sum(), base_sum, rtol=1e-12)
                assert value[m].min() >= lo - 1e-9 and value[m].max() <= hi + 1e-9

    @FAST
    @given(st.integers(min_value=0, max_value=2**32 - 1))
    def test_octant_rules_total_and_disjoint(self, seed):
        rng = np.random.default_rng(seed)
        de = rng.choice([0.0, -0.0, 1.0]) * rng.normal(size=200)
        dn = rng.choice([0.0, -0.0, 1.0]) * rng.normal(size=200)
        conds = np.stack(
            [
                (de > 0) & (dn >= 0) & (de >= dn),
                (de > 0) & (dn > 0) & (dn > de),
                (de <= 0) & (dn > 0) & (dn >= -de),
                (de < 0) & (dn > 0) & (-de > dn),
                (de < 0) & (dn <= 0) & (-de >= -dn),
                (de < 0) & (dn < 0) & (-dn > -de),
                (de >= 0) & (dn < 0) & (-dn >= de),
                (de > 0) & (dn < 0) & (de > -dn),
            ]
        )
        hits = conds.sum(axis=0)
        flat = (de == 0) & (dn == 0)
        assert np.all(hits[flat] == 0)  # flat matches no sector (→ -1)
        assert np.all(hits[~flat] == 1)  # every other vector exactly one


class TestPackingProperties:
    @FAST
    @given(
        st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=80),
        st.integers(min_value=1, max_value=64),
        st.integers(min_value=1, max_value=7),
    )
    def test_positions_are_contiguous_per_bucket(self, token_counts, budget, n_buckets):
        # pure recomputation of the operator's window arithmetic: absolute
        # position = pack_idx·budget + offset must advance by exactly
        # n_tokens within a bucket (docs ordered by id), starting at 0
        by_bucket = {}
        for doc_id, n in enumerate(token_counts):
            by_bucket.setdefault(doc_id % n_buckets, []).append(n)
        for counts in by_bucket.values():
            cum = 0
            for n in counts:
                pack_idx, offset = divmod(cum, budget)
                assert offset < budget and pack_idx >= 0
                cum += n


class TestZf32Properties:
    @FAST
    @given(grids, st.sampled_from(["normal", "flat", "randbytes", "mixed"]))
    def test_roundtrip_identity_all_regimes(self, hwsf, regime):
        h, w, seed, frac = hwsf
        rng = np.random.default_rng(seed)
        if regime == "flat":
            g = np.full((h, w), np.float32(rng.normal(100, 25)))
        elif regime == "randbytes":
            g = np.frombuffer(rng.bytes(h * w * 4), dtype="<f4").reshape(h, w).copy()
        elif regime == "mixed":
            g = _grid(h, w, seed, frac)
            g[: h // 2] = 7.0  # half smooth, half noisy → per-plane split
        else:
            g = _grid(h, w, seed, frac)
        data = codecs.encode_zf32(g)
        back = codecs.decode_zf32(data, h, w)
        np.testing.assert_array_equal(
            np.asarray(back, dtype="<f4").view(np.uint32),
            np.asarray(g, dtype="<f4").view(np.uint32),
        )  # bit-exact incl. NaN payloads and signed zeros

    @FAST
    @given(st.binary(min_size=0, max_size=200), st.integers(min_value=1, max_value=16))
    def test_garbage_raises_typed_never_crashes(self, junk, hw):
        try:
            codecs.decode_zf32(junk, hw, hw)
        except ValueError:
            pass  # the only acceptable failure type


class TestLZWProperties:
    @FAST
    @given(st.integers(min_value=0, max_value=2**32 - 1),
           st.integers(min_value=0, max_value=6000),
           st.integers(min_value=1, max_value=8))
    def test_roundtrip_any_alphabet(self, seed, size, alphabet_bits):
        from dsm2dtm_spark.sources.tiffio import _lzw_decode

        from tests.test_geotiff_source import _lzw_encode

        rng = np.random.default_rng(seed)
        data = (rng.integers(0, 1 << alphabet_bits, size) % 256).astype(np.uint8).tobytes()
        assert _lzw_decode(_lzw_encode(data), max(size, 1)) == data

    @FAST
    @given(st.binary(min_size=0, max_size=100))
    def test_garbage_raises_typed_never_crashes(self, junk):
        from dsm2dtm_spark.sources.tiffio import _lzw_decode

        try:
            _lzw_decode(junk, 4096)
        except ValueError:
            pass


class TestGoldenProperties:
    @FAST
    @given(grids, st.integers(min_value=1, max_value=5), st.floats(min_value=0.3, max_value=8.0))
    def test_pmf_and_refine_keep_valid_minimum(self, hwsf, n_windows, sigma):
        """The one injected min-fill of ``golden.stage_chain`` stands for each
        stage's own input minimum only because PMF and refine keep the valid
        minimum: PMF's opening never drops below it and never lifts it, and
        the minimum cell never rises above its smoothed surface."""
        g = _grid(*hwsf)
        valid = g != NODATA_DEFAULT
        if not valid.any():
            return
        mn = float(g[valid].min())
        max_window = 2 ** n_windows + 1  # n_windows openings of the 3 → 2w−1 schedule
        ground = golden.pmf(g, NODATA_DEFAULT, 3, max_window, 0.05, min_fill=mn)
        assert float(ground[ground != NODATA_DEFAULT].min()) == mn
        refined = golden.refine(ground, NODATA_DEFAULT, sigma, min_fill=mn)
        assert float(refined[refined != NODATA_DEFAULT].min()) == mn


# resolutions whose halo (3-26 px) is smaller than most generated images, so
# tile cuts are really partial; all route to the standard (tileable) path.
# Above 40 m both Gaussian radii are 0 and the halo is tight to the pixel
TILED_RES = (10.0, 12.5, 20.0, 25.0, 50.0, 100.0)


@st.composite
def tiled_cases(draw):
    """(resolution, radius, tile_px, grid) for the tiled ≡ whole-image check."""
    res = draw(st.sampled_from(TILED_RES))
    radius = draw(st.sampled_from([None, 15.0, 40.0]))
    tile_px = draw(st.integers(min_value=3, max_value=40))
    dims = draw(st.sampled_from(["free", "sub_tile", "remainder"]))
    if dims == "sub_tile":  # the whole image is smaller than one tile
        h, w = draw(st.integers(1, tile_px)), draw(st.integers(1, tile_px))
    elif dims == "remainder":  # last tile row and/or column is 1 px
        h = tile_px * draw(st.integers(1, max(1, 72 // tile_px))) + draw(st.sampled_from([0, 1]))
        w = tile_px * draw(st.integers(1, max(1, 72 // tile_px))) + 1
    else:  # non-square in general
        h, w = draw(st.integers(1, 72)), draw(st.integers(1, 72))
    scene = draw(st.sampled_from(["ties", "void", "border", "holes"]))
    rng = np.random.default_rng(draw(st.integers(min_value=0, max_value=2**32 - 1)))
    g = rng.normal(100, 5, (h, w)).astype(np.float32)
    g[rng.random((h, w)) < 0.1] += rng.uniform(2, 15)  # vegetation/buildings for PMF to remove
    if scene == "ties":  # valid cells on a lattice: equidistant nearest-valid ties everywhere
        s = int(rng.integers(2, 5))
        keep = np.zeros((h, w), dtype=bool)
        keep[rng.integers(0, s) :: s, rng.integers(0, s) :: s] = True
        g[~keep & (rng.random((h, w)) < 0.9)] = NODATA_DEFAULT
    elif scene == "void":  # a band deeper than any halo, its edge at a tile seam ±1
        depth = int(rng.integers(27, 45))
        seam = tile_px * int(rng.integers(0, max(1, w // tile_px) + 1)) + int(rng.integers(-1, 2))
        if rng.random() < 0.5:
            g[:, max(0, seam - depth) : max(0, seam)] = NODATA_DEFAULT
        else:
            g[:, max(0, seam) : seam + depth] = NODATA_DEFAULT
        g = g if rng.random() < 0.5 else np.ascontiguousarray(g.T)  # rows or columns
    elif scene == "border":  # nodata frame, as around a reprojected raster
        b = int(rng.integers(1, 6))
        g[:b] = g[-b:] = NODATA_DEFAULT
        g[:, :b] = g[:, -b:] = NODATA_DEFAULT
    else:
        g[rng.random((h, w)) < rng.uniform(0.0, 0.4)] = NODATA_DEFAULT
    return res, radius, tile_px, g


def _seam_void_case():
    """At 50 m the halo (4 px: opening 2 + gap fill 2, both Gaussian radii 0)
    is exactly the reach of a void's edge cell: a void ending one cell past a
    tile seam leaves the core's edge cells filled from 2 px into the halo,
    and PMF's 3-px opening there reads 2 px further, the cut's last column."""
    g = np.random.default_rng(5).normal(100, 5, (16, 24)).astype(np.float32)
    g[:, 4:9] = NODATA_DEFAULT
    return 50.0, None, 8, g


class TestTiledEqualsWhole:
    """The tiled plan's exactness claim without Spark: pass-1 scalars (as
    ``image_stats`` computes them) → ``cut_tiles`` → ``process_tile`` per cut
    → ``fill_canvas`` reproduces ``golden.dsm_to_dtm`` byte for byte. What is
    under test is the halo, ``params.total_influence_px``, and the injection
    of the image's (not the cut's) valid minimum."""

    @FAST
    @given(tiled_cases())
    @example(_seam_void_case())
    def test_cut_process_stitch_equals_whole_image(self, case):
        res, radius, tile_px, g = case
        h, w = g.shape
        row = SimpleNamespace(image_id="img", bytes=codecs.encode_raw_f32(g), h=h, w=w, fmt="raw_f32",
                              xres_m=res, yres_m=res)
        stats = SimpleNamespace(**tiling.pass1_stats(row, radius, None))
        cores = [
            (cy, cx, tiling.process_tile(cut, stats, cy - cut_y, cx - cut_x, ch, cw))
            for _, _, cy, cx, ch, cw, cut_y, cut_x, cut in
            tiling.cut_tiles(row.bytes, h, w, row.fmt, tile_px, stats.halo_px)
        ]
        got = tiling.fill_canvas(h, w, cores)
        want = golden.dsm_to_dtm(g, (res, res), radius_m=radius)
        assert got.tobytes() == want.tobytes()
