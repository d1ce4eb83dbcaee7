"""Tiled-path tests: the headline exactness claim is that the tiled plan
(tiles + halo + salted shuffle + stitch) reproduces the whole-image plan
BIT-EXACTLY (north_rule: identical outputs and tile-to-cell assignments)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from dsm2dtm_spark import codecs, golden, synth
from dsm2dtm_spark.operators import tiling
from dsm2dtm_spark.operators.cellindex import encode_cells
from dsm2dtm_spark.params import NODATA_DEFAULT

RADIUS = 15.0  # keeps the halo small enough that 512-px images tile genuinely


def big_image_pdf() -> pd.DataFrame:
    """Images large enough that tile cuts do NOT degenerate to whole images
    (res 2 m → halo = Σ(w−1)=14 + refine r=10 + final r=1 + gap 50 = 75 px)."""
    rng = np.random.default_rng(99)
    rows = []
    scenes = {
        "ramp_blocks": None,
        "nodata_holes": None,
        "vegetation": None,
        "void_edge": None,
    }
    n = 512
    yy, xx = np.mgrid[0:n, 0:n]
    g = (100.0 + 0.02 * yy + 0.01 * xx + rng.normal(0, 0.2, (n, n))).astype(np.float32)
    g[100:160, 100:180] += 15.0
    g[300:420, 350:470] += 9.0
    scenes["ramp_blocks"] = g
    g2 = g.copy()
    g2[200:260, 40:90] = NODATA_DEFAULT
    g2[rng.random((n, n)) < 0.02] = NODATA_DEFAULT
    scenes["nodata_holes"] = g2
    g3 = np.full((n, n), 80.0, dtype=np.float32)
    idx = rng.choice(n * n, n * n // 5, replace=False)
    g3.ravel()[idx] += rng.uniform(2, 12, n * n // 5).astype(np.float32)
    scenes["vegetation"] = g3
    # a void deeper than the halo plus one hole with equidistant valid
    # neighbours: whole image and tile cuts must break the tie alike
    g4 = g.copy()
    g4[:, :100] = NODATA_DEFAULT
    g4[450, 480] = NODATA_DEFAULT
    scenes["void_edge"] = g4
    for i, (name, grid) in enumerate(scenes.items()):
        rows.append(
            {
                "image_id": f"big_{i}_{name}",
                "bytes": codecs.encode_raw_f32(grid),
                "w": n,
                "h": n,
                "fmt": "raw_f32",
                "caption": f"{name} 512px res=2m",
                "phash": codecs.ahash64(grid),
                "lon0": 2.0 + i * 0.5,
                "lat0": 36.0 + i * 0.25,
                "xres_m": 2.0,
                "yres_m": 2.0,
                "crs": 32631,
            }
        )
    return pd.DataFrame(rows).astype({"w": "int32", "h": "int32"})


class TestTileGrid:
    def test_partition_exact(self):
        tiles = tiling.tile_grid(512, 512, 128)
        assert len(tiles) == 16
        cover = np.zeros((512, 512), dtype=int)
        for _, _, y, x, h, w in tiles:
            cover[y : y + h, x : x + w] += 1
        assert (cover == 1).all()

    def test_remainder_tiles(self):
        tiles = tiling.tile_grid(300, 500, 128)
        assert max(t[0] for t in tiles) == 2 and max(t[1] for t in tiles) == 3
        cover = np.zeros((300, 500), dtype=int)
        for _, _, y, x, h, w in tiles:
            cover[y : y + h, x : x + w] += 1
        assert (cover == 1).all()


class TestTiledParity:
    @pytest.fixture(scope="class")
    def pdf(self):
        pdf = big_image_pdf()
        # a qz8 scene: the codec with no row-streamable layout, cut from its
        # decoded grid by the same block-source path
        qz8 = pdf[pdf.image_id.str.endswith("nodata_holes")].copy()
        qz8["image_id"] = "big_qz8_nodata_holes"
        qz8["bytes"] = [codecs.encode(codecs.decode(qz8.bytes.iloc[0], 512, 512, "raw_f32"), "qz8")]
        qz8["fmt"] = "qz8"
        return pd.concat([pdf, qz8], ignore_index=True)

    @pytest.fixture(scope="class")
    def goldens(self, pdf):
        out = {}
        for row in pdf.itertuples(index=False):
            grid = codecs.decode(row.bytes, row.h, row.w, row.fmt)
            out[row.image_id] = golden.dsm_to_dtm(grid, (row.xres_m, row.yres_m), radius_m=RADIUS)
        return out

    def test_tiled_equals_whole_image_bitexact(self, spark, pdf, goldens):
        sdf = spark.createDataFrame(pdf)
        result = tiling.tiled_dtm_transform(sdf, tile_px=128, radius_m=RADIUS).collect()
        assert len(result) == len(pdf)
        assert {r.fmt for r in result} == {"raw_f32", "qz8"}
        for r in result:
            assert bytes(r.bytes) == codecs.encode(goldens[r.image_id], r.fmt), r.image_id
            got = codecs.decode(bytes(r.bytes), r.h, r.w, r.fmt)
            if r.fmt == "raw_f32":
                np.testing.assert_array_equal(got, goldens[r.image_id], err_msg=r.image_id)
            assert r.caption == pdf[pdf.image_id == r.image_id].caption.iloc[0]

    def test_assignments_deterministic_and_match_payload_path(self, spark, pdf):
        sdf = spark.createDataFrame(pdf)
        a1 = tiling.tile_assignments(sdf, tile_px=128).orderBy("image_id", "tile_row", "tile_col").collect()
        a2 = tiling.tile_assignments(sdf, tile_px=128).orderBy("image_id", "tile_row", "tile_col").collect()
        assert a1 == a2
        # payload-path (emit_tiles) must key tiles into the SAME cells
        stats = tiling.image_stats(sdf, RADIUS, None)
        tiles = tiling.emit_tiles(
            sdf.join(stats.select("image_id", "halo_px"), on="image_id"), tile_px=128
        ).select("image_id", "tile_row", "tile_col", "cell_id")
        t = {(r.image_id, r.tile_row, r.tile_col): r.cell_id for r in tiles.collect()}
        for r in a1:
            assert t[(r.image_id, r.tile_row, r.tile_col)] == r.cell_id

    def test_salt_spreads_hot_cell(self, spark, pdf):
        sdf = spark.createDataFrame(pdf)
        stats = tiling.image_stats(sdf, RADIUS, None)
        tiles = tiling.emit_tiles(sdf.join(stats.select("image_id", "halo_px"), on="image_id"), tile_px=128)
        salts = tiles.select("salt").distinct().collect()
        assert len(salts) > 1  # hot cells are split across salt buckets


class TestCoarseRouting:
    def test_mixed_resolution_table_single_call(self, spark):
        """A table mixing standard and coarse rows processes end-to-end in one
        tiled_dtm_transform call; each branch stays bit-exact vs golden."""
        std = big_image_pdf().iloc[:1]
        coarse = synth.image_table(3, seed=7, sizes=(50,), fmts=("raw_f32",)).drop(columns=["scenario"])
        coarse["xres_m"] = 0.01
        coarse["yres_m"] = 0.01
        mixed = pd.concat([std, coarse], ignore_index=True)
        sdf = spark.createDataFrame(mixed)
        result = {r.image_id: r for r in tiling.tiled_dtm_transform(sdf, tile_px=128, radius_m=RADIUS).collect()}
        assert set(result) == set(mixed.image_id)
        for row in mixed.itertuples(index=False):
            grid = codecs.decode(row.bytes, row.h, row.w, row.fmt)
            want = golden.dsm_to_dtm(grid, (row.xres_m, row.yres_m), radius_m=RADIUS)
            r = result[row.image_id]
            got = codecs.decode(bytes(r.bytes), r.h, r.w, r.fmt)
            np.testing.assert_array_equal(got, want, err_msg=row.image_id)

    def test_thresholds_thread_through_tiled_plan(self, spark):
        """init/max PMF thresholds reach the per-tile kernel (ADVICE: they
        were parsed but ignored by the CLI) and stay bit-exact vs golden."""
        pdf = big_image_pdf().iloc[:1]
        sdf = spark.createDataFrame(pdf)
        r = tiling.tiled_dtm_transform(
            sdf, tile_px=128, radius_m=RADIUS, init_threshold=0.5, max_threshold=2.0
        ).collect()[0]
        got = codecs.decode(bytes(r.bytes), r.h, r.w, r.fmt)
        grid = codecs.decode(pdf.bytes.iloc[0], 512, 512, "raw_f32")
        want = golden.dsm_to_dtm(grid, (2.0, 2.0), radius_m=RADIUS, init_threshold=0.5, max_threshold=2.0)
        np.testing.assert_array_equal(got, want)
        default = golden.dsm_to_dtm(grid, (2.0, 2.0), radius_m=RADIUS)
        assert not np.array_equal(want, default)  # thresholds actually bite


class TestChunkedTiling:
    """Bounded-memory tiled plan: the tile cut reads row blocks of the
    payload, never the whole decoded raster, and must be BYTE-identical to
    slicing the decoded image — this is the path that lets a raster far
    beyond task memory flow through."""

    @pytest.mark.parametrize("fmt", ["raw_f32", "png16"])
    def test_chunked_emit_equals_whole_image_emit(self, spark, fmt):
        import zlib

        pdf = big_image_pdf().iloc[:1].copy()
        if fmt != "raw_f32":
            pdf["bytes"] = [
                codecs.encode(codecs.decode(b, h, w, "raw_f32"), fmt)
                for b, h, w in zip(pdf.bytes, pdf.h, pdf.w)
            ]
            pdf["fmt"] = fmt
        sdf = spark.createDataFrame(pdf)
        stats = tiling.image_stats(sdf, RADIUS, None)
        joined = sdf.join(stats.select("image_id", "halo_px"), on="image_id")
        key = ["image_id", "tile_row", "tile_col"]
        got = {tuple(getattr(r, k) for k in key): r for r in tiling.emit_tiles(joined, 128).collect()}
        # independent reference: the whole decoded image sliced by tile_grid,
        # cells from the SQL assignment table, salts from their definition
        image_id, halo = pdf.image_id.iloc[0], 75
        grid = codecs.decode(pdf.bytes.iloc[0], 512, 512, fmt)
        cells = {(r.tile_row, r.tile_col): r.cell_id for r in tiling.tile_assignments(sdf, 128).collect()}
        want = {}
        for tr, tc, cy, cx, ch, cw in tiling.tile_grid(512, 512, 128):
            y0, x0 = max(0, cy - halo), max(0, cx - halo)
            y1, x1 = min(512, cy + ch + halo), min(512, cx + cw + halo)
            want[(image_id, tr, tc)] = {
                "cell_id": cells[(tr, tc)], "salt": zlib.crc32(f"{image_id}/{tr}/{tc}".encode()) % tiling.N_SALT,
                "core_y": cy, "core_x": cx, "core_h": ch, "core_w": cw,
                "cut_y": y0, "cut_x": x0, "cut_h": y1 - y0, "cut_w": x1 - x0,
                "caption": pdf.caption.iloc[0], "cut": grid[y0:y1, x0:x1],
            }
        assert got.keys() == want.keys() and len(got) == 16
        for k, ref in want.items():
            r = got[k]
            for f in ("cell_id", "salt", "core_y", "core_x", "core_h", "core_w",
                      "cut_y", "cut_x", "cut_h", "cut_w", "caption"):
                assert getattr(r, f) == ref[f], (k, f)
            assert bytes(r.payload) == codecs.encode_zf32(ref["cut"]), k

    def test_chunked_full_plan_bitexact_vs_golden(self, spark):
        pdf = big_image_pdf().iloc[:2]
        sdf = spark.createDataFrame(pdf)
        got = {r.image_id: r for r in
               tiling.tiled_dtm_transform(sdf, tile_px=128, radius_m=RADIUS).collect()}
        for row in pdf.itertuples(index=False):
            grid = codecs.decode(row.bytes, row.h, row.w, row.fmt)
            want = golden.dsm_to_dtm(grid, (row.xres_m, row.yres_m), radius_m=RADIUS)
            r = got[row.image_id]
            np.testing.assert_array_equal(codecs.decode(bytes(r.bytes), r.h, r.w, r.fmt), want)

    def test_output_tiles_skips_stitch(self, spark):
        pdf = big_image_pdf().iloc[:1]
        sdf = spark.createDataFrame(pdf)
        tiles = tiling.tiled_dtm_transform(
            sdf, tile_px=128, radius_m=RADIUS, output="tiles", route_coarse=False
        ).collect()
        assert len(tiles) == 16
        # reassembled cores ≡ the stitched plan's image
        canvas = np.full((512, 512), NODATA_DEFAULT, dtype=np.float32)
        for t in tiles:
            core = codecs.decode_zf32(bytes(t.core_bytes), t.core_h, t.core_w)
            canvas[t.core_y : t.core_y + t.core_h, t.core_x : t.core_x + t.core_w] = core
        grid = codecs.decode(pdf.bytes.iloc[0], 512, 512, "raw_f32")
        want = golden.dsm_to_dtm(grid, (2.0, 2.0), radius_m=RADIUS)
        np.testing.assert_array_equal(canvas, want)


class TestTiledPermissive:
    def test_poison_row_quarantined_good_rows_exact(self, spark):
        std = big_image_pdf().iloc[:2].copy()
        poison = std.iloc[:1].copy()
        poison["image_id"] = "poison_row"
        poison["bytes"] = [b"\x00" * 16]  # truncated payload: decode must fail
        mixed = pd.concat([std, poison], ignore_index=True)
        sdf = spark.createDataFrame(mixed)
        with pytest.raises(Exception):  # default: poison kills the job
            tiling.tiled_dtm_transform(sdf, tile_px=128, radius_m=RADIUS).collect()
        rows = {r.image_id: r for r in
                tiling.tiled_dtm_transform(sdf, tile_px=128, radius_m=RADIUS, permissive=True).collect()}
        assert set(rows) == set(mixed.image_id)
        bad = rows["poison_row"]
        assert bad.bytes is None and bad.error  # exception recorded, payload nulled
        for row in std.itertuples(index=False):
            r = rows[row.image_id]
            assert r.error is None
            grid = codecs.decode(row.bytes, row.h, row.w, row.fmt)
            want = golden.dsm_to_dtm(grid, (row.xres_m, row.yres_m), radius_m=RADIUS)
            np.testing.assert_array_equal(codecs.decode(bytes(r.bytes), r.h, r.w, r.fmt), want)

    def test_null_resolution_row_is_quarantined_not_dropped(self, spark):
        # ADVICE r2: under ANSI three-valued logic a NULL xres_m failed both
        # the coarse and the standard route predicates and the row VANISHED;
        # it must instead flow down the standard branch and quarantine
        std = big_image_pdf().iloc[:1].copy()
        broken = std.iloc[:1].copy()
        broken["image_id"] = "null_res_row"
        broken["xres_m"] = None
        broken["yres_m"] = None
        mixed = pd.concat([std, broken], ignore_index=True)
        sdf = spark.createDataFrame(mixed)
        rows = {r.image_id: r for r in
                tiling.tiled_dtm_transform(sdf, tile_px=128, radius_m=RADIUS, permissive=True).collect()}
        assert set(rows) == set(mixed.image_id)  # nothing silently lost
        assert rows["null_res_row"].error
        assert rows[std.image_id.iloc[0]].error is None


class TestTiledLineage:
    def test_stitched_rows_carry_lineage_and_metrics_aggregate(self, spark):
        """north_rule: per-partition lineage + throughput metrics on the
        TILED path too (the whole-image plan had them since r1)."""
        pdf = big_image_pdf().iloc[:2]
        sdf = spark.createDataFrame(pdf)
        out = tiling.tiled_dtm_transform(sdf, tile_px=128, radius_m=RADIUS).collect()
        for r in out:
            assert r.n_tiles == 16  # 512² / 128² cores assembled
            assert r.compute_ms > 0
            assert r.partition_id >= 0
        # pre-stitch tile rows aggregate per task
        stats = tiling.image_stats(sdf, RADIUS, None).localCheckpoint(eager=True)
        from pyspark.sql import functions as F
        tiles = tiling.emit_tiles(
            sdf.join(F.broadcast(stats.select("image_id", "halo_px")), on="image_id"), 128
        )
        m = tiling.tiled_lineage_metrics(tiling.process_tiles(tiles, stats)).collect()
        assert sum(r.n_tiles for r in m) == 32
        assert sum(r.pixels for r in m) == 2 * 512 * 512  # cores partition each image
        assert all(r.compute_sec > 0 and r.mpix_per_sec > 0 for r in m)


class TestPlanShape:
    def test_halo_shuffle_is_not_aqe_coalescible(self, spark):
        """Round-3 root cause: a bare repartition(cols) feeding the tile
        kernel was AQE-coalesced to ~1 partition per core (192 tiles → 9
        partitions at 8 cores — zero slack for tile-count imbalance in a
        CPU-per-tile stage). The halo exchange and the stitch pre-partition
        must stay USER-SPECIFIED counts (REPARTITION_BY_NUM), which AQE
        cannot coalesce."""
        pdf = big_image_pdf().iloc[:1]
        sdf = spark.createDataFrame(pdf)
        plan = (
            tiling.tiled_dtm_transform(sdf, tile_px=128, radius_m=RADIUS, route_coarse=False)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("REPARTITION_BY_NUM") >= 2, plan[:2000]


class TestImageStats:
    def test_stats_match_golden_params(self, spark):
        pdf = big_image_pdf().iloc[:1]
        sdf = spark.createDataFrame(pdf)
        s = tiling.image_stats(sdf, RADIUS, None).collect()[0]
        grid = codecs.decode(pdf.bytes.iloc[0], 512, 512, "raw_f32")
        assert s.min_valid == pytest.approx(float(grid[grid != NODATA_DEFAULT].min()))
        assert s.slope_used == pytest.approx(golden.terrain_slope(grid, 2.0, NODATA_DEFAULT))
        assert s.max_window == 15  # int(15/2)*2+1
        assert s.halo_px == 75

    def test_runaway_kernel_fails_fast_in_pass1(self, spark):
        # 0.5 m pixels + --radius 5000 m on a 50k-px raster → 20001-px kernel
        # → a multi-GB tiled halo; pass 1 must raise from METADATA alone,
        # before any decode (reference plugin cap, processing_algorithm.py:
        # 219-225) — the bytes here are deliberately garbage to prove the
        # check never reaches them
        pdf = big_image_pdf().iloc[:1].copy()
        pdf["xres_m"] = 0.5
        pdf["yres_m"] = 0.5
        pdf["h"] = 50_000
        pdf["w"] = 50_000
        pdf["bytes"] = [b"not-a-raster"]
        sdf = spark.createDataFrame(pdf)
        with pytest.raises(Exception, match="safety cap"):
            tiling.image_stats(sdf, 5000.0, None).collect()

    def test_coarse_path_rejected(self, spark):
        pdf = synth.image_table(4, seed=1, sizes=(50,), fmts=("raw_f32",))
        pdf["xres_m"] = 0.01
        pdf["yres_m"] = 0.01
        sdf = spark.createDataFrame(pdf.drop(columns=["scenario"]))
        with pytest.raises(Exception, match="coarse path"):
            tiling.image_stats(sdf, RADIUS, None).collect()


class TestGivenSlope:
    @pytest.mark.parametrize("res, fmt", [(2.0, "raw_f32"), (2.0, "png16"), (0.47, "raw_f32")])
    def test_given_slope_skips_the_slope_estimate(self, monkeypatch, res, fmt):
        """A caller's slope is used as is: pass 1 returns the same valid
        minimum and params as with the slope estimated, and never calls a
        slope kernel (streamed above 0.5 m, golden's below)."""
        from types import SimpleNamespace

        g = np.random.default_rng(7).normal(100, 5, (300, 200)).astype(np.float32)
        g[:40, :30] = NODATA_DEFAULT
        row = SimpleNamespace(image_id="i", bytes=codecs.encode(g, fmt), h=300, w=200, fmt=fmt, xres_m=res, yres_m=res)
        estimated = tiling.pass1_stats(row, RADIUS, None)

        def slope_kernel(*a, **k):
            raise AssertionError("a slope kernel ran although the slope was given")

        monkeypatch.setattr(tiling, "chunked_min_and_slope", slope_kernel)
        monkeypatch.setattr(golden, "terrain_slope", slope_kernel)
        given = tiling.pass1_stats(row, RADIUS, 0.3)
        decoded = codecs.decode(row.bytes, 300, 200, fmt)
        assert given["min_valid"] == estimated["min_valid"] == float(decoded[decoded != NODATA_DEFAULT].min())
        assert given["slope_used"] == 0.3
        assert {**given, "slope_used": None} == {**estimated, "slope_used": None}


class TestChunkedStats:
    @pytest.mark.parametrize("fmt", ["raw_f32", "png16"])
    def test_chunked_equals_whole_image_stats(self, spark, fmt):
        pdf = big_image_pdf()
        if fmt != "raw_f32":  # re-encode the same grids in the target codec
            pdf = pdf.copy()
            pdf["bytes"] = [
                codecs.encode(codecs.decode(b, h, w, "raw_f32"), fmt)
                for b, h, w in zip(pdf.bytes, pdf.h, pdf.w)
            ]
            pdf["fmt"] = fmt
        sdf = spark.createDataFrame(pdf)
        got = {r.image_id: r for r in tiling.image_stats(sdf, RADIUS, None).collect()}
        assert got.keys() == set(pdf.image_id) and len(got) == 4
        # independent reference: the whole decoded grid's valid minimum and
        # golden's own slope estimate, equal to the last bit
        for row in pdf.itertuples(index=False):
            grid = codecs.decode(row.bytes, row.h, row.w, row.fmt)
            valid = grid != NODATA_DEFAULT
            r = got[row.image_id]
            assert r.min_valid == float(grid[valid].min()), row.image_id
            assert r.slope_used == golden.terrain_slope(grid, 2.0, NODATA_DEFAULT), row.image_id
            assert (r.cell_size, r.max_window, r.halo_px, r.error) == (2.0, 15, 75, None), row.image_id

    def test_png16_row_stream_matches_full_decoder(self):
        import numpy as np

        from dsm2dtm_spark.kernels import streamstats

        rng = np.random.default_rng(3)
        g = (100.0 + rng.normal(0, 5, (97, 53))).astype(np.float32)  # odd dims
        g[10:20, 5:9] = NODATA_DEFAULT
        data = codecs.encode_png16(g)
        want = codecs.decode_png16(data, 97, 53)
        got = np.stack(list(streamstats._png16_rows(data, 97, 53)))
        np.testing.assert_array_equal(got, want)
        # chunk order is free per the PNG spec: tEXt AFTER the IDAT must
        # still stream (the header pre-scan finds the meta either way)
        chunks = list(codecs._iter_png_chunks(data))
        reordered = codecs._PNG_SIG + b"".join(
            codecs._png_chunk(t, p) for t, p in chunks if t != b"tEXt"
        )
        text = next(codecs._png_chunk(t, p) for t, p in chunks if t == b"tEXt")
        head, iend = reordered[:-12], reordered[-12:]
        reordered = head + text + iend
        np.testing.assert_array_equal(codecs.decode_png16(reordered, 97, 53), want)
        got2 = np.stack(list(streamstats._png16_rows(reordered, 97, 53)))
        np.testing.assert_array_equal(got2, want)
        # block source re-iterates identically with interior one-row halos
        for block_rows in (1, 7, 64, 200):
            src = streamstats.png16_block_source(data, 97, 53, block_rows)
            for _ in range(2):  # a source must be restartable (multi-pass)
                seen = []
                for y0, y1, lo, blk in src():
                    hi = lo + blk.shape[0]
                    assert lo == max(0, y0 - 1) and hi == min(97, y1 + 1)
                    np.testing.assert_array_equal(blk, want[lo:hi])
                    seen.append((y0, y1))
                assert seen[0][0] == 0 and seen[-1][1] == 97


class TestHaloFromMetadata:
    """r7: halo_from_metadata must equal image_stats' halo_px for every row
    (it is the derivation image_stats runs pre-decode, without the decode)."""

    def test_equals_image_stats_halo(self, spark):
        sdf = spark.createDataFrame(big_image_pdf())
        a = {r.image_id: r.halo_px for r in tiling.image_stats(sdf, RADIUS, None).collect()}
        b = {r.image_id: r.halo_px for r in tiling.halo_from_metadata(sdf, RADIUS).collect()}
        assert a == b

    def test_metadata_failfast_matches(self, spark):
        # the same runaway-kernel metadata shape image_stats fails fast on
        # (garbage bytes unused — halo derives from metadata alone)
        pdf = big_image_pdf().iloc[:1].copy()
        pdf["xres_m"] = 0.5
        pdf["yres_m"] = 0.5
        pdf["h"] = 50_000
        pdf["w"] = 50_000
        pdf["bytes"] = [b"not-a-raster"]
        sdf = spark.createDataFrame(pdf)
        with pytest.raises(Exception, match="safety cap"):
            tiling.halo_from_metadata(sdf, 5000.0).collect()
