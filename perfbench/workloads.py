"""The benchmark workloads.

Each workload builds its inputs from the seed in ``setup``, runs one
operation per ``run_pass`` against freshly isolated state, checks that
pass's outputs in ``check`` (outside the timed region), and produces its
per-layer numbers in ``trace``. ``units`` is the workload's unit of work.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import harness
import inputs
from dsm2dtm_spark import codecs, golden, synth
from dsm2dtm_spark.params import DEFAULT_RADIUS_M, MIN_PROCESS_RES_M, NODATA_DEFAULT
from dsm2dtm_spark.sources.manifest import SnapshotTable

TILE_PX = 512
TILED_RADIUS_M = 15.0
N_FOOTPRINTS = 200


class CheckFailed(Exception):
    """A pass ran but its output differs from the reference."""


# ---------------------------------------------------------------- references


def reference_dtm(args: tuple) -> tuple[str, bytes]:
    """Golden single-node DTM of one encoded row, re-encoded in its codec —
    the bytes the Spark plans must reproduce exactly."""
    image_id, data, h, w, fmt, xres, yres, radius_m = args
    grid = codecs.decode(data, h, w, fmt)
    dtm = golden.dsm_to_dtm(grid, (xres, yres), radius_m=radius_m)
    return image_id, codecs.encode(dtm, fmt, NODATA_DEFAULT)


def reference_dtms(pdf: pd.DataFrame, radius_m: float, workers: int) -> dict[str, bytes]:
    jobs = [
        (r.image_id, r.bytes, int(r.h), int(r.w), r.fmt, float(r.xres_m), float(r.yres_m), radius_m)
        for r in pdf.itertuples(index=False)
    ]
    # largest first, so the pool's tail is short
    jobs.sort(key=lambda j: -j[2] * j[3])
    try:
        with ProcessPoolExecutor(max_workers=workers, mp_context=get_context("spawn")) as pool:
            return dict(pool.map(reference_dtm, jobs))
    finally:
        harness.stop_resource_tracker()


def table_rows(table: SnapshotTable, columns: list[str]) -> pd.DataFrame:
    snap = table.current_snapshot()
    files = snap.files if snap else []
    parts = [pq.read_table(os.path.join(table.data_dir, f), columns=columns).to_pandas() for f in files]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=columns)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def check_dtm_bytes(out: pd.DataFrame, ref: dict[str, bytes]) -> None:
    got = dict(zip(out["image_id"], out["bytes"]))
    if len(out) != len(ref) or set(got) != set(ref):
        raise CheckFailed(f"output ids differ from input ids ({len(out)} rows, {len(ref)} expected)")
    bad = [k for k, v in ref.items() if got[k] is None or bytes(got[k]) != v]
    if bad:
        raise CheckFailed(f"{len(bad)} DTM outputs differ from golden.dsm_to_dtm, e.g. {bad[0]}")


# --------------------------------------------------- serial golden + codecs


GOLDEN_STAGES = {
    "terrain_slope": "golden.slope",
    "pmf": "golden.pmf",
    "refine": "golden.refine",
    "final_smooth": "golden.smooth",
    "gap_fill": "golden.gapfill",
}


def golden_layers(pdf: pd.DataFrame, radius_m: float, ref: dict[str, bytes],
                  tracer: harness.Tracer) -> dict[str, float]:
    """Single-process ``golden.dsm_to_dtm`` and codec timings over the
    workload's decoded inputs. On standard-path rows each public stage
    (slope, PMF, refine, smooth, gap fill) is timed inside the real call."""
    m = dict.fromkeys(("golden.serial_s", "codecs.decode_s", "codecs.encode_s"), 0.0)
    stages = [(golden, fn, name, None) for fn, name in GOLDEN_STAGES.items()]
    bytes_out = 0
    for r in pdf.itertuples(index=False):
        cell = max((abs(float(r.xres_m)) + abs(float(r.yres_m))) / 2.0, 0.001)
        standard = cell >= MIN_PROCESS_RES_M * 0.9
        t0 = time.perf_counter()
        grid = codecs.decode(r.bytes, int(r.h), int(r.w), r.fmt)
        t1 = time.perf_counter()
        with tracer.patch(stages if standard else []):
            dtm = golden.dsm_to_dtm(grid, (float(r.xres_m), float(r.yres_m)), radius_m=radius_m)
        t2 = time.perf_counter()
        data = codecs.encode(dtm, r.fmt, NODATA_DEFAULT)
        codecs.ahash64(dtm, NODATA_DEFAULT)
        t3 = time.perf_counter()
        m["codecs.decode_s"] += t1 - t0
        m["golden.serial_s"] += t2 - t1
        m["codecs.encode_s"] += t3 - t2
        bytes_out += len(data)
        if data != ref[r.image_id]:
            raise CheckFailed(f"{r.image_id}: serial golden differs from its reference")
    for name in GOLDEN_STAGES.values():
        m[f"{name}_s"] = tracer.total(name)
    mpix = float((pdf["w"].astype(np.int64) * pdf["h"]).sum()) / 1e6
    m["golden.mpix_per_s"] = mpix / m["golden.serial_s"]
    m["codecs.bytes_in_mb"] = float(pdf["bytes"].map(len).sum()) / 1e6
    m["codecs.bytes_out_mb"] = bytes_out / 1e6
    return m


def manifest_layers(tracer: harness.Tracer, out_root: str, files: int, input_bytes: int) -> dict[str, float]:
    written = dir_bytes(out_root)
    return {
        "manifest.read_s": tracer.total("manifest.read"),
        "manifest.commit_s": tracer.total("manifest.commit"),
        "manifest.files_written": float(files),
        "manifest.bytes_written_mb": written / 1e6,
        "manifest.write_amp": written / input_bytes,
    }


def manifest_targets() -> list[tuple]:
    return [
        (SnapshotTable, "read", "manifest.read", None),
        (SnapshotTable, "commit", "manifest.commit", None),
    ]


# ------------------------------------------------------------------ workloads


class Workload:
    name = ""
    unit = ""
    warm_passes = 2  # full passes over the exact inputs before timing

    def __init__(self, spark, work_dir: str, seed: int, cores: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.cores = cores
        self.units = 0.0

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        """Untimed per-pass state set-up."""

    def run_pass(self, i: int) -> None:
        raise NotImplementedError

    def check(self, i: int) -> None:
        raise NotImplementedError

    def trace(self, tracer: harness.Tracer, e2e: dict) -> dict[str, float]:
        raise NotImplementedError


class ImagesWhole(Workload):
    """``plans.run_dtm_job`` over the bench-shaped image table, each pass into
    a fresh output table (the resume anti-join would otherwise make every
    pass after the first a 0-row no-op). Its traced run also measures the
    spatial-join layer (``zonal_stats`` of these images against seeded
    footprints) and the tiled raster path (``TiledLayer``)."""

    name = "images_whole"
    unit = "input Mpix"

    def __init__(self, spark, work_dir, seed, cores, n_images: int = inputs.N_IMAGES):
        super().__init__(spark, work_dir, seed, cores)
        self.n_images = n_images

    def setup(self) -> None:
        self.pdf = inputs.image_rows(self.seed, self.n_images)
        self.input = SnapshotTable(os.path.join(self.work, "images"))
        inputs.write_table(self.input, [self.pdf], row_group_size=inputs.IMAGE_ROW_GROUP)
        self.units = float((self.pdf["w"].astype(np.int64) * self.pdf["h"]).sum()) / 1e6
        self.ref = reference_dtms(self.pdf, DEFAULT_RADIUS_M, self.cores)

    def _out(self, i: int) -> SnapshotTable:
        return SnapshotTable(os.path.join(self.work, f"dtm_out_{i}"))

    def run_pass(self, i: int) -> None:
        from dsm2dtm_spark.plans import run_dtm_job

        n, _ = run_dtm_job(self.spark, self.input, self._out(i))
        if n != len(self.pdf):
            raise CheckFailed(f"run_dtm_job processed {n} rows, expected {len(self.pdf)}")

    def check(self, i: int) -> None:
        out = self._out(i)
        try:
            check_dtm_bytes(table_rows(out, ["image_id", "bytes"]), self.ref)
        finally:
            shutil.rmtree(out.root, ignore_errors=True)

    def trace(self, tracer: harness.Tracer, e2e: dict) -> dict[str, float]:
        from dsm2dtm_spark.plans import dtm_job

        out = self._out(-1)
        nodes: list[dict] = []
        with tracer.span("run_dtm_job") as s, tracer.patch(
            [*manifest_targets(), (dtm_job, "dtm_transform", "plans.dtm_transform",
                                   lambda df: nodes.extend(harness.execute_plan(df)))]
        ):
            n, snap = dtm_job.run_dtm_job(self.spark, self.input, out)
        traced_wall = s["end"] - s["start"]
        if n != len(self.pdf):
            raise CheckFailed(f"traced run_dtm_job processed {n} rows, expected {len(self.pdf)}")
        lineage = table_rows(out, ["image_id", "bytes", "wall_ms", "partition_id"])
        check_dtm_bytes(lineage, self.ref)
        m = golden_layers(self.pdf, DEFAULT_RADIUS_M, self.ref, tracer)
        py = {k: harness.metric_sum(nodes, k, "MapInPandas") for k in
              ("pythonTotalTime", "pythonBootTime", "pythonInitTime", "pythonDataSent", "pythonDataReceived")}
        udf_s = float(lineage["wall_ms"].sum()) / 1e3
        per_task = lineage.groupby("partition_id")["wall_ms"].sum() / 1e3
        m.update(
            {
                "plans.tasks": float(lineage["partition_id"].nunique()),
                "plans.python_total_s": py["pythonTotalTime"],
                "plans.python_boot_s": py["pythonBootTime"],
                "plans.python_init_s": py["pythonInitTime"],
                "plans.data_sent_mb": py["pythonDataSent"] / 1e6,
                "plans.data_received_mb": py["pythonDataReceived"] / 1e6,
                "plans.udf_compute_s": udf_s,
                "plans.boundary_s": py["pythonTotalTime"] - udf_s,
                "plans.makespan_lb_s": max(udf_s / self.cores, float(per_task.max())),
                "plans.parallel_efficiency": (m["golden.serial_s"] + m["codecs.decode_s"] + m["codecs.encode_s"])
                / (self.cores * e2e["wall_s"]),
                "plans.cores_busy": e2e["cpu_s"] / e2e["wall_s"],
            }
        )
        m.update(manifest_layers(tracer, out.root, len(snap.files), dir_bytes(self.input.data_dir)))
        shutil.rmtree(out.root, ignore_errors=True)
        m["trace.wall_s"] = traced_wall
        m.update(self._zonal(tracer))
        m.update(TiledLayer(self.spark, self.work, self.seed, self.cores).measure(tracer))
        return m

    # -- the spatial-join layer, measured on this workload's images

    def _zonal(self, tracer: harness.Tracer) -> dict[str, float]:
        from dsm2dtm_spark.operators.zonal import zonal_stats

        fps = synth.footprint_table(N_FOOTPRINTS, seed=self.seed)
        fp_df = self.spark.createDataFrame(fps)
        images = self.input.read(self.spark)
        groups = harness.JobGroups(self.spark)
        with groups.group() as gid, tracer.span("zonal.zonal_stats") as s:
            c0 = harness.tree_cpu_s(os.getpid())
            res = zonal_stats(images, fp_df)
            rows = res.collect()
            cpu = harness.tree_cpu_s(os.getpid()) - c0
        wall = s["end"] - s["start"]
        nodes = harness.walk_plan(res._jdf.queryExecution().executedPlan())
        got = pd.DataFrame([r.asDict() for r in rows])
        check_zonal(got, zonal_reference(self.pdf, fps), set(fps.loc[fps["kind"] == "rect", "footprint_id"]))
        # the engine's own counts: rows of the footprint cover explode, and
        # distinct (image, footprint) pairs out of the cell equi-join (the
        # final aggregate of the distinct is the smaller of its two)
        cover_cells = sum(harness.output_rows(nodes, "Generate", {"footprint_id", "cell_id"}))
        candidates = min(harness.output_rows(nodes, "HashAggregate", {"image_id", "footprint_id"}), default=0.0)
        return {
            "zonal.cover_cells": cover_cells,
            "zonal.candidate_pairs": candidates,
            "zonal.result_pairs": float(len(got)),
            "zonal.hit_ratio": len(got) / candidates if candidates else 0.0,
            "zonal.tasks": float(groups.counts(gid)["tasks"]),
            "zonal.python_total_s": harness.metric_sum(nodes, "pythonTotalTime"),
            "zonal.cores_busy": cpu / wall,
        }


def zonal_reference(pdf: pd.DataFrame, fps: pd.DataFrame) -> pd.DataFrame:
    """Brute-force numpy zonal statistics for every rectangle footprint ×
    image pair whose bounding boxes overlap."""
    from dsm2dtm_spark.operators.tiling import M_PER_DEG_LAT, M_PER_DEG_LON_EQ, lon_scale
    from dsm2dtm_spark.operators.zonal import pixel_center_lonlat

    rows = []
    for im in pdf.itertuples(index=False):
        h, w = int(im.h), int(im.w)
        lon_hi = im.lon0 + (w * im.xres_m) / (M_PER_DEG_LON_EQ * lon_scale(im.lat0))
        lat_lo = im.lat0 - (h * im.yres_m) / M_PER_DEG_LAT
        bx0, bx1 = min(im.lon0, lon_hi), max(im.lon0, lon_hi)
        by0, by1 = min(im.lat0, lat_lo), max(im.lat0, lat_lo)
        grid = None
        for fp in fps.itertuples(index=False):
            if fp.kind != "rect" or fp.x1 < bx0 or fp.x0 > bx1 or fp.y1 < by0 or fp.y0 > by1:
                continue
            if grid is None:
                grid = codecs.decode(im.bytes, h, w, im.fmt)
                lons, lats = pixel_center_lonlat(im.lon0, im.lat0, im.xres_m, im.yres_m, h, w)
            mask = ((lats >= fp.y0) & (lats <= fp.y1))[:, None] & ((lons >= fp.x0) & (lons <= fp.x1))[None, :]
            mask &= grid != NODATA_DEFAULT
            if mask.any():
                v = grid[mask].astype(np.float64)
                rows.append((fp.footprint_id, im.image_id, int(v.size), v.mean(), v.min(), v.max()))
    return pd.DataFrame(rows, columns=["footprint_id", "image_id", "n_px", "mean_val", "min_val", "max_val"])


def check_zonal(got: pd.DataFrame, ref: pd.DataFrame, rect_ids: set[str]) -> None:
    got = got[got["footprint_id"].isin(rect_ids)]
    key = ["footprint_id", "image_id"]
    merged = got.merge(ref, on=key, how="outer", suffixes=("", "_ref"), indicator=True)
    if not (merged["_merge"] == "both").all():
        raise CheckFailed(f"zonal pairs differ from the numpy reference: {(merged['_merge'] != 'both').sum()}")
    if not (merged["n_px"] == merged["n_px_ref"]).all():
        raise CheckFailed("zonal pixel counts differ from the numpy reference")
    for c in ("mean_val", "min_val", "max_val"):  # engine rounds to 4 decimals
        if not np.allclose(merged[c], merged[f"{c}_ref"], rtol=0, atol=1e-4 + 1e-9):
            raise CheckFailed(f"zonal {c} differs from the numpy reference")


class TiledLayer:
    """The tiled raster path (``operators.tiling.tiled_dtm_transform`` over
    large rasters, committed to a snapshot table), measured layer by layer
    inside the ``images_whole`` traced run."""

    def __init__(self, spark, work_dir: str, seed: int, cores: int):
        self.spark = spark
        self.pdf = inputs.raster_rows(seed)
        self.input = SnapshotTable(os.path.join(work_dir, "rasters"))
        inputs.write_table(self.input, [self.pdf], row_group_size=1)  # as bench.py writes them
        self.out_root = os.path.join(work_dir, "tiled_out")
        self.ref = reference_dtms(self.pdf, TILED_RADIUS_M, cores)

    def _transform(self):
        from dsm2dtm_spark.operators.tiling import tiled_dtm_transform

        return tiled_dtm_transform(self.input.read(self.spark), tile_px=TILE_PX, radius_m=TILED_RADIUS_M)

    def _commit(self, df) -> None:
        out = SnapshotTable(self.out_root)
        out.write_dataframe(df, summary={"op": "tiled_dtm"})
        try:
            check_dtm_bytes(table_rows(out, ["image_id", "bytes"]), self.ref)
        finally:
            shutil.rmtree(out.root, ignore_errors=True)

    def measure(self, tracer: harness.Tracer) -> dict[str, float]:
        from dsm2dtm_spark.operators import tiling

        with tracer.span("tiled_dtm"), tracer.patch(
            [
                (tiling, "emit_tiles", "tiling.emit", harness.noop_sink),
                (tiling, "process_tiles", "tiling.process", harness.noop_sink),
                (tiling, "stitch", "tiling.stitch", harness.noop_sink),
            ]
        ):
            df = self._transform()
            with tracer.span("tiling.execute"):
                nodes = harness.execute_plan(df)
            self._commit(df)
        emit, process, stitch = (tracer.total(f"tiling.{k}") for k in ("emit", "process", "stitch"))
        tiles, halo = self._tile_plan()
        return {
            "tiling.tiles": float(tiles),
            "tiling.halo_ratio": halo,
            # each boundary re-runs its upstream stages: self time is the difference
            "tiling.emit_s": emit,
            "tiling.process_s": process - emit,
            "tiling.stitch_s": stitch - process,
            "tiling.shuffle_write_mb": harness.metric_sum(nodes, "shuffleBytesWritten", "Exchange") / 1e6,
            "tiling.shuffle_write_s": harness.metric_sum(nodes, "shuffleWriteTime", "Exchange"),
            "tiling.python_total_s": harness.metric_sum(nodes, "pythonTotalTime"),
        }

    def _tile_plan(self) -> tuple[int, float]:
        """Tile count and pixels cut (core + halo, clipped to the image) per
        core pixel, from the engine's own tile grid and metadata halo."""
        from dsm2dtm_spark.operators.tiling import halo_from_metadata, tile_grid

        halos = {r.image_id: int(r.halo_px) for r in
                 halo_from_metadata(self.input.read(self.spark), TILED_RADIUS_M).collect()}
        tiles, cut, core = 0, 0, 0
        for r in self.pdf.itertuples(index=False):
            h, w, hp = int(r.h), int(r.w), halos[r.image_id]
            for _, _, y, x, ch, cw in tile_grid(h, w, TILE_PX):
                tiles += 1
                core += ch * cw
                cut += (min(y + ch + hp, h) - max(y - hp, 0)) * (min(x + cw + hp, w) - max(x - hp, 0))
        return tiles, cut / core


class DocsIngest(Workload):
    """One ``operators.incremental.ingest_batch`` of a fresh document batch
    against a corpus and signature store bootstrapped in setup; every pass
    starts from its own copy of that state (the batch-id guard would
    otherwise short-circuit the pass, and the store would grow)."""

    name = "docs_ingest"
    unit = "fresh documents"
    BATCH_ID = "fresh-batch"

    def __init__(self, spark, work_dir, seed, cores, n_docs: int = inputs.N_DOCS):
        super().__init__(spark, work_dir, seed, cores)
        self.n_docs = n_docs

    def setup(self) -> None:
        from dsm2dtm_spark.operators.incremental import SignatureStore, sign_documents

        corpus, fresh = inputs.documents(self.seed, self.n_docs)
        self.fresh_pdf = fresh
        self.fresh = SnapshotTable(os.path.join(self.work, "fresh"))
        inputs.write_table(self.fresh, [fresh])
        # the committed state an earlier ingest leaves: corpus rows plus their
        # signatures and band rows, signed with the production-default signer
        self.boot = os.path.join(self.work, "boot")
        corpus_table = SnapshotTable(os.path.join(self.boot, "corpus"))
        inputs.write_table(corpus_table, [corpus], summary={"op": "ingest", "batch_id": "bootstrap"})
        store = SignatureStore(os.path.join(self.boot, "store"))
        store.append(
            sign_documents(corpus_table.read(self.spark)),
            summary={"op": "ingest", "sig_params": {"n_hashes": 16, "bands": 4, "shingle_n": 3, "method": "xxhash64"}},
        )
        if store.signature_row_count() != len(corpus):
            raise CheckFailed(f"bootstrap signed {store.signature_row_count()} of {len(corpus)} corpus documents")
        self.units = float(len(fresh))
        self.expected = exact_dup_reference(corpus, fresh)
        self.near_seen: set[int] = set()
        self.counts: dict[int, dict] = {}

    def _state(self, i: int) -> str:
        return os.path.join(self.work, f"state_{i}")

    def prepare(self, i: int) -> None:
        shutil.copytree(self.boot, self._state(i))

    def run_pass(self, i: int) -> None:
        from dsm2dtm_spark.operators.incremental import SignatureStore, ingest_batch

        root = self._state(i)
        _, counts = ingest_batch(
            self.spark, self.fresh.read(self.spark), SnapshotTable(os.path.join(root, "corpus")),
            SignatureStore(os.path.join(root, "store")), batch_id=self.BATCH_ID,
        )
        if "skipped" in counts or counts.get("input") != len(self.fresh_pdf):
            raise CheckFailed(f"ingest_batch did not process the batch: {counts}")
        self.counts[i] = counts

    def check(self, i: int) -> None:
        try:
            counts = self.counts.pop(i)
            for k, v in self.expected.items():
                if counts.get(k) != v:
                    raise CheckFailed(f"ingest stage count {k}={counts.get(k)}, pandas reference says {v}")
            self.near_seen.add(counts["dropped_near_vs_corpus"])
            if len(self.near_seen) != 1:
                raise CheckFailed(f"near-duplicate counts differ between passes: {sorted(self.near_seen)}")
            kept = counts["after_within_batch_exact"] - counts["dropped_exact_vs_corpus"]
            if counts["survivors"] != kept - counts["dropped_near_vs_corpus"]:
                raise CheckFailed(f"ingest stage counts do not add up: {counts}")
        finally:
            shutil.rmtree(self._state(i), ignore_errors=True)

    def trace(self, tracer: harness.Tracer, e2e: dict) -> dict[str, float]:
        from dsm2dtm_spark.operators import incremental

        i = -1
        self.prepare(i)
        root = self._state(i)
        before = dir_bytes(root)
        files_before = _data_files(root)
        plans: list = []
        with tracer.span("ingest_batch") as s, harness.checkpoint_plans(self.spark, plans), tracer.patch(
            [
                *manifest_targets(),
                (incremental, "repair_store", "incremental.repair", None),
                (incremental, "sign_documents", "incremental.sign", harness.noop_sink),
                (incremental, "dedup_against", "incremental.dedup", lambda r: harness.noop_sink(r[0])),
                (incremental.SignatureStore, "append", "incremental.store_append", None),
            ]
        ):
            self.run_pass(i)
        traced_wall = s["end"] - s["start"]
        counts = dict(self.counts[i])
        written = dir_bytes(root) - before
        files = len(_data_files(root) - files_before)
        self.check(i)
        # distinct (fresh, stored) pairs out of dedup_against's LSH band join,
        # read from the checkpointed plan that ran it (the final aggregate of
        # the distinct is the smaller of its two)
        nodes = [n for p in plans for n in harness.walk_plan(p)]
        pairs = min(harness.output_rows(nodes, "HashAggregate", {"doc_id", "_cid"}), default=0.0)
        near = counts["dropped_near_vs_corpus"]
        return {
            "incremental.repair_s": tracer.self_total("incremental.repair"),
            "incremental.sign_s": tracer.self_total("incremental.sign"),
            # dedup_against checkpoints the signatures lazily, so the noop
            # sink of its decisions signs the batch once more: the signing is
            # taken out twice, as each tiling boundary re-runs its upstream
            "incremental.dedup_s": tracer.self_total("incremental.dedup")
            - tracer.total("incremental.sign", parent="incremental.dedup"),
            "incremental.candidate_pairs": pairs,
            "incremental.near_dups": float(near),
            "incremental.verify_ratio": near / pairs if pairs else 0.0,
            "incremental.store_append_s": tracer.self_total("incremental.store_append"),
            "manifest.read_s": tracer.total("manifest.read"),
            "manifest.commit_s": tracer.total("manifest.commit"),
            "manifest.files_written": float(files),
            "manifest.bytes_written_mb": written / 1e6,
            "manifest.write_amp": written / dir_bytes(self.fresh.data_dir),
            "trace.wall_s": traced_wall,
        }


def _data_files(root: str) -> set[str]:
    return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")}


def exact_dup_reference(corpus: pd.DataFrame, fresh: pd.DataFrame) -> dict[str, int]:
    """Stage counts of ``ingest_batch`` that pandas can derive exactly: every
    generated document passes the quality filter (8+ tokens of random letters),
    within-batch exact duplicates collapse to one row, and a surviving text
    already in the corpus is an exact duplicate."""
    distinct = fresh.drop_duplicates("text")
    return {
        "input": len(fresh),
        "after_quality": int((fresh["text"].str.split().map(len) >= 3).sum()),
        "after_within_batch_exact": len(distinct),
        "dropped_exact_vs_corpus": int(distinct["text"].isin(set(corpus["text"])).sum()),
    }


WORKLOADS = {w.name: w for w in (ImagesWhole, DocsIngest)}

