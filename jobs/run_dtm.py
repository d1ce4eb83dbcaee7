"""spark-submit entry point for the DTM pipeline (reference CLI, core.py:254-317,
re-expressed as a cluster job — SURVEY.md R24).

    zip -qr engine.zip dsm2dtm_spark
    spark-submit --py-files engine.zip jobs/run_dtm.py \
        --input /path/to/images_table --output /path/to/dtm_table \
        --radius 40 [--slope 0.1] [--tile-px 1024] [--tiled] [--cores 32]

Input/output are Iceberg-style snapshot tables (sources.manifest). Rerunning
after an interruption resumes from the committed snapshot (anti-join) —
the distributed analog of the reference's --overwrite guard.
"""

from __future__ import annotations

import argparse
import json


def check_resume_mode(out, mode: str) -> None:
    """Fail fast when a resume flips --tiled: the two branches commit
    different lineage columns (n_tiles/compute_ms vs phash/valid_*/wall_ms),
    so mixing them in one table breaks the snapshot read's schema union.
    The comparison scans back past MAINTENANCE commits (compaction/rollup
    don't set a summary 'op', or set 'compact') so they can't make a
    legitimate same-mode resume abort — but the first DATA commit found
    decides: a foreign op there (another job's table, e.g. 'ingest' or
    'stream-dtm') must still fail fast, exactly as before."""
    prev = None
    for snap in reversed(out.snapshots()):
        op = (snap.summary or {}).get("op")
        if op is None or op == "compact":
            continue  # maintenance commit — keep scanning
        prev = op
        break
    if prev and prev != mode:
        raise SystemExit(
            f"output table {out.root} was written with mode {prev!r}; "
            f"resuming it with {mode!r} would mix incompatible lineage "
            "schemas — rerun with the original --tiled setting or use a "
            "fresh --output"
        )


def main():
    ap = argparse.ArgumentParser(description="Generate DTMs from an image+caption table")
    ap.add_argument("--input", required=True, help="input snapshot-table root")
    ap.add_argument("--output", required=True, help="output snapshot-table root")
    ap.add_argument("--radius", type=float, default=40.0, help="max PMF window radius in meters (default 40)")
    ap.add_argument("--slope", type=float, default=None, help="terrain slope (0-1); auto-estimated when omitted")
    ap.add_argument("--init-threshold", type=float, default=0.1)
    ap.add_argument("--max-threshold", type=float, default=20.0)
    ap.add_argument("--tiled", action="store_true", help="use the tiled+halo plan (big rasters)")
    ap.add_argument(
        "--permissive",
        action="store_true",
        help="quarantine poison rows (null bytes + error column) instead of failing the job",
    )
    ap.add_argument("--tile-px", type=int, default=1024)
    ap.add_argument(
        "--input-format",
        choices=["table", "geotiff"],
        default="table",
        help="'table' (snapshot-table root) or 'geotiff' (comma-separated "
        ".tif globs, ingested via the built-in reader — or rasterio when "
        "installed — exactly the reference's --dsm surface)",
    )
    ap.add_argument(
        "--geotiff-out",
        default=None,
        help="also write one GeoTIFF per DTM row into this directory "
        "(the reference's --out_dir surface; the snapshot table stays the "
        "primary, resumable output)",
    )
    ap.add_argument(
        "--geotiff-compress",
        action="store_true",
        help="Deflate-compress the --geotiff-out files (TIFF Compression=8)",
    )
    ap.add_argument(
        "--geotiff-overviews",
        type=int,
        default=0,
        help="embed N pyramid levels (chained reduced-resolution IFDs, "
        "GDAL-readable overviews) in each --geotiff-out file",
    )
    ap.add_argument("--cores", type=int, default=None, help="local-mode core count (ignored under a cluster master)")
    args = ap.parse_args()

    from functools import partial

    from dsm2dtm_spark import golden
    from dsm2dtm_spark.plans import commit_remaining, dtm_transform
    from dsm2dtm_spark.session import get_spark
    from dsm2dtm_spark.sources import SnapshotTable

    # validate BEFORE any work: an invalid radius must error even when the
    # resume anti-join would leave nothing to process
    golden.validate_job_params(args.radius, args.slope)

    spark = get_spark("dtm-job", cores=args.cores)
    out = SnapshotTable(args.output)

    if args.input_format == "geotiff":
        import glob

        from dsm2dtm_spark.sources.geotiff import read_geotiff_table

        paths = sorted(p for pat in args.input.split(",") for p in glob.glob(pat))
        if not paths:
            raise SystemExit(f"no files match --input {args.input}")
        # materialize the ingest ONCE: the job below consumes src twice
        # (the resume + transform write, the geotiff-out metadata join) and
        # a mapInPandas ingest would re-read + re-decode every raster per use
        src = read_geotiff_table(spark, paths).localCheckpoint(eager=True)
    else:
        src = SnapshotTable(args.input).read(spark)

    mode = "dtm-tiled" if args.tiled else "dtm"
    check_resume_mode(out, mode)
    kw = dict(
        radius_m=args.radius,
        slope=args.slope,
        init_threshold=args.init_threshold,
        max_threshold=args.max_threshold,
        permissive=args.permissive,
    )
    if args.tiled:
        from dsm2dtm_spark.operators.tiling import tiled_dtm_transform

        transform = partial(tiled_dtm_transform, tile_px=args.tile_px, **kw)
    else:
        transform = partial(dtm_transform, **kw)
    n, snap = commit_remaining(src, out, mode, transform)

    tif_paths: list[str] = []
    if args.geotiff_out:
        from pyspark.sql import functions as F

        from dsm2dtm_spark.sources import tiffio

        geo_cols = [c for c in ("lon0", "lat0", "xres_m", "yres_m", "crs", "is_geographic") if c in src.columns]
        dtm_rows = out.read(spark)
        if "error" in dtm_rows.columns:  # permissive: skip quarantined rows
            dtm_rows = dtm_rows.filter(F.col("error").isNull())
        if geo_cols:
            dtm_rows = dtm_rows.join(src.select("image_id", *geo_cols), on="image_id")
        tif_paths = tiffio.write_geotiff_files(
            dtm_rows,
            args.geotiff_out,
            compress=args.geotiff_compress,
            overview_levels=args.geotiff_overviews,
        )

    print(
        json.dumps(
            {
                "processed": n,
                "snapshot": snap.snapshot_id if snap else None,
                "geotiffs_written": len(tif_paths) if args.geotiff_out else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
