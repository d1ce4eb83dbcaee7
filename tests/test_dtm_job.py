"""End-to-end Spark DTM job tests — the per-row invariant of BASELINE.json:
distributed output ≡ single-node golden (decoded-pixel exact for raw_f32,
within quantization for png16, PSNR ≥ 40 dB for qz8) with caption passthrough
equality; plus snapshot commit + anti-join resume semantics (SURVEY.md E12)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from dsm2dtm_spark import codecs, golden, synth
from dsm2dtm_spark.plans import dtm_transform, lineage_metrics, run_dtm_job
from dsm2dtm_spark.params import NODATA_DEFAULT
from dsm2dtm_spark.sources import SnapshotTable

RADIUS = 40.0


@pytest.fixture(scope="module")
def image_pdf():
    return synth.image_table(n_rows=24, seed=42, sizes=(50, 64, 80))


@pytest.fixture(scope="module")
def input_table(tmp_path_factory, image_pdf, spark):
    t = SnapshotTable(str(tmp_path_factory.mktemp("images")))
    t.write_pandas(image_pdf, summary={"rows": len(image_pdf)})
    return t


def golden_rows(image_pdf):
    out = {}
    for row in image_pdf.itertuples(index=False):
        grid = codecs.decode(row.bytes, row.h, row.w, row.fmt)
        out[row.image_id] = golden.dsm_to_dtm(
            grid, (row.xres_m, row.yres_m), radius_m=RADIUS, nodata=NODATA_DEFAULT
        )
    return out


class TestPerRowParity:
    def test_spark_matches_golden_per_row(self, spark, input_table, image_pdf):
        result = dtm_transform(input_table.read(spark), radius_m=RADIUS).collect()
        assert len(result) == len(image_pdf)
        want = golden_rows(image_pdf)
        captions = dict(zip(image_pdf.image_id, image_pdf.caption))
        for r in result:
            dtm = codecs.decode(bytes(r.bytes), r.h, r.w, r.fmt)
            g = want[r.image_id]
            assert r.caption == captions[r.image_id], "caption passthrough broken"
            if r.fmt == "raw_f32":
                np.testing.assert_array_equal(dtm, g, err_msg=r.image_id)
            elif r.fmt == "png16":
                valid = g != NODATA_DEFAULT
                rng_ = float(g[valid].max() - g[valid].min()) if valid.any() else 1.0
                atol = max(rng_ / 65534.0, 1e-6) * 0.5 + abs(g).max() * np.finfo(np.float32).eps
                np.testing.assert_allclose(dtm[valid], g[valid], rtol=0, atol=atol, err_msg=r.image_id)
                np.testing.assert_array_equal(dtm == NODATA_DEFAULT, ~valid)
            else:  # qz8 — the lossy branch of the invariant
                assert codecs.psnr(g, dtm) >= 40.0, r.image_id

    def test_lineage_metrics_cover_all_rows(self, spark, input_table):
        rows = dtm_transform(input_table.read(spark), radius_m=RADIUS)
        m = lineage_metrics(rows).collect()
        assert sum(x.n_images for x in m) == 24
        assert all(x.pixels > 0 for x in m)


class TestSnapshotResume:
    def test_commit_then_resume_is_exactly_once(self, spark, tmp_path, image_pdf):
        inp = SnapshotTable(str(tmp_path / "in"))
        # commit input in two snapshots of 12 rows
        inp.write_pandas(image_pdf.iloc[:12])
        out = SnapshotTable(str(tmp_path / "out"))

        n1, _ = run_dtm_job(spark, inp, out, radius_m=RADIUS)
        assert n1 == 12
        # append 12 more input rows; rerun — only the delta is processed
        inp.write_pandas(image_pdf.iloc[12:])
        n2, _ = run_dtm_job(spark, inp, out, radius_m=RADIUS)
        assert n2 == 12
        final = out.read(spark)
        assert final.count() == 24
        assert final.select("image_id").distinct().count() == 24
        # idempotent rerun: nothing left, and nothing committed
        before = out.current_snapshot().snapshot_id
        n3, snap3 = run_dtm_job(spark, inp, out, radius_m=RADIUS)
        assert n3 == 0
        assert snap3.snapshot_id == before == out.current_snapshot().snapshot_id

    def test_snapshot_time_travel(self, spark, tmp_path, image_pdf):
        t = SnapshotTable(str(tmp_path / "tt"))
        s0 = t.write_pandas(image_pdf.iloc[:5])
        s1 = t.write_pandas(image_pdf.iloc[5:9])
        assert t.read(spark, snapshot_id=s0.snapshot_id).count() == 5
        assert t.read(spark, snapshot_id=s1.snapshot_id).count() == 9
        assert t.current_snapshot().snapshot_id == s1.snapshot_id


class TestDtmJobBudget:
    """A fresh run is one write: no count job (n comes from the committed
    footers), and one wave of DTM tasks, one per core, when the scan gives
    fewer partitions than cores."""

    def test_one_write_one_task_per_core(self, spark, tmp_path, input_table):
        sc = spark.sparkContext
        assert input_table.read(spark).rdd.getNumPartitions() < sc.defaultParallelism
        out = SnapshotTable(str(tmp_path / "out"))
        sc.setJobGroup("dtm-budget", "one run_dtm_job")
        try:
            n, snap = run_dtm_job(spark, input_table, out, radius_m=RADIUS)
            jobs = list(sc.statusTracker().getJobIdsForGroup("dtm-budget"))
        finally:
            sc.setJobGroup(None, None)
        assert n == 24 and snap.summary == {"op": "dtm", "rows": 24}
        assert len(jobs) <= 2, f"{len(jobs)} Spark jobs for one run_dtm_job"
        tasks = out.read(spark).groupBy("partition_id").count().collect()
        assert len(tasks) == sc.defaultParallelism
        assert sum(r["count"] for r in tasks) == 24


class TestPlanQuality:
    def test_metadata_query_prunes_bytes_column(self, spark, input_table):
        """A metadata-only query must not read the multi-MB bytes column —
        column pruning reaches the parquet scan (SURVEY.md §4.2)."""
        df = input_table.read(spark).filter("fmt = 'raw_f32'").select("image_id", "w", "h")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "bytes" not in plan.split("ReadSchema")[-1]

    def test_filter_pushdown(self, spark, input_table):
        df = input_table.read(spark).filter("w = 64").select("image_id")
        plan = df._jdf.queryExecution().toString()
        assert "PushedFilters: [" in plan and "w" in plan.split("PushedFilters")[-1][:200]


class TestPermissiveMode:
    def test_poison_row_quarantined_not_fatal(self, spark, image_pdf):
        pdf = image_pdf.iloc[:6].copy()
        pdf.loc[pdf.index[2], "bytes"] = b"corrupt payload"
        sdf = spark.createDataFrame(pdf.drop(columns=["scenario"]))
        # strict mode: the job fails
        with pytest.raises(Exception):
            dtm_transform(sdf, radius_m=RADIUS).collect()
        # permissive: 6 rows come back, one quarantined with the error
        rows = dtm_transform(sdf, radius_m=RADIUS, permissive=True).collect()
        assert len(rows) == 6
        bad = [r for r in rows if r.error is not None]
        assert len(bad) == 1 and bad[0].bytes is None
        # quarantined: NULL, not a fake 0 — phash 0 is a real aHash (a phash
        # dedup would merge every poison row) and valid_in 0 claims "no
        # valid input pixels"
        assert (bad[0].phash, bad[0].valid_in, bad[0].valid_out) == (None, None, None)
        src = pdf.iloc[2]
        assert (bad[0].image_id, bad[0].w, bad[0].h, bad[0].fmt, bad[0].caption) == (
            src.image_id, src.w, src.h, src.fmt, src.caption
        )
        assert bad[0].wall_ms is not None and bad[0].partition_id is not None
        good = [r for r in rows if r.error is None]
        assert all(r.bytes is not None for r in good)


class TestResumeModeGuard:
    """Resuming an output table with the OTHER --tiled setting must fail
    fast: the two branches commit different lineage columns, and a mixed
    table would break the snapshot read's schema union (jobs/run_dtm.py)."""

    def test_mode_flip_rejected_and_same_mode_allowed(self, tmp_path):
        import os
        import sys

        sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
        from run_dtm import check_resume_mode

        from dsm2dtm_spark.sources import SnapshotTable

        out = SnapshotTable(str(tmp_path / "out"))
        check_resume_mode(out, "dtm")  # empty table: any mode fine
        out.write_pandas(pd.DataFrame({"image_id": ["a"]}), summary={"rows": 1, "op": "dtm"})
        check_resume_mode(out, "dtm")  # same mode resumes
        with pytest.raises(SystemExit, match="mix incompatible lineage"):
            check_resume_mode(out, "dtm-tiled")
        # a maintenance commit on top (op='compact', or no op at all) must
        # not mask the real mode: same-mode resume still passes, flipped
        # mode still fails
        out.write_pandas(pd.DataFrame({"image_id": ["b"]}), summary={"op": "compact"})
        out.write_pandas(pd.DataFrame({"image_id": ["c"]}), summary={"compacted": 2})
        check_resume_mode(out, "dtm")
        with pytest.raises(SystemExit, match="mix incompatible lineage"):
            check_resume_mode(out, "dtm-tiled")
        # but a FOREIGN data op (another job's table) is still rejected —
        # scanning past maintenance must not scan past real lineage
        foreign = SnapshotTable(str(tmp_path / "foreign"))
        foreign.write_pandas(pd.DataFrame({"doc_id": [1]}), summary={"op": "ingest"})
        with pytest.raises(SystemExit, match="mix incompatible lineage"):
            check_resume_mode(foreign, "dtm")
