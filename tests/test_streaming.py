"""Structured-Streaming ingest tests: file-stream → DTM → snapshot commits,
and idempotent replay of micro-batches."""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dsm2dtm_spark import synth
from dsm2dtm_spark.sources import SnapshotTable
from dsm2dtm_spark.streaming import streaming_dtm_ingest


@pytest.fixture()
def inbox(tmp_path):
    d = tmp_path / "inbox"
    d.mkdir()
    pdf = synth.image_table(10, seed=21, sizes=(50,)).drop(columns=["scenario"])
    pq.write_table(pa.Table.from_pandas(pdf.iloc[:6], preserve_index=False), str(d / "a.parquet"))
    pq.write_table(pa.Table.from_pandas(pdf.iloc[6:], preserve_index=False), str(d / "b.parquet"))
    return d, pdf


def test_stream_drains_inbox_and_commits(spark, tmp_path, inbox):
    d, pdf = inbox
    out = SnapshotTable(str(tmp_path / "out"))
    streaming_dtm_ingest(spark, str(d), out, str(tmp_path / "ckpt"), available_now=True)
    got = out.read(spark)
    assert got.count() == 10
    assert got.select("image_id").distinct().count() == 10
    assert all(s.summary.get("op") == "stream-dtm" for s in out.snapshots())


def test_new_files_processed_incrementally(spark, tmp_path, inbox):
    d, pdf = inbox
    out = SnapshotTable(str(tmp_path / "out"))
    ck = str(tmp_path / "ckpt")
    streaming_dtm_ingest(spark, str(d), out, ck, available_now=True)
    n_snaps = len(out.snapshots())
    # drop one more file into the inbox; rerun with the same checkpoint
    more = synth.image_table(14, seed=21, sizes=(50,)).drop(columns=["scenario"]).iloc[10:]
    pq.write_table(pa.Table.from_pandas(more, preserve_index=False), str(os.path.join(d, "c.parquet")))
    streaming_dtm_ingest(spark, str(d), out, ck, available_now=True)
    assert out.read(spark).count() == 14
    assert len(out.snapshots()) > n_snaps
    # draining again with nothing new commits nothing
    streaming_dtm_ingest(spark, str(d), out, ck, available_now=True)
    assert out.read(spark).count() == 14


def test_second_checkpoint_into_same_table_commits(spark, tmp_path, inbox):
    """Epoch ids restart at 0 for every checkpoint: a second stream with its
    own checkpoint writing into the same table must commit its batches, not
    skip them as replays of the first stream's epochs."""
    d, pdf = inbox
    out = SnapshotTable(str(tmp_path / "out"))
    streaming_dtm_ingest(spark, str(d), out, str(tmp_path / "ckpt_a"), available_now=True)
    d2 = tmp_path / "inbox_b"
    d2.mkdir()
    more = synth.image_table(14, seed=21, sizes=(50,)).drop(columns=["scenario"]).iloc[10:]
    pq.write_table(pa.Table.from_pandas(more, preserve_index=False), str(d2 / "c.parquet"))
    streaming_dtm_ingest(spark, str(d2), out, str(tmp_path / "ckpt_b"), available_now=True)
    got = out.read(spark)
    assert got.count() == 14
    assert got.select("image_id").distinct().count() == 14


def test_stream_overview_pyramid_matches_batch(spark, tmp_path, inbox):
    from pyspark.sql import functions as F

    from dsm2dtm_spark.operators.terrain import build_overviews
    from dsm2dtm_spark.streaming import streaming_overview_ingest

    d, pdf = inbox
    out = SnapshotTable(str(tmp_path / "pyr"))
    ck = str(tmp_path / "ckpyr")
    streaming_overview_ingest(spark, str(d), out, ck, levels=2, available_now=True)
    # streamed pyramid ≡ batch pyramid over the same images (level dirs
    # partition the table, so `level` comes back as a partition column);
    # level 0 holds the same done-markers the batch job writes
    got = out.read(spark).filter("level >= 1")
    assert out.read(spark).filter("level = 0").count() == 10
    want = build_overviews(
        spark.createDataFrame(pdf[["image_id", "bytes", "w", "h", "fmt"]]), levels=2
    )
    key = ["image_id", "level", "py", "px"]
    assert got.count() == want.count()
    assert (
        got.select(*key, "n_src", "value").exceptAll(want.select(*key, "n_src", "value")).count() == 0
    )
    # the batch job sees streamed images as done (one table format): a
    # backfill over the same corpus processes nothing and mismatched
    # levels fail fast
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    from build_overviews import run_overview_job

    in_root = str(tmp_path / "in_tbl")
    SnapshotTable(in_root).write_pandas(pdf)
    assert run_overview_job(spark, in_root, str(tmp_path / "pyr"), levels=2)["images"] == 0
    with pytest.raises(ValueError, match="levels="):
        run_overview_job(spark, in_root, str(tmp_path / "pyr"), levels=3)
    # replay with the same checkpoint: nothing new, no duplicate commits
    n_snaps = len(out.snapshots())
    streaming_overview_ingest(spark, str(d), out, ck, levels=2, available_now=True)
    assert len(out.snapshots()) == n_snaps
    # level partition pruning works on the streamed table too
    plan = got.filter(F.col("level") == 2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan


class TestStatefulDedup:
    def test_first_occurrence_per_phash_across_batches(self, spark, tmp_path):
        import pandas as pd
        from dsm2dtm_spark.streaming.dedup_state import streaming_phash_dedup

        d = tmp_path / "inbox2"
        d.mkdir()
        pdf = synth.image_table(12, seed=33, sizes=(50,), dup_fraction=0.0).drop(columns=["scenario"])
        # plant duplicates: rows 6..11 reuse the phash of rows 0..5
        pdf.loc[6:, "phash"] = pdf.phash.iloc[:6].to_numpy()
        pq.write_table(pa.Table.from_pandas(pdf.iloc[:6], preserve_index=False), str(d / "a.parquet"))
        ck = str(tmp_path / "ck2")
        outd = str(tmp_path / "dedup_out")
        out1 = streaming_phash_dedup(spark, str(d), ck, outd).collect()
        n_distinct = pdf.iloc[:6].phash.nunique()  # scenes may collide naturally
        assert len(out1) == n_distinct
        assert len({r.phash for r in out1}) == n_distinct
        # second batch: all planted duplicates -> nothing new emitted
        # (per-phash state persisted through the checkpoint)
        pq.write_table(pa.Table.from_pandas(pdf.iloc[6:], preserve_index=False), str(d / "b.parquet"))
        out2 = streaming_phash_dedup(spark, str(d), ck, outd).collect()
        assert {r.image_id for r in out2} == {r.image_id for r in out1}

    def test_sink_replay_is_idempotent(self, spark, tmp_path):
        """foreachBatch is at-least-once: a crash between the sink write and
        the checkpoint commit replays the batch. The batch_id-keyed overwrite
        sink must absorb the replay without duplicating rows — simulate by
        writing the same (df, batch_id) twice."""
        import os
        import pandas as pd

        outd = str(tmp_path / "sink_out")
        pdf = pd.DataFrame({"phash": [1, 2], "image_id": ["a", "b"], "caption": ["x", "y"]})
        df = spark.createDataFrame(pdf)

        def sink(batch_df, batch_id: int):  # mirror of the operators' sinks
            batch_df.write.mode("overwrite").parquet(os.path.join(outd, f"batch_id={batch_id}"))

        sink(df, 0)
        sink(df, 0)  # replay of the SAME micro-batch
        sink(df, 1)  # a genuinely new batch still appends
        got = spark.read.parquet(outd)
        assert got.count() == 4  # 2 rows x 2 batches, not 2 x 3 writes
        assert got.filter("batch_id = 0").count() == 2


class TestWindowedWatermark:
    SCHEMA = "ts timestamp, event_type string, value double"

    def _write(self, d, name, rows):
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=["ts", "event_type", "value"])
        # microsecond precision: Spark can't read pyarrow's nano timestamps
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(d / name))

    def test_batch_form_matches_manual_windows(self, spark):
        import pandas as pd

        from dsm2dtm_spark.streaming.windowed import windowed_event_counts

        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime(["2026-01-01 00:01", "2026-01-01 00:09", "2026-01-01 00:11"]),
                "event_type": ["a", "a", "a"],
                "value": [1.0, 2.0, 4.0],
            }
        )
        out = {(r.win_start, r.event_type): (r.n, r.sum_value) for r in
               windowed_event_counts(spark.createDataFrame(pdf)).collect()}
        assert out[("2026-01-01 00:00:00", "a")] == (2, 3.0)
        assert out[("2026-01-01 00:10:00", "a")] == (1, 4.0)

    def test_late_within_watermark_lands_too_late_dropped(self, spark, tmp_path):
        from dsm2dtm_spark.streaming.windowed import run_windowed_stream

        d = tmp_path / "ev"
        d.mkdir()
        ck = str(tmp_path / "ck")
        outd = str(tmp_path / "out")
        # batch 1: events up to 00:30 -> watermark advances to 00:25
        self._write(d, "a.parquet", [("2026-01-01 00:01", "a", 1.0), ("2026-01-01 00:30", "a", 1.0)])
        run_windowed_stream(spark, str(d), ck, outd, self.SCHEMA)
        # batch 2: one late row inside the allowance (00:22) and one far too
        # late (00:05, watermark already past its window end)
        self._write(d, "b.parquet", [("2026-01-01 00:22", "a", 5.0), ("2026-01-01 00:05", "a", 9.0)])
        run_windowed_stream(spark, str(d), ck, outd, self.SCHEMA)
        # batch 3: advance watermark far so every open window closes and emits
        self._write(d, "c.parquet", [("2026-01-01 01:30", "a", 0.5)])
        run_windowed_stream(spark, str(d), ck, outd, self.SCHEMA)
        got = {r.win_start: (r.n, r.sum_value) for r in spark.read.parquet(outd).collect()}
        assert got["2026-01-01 00:20:00"] == (1, 5.0)  # late 00:22 row landed in its window
        assert got["2026-01-01 00:00:00"] == (1, 1.0)  # too-late 00:05 row dropped (window closed)
        assert got["2026-01-01 00:30:00"] == (1, 1.0)


class TestSessionWindows:
    SCHEMA = "ts timestamp, event_type string, value double"
    _write = TestWindowedWatermark._write

    def test_batch_form_merges_by_gap(self, spark):
        import pandas as pd

        from dsm2dtm_spark.streaming.windowed import session_window_counts

        pdf = pd.DataFrame(
            {
                # two bursts 40 min apart → two sessions at a 30 min gap
                "ts": pd.to_datetime(
                    ["2026-01-01 00:00", "2026-01-01 00:10", "2026-01-01 00:50", "2026-01-01 00:55"]
                ),
                "event_type": ["a"] * 4,
                "value": [1.0, 2.0, 4.0, 8.0],
            }
        )
        out = {(r.session_start, r.event_type): (r.n, r.sum_value) for r in
               session_window_counts(spark.createDataFrame(pdf)).collect()}
        assert out[("2026-01-01 00:00:00", "a")] == (2, 3.0)
        assert out[("2026-01-01 00:50:00", "a")] == (2, 12.0)

    def test_streaming_sessions_merge_and_late_row_extends(self, spark, tmp_path):
        from dsm2dtm_spark.streaming.windowed import run_session_stream

        d = tmp_path / "ev"
        d.mkdir()
        ck = str(tmp_path / "ck")
        outd = str(tmp_path / "out")
        # batch 1: one burst + a far-future row to advance the watermark past
        # the burst's session end (00:10 + 30min gap < watermark 02:00-10min)
        self._write(d, "a.parquet", [("2026-01-01 00:00", "a", 1.0),
                                     ("2026-01-01 00:10", "a", 2.0),
                                     ("2026-01-01 02:00", "a", 0.5)])
        run_session_stream(spark, str(d), ck, outd, self.SCHEMA)
        # batch 2: push the watermark far enough to close the 02:00 session
        self._write(d, "b.parquet", [("2026-01-01 05:00", "a", 0.25)])
        run_session_stream(spark, str(d), ck, outd, self.SCHEMA)
        self._write(d, "c.parquet", [("2026-01-01 09:00", "a", 0.125)])
        run_session_stream(spark, str(d), ck, outd, self.SCHEMA)
        got = {r.session_start: (r.n, r.sum_value) for r in spark.read.parquet(outd).collect()}
        assert got["2026-01-01 00:00:00"] == (2, 3.0)  # burst merged into ONE session
        assert got["2026-01-01 02:00:00"] == (1, 0.5)
        assert got["2026-01-01 05:00:00"] == (1, 0.25)
