"""Snapshot-table maintenance: expiring old snapshots removes exactly the
unreferenced data files while the current state keeps reading correctly."""

from __future__ import annotations

import os

import pandas as pd

from dsm2dtm_spark.sources import SnapshotTable


def test_expire_snapshots_keeps_current_state(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.write_pandas(pd.DataFrame({"a": [1, 2]}))
    t.write_pandas(pd.DataFrame({"a": [3]}))
    t.write_pandas(pd.DataFrame({"a": [4, 5]}))
    assert t.read(spark).count() == 5

    deleted = t.expire_snapshots(keep_last=1)
    # append-only snapshots: the newest references every live file → nothing
    # referenced by it may be deleted
    assert deleted == []
    assert len(t.snapshots()) == 1
    assert t.read(spark).count() == 5


def test_expire_removes_orphans_and_overwritten_files(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t2"))
    t.write_pandas(pd.DataFrame({"a": [1, 2]}))
    # simulate a crashed write: a data file no snapshot references
    orphan = os.path.join(t.data_dir, "deadbeef.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")
    # an overwrite snapshot drops the old file set
    t.write_dataframe(spark.range(3).toDF("a"), operation="overwrite")
    deleted = t.expire_snapshots(keep_last=1)
    assert "deadbeef.parquet" in deleted
    assert len(deleted) >= 2  # orphan + the pre-overwrite file
    assert t.read(spark).count() == 3


class TestFileStatsAndPruning:
    def test_commit_harvests_footer_stats(self, tmp_path):
        t = SnapshotTable(str(tmp_path / "s"))
        t.write_pandas(pd.DataFrame({"k": [10, 20], "name": ["aa", "bb"]}))
        snap = t.current_snapshot()
        (f,) = snap.files
        assert snap.stats[f]["k"] == [10, 20]
        assert snap.stats[f]["name"] == ["aa", "bb"]

    def test_read_where_skips_files_but_keeps_semantics(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "p"))
        for lo in (0, 100, 200, 300):  # four files with disjoint k ranges
            t.write_pandas(pd.DataFrame({"k": range(lo, lo + 50), "v": range(50)}))
        full = t.read(spark)
        assert len(full.inputFiles()) == 4
        pruned = t.read(spark, where=[("k", ">=", 150)])
        assert len(pruned.inputFiles()) == 2  # files [200,249] and [300,349]
        want = sorted(r.k for r in full.filter("k >= 150").collect())
        assert sorted(r.k for r in pruned.collect()) == want
        # equality predicate: exactly one file survives
        one = t.read(spark, where=[("k", "=", 111)])
        assert len(one.inputFiles()) == 1
        assert [r.k for r in one.collect()] == [111]
        # predicate matching nothing still returns an empty, well-typed frame
        none = t.read(spark, where=[("k", ">", 10_000)])
        assert none.count() == 0 and "k" in none.columns

    def test_string_stats_prune(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "q"))
        t.write_pandas(pd.DataFrame({"fmt": ["png16"] * 3, "x": [1, 2, 3]}))
        t.write_pandas(pd.DataFrame({"fmt": ["raw_f32"] * 3, "x": [4, 5, 6]}))
        pruned = t.read(spark, where=[("fmt", "=", "raw_f32")])
        assert len(pruned.inputFiles()) == 1
        assert sorted(r.x for r in pruned.collect()) == [4, 5, 6]


class TestReadSchema:
    """``SnapshotTable.read`` takes its schema from one footer: it equals the
    schema Spark's own inference gives (nullability and field metadata
    included), and building the DataFrame runs no Spark job."""

    @staticmethod
    def _read_checked(spark, t):
        paths = [os.path.join(t.data_dir, f) for f in t.current_snapshot().files]
        inferred = spark.read.option("basePath", t.data_dir).parquet(*paths).schema
        sc = spark.sparkContext
        sc.setJobGroup("snapshot-read", "SnapshotTable.read")
        try:
            df = t.read(spark)
            jobs = list(sc.statusTracker().getJobIdsForGroup("snapshot-read"))
        finally:
            sc.setJobGroup(None, None)
        assert df.schema == inferred
        assert jobs == []
        return df

    def test_spark_written_two_appends(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "s"))
        t.write_dataframe(spark.createDataFrame([(1, "a", [1.0])], "id bigint not null, s string, v array<double>"))
        t.write_dataframe(spark.createDataFrame([(2, "b", [2.0, None])], "id bigint, s string, v array<double>"))
        df = self._read_checked(spark, t)
        assert df.schema["id"].nullable
        assert sorted(r.id for r in df.collect()) == [1, 2]

    def test_write_pandas(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "p"))
        t.write_pandas(pd.DataFrame({"k": [1, 2], "x": [0.5, 1.5], "name": ["a", None]}))
        assert self._read_checked(spark, t).count() == 2

    def test_partitioned(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "h"))
        for k in (1, 2):
            t.write_dataframe(spark.createDataFrame([(k, f"row {k}")], "k int, s string"), partition_by=["k"])
        df = self._read_checked(spark, t)
        assert df.columns == ["s", "k"]
        assert sorted((r.k, r.s) for r in df.collect()) == [(1, "row 1"), (2, "row 2")]

    def test_pyarrow_commit(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = SnapshotTable(str(tmp_path / "a"))
        schema = pa.schema(
            [
                pa.field("i32", pa.int32(), nullable=False),
                ("i64", pa.int64()),
                ("f32", pa.float32()),
                ("f64", pa.float64()),
                ("s", pa.string()),
                ("b", pa.binary()),
                ("l", pa.list_(pa.int64())),
                ("ls", pa.list_(pa.string())),
            ]
        )
        cols = {
            "i32": [1, 2], "i64": [3, None], "f32": [0.5, 1.5], "f64": [2.5, None],
            "s": ["x", None], "b": [b"\x00", b"\x01"], "l": [[1, 2], None], "ls": [["u"], []],
        }
        table = pa.table(cols, schema=schema)
        pq.write_table(table, os.path.join(t.data_dir, "ext.parquet"))
        t.commit(["ext.parquet"])
        df = self._read_checked(spark, t)
        assert [r.i32 for r in df.collect()] == [1, 2]

    def test_compacted(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "c"))
        for i in range(3):
            t.write_dataframe(spark.createDataFrame([(i, [i])], "id bigint, v array<int>"))
        assert t.compact(spark) is not None
        assert len(t.current_snapshot().files) == 1
        assert self._read_checked(spark, t).count() == 3

    def test_types_outside_the_allowlist_fall_back_to_inference(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from dsm2dtm_spark.sources.manifest import footer_schema

        t = SnapshotTable(str(tmp_path / "ts"))
        path = os.path.join(t.data_dir, "ts.parquet")
        pq.write_table(pa.table({"t": pa.array([0], pa.timestamp("us")), "k": [1]}), path)
        t.commit(["ts.parquet"])
        assert footer_schema([path]) is None
        inferred = spark.read.parquet(path).schema
        assert t.read(spark).schema == inferred


class TestCompaction:
    def test_compact_folds_small_files(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "c"))
        for i in range(6):
            t.write_pandas(pd.DataFrame({"k": [i * 10 + j for j in range(5)]}))
        before = t.current_snapshot()
        assert len(before.files) == 6
        snap = t.compact(spark)
        assert snap.operation == "compact" and len(snap.files) == 1
        assert sorted(r.k for r in t.read(spark).collect()) == sorted(
            i * 10 + j for i in range(6) for j in range(5)
        )
        # time travel to the pre-compaction snapshot still reads
        assert t.read(spark, snapshot_id=before.snapshot_id).count() == 30
        # nothing left to compact
        assert t.compact(spark) is None

    def test_compact_sort_by_tightens_stats(self, spark, tmp_path):
        import numpy as np

        t = SnapshotTable(str(tmp_path / "cs"))
        rng = np.random.default_rng(4)
        vals = rng.permutation(400)
        for chunk in np.array_split(vals, 4):  # interleaved ranges: no pruning possible
            t.write_pandas(pd.DataFrame({"k": chunk}))
        assert len(t.read(spark, where=[("k", "<", 100)]).inputFiles()) == 4
        t.compact(spark, target_file_bytes=2000, sort_by=["k"])
        snap = t.current_snapshot()
        assert len(snap.files) > 1  # small target → several range-clustered files
        pruned = t.read(spark, where=[("k", "<", 100)])
        assert len(pruned.inputFiles()) < len(snap.files)  # skipping now works
        assert sorted(r.k for r in pruned.collect()) == list(range(100))

    def test_compact_partitioned_layout_per_directory(self, spark, tmp_path):
        """Hive-partitioned tables compact PER partition dir: each
        partition's small files fold among themselves, rewritten files stay
        under the same col=value path (pruning untouched), and a partition
        with a single file is not rewritten."""
        import os

        t = SnapshotTable(str(tmp_path / "cp"))
        # 3 appends hit partitions k=0/1; one append adds a lone k=2 file
        for i in range(3):
            t.write_dataframe(
                spark.createDataFrame(
                    pd.DataFrame({"k": [0, 1], "v": [10 * i, 10 * i + 1]})
                ).repartition(2, "k"),
                partition_by=["k"],
            )
        t.write_dataframe(
            spark.createDataFrame(pd.DataFrame({"k": [2], "v": [99]})), partition_by=["k"]
        )
        before = t.current_snapshot()
        lone = [f for f in before.files if f.startswith("k=2")]
        assert len(lone) == 1
        assert sum(1 for f in before.files if f.startswith("k=0")) == 3
        snap = t.compact(spark)
        assert snap.summary["compacted"] == 6  # k=0 and k=1 folded, k=2 untouched
        dirs = {os.path.dirname(f) for f in snap.files}
        assert dirs == {"k=0", "k=1", "k=2"}
        assert sum(1 for f in snap.files if f.startswith("k=0")) == 1
        assert lone[0] in snap.files  # the lone file survives by reference
        got = {(r.k, r.v) for r in t.read(spark).collect()}
        assert got == {(0, 0), (1, 1), (0, 10), (1, 11), (0, 20), (1, 21), (2, 99)}
        # partition pruning still works on the compacted layout (the rel
        # dirs survived, so the scan keeps its partition filter)
        plan = t.read(spark).filter("k = 1")._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(k" in plan or "(k#" in plan.split("PartitionFilters: [")[1].split("]")[0]
