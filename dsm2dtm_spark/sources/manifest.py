"""Iceberg-style snapshot-manifest table layout on parquet.

No Iceberg runtime jar ships with the sandbox's PySpark and there is no
network (SURVEY.md §1.3), so the engine implements the part of the Iceberg
model it needs — an append-only table whose committed state is a JSON snapshot
listing immutable parquet data files — and reads/writes it through plain
``spark.read.parquet``. Swapping in real Iceberg is a config change.

Layout:
    <root>/data/<uuid>.parquet      immutable data files
    <root>/meta/snapshot-<n>.json   {"snapshot_id", "parent_id", "files",
                                     "operation", "summary", "stats"}
    <root>/meta/CURRENT             text pointer to the current snapshot file

Commit protocol: write the new snapshot JSON to a temp name, ``os.replace``
it into place, then ``os.replace`` the CURRENT pointer — atomic on POSIX, so
readers always see a complete snapshot (exactly-once resume depends on this;
SURVEY.md §7.2 item 5).

Iceberg-style file skipping: every commit records per-file column min/max
(harvested from the parquet FOOTERS the writer already produced — no data
scan), and ``read(where=...)`` prunes non-matching files from the scan
BEFORE Spark lists them. At warehouse scale this is the difference between
touching 40 files and 40,000; the residual predicate is still applied, so
pruning is purely an optimization, never a semantics change. ``compact``
folds small files into target-sized ones as a new snapshot (time travel to
pre-compaction snapshots keeps working — old files stay until expired).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

_JSONABLE = (int, float, str, bool)


def _file_column_stats(path: str) -> dict:
    """Per-column [min, max] from the parquet footer (row-group statistics
    merged; zero data pages read). Columns without clean JSON-able stats
    (binary payloads, missing stats) are simply absent — absent = unprunable,
    which is always safe."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out: dict[str, list] = {}
    skip: set[str] = set()
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            st = col.statistics
            if name in skip:
                continue
            if st is None or not st.has_min_max or not (
                isinstance(st.min, _JSONABLE) and isinstance(st.max, _JSONABLE)
            ):
                skip.add(name)  # one stats-less row group poisons the column
                out.pop(name, None)
                continue
            if name in out:
                out[name] = [min(out[name][0], st.min), max(out[name][1], st.max)]
            else:
                out[name] = [st.min, st.max]
    return out


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _arrow_to_spark(t):
    """The Spark type the parquet reader infers for a plain Arrow type, or
    None outside the allowlist (booleans, integers, floats, strings, binary
    and lists of those)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if pa.types.is_list(t) or pa.types.is_large_list(t):
        element = _arrow_to_spark(t.value_type)
        return T.ArrayType(element) if element is not None else None
    plain = {
        pa.bool_(): T.BooleanType(), pa.int8(): T.ByteType(), pa.int16(): T.ShortType(),
        pa.int32(): T.IntegerType(), pa.int64(): T.LongType(), pa.float32(): T.FloatType(),
        pa.float64(): T.DoubleType(), pa.string(): T.StringType(), pa.large_string(): T.StringType(),
        pa.binary(): T.BinaryType(), pa.large_binary(): T.BinaryType(),
    }
    return plain.get(t)


def footer_schema(paths: list[str]):
    """The schema ``spark.read.parquet(*paths)`` infers, read from one footer
    on the driver instead of by Spark's schema-inference job — or None when
    it cannot be read off exactly (the caller then lets Spark infer).

    Spark's inference reads the first non-empty file in path order. A
    Spark-written file carries its Spark schema in the footer key
    ``org.apache.spark.sql.parquet.row.metadata``; any other writer's
    schema is mapped from plain Arrow types only. The reader makes every
    field nullable either way, as inference does. Hive partition columns
    are not in the files: Spark still adds them from the directory names."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructField, StructType

    first = next((p for p in sorted(paths) if os.path.getsize(p) > 0), None)
    if first is None:
        return None
    try:
        f = pq.ParquetFile(first)
        spark_json = (f.metadata.metadata or {}).get(_SPARK_SCHEMA_KEY)
        if spark_json is not None:
            return StructType.fromJson(json.loads(spark_json))
        arrow = f.schema_arrow
    except Exception:  # noqa: BLE001 — an unreadable footer: Spark infers
        return None
    types = [_arrow_to_spark(a.type) for a in arrow]
    if None in types:
        return None
    return StructType([StructField(a.name, t) for a, t in zip(arrow, types)])


def read_parquet(spark: SparkSession, paths: list[str], base_path: str | None = None) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the schema taken from a footer
    (see ``footer_schema``), so building the DataFrame runs no Spark job."""
    reader = spark.read
    schema = footer_schema(paths)
    if schema is not None:
        reader = reader.schema(schema)
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    return reader.parquet(*paths)


def _file_survives(stats: dict | None, col: str, op: str, val) -> bool:
    """Can a file with these footer stats contain a row matching the
    predicate? Missing stats → must keep (never prune blindly)."""
    if not stats or col not in stats:
        return True
    lo, hi = stats[col]
    if op == "=":
        return lo <= val <= hi
    if op == ">=":
        return hi >= val
    if op == ">":
        return hi > val
    if op == "<=":
        return lo <= val
    if op == "<":
        return lo < val
    raise ValueError(f"unsupported prune op {op!r} (use =, <, <=, >, >=)")


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str
    files: list[str]  # data-file names relative to <root>/data/
    summary: dict
    stats: dict = field(default_factory=dict)  # file -> {col: [min, max]}


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root  # created by the first write, never by opening
        self.meta_dir = os.path.join(root, "meta")

    @property
    def data_dir(self) -> str:
        """Created on first use: callers place files there before a commit."""
        path = os.path.join(self.root, "data")
        os.makedirs(path, exist_ok=True)
        return path

    # ------------------------------------------------------------- snapshots

    def _current_path(self) -> str:
        return os.path.join(self.meta_dir, "CURRENT")

    def current_snapshot(self) -> Snapshot | None:
        try:
            with open(self._current_path()) as f:
                name = f.read().strip()
        except FileNotFoundError:
            return None
        with open(os.path.join(self.meta_dir, name)) as f:
            d = json.load(f)
        return self._parse(d)

    @staticmethod
    def _parse(d: dict) -> Snapshot:
        return Snapshot(
            d["snapshot_id"],
            d.get("parent_id"),
            d["operation"],
            d["files"],
            d.get("summary", {}),
            d.get("stats", {}),
        )

    def snapshots(self) -> list[Snapshot]:
        out = []
        if not os.path.isdir(self.meta_dir):
            return out
        for name in sorted(os.listdir(self.meta_dir)):
            if name.startswith("snapshot-") and name.endswith(".json"):
                with open(os.path.join(self.meta_dir, name)) as f:
                    out.append(self._parse(json.load(f)))
        return out

    def _harvest_stats(self, files: list[str]) -> dict:
        out = {}
        for rel in files:
            try:
                out[rel] = _file_column_stats(os.path.join(self.data_dir, rel))
            except Exception:  # noqa: BLE001 — stats are an optimization only
                out[rel] = {}
        return out

    def commit(self, new_files: list[str], operation: str = "append", summary: dict | None = None) -> Snapshot:
        cur = self.current_snapshot()
        base = cur.files if cur and operation == "append" else []
        return self._commit_file_set(base + new_files, new_files, operation, summary)

    def _commit_file_set(
        self, files: list[str], new_files: list[str], operation: str, summary: dict | None
    ) -> Snapshot:
        """Commit an explicit final file set (compaction needs remove+add in
        one atomic snapshot). Footer stats are harvested for the new files;
        surviving files keep theirs."""
        cur = self.current_snapshot()
        sid = (cur.snapshot_id + 1) if cur else 0
        stats = {f: s for f, s in (cur.stats if cur else {}).items() if f in set(files)}
        stats.update(self._harvest_stats(new_files))
        snap = Snapshot(sid, cur.snapshot_id if cur else None, operation, files, summary or {}, stats)
        name = f"snapshot-{sid:06d}.json"
        os.makedirs(self.meta_dir, exist_ok=True)
        tmp = os.path.join(self.meta_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(
                {
                    "snapshot_id": snap.snapshot_id,
                    "parent_id": snap.parent_id,
                    "operation": operation,
                    "files": files,
                    "summary": snap.summary,
                    "stats": stats,
                },
                f,
                indent=1,
            )
        os.replace(tmp, os.path.join(self.meta_dir, name))
        tmp2 = os.path.join(self.meta_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp2, "w") as f:
            f.write(name)
        os.replace(tmp2, self._current_path())
        return snap

    # ------------------------------------------------------------------ I/O

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        """DataFrame over the committed file set (time travel via snapshot_id).
        Plain parquet scan → Catalyst predicate pushdown / column pruning
        apply untouched; hive-style partition directories (from a
        ``partition_by`` write) keep partition-pruning via basePath. The
        schema comes from a footer (``read_parquet``), so building the
        DataFrame runs no Spark job.

        ``where``: optional conjunction of ``(col, op, value)`` predicates
        (op ∈ =, <, <=, >, >=). Files whose footer min/max provably cannot
        match are dropped from the scan path list — Iceberg-style file
        skipping using the manifest's stats — and the SAME predicates are
        then applied as DataFrame filters, so results are identical to a
        full scan + filter; only the I/O shrinks."""
        if snapshot_id is None:
            snap = self.current_snapshot()
        else:
            snap = next((s for s in self.snapshots() if s.snapshot_id == snapshot_id), None)
        if snap is None or not snap.files:
            raise ValueError(f"table {self.root} has no committed data (snapshot_id={snapshot_id})")
        files = snap.files
        if where:
            files = [
                f for f in files if all(_file_survives(snap.stats.get(f), c, op, v) for (c, op, v) in where)
            ] or snap.files[:1]  # keep one file for schema; filters below yield 0 rows
        paths = [os.path.join(self.data_dir, f) for f in files]
        df = read_parquet(spark, paths, base_path=self.data_dir)
        ops = {
            "=": lambda col, v: col == v,
            "<": lambda col, v: col < v,
            "<=": lambda col, v: col <= v,
            ">": lambda col, v: col > v,
            ">=": lambda col, v: col >= v,
        }
        for c, op, v in where or []:
            df = df.filter(ops[op](F.col(c), F.lit(v)))
        return df

    def write_dataframe(
        self,
        df: DataFrame,
        operation: str = "append",
        summary: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> Snapshot:
        """Write ``df`` as new immutable data files + commit one snapshot.
        With ``partition_by`` the hive-style ``col=value`` directory layout
        is preserved, making the partition column prunable at scan time
        (Iceberg-style data layout)."""
        return self.commit(self._stage(df, partition_by), operation, summary)

    def append_rows(self, df: DataFrame, summary: dict | None = None) -> tuple[int, Snapshot | None]:
        """Append ``df`` as one snapshot whose summary records the rows it
        added under ``rows``; returns (rows, snapshot). The count is summed
        from the written files' footers, so no Spark action counts ``df``.
        A write of zero rows commits nothing: its files are deleted and
        (0, current snapshot) comes back, so a job with nothing left to do
        leaves the table as it was."""
        new_files = self._stage(df)
        rows = self._footer_rows(new_files)
        if rows == 0:
            for rel in new_files:
                os.remove(os.path.join(self.data_dir, rel))
            return 0, self.current_snapshot()
        return rows, self.commit(new_files, "append", {**(summary or {}), "rows": rows})

    def _stage(self, df: DataFrame, partition_by: list[str] | None = None) -> list[str]:
        """Write ``df`` and move its part files into data/ under fresh UUID
        names; returns their names relative to data/. Spark writes to a
        scratch dir first, so a crashed job never leaves half-visible data
        (files without a snapshot are invisible garbage, collectable
        later)."""
        scratch = os.path.join(self.root, f".stage-{uuid.uuid4().hex}")
        try:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(scratch)
            new_files = []
            for dirpath, _, fns in os.walk(scratch):
                rel_dir = os.path.relpath(dirpath, scratch)
                for fn in sorted(fns):
                    if not fn.endswith(".parquet"):
                        continue
                    if rel_dir == ".":
                        rel = f"{uuid.uuid4().hex}.parquet"
                    else:
                        rel = os.path.join(rel_dir, f"{uuid.uuid4().hex}.parquet")
                        os.makedirs(os.path.join(self.data_dir, rel_dir), exist_ok=True)
                    shutil.move(os.path.join(dirpath, fn), os.path.join(self.data_dir, rel))
                    new_files.append(rel)
            return new_files
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def compact(
        self,
        spark: SparkSession,
        small_file_bytes: int = 32 << 20,
        target_file_bytes: int = 128 << 20,
        sort_by: list[str] | None = None,
        summary: dict | None = None,
    ) -> Snapshot | None:
        """Table maintenance: fold small data files into ~target-sized ones
        as ONE new snapshot (remove+add atomically). Small files are the
        classic warehouse failure mode — every incremental/streaming commit
        adds a few, and a year later the scan spends longer listing footers
        than reading data. Hive-partitioned layouts (from a ``partition_by``
        write) compact PER PARTITION DIRECTORY: each partition's small files
        fold among themselves and the rewritten files stay under the same
        ``col=value`` path, so partition pruning is untouched and untouched
        partitions cost nothing. ``sort_by`` optionally clusters rows (e.g.
        by cell id) during the rewrite so the new footers' min/max become
        tight and ``read(where=...)`` file skipping gets sharper.
        ``summary`` carries keys a table's readers rely on into the new
        snapshot (they would otherwise read the compaction's only). Time
        travel to pre-compaction snapshots keeps working — replaced files
        stay on disk until ``expire_snapshots`` drops the snapshots that
        reference them. Returns the new snapshot, or None when there is
        nothing to do."""
        cur = self.current_snapshot()
        if cur is None:
            return None
        groups: dict[str, list[str]] = {}
        for f in cur.files:
            if os.path.getsize(os.path.join(self.data_dir, f)) < small_file_bytes:
                d = os.path.dirname(f)
                groups.setdefault("" if d == "." else d, []).append(f)
        groups = {d: fs for d, fs in groups.items() if len(fs) >= 2}
        if not groups:
            return None
        small_all: list[str] = []
        new_files: list[str] = []
        scratch = os.path.join(self.root, f".stage-{uuid.uuid4().hex}")
        try:
            for d, small in sorted(groups.items()):
                total = sum(os.path.getsize(os.path.join(self.data_dir, f)) for f in small)
                n_out = max(1, math.ceil(total / target_file_bytes))
                df = read_parquet(spark, [os.path.join(self.data_dir, f) for f in small])
                if sort_by:  # range-cluster: tight per-file min/max for file skipping
                    df = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
                else:
                    df = df.coalesce(n_out)
                df.write.mode("overwrite").parquet(scratch)
                if d:
                    os.makedirs(os.path.join(self.data_dir, d), exist_ok=True)
                for fn in sorted(os.listdir(scratch)):
                    if fn.endswith(".parquet"):
                        rel = os.path.join(d, f"{uuid.uuid4().hex}.parquet") if d else f"{uuid.uuid4().hex}.parquet"
                        shutil.move(os.path.join(scratch, fn), os.path.join(self.data_dir, rel))
                        new_files.append(rel)
                small_all.extend(small)
            survivors = [f for f in cur.files if f not in set(small_all)]
            return self._commit_file_set(
                survivors + new_files,
                new_files,
                "compact",
                {**(summary or {}), "compacted": len(small_all), "into": len(new_files)},
            )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Table maintenance (Iceberg-style): drop all but the newest
        ``keep_last`` snapshot manifests, then delete data files no surviving
        snapshot references (orphans from crashed writes included). Returns
        the deleted data-file names. CURRENT is never expired."""
        snaps = self.snapshots()
        if not snaps:
            return []
        cur = self.current_snapshot()
        keep_ids = {s.snapshot_id for s in snaps[-keep_last:]} | {cur.snapshot_id}
        referenced: set[str] = set()
        for s in snaps:
            if s.snapshot_id in keep_ids:
                referenced.update(s.files)
            else:
                os.remove(os.path.join(self.meta_dir, f"snapshot-{s.snapshot_id:06d}.json"))
        deleted = []
        for dirpath, _, fns in os.walk(self.data_dir):
            for fn in fns:
                rel = os.path.relpath(os.path.join(dirpath, fn), self.data_dir)
                if fn.endswith(".parquet") and rel not in referenced:
                    os.remove(os.path.join(dirpath, fn))
                    deleted.append(rel)
        return deleted

    def row_count(self, snapshot_id: int | None = None) -> int | None:
        """Committed row count from parquet FOOTER metadata only (summed
        ``num_rows`` over the snapshot's files — zero data pages read, cost
        O(#files), tiny after compaction). The high-watermark primitive:
        ``repair_store`` compares corpus rows vs signature rows to skip its
        O(corpus) anti-join on the happy path. Returns None for a table with
        no commits; raises nothing — an unreadable footer falls back to a
        Spark count by the caller (never guessed)."""
        if snapshot_id is None:
            snap = self.current_snapshot()
        else:
            snap = next((s for s in self.snapshots() if s.snapshot_id == snapshot_id), None)
        return None if snap is None else self._footer_rows(snap.files)

    def _footer_rows(self, files: list[str]) -> int:
        """Summed footer ``num_rows`` of data files (names relative to data/)."""
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(os.path.join(self.data_dir, rel)).num_rows for rel in files)

    def write_pandas(self, pdf, operation: str = "append", summary: dict | None = None) -> Snapshot:
        """Commit a pandas DataFrame as one data file (generator convenience)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        tgt = f"{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.data_dir, f".tmp-{tgt}")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
        os.replace(tmp, os.path.join(self.data_dir, tgt))
        return self.commit([tgt], operation, summary)
