"""Small shared DataFrame utilities."""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

# input columns a quarantined row carries through (where the output has them)
_PASSTHROUGH = ("image_id", "w", "h", "fmt", "caption")


def ensure_min_partitions(df: DataFrame, min_partitions: int | None = None, mult: int = 2) -> DataFrame:
    """Repartition an encoded-image input UP when the scan yields fewer than
    ``min_partitions`` (default ``mult × defaultParallelism``) partitions.

    Pixel compute is orders of magnitude heavier per byte than the scan, so a
    low-partition input (one fat parquet file; big rows packing few per input
    split) would serialize the whole job behind a handful of tasks — the byte
    shuffle is cheap insurance against idle executors. Shared by the
    whole-image plan, the tiled plan, and the terrain operators so the guard
    evolves in one place. ``mult`` trades balance against per-task cost:
    every task pays a fixed set-up (executor deserialize, Python-boundary
    set-up, one output file), so the whole-image plan asks for one task
    per core (``mult=1``).
    """
    if min_partitions is None:
        min_partitions = mult * df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_partitions:
        df = df.repartition(min_partitions)
    return df


def map_rows(
    df: DataFrame,
    fn: Callable[[tuple], dict | list[dict] | pd.DataFrame | None],
    schema: StructType | str,
    permissive: bool = False,
) -> DataFrame:
    """The engine's one per-row Python boundary: ``fn(row)`` runs on every
    ``itertuples`` row of ``df`` inside a single ``mapInPandas`` stage and
    returns that row's output — a record dict, a list of records, a
    ``pd.DataFrame`` chunk (vectorized producers), or ``None`` (no output).

    The helper owns, once for every per-row operator:

    - batching: one output frame per Arrow batch, records laid out in
      ``schema`` column order, so an empty batch still carries every column.
      A column holding a null stays ``object`` dtype, so int64 values keep
      all 64 bits instead of round-tripping through float64;
    - lineage: ``wall_ms`` (the ``fn(row)`` call's time) and ``partition_id``
      (the task's partition) are filled on every record exactly when the
      schema has those fields;
    - quarantine: with ``permissive=True`` an exception in ``fn`` yields one
      row that passes through ``image_id``/``w``/``h``/``fmt``/``caption``
      where the schema has them, sets ``error`` to ``"Type: msg"`` (first 500
      characters) and nulls every other column, lineage excepted. Without
      it the exception fails the task. The schema of a permissive map must
      have an ``error`` field; clean records leave it null.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()
    if permissive and "error" not in names:
        raise ValueError("a permissive map_rows needs an 'error' field in its schema")
    timed, tagged = "wall_ms" in names, "partition_id" in names
    keep = [c for c in _PASSTHROUGH if c in names]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        for pdf in batches:
            recs, chunks = [], []
            for row in pdf.itertuples(index=False):
                t0 = time.perf_counter()
                try:
                    got = fn(row)
                except Exception as exc:  # noqa: BLE001 — quarantined, not swallowed
                    if not permissive:
                        raise
                    got = {c: getattr(row, c, None) for c in keep}
                    got["error"] = f"{type(exc).__name__}: {exc}"[:500]
                if got is None:
                    continue
                if isinstance(got, pd.DataFrame):
                    chunks.append(got)
                    continue
                got = [got] if isinstance(got, dict) else got
                if timed or tagged:
                    ms = (time.perf_counter() - t0) * 1000.0
                    for rec in got:
                        if timed:
                            rec["wall_ms"] = ms
                        if tagged:
                            rec["partition_id"] = pid
                recs.extend(got)
            if recs or not chunks:
                chunks.append(_records_frame(recs, names))
            yield chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)

    return df.mapInPandas(run, schema)


def _records_frame(recs: list[dict], names: list[str]) -> pd.DataFrame:
    cols = {}
    for name in names:
        vals = [rec.get(name) for rec in recs]
        cols[name] = pd.Series(vals, dtype=object) if any(v is None for v in vals) else vals
    return pd.DataFrame(cols, columns=names)
