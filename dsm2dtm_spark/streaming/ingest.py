"""Structured-Streaming incremental ingest for the DTM pipeline.

The reference is strictly batch (SURVEY.md E16) and the engine's primary
resume story is the snapshot anti-join (plans.dtm_job.resume_remaining). This
module adds the continuous-arrival variant: a parquet file stream over an
inbox directory, the same whole-image transform per micro-batch, and a
``foreachBatch`` sink that commits each micro-batch as one snapshot in the
Iceberg-style output table — so streaming and batch ingestion produce the
same table format, lineage included, and a consumer cannot tell which path a
row took.

Exactly-once story: Spark's checkpoint gives at-least-once foreachBatch
delivery; the snapshot commit records the batch id (``stream_batch_id``:
the epoch id scoped to the checkpoint) and skips batches it has already
committed (idempotent replay), upgrading the sink to exactly-once.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from dsm2dtm_spark.plans.dtm_job import dtm_transform
from dsm2dtm_spark.sources.manifest import SnapshotTable

IMAGE_SCHEMA_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, "
    "phash long, lon0 double, lat0 double, xres_m double, yres_m double, crs int"
)


def stream_batch_id(checkpoint_dir: str, epoch_id: int) -> str:
    """The replay key every foreachBatch sink here commits: epoch ids restart
    at 0 per CHECKPOINT, so a bare epoch id from a second stream (new
    checkpoint, same table) would collide with the first stream's and its
    first batches would be silently skipped as already committed."""
    import hashlib

    return f"{hashlib.md5(checkpoint_dir.encode()).hexdigest()[:10]}-epoch-{epoch_id}"


def _committed(table: SnapshotTable, batch_id: str) -> bool:
    return batch_id in {s.summary.get("stream_batch_id") for s in table.snapshots()}


def streaming_dtm_ingest(
    spark: SparkSession,
    inbox_dir: str,
    output_table: SnapshotTable,
    checkpoint_dir: str,
    radius_m: float = 40.0,
    available_now: bool = True,
    max_files_per_trigger: int = 32,
):
    """Start (and by default drain) a file-stream DTM ingest.

    ``available_now=True`` processes everything currently in the inbox and
    stops — the batch-test / backfill mode. With ``False`` the query keeps
    watching the inbox (production tail-ingest); the returned query handle
    lets the caller await/stop it.
    """
    stream = (
        spark.readStream.schema(IMAGE_SCHEMA_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(inbox_dir)
    )

    def sink(batch_df, epoch_id: int):
        batch_id = stream_batch_id(checkpoint_dir, epoch_id)
        if _committed(output_table, batch_id):
            return  # replayed micro-batch after a crash: already committed
        result = dtm_transform(batch_df, radius_m=radius_m)
        output_table.write_dataframe(result, summary={"stream_batch_id": batch_id, "op": "stream-dtm"})

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def streaming_overview_ingest(
    spark: SparkSession,
    inbox_dir: str,
    output_table: SnapshotTable,
    checkpoint_dir: str,
    levels: int = 3,
    available_now: bool = True,
    max_files_per_trigger: int = 32,
):
    """Continuous overview-pyramid maintenance: as image files land in the
    inbox, each micro-batch's pyramid commits as ONE level-partitioned
    snapshot, with the same batch-id replay guard as the DTM ingest
    (at-least-once foreachBatch + idempotent commit = exactly-once). The
    pyramid table thus has the same dual batch/stream ingestion story as
    the DTM table — `jobs/build_overviews.py` for backfill, this for tail
    ingest, one table format for consumers: each commit includes the same
    level-0 marker rows the batch job writes (so backfill's resume
    anti-join skips streamed images instead of duplicating their cells),
    and a levels mismatch against the table's committed markers fails
    fast. Default ``levels`` matches the batch job's."""
    from dsm2dtm_spark.operators.terrain import (
        build_overviews,
        ensure_pyramid_levels,
        overview_markers,
    )

    ensure_pyramid_levels(output_table, spark, levels)
    stream = (
        spark.readStream.schema(IMAGE_SCHEMA_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(inbox_dir)
    )

    def sink(batch_df, epoch_id: int):
        batch_id = stream_batch_id(checkpoint_dir, epoch_id)
        if _committed(output_table, batch_id):
            return  # replayed micro-batch after a crash: already committed
        output_table.write_dataframe(
            build_overviews(batch_df, levels=levels).unionByName(
                overview_markers(batch_df, levels)
            ),
            partition_by=["level"],
            summary={"stream_batch_id": batch_id, "op": "stream-overviews", "levels": levels},
        )

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
