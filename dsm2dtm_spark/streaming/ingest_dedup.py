"""Structured-Streaming twin of the incremental-ingest loop: a document
file stream (crawl output landing in an inbox) runs the SAME curation chain
as jobs/ingest_snapshot.py — quality gate → within-batch exact dedup →
optional decontamination → incremental dedup against the SignatureStore —
per micro-batch, committing survivors to the same snapshot corpus table.
Streaming tail-ingest and batch backfill therefore share one table format,
one store, and one dedup semantics; a consumer cannot tell which path a
document took, and a doc that arrived via the stream still dedups a later
BATCH re-crawl of it (and vice versa), because both paths go through the
store.

Exactly-once story (same as streaming/ingest.py): Spark's checkpoint gives
at-least-once foreachBatch delivery; ``ingest_batch``'s batch-id guard
(keyed by ``stream_batch_id``, the checkpoint-scoped epoch id) makes
replayed epochs no-ops, upgrading the sink to exactly-once; the repair step
inside ``ingest_batch`` self-heals a crash between the corpus and store
commits.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from dsm2dtm_spark.operators.incremental import SignatureStore, ingest_batch
from dsm2dtm_spark.sources.manifest import SnapshotTable
from dsm2dtm_spark.streaming.ingest import stream_batch_id

DOC_SCHEMA_DDL = "doc_id long, text string, lang string, source string, n_chars int"


def streaming_doc_ingest(
    spark: SparkSession,
    inbox_dir: str,
    corpus_table: SnapshotTable,
    store: SignatureStore,
    checkpoint_dir: str,
    eval_docs=None,
    schema_ddl: str = DOC_SCHEMA_DDL,
    available_now: bool = True,
    max_files_per_trigger: int = 32,
    **ingest_params,
):
    """Start (and in ``available_now`` mode drain) a streaming incremental
    ingest over a parquet inbox. ``ingest_params`` pass through to
    ``ingest_batch`` (threshold, method, bucket_cap, ngram, …). Returns the
    query handle (already awaited in availableNow mode)."""
    stream = (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(inbox_dir)
    )
    def sink(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ingest_batch(
            batch_df.sparkSession,
            batch_df,
            corpus_table,
            store,
            eval_docs=eval_docs,
            batch_id=stream_batch_id(checkpoint_dir, epoch_id),
            **ingest_params,
        )

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("doc-ingest-dedup")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
