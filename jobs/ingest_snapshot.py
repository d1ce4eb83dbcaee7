"""spark-submit job: INCREMENTAL corpus ingest — the production loop a
training-data pipeline actually runs (a fresh crawl snapshot lands; it must
be curated against everything already committed, without reprocessing it).

Per batch:

    scan fresh batch → quality gate (token/stopword bounds)
        → within-batch exact dedup (md5 fingerprint, min-id wins)
        → [--eval-set] benchmark decontamination (distinct-gram broadcast)
        → incremental dedup vs the SignatureStore (fingerprint anti-join +
          banded equi-join + stored-signature Jaccard estimate — the
          committed corpus is NEVER re-shingled; operators/incremental.py)
        → atomic commits: survivors append to the corpus table, their
          signatures/bands append to the store, a JSON metrics line emits

    zip -qr engine.zip dsm2dtm_spark
    spark-submit --py-files engine.zip jobs/ingest_snapshot.py \
        --input /path/to/fresh.parquet --corpus /path/to/corpus_table \
        --store /path/to/sigstore [--eval-set /path/to/eval.parquet] \
        [--threshold 0.5] [--ngram 13] [--method md5] [--bucket-cap 20000] \
        [--cores 32]

Store: a SignatureStore (snapshot tables) probed by broadcasting the fresh
batch, so the store streams map-side and no batch costs O(corpus). The
store owns its signing parameters and flood cap: ``--method`` and
``--bucket-cap`` configure a new store (or a first cap) and must match an
existing store's, or the run stops before it starts Spark. A
``--store`` root left by the hive-bucketed layout of older builds (it holds
a ``store.json``) is refused; point ``--store`` at a fresh root and the
run's repair step re-signs the whole corpus into it.

Exactly-once-ish semantics: a batch id (md5 of the resolved input path,
row count, AND two order-independent content digests — bit_xor of
xxhash64(text, doc_id) plus a multiset-sensitive sum(pmod(xxhash64, p))
that survives the xor's even-multiplicity cancellation — so a new
snapshot re-landing at the same path with a coincidentally equal row
count can never collide into a silent
skip) is recorded in the corpus commit summary; re-running the SAME batch
against the same corpus is a no-op (the guard catches it before any
signing, and the skip decision is printed with the colliding id).
MIGRATION NOTE: the id formula changed in r5 (content digest folded in),
so batches recorded under the old path+count formula no longer
short-circuit — a one-time re-run of an old batch re-executes the
pipeline but commits nothing (every row drops as an exact dup; an
'ingest-empty' marker commit records the new id). Both
commits are atomic snapshot-manifest operations, corpus first, store
second. A crash between them leaves rows committed but unsigned — every
run opens with a REPAIR step: a footer-metadata high-watermark check
(corpus rows == signature rows → done, zero scans), falling back to the
corpus-vs-store id anti-join that re-signs exactly the unsigned rows, so
the window self-heals before any new batch is processed (and the batch-id
guard stays a pure no-op check).
"""

from __future__ import annotations

import argparse
import hashlib
import json


from dsm2dtm_spark.operators.incremental import ingest_batch, repair_store  # noqa: E402,F401
# (repair_store is re-exported for tests/test_ingest_job.py; this module
# remains the spark-submit CLI surface)


def main():
    ap = argparse.ArgumentParser(description="Incrementally ingest a fresh document batch")
    ap.add_argument("--input", required=True, help="fresh batch: parquet path or snapshot-table root")
    ap.add_argument("--corpus", required=True, help="committed-corpus snapshot-table root")
    ap.add_argument("--store", required=True, help="SignatureStore root")
    ap.add_argument("--eval-set", default=None, help="optional eval-set parquet for decontamination")
    ap.add_argument("--threshold", type=float, default=0.5, help="estimated-Jaccard near-dup threshold")
    ap.add_argument("--ngram", type=int, default=13, help="decontamination word n-gram size")
    ap.add_argument("--min-tokens", type=int, default=3)
    ap.add_argument("--max-stopword-ratio", type=float, default=0.9)
    ap.add_argument("--method", choices=["xxhash64", "md5"], default=None, help="MinHash method of a new store")
    ap.add_argument("--bucket-cap", type=int, default=None, help="flood cap of the store's hot-bucket census")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    import os

    from dsm2dtm_spark.operators.incremental import SignatureStore
    from dsm2dtm_spark.session import get_spark
    from dsm2dtm_spark.sources import SnapshotTable

    # a conflicting --method/--bucket-cap fails here, before any Spark work
    store = SignatureStore(args.store, method=args.method, bucket_cap=args.bucket_cap)
    spark = get_spark("ingest-snapshot", cores=args.cores)
    if os.path.isdir(os.path.join(args.input, "meta")):
        fresh = SnapshotTable(args.input).read(spark)
    else:
        fresh = spark.read.parquet(args.input)
    eval_docs = spark.read.parquet(args.eval_set) if args.eval_set else None

    # content-folded id (ADVICE r4): path + row count + two order-independent
    # (partitioning-stable) per-row digests. bit_xor alone cancels rows that
    # appear an even number of times ({A,A,B} and {B,C,C} both xor to h(B)
    # at equal n — ADVICE r5), so a multiset-sensitive SUM of the same hash
    # reduced mod a small prime rides alongside: sum stays ANSI-safe
    # (n * 10^6 < 2^63 up to 9*10^12 rows) and duplicate pairs no longer
    # cancel. A collision now needs xor AND modular sum AND count to agree.
    from pyspark.sql import functions as F

    agg = fresh.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(text, doc_id))").alias("xor"),
        F.expr("sum(pmod(xxhash64(text, doc_id), 1000003))").alias("msum"),
    ).collect()[0]
    batch_id = hashlib.md5(
        f"{os.path.abspath(args.input)}:{agg['n']}:{agg['xor']}:{agg['msum']}".encode()
    ).hexdigest()[:16]
    _, counts = ingest_batch(
        spark,
        fresh,
        SnapshotTable(args.corpus),
        store,
        eval_docs=eval_docs,
        threshold=args.threshold,
        ngram=args.ngram,
        min_tokens=args.min_tokens,
        max_stopword_ratio=args.max_stopword_ratio,
        batch_id=batch_id,
    )
    print(json.dumps({"batch_id": batch_id, **counts}))
    spark.stop()


if __name__ == "__main__":
    main()
