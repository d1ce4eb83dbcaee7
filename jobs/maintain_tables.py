"""spark-submit job: table + dedup-store MAINTENANCE — the periodic
compaction/expiry pass every long-lived ingest loop needs.

A year of daily `ingest_snapshot` batches leaves each snapshot table with
hundreds of small files (every commit appends a few) and as many snapshot
manifests; scan time degrades into footer-listing, and the dedup store's
band table loses the clustering that makes its footers prunable. This job
folds all of it in one sequential pass:

    zip -qr engine.zip dsm2dtm_spark
    spark-submit --py-files engine.zip jobs/maintain_tables.py \
        [--table /path/to/snapshot_table]... [--sort-by cell_id] \
        [--store /path/to/sigstore [--repair-corpus /path/to/corpus_table]] \
        [--ann-store /path/to/annindex]... \
        [--small-file-mb 32] [--target-file-mb 128] \
        [--expire-keep-last 3] [--cores 32]

- each `--table` (repeatable): `SnapshotTable.compact` (small files fold
  into ~target-sized ones as ONE atomic snapshot; `--sort-by` range-
  clusters rows during the rewrite so the new parquet footers' min/max
  make `read(where=...)` file skipping sharp), then
  `expire_snapshots(keep_last)` — old manifests drop and unreferenced
  data files (crashed-write orphans included) are deleted;
- `--store`: `SignatureStore.compact()` folds the store's sub-tables
  (bands clustered by bucket for sharp footer min/max) and rolls up the
  hot-bucket census, and the compaction commit keeps the store's recorded
  signing parameters; an empty or mistyped root commits and creates
  nothing, and a root left by the hive-bucketed layout of older builds is
  refused before anything is touched. `--repair-corpus` additionally runs
  the store self-heal against that corpus table BEFORE compacting (footer
  watermarks; re-signs/re-bands only what a crashed ingest actually lost)
  with the store's own signing parameters — useful after restoring a store
  from backup, when the next scheduled ingest is far away.
- each `--ann-store` (repeatable): `AnnIndexStore.compact()` — per-append
  posting files fold within their inverted-list partition directories
  (layout and pruning untouched), then old snapshots expire.

Safe to run between ingests (single-writer discipline, same as the ingest
job itself); every compaction is an atomic commit, so a crash mid-pass
leaves every table readable at its previous snapshot. Emits one JSON line
of per-target counts for the operator's logs.
"""

from __future__ import annotations

import argparse
import json


def run_maintenance(
    spark,
    tables: list[str],
    store_root: str | None = None,
    small_file_mb: int = 32,
    target_file_mb: int = 128,
    expire_keep_last: int = 3,
    sort_by: str | None = None,
    repair_corpus: str | None = None,
    ann_stores: list[str] | None = None,
) -> dict:
    """Compact each snapshot table (then expire old snapshots) and the
    dedup store, sequentially. Returns the per-target count report the CLI
    prints. ``expire_keep_last=0`` disables expiry — keep > 1 normally so
    readers pinned to the pre-compaction snapshot keep working."""
    from dsm2dtm_spark.operators.incremental import SignatureStore
    from dsm2dtm_spark.sources import SnapshotTable

    report: dict = {"tables": {}, "store": None}
    for root in tables:
        t = SnapshotTable(root)
        snap = t.compact(
            spark,
            small_file_bytes=small_file_mb << 20,
            target_file_bytes=target_file_mb << 20,
            sort_by=[sort_by] if sort_by else None,
        )
        expired = t.expire_snapshots(expire_keep_last) if expire_keep_last else []
        report["tables"][root] = {
            "compacted": (snap.summary.get("compacted", 0) if snap else 0),
            "expired_files": len(expired),
        }
    if store_root:
        store = SignatureStore(store_root)
        if repair_corpus:
            from dsm2dtm_spark.operators.incremental import repair_store

            report["repaired"] = repair_store(spark, SnapshotTable(repair_corpus), store)
        report["store"] = store.compact(
            spark,
            small_file_bytes=small_file_mb << 20,
            target_file_bytes=target_file_mb << 20,
        )
    if ann_stores:
        from dsm2dtm_spark.operators.annstore import AnnIndexStore

        report["ann_stores"] = {}
        for root in ann_stores:
            ann = AnnIndexStore(root)
            if not ann.exists():
                # mistyped path: a maintenance pass must be a no-op, same
                # contract as the dedup stores
                report["ann_stores"][root] = {"postings": 0}
                continue
            r = ann.compact(
                spark,
                small_file_bytes=small_file_mb << 20,
                target_file_bytes=target_file_mb << 20,
            )
            if expire_keep_last:
                r["expired"] = ann.expire(expire_keep_last)
            report["ann_stores"][root] = r
    return report


def main():
    ap = argparse.ArgumentParser(description="Compact + expire snapshot tables and dedup stores")
    ap.add_argument(
        "--table", action="append", default=[], help="snapshot-table root (repeatable)"
    )
    ap.add_argument("--store", default=None, help="SignatureStore root")
    ap.add_argument(
        "--repair-corpus",
        default=None,
        help="corpus snapshot-table root: run the store self-heal (with the store's "
        "recorded signing parameters) against it before compacting",
    )
    ap.add_argument(
        "--ann-store",
        action="append",
        default=[],
        help="AnnIndexStore root (repeatable): fold per-append posting-file "
        "pileup per inverted-list directory and expire old snapshots",
    )
    ap.add_argument(
        "--sort-by", default=None, help="range-cluster table rows by this column during compaction"
    )
    ap.add_argument("--small-file-mb", type=int, default=32)
    ap.add_argument("--target-file-mb", type=int, default=128)
    ap.add_argument(
        "--expire-keep-last",
        type=int,
        default=3,
        help="snapshots to keep per table after compaction (0 disables expiry)",
    )
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()
    if not args.table and not args.store and not args.ann_store:
        ap.error("nothing to do: pass --table, --store and/or --ann-store")

    from dsm2dtm_spark.session import get_spark

    spark = get_spark("maintain-tables", cores=args.cores)
    report = run_maintenance(
        spark,
        args.table,
        store_root=args.store,
        small_file_mb=args.small_file_mb,
        target_file_mb=args.target_file_mb,
        expire_keep_last=args.expire_keep_last,
        sort_by=args.sort_by,
        repair_corpus=args.repair_corpus,
        ann_stores=args.ann_store,
    )
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
