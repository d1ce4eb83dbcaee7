"""Maintenance job (jobs/maintain_tables.py): compaction + snapshot expiry
over snapshot tables, the dedup store and ANN index stores, and the
post-maintenance resume/read invariants."""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

from maintain_tables import run_maintenance  # noqa: E402

from dsm2dtm_spark.operators.incremental import SignatureStore, incremental_dedup  # noqa: E402
from dsm2dtm_spark.sources import SnapshotTable  # noqa: E402


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        pd.DataFrame(
            [(i, f"wholly distinct document {i} about subject {i * 13}") for i in range(lo, hi)],
            columns=["doc_id", "text"],
        )
    )


class TestMaintainJob:
    def test_compacts_and_expires_tables_and_plain_store(self, spark, tmp_path):
        table_root = str(tmp_path / "corpus")
        t = SnapshotTable(table_root)
        for i in range(5):  # five small commits -> file pileup + 5 manifests
            t.write_pandas(pd.DataFrame({"doc_id": [10 * i + j for j in range(3)], "v": [1] * 3}))
        store = SignatureStore(str(tmp_path / "store"), method="md5")
        for i in range(3):
            incremental_dedup(store, _docs(spark, 100 * i, 100 * i + 20))
        rows_before = t.read(spark).count()
        sig_before = store.read_signatures(spark).count()

        report = run_maintenance(
            spark,
            [table_root],
            store_root=str(tmp_path / "store"),
            small_file_mb=32,
            target_file_mb=128,
            expire_keep_last=1,  # only the compaction snapshot survives
        )
        assert report["tables"][table_root]["compacted"] >= 5
        # the pre-compaction snapshots expired, so their files are orphans
        assert report["tables"][table_root]["expired_files"] >= 5
        assert report["store"]["signatures"] >= 3
        # contents identical, history trimmed to the compaction commit
        assert t.read(spark).count() == rows_before
        assert len(t.snapshots()) == 1
        assert store.read_signatures(spark).count() == sig_before

    def test_empty_or_mistyped_store_root_is_a_noop(self, spark, tmp_path):
        """Maintenance on an empty --store path commits nothing and creates
        nothing: the root still opens as an empty store afterwards, and
        neither the pass nor that open leaves a directory behind."""
        root = str(tmp_path / "typo_sigstore")
        report = run_maintenance(spark, [], store_root=root)
        assert report["store"] == {"signatures": 0, "bands": 0, "bucket_stats": 0}
        assert SignatureStore(root).is_empty()
        assert not os.path.exists(root)

    def test_repair_corpus_option_heals_before_compacting(self, spark, tmp_path):
        """--repair-corpus runs the store self-heal (with the store's OWN
        recorded parameters) before compaction: a store restored without
        its band table comes back complete in one maintenance pass."""
        import shutil

        from dsm2dtm_spark.operators.incremental import incremental_dedup
        from dsm2dtm_spark.operators.incremental import ingest_batch as _ib

        corpus = SnapshotTable(str(tmp_path / "corpus"))
        store = SignatureStore(str(tmp_path / "store"), method="md5")
        batch = _docs(spark, 0, 8)
        _ib(spark, batch, corpus, store, batch_id="m1")
        shutil.rmtree(str(tmp_path / "store" / "bands"))  # lost in a bad restore
        report = run_maintenance(
            spark,
            [],
            store_root=str(tmp_path / "store"),
            repair_corpus=str(tmp_path / "corpus"),
        )
        assert report["repaired"] == 8
        assert store.band_row_count() == 8 * 4
        # LSH path works again: a close variant of a healed doc is caught
        fresh = spark.createDataFrame(
            pd.DataFrame(
                [(200, "wholly distinct document 3 about subject 39 x")],
                columns=["doc_id", "text"],
            )
        )
        out = incremental_dedup(store, fresh, threshold=0.5, commit=False)
        assert [r.verdict for r in out.collect()] == ["near"]

    def test_repair_corpus_signs_a_compacted_store_with_its_method(self, spark, tmp_path):
        """A store compaction keeps the recorded method, so a later
        --repair-corpus re-signs the documents a crash left unsigned as md5
        strings, and the store still reads."""
        from dsm2dtm_spark.operators.incremental import ingest_batch

        corpus = SnapshotTable(str(tmp_path / "corpus"))
        root = str(tmp_path / "store")
        gauges = [(100 + i, f"river gauge {i} reported flood stage {i * 7} at dawn") for i in range(5)]
        for i, batch in enumerate([_docs(spark, 0, 5), spark.createDataFrame(gauges, "doc_id long, text string")]):
            ingest_batch(spark, batch, corpus, SignatureStore(root, method="md5"), batch_id=f"m{i}")
        run_maintenance(spark, [], store_root=root)
        assert SignatureStore(root).signatures.current_snapshot().operation == "compact"
        # the crash window: corpus rows whose signatures never committed
        corpus.write_dataframe(_docs(spark, 500, 503), summary={"op": "ingest", "batch_id": "lost"})
        report = run_maintenance(spark, [], store_root=root, repair_corpus=str(tmp_path / "corpus"))
        assert report["repaired"] == 3
        sigs = {r.doc_id: r.signature for r in SignatureStore(root).read_signatures(spark).collect()}
        assert sorted(sigs) == sorted(r.doc_id for r in corpus.read(spark).collect())
        assert all(isinstance(c, str) and len(c) == 32 for i in (500, 501, 502) for c in sigs[i])

    def test_ann_store_compacts_and_expires(self, spark, tmp_path):
        """--ann-store folds per-append posting-file pileup inside each
        inverted-list partition directory and expires old snapshots —
        query results identical before and after, and a mistyped root is
        a no-op (same contract as the dedup stores)."""
        import numpy as np

        from dsm2dtm_spark.operators.annstore import AnnIndexStore

        root = str(tmp_path / "annidx")
        rng = np.random.default_rng(5)
        vecs = rng.normal(size=(60, 8)).astype(np.float32)
        df = spark.createDataFrame(
            pd.DataFrame({"vec_id": range(60), "embedding": [v.tolist() for v in vecs]})
        )
        store = AnnIndexStore.create(root, kind="ivf", n_centroids=4)
        store.append(df.filter("vec_id < 30"))
        store.append(df.filter("vec_id >= 30"))
        queries = df.filter("vec_id < 3").selectExpr("vec_id AS query_id", "embedding")
        before = sorted(
            map(tuple, store.topk(spark, queries, k=3, nprobe=4).collect())
        )

        report = run_maintenance(spark, [], ann_stores=[root], expire_keep_last=1)
        r = report["ann_stores"][root]
        assert r["postings"] >= 2  # two appends' files folded
        assert r["expired"]["postings"] >= 1
        assert len(store.postings.snapshots()) == 1
        after = sorted(map(tuple, store.topk(spark, queries, k=3, nprobe=4).collect()))
        assert after == before

        # mistyped root: no-op, nothing scaffolded that would brick the path
        typo = str(tmp_path / "typo_ann")
        report = run_maintenance(spark, [], ann_stores=[typo])
        assert report["ann_stores"][typo] == {"postings": 0}
        assert not os.path.exists(os.path.join(typo, "index.json"))

    def test_expiry_disabled_keeps_history(self, spark, tmp_path):
        table_root = str(tmp_path / "t")
        t = SnapshotTable(table_root)
        for i in range(3):
            t.write_pandas(pd.DataFrame({"doc_id": [i], "v": [i]}))
        report = run_maintenance(spark, [table_root], expire_keep_last=0)
        assert report["tables"][table_root]["expired_files"] == 0
        assert len(t.snapshots()) == 4  # 3 commits + the compaction commit
