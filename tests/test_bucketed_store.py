"""BucketedSignatureStore (VERDICT r4 #4): the dedup store's sub-tables as
hive bucketed+sorted managed tables — signatures by fingerprint, bands by
(band, bucket) — so the per-batch joins read the stored side with ZERO
Exchange even when the fresh batch is too big to broadcast
(dedup_against(broadcast_fresh=False))."""

from __future__ import annotations

from contextlib import contextmanager

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dsm2dtm_spark.operators.incremental import (
    BucketedSignatureStore,
    SignatureStore,
    dedup_against,
    incremental_dedup,
    sign_documents,
)

CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog in the morning sun"),
    (1, "pack my box with five dozen liquor jugs before the long journey"),
    (2, "sphinx of black quartz judge my vow said the tired old archivist"),
    (3, "a completely different document about distributed query engines"),
]
FRESH = [
    (100, "the quick brown fox jumps over the lazy dog in the morning sun"),  # exact dup of 0
    (101, "pack my box with five dozen liquor jugs before the long journeys"),  # near dup of 1
    (102, "totally novel content discussing alpine meadows and glacier melt"),
    (103, "another unrelated text on sparse matrix factorization methods"),
]


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


@contextmanager
def _no_auto_broadcast(spark):
    """Force SMJ so the bucketed-vs-shuffled asymmetry is visible in plans
    (tiny test frames would otherwise all turn into broadcast joins)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


class TestBucketedStore:
    def test_lifecycle_matches_plain_store(self, spark, tmp_path):
        plain = SignatureStore(str(tmp_path / "plain"))
        bucketed = BucketedSignatureStore(str(tmp_path / "bucketed"), n_buckets=4)
        for store, bf in ((plain, True), (bucketed, False)):
            boot = incremental_dedup(store, _df(spark, CORPUS), method="md5", broadcast_fresh=bf)
            assert {r.verdict for r in boot.collect()} == {"keep"}
        got_plain = {
            r.doc_id: r.verdict
            for r in incremental_dedup(plain, _df(spark, FRESH), method="md5").collect()
        }
        got_bucketed = {
            r.doc_id: r.verdict
            for r in incremental_dedup(
                bucketed, _df(spark, FRESH), method="md5", broadcast_fresh=False
            ).collect()
        }
        assert got_bucketed == got_plain == {100: "exact", 101: "near", 102: "keep", 103: "keep"}
        # the store grew identically (kept rows only), and the watermark tracks it
        assert bucketed.read_signatures(spark).count() == 6
        assert bucketed.signature_row_count() == 6
        assert bucketed.read_bands(spark).count() == 6 * 4
        assert bucketed.params() == plain.params()

    def test_stored_side_joins_read_without_exchange(self, spark, tmp_path):
        store = BucketedSignatureStore(str(tmp_path / "planstore"), n_buckets=4)
        store.append(
            sign_documents(_df(spark, CORPUS), method="md5"),
            summary={"sig_params": {"n_hashes": 16, "bands": 4, "shingle_n": 3, "method": "md5"}},
        )
        fresh_fp = _df(spark, FRESH).select("doc_id", F.md5("text").alias("fingerprint"))
        with _no_auto_broadcast(spark):
            jp = store.read_signatures(spark).join(fresh_fp, on="fingerprint")
            plan = jp._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan
            # exactly ONE shuffle — the fresh side; the store reads its buckets
            assert plan.count("Exchange hashpartitioning") == 1
            assert "SortMergeJoin" in plan

            # synthetic non-bucketed fresh band rows (same schema/types)
            rows = store.read_bands(spark).select("band", "bucket").collect()[:4]
            fresh_bands = spark.createDataFrame(
                pd.DataFrame([(r.band, r.bucket) for r in rows], columns=["band", "bucket"]),
                schema=store.read_bands(spark).select("band", "bucket").schema,
            )
            jb = store.read_bands(spark).join(fresh_bands, on=["band", "bucket"])
            bplan = jb._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in bplan
            # exactly ONE shuffle — the synthetic fresh side
            assert bplan.count("Exchange hashpartitioning") == 1

    def test_full_dedup_against_bucketed_store_no_store_shuffle(self, spark, tmp_path):
        store = BucketedSignatureStore(str(tmp_path / "fullplan"), n_buckets=4)
        incremental_dedup(store, _df(spark, CORPUS), method="md5", broadcast_fresh=False)
        with _no_auto_broadcast(spark):
            decisions, _ = dedup_against(
                _df(spark, FRESH),
                store.read_signatures(spark),
                store.read_bands(spark),
                method="md5",
                broadcast_fresh=False,
                materialize_fresh=False,
            )
            plan = decisions._jdf.queryExecution().executedPlan().toString()
            # every stored-side scan is bucketed; Exchanges exist only on
            # fresh-derived subtrees (signing aggregates etc.) — no stored
            # FileScan sits directly under an Exchange
            assert plan.count("Bucketed: true") >= 2
            got = {r.doc_id: r.verdict for r in decisions.collect()}
            assert got == {100: "exact", 101: "near", 102: "keep", 103: "keep"}

    def test_compact_folds_to_one_file_per_bucket(self, spark, tmp_path):
        store = BucketedSignatureStore(str(tmp_path / "cmp"), n_buckets=4)
        sp = {"n_hashes": 16, "bands": 4, "shingle_n": 3, "method": "md5"}
        for i in range(5):  # five appends, every bucket touched each time
            batch = [
                (100 * i + j, f"wholly distinct document {i}-{j} about topic {i * 31 + j}")
                for j in range(10)
            ]
            store.append(sign_documents(_df(spark, batch), method="md5"), summary={"sig_params": sp})
        import os

        def _files(table):
            loc = (
                spark.sql(f"DESCRIBE FORMATTED {table}")
                .filter("col_name = 'Location'")
                .collect()[0]
                .data_type.replace("file:", "")
            )
            return [f for f in os.listdir(loc) if f.endswith(".parquet")]

        before = store.read_signatures(spark).count()
        n_files_before = len(_files(store.sig_table))
        assert n_files_before > 4  # append pileup: more files than buckets
        res = store.compact(spark)
        assert res["signatures"] == 1 and res["bands"] == 1
        assert store.read_signatures(spark).count() == before
        assert store.signature_row_count() == before  # manifest untouched by rewrite
        # folded to ~one file per bucket — strictly fewer than the pileup
        assert len(_files(store.sig_table)) < n_files_before
        with _no_auto_broadcast(spark):
            jp = store.read_signatures(spark).join(
                _df(spark, FRESH).select(F.md5("text").alias("fingerprint")), on="fingerprint"
            )
            assert "Bucketed: true" in jp._jdf.queryExecution().executedPlan().toString()

    def test_census_and_cap_guard(self, spark, tmp_path):
        flood = [(i, f"standard legal boilerplate footer text {i % 2}") for i in range(50)]
        store = BucketedSignatureStore(str(tmp_path / "census"), bucket_cap=3, n_buckets=4)
        incremental_dedup(store, _df(spark, flood), method="md5", bucket_cap=3, broadcast_fresh=False)
        census = {
            (r.band, r.bucket)
            for r in store.read_bands(spark)
            .groupBy("band", "bucket")
            .count()
            .filter("count > 3")
            .select("band", "bucket")
            .collect()
        }
        hot = {(r.band, r.bucket) for r in store.hot_buckets(spark, 3).collect()}
        assert hot and hot == census
        with pytest.raises(ValueError, match="hot-bucket census"):
            BucketedSignatureStore(str(tmp_path / "census"), bucket_cap=9)

    def test_first_cap_enable_backfills_census(self, spark, tmp_path):
        """Same first-enable hole as the plain store (ADVICE r5, line 407):
        a bucketed store that committed band rows capless must seed its
        census from the stored band table when the cap first arrives."""
        flood = [(i, f"standard legal boilerplate footer text {i % 2}") for i in range(50)]
        root = str(tmp_path / "late_cap_b")
        store0 = BucketedSignatureStore(root, n_buckets=4)
        incremental_dedup(store0, _df(spark, flood), method="md5", broadcast_fresh=False)
        assert store0.bucket_stats.current_snapshot() is None
        store = BucketedSignatureStore(root, bucket_cap=3)
        hot = {(r.band, r.bucket) for r in store.hot_buckets(spark, 3).collect()}
        census = {
            (r.band, r.bucket)
            for r in store.read_bands(spark)
            .groupBy("band", "bucket").count().filter("count > 3")
            .select("band", "bucket").collect()
        }
        assert hot and hot == census

    def test_reregisters_from_manifest_in_fresh_catalog(self, spark, tmp_path):
        """The in-memory catalog dies with the spark-submit session; the
        store manifest must recreate the EXTERNAL bucketed tables — with the
        bucketed-read property intact — on first touch in a new session.
        Simulated by dropping the catalog entries (data is external, so the
        files survive the DROP exactly as they survive a session exit)."""
        store = BucketedSignatureStore(str(tmp_path / "xsession"), n_buckets=4)
        incremental_dedup(store, _df(spark, CORPUS), method="md5", broadcast_fresh=False)
        spark.sql(f"DROP TABLE {store.sig_table}")
        spark.sql(f"DROP TABLE {store.bands_table}")
        reopened = BucketedSignatureStore(str(tmp_path / "xsession"))
        assert reopened.n_buckets == 4  # layout restored from manifest
        assert reopened.read_signatures(spark).count() == 4
        assert reopened.read_bands(spark).count() == 16
        with _no_auto_broadcast(spark):
            jp = reopened.read_signatures(spark).join(
                _df(spark, FRESH).select(F.md5("text").alias("fingerprint")), on="fingerprint"
            )
            plan = jp._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan
            assert plan.count("Exchange hashpartitioning") == 1
        got = {
            r.doc_id: r.verdict
            for r in incremental_dedup(
                reopened, _df(spark, FRESH), method="md5", broadcast_fresh=False
            ).collect()
        }
        assert got == {100: "exact", 101: "near", 102: "keep", 103: "keep"}

    def test_compact_survives_catalog_loss(self, spark, tmp_path):
        """Compact bumps the versioned location; a later session must
        re-register at the NEW location and the old directory is gone."""
        import os

        store = BucketedSignatureStore(str(tmp_path / "cmpx"), n_buckets=4)
        sp = {"n_hashes": 16, "bands": 4, "shingle_n": 3, "method": "md5"}
        for i in range(2):
            batch = [(10 * i + j, f"distinct doc {i}-{j} topic {i * 7 + j}") for j in range(5)]
            store.append(sign_documents(_df(spark, batch), method="md5"), summary={"sig_params": sp})
        store.compact(spark)
        assert not os.path.exists(store._location("signatures", 0))
        assert os.path.exists(store._location("signatures", 1))
        spark.sql(f"DROP TABLE {store.sig_table}")
        spark.sql(f"DROP TABLE {store.bands_table}")
        reopened = BucketedSignatureStore(str(tmp_path / "cmpx"))
        assert reopened.read_signatures(spark).count() == 10
        with _no_auto_broadcast(spark):
            jp = reopened.read_signatures(spark).join(
                _df(spark, FRESH).select(F.md5("text").alias("fingerprint")), on="fingerprint"
            )
            assert "Bucketed: true" in jp._jdf.queryExecution().executedPlan().toString()

    def test_default_join_strategy_resolves_from_store_layout(self, spark, tmp_path, monkeypatch):
        """broadcast_fresh=None (the default everywhere above dedup_against)
        must resolve to the layout's strategy — probes for the plain store,
        shuffle for the bucketed one — in BOTH wrappers; dedup_against
        itself rejects None (it has no store to resolve from)."""
        import dsm2dtm_spark.operators.incremental as inc
        from dsm2dtm_spark.operators.incremental import ingest_batch
        from dsm2dtm_spark.sources.manifest import SnapshotTable

        captured = {}
        real = inc.dedup_against

        def spy(*a, **k):
            captured["bf"] = k.get("broadcast_fresh")
            return real(*a, **k)

        monkeypatch.setattr(inc, "dedup_against", spy)
        plain = SignatureStore(str(tmp_path / "p"))
        incremental_dedup(plain, _df(spark, CORPUS), method="md5")
        incremental_dedup(plain, _df(spark, FRESH), method="md5")
        assert captured.pop("bf") is True
        bucketed = BucketedSignatureStore(str(tmp_path / "b"), n_buckets=4)
        incremental_dedup(bucketed, _df(spark, CORPUS), method="md5")
        incremental_dedup(bucketed, _df(spark, FRESH), method="md5")
        assert captured.pop("bf") is False
        # the production wrapper (jobs/ingest_snapshot.py passes nothing)
        ingest_batch(
            spark,
            _df(spark, [(500, "some new ingest-path doc about canals")]),
            SnapshotTable(str(tmp_path / "c1")),
            plain,
            method="md5",
            batch_id="x1",
        )
        assert captured.pop("bf") is True
        ingest_batch(
            spark,
            _df(spark, [(501, "another new ingest-path doc about weirs")]),
            SnapshotTable(str(tmp_path / "c2")),
            bucketed,
            method="md5",
            batch_id="x2",
        )
        assert captured.pop("bf") is False
        with pytest.raises(TypeError, match="explicit broadcast_fresh"):
            real(
                _df(spark, FRESH),
                plain.read_signatures(spark),
                plain.read_bands(spark),
                method="md5",
                broadcast_fresh=None,
            )

    def test_reads_see_appends_from_a_cloned_session(self, spark, tmp_path):
        """An append through ANOTHER SparkSession sharing the catalog
        refreshes only that session's file-index cache. This session's
        reads must still see the new bucket files — the
        stale-InMemoryFileIndex wrong-results bug (r5): the store read
        silently missed every row committed through the other session."""
        store = BucketedSignatureStore(str(tmp_path / "xclone"), n_buckets=4)
        sp = {"sig_params": {"n_hashes": 16, "bands": 4, "shingle_n": 3, "method": "md5"}}
        store.append(sign_documents(_df(spark, CORPUS[:2]), method="md5"), summary=sp)
        # cache THIS session's file listing for the table
        assert store.read_signatures(spark).count() == 2
        # append through a clone
        clone = spark.newSession()
        store.append(sign_documents(_df(clone, CORPUS[2:]), method="md5"), summary=sp)
        # this session must see all 4 rows, and join against them
        assert store.read_signatures(spark).count() == 4
        probe = _df(spark, [(900, CORPUS[2][1])]).select(F.md5("text").alias("fingerprint"))
        hits = (
            store.read_signatures(spark)
            .select("fingerprint")
            .distinct()
            .join(probe, on="fingerprint", how="left_semi")
            .count()
        )
        assert hits == 1

    def test_reads_survive_compact_from_a_cloned_session(self, spark, tmp_path):
        """A compact in another session bumps the versioned location and
        deletes the old directory; this session's catalog entry (pointing
        at the dead path) must be re-registered from the manifest, not just
        cache-refreshed."""
        store = BucketedSignatureStore(str(tmp_path / "xcompact"), n_buckets=4)
        sp = {"sig_params": {"n_hashes": 16, "bands": 4, "shingle_n": 3, "method": "md5"}}
        for half in (CORPUS[:2], CORPUS[2:]):
            store.append(sign_documents(_df(spark, half), method="md5"), summary=sp)
        assert store.read_signatures(spark).count() == 4  # register + cache here
        clone_store = BucketedSignatureStore(str(tmp_path / "xcompact"))
        clone_store.compact(spark.newSession())  # v0 dir is now deleted
        assert store.read_signatures(spark).count() == 4
        got = {
            r.doc_id: r.verdict
            for r in incremental_dedup(
                store, _df(spark, FRESH), method="md5", broadcast_fresh=False
            ).collect()
        }
        assert got == {100: "exact", 101: "near", 102: "keep", 103: "keep"}

    def test_layout_mismatch_fails_fast(self, spark, tmp_path):
        """Reopening a store with the OTHER class must raise, not silently
        re-bootstrap over the committed state (jobs: the --bucketed-store
        flag is fixed at creation)."""
        plain_root = str(tmp_path / "plainroot")
        incremental_dedup(SignatureStore(plain_root), _df(spark, CORPUS), method="md5")
        with pytest.raises(ValueError, match="plain SignatureStore"):
            BucketedSignatureStore(plain_root)
        bucket_root = str(tmp_path / "bucketroot")
        incremental_dedup(
            BucketedSignatureStore(bucket_root, n_buckets=4),
            _df(spark, CORPUS),
            method="md5",
            broadcast_fresh=False,
        )
        with pytest.raises(ValueError, match="BucketedSignatureStore"):
            SignatureStore(bucket_root)

    def test_repair_heals_stale_watermark(self, spark, tmp_path):
        """Crash window: tables appended but the manifest write was lost —
        the row watermark is stale-low. The repair anti-join finds nothing
        missing and must then SYNC the watermark, or every future ingest
        re-runs the O(corpus) anti-join forever (r5 review finding)."""
        import json

        from dsm2dtm_spark.operators.incremental import ingest_batch, repair_store
        from dsm2dtm_spark.sources.manifest import SnapshotTable

        corpus = SnapshotTable(str(tmp_path / "corpus"))
        store = BucketedSignatureStore(str(tmp_path / "store"), n_buckets=4)
        batch = _df(spark, [(i, f"doc {i} about dams and spillways number {i}") for i in range(6)])
        ingest_batch(spark, batch, corpus, store, batch_id="b1")
        # simulate the lost manifest write: rows stale-low by 2
        meta = json.load(open(store._meta_path()))
        meta["rows"] -= 2
        json.dump(meta, open(store._meta_path(), "w"))
        assert repair_store(spark, corpus, store) == 0  # nothing truly missing
        assert store.signature_row_count() == 6  # watermark healed
        # and the NEXT repair is the zero-job happy path again
        sc = spark.sparkContext
        sc.setJobGroup("repair-after-heal", "happy path")
        assert repair_store(spark, corpus, store) == 0
        ids = sc.statusTracker().getJobIdsForGroup("repair-after-heal")
        sc.setJobGroup(None, None)
        assert list(ids) == []

    def test_manifest_size_is_flat_across_appends(self, spark, tmp_path):
        """store.json is re-parsed on every read and append: it must hold
        layout state only, not a log that grows by one entry per append. A
        manifest that still carries the old per-append log opens, and the
        next append drops the log."""
        import json
        import os

        root = str(tmp_path / "flat")
        store = BucketedSignatureStore(root, n_buckets=4)
        sp = {"sig_params": {"n_hashes": 16, "bands": 4, "shingle_n": 3, "method": "md5"}}
        sizes = []
        for i in range(3):  # 10, 20, 30 rows: the watermark keeps its width
            if i == 2:
                meta = store._meta()
                meta["summaries"] = [{"op": "ingest", **sp}] * 2
                json.dump(meta, open(store._meta_path(), "w"))
                store = BucketedSignatureStore(root)
                assert store.read_signatures(spark).count() == 20
            batch = [(10 * i + j, f"distinct doc {i}-{j} about weir number {i * 7 + j}") for j in range(10)]
            store.append(sign_documents(_df(spark, batch), method="md5"), summary={"op": "ingest", **sp})
            sizes.append(os.path.getsize(store._meta_path()))
        assert store.signature_row_count() == 30
        assert "summaries" not in store._meta()
        assert sizes[0] == sizes[1] == sizes[2]

    def test_repair_creates_missing_band_table_under_store_root(self, spark, tmp_path):
        """Crash window of the very first append: signatures committed, the
        bands table never created. The bands-only repair must create the
        EXTERNAL bucketed table under the store root and record it in the
        manifest, like an append does — not a managed table elsewhere that
        the manifest never names (its band rows would be invisible to the
        watermark and lost with the session catalog)."""
        import json
        import os
        import shutil

        from dsm2dtm_spark.operators.incremental import ingest_batch, repair_store
        from dsm2dtm_spark.sources.manifest import SnapshotTable

        corpus = SnapshotTable(str(tmp_path / "corpus"))
        store = BucketedSignatureStore(str(tmp_path / "store"), n_buckets=4)
        batch = _df(spark, [(i, f"doc {i} about locks and sluice gates number {i}") for i in range(5)])
        ingest_batch(spark, batch, corpus, store, batch_id="b1")
        meta = store._meta()
        del meta["tables"]["bands"]
        json.dump(meta, open(store._meta_path(), "w"))
        spark.sql(f"DROP TABLE {store.bands_table}")
        shutil.rmtree(store._location("bands", 0))
        assert repair_store(spark, corpus, store) == 5
        assert os.path.isdir(store._location("bands", 0))
        assert store.band_row_count() == 5 * 4
        spark.sql(f"DROP TABLE {store.sig_table}")
        spark.sql(f"DROP TABLE {store.bands_table}")
        assert BucketedSignatureStore(str(tmp_path / "store")).read_bands(spark).count() == 5 * 4

    def test_repair_high_watermark_with_bucketed_store(self, spark, tmp_path):
        from dsm2dtm_spark.operators.incremental import ingest_batch, repair_store
        from dsm2dtm_spark.sources.manifest import SnapshotTable

        corpus = SnapshotTable(str(tmp_path / "corpus"))
        store = BucketedSignatureStore(str(tmp_path / "store"), n_buckets=4)
        batch = _df(spark, [(i, f"document number {i} mentions turbines and rivers") for i in range(5)])
        _, counts = ingest_batch(spark, batch, corpus, store, batch_id="b1", broadcast_fresh=False)
        assert counts["survivors"] == 5
        sc = spark.sparkContext
        sc.setJobGroup("repair-hw-bucketed", "happy path")
        assert repair_store(spark, corpus, store) == 0
        ids = sc.statusTracker().getJobIdsForGroup("repair-hw-bucketed")
        sc.setJobGroup(None, None)
        assert list(ids) == []


@pytest.mark.parametrize("layout", ["plain", "bucketed"])
def test_ingest_batch_and_incremental_dedup_agree(spark, tmp_path, layout):
    """Both wrappers run the one store-backed dedup step: on the same store
    state and a batch the quality and within-batch gates leave whole, they
    keep the same ids and drop the same exact/near counts."""
    from dsm2dtm_spark.operators.incremental import ingest_batch
    from dsm2dtm_spark.sources.manifest import SnapshotTable

    root = str(tmp_path / "store")
    store = SignatureStore(root) if layout == "plain" else BucketedSignatureStore(root, n_buckets=4)
    assert isinstance(store, SignatureStore)
    corpus = SnapshotTable(str(tmp_path / "corpus"))
    ingest_batch(spark, _df(spark, CORPUS), corpus, store, method="md5", batch_id="boot")
    verdicts = {
        r.doc_id: r.verdict
        for r in incremental_dedup(store, _df(spark, FRESH), method="md5", commit=False).collect()
    }
    survivors, counts = ingest_batch(spark, _df(spark, FRESH), corpus, store, method="md5", batch_id="b1")
    assert counts["after_within_batch_exact"] == len(FRESH)
    assert verdicts == {100: "exact", 101: "near", 102: "keep", 103: "keep"}
    assert {r.doc_id for r in survivors.collect()} == {i for i, v in verdicts.items() if v == "keep"}
    assert counts["dropped_exact_vs_corpus"] == sum(v == "exact" for v in verdicts.values())
    assert counts["dropped_near_vs_corpus"] == sum(v == "near" for v in verdicts.values())


class TestBucketEvolution:
    """Round-6 store maintenance: incremental per-bucket compaction (only
    piled-up buckets rewritten; cold buckets hard-link across versions) and
    bucket-count evolution (compact(n_buckets=...) re-buckets both
    sub-tables and records the new spec in the manifest for every later
    session). VERDICT r5 #2/#3."""

    SP = {"sig_params": {"n_hashes": 16, "bands": 4, "shingle_n": 3, "method": "md5"}}

    def _batch(self, spark, lo, hi):
        return _df(
            spark, [(i, f"wholly distinct document {i} about topic {i * 31}") for i in range(lo, hi)]
        )

    def test_bucket_id_expr_matches_written_file_names(self, spark, tmp_path):
        """The incremental path addresses buckets with pmod(hash(cols), n)
        (SQL hash == the writer's Murmur3 seed 42) — verified here against
        the bucket ids Spark actually encoded in the file names; if this
        ever drifted, hot-bucket filtering would silently drop/duplicate
        rows at compaction."""
        import os

        store = BucketedSignatureStore(str(tmp_path / "hashchk"), n_buckets=4)
        store.append(sign_documents(self._batch(spark, 0, 30), method="md5"), summary=self.SP)
        for kind, cols in BucketedSignatureStore._BUCKET_COLS.items():
            version = store._meta()["tables"][kind]["version"]
            loc = store._location(kind, version)
            for bucket_id, files in store._files_by_bucket(kind, version).items():
                for f in files:
                    got = (
                        spark.read.parquet(os.path.join(loc, f))
                        .select(store._bucket_id_expr(cols, 4).alias("b"))
                        .distinct()
                        .collect()
                    )
                    assert [r.b for r in got] == [bucket_id], (kind, f)

    def test_incremental_compact_rewrites_only_hot_buckets(self, spark, tmp_path):
        """Steady-state maintenance cost must track the buckets recent
        appends touched, not the table: after a fold, a single-doc append
        piles files onto ONE signature bucket — the next compact rewrites
        exactly that bucket and hard-links every cold file byte-for-byte
        (same inode) into the new version."""
        import os

        store = BucketedSignatureStore(str(tmp_path / "inc"), n_buckets=4)
        store.append(sign_documents(self._batch(spark, 0, 15), method="md5"), summary=self.SP)
        store.append(sign_documents(self._batch(spark, 15, 30), method="md5"), summary=self.SP)
        assert store.compact(spark)["signatures"] == 1
        v = store._meta()["tables"]["signatures"]["version"]
        # the fold really is ONE file per bucket: the aligning repartition
        # must survive planning (Catalyst elides it over a catalog-table
        # read — the path-read source exists precisely to keep it)
        assert all(len(fs) == 1 for fs in store._files_by_bucket("signatures", v).values())
        store.append(sign_documents(self._batch(spark, 100, 101), method="md5"), summary=self.SP)

        by_bucket = store._files_by_bucket("signatures", v)
        hot = [b for b, fs in by_bucket.items() if len(fs) > 1]
        assert len(hot) == 1  # one fingerprint -> one piled-up bucket
        loc = store._location("signatures", v)
        cold_inodes = {
            os.stat(os.path.join(loc, f)).st_ino
            for b, fs in by_bucket.items()
            if b not in hot
            for f in fs
        }
        n_cold = len(cold_inodes)

        res = store.compact(spark)
        assert res["signatures_buckets_rewritten"] == 1
        assert res["signatures_files_linked"] == n_cold
        new_loc = store._location("signatures", v + 1)
        linked_inodes = {
            os.stat(os.path.join(new_loc, f)).st_ino for f in os.listdir(new_loc)
        } & cold_inodes
        assert linked_inodes == cold_inodes  # cold bytes moved by link, not rewrite
        assert not os.path.exists(loc)  # old version swept after manifest commit

        assert store.read_signatures(spark).count() == 31
        assert store.read_bands(spark).count() == 31 * 4
        # the store still answers — and still reads bucketed
        with _no_auto_broadcast(spark):
            jp = store.read_signatures(spark).join(
                _df(spark, FRESH).select(F.md5("text").alias("fingerprint")), on="fingerprint"
            )
            plan = jp._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan
            assert plan.count("Exchange hashpartitioning") == 1

    def test_compact_noop_when_no_bucket_piled_up(self, spark, tmp_path):
        """A freshly folded store has nothing over threshold: the next
        maintenance pass must not rewrite (or even re-link) anything —
        the version directories stay untouched."""
        store = BucketedSignatureStore(str(tmp_path / "noop"), n_buckets=4)
        store.append(sign_documents(self._batch(spark, 0, 20), method="md5"), summary=self.SP)
        store.compact(spark)
        v = store._meta()["tables"]["signatures"]["version"]
        res = store.compact(spark)
        assert res == {"signatures": 0, "bands": 0}
        assert store._meta()["tables"]["signatures"]["version"] == v

    def test_rebucket_evolution(self, spark, tmp_path):
        """compact(n_buckets=16) on a store created at 4: decisions are
        unchanged, the exchange-free stored-side read property survives at
        the NEW bucket count, and a fresh session (catalog loss) registers
        with 16 — the constructor's stale default loses to the manifest."""
        root = str(tmp_path / "evolve")
        store = BucketedSignatureStore(root, n_buckets=4)
        incremental_dedup(store, _df(spark, CORPUS), method="md5", broadcast_fresh=False)

        res = store.compact(spark, n_buckets=16)
        assert res["signatures_buckets_rewritten"] >= 1
        assert res["signatures_files_linked"] == 0  # every row can move: full rewrite
        assert store.n_buckets == 16
        assert store._meta()["n_buckets"] == 16

        with _no_auto_broadcast(spark):
            jp = store.read_signatures(spark).join(
                _df(spark, FRESH).select(F.md5("text").alias("fingerprint")), on="fingerprint"
            )
            plan = jp._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan
            assert plan.count("Exchange hashpartitioning") == 1
        got = {
            r.doc_id: r.verdict
            for r in incremental_dedup(
                store, _df(spark, FRESH), method="md5", broadcast_fresh=False
            ).collect()
        }
        assert got == {100: "exact", 101: "near", 102: "keep", 103: "keep"}

        # fresh-session registration (simulated by catalog drop) honors the
        # EVOLVED spec even when the constructor passes the stale count
        spark.sql(f"DROP TABLE {store.sig_table}")
        spark.sql(f"DROP TABLE {store.bands_table}")
        reopened = BucketedSignatureStore(root, n_buckets=4)
        assert reopened.n_buckets == 16
        assert reopened.read_signatures(spark).count() == 6  # 4 corpus + kept 102/103
        row = (
            spark.sql(f"DESCRIBE FORMATTED {reopened.sig_table}")
            .filter("col_name = 'Num Buckets'")
            .collect()
        )
        assert row and row[0].data_type.strip() == "16"

    def test_rebucket_seen_by_stale_open_store_object(self, spark, tmp_path):
        """A store handle opened BEFORE another session's re-bucketing
        compact must pick up the new spec on its next registered read —
        registering with the stale count would mis-bucket every row."""
        root = str(tmp_path / "stale")
        store = BucketedSignatureStore(root, n_buckets=4)
        incremental_dedup(store, _df(spark, CORPUS), method="md5", broadcast_fresh=False)
        other = BucketedSignatureStore(root)
        other.compact(spark.newSession(), n_buckets=8)
        assert store.read_signatures(spark).count() == 4  # re-registered at v1/8
        assert store.n_buckets == 8


@pytest.mark.parametrize("layout", ["plain", "bucketed"])
def test_empty_batch_commits_nothing(spark, tmp_path, layout):
    """An empty batch leaves an empty store empty on both layouts: no
    signatures or bands commit, no recorded signature parameters, and the
    next batch is still the bootstrap."""
    root = str(tmp_path / "store")
    store = SignatureStore(root) if layout == "plain" else BucketedSignatureStore(root, n_buckets=4)
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert incremental_dedup(store, empty, method="md5").count() == 0
    assert store.is_empty() and store.params() == {}
    assert store.signature_row_count() is None and store.band_row_count() is None
    incremental_dedup(store, _df(spark, CORPUS), method="md5")
    assert store.signature_row_count() == len(CORPUS) and store.band_row_count() == 4 * len(CORPUS)
    # an empty batch into a non-empty store changes nothing either
    before = store.params()
    incremental_dedup(store, empty, method="md5")
    assert store.params() == before
    assert store.signature_row_count() == len(CORPUS) and store.band_row_count() == 4 * len(CORPUS)
