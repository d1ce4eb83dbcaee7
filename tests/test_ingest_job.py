"""Incremental-ingest job (jobs/ingest_snapshot.py): the production loop —
quality gate → within-batch exact → decontam → incremental dedup vs the
SignatureStore → atomic corpus + store commits, batch-id idempotence."""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

from ingest_snapshot import ingest_batch  # noqa: E402

from dsm2dtm_spark.operators.incremental import SignatureStore  # noqa: E402
from dsm2dtm_spark.sources import SnapshotTable  # noqa: E402

EVAL = "what is the capital of france and when was it founded exactly tell me"


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


@pytest.fixture()
def tables(tmp_path):
    return SnapshotTable(str(tmp_path / "corpus")), SignatureStore(str(tmp_path / "store"))


class TestIngestJob:
    def test_bootstrap_then_incremental_then_idempotent(self, spark, tables):
        corpus, store = tables
        batch1 = _df(
            spark,
            [
                (0, "a long enough document about parquet footers and row groups"),
                (1, "another fine document describing broadcast joins in detail"),
                (2, "x"),  # fails the quality gate (min_tokens)
                (3, "a long enough document about parquet footers and row groups"),  # exact dup of 0 in-batch
            ],
        )
        _, c1 = ingest_batch(spark, batch1, corpus, store, batch_id="b1")
        assert c1 == {
            "input": 4,
            "repaired": 0,
            "after_quality": 3,
            "after_within_batch_exact": 2,
            "dropped_exact_vs_corpus": 0,
            "dropped_near_vs_corpus": 0,
            "survivors": 2,
        }
        assert corpus.read(spark).count() == 2
        assert store.read_signatures(spark).count() == 2

        ev = _df(spark, [(0, f"context {EVAL} more context")])
        batch2 = _df(
            spark,
            [
                (10, "a long enough document about parquet footers and row groups"),  # exact vs corpus
                (11, "another fine document describing broadcast joins in details"),  # near vs corpus
                (12, f"leaked eval text: {EVAL} thanks"),  # decontaminated
                (13, "entirely novel writing on glacier meltwater and moraine lakes"),
            ],
        )
        _, c2 = ingest_batch(spark, batch2, corpus, store, eval_docs=ev, batch_id="b2")
        assert c2["after_decontam"] == 3
        assert c2["dropped_exact_vs_corpus"] == 1
        assert c2["dropped_near_vs_corpus"] == 1
        assert c2["survivors"] == 1
        assert corpus.read(spark).count() == 3
        assert store.read_signatures(spark).count() == 3

        # rerunning an ingested batch is a no-op before any signing
        _, c3 = ingest_batch(spark, batch2, corpus, store, eval_docs=ev, batch_id="b2")
        assert c3["skipped"] == "batch already ingested"
        assert corpus.read(spark).count() == 3
        assert store.read_signatures(spark).count() == 3

    def test_batch_digest_is_content_sensitive(self, spark):
        """ADVICE r4: the CLI batch id folds a content digest (bit_xor of
        xxhash64(text, doc_id)) so two different snapshots landing at the
        SAME path with the SAME row count cannot collide into a silent
        skip; the digest must also be partitioning-invariant (xor is
        order-independent)."""
        from pyspark.sql import functions as F

        def digest(df):
            r = df.agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(xxhash64(text, doc_id))").alias("xor"),
            ).collect()[0]
            return (r["n"], r["xor"])

        a = _df(spark, [(0, "monday snapshot body"), (1, "second document text")])
        b = _df(spark, [(0, "tuesday snapshot body"), (1, "second document text")])
        assert digest(a)[0] == digest(b)[0]  # same count — the old id collided here
        assert digest(a)[1] != digest(b)[1]
        assert digest(a) == digest(a.repartition(7))

    def test_all_dropped_batch_still_records_batch_id(self, spark, tables):
        corpus, store = tables
        base = _df(spark, [(0, "a long enough document about parquet footers and row groups")])
        ingest_batch(spark, base, corpus, store, batch_id="base")
        dup_batch = _df(spark, [(5, "a long enough document about parquet footers and row groups")])
        _, c = ingest_batch(spark, dup_batch, corpus, store, batch_id="dups")
        assert c["survivors"] == 0
        assert corpus.read(spark).count() == 1
        snap = corpus.current_snapshot()
        assert snap.summary["op"] == "ingest-empty"
        assert snap.summary["batch_id"] == "dups"
        _, c2 = ingest_batch(spark, dup_batch, corpus, store, batch_id="dups")
        assert c2.get("skipped")

    def test_crash_window_self_heals(self, spark, tables):
        """Corpus committed but store append lost (the crash-between-commits
        window): the next run's repair step re-signs exactly the unsigned
        rows, so a re-crawl of them is caught as 'exact' again."""
        from ingest_snapshot import repair_store

        corpus, store = tables
        ingest_batch(
            spark,
            _df(spark, [(0, "a long enough document about parquet footers and row groups")]),
            corpus,
            store,
            batch_id="b1",
        )
        # simulate the crash: commit straight to the corpus, bypass the store
        lost = _df(spark, [(1, "an orphaned document whose signatures never got committed")])
        corpus.write_dataframe(lost, summary={"op": "ingest", "batch_id": "lost"})
        assert store.read_signatures(spark).count() == 1

        n = repair_store(spark, corpus, store)
        assert n == 1
        assert store.read_signatures(spark).count() == 2

        # and through the job surface: a re-crawl of the orphaned text drops
        _, c = ingest_batch(
            spark,
            _df(spark, [(9, "an orphaned document whose signatures never got committed")]),
            corpus,
            store,
            batch_id="b2",
        )
        assert c["repaired"] == 0  # already healed above
        assert c["dropped_exact_vs_corpus"] == 1 and c["survivors"] == 0

    def test_param_drift_rejected_against_existing_store(self, spark, tables):
        """The store records its method at the first ingest; reopening it
        with another method fails before any batch is signed."""
        corpus, store = tables
        ingest_batch(spark, _df(spark, [(0, "a long enough document about parquet footers")]), corpus, store, batch_id="a")
        with pytest.raises(ValueError, match="method='xxhash64' signatures; a method='md5' batch"):
            SignatureStore(store.root, method="md5")

    def test_guard_survives_unrelated_commits(self, spark, tables):
        """A maintenance/compaction commit (no batch_id in its summary) must
        not erase the batch history — the guard scans ALL snapshots."""
        corpus, store = tables
        b = _df(spark, [(0, "a long enough document about parquet footers and row groups")])
        ingest_batch(spark, b, corpus, store, batch_id="b1")
        # maintenance-style commit: keeps the file set, carries no batch_id
        corpus.commit([], operation="append", summary={"compacted": 0})
        _, c = ingest_batch(spark, b, corpus, store, batch_id="b1")
        assert c.get("skipped") == "batch already ingested"


class TestIngestJobBudget:
    """One ingest of a batch against a non-empty store runs at most 15 Spark
    jobs: the stage counts are observed on the one pin of the quality →
    within-batch exact chain, the verdict tally on the decisions pin, and
    the survivors, signatures and bands writes read those pins. The counts
    are exact, with and without decontam, and on an all-dropped batch."""

    BASE = [
        (0, "a long enough document about parquet footers and row groups"),
        (1, "another fine document describing broadcast joins in detail"),
        (2, "a third document about snapshot manifests and their commits"),
    ]

    def test_ingest_runs_at_most_15_jobs_with_exact_counts(self, spark, tables):
        corpus, store = tables
        ingest_batch(spark, _df(spark, self.BASE), corpus, store, batch_id="base")
        batch = _df(
            spark,
            [
                (10, "a long enough document about parquet footers and row groups"),  # exact vs corpus
                (11, "another fine document describing broadcast joins in details"),  # near vs corpus
                (12, "x"),  # fails the quality gate
                (13, "entirely novel writing on glacier meltwater and moraine lakes"),
                (14, "entirely novel writing on glacier meltwater and moraine lakes"),  # in-batch dup of 13
                (15, "a wholly separate note on river gauges and flood warnings"),
            ],
        )
        sc = spark.sparkContext
        sc.setJobGroup("ingest-budget", "one ingest")
        try:
            _, c = ingest_batch(spark, batch, corpus, store, batch_id="b1")
            jobs = list(sc.statusTracker().getJobIdsForGroup("ingest-budget"))
        finally:
            sc.setJobGroup(None, None)
        assert c == {
            "input": 6,
            "repaired": 0,
            "after_quality": 5,
            "after_within_batch_exact": 4,
            "dropped_exact_vs_corpus": 1,
            "dropped_near_vs_corpus": 1,
            "survivors": 2,
        }
        assert len(jobs) <= 15, f"{len(jobs)} Spark jobs for one ingest"
        assert corpus.current_snapshot().summary == {"op": "ingest", "batch_id": "b1", **c}
        assert sorted(r.doc_id for r in corpus.read(spark).collect()) == [0, 1, 2, 13, 15]

        ev = _df(spark, [(0, f"context {EVAL} more context")])
        batch2 = _df(
            spark,
            [
                (20, f"leaked eval text: {EVAL} thanks"),  # decontaminated
                (21, "a wholly separate note on river gauges and flood warnings"),  # exact vs corpus
                (22, "fresh snowfall covered the quiet village before dawn broke gently"),
                (23, "fresh snowfall covered the quiet village before dawn broke gently"),  # in-batch dup
            ],
        )
        _, c2 = ingest_batch(spark, batch2, corpus, store, eval_docs=ev, batch_id="b2")
        assert c2 == {
            "input": 4,
            "repaired": 0,
            "after_quality": 4,
            "after_within_batch_exact": 3,
            "after_decontam": 2,
            "dropped_exact_vs_corpus": 1,
            "dropped_near_vs_corpus": 0,
            "survivors": 1,
        }

        dropped = _df(spark, [(30, "x"), (31, "y z")])  # nothing passes the quality gate
        _, c3 = ingest_batch(spark, dropped, corpus, store, batch_id="b3")
        assert c3 == {
            "input": 2,
            "repaired": 0,
            "after_quality": 0,
            "after_within_batch_exact": 0,
            "dropped_exact_vs_corpus": 0,
            "dropped_near_vs_corpus": 0,
            "survivors": 0,
        }
        assert corpus.current_snapshot().summary["op"] == "ingest-empty"
        assert corpus.read(spark).count() == 6
