"""Generate PLANS.md: `.explain("formatted")` for the engine's headline plans
with commentary on what each plan must (and must not) contain. Run after
plan-affecting changes; the assertions here are the same ones the test suite
pins (pushdown, pruning, broadcast, partition filters).

    SPARK_GRAFT_SF_DIR=/path/to/sf0.01 python scripts/explain_plans.py

Reads the contract test data at ``$SPARK_GRAFT_SF_DIR`` (default: the
sf0.01 set) on ``local[$SPARK_GRAFT_CPUS]`` (default: all cores), as
bench.py does."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    import pandas as pd
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from dsm2dtm_spark import synth
    from dsm2dtm_spark.operators import spatial, tiling
    from dsm2dtm_spark.plans import dtm_transform
    from dsm2dtm_spark.session import get_spark
    from dsm2dtm_spark.sources import SnapshotTable

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", sf)
    sections: list[tuple[str, str, str]] = []

    entry._ensure_contract_tables()
    images = spark.read.parquet(entry._IMAGES_PQ)

    sections.append(
        (
            "Metadata-only scan (column pruning + predicate pushdown)",
            "The multi-MB `bytes` column must NOT appear in ReadSchema, and the "
            "`fmt`/`w` predicates must reach PushedFilters — metadata queries on the "
            "image table never touch pixels.",
            fmt(images.filter("fmt = 'raw_f32' and w >= 64").select("image_id", "w", "h")),
        )
    )

    sections.append(
        (
            "Whole-image DTM transform",
            "One ArrowEvalPython/MapInPandas stage over the scan; everything below it "
            "is JVM. The repartition guards against single-fat-file inputs "
            "(compute ≫ scan, so the byte shuffle is cheap insurance).",
            fmt(dtm_transform(images.limit(8), radius_m=40.0)),
        )
    )

    fps = spark.createDataFrame(synth.footprint_table(20, seed=9))
    centers = images.select(
        "image_id", F.lit(0).alias("tile_row"), F.lit(0).alias("tile_col"),
        F.col("lon0").alias("lon_c"), F.col("lat0").alias("lat_c"),
    )
    sections.append(
        (
            "Spatial join (cell cover → broadcast equi-join → PIP)",
            "The footprint side must be a BroadcastHashJoin build side; the bbox "
            "prefilter is JVM-side so the Python PIP UDF sees only candidates.",
            fmt(spatial.spatial_join_tiles(fps, centers)),
        )
    )

    sections.append(
        (
            "Tile-to-cell assignment (pure-DataFrame, no pixels)",
            "Whole-stage codegen over explode(sequence) + the Morton bit arithmetic; "
            "no Python, no bytes column in ReadSchema.",
            fmt(tiling.tile_assignments(images, tile_px=32)),
        )
    )

    big = spark.createDataFrame(synth.image_table(2, seed=3, sizes=(256,), fmts=("raw_f32",)).drop(columns=["scenario"]))
    sections.append(
        (
            "Tiled DTM plan (halo exchange: explicit-count salted shuffle)",
            "The repartition feeding the tile-processing MapInPandas must carry a "
            "USER-SPECIFIED partition count (REPARTITION_BY_NUM in the plan): a bare "
            "repartition(cols) is AQE-coalesced to ~1 partition per core (measured: "
            "192 tiles → 9 partitions at 8 cores), leaving zero slack for tile-count "
            "imbalance in a CPU-per-tile stage (round-3 root cause). Same for the "
            "stitch groupBy's pre-partition.",
            fmt(tiling.tiled_dtm_transform(big, tile_px=128, radius_m=40.0, route_coarse=False)),
        )
    )

    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    from dsm2dtm_spark.operators import simsearch

    sections.append(
        (
            "Embedding-cosine dedup (SRP-LSH bucketed candidates)",
            "No CartesianProduct / BroadcastNestedLoopJoin anywhere: candidates come "
            "from an equi-join on the SRP bucket id (SortMergeJoin/ShuffledHashJoin), "
            "vectors join back only after pair dedup. The round-1 all-pairs crossJoin "
            "is gone (it survives only as the method='exact' verification oracle).",
            fmt(simsearch.cosine_dedup(emb, threshold=0.45)),
        )
    )

    sections.append(
        (
            "Embedding-cosine pairs, blocked exact-GEMM path (low-threshold regime)",
            "When the demanded recall at a low threshold forces srp_params_for into "
            "shallow tables that stop pruning (0.45/1e-6 → 2 planes × 32 tables → "
            "~100% of all pairs collide), the registry queries switch to "
            "method='blocked': one FlatMapGroupsInPandas per block pair computes the "
            "similarity matrix as a fused numpy GEMM with a half-rounding-width "
            "recall margin, and the "
            "surviving candidate ids re-score through the same JVM _dot aggregate "
            "as every other path (oracle float parity). No CartesianProduct; the "
            "only wide relation is n·(B+1) replicated block rows.",
            fmt(
                simsearch.cosine_pairs(
                    emb, threshold=0.45, round_digits=4, method="blocked"
                )
            ),
        )
    )

    from dsm2dtm_spark.operators import terrain

    sections.append(
        (
            "Lattice composite / mosaic rollup (map-side partials)",
            "The decode UDF emits per-(image, cell) PARTIAL aggregates, so every "
            "exchange carries O(images × cells-per-image) rows — never pixels. "
            "The two-level HashAggregate chain is countDistinct's standard "
            "rewrite (first keyed (cy, cx, image_id), then (cy, cx)); each level "
            "has its partial_… combine above the exchange, so this is map-side "
            "combine end to end.",
            fmt(terrain.grid_composite(images, cell_deg=0.05)),
        )
    )

    sections.append(
        (
            "Vector×vector overlap self-join (cell-keyed, no nested loop)",
            "Candidates come from an equi-join on covering cell id (SortMergeJoin/"
            "ShuffledHashJoin), never CartesianProduct/BroadcastNestedLoopJoin; the "
            "overlap predicate runs BEFORE the pair-dedup exchange so non-overlapping "
            "same-cell candidates never cross the shuffle.",
            fmt(spatial.footprint_overlap_pairs(fps)),
        )
    )

    from dsm2dtm_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    sections.append(
        (
            "Stratified sample (local top-N before the exact stratum window)",
            "Two Window sorts: the first partitions on (stratum, input-partition-id) "
            "— parallel with the input — and keeps ≤ N rows per partition per "
            "stratum; only those candidates reach the second, exact per-stratum "
            "window. Without the local pass, one task would sort an entire "
            "stratum (half the corpus for 'en').",
            fmt(stratified_sample(docs, "lang", 25, "doc_id")),
        )
    )

    from dsm2dtm_spark.operators import decontam, incremental
    from dsm2dtm_spark.operators.sampling import global_shuffle

    corpus = docs.filter("doc_id % 2 = 0")
    fresh = docs.filter("doc_id % 2 = 1")
    sigs = incremental.sign_documents(corpus, method="md5").localCheckpoint(eager=True)
    decisions, _ = incremental.dedup_against(
        fresh, sigs, incremental.band_buckets(sigs), method="md5", materialize_fresh=False
    )  # raw lineage: the checkpoint placeholder would hide the shingle story
    sections.append(
        (
            "Incremental cross-snapshot dedup (stored side never re-shingled)",
            "The signer (`ArrowEvalPython sig(lower(text))`) runs over the FRESH "
            "scan only; the committed side enters as the signature checkpoint "
            "(`Scan ExistingRDD` of doc_id, fingerprint, signature; in production, "
            "parquet scans of the SignatureStore), so the corpus text never appears "
            "in the plan. Here the stored band rows are a `Generate` (posexplode of "
            "the band keys) over that checkpoint; in production they are the store's "
            "band table. Candidate generation is a banded equi-join that streams "
            "the stored band rows against BROADCAST fresh bands; verification "
            "streams the stored signature ARRAYS against the broadcast candidate "
            "set, with the unrolled Jaccard estimate as the join condition. The "
            "exact pass (broadcast_fresh=True, the default) probes the stored "
            "fingerprints against BROADCAST fresh ones, so the store streams "
            "map-side; the matched set (O(batch)) then broadcasts back for the "
            "semi/anti split. The only two Exchanges are the candidate-pair and "
            "near-id distincts; none sits above a stored scan.",
            fmt(decisions),
        )
    )

    ev = docs.filter("doc_id % 7 = 0")
    train = docs.filter("doc_id % 7 != 0")
    sections.append(
        (
            "Benchmark decontamination (distinct-gram broadcast eval side)",
            "The eval set collapses to DISTINCT grams and must be the "
            "BroadcastHashJoin build side — the corpus side never shuffles, and a "
            "boilerplate gram shared by every eval doc contributes ONE build row "
            "(the flood guard).",
            fmt(decontam.ngram_contamination(train, ev, n=13)),
        )
    )

    sections.append(
        (
            "Deterministic global shuffle (bucket-parallel ranking)",
            "No Window over an empty partitionBy (that would be a single-task "
            "global sort): the ranking window partitions on the 256-way hash "
            "prefix, and global ranks come from a broadcast join against the "
            "tiny per-bucket offset table (itself a window over ≤256 rows).",
            fmt(global_shuffle(docs, "doc_id", seed=42)),
        )
    )

    q1 = entry.queries()["q1_pricing_summary"](spark, sf)
    sections.append(
        (
            "Relational agg (TPC-H Q1 shape)",
            "Partial hash aggregate before the exchange (map-side combine), "
            "`l_shipdate` filter pushed to the parquet scan.",
            fmt(q1),
        )
    )

    import tempfile

    t = SnapshotTable(tempfile.mkdtemp(prefix="plans_pt_"))
    t.write_dataframe(
        spark.createDataFrame(pd.DataFrame({"cell_id": [1] * 5 + [2] * 5, "v": range(10)})),
        partition_by=["cell_id"],
    )
    sections.append(
        (
            "Partitioned snapshot scan (partition pruning)",
            "cell_id=1 must land in PartitionFilters — only one hive partition "
            "directory is read.",
            fmt(t.read(spark).filter(F.col("cell_id") == 1)),
        )
    )

    out = ["# PLANS.md — physical plans of the headline operators\n",
           "Generated by `scripts/explain_plans.py`. Each section states the plan\n"
           "property the engine relies on at scale; tests pin the same properties.\n"]
    for title, note, plan in sections:
        out.append(f"\n## {title}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md,", len(sections), "sections")
    spark.stop()


if __name__ == "__main__":
    main()
