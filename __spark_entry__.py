"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship DTM pipeline smoke over a deterministic synthetic
image batch. ``queries()`` / ``oracle_sql()`` — one entry per implemented
operator from SURVEY.md §2 (and the training-data operator set), each Spark
query paired with an ANSI-SQL DuckDB oracle over the same data. Columns are
aliased identically on both sides; float aggregates are rounded on both sides
(the driver hashes values order-insensitively but exactly).

Image-table queries run over a deterministic synthetic parquet trio
(images / footprints / knn_queries) generated on first use under
``data/contract/`` (seeded; FIXTURES.md) — their oracles read the same files
via ``read_parquet``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:  # robust to being imported from any cwd
    sys.path.insert(0, _HERE)

from dsm2dtm_spark.functions.text import STOPWORDS
from dsm2dtm_spark.operators.cellindex import cell_encode_sql, cell_expr

_REPO = os.path.dirname(os.path.abspath(__file__))
_CONTRACT_DIR = os.path.join(_REPO, "data", "contract")
_IMAGES_PQ = os.path.join(_CONTRACT_DIR, "images.parquet")
_FOOTPRINTS_PQ = os.path.join(_CONTRACT_DIR, "footprints.parquet")
_KNN_PQ = os.path.join(_CONTRACT_DIR, "knn_queries.parquet")
_IMG_TABLE = os.path.join(_CONTRACT_DIR, "img_table")
# oracle twins for the approximate-ANN and pipeline queries: the exact same
# deterministic planes/centroids the Arrow UDFs regenerate (testdata
# embeddings are 64-d at every sf), and golden-clone DTM metrics — letting
# DuckDB replay bucket assignment / inverted lists / pipeline stats as plain
# SQL instead of leaving those queries rows-only
_ANN_PLANES_PQ = os.path.join(_CONTRACT_DIR, "ann_planes.parquet")
_ANN_CENTROIDS_PQ = os.path.join(_CONTRACT_DIR, "ann_centroids.parquet")
_DTM_GOLDEN_PQ = os.path.join(_CONTRACT_DIR, "dtm_golden_metrics.parquet")
# golden-clone nDSM (DSM − DTM) stats for the same image subset — generated
# by the SAME terrain.ndsm_numpy the distributed operator calls, so the
# oracle is the parity axis itself (like dtm_golden_metrics)
_NDSM_GOLDEN_PQ = os.path.join(_CONTRACT_DIR, "ndsm_golden_stats.parquet")
# decoded valid pixels of every contract image (image_id, py, px, value) —
# lets DuckDB replay pixel-level raster↔vector ops (zonal stats) exactly
_PIXELS_PQ = os.path.join(_CONTRACT_DIR, "pixels.parquet")
# query points for the point-sample op: deterministic offsets inside the
# image extents (plus misses, so the bounds path is exercised)
_SAMPLE_PTS_PQ = os.path.join(_CONTRACT_DIR, "sample_points.parquet")
_ANN_DIM = 64  # embeddings.parquet vector length (all sf); a drift would
# surface as a loud oracle/engine mismatch, not silence
_DTM_METRICS_CUTOFF = "img_000016"  # first 16 images, by zero-padded id
_OVERVIEW_CUTOFF = "img_000032"  # pyramid query subset (bounds row volume)

SHIP_CUTOFF = "1995-09-01"


def _ensure_contract_tables() -> None:
    """Deterministic synthetic image/footprint/knn parquet (idempotent)."""
    if (
        os.path.exists(_IMAGES_PQ)
        and os.path.exists(_FOOTPRINTS_PQ)
        and os.path.exists(_KNN_PQ)
        and os.path.exists(_ANN_PLANES_PQ)
        and os.path.exists(_ANN_CENTROIDS_PQ)
        and os.path.exists(_DTM_GOLDEN_PQ)
        and os.path.exists(_NDSM_GOLDEN_PQ)
        and os.path.exists(_PIXELS_PQ)
        and os.path.exists(_SAMPLE_PTS_PQ)
        and os.path.exists(os.path.join(_IMG_TABLE, "meta", "CURRENT"))
    ):
        return
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dsm2dtm_spark import codecs, golden, synth
    from dsm2dtm_spark.operators.simsearch import make_centroids, make_planes
    from dsm2dtm_spark.params import NODATA_DEFAULT

    os.makedirs(_CONTRACT_DIR, exist_ok=True)
    images = synth.image_table(n_rows=80, seed=42, sizes=(50, 64, 80), dup_fraction=0.05)
    pq.write_table(pa.Table.from_pandas(images, preserve_index=False), _IMAGES_PQ)
    pq.write_table(pa.Table.from_pandas(synth.footprint_table(50, seed=43), preserve_index=False), _FOOTPRINTS_PQ)
    pq.write_table(pa.Table.from_pandas(synth.knn_query_table(40, seed=44), preserve_index=False), _KNN_PQ)

    # SRP planes (lsh_topk defaults: 6 planes × 8 tables, seed 7) and IVF
    # centroids (16, seed 13) — byte-identical to what srp_buckets_udf /
    # make_centroids regenerate inside the Arrow UDFs, so a DuckDB
    # list_dot_product over these parquets replays the same buckets/lists
    plane_rows = [
        {"table_id": t, "plane_idx": i, "plane": p[i].tolist()}
        for t in range(8)
        for p in [make_planes(_ANN_DIM, 6, seed=7 + 101 * t)]
        for i in range(6)
    ]
    pq.write_table(pa.Table.from_pandas(pd.DataFrame(plane_rows), preserve_index=False), _ANN_PLANES_PQ)
    cents = make_centroids(_ANN_DIM, 16, seed=13)
    cent_rows = [{"centroid_id": i, "centroid": c.tolist()} for i, c in enumerate(cents)]
    pq.write_table(pa.Table.from_pandas(pd.DataFrame(cent_rows), preserve_index=False), _ANN_CENTROIDS_PQ)

    # golden-clone DTM metrics for the pipeline query's image subset: the
    # distributed plan must reproduce these exactly (the parity axis,
    # SURVEY.md §5) — generated single-node, compared by the driver's hash
    metr = []
    ndsm = []
    from dsm2dtm_spark.operators.terrain import ndsm_numpy

    for r in images[images.image_id < _DTM_METRICS_CUTOFF].itertuples(index=False):
        grid = codecs.decode(r.bytes, int(r.h), int(r.w), r.fmt)
        dtm = golden.dsm_to_dtm(grid, (float(r.xres_m), float(r.yres_m)), radius_m=40.0)
        metr.append(
            {
                "image_id": r.image_id,
                "fmt": r.fmt,
                "valid_in": int(np.sum(grid != NODATA_DEFAULT)),
                "valid_out": int(np.sum(dtm != NODATA_DEFAULT)),
            }
        )
        s = ndsm_numpy(grid, dtm, above_m=1.0)
        if s is not None:
            ndsm.append({"image_id": r.image_id, **s})
    pq.write_table(pa.Table.from_pandas(pd.DataFrame(metr), preserve_index=False), _DTM_GOLDEN_PQ)
    pq.write_table(pa.Table.from_pandas(pd.DataFrame(ndsm), preserve_index=False), _NDSM_GOLDEN_PQ)

    # valid pixels of every image, row/col indexed — the oracle recomputes
    # pixel-center lon/lat from metadata with the engine's exact IEEE
    # mul/add arithmetic, so pixel-level joins replay in SQL. float32
    # values + int16 indices keep the fixture compact; both engines widen
    # to double identically (exact).
    pix = []
    for r in images.itertuples(index=False):
        grid = codecs.decode(r.bytes, int(r.h), int(r.w), r.fmt)
        yy, xx = np.nonzero(grid != NODATA_DEFAULT)
        pix.append(
            pd.DataFrame(
                {
                    "image_id": r.image_id,
                    "py": yy.astype(np.int16),
                    "px": xx.astype(np.int16),
                    "value": grid[yy, xx],
                }
            )
        )
    pq.write_table(pa.Table.from_pandas(pd.concat(pix, ignore_index=True), preserve_index=False), _PIXELS_PQ)

    # 3 points per image at fixed fractional offsets inside its extent +
    # one far miss per 10 images (bounds path); deterministic arithmetic
    from dsm2dtm_spark.operators.tiling import M_PER_DEG_LAT, M_PER_DEG_LON_EQ, lon_scale

    pts = []
    qid = 0
    for r in images.itertuples(index=False):
        scale = M_PER_DEG_LON_EQ * lon_scale(float(r.lat0))
        for fx, fy in ((0.25, 0.25), (0.6, 0.4), (0.85, 0.9)):
            pts.append(
                {
                    "query_id": qid,
                    "x": float(r.lon0) + (fx * r.w * r.xres_m) / scale,
                    "y": float(r.lat0) - (fy * r.h * r.yres_m) / M_PER_DEG_LAT,
                }
            )
            qid += 1
    for k in range(8):  # guaranteed misses (lat 80+: no images there)
        pts.append({"query_id": qid, "x": float(k), "y": 85.0})
        qid += 1
    pq.write_table(pa.Table.from_pandas(pd.DataFrame(pts), preserve_index=False), _SAMPLE_PTS_PQ)
    # snapshot-table twin of the image table, one commit per image width, so
    # read(where=[('w', ...)]) exercises footer-stats file skipping
    import shutil

    from dsm2dtm_spark.sources import SnapshotTable

    shutil.rmtree(_IMG_TABLE, ignore_errors=True)  # half-built dir → rebuild
    t = SnapshotTable(_IMG_TABLE)
    for w in sorted(images.w.unique()):
        t.write_pandas(images[images.w == w], summary={"w": int(w)})


def _ship_engine(spark: SparkSession) -> None:
    """Make dsm2dtm_spark importable on executors no matter where the driver
    process was started: zip the package and addPyFile it (idempotent per
    session). Local-mode workers inherit neither the driver's sys.path nor
    its cwd, so a driver launched outside /root/repo would otherwise fail
    inside every pandas UDF.

    The zip is named by a content hash of the package sources: any edit to
    dsm2dtm_spark/ produces a new artifact, so executors can never import a
    stale copy left from an earlier run (addPyFile paths precede repo paths
    on worker sys.path)."""
    if getattr(spark, "_dsm2dtm_shipped", False):
        return
    import hashlib
    import zipfile

    pkg = os.path.join(_HERE, "dsm2dtm_spark")
    sources = sorted(
        os.path.join(root, fn)
        for root, _, fns in os.walk(pkg)
        for fn in fns
        if fn.endswith(".py")
    )
    digest = hashlib.md5()
    for full in sources:
        digest.update(os.path.relpath(full, _HERE).encode())
        with open(full, "rb") as f:
            digest.update(f.read())
    zpath = os.path.join(_CONTRACT_DIR, f"engine-{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(zpath):
        os.makedirs(_CONTRACT_DIR, exist_ok=True)
        for stale in os.listdir(_CONTRACT_DIR):  # drop superseded builds
            if stale.startswith("engine-") and stale.endswith(".zip"):
                os.unlink(os.path.join(_CONTRACT_DIR, stale))
        with zipfile.ZipFile(zpath + ".tmp", "w") as z:
            for full in sources:
                z.write(full, os.path.relpath(full, _HERE))
        os.replace(zpath + ".tmp", zpath)
    spark.sparkContext.addPyFile(zpath)
    spark._dsm2dtm_shipped = True


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ship_engine(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _emb_rows(sf_dir: str) -> int:
    """Parquet-footer row count of the embeddings table — sizes the blocked
    GEMM without a full corpus count() pass (VERDICT r6 what's-wrong #2)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(sf_dir, "embeddings.parquet")).metadata.num_rows


def _images(spark: SparkSession) -> DataFrame:
    _ensure_contract_tables()
    _ship_engine(spark)
    return spark.read.parquet(_IMAGES_PQ)


# --------------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: DSM→DTM over a deterministic synthetic image batch; returns
    one row per image with shape/validity metrics and the partition lineage
    column (stable schema, ≥ 0 rows — the driver's smoke contract)."""
    from dsm2dtm_spark.plans import dtm_transform

    _ensure_contract_tables()
    _ship_engine(spark)
    images = spark.read.parquet(_IMAGES_PQ).limit(12)
    dtm = dtm_transform(images, radius_m=40.0)
    out = dtm.select("image_id", "fmt", "w", "h", "valid_in", "valid_out", "partition_id")
    return out.orderBy("image_id")


# ------------------------------------------------------------------- queries


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---------------- relational core (TPC-H-ish views under sf_dir)

    def q1_pricing_summary(spark, sf):
        li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= F.lit(SHIP_CUTOFF))
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                F.count("*").alias("count_order"),
            )
        )

    q["q1_pricing_summary"] = q1_pricing_summary

    def q3_top_revenue_orders(spark, sf):
        c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        return (
            c.join(o, c.c_custkey == o.o_custkey)
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderkey")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
            .limit(10)
        )

    q["q3_top_revenue_orders"] = q3_top_revenue_orders

    def q5_nation_volume(spark, sf):
        # local-supplier volume: customer and supplier in the same nation
        n = _t(spark, sf, "nation")
        r = _t(spark, sf, "region")
        c = _t(spark, sf, "customer")
        s = _t(spark, sf, "supplier")
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(s, li.l_suppkey == s.s_suppkey)
            .filter(F.col("c_nationkey") == F.col("s_nationkey"))
            .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("r_name", "n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        )

    q["q5_nation_volume"] = q5_nation_volume

    def q17_small_quantity_revenue(spark, sf):
        # TPC-H Q17 shape: correlated scalar-aggregate subquery — revenue of
        # lineitems below 20% of their part's average quantity (decorrelated
        # into an agg + equi-join, which is what a good planner does anyway)
        li = _t(spark, sf, "lineitem")
        p = _t(spark, sf, "part").filter((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10))
        qlim = li.groupBy("l_partkey").agg(F.round(0.2 * F.avg("l_quantity"), 6).alias("qlim"))
        return (
            li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(qlim, on="l_partkey")
            .filter(F.col("l_quantity") < F.col("qlim"))
            .agg(
                F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
                F.count("*").alias("n_lines"),
            )
        )

    q["q17_small_quantity_revenue"] = q17_small_quantity_revenue

    def q18_large_volume_orders(spark, sf):
        # TPC-H Q18 shape: HAVING over a grouped sum gates which orders join
        # back to customers (top-N large-volume buyers)
        li = _t(spark, sf, "lineitem")
        o = _t(spark, sf, "orders")
        c = _t(spark, sf, "customer")
        big = li.groupBy("l_orderkey").agg(F.round(F.sum("l_quantity"), 2).alias("total_qty")).filter(
            F.col("total_qty") > 120
        )
        return (
            big.join(o, big.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .select("c_name", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "total_qty")
            .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
            .limit(20)
        )

    q["q18_large_volume_orders"] = q18_large_volume_orders

    def broadcast_region_customers(spark, sf):
        n = _t(spark, sf, "nation")
        r = _t(spark, sf, "region")
        c = _t(spark, sf, "customer")
        dim = n.join(r, n.n_regionkey == r.r_regionkey)  # small — broadcast it
        return (
            c.join(F.broadcast(dim), c.c_nationkey == dim.n_nationkey)
            .groupBy("r_name")
            .agg(F.count("*").alias("n_customers"), F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"))
        )

    q["broadcast_region_customers"] = broadcast_region_customers

    def window_top3_orders_per_customer(spark, sf):
        o = _t(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        return (
            o.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", "rn", F.round("o_totalprice", 2).alias("price"))
        )

    q["window_top3_orders_per_customer"] = window_top3_orders_per_customer

    def rollup_lineitem_flags(spark, sf):
        li = _t(spark, sf, "lineitem")
        return (
            li.rollup("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
            .select(
                F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
                F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
                "n",
                "sum_qty",
            )
        )

    q["rollup_lineitem_flags"] = rollup_lineitem_flags

    def cube_images_fmt_scenario(spark, sf):
        img = _images(spark)
        return (
            img.cube("fmt", "scenario")
            .agg(F.count("*").alias("n"), F.sum(F.col("w").cast("long") * F.col("h")).alias("pixels"))
            .select(
                F.coalesce("fmt", F.lit("ALL")).alias("fmt"),
                F.coalesce("scenario", F.lit("ALL")).alias("scenario"),
                "n",
                "pixels",
            )
        )

    q["cube_images_fmt_scenario"] = cube_images_fmt_scenario

    def intersect_active_buyers(spark, sf):
        # custkeys present in BOTH halves of the order date range (E12)
        o = _t(spark, sf, "orders")
        med = "1998-01-01"
        early = o.filter(F.col("o_orderdate") < med).select("o_custkey")
        late = o.filter(F.col("o_orderdate") >= med).select("o_custkey")
        return early.intersect(late).withColumnRenamed("o_custkey", "custkey")

    q["intersect_active_buyers"] = intersect_active_buyers

    def anti_join_no_big_order(spark, sf):
        # customers with no order above 300k — resume-style left_anti (E12)
        c = _t(spark, sf, "customer")
        big = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 300000)
        idle = c.join(big, c.c_custkey == big.o_custkey, "left_anti")
        return idle.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_cust"), F.round(F.avg("c_acctbal"), 2).alias("avg_bal")
        )

    q["anti_join_no_big_order"] = anti_join_no_big_order

    def semi_join_discounted_orders(spark, sf):
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem").filter(F.col("l_discount") >= 0.08)
        return (
            o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders"))
        )

    q["semi_join_discounted_orders"] = semi_join_discounted_orders

    def except_low_value_custkeys(spark, sf):
        o = _t(spark, sf, "orders")
        all_ck = o.select("o_custkey")
        high = o.filter(F.col("o_totalprice") > 200000).select("o_custkey")
        return all_ck.exceptAll(high).distinct().withColumnRenamed("o_custkey", "custkey")

    q["except_low_value_custkeys"] = except_low_value_custkeys

    def utm_zone_histogram(spark, sf):
        # UTM zone math (reference utm_utils.py:42-45) over synthetic coords
        # derived from customer keys — SQL-replayable arithmetic
        c = _t(spark, sf, "customer")
        lon = (F.col("c_custkey") % 360) - 180 + 0.5
        lat = ((F.col("c_custkey") * 7) % 180) - 90 + 0.5
        zone = (F.floor((lon + 180.0) / 6.0) % 60 + 1).cast("long")
        epsg = F.when(lat < 0, 32700).otherwise(32600) + zone
        return c.select(epsg.alias("epsg")).groupBy("epsg").agg(F.count("*").alias("n"))

    q["utm_zone_histogram"] = utm_zone_histogram

    def cell_encode_events(spark, sf):
        ev = _t(spark, sf, "events")
        lon = (F.pmod(F.col("user_id") * 37, F.lit(360)) - 180) + 0.25
        lat = (F.pmod(F.col("user_id") * 13, F.lit(180)) - 90) + 0.25
        return (
            ev.select(cell_expr(lon, lat, 12).alias("cell_id"))
            .groupBy("cell_id")
            .agg(F.count("*").alias("n"))
        )

    q["cell_encode_events"] = cell_encode_events

    def events_daily_by_type(spark, sf):
        ev = _t(spark, sf, "events")
        return (
            ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        )

    q["events_daily_by_type"] = events_daily_by_type

    def events_user_rank_by_type(spark, sf):
        ev = _t(spark, sf, "events")
        totals = ev.groupBy("event_type", "user_id").agg(F.round(F.sum("value"), 2).alias("total"))
        w = Window.partitionBy("event_type").orderBy(F.desc("total"), F.asc("user_id"))
        return totals.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)

    q["events_user_rank_by_type"] = events_user_rank_by_type

    def events_value_quantiles(spark, sf):
        # exact percentiles (interpolating, matches DuckDB quantile_cont)
        ev = _t(spark, sf, "events")
        return ev.groupBy("event_type").agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )

    q["events_value_quantiles"] = events_value_quantiles

    def orders_per_month(spark, sf):
        o = _t(spark, sf, "orders")
        return o.groupBy(F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")).agg(
            F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("volume")
        )

    q["orders_per_month"] = orders_per_month

    def customer_string_functions(spark, sf):
        c = _t(spark, sf, "customer")
        return c.select(
            "c_custkey",
            F.upper(F.col("c_name")).alias("name_upper"),
            F.substring("c_name", 1, 8).alias("name_prefix"),
            F.concat_ws("|", "c_mktsegment", F.col("c_custkey").cast("string")).alias("seg_key"),
            F.length("c_name").cast("long").alias("name_len"),
        )

    q["customer_string_functions"] = customer_string_functions

    def events_json_props(spark, sf):
        # JSON scalar functions (E14): parse the props payload, aggregate
        ev = _t(spark, sf, "events")
        k = F.from_json("props", "k int").getField("k")
        return ev.groupBy("event_type").agg(
            F.round(F.avg(k), 3).alias("avg_k"),
            F.max(k).cast("long").alias("max_k"),
            F.count(F.when(k > 50, 1)).alias("n_high"),
        )

    q["events_json_props"] = events_json_props

    def events_lag_gaps(spark, sf):
        # lag() window: inter-event gap seconds per user, averaged per type
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
        # integer microseconds (≡ DuckDB epoch_us): exact arithmetic, keeps
        # sub-second precision that unix_timestamp would truncate
        us = F.expr("unix_micros(to_utc_timestamp(ts, 'UTC'))")
        gap = us - F.lag(us).over(w)
        return (
            ev.withColumn("gap_s", gap)
            .filter(F.col("gap_s").isNotNull())
            .groupBy("event_type")
            .agg(
                # explicit double sum/count: DuckDB's AVG over exact integers
                # can round the 2nd decimal differently
                F.round(F.sum("gap_s").cast("double") / 1000000.0 / F.count(F.lit(1)), 2).alias("avg_gap_s"),
                F.count("*").alias("n_gaps"),
            )
        )

    q["events_lag_gaps"] = events_lag_gaps

    def events_sessionization(spark, sf):
        # gap-based sessions: a >30-min silence starts a new session; session
        # id = running count of session starts per user (window cumsum)
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
        us = F.expr("unix_micros(to_utc_timestamp(ts, 'UTC'))")
        gap = us - F.lag(us).over(w)
        new_sess = F.when(gap.isNull() | (gap > 1800 * 1000000), 1).otherwise(0)
        wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        sess = F.sum(new_sess).over(wcum)
        per_session = (
            ev.withColumn("session_id", sess)
            .groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"))
        )
        return per_session.groupBy("user_id").agg(
            F.max("session_id").cast("long").alias("n_sessions"),
            F.max("n_events").alias("longest_session"),
        )

    q["events_sessionization"] = events_sessionization

    def events_value_band_join(spark, sf):
        # interval join (non-equi) via the binned equi-join operator: a plain
        # `v >= lo AND v < hi` predicate would plan as a nested-loop join;
        # range_join quantizes the axis so candidates come from an equi-join
        # on bin id (overlapping bands prove multi-membership works)
        from dsm2dtm_spark.operators.rangejoin import range_join

        ev = _t(spark, sf, "events").select("event_id", "value")
        bands = spark.createDataFrame(
            pd.DataFrame(
                {
                    "band": [f"b{k}" for k in range(10)],
                    "lo": [k * 40.0 for k in range(10)],
                    "hi": [k * 40.0 + 60.0 for k in range(10)],
                }
            )
        )
        return (
            range_join(ev, bands, "value", "lo", "hi", bin_size=40.0)
            .groupBy("band")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        )

    q["events_value_band_join"] = events_value_band_join

    def events_tumbling_windows(spark, sf):
        # the tumbling-window operator under the oracle gate: 10-min
        # windows align to epoch 0, which DuckDB replays as floor(epoch/600)
        from dsm2dtm_spark.streaming.windowed import windowed_event_counts

        ev = _t(spark, sf, "events")
        return windowed_event_counts(ev, window_len="10 minutes")

    q["events_tumbling_windows"] = events_tumbling_windows

    def exact_distinct_users(spark, sf):
        ev = _t(spark, sf, "events")
        return ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))

    q["exact_distinct_users"] = exact_distinct_users

    def approx_distinct_users(spark, sf):  # rows-only: sketch is engine-specific
        ev = _t(spark, sf, "events")
        return ev.groupBy("event_type").agg(F.approx_count_distinct("user_id", 0.02).alias("n_users_approx"))

    q["approx_distinct_users"] = approx_distinct_users

    # ---------------- documents: text analysis + dedup

    def docs_token_stats(spark, sf):
        import pyarrow.parquet as pq

        from dsm2dtm_spark.functions.text import quality_features

        # single-row-group input: without the round-robin spread the token
        # UDF + regex run on ONE task (measured 1.28 s vs ~0.2 s across 32
        # cores at sf1, r7 guide §2.5 input skew). Footer-row-gated: at
        # sf0.1's 5k docs the extra Exchange costs more than the one-task
        # penalty it removes (0.35 → 0.51 s measured), so small inputs keep
        # the plain scan — scale-adaptive, not tuned to either size.
        d = _t(spark, sf, "documents")
        n = pq.ParquetFile(os.path.join(sf, "documents.parquet")).metadata.num_rows
        if n >= 16_000:
            d = d.repartition(spark.sparkContext.defaultParallelism)
        return quality_features(d).select(
            "doc_id", "n_tokens", "avg_token_len", "punct_ratio", "stopword_ratio"
        )

    q["docs_token_stats"] = docs_token_stats

    def docs_lang_id(spark, sf):
        from dsm2dtm_spark.functions.text import language_id

        # spread the tokenize+explode off the single-row-group scan task (r7)
        d = _t(spark, sf, "documents").repartition(spark.sparkContext.defaultParallelism)
        return language_id(d).select("doc_id", "lang_pred", F.col("hits").cast("long").alias("hits"))

    q["docs_lang_id"] = docs_lang_id

    def docs_exact_dedup(spark, sf):
        from dsm2dtm_spark.operators.dedup import exact_dedup

        d = _t(spark, sf, "documents")
        return exact_dedup(d).select("doc_id")

    q["docs_exact_dedup"] = docs_exact_dedup

    def docs_fingerprints(spark, sf):
        d = _t(spark, sf, "documents")
        return d.select("doc_id", F.md5("text").alias("fp"))

    q["docs_fingerprints"] = docs_fingerprints

    def docs_jaccard_consecutive(spark, sf):
        # consecutive (doc_id, doc_id+1) pairs via ONE bucket exchange + a
        # lead() window (r7) — the join formulation shuffled the shingle
        # arrays twice and broadcast-collected a ~100 MB build side (plan:
        # BroadcastExchange over 50k gram arrays). Here each doc's text
        # moves once, keyed by doc_id div C; a boundary doc (doc_id % C = 0)
        # is exploded into the previous bucket too, so every consecutive
        # pair is interior to exactly one bucket (the duplicate is its
        # bucket's LAST row — lead() is null there, so it emits nothing).
        # Pair texts with a lead() window over the bucket exchange, THEN
        # pair texts first, then ONE Arrow UDF returns the intersect/union
        # CARDINALITIES per pair (r7): gram arrays never come back across
        # Arrow at all (8 bytes/row instead of 2-3x the text bytes) and the
        # JVM array_intersect/array_union over KB-scale arrays disappears;
        # division + round stay JVM-side, so the rounded value is
        # bit-identical by construction (see jaccard_counts_udf).
        # (ArrowEvalPython does not preserve child partitioning in Spark
        # 4.1, so a pre-window shingle forces a second full-gram Exchange —
        # measured, hence the pair-then-UDF order.)
        from dsm2dtm_spark.operators.dedup import jaccard_counts_udf

        bucket_w = 256
        d = _t(spark, sf, "documents")
        div = F.expr(f"doc_id div {bucket_w}")
        buckets = F.when(
            (F.pmod(F.col("doc_id"), F.lit(bucket_w)) == 0), F.array(div, div - 1)
        ).otherwise(F.array(div))
        keyed = d.select("doc_id", "text", F.explode(buckets).alias("_b"))
        w = Window.partitionBy("_b").orderBy("doc_id")
        paired = keyed.select(
            F.col("doc_id").alias("left_id"),
            "text",
            F.lead("doc_id").over(w).alias("right_id"),
            F.lead("text").over(w).alias("rtext"),
        ).filter(F.col("right_id") == F.col("left_id") + 1)
        cu = jaccard_counts_udf(3)
        withc = paired.select(
            "left_id",
            "right_id",
            cu(F.lower(F.col("text")), F.lower(F.col("rtext"))).alias("_c"),
        )
        jac = F.round(F.col("_c.i") / F.col("_c.u"), 4)
        return withc.select("left_id", "right_id", jac.alias("jaccard"))

    q["docs_jaccard_consecutive"] = docs_jaccard_consecutive

    def docs_dup_clusters(spark, sf):
        # duplicate CLUSTERS via distributed connected components (min-label
        # propagation + path halving) over the consecutive-pair jaccard graph
        # (edges: jaccard(doc, doc+1) >= 0.5). The Spark side is the generic
        # CC operator; the oracle exploits that this edge set is a chain, so
        # cluster_id = running max of run-start ids — a pure window in SQL.
        from dsm2dtm_spark.operators.dedup import connected_components, jaccard_counts_udf

        # same one-exchange bucket-window pair shape + pair-counts Arrow UDF
        # as docs_jaccard_consecutive (r7) — see there for the equivalence
        # argument; only the ≥0.5 edge filter and the CC differ
        bucket_w = 256
        d = _t(spark, sf, "documents")
        div = F.expr(f"doc_id div {bucket_w}")
        buckets = F.when(
            (F.pmod(F.col("doc_id"), F.lit(bucket_w)) == 0), F.array(div, div - 1)
        ).otherwise(F.array(div))
        keyed = d.select("doc_id", "text", F.explode(buckets).alias("_b"))
        wb = Window.partitionBy("_b").orderBy("doc_id")
        paired = keyed.select(
            F.col("doc_id").alias("left_id"),
            "text",
            F.lead("doc_id").over(wb).alias("right_id"),
            F.lead("text").over(wb).alias("rtext"),
        ).filter(F.col("right_id") == F.col("left_id") + 1)
        cu = jaccard_counts_udf(3)
        withc = paired.select(
            "left_id",
            "right_id",
            cu(F.lower(F.col("text")), F.lower(F.col("rtext"))).alias("_c"),
        )
        jac = F.round(F.col("_c.i") / F.col("_c.u"), 4)
        edges = withc.select("left_id", "right_id", jac.alias("j")).filter(F.col("j") >= 0.5)
        return connected_components(d.select("doc_id"), edges, id_col="doc_id")

    q["docs_dup_clusters"] = docs_dup_clusters

    def docs_minhash_near_dups(spark, sf):
        # the FULL MinHash-LSH pipeline (signatures → banded candidates →
        # exact Jaccard verify) in its md5 flavor — every step replays in
        # DuckDB, so this graduated from rows-only to hash-checked in r4;
        # the xxhash64 production flavor stays pinned by the flood pytests.
        # shingle_n=5 (r6): background 3-gram Jaccard between UNRELATED
        # same-language docs is ~0.19, which makes the banded candidate set
        # quadratic in corpus size (~11M false pairs at sf1's 50k docs —
        # measured; the sweep ground for 18+ min in the verify stage);
        # 5-gram background is ~0.06 → ~100× less false-candidate mass,
        # near-dup pairs still collide. The oracle replays the same 5-grams.
        from dsm2dtm_spark.operators.dedup import minhash_near_dups

        d = _t(spark, sf, "documents").repartition(spark.sparkContext.defaultParallelism)
        return minhash_near_dups(
            d, threshold=0.6, n_hashes=16, bands=4, method="md5", shingle_n=5
        )

    q["docs_minhash_near_dups"] = docs_minhash_near_dups

    def docs_incremental_dedup(spark, sf):
        # incremental cross-snapshot dedup: even doc_ids play the committed
        # corpus (signatures/bands materialized once — the SignatureStore
        # state), odd ids the fresh batch; the corpus TEXT is never
        # re-shingled (pinned by tests/test_incremental_dedup.py's plan
        # check). md5-string MinHash so DuckDB replays signatures, band
        # buckets, and the Jaccard estimator exactly.
        from dsm2dtm_spark.operators.incremental import band_buckets, dedup_against, sign_documents

        # one text shuffle, not two (r7): the corpus-side and fresh-side
        # checkpoints are SEPARATE AQE queries, so without this the
        # documents scan + repartition exchange executed once under each
        # (no cross-query exchange reuse). Checkpointing the repartitioned
        # table once makes every downstream branch narrow — the corpus/fresh
        # filters, the fingerprint projection and the signing UDF all read
        # the same cached blocks, and the later checkpoint calls stop
        # re-running a 50k-doc text shuffle each.
        d = (
            _t(spark, sf, "documents")
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=False)
        )
        corpus = d.filter(F.col("doc_id") % 2 == 0)
        # fresh batch = the odd docs + 10 re-crawled corpus docs (same text,
        # new ids) so the exact-fingerprint path is exercised — testdata has
        # no byte-identical dups of its own
        fresh = d.filter(F.col("doc_id") % 2 == 1).unionByName(
            d.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 20)).withColumn(
                "doc_id", F.col("doc_id") + 100000
            )
        )
        # localCheckpoint models the store: signatures are MATERIALIZED
        # state, computed once, not a subtree Catalyst re-derives per use.
        # Lazy (r7): eager=True serialized the whole corpus-signing job
        # ahead of everything else; lazy keeps compute-once semantics (the
        # checkpoint materializes at first use, then every consumer reads
        # the blocks) while the signing overlaps the fresh-side stages.
        # broadcast_fresh=False: this scenario is SYMMETRIC (batch ≈ corpus),
        # the shape the shuffle path is for — the broadcast-probe default
        # exists for the production small-batch-vs-huge-store ingest and its
        # driver round-trips only pay off when the store dwarfs the batch
        # (measured min-of-3 interleaved at sf0.1: 5.7 s vs 8.2 s here).
        sigs = sign_documents(corpus, method="md5").localCheckpoint(eager=False)
        decisions, _ = dedup_against(
            fresh, sigs, band_buckets(sigs), method="md5", threshold=0.75, broadcast_fresh=False
        )
        return decisions.select("doc_id", "verdict")

    q["docs_incremental_dedup"] = docs_incremental_dedup

    def docs_incremental_dedup_bucketed(spark, sf):
        # the name stays for the frozen query registry; the hive-bucketed
        # store layout it once exercised is gone. The SAME scenario as
        # docs_incremental_dedup, but the committed state is a persisted
        # SignatureStore (snapshot tables under a temp root) that the
        # store-backed step the ingest job runs bootstraps; the batch then
        # dedups through that step without committing, on the shuffle path
        # (batch ≈ corpus). Same oracle as docs_incremental_dedup.
        import hashlib
        import shutil
        import tempfile

        from dsm2dtm_spark.operators.incremental import SignatureStore, incremental_dedup

        # same one-shuffle checkpoint as docs_incremental_dedup (r7): the
        # store append and the fresh-side dedup otherwise each re-run the
        # documents scan + repartition exchange under their own AQE queries
        d = (
            _t(spark, sf, "documents")
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=False)
        )
        corpus = d.filter(F.col("doc_id") % 2 == 0)
        fresh = d.filter(F.col("doc_id") % 2 == 1).unionByName(
            d.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 20)).withColumn(
                "doc_id", F.col("doc_id") + 100000
            )
        )
        # FIXED per-sf root, rebuilt at call start: each call tears down
        # the previous call's store, capping the leak at one store per sf dir
        root = os.path.join(
            tempfile.gettempdir(),
            f"q_sigstore_{hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:8]}",
        )
        shutil.rmtree(root, ignore_errors=True)
        store = SignatureStore(root, method="md5")
        incremental_dedup(store, corpus)
        decisions = incremental_dedup(store, fresh, threshold=0.75, commit=False, broadcast_fresh=False)
        return decisions.select("doc_id", "verdict")

    q["docs_incremental_dedup_bucketed"] = docs_incremental_dedup_bucketed

    def docs_decontam(spark, sf):
        # benchmark decontamination: every 7th doc plays the eval set; flag
        # training docs sharing any complete word 13-gram with it. String
        # grams (hashed=False) so DuckDB replays the join exactly; the
        # production path hashes grams to xxhash64 (same candidates).
        from dsm2dtm_spark.operators.decontam import ngram_contamination

        d = _t(spark, sf, "documents").repartition(spark.sparkContext.defaultParallelism)
        ev = d.filter(F.col("doc_id") % 7 == 0)
        train = d.filter(F.col("doc_id") % 7 != 0)
        # dedup_eval=False (r7): this eval side is per-doc-distinct grams
        # over a bounded corpus slice, and count_distinct downstream makes
        # the result provably identical — skipping the eval-distinct
        # Exchange measured 2.05 → 1.53 s at sf1. The distinct stays the
        # DEFAULT for production eval suites with boilerplate floods.
        return ngram_contamination(train, ev, n=13, hashed=False, dedup_eval=False)

    q["docs_decontam"] = docs_decontam

    def docs_global_shuffle(spark, sf):
        # deterministic training-order permutation: distributed bucket-wise
        # ranking (256-way parallel sort + tiny offset cumsum), identical to
        # the oracle's single global ROW_NUMBER by construction. No upfront
        # repartition (r7): the operator's own bucket shuffle spreads the
        # work, and column pruning leaves only doc_id flowing anyway — the
        # extra Exchange bought nothing.
        d = _t(spark, sf, "documents")
        from dsm2dtm_spark.operators.sampling import global_shuffle

        return global_shuffle(d, "doc_id", seed=42).select("doc_id", "shuffle_rank")

    q["docs_global_shuffle"] = docs_global_shuffle

    def docs_mixture_sample(spark, sf):
        # per-source temperature-style mixture draw with fixed rates: pure
        # string-threshold Bernoulli on the md5 permutation key — zero
        # joins, reproducible at any cluster size
        from dsm2dtm_spark.operators.sampling import mixture_sample

        d = _t(spark, sf, "documents")
        rates = {"en": 0.5, "de": 0.75, "es": 0.25, "fr": 1.0, "zh": 0.1}
        return mixture_sample(d, rates, source_col="lang", seed=7).select("doc_id", "lang")

    q["docs_mixture_sample"] = docs_mixture_sample

    def docs_scrub_pii(spark, sf):
        # PII redaction (emails → IPs → phones, counts measured at each
        # stage): testdata has no PII, so a deterministic leak is appended
        # to every 10th doc in BOTH engines; compare counts + a fingerprint
        # of the scrubbed text
        from dsm2dtm_spark.functions.text import scrub_pii

        # spread the 3-pattern regex scrub off the single scan task (r7)
        d = _t(spark, sf, "documents").repartition(
            spark.sparkContext.defaultParallelism
        ).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(
                    F.col("text"),
                    F.lit(" contact admin@example.com or root@10.0.0.1 via 10.1.2.3 call +1 (415) 555-0199"),
                ),
            ).otherwise(F.col("text")),
        )
        return scrub_pii(d).select(
            "doc_id", "n_emails", "n_ips", "n_phones", F.md5("text_clean").alias("clean_fp")
        )

    q["docs_scrub_pii"] = docs_scrub_pii

    def docs_repeated_passages(spark, sf):
        # passage-level repetition: sliding 8-token windows every 4 tokens,
        # a window is 'repeated' when its hash occurs in ≥2 distinct docs
        from dsm2dtm_spark.operators.dedup import repeated_passage_stats

        d = _t(spark, sf, "documents").repartition(spark.sparkContext.defaultParallelism)
        return repeated_passage_stats(d, window=8, stride=4)

    q["docs_repeated_passages"] = docs_repeated_passages

    def docs_simhash(spark, sf):
        # md5 flavor: token-hash bits come from two 32-bit md5-hex halves —
        # DuckDB replays them via ('0x'||substr(md5(tok),…))::BIGINT, so the
        # 64 bit-sums and the final assembly are hash-checked (r4; was
        # rows-only under xxhash64)
        from dsm2dtm_spark.operators.dedup import simhash64

        d = _t(spark, sf, "documents").repartition(spark.sparkContext.defaultParallelism)
        return simhash64(d, method="md5")

    q["docs_simhash"] = docs_simhash

    # ---------------- embeddings: similarity search

    def emb_norm_stats(spark, sf):
        e = _t(spark, sf, "embeddings")
        v = F.col("embedding").cast("array<double>")
        norm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, b: a + b))
        return e.groupBy("label").agg(F.count("*").alias("n"), F.round(F.avg(norm), 4).alias("avg_norm"))

    q["emb_norm_stats"] = emb_norm_stats

    def emb_topk_cosine(spark, sf):
        from dsm2dtm_spark.operators.simsearch import brute_force_topk

        e = _t(spark, sf, "embeddings")
        queries_df = e.filter(F.col("vec_id") < 5).selectExpr("vec_id AS query_id", "embedding")
        # single-row-group input: spread the 100k-pair scoring off the one
        # scan task (measured 1.1 -> 0.4 s at sf1, r7); queries stay on the
        # pruned scan (5 rows)
        return brute_force_topk(
            e.repartition(spark.sparkContext.defaultParallelism), queries_df, k=5
        ).select("query_id", "neighbor_id", "rank")

    q["emb_topk_cosine"] = emb_topk_cosine

    def emb_highsim_pairs(spark, sf):
        # embedding-cosine near-dup pairs (threshold tuned to the corpus —
        # testdata embeddings have no true dups, max off-diag cosine ≈ 0.51).
        # Engine path (r6): blocked exact matmul — at threshold 0.45 the
        # delta=1e-6 recall bound forces SRP-LSH to 2 planes × 32 tables,
        # which collides ~100% of all pairs (~1.6e9 candidate rows at sf1,
        # measured as a single-task shuffle grind); the blocked GEMM is the
        # right physical plan for an exact low-threshold answer, and its
        # survivors re-score through the same _dot aggregate the oracle
        # parity rides on. The DuckDB oracle stays the exact all-pairs form.
        from dsm2dtm_spark.operators.simsearch import cosine_pairs

        e = _t(spark, sf, "embeddings")
        # footer row count sizes the GEMM blocks without a full corpus pass
        return cosine_pairs(
            e, threshold=0.45, round_digits=4, method="blocked", n_rows=_emb_rows(sf)
        )

    q["emb_highsim_pairs"] = emb_highsim_pairs

    def emb_cosine_dedup(spark, sf):
        from dsm2dtm_spark.operators.simsearch import cosine_dedup

        e = _t(spark, sf, "embeddings")
        # threshold tuned to the corpus (max off-diag cosine ≈ 0.51) so the
        # dedup path actually drops rows; blocked exact candidates vs the
        # exact oracle (see emb_highsim_pairs for why LSH loses here)
        return cosine_dedup(
            e, threshold=0.45, method="blocked", n_rows=_emb_rows(sf)
        ).select("vec_id", "label")

    q["emb_cosine_dedup"] = emb_cosine_dedup

    def emb_cosine_dedup_leader(spark, sf):
        # keep-one-per-cluster dedup: similarity pairs → connected
        # components → only each cluster's min-id leader survives (vs the
        # 'any' policy, which also drops chain members the leader never
        # directly matched). Oracle: recursive-CTE transitive closure.
        from dsm2dtm_spark.operators.simsearch import cosine_dedup

        e = _t(spark, sf, "embeddings")
        return cosine_dedup(
            e, threshold=0.45, method="blocked", policy="leader", n_rows=_emb_rows(sf)
        ).select("vec_id", "label")

    q["emb_cosine_dedup_leader"] = emb_cosine_dedup_leader

    def emb_ivf_topk(spark, sf):
        # approximate by design, but fully deterministic: the oracle replays
        # the SAME inverted-list assignment from the materialized centroids
        # (ann_centroids.parquet == what the Arrow UDF regenerates), so the
        # whole IVF pipeline — assign, probe 4 lists, exact rerank — is
        # hash-checked in SQL, not rows-only
        from dsm2dtm_spark.operators.simsearch import ivf_topk

        _ensure_contract_tables()
        e = _t(spark, sf, "embeddings")
        queries_df = e.filter(F.col("vec_id") < 5).selectExpr("vec_id AS query_id", "embedding")
        # explicit (n_centroids, nprobe): the oracle replays THESE lists from
        # ann_centroids.parquet; auto-derivation (nprobe=None) is covered by
        # tests/test_scale_features.py + BENCH/ann_recall.json
        return ivf_topk(e, queries_df, k=5, n_centroids=16, nprobe=4)

    q["emb_ivf_topk"] = emb_ivf_topk

    def emb_lsh_topk(spark, sf):
        # same story as emb_ivf_topk: SRP buckets replayed from
        # ann_planes.parquet in DuckDB → candidate set and rerank are exact
        from dsm2dtm_spark.operators.simsearch import lsh_topk

        _ensure_contract_tables()
        e = _t(spark, sf, "embeddings")
        queries_df = e.filter(F.col("vec_id") < 5).selectExpr("vec_id AS query_id", "embedding")
        # explicit (n_planes, n_tables): the oracle replays THESE tables from
        # ann_planes.parquet; auto-derivation is covered separately (above)
        return lsh_topk(e, queries_df, k=5, n_planes=6, n_tables=8)

    q["emb_lsh_topk"] = emb_lsh_topk

    def _ann_store_for(spark, sf, kind):
        # persisted-index twin of the emb_*_topk queries: the corpus is
        # indexed ONCE (two appends, so the contract certifies the
        # INCREMENTAL path) into an AnnIndexStore under a per-sf temp root,
        # and the query runs against the committed postings — no corpus
        # re-hash. Reused across invocations while the FIXTURE KEY matches
        # (bench reruns hit the committed index, which is the behavior
        # being measured); the key is the md5 of the embeddings parquet's
        # bytes, NOT the row count — a regenerated fixture with the same row
        # count but different vectors must rebuild (a stale index answered
        # from old vectors when only rows were compared; caught by the r7
        # sf1 re-sweep after the make_sf l_linenumber fix shifted the
        # generator's rng stream). Bytes, not stat fields: a re-touch of the
        # same bytes must keep the index, and a same-size rewrite with its
        # mtime restored must not. Not the parquet footer alone: two files
        # with different vectors can share chunk sizes and min/max stats.
        import hashlib
        import shutil
        import tempfile

        import pyarrow.parquet as pq

        from dsm2dtm_spark.operators.annstore import AnnIndexStore

        emb_path = os.path.join(sf, "embeddings.parquet")
        n_rows = pq.ParquetFile(emb_path).metadata.num_rows
        digest = hashlib.md5()
        with open(emb_path, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                digest.update(block)
        fixture_key = digest.hexdigest()
        root = os.path.join(
            tempfile.gettempdir(),
            f"q_annstore_{kind}_{hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:8]}",
        )
        key_file = os.path.join(root, "fixture_key.txt")
        store = AnnIndexStore(root)
        try:
            key_matches = open(key_file).read() == fixture_key
        except OSError:
            key_matches = False
        if store.exists() and store.row_count() == n_rows and key_matches:
            return store
        shutil.rmtree(root, ignore_errors=True)
        # defaults == the in-flight operators' quantizer (ivf: 16 centroids
        # seed 13; lsh: 6 planes × 8 tables seed 7) == the materialized
        # ann_centroids/ann_planes oracle twins
        store = AnnIndexStore.create(root, kind=kind)
        e = _t(spark, sf, "embeddings")
        store.append(e.filter(F.col("vec_id") % 2 == 0))
        store.append(e.filter(F.col("vec_id") % 2 == 1))
        with open(key_file, "w") as f:
            f.write(fixture_key)
        return store

    def emb_ivf_topk_persisted(spark, sf):
        # same plan shape and SAME ORACLE as emb_ivf_topk, but the inverted
        # lists come from the COMMITTED AnnIndexStore (hive-partitioned
        # postings) instead of an in-flight corpus re-hash — the driver
        # certifies the persisted index returns identical tuples
        return _ann_store_for(spark, sf, "ivf").topk(
            spark,
            _t(spark, sf, "embeddings").filter(F.col("vec_id") < 5).selectExpr(
                "vec_id AS query_id", "embedding"
            ),
            k=5,
            nprobe=4,
        )

    q["emb_ivf_topk_persisted"] = emb_ivf_topk_persisted

    def emb_lsh_topk_persisted(spark, sf):
        # persisted SRP index: narrow (vec_id, bucket) postings + a vectors
        # table for the exact rerank; oracle identical to emb_lsh_topk
        return _ann_store_for(spark, sf, "lsh").topk(
            spark,
            _t(spark, sf, "embeddings").filter(F.col("vec_id") < 5).selectExpr(
                "vec_id AS query_id", "embedding"
            ),
            k=5,
        )

    q["emb_lsh_topk_persisted"] = emb_lsh_topk_persisted

    # ---------------- image table: metadata, cells, tiles, joins, kNN

    def img_meta_stats(spark, sf):
        img = _images(spark)
        return img.groupBy("fmt").agg(
            F.count("*").alias("n"),
            F.sum(F.col("w").cast("long") * F.col("h")).alias("pixels"),
            F.countDistinct("phash").alias("n_phash"),
        )

    q["img_meta_stats"] = img_meta_stats

    def img_phash_dedup(spark, sf):
        img = _images(spark)
        w = Window.partitionBy("phash").orderBy("image_id")
        return img.withColumn("rn", F.row_number().over(w)).filter("rn = 1").select("image_id", "phash")

    q["img_phash_dedup"] = img_phash_dedup

    def img_phash_hamming_pairs(spark, sf):
        # exact near-dup pairs by perceptual hash: pigeonhole-banded
        # equi-join (recall 1 by construction for dist < n_bands) + one
        # bit_count(xor) verify — the corpus-scale image-dedup shape; the
        # oracle is the all-pairs form
        from dsm2dtm_spark.operators.dedup import hamming_near_dup_pairs

        img = _images(spark)
        return hamming_near_dup_pairs(img, max_dist=3, id_col="image_id", hash_col="phash")

    q["img_phash_hamming_pairs"] = img_phash_hamming_pairs

    def img_cell_ids(spark, sf):
        img = _images(spark)
        return img.select("image_id", cell_expr(F.col("lon0"), F.col("lat0"), 12).alias("cell_id"))

    q["img_cell_ids"] = img_cell_ids

    def img_tile_assignments(spark, sf):
        from dsm2dtm_spark.operators.tiling import tile_assignments

        img = _images(spark)
        return tile_assignments(img, tile_px=32, cell_res=14)

    q["img_tile_assignments"] = img_tile_assignments

    def img_snapshot_pruned_scan(spark, sf):
        # Iceberg-style file skipping: the snapshot manifest's footer stats
        # prune whole files before Spark lists them (one commit per width ⇒
        # w >= 64 provably skips the w=50 file); the same predicate is
        # re-applied, so results ≡ full scan + WHERE (the oracle's form)
        from dsm2dtm_spark.sources import SnapshotTable

        _ensure_contract_tables()
        _ship_engine(spark)
        t = SnapshotTable(_IMG_TABLE)
        df = t.read(spark, where=[("w", ">=", 64)])
        return df.groupBy("fmt", "w").agg(
            F.count("*").alias("n"), F.countDistinct("phash").alias("n_phash")
        )

    q["img_snapshot_pruned_scan"] = img_snapshot_pruned_scan

    def img_spatial_join_rect(spark, sf):
        from dsm2dtm_spark.operators.spatial import spatial_join_tiles

        _ensure_contract_tables()
        img = _images(spark)
        fp = spark.read.parquet(_FOOTPRINTS_PQ).filter(F.col("kind") == "rect")
        centers = img.select(
            "image_id",
            F.lit(0).alias("tile_row"),
            F.lit(0).alias("tile_col"),
            F.col("lon0").alias("lon_c"),
            F.col("lat0").alias("lat_c"),
        )
        return spatial_join_tiles(fp, centers).select("footprint_id", "image_id")

    q["img_spatial_join_rect"] = img_spatial_join_rect

    def img_knn_anchors(spark, sf):
        from dsm2dtm_spark.operators.spatial import knn_join

        _ensure_contract_tables()
        img = _images(spark)
        queries_df = spark.read.parquet(_KNN_PQ).select("query_id", "x", "y")
        points = img.select(F.col("image_id").alias("point_id"), F.col("lon0").alias("x"), F.col("lat0").alias("y"))
        return knn_join(queries_df, points, k=4).select("query_id", "point_id", "rank")

    q["img_knn_anchors"] = img_knn_anchors

    def img_zonal_rect_stats(spark, sf):
        # raster↔vector zonal statistics: per-(footprint, image) stats of
        # raster pixels whose centers fall inside the rect zone — cell-cover
        # broadcast equi-join + one decode/mask/aggregate UDF pass. The
        # oracle replays it at PIXEL level from the materialized pixel table
        # (pixels_16.parquet) with the same IEEE pixel-center arithmetic.
        from dsm2dtm_spark.operators.zonal import zonal_stats

        _ensure_contract_tables()
        fp = spark.read.parquet(_FOOTPRINTS_PQ).filter(F.col("kind") == "rect")
        return zonal_stats(_images(spark), fp)

    q["img_zonal_rect_stats"] = img_zonal_rect_stats

    def img_point_sample(spark, sf):
        # raster value AT each query point (nearest pixel): cell equi-join
        # candidates + integer-index sampling; the oracle recomputes the
        # floor-of-IEEE-division pixel index in SQL and joins the
        # materialized pixel table — an exact integer match
        from dsm2dtm_spark.operators.zonal import point_sample

        _ensure_contract_tables()
        pts = spark.read.parquet(_SAMPLE_PTS_PQ)
        return point_sample(_images(spark), pts)

    q["img_point_sample"] = img_point_sample

    def img_slope_shade_stats(spark, sf):
        # terrain derivatives (slope + trig-free hillshade) from central
        # differences; the oracle replays the gradients via 4 pixel-table
        # self-joins with the identical IEEE expressions, so the n_flat /
        # n_steep threshold counts are exact, not rounded
        from dsm2dtm_spark.operators.terrain import slope_shade_stats

        return slope_shade_stats(_images(spark))

    q["img_slope_shade_stats"] = img_slope_shade_stats

    def img_aspect_octants(spark, sf):
        # aspect without atan2: downslope octant (45° sector) decided by
        # sign/magnitude comparisons on the same bit-exact gradients the
        # slope query uses — every count exact, no rounding anywhere
        from dsm2dtm_spark.operators.terrain import aspect_octants

        return aspect_octants(_images(spark))

    q["img_aspect_octants"] = img_aspect_octants

    def img_elevation_bands(spark, sf):
        # contour-interval histogram: floor(value / 10 m) per valid pixel —
        # exact counts (identical IEEE division + floor on both engines)
        from dsm2dtm_spark.operators.terrain import elevation_bands

        return elevation_bands(_images(spark), band_m=10.0)

    q["img_elevation_bands"] = img_elevation_bands

    def img_curvature_stats(spark, sf):
        # Laplacian curvature (third terrain derivative): identical IEEE
        # association on both engines → exact convex/concave counts
        from dsm2dtm_spark.operators.terrain import curvature_stats

        return curvature_stats(_images(spark))

    q["img_curvature_stats"] = img_curvature_stats

    def fp_overlap_pairs(spark, sf):
        # vector×vector spatial self-join: overlapping footprint-bbox pairs
        # with exact intersection area — cell-cover equi-join candidates,
        # pure-JVM least/greatest predicate; overlap_area is bit-exact (no
        # rounding), the oracle is the naive quadratic join
        from dsm2dtm_spark.operators.spatial import footprint_overlap_pairs

        _ensure_contract_tables()
        _ship_engine(spark)  # the cover UDF imports dsm2dtm_spark on executors
        return footprint_overlap_pairs(spark.read.parquet(_FOOTPRINTS_PQ))

    q["fp_overlap_pairs"] = fp_overlap_pairs

    def docs_pack_sequences(spark, sf):
        # LLM sequence packing ("concat then chunk"): bucketed window cumsum
        # over token counts — the only shuffle is the bucket exchange; the
        # oracle replays the identical window in SQL
        from dsm2dtm_spark.operators.packing import pack_documents

        return pack_documents(_t(spark, sf, "documents"), budget_tokens=512, n_buckets=16)

    q["docs_pack_sequences"] = docs_pack_sequences

    def docs_stratified_sample(spark, sf):
        # reproducible per-stratum quota sampling (md5-permutation rank):
        # the curation primitive behind "cap each language at N docs" —
        # deterministic across reruns and cluster sizes, exact SQL replay
        from dsm2dtm_spark.operators.sampling import stratified_sample

        docs = _t(spark, sf, "documents")
        return stratified_sample(docs, "lang", 25, "doc_id").select(
            "doc_id", "lang", "sample_rank"
        )

    q["docs_stratified_sample"] = docs_stratified_sample

    def img_ndsm_stats(spark, sf):
        # normalized DSM (DSM − DTM): full pipeline per image, then
        # height-above-ground stats; oracle = committed golden-clone parquet
        # produced by the same ndsm_numpy (the parity axis, like
        # dtm_pipeline_metrics)
        from dsm2dtm_spark.operators.terrain import ndsm_stats

        img = _images(spark).filter(F.col("image_id") < _DTM_METRICS_CUTOFF)
        return ndsm_stats(img, radius_m=40.0)

    q["img_ndsm_stats"] = img_ndsm_stats

    def img_overview_pyramid(spark, sf):
        # 2-level overview pyramid (GDAL average resampling: level k = mean
        # of valid BASE pixels under the cell); the oracle chains GROUP BY
        # py//2, px//2 CTEs carrying (sum, count) — order-independent exact
        # sums on both sides (float32-exact addends)
        from dsm2dtm_spark.operators.terrain import build_overviews

        img = _images(spark).filter(F.col("image_id") < _OVERVIEW_CUTOFF)
        return build_overviews(img, levels=2)

    q["img_overview_pyramid"] = img_overview_pyramid

    def img_grid_composite(spark, sf):
        # mosaic rollup onto a shared lon/lat lattice: per-(image, cell)
        # partials from one decode pass (map-side combine), JVM groupBy
        # combine — the oracle floors the same IEEE pixel-center coords
        from dsm2dtm_spark.operators.terrain import grid_composite

        return grid_composite(_images(spark), cell_deg=0.05)

    q["img_grid_composite"] = img_grid_composite

    def dtm_pipeline_metrics(spark, sf):
        # flagship pixel pipeline, hash-checked: the oracle is a committed
        # golden-clone metrics parquet (dtm_golden_metrics.parquet, generated
        # single-node at fixture time) — the distributed plan must reproduce
        # it exactly, which IS the engine's parity axis (SURVEY.md §5)
        from dsm2dtm_spark.plans import dtm_transform

        img = _images(spark).filter(F.col("image_id") < _DTM_METRICS_CUTOFF)
        return dtm_transform(img, radius_m=40.0).select("image_id", "fmt", "valid_in", "valid_out")

    q["dtm_pipeline_metrics"] = dtm_pipeline_metrics

    return q


# -------------------------------------------------------------------- oracle


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["q1_pricing_summary"] = f"""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '{SHIP_CUTOFF} 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """

    o["q3_top_revenue_orders"] = """
        SELECT o_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """

    o["q5_nation_volume"] = """
        SELECT r_name, n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey
        GROUP BY r_name, n_name
    """

    o["q17_small_quantity_revenue"] = """
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly, COUNT(*) AS n_lines
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN (SELECT l_partkey, ROUND(0.2 * AVG(l_quantity), 6) AS qlim
              FROM lineitem GROUP BY l_partkey) q USING (l_partkey)
        WHERE p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity < qlim
    """

    o["q18_large_volume_orders"] = """
        SELECT c_name, o_orderkey, ROUND(o_totalprice, 2) AS price, total_qty FROM (
            SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS total_qty
            FROM lineitem GROUP BY l_orderkey HAVING ROUND(SUM(l_quantity), 2) > 120
        ) big
        JOIN orders ON o_orderkey = big.l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY total_qty DESC, o_orderkey ASC
        LIMIT 20
    """

    o["broadcast_region_customers"] = """
        SELECT r_name, COUNT(*) AS n_customers, ROUND(AVG(c_acctbal), 2) AS avg_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """

    o["window_top3_orders_per_customer"] = """
        SELECT o_custkey, o_orderkey, CAST(rn AS INTEGER) AS rn, ROUND(o_totalprice, 2) AS price FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
            FROM orders
        ) WHERE rn <= 3
    """

    o["rollup_lineitem_flags"] = """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """

    o["cube_images_fmt_scenario"] = f"""
        SELECT COALESCE(fmt, 'ALL') AS fmt, COALESCE(scenario, 'ALL') AS scenario,
               COUNT(*) AS n, CAST(SUM(CAST(w AS BIGINT) * h) AS BIGINT) AS pixels
        FROM read_parquet('{_IMAGES_PQ}') GROUP BY CUBE (fmt, scenario)
    """

    o["intersect_active_buyers"] = """
        SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    """

    o["anti_join_no_big_order"] = """
        SELECT c_mktsegment, COUNT(*) AS n_cust, ROUND(AVG(c_acctbal), 2) AS avg_bal
        FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        GROUP BY c_mktsegment
    """

    o["semi_join_discounted_orders"] = """
        SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_discount >= 0.08)
        GROUP BY o_orderpriority
    """

    o["except_low_value_custkeys"] = """
        SELECT DISTINCT o_custkey AS custkey FROM (
            SELECT o_custkey FROM orders
            EXCEPT ALL
            SELECT o_custkey FROM orders WHERE o_totalprice > 200000
        )
    """

    o["utm_zone_histogram"] = """
        SELECT CAST(CASE WHEN lat < 0 THEN 32700 ELSE 32600 END
                    + (CAST(FLOOR((lon + 180.0) / 6.0) AS BIGINT) % 60 + 1) AS BIGINT) AS epsg,
               COUNT(*) AS n
        FROM (SELECT (c_custkey % 360) - 180 + 0.5 AS lon,
                     ((c_custkey * 7) % 180) - 90 + 0.5 AS lat
              FROM customer)
        GROUP BY 1
    """

    cell12 = cell_encode_sql("lon", "lat", 12)
    o["cell_encode_events"] = f"""
        SELECT {cell12} AS cell_id, COUNT(*) AS n
        FROM (SELECT ((user_id * 37) % 360) - 180 + 0.25 AS lon,
                     ((user_id * 13) % 180) - 90 + 0.25 AS lat
              FROM events)
        GROUP BY 1
    """

    o["events_daily_by_type"] = """
        SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """

    o["events_user_rank_by_type"] = """
        SELECT event_type, user_id, total, CAST(rnk AS INTEGER) AS rnk FROM (
            SELECT event_type, user_id, ROUND(SUM(value), 2) AS total,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY ROUND(SUM(value), 2) DESC, user_id ASC) AS rnk
            FROM events GROUP BY event_type, user_id
        ) WHERE rnk <= 5
    """

    o["events_value_quantiles"] = """
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 4) AS p50,
               ROUND(quantile_cont(value, 0.9), 4) AS p90,
               ROUND(quantile_cont(value, 0.99), 4) AS p99
        FROM events GROUP BY event_type
    """

    o["orders_per_month"] = """
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS volume
        FROM orders GROUP BY 1
    """

    o["customer_string_functions"] = """
        SELECT c_custkey,
               UPPER(c_name) AS name_upper,
               substr(c_name, 1, 8) AS name_prefix,
               concat_ws('|', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
               CAST(length(c_name) AS BIGINT) AS name_len
        FROM customer
    """

    o["events_json_props"] = """
        SELECT event_type,
               ROUND(AVG(k), 3) AS avg_k,
               CAST(MAX(k) AS BIGINT) AS max_k,
               COUNT(CASE WHEN k > 50 THEN 1 END) AS n_high
        FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS INTEGER) AS k FROM events)
        GROUP BY event_type
    """

    o["events_lag_gaps"] = """
        SELECT event_type,
               ROUND(CAST(SUM(gap_us) AS DOUBLE) / 1000000.0 / COUNT(*), 2) AS avg_gap_s,
               COUNT(*) AS n_gaps
        FROM (
            SELECT event_type,
                   epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) AS gap_us
            FROM events
        ) WHERE gap_us IS NOT NULL
        GROUP BY event_type
    """

    o["events_sessionization"] = """
        WITH g AS (
            SELECT user_id, event_id, ts,
                   epoch_us(ts) - epoch_us(LAG(ts) OVER
                       (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) AS gap_us
            FROM events
        ),
        s AS (
            SELECT user_id,
                   SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM g
        ),
        per_session AS (
            SELECT user_id, session_id, COUNT(*) AS n_events FROM s GROUP BY user_id, session_id
        )
        SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, MAX(n_events) AS longest_session
        FROM per_session GROUP BY user_id
    """

    band_values = ", ".join(f"('b{k}', {k * 40.0}, {k * 40.0 + 60.0})" for k in range(10))
    o["events_value_band_join"] = f"""
        WITH bands(band, lo, hi) AS (VALUES {band_values})
        SELECT band, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
        FROM events JOIN bands ON value >= lo AND value < hi
        GROUP BY band
    """

    o["events_tumbling_windows"] = """
        SELECT strftime(to_timestamp(CAST(FLOOR(epoch(ts) / 600) AS BIGINT) * 600),
                        '%Y-%m-%d %H:%M:%S') AS win_start,
               event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """

    o["exact_distinct_users"] = """
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY event_type
    """

    # approx_distinct_users: intentionally no oracle (sketch-based)

    o["docs_token_stats"] = """
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               ROUND((length(text) - len(toks) + 1) / len(toks), 3) AS avg_token_len,
               ROUND((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text), 4)
                   AS punct_ratio,
               ROUND(len(list_filter(toks, t -> list_contains(
                   ['the','and','of','to','is','in','that','it','was','for'], t))) / len(toks), 4)
                   AS stopword_ratio
        FROM (SELECT doc_id, text,
                     list_filter(string_split(lower(text), ' '), t -> t != '') AS toks
              FROM documents)
    """

    lex_values = ", ".join(f"('{lang}', '{w}')" for lang, ws in STOPWORDS.items() for w in ws)
    o["docs_lang_id"] = f"""
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t != '')) AS word
            FROM documents
        ),
        lex(lang_cand, word) AS (VALUES {lex_values}),
        votes AS (
            SELECT doc_id, lang_cand, COUNT(*) AS hits
            FROM toks JOIN lex USING (word) GROUP BY doc_id, lang_cand
        ),
        best AS (
            SELECT doc_id, lang_cand, hits,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang_cand ASC) AS rn
            FROM votes
        )
        SELECT d.doc_id,
               COALESCE(b.lang_cand, 'und') AS lang_pred,
               CAST(COALESCE(b.hits, 0) AS BIGINT) AS hits
        FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    """

    o["docs_exact_dedup"] = """
        SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
            FROM documents
        ) WHERE rn = 1
    """

    o["docs_fingerprints"] = "SELECT doc_id, md5(text) AS fp FROM documents"

    o["docs_jaccard_consecutive"] = """
        WITH sh AS (
            SELECT d.doc_id,
                   list_distinct(list_transform(
                       generate_series(1, greatest(length(d.text) - 2, 1)),
                       i -> substr(lower(d.text), CAST(i AS INTEGER), 3))) AS grams
            FROM documents d
        )
        SELECT a.doc_id AS left_id, b.doc_id AS right_id,
               ROUND(len(list_intersect(a.grams, b.grams))
                     / len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """

    o["docs_incremental_dedup"] = """
        WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        fresh AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
            UNION ALL
            SELECT doc_id + 100000 AS doc_id, text FROM documents
            WHERE doc_id % 2 = 0 AND doc_id < 20
        ),
        univ AS (SELECT * FROM corpus UNION ALL SELECT * FROM fresh),
        sh AS (
            SELECT d.doc_id, unnest(list_distinct(list_transform(
                generate_series(1, greatest(length(d.text) - 2, 1)),
                i -> substr(lower(d.text), CAST(i AS INTEGER), 3)))) AS gram
            FROM univ d
        ),
        comps AS (
            SELECT sh.doc_id, t.i, MIN(md5(CAST(t.i AS VARCHAR) || ':' || sh.gram)) AS comp
            FROM sh CROSS JOIN (SELECT CAST(range AS BIGINT) AS i FROM range(16)) t
            GROUP BY sh.doc_id, t.i
        ),
        bands AS (
            SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
                   md5(string_agg(comp, '|' ORDER BY i)) AS bucket
            FROM comps GROUP BY doc_id, i // 4
        ),
        exact AS (
            SELECT f.doc_id FROM fresh f
            WHERE md5(f.text) IN (SELECT md5(text) FROM corpus)
        ),
        remaining AS (
            SELECT doc_id FROM fresh WHERE doc_id NOT IN (SELECT doc_id FROM exact)
        ),
        cand AS (
            SELECT DISTINCT fb.doc_id, cb.doc_id AS cid
            FROM bands fb
            JOIN remaining USING (doc_id)
            JOIN bands cb ON cb.band = fb.band AND cb.bucket = fb.bucket
            JOIN corpus ci ON ci.doc_id = cb.doc_id
        ),
        near AS (
            SELECT DISTINCT doc_id FROM (
                SELECT c.doc_id, c.cid,
                       AVG(CASE WHEN fc.comp = cc.comp THEN 1.0 ELSE 0.0 END) AS est
                FROM cand c
                JOIN comps fc ON fc.doc_id = c.doc_id
                JOIN comps cc ON cc.doc_id = c.cid AND cc.i = fc.i
                GROUP BY c.doc_id, c.cid
            ) WHERE est >= 0.75
        )
        SELECT doc_id, 'exact' AS verdict FROM exact
        UNION ALL
        SELECT doc_id, 'near' AS verdict FROM near
        UNION ALL
        SELECT doc_id, 'keep' AS verdict FROM remaining
        WHERE doc_id NOT IN (SELECT doc_id FROM near)
    """

    # the persisted-store twin computes the identical decisions — one SQL
    # replay certifies both the in-memory and the persisted store state
    o["docs_incremental_dedup_bucketed"] = o["docs_incremental_dedup"]

    o["docs_decontam"] = """
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t != '') AS tk
            FROM documents
        ),
        grams AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                generate_series(1, len(tk) - 12),
                i -> array_to_string(list_slice(tk, i, i + 12), ' ')))) AS g
            FROM toks WHERE len(tk) >= 13
        ),
        ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 7 = 0)
        SELECT t.doc_id, COUNT(DISTINCT t.g) AS n_matched
        FROM grams t JOIN ev USING (g)
        WHERE t.doc_id % 7 != 0
        GROUP BY t.doc_id
    """

    o["docs_global_shuffle"] = """
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS shuffle_rank
        FROM documents
    """

    # thresholds = rate_threshold_hex(rate): rate * 16^13 as 13 hex digits
    o["docs_mixture_sample"] = """
        SELECT doc_id, lang FROM documents
        WHERE CASE lang
            WHEN 'de' THEN substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13) < 'c000000000000'
            WHEN 'en' THEN substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13) < '8000000000000'
            WHEN 'es' THEN substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13) < '4000000000000'
            WHEN 'fr' THEN TRUE
            WHEN 'zh' THEN substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13) < '1999999999999'
            ELSE FALSE END
    """

    o["docs_scrub_pii"] = r"""
        WITH seeded AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 = 0 THEN text ||
                        ' contact admin@example.com or root@10.0.0.1 via 10.1.2.3 call +1 (415) 555-0199'
                   ELSE text END AS text
            FROM documents
        ),
        s1 AS (
            SELECT doc_id, text,
                   len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
                   regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
            FROM seeded
        ),
        s2 AS (
            SELECT doc_id, n_emails,
                   len(regexp_extract_all(t1, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS n_ips,
                   regexp_replace(t1, '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2
            FROM s1
        )
        SELECT doc_id, CAST(n_emails AS INTEGER) AS n_emails, CAST(n_ips AS INTEGER) AS n_ips,
               CAST(len(regexp_extract_all(t2, '\+?\d{1,3}[-. ]?\(?\d{2,4}\)?[-. ]?\d{3,4}[-. ]?\d{3,4}')) AS INTEGER) AS n_phones,
               md5(regexp_replace(t2, '\+?\d{1,3}[-. ]?\(?\d{2,4}\)?[-. ]?\d{3,4}[-. ]?\d{3,4}', '<PHONE>', 'g')) AS clean_fp
        FROM s2
    """

    o["docs_repeated_passages"] = """
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t != '') AS tk
            FROM documents
        ),
        win AS (
            SELECT doc_id, unnest(list_transform(
                generate_series(0, CAST(floor((len(tk) - 8) / 4.0) AS INTEGER)),
                i -> md5(array_to_string(list_slice(tk, i * 4 + 1, i * 4 + 8), ' ')))) AS wh
            FROM toks WHERE len(tk) >= 8
        ),
        hd AS (
            SELECT wh, count(*) AS nd
            FROM (SELECT DISTINCT wh, doc_id FROM win) GROUP BY wh
        )
        SELECT w.doc_id, count(*) AS n_windows,
               CAST(SUM(CASE WHEN hd.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
               ROUND(SUM(CASE WHEN hd.nd >= 2 THEN 1.0 ELSE 0.0 END) / count(*), 4) AS repeated_frac
        FROM win w JOIN hd USING (wh)
        GROUP BY w.doc_id
    """

    o["docs_minhash_near_dups"] = """
        WITH sh AS (
            SELECT d.doc_id, unnest(list_distinct(list_transform(
                generate_series(1, greatest(length(d.text) - 4, 1)),
                i -> substr(lower(d.text), CAST(i AS INTEGER), 5)))) AS gram
            FROM documents d
        ),
        comps AS (
            SELECT sh.doc_id, t.i, MIN(md5(CAST(t.i AS VARCHAR) || ':' || sh.gram)) AS comp
            FROM sh CROSS JOIN (SELECT CAST(range AS BIGINT) AS i FROM range(16)) t
            GROUP BY sh.doc_id, t.i
        ),
        bnd AS (
            SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
                   md5(string_agg(comp, '|' ORDER BY i)) AS bucket
            FROM comps GROUP BY doc_id, i // 4
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS l, b.doc_id AS r
            FROM bnd a JOIN bnd b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ),
        grams AS (
            SELECT d.doc_id, list_distinct(list_transform(
                generate_series(1, greatest(length(d.text) - 4, 1)),
                i -> substr(lower(d.text), CAST(i AS INTEGER), 5))) AS g
            FROM documents d
        )
        SELECT c.l AS left_id, c.r AS right_id,
               ROUND(len(list_intersect(ga.g, gb.g))
                     / len(list_distinct(list_concat(ga.g, gb.g))), 4) AS jaccard
        FROM cand c JOIN grams ga ON ga.doc_id = c.l JOIN grams gb ON gb.doc_id = c.r
        WHERE ROUND(len(list_intersect(ga.g, gb.g))
                    / len(list_distinct(list_concat(ga.g, gb.g))), 4) >= 0.6
    """

    o["docs_simhash"] = """
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t != '')) AS tok
            FROM documents
        ),
        hashed AS (
            SELECT doc_id,
                   ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h1,
                   ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h2
            FROM toks
        ),
        bits AS (
            SELECT doc_id,
                   SUM(CASE WHEN (h1 >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS b0,
                   SUM(CASE WHEN (h1 >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS b1,
                   SUM(CASE WHEN (h1 >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS b2,
                   SUM(CASE WHEN (h1 >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS b3,
                   SUM(CASE WHEN (h1 >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS b4,
                   SUM(CASE WHEN (h1 >> 5) & 1 = 1 THEN 1 ELSE -1 END) AS b5,
                   SUM(CASE WHEN (h1 >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS b6,
                   SUM(CASE WHEN (h1 >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS b7,
                   SUM(CASE WHEN (h1 >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS b8,
                   SUM(CASE WHEN (h1 >> 9) & 1 = 1 THEN 1 ELSE -1 END) AS b9,
                   SUM(CASE WHEN (h1 >> 10) & 1 = 1 THEN 1 ELSE -1 END) AS b10,
                   SUM(CASE WHEN (h1 >> 11) & 1 = 1 THEN 1 ELSE -1 END) AS b11,
                   SUM(CASE WHEN (h1 >> 12) & 1 = 1 THEN 1 ELSE -1 END) AS b12,
                   SUM(CASE WHEN (h1 >> 13) & 1 = 1 THEN 1 ELSE -1 END) AS b13,
                   SUM(CASE WHEN (h1 >> 14) & 1 = 1 THEN 1 ELSE -1 END) AS b14,
                   SUM(CASE WHEN (h1 >> 15) & 1 = 1 THEN 1 ELSE -1 END) AS b15,
                   SUM(CASE WHEN (h1 >> 16) & 1 = 1 THEN 1 ELSE -1 END) AS b16,
                   SUM(CASE WHEN (h1 >> 17) & 1 = 1 THEN 1 ELSE -1 END) AS b17,
                   SUM(CASE WHEN (h1 >> 18) & 1 = 1 THEN 1 ELSE -1 END) AS b18,
                   SUM(CASE WHEN (h1 >> 19) & 1 = 1 THEN 1 ELSE -1 END) AS b19,
                   SUM(CASE WHEN (h1 >> 20) & 1 = 1 THEN 1 ELSE -1 END) AS b20,
                   SUM(CASE WHEN (h1 >> 21) & 1 = 1 THEN 1 ELSE -1 END) AS b21,
                   SUM(CASE WHEN (h1 >> 22) & 1 = 1 THEN 1 ELSE -1 END) AS b22,
                   SUM(CASE WHEN (h1 >> 23) & 1 = 1 THEN 1 ELSE -1 END) AS b23,
                   SUM(CASE WHEN (h1 >> 24) & 1 = 1 THEN 1 ELSE -1 END) AS b24,
                   SUM(CASE WHEN (h1 >> 25) & 1 = 1 THEN 1 ELSE -1 END) AS b25,
                   SUM(CASE WHEN (h1 >> 26) & 1 = 1 THEN 1 ELSE -1 END) AS b26,
                   SUM(CASE WHEN (h1 >> 27) & 1 = 1 THEN 1 ELSE -1 END) AS b27,
                   SUM(CASE WHEN (h1 >> 28) & 1 = 1 THEN 1 ELSE -1 END) AS b28,
                   SUM(CASE WHEN (h1 >> 29) & 1 = 1 THEN 1 ELSE -1 END) AS b29,
                   SUM(CASE WHEN (h1 >> 30) & 1 = 1 THEN 1 ELSE -1 END) AS b30,
                   SUM(CASE WHEN (h1 >> 31) & 1 = 1 THEN 1 ELSE -1 END) AS b31,
                   SUM(CASE WHEN (h2 >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS b32,
                   SUM(CASE WHEN (h2 >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS b33,
                   SUM(CASE WHEN (h2 >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS b34,
                   SUM(CASE WHEN (h2 >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS b35,
                   SUM(CASE WHEN (h2 >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS b36,
                   SUM(CASE WHEN (h2 >> 5) & 1 = 1 THEN 1 ELSE -1 END) AS b37,
                   SUM(CASE WHEN (h2 >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS b38,
                   SUM(CASE WHEN (h2 >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS b39,
                   SUM(CASE WHEN (h2 >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS b40,
                   SUM(CASE WHEN (h2 >> 9) & 1 = 1 THEN 1 ELSE -1 END) AS b41,
                   SUM(CASE WHEN (h2 >> 10) & 1 = 1 THEN 1 ELSE -1 END) AS b42,
                   SUM(CASE WHEN (h2 >> 11) & 1 = 1 THEN 1 ELSE -1 END) AS b43,
                   SUM(CASE WHEN (h2 >> 12) & 1 = 1 THEN 1 ELSE -1 END) AS b44,
                   SUM(CASE WHEN (h2 >> 13) & 1 = 1 THEN 1 ELSE -1 END) AS b45,
                   SUM(CASE WHEN (h2 >> 14) & 1 = 1 THEN 1 ELSE -1 END) AS b46,
                   SUM(CASE WHEN (h2 >> 15) & 1 = 1 THEN 1 ELSE -1 END) AS b47,
                   SUM(CASE WHEN (h2 >> 16) & 1 = 1 THEN 1 ELSE -1 END) AS b48,
                   SUM(CASE WHEN (h2 >> 17) & 1 = 1 THEN 1 ELSE -1 END) AS b49,
                   SUM(CASE WHEN (h2 >> 18) & 1 = 1 THEN 1 ELSE -1 END) AS b50,
                   SUM(CASE WHEN (h2 >> 19) & 1 = 1 THEN 1 ELSE -1 END) AS b51,
                   SUM(CASE WHEN (h2 >> 20) & 1 = 1 THEN 1 ELSE -1 END) AS b52,
                   SUM(CASE WHEN (h2 >> 21) & 1 = 1 THEN 1 ELSE -1 END) AS b53,
                   SUM(CASE WHEN (h2 >> 22) & 1 = 1 THEN 1 ELSE -1 END) AS b54,
                   SUM(CASE WHEN (h2 >> 23) & 1 = 1 THEN 1 ELSE -1 END) AS b55,
                   SUM(CASE WHEN (h2 >> 24) & 1 = 1 THEN 1 ELSE -1 END) AS b56,
                   SUM(CASE WHEN (h2 >> 25) & 1 = 1 THEN 1 ELSE -1 END) AS b57,
                   SUM(CASE WHEN (h2 >> 26) & 1 = 1 THEN 1 ELSE -1 END) AS b58,
                   SUM(CASE WHEN (h2 >> 27) & 1 = 1 THEN 1 ELSE -1 END) AS b59,
                   SUM(CASE WHEN (h2 >> 28) & 1 = 1 THEN 1 ELSE -1 END) AS b60,
                   SUM(CASE WHEN (h2 >> 29) & 1 = 1 THEN 1 ELSE -1 END) AS b61,
                   SUM(CASE WHEN (h2 >> 30) & 1 = 1 THEN 1 ELSE -1 END) AS b62,
                   SUM(CASE WHEN (h2 >> 31) & 1 = 1 THEN 1 ELSE -1 END) AS b63
            FROM hashed GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(CASE WHEN b0 > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b1 > 0 THEN CAST(2 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b2 > 0 THEN CAST(4 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b3 > 0 THEN CAST(8 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b4 > 0 THEN CAST(16 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b5 > 0 THEN CAST(32 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b6 > 0 THEN CAST(64 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b7 > 0 THEN CAST(128 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b8 > 0 THEN CAST(256 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b9 > 0 THEN CAST(512 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b10 > 0 THEN CAST(1024 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b11 > 0 THEN CAST(2048 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b12 > 0 THEN CAST(4096 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b13 > 0 THEN CAST(8192 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b14 > 0 THEN CAST(16384 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b15 > 0 THEN CAST(32768 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b16 > 0 THEN CAST(65536 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b17 > 0 THEN CAST(131072 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b18 > 0 THEN CAST(262144 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b19 > 0 THEN CAST(524288 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b20 > 0 THEN CAST(1048576 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b21 > 0 THEN CAST(2097152 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b22 > 0 THEN CAST(4194304 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b23 > 0 THEN CAST(8388608 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b24 > 0 THEN CAST(16777216 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b25 > 0 THEN CAST(33554432 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b26 > 0 THEN CAST(67108864 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b27 > 0 THEN CAST(134217728 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b28 > 0 THEN CAST(268435456 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b29 > 0 THEN CAST(536870912 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b30 > 0 THEN CAST(1073741824 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b31 > 0 THEN CAST(2147483648 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b32 > 0 THEN CAST(4294967296 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b33 > 0 THEN CAST(8589934592 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b34 > 0 THEN CAST(17179869184 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b35 > 0 THEN CAST(34359738368 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b36 > 0 THEN CAST(68719476736 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b37 > 0 THEN CAST(137438953472 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b38 > 0 THEN CAST(274877906944 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b39 > 0 THEN CAST(549755813888 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b40 > 0 THEN CAST(1099511627776 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b41 > 0 THEN CAST(2199023255552 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b42 > 0 THEN CAST(4398046511104 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b43 > 0 THEN CAST(8796093022208 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b44 > 0 THEN CAST(17592186044416 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b45 > 0 THEN CAST(35184372088832 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b46 > 0 THEN CAST(70368744177664 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b47 > 0 THEN CAST(140737488355328 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b48 > 0 THEN CAST(281474976710656 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b49 > 0 THEN CAST(562949953421312 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b50 > 0 THEN CAST(1125899906842624 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b51 > 0 THEN CAST(2251799813685248 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b52 > 0 THEN CAST(4503599627370496 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b53 > 0 THEN CAST(9007199254740992 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b54 > 0 THEN CAST(18014398509481984 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b55 > 0 THEN CAST(36028797018963968 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b56 > 0 THEN CAST(72057594037927936 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b57 > 0 THEN CAST(144115188075855872 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b58 > 0 THEN CAST(288230376151711744 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b59 > 0 THEN CAST(576460752303423488 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b60 > 0 THEN CAST(1152921504606846976 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b61 > 0 THEN CAST(2305843009213693952 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b62 > 0 THEN CAST(4611686018427387904 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                 + CASE WHEN b63 > 0 THEN CAST(-9223372036854775808 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS BIGINT) AS simhash
        FROM bits
    """

    o["docs_dup_clusters"] = """
        WITH sh AS (
            SELECT d.doc_id,
                   list_distinct(list_transform(
                       generate_series(1, greatest(length(d.text) - 2, 1)),
                       i -> substr(lower(d.text), CAST(i AS INTEGER), 3))) AS grams
            FROM documents d
        ),
        j AS (
            SELECT b.doc_id AS rid,
                   ROUND(len(list_intersect(a.grams, b.grams))
                         / len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jac
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        ),
        starts AS (
            SELECT d.doc_id,
                   CASE WHEN COALESCE(j.jac, 0) >= 0.5 THEN NULL ELSE d.doc_id END AS start_id
            FROM documents d LEFT JOIN j ON j.rid = d.doc_id
        )
        SELECT doc_id,
               CAST(MAX(start_id) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cluster_id
        FROM starts
    """

    o["emb_norm_stats"] = """
        SELECT label, COUNT(*) AS n,
               ROUND(AVG(sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum'))), 4)
                   AS avg_norm
        FROM embeddings GROUP BY label
    """

    o["emb_topk_cosine"] = """
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cvec FROM embeddings),
        scored AS (
            SELECT q.query_id, c.neighbor_id,
                   ROUND(list_dot_product(q.qvec, c.cvec)
                         / (sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(c.cvec, c.cvec))), 6)
                       AS cosine
            FROM q, c WHERE q.query_id != c.neighbor_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 5
    """

    o["emb_highsim_pairs"] = """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id AS left_id, b.vec_id AS right_id,
               ROUND(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.45
    """

    o["emb_cosine_dedup"] = """
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        dupes AS (
            SELECT DISTINCT b.vec_id AS drop_id
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE ROUND(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45
        )
        SELECT vec_id, label FROM e WHERE vec_id NOT IN (SELECT drop_id FROM dupes)
    """

    # leader policy: transitive closure over the similarity graph (recursive
    # CTE), cluster id = min reachable id; non-leaders drop. Matches the
    # engine's connected-components labels exactly.
    # Leader dedup oracle: UNROLLED min-label propagation + path halving —
    # the same update rule (and 25-round budget) as the Spark CC operator,
    # one V-row relation per round. The previous WITH RECURSIVE reachability
    # closure materialized O(Σ|component|²) rows: at sf1 the 0.45-graph has
    # a ~10k-vertex giant component, so the closure was ~100M rows and 14+ GB
    # (killed after 22 min). Label updates are monotone (labels only
    # decrease, bounded by the component min) and idempotent at the fixpoint,
    # so 25 rounds — the operator raises if IT ever needs more — give the
    # exact same labels with linear intermediates.
    _cc_rounds = 25
    # AS MATERIALIZED everywhere: DuckDB inlines multi-referenced CTEs by
    # default, which re-expands the whole chain per reference (exponential
    # scans — "Too many open files" before any row moves)
    _cc = [
        "l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS label FROM (SELECT a FROM edges) t)",
    ]
    _prev = "l0"
    for _k in range(1, _cc_rounds + 1):
        _cc.append(
            f"n{_k} AS MATERIALIZED (SELECT e2.b AS id, MIN(p.label) AS nl "
            f"FROM edges e2 JOIN {_prev} p ON p.id = e2.a GROUP BY e2.b)"
        )
        _cc.append(
            f"s{_k} AS MATERIALIZED (SELECT p.id, LEAST(p.label, COALESCE(n.nl, p.label)) AS label "
            f"FROM {_prev} p LEFT JOIN n{_k} n USING (id))"
        )
        _cc.append(
            f"l{_k} AS MATERIALIZED (SELECT s.id, LEAST(s.label, COALESCE(t.label, s.label)) AS label "
            f"FROM s{_k} s LEFT JOIN s{_k} t ON s.label = t.id)"
        )
        _prev = f"l{_k}"
    _cc_sql = ",\n        ".join(_cc)
    o["emb_cosine_dedup_leader"] = f"""
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pairs AS MATERIALIZED (
            SELECT a.vec_id AS lid, b.vec_id AS rid
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE ROUND(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45
        ),
        edges AS MATERIALIZED (SELECT lid AS a, rid AS b FROM pairs UNION ALL SELECT rid, lid FROM pairs),
        {_cc_sql}
        SELECT vec_id, label FROM e
        WHERE vec_id NOT IN (SELECT id FROM {_prev} WHERE id != label)
    """

    # IVF replay: nearest centroid per corpus vector (top-1 by dot product —
    # scale-invariant, so no normalization needed), 4 probed lists per query,
    # equi-join on list id, exact cosine rerank — the engine plan in SQL
    o["emb_ivf_topk"] = f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cents AS (SELECT centroid_id, centroid FROM read_parquet('{_ANN_CENTROIDS_PQ}')),
        corpus_lists AS (
            SELECT vec_id AS neighbor_id, v AS cvec, centroid_id AS list_id FROM (
                SELECT e.vec_id, e.v, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY list_dot_product(e.v, c.centroid) DESC, c.centroid_id ASC) AS rn
                FROM e, cents c
            ) WHERE rn = 1
        ),
        query_lists AS (
            SELECT query_id, qvec, centroid_id AS list_id FROM (
                SELECT q.vec_id AS query_id, q.v AS qvec, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.v, c.centroid) DESC, c.centroid_id ASC) AS rn
                FROM e q, cents c WHERE q.vec_id < 5
            ) WHERE rn <= 4
        ),
        scored AS (
            SELECT ql.query_id, cl.neighbor_id,
                   ROUND(list_dot_product(ql.qvec, cl.cvec)
                         / (sqrt(list_dot_product(ql.qvec, ql.qvec)) * sqrt(list_dot_product(cl.cvec, cl.cvec))), 6)
                       AS cosine
            FROM query_lists ql JOIN corpus_lists cl USING (list_id)
            WHERE cl.neighbor_id != ql.query_id
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 5
    """

    # SRP-LSH replay: sign bits from the materialized planes → per-table
    # bucket ids (bit-weighted sum | table<<48, exactly the UDF's formula) →
    # bucket-collision candidates → exact cosine rerank
    o["emb_lsh_topk"] = f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        buckets AS (
            SELECT e.vec_id,
                   CAST(SUM(CASE WHEN list_dot_product(e.v, p.plane) >= 0
                                 THEN (1 << p.plane_idx) ELSE 0 END) AS BIGINT)
                   | (CAST(p.table_id AS BIGINT) << 48) AS bucket
            FROM e, read_parquet('{_ANN_PLANES_PQ}') p
            GROUP BY e.vec_id, p.table_id
        ),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM buckets q JOIN buckets c USING (bucket)
            WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   ROUND(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
            FROM cand JOIN e a ON a.vec_id = cand.query_id JOIN e b ON b.vec_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 5
    """

    # persisted-index twins: the AnnIndexStore commits the SAME quantizer
    # bytes (centroids seed 13 / planes seed 7) the in-flight operators
    # regenerate, so the committed index must return the identical tuples —
    # one oracle covers both execution paths, and the driver certifies the
    # persisted store independently of the in-flight query
    o["emb_ivf_topk_persisted"] = o["emb_ivf_topk"]
    o["emb_lsh_topk_persisted"] = o["emb_lsh_topk"]

    o["dtm_pipeline_metrics"] = f"""
        SELECT image_id, fmt, valid_in, valid_out
        FROM read_parquet('{_DTM_GOLDEN_PQ}')
    """

    # zonal stats replay: pixel-center lon/lat from image metadata with the
    # engine's exact equirectangular mul/add arithmetic (no libm), closed
    # rect bounds, nodata already excluded by the pixel fixture
    o["img_zonal_rect_stats"] = f"""
        WITH img AS (
            SELECT image_id, lon0, lat0, xres_m, yres_m
            FROM read_parquet('{_IMAGES_PQ}')
        ),
        px AS (
            SELECT p.image_id, CAST(p.value AS DOUBLE) AS value,
                   img.lon0 + ((p.px + 0.5) * img.xres_m)
                       / (111320.0 * (1.0 - 1.523e-4 * img.lat0 * img.lat0)) AS lon,
                   img.lat0 - ((p.py + 0.5) * img.yres_m) / 110540.0 AS lat
            FROM read_parquet('{_PIXELS_PQ}') p JOIN img USING (image_id)
        ),
        hits AS (
            SELECT f.footprint_id, px.image_id, px.value
            FROM px JOIN (SELECT * FROM read_parquet('{_FOOTPRINTS_PQ}') WHERE kind = 'rect') f
              ON px.lon BETWEEN f.x0 AND f.x1 AND px.lat BETWEEN f.y0 AND f.y1
        )
        SELECT footprint_id, image_id, COUNT(*) AS n_px,
               ROUND(AVG(value), 4) AS mean_val,
               ROUND(MIN(value), 4) AS min_val,
               ROUND(MAX(value), 4) AS max_val
        FROM hits GROUP BY footprint_id, image_id
    """

    o["img_point_sample"] = f"""
        WITH img AS (
            SELECT image_id, lon0, lat0, xres_m, yres_m, w, h
            FROM read_parquet('{_IMAGES_PQ}')
        ),
        idx AS (
            SELECT q.query_id, img.image_id, img.w, img.h,
                   CAST(FLOOR(((q.x - img.lon0)
                        * (111320.0 * (1.0 - 1.523e-4 * img.lat0 * img.lat0)))
                        / img.xres_m) AS INTEGER) AS px,
                   CAST(FLOOR(((img.lat0 - q.y) * 110540.0) / img.yres_m) AS INTEGER) AS py
            FROM read_parquet('{_SAMPLE_PTS_PQ}') q CROSS JOIN img
        )
        SELECT i.query_id, i.image_id, i.py, i.px,
               ROUND(CAST(p.value AS DOUBLE), 4) AS value
        FROM idx i JOIN read_parquet('{_PIXELS_PQ}') p
          ON p.image_id = i.image_id AND p.py = i.py AND p.px = i.px
        WHERE i.px >= 0 AND i.px < i.w AND i.py >= 0 AND i.py < i.h
    """

    # terrain derivatives replay: central differences via 4 self-joins of the
    # pixel fixture — inner joins double as the interior/validity test (a
    # border or nodata neighbour simply has no row). Identical IEEE
    # association as the engine: (E−W)/(2·xres), sqrt(gx*gx + gy*gy),
    # (lz − lx·gx − ly·gy)/sqrt(1 + gx² + gy²) — so the threshold counts
    # are exact and only the emitted doubles are rounded. The join skeleton
    # is ONE shared fragment so the three derivative oracles (slope/shade,
    # aspect, curvature) cannot drift from each other.
    def _stencil_cte(exprs: str) -> str:
        return f"""
        WITH img AS (
            SELECT image_id, xres_m, yres_m FROM read_parquet('{_IMAGES_PQ}')
        ),
        p AS (
            SELECT image_id, py, px, CAST(value AS DOUBLE) AS v
            FROM read_parquet('{_PIXELS_PQ}')
        ),
        g AS (
            SELECT c.image_id,
                   {exprs}
            FROM p c
            JOIN img USING (image_id)
            JOIN p e ON e.image_id = c.image_id AND e.py = c.py AND e.px = c.px + 1
            JOIN p w ON w.image_id = c.image_id AND w.py = c.py AND w.px = c.px - 1
            JOIN p s ON s.image_id = c.image_id AND s.py = c.py + 1 AND s.px = c.px
            JOIN p n ON n.image_id = c.image_id AND n.py = c.py - 1 AND n.px = c.px
        )"""

    o["img_slope_shade_stats"] = _stencil_cte(
        """(e.v - w.v) / (2.0 * img.xres_m) AS gx,
                   (s.v - n.v) / (2.0 * img.yres_m) AS gy"""
    ) + """,
        d AS (
            SELECT image_id, SQRT(gx*gx + gy*gy) AS slope,
                   (0.8 - 0.48*gx - 0.36*gy) / SQRT(1.0 + gx*gx + gy*gy) AS shade
            FROM g
        )
        SELECT image_id, COUNT(*) AS n_px,
               COUNT(*) FILTER (WHERE slope <= 0.02) AS n_flat,
               COUNT(*) FILTER (WHERE slope >= 0.5) AS n_steep,
               ROUND(MAX(slope), 4) AS max_slope,
               ROUND(AVG(slope), 4) AS mean_slope,
               ROUND(AVG(shade), 4) AS mean_shade,
               ROUND(MIN(shade), 4) AS min_shade
        FROM d GROUP BY image_id
    """

    # aspect replay: same gradient self-joins as the slope oracle, then the
    # identical ordered CASE over (de, dn) = (−gx, gy) — np.select and CASE
    # evaluate the same disjoint conditions in the same order on the same
    # bits, so counts are exact
    o["img_aspect_octants"] = _stencil_cte(
        """-((e.v - w.v) / (2.0 * img.xres_m)) AS de,
                   (s.v - n.v) / (2.0 * img.yres_m) AS dn"""
    ) + """,
        o AS (
            SELECT image_id,
                   CASE
                     WHEN de > 0 AND dn >= 0 AND de >= dn THEN 0
                     WHEN de > 0 AND dn > 0 AND dn > de THEN 1
                     WHEN de <= 0 AND dn > 0 AND dn >= -de THEN 2
                     WHEN de < 0 AND dn > 0 AND -de > dn THEN 3
                     WHEN de < 0 AND dn <= 0 AND -de >= -dn THEN 4
                     WHEN de < 0 AND dn < 0 AND -dn > -de THEN 5
                     WHEN de >= 0 AND dn < 0 AND -dn >= de THEN 6
                     WHEN de > 0 AND dn < 0 AND de > -dn THEN 7
                     ELSE -1
                   END AS octant
            FROM g
        )
        SELECT image_id, CAST(octant AS INTEGER) AS octant, COUNT(*) AS n_px
        FROM o GROUP BY image_id, octant
    """

    o["docs_pack_sequences"] = """
        WITH t AS (
            SELECT doc_id, doc_id % 16 AS bucket,
                   CAST(len(list_filter(string_split(lower(text), ' '),
                            x -> x != '')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, bucket, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
            FROM t
        )
        SELECT doc_id, bucket, n_tokens,
               CAST(cum // 512 AS BIGINT) AS pack_idx,
               CAST(cum % 512 AS BIGINT) AS offset_in_pack
        FROM c
    """

    o["img_curvature_stats"] = _stencil_cte(
        """(e.v - 2.0 * c.v + w.v) / (img.xres_m * img.xres_m)
                       + (s.v - 2.0 * c.v + n.v) / (img.yres_m * img.yres_m) AS lap"""
    ) + """
        SELECT image_id, COUNT(*) AS n_px,
               COUNT(*) FILTER (WHERE lap <= -0.1) AS n_convex,
               COUNT(*) FILTER (WHERE lap >= 0.1) AS n_concave,
               ROUND(MAX(lap), 4) AS max_lap,
               ROUND(MIN(lap), 4) AS min_lap,
               ROUND(AVG(lap), 4) AS mean_lap
        FROM g GROUP BY image_id
    """

    o["img_elevation_bands"] = f"""
        SELECT image_id,
               CAST(FLOOR(CAST(value AS DOUBLE) / 10.0) AS BIGINT) AS band,
               COUNT(*) AS n_px
        FROM read_parquet('{_PIXELS_PQ}')
        GROUP BY image_id, band
    """

    o["fp_overlap_pairs"] = f"""
        WITH r AS (
            SELECT footprint_id, x0, y0, x1, y1 FROM read_parquet('{_FOOTPRINTS_PQ}')
        )
        SELECT a.footprint_id AS id_a, b.footprint_id AS id_b,
               (LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0))
                   * (LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0)) AS overlap_area
        FROM r a JOIN r b ON a.footprint_id < b.footprint_id
        WHERE LEAST(a.x1, b.x1) > GREATEST(a.x0, b.x0)
          AND LEAST(a.y1, b.y1) > GREATEST(a.y0, b.y0)
    """

    o["docs_stratified_sample"] = """
        SELECT doc_id, lang, sample_rank FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS sample_rank
            FROM documents
        ) WHERE sample_rank <= 25
    """

    o["img_ndsm_stats"] = f"""
        SELECT image_id, n_px, n_above,
               ROUND(max_ndsm, 4) AS max_ndsm,
               ROUND(mean_ndsm, 4) AS mean_ndsm
        FROM read_parquet('{_NDSM_GOLDEN_PQ}')
    """

    # overview pyramid replay: chained GROUP BY py//2, px//2 CTEs carrying
    # (sum, count) — every sum's addends are float32-exact pixel values, so
    # the float64 partials are exact in ANY order (DuckDB's parallel group
    # sums included) and the final sum/count division matches the engine's
    # bit-for-bit
    o["img_overview_pyramid"] = f"""
        WITH p AS (
            SELECT image_id, py, px, CAST(value AS DOUBLE) AS v
            FROM read_parquet('{_PIXELS_PQ}')
            WHERE image_id < '{_OVERVIEW_CUTOFF}'
        ),
        l1 AS (
            SELECT image_id, py // 2 AS py, px // 2 AS px,
                   COUNT(*) AS n_src, SUM(v) AS s
            FROM p GROUP BY image_id, py // 2, px // 2
        ),
        l2 AS (
            SELECT image_id, py // 2 AS py, px // 2 AS px,
                   CAST(SUM(n_src) AS BIGINT) AS n_src, SUM(s) AS s
            FROM l1 GROUP BY image_id, py // 2, px // 2
        )
        SELECT image_id, CAST(1 AS INTEGER) AS level, CAST(py AS INTEGER) AS py,
               CAST(px AS INTEGER) AS px, n_src, ROUND(s / n_src, 4) AS value FROM l1
        UNION ALL
        SELECT image_id, CAST(2 AS INTEGER), CAST(py AS INTEGER),
               CAST(px AS INTEGER), n_src, ROUND(s / n_src, 4) FROM l2
    """

    # mosaic rollup replay: the same IEEE pixel-center coords as the zonal
    # oracle, floored onto the shared lattice by the same literal cell size
    o["img_grid_composite"] = f"""
        WITH img AS (
            SELECT image_id, lon0, lat0, xres_m, yres_m
            FROM read_parquet('{_IMAGES_PQ}')
        ),
        px AS (
            SELECT p.image_id, CAST(p.value AS DOUBLE) AS value,
                   img.lon0 + ((p.px + 0.5) * img.xres_m)
                       / (111320.0 * (1.0 - 1.523e-4 * img.lat0 * img.lat0)) AS lon,
                   img.lat0 - ((p.py + 0.5) * img.yres_m) / 110540.0 AS lat
            FROM read_parquet('{_PIXELS_PQ}') p JOIN img USING (image_id)
        ),
        cells AS (
            SELECT image_id, value,
                   CAST(FLOOR(lat / 0.05) AS BIGINT) AS cy,
                   CAST(FLOOR(lon / 0.05) AS BIGINT) AS cx
            FROM px
        )
        SELECT cy, cx, COUNT(*) AS n_px, COUNT(DISTINCT image_id) AS n_img,
               ROUND(MAX(value), 4) AS max_val,
               ROUND(SUM(value) / COUNT(*), 4) AS mean_val
        FROM cells GROUP BY cy, cx
    """

    img = f"read_parquet('{_IMAGES_PQ}')"
    fps = f"read_parquet('{_FOOTPRINTS_PQ}')"
    knn = f"read_parquet('{_KNN_PQ}')"

    o["img_meta_stats"] = f"""
        SELECT fmt, COUNT(*) AS n, CAST(SUM(CAST(w AS BIGINT) * h) AS BIGINT) AS pixels,
               COUNT(DISTINCT phash) AS n_phash
        FROM {img} GROUP BY fmt
    """

    o["img_phash_dedup"] = f"""
        SELECT image_id, phash FROM (
            SELECT image_id, phash, ROW_NUMBER() OVER (PARTITION BY phash ORDER BY image_id ASC) AS rn
            FROM {img}
        ) WHERE rn = 1
    """

    o["img_phash_hamming_pairs"] = f"""
        SELECT a.image_id AS left_id, b.image_id AS right_id,
               CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
        FROM {img} a JOIN {img} b ON a.image_id < b.image_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 3
    """

    o["img_cell_ids"] = f"SELECT image_id, {cell_encode_sql('lon0', 'lat0', 12)} AS cell_id FROM {img}"

    tile_px = 32
    cell14_sql = cell_encode_sql("lon_c", "lat_c", 14)
    o["img_tile_assignments"] = f"""
        WITH grid AS (
            SELECT image_id, h, w, lon0, lat0, xres_m, yres_m,
                   unnest(generate_series(0, CAST(ceil(h / {tile_px}.0) AS BIGINT) - 1)) AS tile_row
            FROM {img}
        ),
        grid2 AS (
            SELECT *, unnest(generate_series(0, CAST(ceil(w / {tile_px}.0) AS BIGINT) - 1)) AS tile_col
            FROM grid
        ),
        centers AS (
            SELECT image_id, CAST(tile_row AS INTEGER) AS tile_row, CAST(tile_col AS INTEGER) AS tile_col,
                   lat0 - ((tile_row * {tile_px} + least({tile_px}, h - tile_row * {tile_px}) / 2.0) * yres_m)
                       / 110540.0 AS lat_c,
                   lon0 + ((tile_col * {tile_px} + least({tile_px}, w - tile_col * {tile_px}) / 2.0) * xres_m)
                       / (111320.0 * (1.0 - 1.523e-4 * lat0 * lat0)) AS lon_c
            FROM grid2
        )
        SELECT image_id, tile_row, tile_col, {cell14_sql} AS cell_id FROM centers
    """

    o["img_snapshot_pruned_scan"] = f"""
        SELECT fmt, w, COUNT(*) AS n, COUNT(DISTINCT phash) AS n_phash
        FROM {img} WHERE w >= 64 GROUP BY fmt, w
    """

    o["img_spatial_join_rect"] = f"""
        SELECT f.footprint_id, i.image_id
        FROM {fps} f JOIN {img} i
          ON i.lon0 BETWEEN f.x0 AND f.x1 AND i.lat0 BETWEEN f.y0 AND f.y1
        WHERE f.kind = 'rect'
    """

    o["img_knn_anchors"] = f"""
        SELECT query_id, point_id, CAST(rank AS INTEGER) AS rank FROM (
            SELECT q.query_id, i.image_id AS point_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                                      ORDER BY sqrt((q.x - i.lon0) * (q.x - i.lon0)
                                                  + (q.y - i.lat0) * (q.y - i.lat0)) ASC,
                                               i.image_id ASC) AS rank
            FROM {knn} q, {img} i
        ) WHERE rank <= 4
    """

    return o
