"""Tests of the benchmark harness itself.

    python3 -m pytest perfbench/test_harness.py -q

They pin the printed metric names and units, check per-pass state
isolation on tiny seeded inputs, and check that the plan walker reads the
Python boundary metrics of a ``mapInPandas`` plan.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import harness  # noqa: E402
import run  # noqa: E402

E2E = [
    ("wall_s", "s"),
    ("units_per_s", "units/s"),
    ("cpu_s", "s"),
    ("worker_peak_rss_mb", "MB"),
    ("setup_s", "s"),
]

LAYERS = {
    "golden": ["serial_s", "mpix_per_s", "slope_s", "pmf_s", "refine_s", "smooth_s", "gapfill_s"],
    "codecs": ["decode_s", "encode_s", "bytes_in_mb", "bytes_out_mb"],
    "plans": ["tasks", "python_total_s", "python_boot_s", "python_init_s", "data_sent_mb",
              "data_received_mb", "udf_compute_s", "boundary_s", "makespan_lb_s",
              "parallel_efficiency", "cores_busy"],
    "tiling": ["tiles", "halo_ratio", "emit_s", "process_s", "stitch_s", "shuffle_write_mb",
               "shuffle_write_s", "python_total_s"],
    "zonal": ["cover_cells", "candidate_pairs", "result_pairs", "hit_ratio", "tasks",
              "python_total_s", "cores_busy"],
    "incremental": ["repair_s", "sign_s", "dedup_s", "candidate_pairs", "near_dups",
                    "verify_ratio", "store_append_s"],
    "manifest": ["read_s", "commit_s", "files_written", "bytes_written_mb", "write_amp"],
    "spark": ["jobs", "stages", "tasks", "failed_tasks"],
    "session": ["start_s"],
    "trace": ["wall_s", "overhead_s"],
}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("mpix_per_s"):
        return "Mpix/s"
    if name.endswith(("_ratio", "efficiency", "write_amp")):
        return "ratio"
    if name.endswith("cores_busy"):
        return "cores"
    return "count"


def test_printed_metric_names_and_units_are_pinned():
    assert list(run.E2E.items()) == E2E
    expected = {f"{layer}.{m}": None for layer, ms in LAYERS.items() for m in ms}
    assert list(run.PER_LAYER) == list(expected)
    for name, unit in run.PER_LAYER.items():
        want = "Mpix/s" if name == "golden.mpix_per_s" else _unit(name.split(".", 1)[1])
        assert unit == want, name


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == E2E
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(run.PER_LAYER.items())
    import workloads

    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "images_whole", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# ------------------------------------------------------------ with Spark


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s, _ = harness.start_spark(2, str(tmp_path_factory.mktemp("spark")))
    yield s
    harness.stop_spark(s)


def _two_passes(wl) -> run.Run:
    record = {"errors": []}
    r = run.Run(wl, harness.JobGroups(wl.spark), record)
    wl.setup()
    for i in range(2):
        assert r.one_pass(i) is not None, record["errors"]
    assert (r.attempted, r.failed) == (2, 0)
    return r


def test_image_passes_write_fresh_tables(spark, tmp_path):
    import workloads

    from dsm2dtm_spark.plans import run_dtm_job
    from dsm2dtm_spark.sources.manifest import SnapshotTable

    wl = workloads.ImagesWhole(spark, str(tmp_path), seed=3, cores=2, n_images=6)
    _two_passes(wl)  # each pass asserts run_dtm_job processed all 6 rows
    # why the isolation is needed: a second run into the same table resumes
    # past every committed row and processes nothing
    same = SnapshotTable(str(tmp_path / "same"))
    assert run_dtm_job(spark, wl.input, same)[0] == 6
    assert run_dtm_job(spark, wl.input, same)[0] == 0


def test_ingest_passes_start_from_the_bootstrapped_state(spark, tmp_path):
    import workloads

    wl = workloads.DocsIngest(spark, str(tmp_path), seed=3, cores=2, n_docs=200)
    _two_passes(wl)  # each pass asserts the batch was ingested, not skipped
    assert not os.path.exists(wl._state(0)) and not os.path.exists(wl._state(1))
    from dsm2dtm_spark.operators.incremental import SignatureStore

    store = SignatureStore(os.path.join(wl.boot, "store"))
    assert store.signature_row_count() == 100  # the bootstrap state never grows


def test_plan_walker_reads_python_data_sent(spark):
    def identity(batches):
        yield from batches

    df = spark.range(1000).selectExpr("id", "cast(id as string) s").mapInPandas(identity, "id long, s string")
    nodes = harness.execute_plan(df)
    assert harness.metric_sum(nodes, "pythonDataSent", "MapInPandas") > 0
    assert harness.metric_sum(nodes, "pythonNumRowsReceived", "MapInPandas") == 1000


def test_checkpointed_plans_give_their_row_counts(spark):
    plans: list = []
    with harness.checkpoint_plans(spark, plans):
        df = spark.range(1000).selectExpr("id % 10 as k").distinct().localCheckpoint(eager=False)
    assert df.count() == 10  # the lazy checkpoint runs its plan here
    nodes = [n for p in plans for n in harness.walk_plan(p)]
    assert min(harness.output_rows(nodes, "HashAggregate", {"k"})) == 10
