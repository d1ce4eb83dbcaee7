"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload images_whole --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout on ``local[nproc]``. Set-up starts the
Spark session, builds the seeded inputs and their reference outputs, and
warms the workload with full passes over its exact inputs (their walls
are recorded). Then it times
passes for ``--seconds`` (at least two), checking every pass's output
against its reference. With ``--trace 1`` a traced pass and the serial
layer measurements follow.

Prints a record line (environment, warm-up and per-pass walls, errors) and,
last, one JSON result: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``. Both are also written under ``.perfbench_run/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import harness  # noqa: E402 — standard library only; the engine is imported with the workloads

MIN_PASSES = 2

E2E = {
    "wall_s": "s",
    "units_per_s": "units/s",
    "cpu_s": "s",
    "worker_peak_rss_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "golden.serial_s": "s",
    "golden.mpix_per_s": "Mpix/s",
    "golden.slope_s": "s",
    "golden.pmf_s": "s",
    "golden.refine_s": "s",
    "golden.smooth_s": "s",
    "golden.gapfill_s": "s",
    "codecs.decode_s": "s",
    "codecs.encode_s": "s",
    "codecs.bytes_in_mb": "MB",
    "codecs.bytes_out_mb": "MB",
    "plans.tasks": "count",
    "plans.python_total_s": "s",
    "plans.python_boot_s": "s",
    "plans.python_init_s": "s",
    "plans.data_sent_mb": "MB",
    "plans.data_received_mb": "MB",
    "plans.udf_compute_s": "s",
    "plans.boundary_s": "s",
    "plans.makespan_lb_s": "s",
    "plans.parallel_efficiency": "ratio",
    "plans.cores_busy": "cores",
    "tiling.tiles": "count",
    "tiling.halo_ratio": "ratio",
    "tiling.emit_s": "s",
    "tiling.process_s": "s",
    "tiling.stitch_s": "s",
    "tiling.shuffle_write_mb": "MB",
    "tiling.shuffle_write_s": "s",
    "tiling.python_total_s": "s",
    "zonal.cover_cells": "count",
    "zonal.candidate_pairs": "count",
    "zonal.result_pairs": "count",
    "zonal.hit_ratio": "ratio",
    "zonal.tasks": "count",
    "zonal.python_total_s": "s",
    "zonal.cores_busy": "cores",
    "incremental.repair_s": "s",
    "incremental.sign_s": "s",
    "incremental.dedup_s": "s",
    "incremental.candidate_pairs": "count",
    "incremental.near_dups": "count",
    "incremental.verify_ratio": "ratio",
    "incremental.store_append_s": "s",
    "manifest.read_s": "s",
    "manifest.commit_s": "s",
    "manifest.files_written": "count",
    "manifest.bytes_written_mb": "MB",
    "manifest.write_amp": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "session.start_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """Times and checks the passes of one run and counts their failures."""

    def __init__(self, workload, groups, record: dict):
        self.wl = workload
        self.groups = groups
        self.record = record
        self.attempted = 0
        self.failed = 0

    def one_pass(self, i: int) -> dict | None:
        """Time one pass of the workload's operation, then check its output.
        Returns the pass's measurements, or None when it failed."""
        self.attempted += 1
        try:
            self.wl.prepare(i)
            with self.groups.group() as gid:
                c0 = harness.tree_cpu_s(os.getpid())
                t0 = time.perf_counter()
                self.wl.run_pass(i)
                wall = time.perf_counter() - t0
                cpu = harness.tree_cpu_s(os.getpid()) - c0
            self.wl.check(i)
        except Exception as exc:  # noqa: BLE001 — a failed pass is counted, the run goes on
            self.failed += 1
            self.record["errors"].append(f"pass {i}: {type(exc).__name__}: {exc}"[:2000])
            traceback.print_exc(file=sys.stderr)
            return None
        return {"wall_s": wall, "cpu_s": cpu, "group": gid}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    try:
        import workloads
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    out_dir = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(out_dir, f"work-{os.getpid()}-{uuid.uuid4().hex[:6]}")
    record = {"workload": args.workload, "env": harness.environment(args.seed), "errors": []}
    spark = None
    try:
        spark, record["session_start_s"] = harness.start_spark(cores, work)
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, cores)
        record["phase_s"] = {"session": time.perf_counter() - T_START}
        wl.setup()
        record["phase_s"]["inputs"] = time.perf_counter() - T_START
        record["units"] = wl.units
        record["unit"] = wl.unit
        run = Run(wl, harness.JobGroups(spark), record)
        warm = [run.one_pass(i) for i in range(wl.warm_passes)]
        record["warm_walls_s"] = [p and p["wall_s"] for p in warm]
        setup_s = time.perf_counter() - T_START
        record["phase_s"]["warm"] = setup_s

        passes, t0, n = [], time.perf_counter(), 0
        while n < MIN_PASSES or time.perf_counter() - t0 < args.seconds:
            p = run.one_pass(wl.warm_passes + n)
            n += 1
            if p is not None:
                passes.append(p)
            if n > 2 * MIN_PASSES and not passes:
                break
        peak_rss = harness.worker_peak_rss_mb(os.getpid())
        record["pass_walls_s"] = [p["wall_s"] for p in passes]
        record["pass_cpu_s"] = [p["cpu_s"] for p in passes]
        if not passes:
            raise RuntimeError("no pass succeeded")
        wall = statistics.median(p["wall_s"] for p in passes)
        e2e = {
            "wall_s": wall,
            "units_per_s": wl.units / wall,
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "worker_peak_rss_mb": peak_rss,
            "setup_s": setup_s,
        }
        record["e2e"] = e2e
        record["phase_s"]["measure"] = time.perf_counter() - T_START
        counts = run.groups.counts(passes[-1]["group"])
        record["spark_counts"] = counts
        metrics = e2e
        if args.trace:
            tracer = harness.Tracer(uuid.uuid4().hex[:12])
            layers = dict.fromkeys(PER_LAYER, 0.0)
            run.attempted += 1
            try:
                layers.update(wl.trace(tracer, e2e))
            except Exception as exc:  # noqa: BLE001
                run.failed += 1
                record["errors"].append(f"trace: {type(exc).__name__}: {exc}"[:2000])
                traceback.print_exc(file=sys.stderr)
            layers.update({f"spark.{k}": float(v) for k, v in counts.items()})
            layers["session.start_s"] = record["session_start_s"]
            layers["trace.overhead_s"] = layers["trace.wall_s"] - wall
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
            metrics = layers
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in (PER_LAYER if args.trace else E2E).items()},
        }
    except Exception as exc:  # noqa: BLE001 — set-up failed: no result
        traceback.print_exc(file=sys.stderr)
        print(f"perfbench: {args.workload} failed: {exc}", file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    record["phase_s"]["end"] = time.perf_counter() - T_START
    record["env"]["loadavg_end"] = os.getloadavg()[0]
    record["env"]["host_speed_end_s"] = harness.host_speed_s()
    record["error_rate"] = run.failed / run.attempted
    with open(os.path.join(out_dir, f"record-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({**record, "result": result}, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
