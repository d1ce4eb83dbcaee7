"""Measurement plumbing shared by the workloads: the Spark session, process
tree CPU and memory from ``/proc``, Spark's job counters, the SQL-metric
walk of an executed plan, and the span tracer.

Nothing here changes what the engine computes. Timing is taken around calls
into the engine's public functions; the tracer wraps those functions from
outside for the length of one traced pass and restores them afterwards.
"""

from __future__ import annotations

import contextlib
import json
import os
import platform
import subprocess
import sys
import time
import uuid
from collections.abc import Callable, Iterator

CLK_TCK = os.sysconf("SC_CLK_TCK")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ----------------------------------------------------------------- session


def start_spark(cores: int, work_dir: str):
    """Engine session on ``local[cores]`` with every scratch location inside
    ``work_dir``. Returns (spark, seconds to start)."""
    local_dir = os.path.join(work_dir, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = local_dir
    # both JVMs (spark-submit's launcher and the Spark JVM) keep their temp and
    # perf-data files out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local_dir} -XX:-UsePerfData"
    # Python workers import the engine from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from dsm2dtm_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM it launched and wait until every
    process that was running below this one (JVM, Python daemon and
    workers) has exited."""
    from pyspark import SparkContext

    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(os.path.exists(f"/proc/{p}") for p in started) and time.monotonic() < deadline:
        time.sleep(0.05)


def stop_resource_tracker() -> None:
    """End the helper process a spawn-context pool leaves running."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()


# ------------------------------------------------------------ process tree


def _stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces: fields start after the last ')'
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), rest


def descendants(root_pid: int) -> list[int]:
    """``root_pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of the process tree: this process, the JVM and the Python
    workers, including children they have already reaped."""
    ticks = 0
    for pid in descendants(root_pid):
        st = _stat(pid)
        if st is not None:
            f = st[1]
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def worker_peak_rss_mb(root_pid: int) -> float:
    """Largest peak RSS (VmHWM) of any Python process below this one —
    the Spark Python workers and their daemon."""
    peak_kb = 0
    for pid in descendants(root_pid):
        if pid == root_pid:
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                if not f.read().startswith("python"):
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0


# ------------------------------------------------------------ spark counters


class JobGroups:
    """Tags each pass with its own Spark job group and reads the status
    tracker's job, stage and task counts for it afterwards."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.prefix = uuid.uuid4().hex[:8]
        self.n = 0

    @contextlib.contextmanager
    def group(self) -> Iterator[str]:
        self.n += 1
        gid = f"{self.prefix}-{self.n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, gid: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stages, tasks, failed = 0, 0, 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


# ------------------------------------------------------------- plan metrics


def execute_plan(df) -> list[dict]:
    """Run ``df``'s own physical plan to completion (a noop sink: rows are
    counted, never collected) and return one record per plan node of the
    final adaptive plan: ``{"node": name, "output": [column], "metrics": {name: value}}``.
    Timings are converted to seconds and sizes stay in bytes; every value is
    summed over the node's tasks."""
    plan = df._jdf.queryExecution().executedPlan()
    plan.execute().count()
    return walk_plan(plan)


def walk_plan(plan) -> list[dict]:
    out: list[dict] = []
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            kind, value = m.metricType(), m.value()
            if kind == "timing":
                value = value / 1e3
            elif kind == "nsTiming":
                value = value / 1e9
            metrics[kv._1()] = value
        attrs = node.output()
        output = [attrs.apply(i).name() for i in range(attrs.size())]
        out.append({"node": node.nodeName(), "output": output, "metrics": metrics})
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


def output_rows(nodes: list[dict], node_prefix: str, columns: set[str]) -> list[float]:
    """``numOutputRows`` of every ``node_prefix`` node whose output columns
    are exactly ``columns``."""
    return [
        float(n["metrics"].get("numOutputRows", 0))
        for n in nodes
        if n["node"].startswith(node_prefix) and set(n["output"]) == columns
    ]


@contextlib.contextmanager
def checkpoint_plans(spark, plans: list) -> Iterator[None]:
    """Collect the physical plan of every DataFrame ``localCheckpoint``-ed
    inside the block. A checkpoint runs that plan (then or later, when it is
    lazy), so after the block ``walk_plan`` reads the SQL metrics of
    intermediate results the engine never returns."""
    cls = type(spark.range(0))  # the session's concrete DataFrame class
    orig = cls.localCheckpoint

    def local_checkpoint(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan())
        return orig(df, *args, **kwargs)

    cls.localCheckpoint = local_checkpoint
    try:
        yield
    finally:
        cls.localCheckpoint = orig


def metric_sum(nodes: list[dict], metric: str, node_prefix: str | None = None) -> float:
    return float(
        sum(
            n["metrics"].get(metric, 0)
            for n in nodes
            if node_prefix is None or n["node"].startswith(node_prefix)
        )
    )


# ------------------------------------------------------------------ tracing


class Tracer:
    """In-memory spans (name, start, end, parent, run id) written out when the
    run ends. ``patch`` wraps an engine function for the length of one
    ``with`` block, recording a span around every call."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[dict]:
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def wrap(self, name: str, fn: Callable, after: Callable | None = None) -> Callable:
        """``fn`` with a span around each call; ``after(result)`` runs inside
        the span (used to materialize a lazy DataFrame at a stage boundary)."""

        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
                if after is not None:
                    after(result)
                return result

        return traced

    @contextlib.contextmanager
    def patch(self, targets: list[tuple[object, str, str, Callable | None]]) -> Iterator[None]:
        """``targets``: (owner, attribute, span name, after) — each owner's
        attribute is replaced by its traced form until the block exits."""
        saved = []
        try:
            for owner, attr, name, after in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(name, orig, after))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def total(self, name: str, parent: str | None = None) -> float:
        """Summed duration of ``name`` spans; with ``parent``, only those
        directly inside a ``parent`` span."""
        ids = None if parent is None else {s["id"] for s in self.spans if s["name"] == parent}
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None and (ids is None or s["parent"] in ids)
        )

    def self_total(self, name: str) -> float:
        """Summed duration of ``name`` spans minus the time their direct
        child spans cover."""
        ids = {s["id"] for s in self.spans if s["name"] == name and s["end"] is not None}
        child = sum(s["end"] - s["start"] for s in self.spans if s["parent"] in ids and s["end"] is not None)
        return self.total(name) - child

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -------------------------------------------------------------- environment


def _source_digest(root: str) -> str:
    """Content digest of the engine package: the checkout a benchmark runs
    in need not be a git repository."""
    import hashlib

    h = hashlib.sha1()
    pkg = os.path.join(root, "dsm2dtm_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def _git_commit(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def host_speed_s() -> float:
    """Seconds for a fixed single-threaded numpy workload: recorded at the
    start and end of every run, so a slow host shows next to the numbers."""
    import numpy as np

    x = np.random.default_rng(0).random(1 << 20)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(5):
            np.sort(x)
        best = min(best, time.perf_counter() - t0)
    return best


def environment(seed: int) -> dict:
    import numpy
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "seed": seed,
        "git_commit": _git_commit(ROOT),
        "source_digest": _source_digest(ROOT),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "loadavg_start": os.getloadavg()[0],
        "host_speed_start_s": host_speed_s(),
        "argv": sys.argv[1:],
    }
