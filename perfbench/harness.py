"""Spark session lifecycle, one closed-loop iteration of the pipeline, the
oracle correctness gate, and process memory sampling.

Everything here drives the program through its public entry points
(``session.build_session``, ``pipeline.run_pipeline``,
``sinks.hadoop_table.HadoopTable``); nothing in the program is changed.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from logparserhelper_spark.defaults import default_transform_bank
from logparserhelper_spark.pipeline import InjectedFailure, PipelineConfig, run_pipeline
from logparserhelper_spark.session import build_session
from logparserhelper_spark.sinks.hadoop_table import HadoopTable

import workloads

DRIVER_MEMORY = "4g"
# end-to-end pipeline runs that warm a new session up before any timing:
# after only one, the first timed iteration was still 10-20% slower than
# the next
WARMUP_PIPELINE_RUNS = 2
# timed iterations per run at least, however long each takes, so that no
# timing rests on a single sample
MIN_ITERATIONS = 2


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(repo: str, work_dir: str) -> None:
    """Process environment for the driver JVM and the Python workers: the
    repo on PYTHONPATH (workers import the UDF's module), driver memory well
    below physical RAM, and every temporary file inside ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [repo] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")


def new_session(work_dir: str, app_name: str, event_log_dir: str | None = None) -> SparkSession:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return build_session(parallelism=cpu_count(), app_name=app_name, extra_conf=conf)


def shutdown_spark(spark: SparkSession | None) -> None:
    """Stop the session and the gateway JVM, then wait until every process
    started below this one (the JVM, the Python worker daemons and their
    workers) has exited, killing any that outlive a grace period."""
    from pyspark import SparkContext

    started = descendants()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        gateway.proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait(timeout=30)
    if not _wait_gone(started, 20):
        for pid in started:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _wait_gone(started, 10)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def _wait_gone(pids: list[int], timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True


# -- memory -----------------------------------------------------------------

def descendants(root: int | None = None) -> list[int]:
    """Live descendant pids of ``root`` (default: this process), from /proc.
    Zombies are skipped: they hold no memory and wait only for a reap."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[0] == "Z":
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss() -> None:
    """Restart every descendant's VmHWM at its current RSS, so the next
    reading covers only what runs from here on."""
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb() -> float:
    """Sum of VmHWM over the driver JVM and the Python workers (every
    descendant of this process); an upper bound of their joint peak."""
    return sum(_status_kb(pid, "VmHWM") for pid in descendants()) / 1024.0


# -- one iteration ----------------------------------------------------------

@dataclass
class IterationResult:
    wall_s: float
    resume_s: list[float]
    sink_query_s: list[float] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    raised: bool = False


def pipeline_config(data: str, out: str, workload: str, fail: bool) -> PipelineConfig:
    fmt, n_buckets, fail_after = workloads.PIPELINE_SHAPE[workload]
    return PipelineConfig(
        input_path=data,
        out_dir=out,
        transform_bank=default_transform_bank(),
        role_dim_path=os.path.join(data, "role_dim.parquet"),
        tool_dim_path=os.path.join(data, "tool_dim.parquet"),
        n_buckets=n_buckets,
        routed_format=fmt,
        fail_after_buckets=fail_after if fail else None,
    )


def run_iteration(spark: SparkSession, workload: str, data: str, out: str,
                  expected: dict, run=run_pipeline, checked: bool = True) -> IterationResult:
    """One closed-loop iteration from input to a published result, then,
    outside ``wall_s`` and only if ``checked``, the restart leg and the
    read-back checks against the oracle.

    With an injected failure (``table_resume``) the iteration is the failed
    leg plus the resume leg, and ``resume_s`` holds the resume leg. Without
    one, ``resume_s`` holds one restart over the completed output, timed
    outside ``wall_s``: every bucket is committed, so the restart skips them
    all and re-publishes. ``run`` is called in place of ``run_pipeline``
    (the traced run wraps it)."""
    shutil.rmtree(out, ignore_errors=True)
    fail_after = workloads.PIPELINE_SHAPE[workload][2]
    errors: list[str] = []
    t0 = time.perf_counter()
    if fail_after is not None:
        try:
            run(spark, pipeline_config(data, out, workload, fail=True))
            errors.append("the injected failure did not fire")
        except InjectedFailure:
            pass
        committed = set(committed_markers(out))
    t1 = time.perf_counter()
    published = run(spark, pipeline_config(data, out, workload, fail=False))
    t2 = time.perf_counter()
    if fail_after is not None:
        resume_s = [t2 - t1]
        errors += check_resumed(published, committed)
    elif checked:
        restart = run(spark, pipeline_config(data, out, workload, fail=False))
        resume_s = [time.perf_counter() - t2]
        errors += check_resumed(restart, set(range(len(restart["buckets"]))))
    else:
        resume_s = []
    sink_query_s = check_outputs(spark, workload, out, expected, errors) if checked else []
    return IterationResult(wall_s=t2 - t0, resume_s=resume_s, sink_query_s=sink_query_s,
                           errors=errors)


def attempt(spark: SparkSession, workload: str, data: str, out: str, expected: dict,
            run=run_pipeline, checked: bool = True) -> IterationResult:
    """``run_iteration``; an exception fails the iteration instead of the run."""
    t0 = time.perf_counter()
    try:
        return run_iteration(spark, workload, data, out, expected, run, checked)
    except Exception:
        return IterationResult(wall_s=time.perf_counter() - t0, resume_s=[],
                               errors=[traceback.format_exc()], raised=True)


def warm_up(spark: SparkSession, workload: str, data: str, out: str,
            expected: dict) -> list[IterationResult]:
    """Untimed iterations until the pipeline has run end to end
    ``WARMUP_PIPELINE_RUNS`` times: two iterations of one leg each, or one
    ``table_resume`` iteration (failed leg + resume leg). Only the last one
    runs the restart leg and the checks, which warms their paths too; the
    cold checks of an earlier one would add seconds to every run."""
    legs = 2 if workloads.PIPELINE_SHAPE[workload][2] is not None else 1
    n = -(-WARMUP_PIPELINE_RUNS // legs)
    return [attempt(spark, workload, data, out, expected, checked=i == n - 1)
            for i in range(n)]


def closed_loop(spark: SparkSession, workload: str, data: str, out: str, expected: dict,
                seconds: float, min_iterations: int = MIN_ITERATIONS,
                ) -> tuple[list[IterationResult], float]:
    """Checked iterations until ``seconds`` of iteration wall time are spent
    and at least ``min_iterations`` have run. Returns them and the peak RSS
    in MB over them."""
    iters, spent, rss = [], 0.0, 0.0
    reset_peak_rss()
    while len(iters) < min_iterations or spent < seconds:
        it = attempt(spark, workload, data, out, expected)
        rss = max(rss, peak_rss_mb())
        iters.append(it)
        spent += it.wall_s
    return iters, rss


def committed_markers(out: str) -> dict[int, float]:
    """bucket -> mtime of its commit marker, for every committed bucket."""
    d = os.path.join(out, "_progress")
    marks = {}
    for fn in os.listdir(d) if os.path.isdir(d) else []:
        if fn.startswith("bucket_") and fn.endswith(".json"):
            marks[int(fn[len("bucket_"):-len(".json")])] = os.path.getmtime(os.path.join(d, fn))
    return marks


def check_resumed(metrics: dict, want: set[int]) -> list[str]:
    got = {int(k) for k, v in metrics["buckets"].items() if v == "resumed"}
    if got != want:
        return [f"resumed buckets {sorted(got)} != committed before the restart {sorted(want)}"]
    return []


# -- reading the sinks back and checking them -------------------------------

def is_table(workload: str) -> bool:
    return workloads.PIPELINE_SHAPE[workload][0] == "table"


def routed_table(out: str) -> str:
    return os.path.join(out, "routed_table")


def read_routed(spark: SparkSession, workload: str, out: str, sink: str | None = None):
    """The routed rows (of one sink): a snapshot read with a ``sink``
    predicate from the table, or a partition-pruned parquet read."""
    if is_table(workload):
        pred = [("sink", "=", sink)] if sink is not None else None
        return HadoopTable(spark, routed_table(out)).read(predicate=pred)
    df = spark.read.parquet(os.path.join(out, "routed"))
    return df if sink is None else df.where(F.col("sink") == sink)


def published_sinks(spark: SparkSession, workload: str, out: str) -> set[str]:
    """Sink partitions in the routed output, from the current snapshot's
    files (table) or the directory layout (parquet)."""
    if is_table(workload):
        snap = HadoopTable(spark, routed_table(out)).snapshot()
        return {f.partition["sink"] for f in snap.data_files}
    root = os.path.join(out, "routed")
    return {part[len("sink="):] for bucket in os.listdir(root)
            for part in os.listdir(os.path.join(root, bucket)) if part.startswith("sink=")}


def check_outputs(spark: SparkSession, workload: str, out: str, expected: dict,
                  errors: list[str]) -> list[float]:
    """Compare the published outputs with the oracle's expectation, adding
    a message to ``errors`` per mismatch. Each sink is read back on its own;
    returns those reads' latencies."""
    counts, lat = {}, []
    for sink in sorted(expected["routed_per_sink"]):
        t0 = time.perf_counter()
        counts[sink] = read_routed(spark, workload, out, sink).count()
        lat.append(time.perf_counter() - t0)
    if counts != expected["routed_per_sink"]:
        errors.append(f"routed rows per sink {counts} != {expected['routed_per_sink']}")
    extra = published_sinks(spark, workload, out) - set(counts)
    if extra:
        errors.append(f"unexpected sinks {sorted(extra)}")
    agg = os.path.join(out, "aggregates")
    freq = {
        "unmatched" if r["pattern_id"] is None else str(r["pattern_id"]):
            [r["n_matches"], r["n_turns"]]
        for r in spark.read.parquet(os.path.join(agg, "sink_pattern_freq")).collect()
    }
    if freq != expected["sink_pattern_freq"]:
        errors.append(f"sink_pattern_freq {freq} != {expected['sink_pattern_freq']}")
    row = spark.read.parquet(os.path.join(agg, "conv_rollup")).agg(
        F.count(F.lit(1)).alias("rows"), F.sum("n_turns").alias("n_turns")
    ).collect()[0]
    want = (expected["conv_rollup_rows"], expected["conv_rollup_n_turns"])
    if (row["rows"], row["n_turns"]) != want:
        errors.append(f"conv_rollup (rows, sum n_turns) {(row['rows'], row['n_turns'])} != {want}")
    return lat
