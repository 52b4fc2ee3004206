"""The traced run: per-layer spans and counts, kept apart from the timed runs.

Spans are recorded by the benchmark around calls into each layer's public
function; nothing in the program is instrumented. A span holds its name,
start, end, parent span and the run id; spans and counts stay in memory and
are written to ``<work>/traces/<run id>.json`` when the run ends.

Inside the pipeline most layers are fused into one Spark stage, so each is
timed as a *prefix plan*: the plan up to and including the layer, run to
Spark's no-op sink. A prefix plan contains the prefix plan it consumes (its
``child``, e.g. ``extract`` contains ``ordering``), and the layer's self time
is its span minus its child's span. Engine-side numbers (shuffle bytes,
spill, task times, job count) are folded from a Spark event log that only
this run enables.

Flow: cold set-up and untraced iterations for half the window (the overhead
baseline) -> a new session with the event log -> warm-up -> traced
iterations for the other half -> layer prefix plans -> driver-side bank and
normalize kernels -> event-log fold.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import harness
import workloads
from logparserhelper_spark.banks import get_compiled_bank, get_compiled_transforms
from logparserhelper_spark.defaults import default_pattern_bank, default_transform_bank
from logparserhelper_spark.operators.aggregate import (
    conv_rollup_from_turns,
    sink_pattern_freq_from_turns,
)
from logparserhelper_spark.operators.enrich import bank_dim, enrich
from logparserhelper_spark.operators.extract import normalize_batch_with_span_knowledge
from logparserhelper_spark.operators.ordering import stable_order_dedup
from logparserhelper_spark.pipeline import build_routed_plan, build_turns_plan, run_pipeline
from logparserhelper_spark.sinks.hadoop_table import HadoopTable
from logparserhelper_spark.sources.transcripts import read_dim, read_transcripts
from scripts.capacity_run import summarize_event_log

# (name, unit) of every per-layer metric, in report order
PER_LAYER = [
    ("session.build_s", "s"), ("session.warmup_s", "s"),
    ("sources.scan_s", "s"), ("sources.input_mb", "MB"),
    ("ordering.self_s", "s"), ("ordering.rows_removed", "count"),
    ("ordering.shuffle_write_mb", "MB"), ("ordering.spill_mb", "MB"),
    ("ordering.task_skew", "ratio"),
    ("banks.extract_rows_per_s", "rows/s"), ("banks.extract_mb_per_s", "MB/s"),
    ("banks.prefilter_reject_ratio", "ratio"), ("banks.spans_per_turn", "spans/turn"),
    ("extract.self_s", "s"), ("extract.normalize_rows_per_s", "rows/s"),
    ("enrich.self_s", "s"),
    ("route.self_s", "s"), ("route.rows_out", "count"), ("route.fanout", "rows/turn"),
    ("aggregate.freq_s", "s"), ("aggregate.rollup_s", "s"),
    ("sinks.write_s", "s"), ("sinks.mb_written", "MB"), ("sinks.files_written", "count"),
    ("sinks.commit_s", "s"), ("sinks.commits", "count"), ("sinks.metadata_kb", "KB"),
    ("sinks.read_s", "s"), ("sinks.read_files_planned", "count"),
    ("pipeline.wall_s", "s"), ("pipeline.bucket_s", "s"), ("pipeline.publish_s", "s"),
    ("pipeline.jobs", "count"), ("pipeline.resumed_buckets", "count"),
    ("pipeline.overhead_s", "s"),
    ("trace.untraced_turns_per_s", "turns/s"), ("trace.turns_per_s", "turns/s"),
    ("trace.overhead_turns_per_s", "turns/s"),
]

# layer self times that, with pipeline.overhead_s, make up pipeline.wall_s
SELF_TIMES = ("sources.scan_s", "ordering.self_s", "extract.self_s", "enrich.self_s",
              "route.self_s", "aggregate.freq_s", "aggregate.rollup_s", "sinks.write_s")

# rows of the driver-side kernel sample: one Arrow batch at the session's
# spark.sql.execution.arrow.maxRecordsPerBatch
SAMPLE_ROWS = 20000
KERNEL_MIN_S = 0.5


class Tracer:
    """In-memory spans and counts of one run. Spans opened on the main
    thread nest; a span opened on another thread (the pipeline commits
    buckets from a thread pool) takes the main thread's innermost open span
    as its parent."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        main = threading.current_thread() is threading.main_thread()
        with self._lock:
            rec = {"id": len(self.spans), "name": name,
                   "parent": self._stack[-1] if self._stack else None,
                   "run_id": self.run_id, "start": time.time(), "end": None, **attrs}
            self.spans.append(rec)
        if main:
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if main:
                self._stack.pop()

    def count(self, name: str, value: float) -> None:
        self.counts[name] = value

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, rec: dict, name: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"] and s["name"] == name]

    def duration(self, name: str) -> float:
        """Median duration of the spans called ``name``."""
        return statistics.median(s["end"] - s["start"] for s in self.named(name))

    def self_time(self, name: str) -> float:
        """A prefix plan's duration minus its child prefix plan's."""
        child = self.named(name)[0].get("child")
        return self.duration(name) - (self.duration(child) if child else 0.0)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, "counts": self.counts},
                      f, indent=1)


@contextmanager
def traced_table_commits(tracer: Tracer):
    """Record a span around every ``HadoopTable.replace_partitions`` call,
    including those the pipeline makes from its own threads."""
    original = HadoopTable.replace_partitions

    def wrapped(self, *a, **kw):
        with tracer.span("sinks.replace_partitions"):
            return original(self, *a, **kw)

    HadoopTable.replace_partitions = wrapped
    try:
        yield
    finally:
        HadoopTable.replace_partitions = original


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- the traced run ---------------------------------------------------------

def traced_run(args, work_dir, data, out, expected) -> dict:
    run_id = f"{args.workload}-s{args.seed}-{int(time.time() * 1000)}"
    tracer = Tracer(run_id)
    events = os.path.join(work_dir, "events", run_id)
    workload = args.workload
    n_turns = expected["input_turns"]
    errors: list[str] = []
    base, iters = [], []
    spark = None
    try:
        # untraced baseline: cold set-up, then the closed loop for half the window
        with tracer.span("session.build"):
            spark = harness.new_session(work_dir, "perfbench")
        with tracer.span("session.warmup"):
            for it in harness.warm_up(spark, workload, data, out, expected):
                errors += it.errors
        tracer.count("session.build_s", tracer.duration("session.build"))
        tracer.count("session.warmup_s", tracer.duration("session.warmup"))
        # one iteration at least per half (not two): the traced run pays two
        # set-ups and the layer plans, and must end within 180 s on a busy box
        base, _rss = harness.closed_loop(spark, workload, data, out, expected, args.seconds / 2,
                                         min_iterations=1)

        # traced: a session with the event log, a warm-up, traced iterations
        spark.stop()
        spark = harness.new_session(work_dir, "perfbench-traced", event_log_dir=events)
        for it in harness.warm_up(spark, workload, data, out, expected):
            errors += it.errors
        with traced_table_commits(tracer):
            spent = 0.0
            while not iters or spent < args.seconds / 2:
                it = traced_iteration(spark, tracer, workload, data, out, expected)
                iters.append(it)
                spent += it.wall_s
            raised = any(it.raised for it in base + iters)
            if not raised:
                traced_layers(spark, tracer, workload, data, out, expected)
    finally:
        harness.shutdown_spark(spark)
    for it in base + iters:
        errors += it.errors

    attempted = len(base) + len(iters)
    failed = sum(1 for it in base + iters if it.errors)
    if raised:  # no layer metrics: the run is failed
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {},
                "extra": {"error_rate": failed / attempted}, "errors": errors}
    untraced = statistics.median(n_turns / it.wall_s for it in base)
    traced = statistics.median(n_turns / it.wall_s for it in iters)
    tracer.count("trace.untraced_turns_per_s", untraced)
    tracer.count("trace.turns_per_s", traced)
    tracer.count("trace.overhead_turns_per_s", traced - untraced)
    tracer.count("pipeline.wall_s", statistics.median(it.wall_s for it in iters))
    pipeline_counts(tracer, workload)
    fold_event_log(tracer, events, workload)
    tracer.dump(os.path.join(work_dir, "traces", run_id + ".json"))

    return {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": tracer.counts[name], "unit": unit}
                    for name, unit in PER_LAYER},
        "extra": {"error_rate": failed / attempted,
                  "self_time_sum_s": sum(tracer.counts[k] for k in SELF_TIMES),
                  "trace_file": os.path.join(work_dir, "traces", run_id + ".json")},
        "errors": errors,
    }


def traced_iteration(spark, tracer, workload, data, out, expected):
    """``harness.attempt`` inside a span, with a span around each
    ``run_pipeline`` leg that also keeps the leg's bucket commit markers.
    As in the untraced loop, an exception fails the iteration, not the run."""

    def traced_leg(spark_, cfg):
        with tracer.span("pipeline.run") as leg:
            try:
                metrics = run_pipeline(spark_, cfg)
            finally:
                leg["markers"] = harness.committed_markers(cfg.out_dir)
            leg["resumed"] = sum(1 for v in metrics["buckets"].values() if v == "resumed")
            return metrics

    with tracer.span("pipeline.iteration"):
        return harness.attempt(spark, workload, data, out, expected, run=traced_leg)


def work_legs(tracer: Tracer, workload: str) -> list[list[dict]]:
    """Per traced iteration, the legs timed as its wall: failed + resume
    leg, or the single run (the restart leg after it is not)."""
    n = 2 if workloads.PIPELINE_SHAPE[workload][2] is not None else 1
    return [tracer.children(it, "pipeline.run")[:n] for it in tracer.named("pipeline.iteration")]


def pipeline_counts(tracer: Tracer, workload: str) -> None:
    """Per-bucket and publish times from the bucket commit-marker mtimes."""
    buckets, publish, resumed = [], [], []
    for legs in work_legs(tracer, workload):
        seen: dict[int, float] = {}
        for leg in legs:
            prev = leg["start"]
            for t in sorted(t for k, t in leg["markers"].items() if k not in seen):
                buckets.append(t - prev)
                prev = t
            seen.update(leg["markers"])
        publish.append(legs[-1]["end"] - max(legs[-1]["markers"].values()))
        resumed.append(legs[-1]["resumed"])
    tracer.count("pipeline.bucket_s", statistics.median(buckets))
    tracer.count("pipeline.publish_s", statistics.median(publish))
    tracer.count("pipeline.resumed_buckets", statistics.median(resumed))
    tracer.count("pipeline.overhead_s", tracer.counts["pipeline.wall_s"]
                 - sum(tracer.counts[k] for k in SELF_TIMES))


def traced_layers(spark, tracer, workload, data, out, expected) -> None:
    """Time each layer's public call as a prefix plan; ``out`` holds the
    last traced iteration's published output."""
    bank = default_pattern_bank()
    tbank = default_transform_bank()
    cfg = harness.pipeline_config(data, out, workload, fail=False)
    trace_out = os.path.join(os.path.dirname(out), "trace-" + workload)
    shutil.rmtree(trace_out, ignore_errors=True)
    table_format = harness.is_table(workload)

    with tracer.span("layers"):
        src = read_transcripts(spark, data)
        n_parse = spark.sparkContext.defaultParallelism * 2
        with tracer.span("sources"):
            noop(src)
        with tracer.span("ordering", child="sources"):
            noop(stable_order_dedup(src.repartition(n_parse, "conv_id", "turn_idx")))
        with tracer.span("extract", child="ordering"):
            noop(build_turns_plan(spark, cfg, src, bank, tbank, None, None))

        # the read-back layers start from the turns the pipeline wrote
        back = spark.read.parquet(os.path.join(out, "turns")).drop(
            "role_kind", "is_human", "tool_family", "is_side_effecting")
        bdim = bank_dim(spark, bank)
        routed = build_routed_plan(back, bdim)
        with tracer.span("readback"):
            noop(back)
        with tracer.span("enrich", child="readback"):
            noop(enrich(back, read_dim(spark, cfg.role_dim_path),
                        read_dim(spark, cfg.tool_dim_path)))
        with tracer.span("route", child="readback"):
            noop(routed)
        with tracer.span("aggregate.freq", child="readback"):
            noop(sink_pattern_freq_from_turns(back, bdim))
        with tracer.span("aggregate.rollup", child="readback"):
            noop(conv_rollup_from_turns(back))
        # the routed write in the workload's own sink format
        with tracer.span("sinks.write", child="route"):
            if table_format:
                HadoopTable(spark, os.path.join(trace_out, "routed_table")).replace_partitions(
                    routed.withColumn("bucket", F.lit(0)), ["bucket", "sink"],
                    scope={"bucket": 0})
            else:
                routed.write.mode("overwrite").partitionBy("sink").parquet(
                    os.path.join(trace_out, "routed"))
        # the snapshot table read per sink: the pipeline's own routed table,
        # or one commit of the routed rows into a trace table
        if table_format:
            table_loc = harness.routed_table(out)
        else:
            table_loc = os.path.join(trace_out, "routed_table")
            HadoopTable(spark, table_loc).replace_partitions(
                routed.withColumn("bucket", F.lit(0)), ["bucket", "sink"], scope={"bucket": 0})
        table = HadoopTable(spark, table_loc)
        planned = 0
        for sink in sorted(expected["routed_per_sink"]):
            pred = [("sink", "=", sink)]
            with tracer.span("sinks.read", sink=sink):
                table.read(predicate=pred).count()
            planned += len(table.plan_files(predicate=pred))
        rows_out = harness.read_routed(spark, workload, out).count()

    c = tracer.count
    for name, metric in (("sources", "sources.scan_s"), ("ordering", "ordering.self_s"),
                         ("extract", "extract.self_s"), ("enrich", "enrich.self_s"),
                         ("route", "route.self_s"), ("aggregate.freq", "aggregate.freq_s"),
                         ("aggregate.rollup", "aggregate.rollup_s"),
                         ("sinks.write", "sinks.write_s")):
        c(metric, tracer.self_time(name))
    transcripts = os.path.join(data, "transcripts.parquet")
    c("sources.input_mb", os.path.getsize(transcripts) / 1e6)
    files, size = data_files(os.path.join(out, "routed_table" if table_format else "routed"))
    c("sinks.files_written", files)
    c("sinks.mb_written", size / 1e6)
    c("sinks.commit_s", tracer.duration("sinks.replace_partitions"))
    c("sinks.commits", len(table.versions()))
    c("sinks.metadata_kb", sum(os.path.getsize(os.path.join(r, f)) for r, _d, fs
                               in os.walk(os.path.join(table_loc, "metadata")) for f in fs) / 1e3)
    c("sinks.read_s", tracer.duration("sinks.read"))
    c("sinks.read_files_planned", planned)

    turns = 0
    for fn in glob.glob(os.path.join(out, "_progress", "bucket_*.json")):
        with open(fn) as f:
            turns += json.load(f)["turns_in"]
    c("ordering.rows_removed", pq.ParquetFile(transcripts).metadata.num_rows - turns)
    c("route.rows_out", rows_out)
    c("route.fanout", rows_out / turns)
    kernels(tracer, transcripts, bank, tbank)


def data_files(path: str) -> tuple[int, int]:
    """(count, bytes) of the parquet data files under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, fn))
    return n, size


def _repeat(fn, min_s: float) -> float:
    """Calls of ``fn`` per second, calling it for at least ``min_s``."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        el = time.perf_counter() - t0
        if el >= min_s:
            return reps / el


def kernels(tracer: Tracer, transcripts: str, bank, tbank) -> None:
    """The regex crossing's two Python kernels, driver-side on one core,
    over the first Arrow batch of the workload's texts."""
    texts = pq.read_table(transcripts, columns=["text"]).column("text").to_pylist()[:SAMPLE_ROWS]
    spec, tspec = bank.spec(), tbank.spec()
    cb = get_compiled_bank(spec)
    ct = get_compiled_transforms(tspec)
    mb = sum(len(t.encode()) for t in texts) / 1e6
    spans = cb.extract_batch(texts)

    with tracer.span("banks.extract_batch"):
        calls = _repeat(lambda: cb.extract_batch(texts), KERNEL_MIN_S)
    tracer.count("banks.extract_rows_per_s", calls * len(texts))
    tracer.count("banks.extract_mb_per_s", calls * mb)
    rejected = sum(1 for t in texts if cb.prefilter.search(t) is None)
    tracer.count("banks.prefilter_reject_ratio", rejected / len(texts))
    tracer.count("banks.spans_per_turn", sum(len(s) for s in spans) / len(texts))

    with tracer.span("extract.normalize"):
        calls = _repeat(lambda: normalize_batch_with_span_knowledge(texts, spans, spec, ct),
                        KERNEL_MIN_S)
    tracer.count("extract.normalize_rows_per_s", calls * len(texts))


def fold_event_log(tracer: Tracer, events_dir: str, workload: str) -> None:
    """Shuffle bytes, spill and task skew of the ordering prefix plan, and
    Spark jobs per traced iteration, from the event log."""
    logs = sorted(f for f in glob.glob(os.path.join(events_dir, "**", "*"), recursive=True)
                  if os.path.isfile(f) and not f.endswith(".crc"))
    span = tracer.named("ordering")[0]
    lo, hi = span["start"] * 1000, span["end"] * 1000

    def fold(boundary_ms: float) -> dict[str, int]:
        acc: dict[str, int] = {}
        for f in logs:
            for k, v in summarize_event_log(f, boundary_ms).items():
                acc[k] = acc.get(k, 0) + v
        return acc

    before, upto = fold(lo), fold(hi)
    tracer.count("ordering.shuffle_write_mb",
                 (upto["shuffle_write_bytes_total"] - before["shuffle_write_bytes_total"]) / 1e6)
    tracer.count("ordering.spill_mb",
                 (upto["disk_bytes_spilled"] - before["disk_bytes_spilled"]) / 1e6)

    stage_tasks: dict[int, list[int]] = {}
    job_starts: list[float] = []
    for f in logs:
        with open(f, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    info = ev["Task Info"]
                    if lo <= info["Launch Time"] and info["Finish Time"] <= hi:
                        stage_tasks.setdefault(ev["Stage ID"], []).append(
                            info["Finish Time"] - info["Launch Time"])
                elif '"SparkListenerJobStart"' in line:
                    job_starts.append(json.loads(line)["Submission Time"] / 1000)
    # the post-shuffle (dedup) stage is the last stage of the prefix plan
    reduce_ms = stage_tasks[max(stage_tasks)]
    tracer.count("ordering.task_skew", max(reduce_ms) / max(statistics.median(reduce_ms), 1))
    tracer.count("pipeline.jobs", statistics.median(
        sum(1 for t in job_starts for leg in legs if leg["start"] <= t <= leg["end"])
        for legs in work_legs(tracer, workload)))
