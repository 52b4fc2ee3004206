#!/usr/bin/env python3
"""Benchmark of record for the transcript pipeline.

    python3 perfbench/run.py --workload mixed_short --seed 1 --seconds 10 --trace 0

Runs ``pipeline.run_pipeline`` end to end on one seeded workload, one job at
a time from this single process (a closed loop with one client) on
``local[<cpus>]``, and checks every iteration's published outputs against
the pure-Python oracle. Prints a table of every metric with its unit and,
as the last line of standard output, one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes a separate
traced run and reports the per-layer metrics (see tracing.py). The exit code
is 0 only when every iteration's outputs matched the oracle.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "turns_per_s": "turns/s",
    "setup_s": "s",
    "resume_s": "s",
    "sink_query_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the timed window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="bench", help="input size (bench | tiny)")
    p.add_argument("--work-dir", default=os.path.join(HERE, "_work"),
                   help="where inputs, outputs and temporary files go")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "logparserhelper_spark")):
        print(f"perfbench: no logparserhelper_spark package under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    work_dir = os.path.abspath(args.work_dir)

    import harness  # noqa: E402  (needs the repo on sys.path)
    import workloads  # noqa: E402

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    harness.prepare_environment(REPO, work_dir)
    t_gen = time.perf_counter()
    data = workloads.ensure_workload(work_dir, args.workload, args.seed, args.size)
    gen_s = time.perf_counter() - t_gen
    expected = workloads.load_expected(data)
    out = os.path.join(work_dir, "out", args.workload)

    if args.trace:
        import tracing  # noqa: E402

        result = tracing.traced_run(args, work_dir, data, out, expected)
    else:
        result = timed_run(args, work_dir, data, out, expected, gen_s)
    result["extra"]["cpu_calibration_s"] = cpu_calibration_s()
    print_summary(args, result)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}),
          flush=True)
    return 0 if result["correct"] else 1


def median(values) -> float:
    """Median, or 0.0 when every iteration raised (the run is failed)."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def cpu_calibration_s() -> float:
    """Seconds for a fixed pure-Python loop (median of three): a reading of
    how fast this box runs right now, printed beside the metrics."""
    def loop() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        return time.perf_counter() - t0
    return statistics.median(loop() for _ in range(3))


def timed_run(args, work_dir, data, out, expected, gen_s) -> dict:
    """Set-up (session build and the warm-up), then the closed loop.
    ``setup_s`` runs from process start to the first timed iteration, input
    generation excluded."""
    import harness

    spark = None
    try:
        spark = harness.new_session(work_dir, "perfbench")
        warm = harness.warm_up(spark, args.workload, data, out, expected)
        setup_s = time.perf_counter() - _T_START - gen_s
        iters, rss = harness.closed_loop(spark, args.workload, data, out, expected,
                                         args.seconds)
    finally:
        harness.shutdown_spark(spark)
    errors = [e for it in warm + iters for e in it.errors]
    failed = sum(1 for it in iters if it.errors)
    n_turns = expected["input_turns"]
    done = [it for it in iters if not it.raised]
    walls = [it.wall_s for it in done]
    resumes = [r for it in done for r in it.resume_s]
    queries = [q for it in done for q in it.sink_query_s]
    values = {
        "turns_per_s": median(n_turns / w for w in walls),
        "setup_s": setup_s,
        "resume_s": median(resumes),
        "sink_query_s": median(queries),
        "peak_rss_mb": rss,
    }
    return {
        "correct": not errors,
        "attempted": len(iters),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()},
        "stats": {"turns_per_s": f"median of {len(walls)}", "setup_s": "one cold set-up",
                  "resume_s": f"median of {len(resumes)}",
                  "sink_query_s": f"median of {len(queries)}",
                  "peak_rss_mb": f"peak over {len(iters)} iterations"},
        "extra": {"error_rate": failed / len(iters), "iteration_s": walls,
                  "input_turns": n_turns, "generation_s": gen_s},
        "errors": errors,
    }


def print_summary(args, result: dict) -> None:
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"cpus={len(os.sched_getaffinity(0))}")
    for name, m in result["metrics"].items():
        stat = result.get("stats", {}).get(name)
        suffix = f"  ({stat})" if stat else ""
        print(f"  {name:34s} {m['value']:14.4f} {m['unit']}{suffix}")
    for name, v in result.get("extra", {}).items():
        if isinstance(v, list):
            v = "[" + ", ".join(f"{x:.3f}" for x in v) + "]"
        elif isinstance(v, float):
            v = f"{v:.4f}"
        unit = " ratio" if name == "error_rate" else ""
        print(f"  {name:34s} {v}{unit}")
    for e in result["errors"]:
        print(f"  ERROR: {e}")


if __name__ == "__main__":
    sys.exit(main())
