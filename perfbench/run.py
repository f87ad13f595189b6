#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run drives one workload through the
engine's public functions from this process and prints, as its last line,
one JSON object {"correct", "attempted", "failed", "metrics"}; the lines
before it print every metric by name with its unit.

--trace 0 reports the end-to-end metrics. setup_s runs from process start
to the first timed op: a fresh session and warehouse, workload preparation
and one cold call of every op kind. The timed window then runs ops until
--seconds of op time are in.

--trace 1 reports the per-layer metrics: the same set-up and window with
the Spark event log on and spans recorded. Per-layer numbers are medians
per op over the window. trace.overhead_frac compares the run's ops_per_s
with the median of the untraced runs of the same workload made earlier in
this checkout (0 when there are none yet).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "build_a_cloud_based_batch_etl_pipeline_spark"
WORKLOADS = ("analytics_sql", "ann_serve")


END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("latency_p50_s", "s"),
    ("ok_frac", "frac"),
    ("recall_at_k", "frac"),
)

# (metric, unit, per-op row key); a key of None is computed per run
PER_LAYER = (
    ("session.start_s", "s", None),
    ("operators.build_s", "s", "span.operators.build"),
    ("operators.build_jobs", "count", "spark.build_jobs"),
    ("operators.util.memo_calls", "count", "memo.calls"),
    ("operators.util.memo_builds", "count", "memo.builds"),
    ("operators.util.memo_hit_ratio", "frac", None),
    ("spark.exec_s", "s", "spark.exec_s"),
    ("spark.jobs", "count", "spark.jobs"),
    ("spark.stages", "count", "spark.stages"),
    ("spark.tasks", "count", "spark.tasks"),
    ("spark.task_run_s", "s", "spark.task_run_s"),
    ("spark.task_cpu_s", "s", "spark.task_cpu_s"),
    ("spark.shuffle_read_mb", "MB", "spark.shuffle_read_mb"),
    ("spark.shuffle_write_mb", "MB", "spark.shuffle_write_mb"),
    ("spark.spill_mb", "MB", "spark.spill_mb"),
    ("spark.gc_s", "s", "spark.gc_s"),
    ("spark.peak_exec_mem_mb", "MB", "spark.peak_exec_mem_mb"),
    ("spark.python.boot_s", "s", "spark.python.boot_s"),
    ("spark.python.run_s", "s", "spark.python.run_s"),
    ("spark.python.sent_mb", "MB", "spark.python.sent_mb"),
    ("operators.similarity.serve_s", "s", "span.operators.similarity.serve"),
    ("serve.request_s", "s", "span.serve.request"),
    ("serve.overhead_s", "s", "span.serve.request.self"),
    ("peak_rss_mb", "MB", None),
    ("trace.overhead_frac", "frac", None),
)


def _untraced_ops_per_s(run) -> list[float]:
    """ops_per_s of the untraced runs of this workload already made in
    this checkout (their result files), for trace.overhead_frac."""
    import glob

    found = []
    for path in glob.glob(os.path.join(run.out_dir, f"{run.workload}-seed*-trace0.json")):
        with open(path) as f:
            found.append(json.load(f)["metrics"]["ops_per_s"])
    return found


def execute(run, wl, args) -> tuple[dict, dict]:
    """Set-up, timed window, whole-run checks; returns (metrics, detail)."""
    from perfbench import harness

    rng_setup = random.Random(f"setup-{args.seed}")
    rng_ops = random.Random(f"ops-{args.seed}")
    run.spans.enabled = run.trace
    session_s = run.start_session(event_log=run.trace)
    wl.setup(run, rng_setup)
    setup_s = time.perf_counter() - run.t_process
    m = harness.measure(run, wl, args.seconds, rng_ops)
    m["failed"] = min(len(m["lat"]), m["failed"] + wl.finish(run, m["ops"]))
    s = harness.summarize(m)
    detail = dict(s, latencies=m["lat"],
                  ops=[(op, str(spec)[:80]) for op, spec in m["ops"]])
    if not run.trace:
        return {
            "setup_s": setup_s,
            "ops_per_s": s["ops_per_s"],
            "latency_p50_s": s["latency_p50_s"],
            "ok_frac": 1.0 - s["failed"] / s["n"],
            "recall_at_k": wl.recall(),
        }, detail

    run.spark.stop()  # closes the event log
    run.spark = None
    rows = harness.per_op_layers(run, m["ops"])

    def col(key):
        return [rows[op].get(key, 0.0) for op, _spec in m["ops"]]

    calls, builds = sum(col("memo.calls")), sum(col("memo.builds"))
    plain = _untraced_ops_per_s(run)
    run_level = {
        "session.start_s": session_s,
        "operators.util.memo_hit_ratio": 1.0 - builds / calls if calls else 0.0,
        "peak_rss_mb": run.rss.peak_mb,
        "trace.overhead_frac":
            statistics.median(plain) / s["ops_per_s"] - 1.0 if plain else 0.0,
    }
    metrics = {
        name: run_level[name] if key is None else statistics.median(col(key))
        for name, _unit, key in PER_LAYER
    }
    detail.update(per_op=rows, untraced_runs=len(plain))
    return metrics, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import harness, workloads

    needed = [ENGINE, "bench.py", os.path.join("tools", "check.py")]
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {missing} not found; run from the root of a full checkout",
              file=sys.stderr)
        return 2
    sf_dir = harness.fixture_dir(harness.SF)
    if not os.path.isdir(sf_dir):
        print(f"perfbench: fixture dir {sf_dir} not found", file=sys.stderr)
        return 2

    # SIGTERM unwinds like an exception, so the finally below still stops
    # the JVM and its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = harness.Run(ROOT, args.workload, args.seed, bool(args.trace), T_PROCESS)
    harness.prepare_env(ROOT, run.work)
    if run.trace:
        run.rss.start()
    wl = None
    try:
        if run.memo is not None:
            run.memo.install()  # before any operator module is imported
        wl = workloads.make(args.workload)
        metrics, detail = execute(run, wl, args)
    finally:
        if wl is not None:
            wl.stop()
        run.shutdown()

    attempted, failed = detail["n"], detail["failed"]
    units = dict((n, u) for n, u, *_ in (END_TO_END + PER_LAYER))
    out_name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    harness.write_out(run, out_name + ".json", {
        "args": vars(args), "metrics": metrics, "detail": detail,
        "wall_s": time.perf_counter() - T_PROCESS, "problems": run.problems,
    })
    if args.trace:
        run.spans.dump(os.path.join(run.out_dir, out_name + ".spans.jsonl"))

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{attempted} ops, {failed} failed")
    print(f"  latency p{detail['tail_pct']:g} {detail['latency_tail_s']:.6f} s "
          f"({detail['tail_beyond']} of {detail['n']} samples beyond it)")
    if args.trace and not detail["untraced_runs"]:
        print("  trace.overhead_frac: no untraced run of this workload in this checkout yet")
    for name, value in metrics.items():
        print(f"  {name:34s} {value:14.6f} {units[name]}")
    result = {
        "correct": not run.problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
