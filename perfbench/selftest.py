#!/usr/bin/env python3
"""Self-test of the traced run's attribution: a short traced session at
sf0.001 of two queries plus one ``POST /ann`` request, whose event log is
parsed and checked op by op.

    python3 perfbench/selftest.py      (from the root of a checkout)

Checks that each op's jobs, stages, tasks, shuffle bytes and Python-worker
fields are present and attributed to the op that ran them: the join+
aggregate query shuffles and starts no Python worker, the t-digest query
sends data to Arrow Python workers, and the /ann request's jobs (run on the
server thread) land on the request's op. Exits non-zero on a failure.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = {"op_q5": "q5_region_revenue", "op_tdigest": "sketch_tdigest_quantiles"}


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import harness, workloads
    from perfbench.tracing import parse_event_log

    run = harness.Run(ROOT, "selftest", 0, True, T_PROCESS)
    run.sf_dir = harness.fixture_dir("sf0.001")
    harness.prepare_env(ROOT, run.work)
    failures: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            failures.append(what)

    try:
        run.memo.install()
        from build_a_cloud_based_batch_etl_pipeline_spark.queries import load_all

        registry = load_all()
        run.spans.enabled = True
        run.start_session(event_log=True)
        for op, name in QUERIES.items():
            run.tag(op, "build")
            df = registry[name].fn(run.spark, run.sf_dir)
            run.tag(op)
            df.write.mode("overwrite").format("noop").save()
        ann = workloads.AnnServe()
        try:
            ann.setup(run, random.Random(0))
            spec = ann.make_pass(random.Random(1))[0]
            run.tag("op_ann")
            expect(ann.check_op(run, spec, ann.run_op(run, spec, "op_ann")),
                   "/ann request answered with k rows per query")
        finally:
            ann.stop()
        run.spark.stop()  # closes the event log
        run.spark = None
        rows = {}
        for name in os.listdir(run.event_log_dir):
            rows.update(parse_event_log(os.path.join(run.event_log_dir, name)))
        spans = run.spans.by_op()
    finally:
        run.shutdown()

    q5, td, an = rows.get("op_q5"), rows.get("op_tdigest"), rows.get("op_ann")
    expect(None not in (q5, td, an), f"all three ops in the event log: {sorted(rows)}")
    if failures:
        return 1
    for op, r in (("op_q5", q5), ("op_tdigest", td), ("op_ann", an)):
        expect(r["jobs"] >= 1 and r["stages"] >= 1 and r["tasks"] >= r["stages"],
               f"{op}: jobs {r['jobs']:g}, stages {r['stages']:g}, tasks {r['tasks']:g}")
        expect(r["exec_s"] > 0 and r["task_run_s"] > 0,
               f"{op}: exec_s {r['exec_s']:.3f}, task_run_s {r['task_run_s']:.3f}")
    expect(q5["shuffle_write_mb"] > 0 and q5["shuffle_read_mb"] > 0,
           f"op_q5 shuffles: write {q5['shuffle_write_mb']:.4f} MB, "
           f"read {q5['shuffle_read_mb']:.4f} MB")
    expect(q5["python.sent_mb"] == 0 and q5["python.run_s"] == 0,
           "op_q5 starts no Python worker")
    expect(td["python.sent_mb"] > 0 and td["python.run_s"] > 0,
           f"op_tdigest feeds Arrow Python workers: sent {td['python.sent_mb']:.4f} MB, "
           f"run {td['python.run_s']:.3f} s")
    expect(an["python.sent_mb"] > 0, "op_ann scores in Arrow Python workers")
    expect(an["build_jobs"] == 0 and q5["build_jobs"] <= q5["jobs"],
           f"build jobs: op_q5 {q5['build_jobs']:g} of {q5['jobs']:g}, op_ann 0")
    ann_spans = spans.get("op_ann", {})
    expect("serve.request" in ann_spans and "operators.similarity.serve" in ann_spans,
           f"op_ann spans: {sorted(ann_spans)}")
    expect(0 <= ann_spans.get("serve.request.self", -1) < ann_spans.get("serve.request", 0),
           "serve.request self time excludes the serve_ann_ivf_pq call")
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
