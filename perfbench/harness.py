"""Run context, measurement loop and metric assembly shared by the
workloads.

One run = one process = one workload. The run owns a scratch directory
inside the checkout (`.perfbench/work/...`) that holds the Spark warehouse,
SPARK_LOCAL_DIRS, temp files and the event log; it is removed at the end.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from .procmem import PeakRss, descendants
from .tracing import MemoCounters, Spans, parse_event_log

SF = "sf0.01"
CPUS = 4
DRIVER_MEM = "2g"


def prepare_env(root: str, work: str) -> None:
    """Environment the engine and its Spark workers must see. Must run
    before pyspark launches the JVM."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Arrow Python workers unpickle operator closures by module path, so
    # the checkout root must be importable in them too.
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + prev if prev else "")
    if root not in sys.path:
        sys.path.insert(0, root)


def fixture_dir(sf: str) -> str:
    """The engine's fixture dir for scale factor `sf`: a sibling of its
    default (sources.DEFAULT_SF_DIR)."""
    from build_a_cloud_based_batch_etl_pipeline_spark.sources import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(os.path.normpath(DEFAULT_SF_DIR)), sf)


class Run:
    """State of one benchmark run."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool,
                 t_process: float) -> None:
        self.workload = workload
        self.trace = trace
        self.t_process = t_process
        self.sf_dir = fixture_dir(SF)
        self.work = os.path.join(
            root, ".perfbench", "work",
            f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}",
        )
        self.out_dir = os.path.join(root, ".perfbench", "out")
        self.spark = None
        self.warehouse = os.path.join(self.work, "warehouse")
        self.event_log_dir: str | None = None
        self.spans = Spans(enabled=False)
        self.memo = MemoCounters() if trace else None
        self.problems: list[str] = []
        self.rss = PeakRss()

    # -- sessions --------------------------------------------------------

    def start_session(self, event_log: bool = False) -> float:
        """Start the run's Spark session with a warehouse dir of its own,
        so persisted artifacts never leak between runs (nor into the
        checkout's spark-warehouse/). Returns its start time in seconds."""
        from build_a_cloud_based_batch_etl_pipeline_spark.session import get_spark

        os.makedirs(self.warehouse, exist_ok=True)
        conf = {
            "spark.sql.warehouse.dir": self.warehouse,
            # keep the JVM's temp files (and no perf-counter file in /tmp)
            # inside the run dir
            "spark.driver.extraJavaOptions":
                "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(self.work, "tmp"),
        }
        if event_log:
            self.event_log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        return time.perf_counter() - t0

    def tag(self, op: str, phase: str | None = None) -> None:
        """Attribute the Spark jobs that follow (on this thread) to `op`
        (and `phase`, e.g. "build" while a query function runs)."""
        group = op if phase is None else f"{op}@{phase}"
        self.spark.sparkContext.setJobGroup(group, group)
        if self.memo is not None:
            self.memo.current = op

    def fail(self, what: str) -> None:
        self.problems.append(what)
        print(f"perfbench: FAIL {what}", file=sys.stderr, flush=True)

    # -- teardown --------------------------------------------------------

    def shutdown(self) -> None:
        """Stop Spark and the JVM, wait until every process they started
        (the JVM, its Python workers) has ended, remove the scratch dir."""
        from pyspark import SparkContext

        started = descendants(os.getpid())
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # e.g. a py4j call cut short by SIGTERM;
                traceback.print_exc()  # the JVM is stopped below anyway
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        self.rss.stop()
        _wait_gone(started, timeout=30)
        shutil.rmtree(self.work, ignore_errors=True)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of `pids` is running; SIGKILL what is left at the
    timeout."""
    deadline = time.monotonic() + timeout
    while True:
        live = [p for p in pids if _alive(p)]
        if not live:
            return
        if time.monotonic() > deadline:
            for pid in live:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


# -- statistics ----------------------------------------------------------

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n: int) -> float:
    """The highest percentile of the ladder with at least ten samples
    beyond it (the median when there are fewer than 20 samples)."""
    best = TAIL_LADDER[0]
    for p in TAIL_LADDER:
        if n - math.ceil(p / 100.0 * n) >= 10:
            best = p
    return best


# -- the timed loop ------------------------------------------------------


def measure(run: Run, wl, seconds: float, rng: random.Random) -> dict:
    """Closed loop, one client: whole passes until `seconds` of op time
    have been measured. Whole passes keep the mix of op kinds the same in
    every run. Each op's output check runs after its clock stops. Returns
    latencies, failures and the op ids."""
    lat: list[float] = []
    ops: list[tuple[str, object]] = []
    failed = 0
    busy = 0.0
    specs: list = []
    while busy < seconds or specs:
        if not specs:
            specs = list(wl.make_pass(rng))
        spec = specs.pop(0)
        op = f"op{len(lat)}"
        run.tag(op)
        t0 = time.perf_counter()
        try:
            with run.spans.span(op, "op"):
                out = wl.run_op(run, spec, op)
            err = None
        except Exception:
            out, err = None, traceback.format_exc()
        dt = time.perf_counter() - t0
        lat.append(dt)
        busy += dt
        ops.append((op, spec))
        if err is not None:
            failed += 1
            run.fail(f"{op} {str(spec)[:120]} raised:\n{err}")
        elif not wl.check_op(run, spec, out):
            failed += 1
    return {"lat": lat, "ops": ops, "failed": failed, "busy": busy}


def summarize(m: dict) -> dict:
    lat = m["lat"]
    n = len(lat)
    p_tail = tail_percentile(n)
    return {
        "n": n,
        "ops_per_s": n / m["busy"],
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": percentile(lat, p_tail),
        "tail_pct": p_tail,
        "tail_beyond": n - math.ceil(p_tail / 100.0 * n),
        "failed": m["failed"],
    }


def per_op_layers(run: Run, ops: list[tuple[str, object]]) -> dict[str, dict]:
    """Join spans, memo counters and event-log rows per op id."""
    rows: dict[str, dict] = {op: {} for op, _spec in ops}
    spans = run.spans.by_op()
    ev: dict[str, dict] = {}
    if run.event_log_dir:
        for name in os.listdir(run.event_log_dir):
            ev.update(parse_event_log(os.path.join(run.event_log_dir, name)))
    for op in rows:
        r = rows[op]
        r.update({f"span.{k}": v for k, v in spans.get(op, {}).items()})
        r.update({f"spark.{k}": v for k, v in ev.get(op, {}).items()})
        if run.memo is not None:
            r["memo.calls"] = run.memo.calls.get(op, 0)
            r["memo.builds"] = run.memo.builds.get(op, 0)
    return rows


def write_out(run: Run, name: str, payload: dict) -> str:
    os.makedirs(run.out_dir, exist_ok=True)
    path = os.path.join(run.out_dir, name)
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True, default=str)
    return path
