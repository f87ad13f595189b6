"""Tracing for the benchmark's traced run: spans around the benchmark's own
calls into each engine module, memo counters, and a parser for the Spark
event log.

Nothing here edits engine code. Spans are recorded by the benchmark at the
boundaries it owns (the op, the query function, the HTTP request, the job
step the handler calls). Memo counters wrap the three memo functions of
``operators.util`` before the operator modules import them. Spark-side
numbers come from the uncompressed JSON event log, attributed to ops through
the job group id the benchmark sets before each op.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    """In-memory span recorder. A span is (op, name, parent, start, end);
    spans of one op share its id. Recording is off unless `enabled`, so the
    untraced runs pay one attribute test per boundary."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.records: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, op: str | None, name: str, parent: str | None = None):
        if not self.enabled or op is None:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(op, name, parent, t0, time.perf_counter())

    def add(self, op: str | None, name: str, parent: str | None,
            start: float, end: float) -> None:
        if not self.enabled or op is None:
            return
        with self._lock:
            self.records.append(
                {"op": op, "name": name, "parent": parent, "start": start, "end": end}
            )

    def by_op(self) -> dict[str, dict[str, float]]:
        """op -> {span name: total duration, span name + '.self': self time}.
        Self time is the duration minus that of the span's children."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for r in self.records:
            d = r["end"] - r["start"]
            out[r["op"]][r["name"]] += d
            out[r["op"]][r["name"] + ".self"] += d
        for r in self.records:
            if r["parent"] is not None:
                out[r["op"]][r["parent"] + ".self"] -= r["end"] - r["start"]
        return {op: dict(v) for op, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.records:
                f.write(json.dumps(r) + "\n")


class MemoCounters:
    """Counts calls into ``cache_once``/``memo_once``/``persisted_artifact``
    and how many of them ran their ``build`` (misses). Installed by
    replacing the three module attributes of ``operators.util``; it must run
    before ``load_all()`` so that ``from .util import memo_once`` in the
    operator modules binds the counting wrapper. Calls are attributed to
    the op id set in `current`; a ``persisted_artifact`` call also counts
    the ``memo_once`` call it makes."""

    NAMES = ("cache_once", "memo_once", "persisted_artifact")

    def __init__(self) -> None:
        self.current: str | None = None
        self.calls: dict[str, int] = defaultdict(int)
        self.builds: dict[str, int] = defaultdict(int)

    def install(self) -> None:
        from build_a_cloud_based_batch_etl_pipeline_spark.operators import util

        for name in self.NAMES:
            setattr(util, name, self._wrap(getattr(util, name)))

    def _wrap(self, orig):
        counters = self

        def wrapper(*args):
            *head, build = args
            op = counters.current

            def counted(*bargs):
                counters.builds[op] += 1
                return build(*bargs)

            counters.calls[op] += 1
            return orig(*head, counted)

        wrapper.__wrapped__ = orig
        return wrapper


# -- Spark event log -------------------------------------------------------

_PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
}
_MB = 1024.0 * 1024.0


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per-op Spark execution numbers from one uncompressed JSON event log.

    Attribution: every job carries the job group id the benchmark set
    before the op (``spark.jobGroup.id``: the op id, with ``@build`` while
    the query function runs); a stage belongs to the op of the job that
    lists it, a task to the op of its stage. Returns op id -> {jobs,
    build_jobs, stages, tasks, exec_s, task_run_s, task_cpu_s, shuffle_read_mb,
    shuffle_write_mb, spill_mb, gc_s, peak_exec_mem_mb, python.boot_s,
    python.run_s, python.sent_mb}. Jobs without a group
    (session start, server threads that were not tagged) are ignored.
    """
    job_op: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_op: dict[int, str] = {}
    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    ops: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if not group:
                    continue
                op, _, phase = group.partition("@")
                jid = ev["Job ID"]
                job_op[jid] = op
                job_start[jid] = ev["Submission Time"] / 1000.0
                ops[op]["jobs"] += 1
                if phase == "build":
                    ops[op]["build_jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_op.setdefault(sid, op)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_op:
                    intervals[job_op[jid]].append(
                        (job_start[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageCompleted":
                op = stage_op.get(ev["Stage Info"]["Stage ID"])
                if op is not None:
                    ops[op]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                op = stage_op.get(ev["Stage ID"])
                if op is None:
                    continue
                m = ev.get("Task Metrics") or {}
                o = ops[op]
                o["tasks"] += 1
                o["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                o["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                o["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                o["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
                rd = m.get("Shuffle Read Metrics") or {}
                o["shuffle_read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / _MB
                wr = m.get("Shuffle Write Metrics") or {}
                o["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
                o["peak_exec_mem_mb"] = max(
                    o["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / _MB
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = _PY_METRICS.get(acc.get("Name"))
                    if key is None:
                        continue
                    upd = float(acc.get("Update") or 0)
                    o[key] += upd / (_MB if key.endswith("_mb") else 1000.0)
    for op, spans in intervals.items():
        ops[op]["exec_s"] = _union_length(spans)
    out = {}
    for op, vals in ops.items():
        row = {k: 0.0 for k in _FIELDS}
        row.update(vals)
        out[op] = row
    return out


_FIELDS = (
    "jobs", "build_jobs", "stages", "tasks", "exec_s", "task_run_s", "task_cpu_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s",
    "peak_exec_mem_mb", "python.boot_s", "python.run_s", "python.sent_mb",
)


def _union_length(spans: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
