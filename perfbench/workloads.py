"""The two workloads. Each drives the engine only through its public
functions (the query registry, ``serve.make_handler``), from one
client thread, in a closed loop.

A workload object has:

- ``setup(run, rng)``: everything before the first timed op, ending with
  one cold call of every op kind (artifact builds included);
- ``make_pass(rng)``: the op specs of one pass, built from the seed; the
  inputs are generated here, outside the timed window;
- ``run_op(run, spec, op)``: the timed op;
- ``check_op(run, spec, out)``: the op's output check, after its clock
  stops;
- ``finish(run, ops)``: checks that need the whole run, after the window;
- ``recall()``: share of the expected output rows the run reproduced.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
import urllib.error
import urllib.request
from collections import defaultdict
from http.server import HTTPServer

ANALYTICS_MODULES = ("relational", "windows", "joins", "events", "dq", "tpch_extra")

# The analytics_sql rotation: five of the fourteen bench.HEADLINE rows that
# ANALYTICS_MODULES register (multi-way joins, a window, an as-of join).
# A cold call of all fourteen does not fit in a run's set-up, and two
# samples of each query per pass steady the median more than one sample of
# more queries does.
ANALYTICS_SQL = (
    "q3_shipping_priority",
    "q5_region_revenue",
    "q10_returned_items",
    "topk_per_group",
    "join_asof",
)


def analytics_queries() -> list[str]:
    """ANALYTICS_SQL, checked against bench.HEADLINE: each must be a
    headline row that one of ANALYTICS_MODULES registers."""
    import bench
    from build_a_cloud_based_batch_etl_pipeline_spark.queries import load_all

    reg = load_all()
    headline = {
        name for name in bench.HEADLINE
        if reg[name].fn.__module__.rsplit(".", 1)[-1] in ANALYTICS_MODULES
    }
    missing = set(ANALYTICS_SQL) - headline
    if missing:
        raise ValueError(f"not analytics rows of bench.HEADLINE: {sorted(missing)}")
    return list(ANALYTICS_SQL)


def _digest(pdf) -> tuple[int, str]:
    from tools.check import normalize

    body = normalize(pdf).to_csv(index=False).encode()
    return len(pdf), hashlib.sha1(body).hexdigest()


# Queries whose warm output is re-checked after the window, drawn per run
# from the seed (every query's cold output is checked in set-up).
WARM_CHECKS = 2


class QueryWorkload:
    """One op = one registered query, built with ``spec.fn(spark, sf_dir)``
    and materialised through the ``noop`` sink, as bench.py does. A pass
    runs every query twice, in a seeded order."""

    def __init__(self, names: list[str]) -> None:
        self.names = names
        self.reference: dict[str, tuple[int, str]] = {}
        self.oracle: dict[str, object] = {}
        self.rows_checked = 0
        self.rows_ok = 0

    def setup(self, run, rng) -> None:
        from tools.check import duck_con

        from build_a_cloud_based_batch_etl_pipeline_spark.queries import load_all

        self.registry = load_all()
        self.warm_checks = rng.sample(self.names, WARM_CHECKS)
        con = duck_con(run.sf_dir)
        for name in self.names:
            sql = self.registry[name].oracle
            if sql is not None:
                self.oracle[name] = con.execute(sql).fetchdf()
        con.close()
        # cold call of every query; its output is the reference the
        # rows-only queries are checked against
        for name in self.names:
            run.tag("setup")
            pdf = self.registry[name].fn(run.spark, run.sf_dir).toPandas()
            if self._check(run, name, pdf, "cold"):
                self.reference[name] = _digest(pdf)

    def _check(self, run, name, pdf, when) -> bool:
        from tools.check import compare

        self.rows_checked += max(len(pdf), 1)
        if name in self.oracle:
            problems = compare(name, pdf, self.oracle[name])
        elif name in self.reference and _digest(pdf) != self.reference[name]:
            problems = [f"rows/hash {_digest(pdf)} != {self.reference[name]}"]
        else:
            problems = []
        if problems:
            run.fail(f"{name} ({when}) output differs: {problems}")
            return False
        self.rows_ok += max(len(pdf), 1)
        return True

    def make_pass(self, rng) -> list[str]:
        order = list(self.names) * 2
        rng.shuffle(order)
        return order

    def run_op(self, run, name, op):
        run.tag(op, "build")
        with run.spans.span(op, "operators.build", parent="op"):
            df = self.registry[name].fn(run.spark, run.sf_dir)
        run.tag(op)
        with run.spans.span(op, "spark.materialize", parent="op"):
            df.write.mode("overwrite").format("noop").save()

    def check_op(self, run, name, out) -> bool:
        # the noop sink returns nothing; finish() checks each query's warm
        # output and charges a wrong one to every op of that query
        return True

    def finish(self, run, ops) -> int:
        bad = set()
        for name in self.warm_checks:
            run.tag("check")
            pdf = self.registry[name].fn(run.spark, run.sf_dir).toPandas()
            if not self._check(run, name, pdf, "warm"):
                bad.add(name)
        return sum(1 for _op, name in ops if name in bad)

    def recall(self) -> float:
        return self.rows_ok / max(self.rows_checked, 1)

    def stop(self) -> None:
        pass


# -- HTTP ------------------------------------------------------------------


def _post(url: str, body: bytes, headers: dict) -> tuple[int, dict]:
    req = urllib.request.Request(url, data=body, method="POST", headers=headers)
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


class _Server:
    """``serve.make_handler`` on an ephemeral localhost port, served from a
    thread of this process. The subclass only tags the request with the
    op id the client sends (job group + spans); routing and replies are the
    engine's."""

    def __init__(self, run, cfg) -> None:
        from build_a_cloud_based_batch_etl_pipeline_spark.serve import make_handler

        base = make_handler(run.spark, cfg)
        server = self

        class Tagged(base):
            def do_POST(self):  # noqa: N802
                op = self.headers.get("X-Perfbench-Op")
                server.op = op
                if op:
                    run.tag(op)
                with run.spans.span(op, "serve.request", parent="op"):
                    super().do_POST()

        self.op = None
        self.httpd = HTTPServer(("127.0.0.1", 0), Tagged)
        self.url = f"http://127.0.0.1:{self.httpd.server_address[1]}"
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def post(self, path: str, body: bytes, op: str) -> tuple[int, dict]:
        return _post(self.url + path, body, {"X-Perfbench-Op": op})

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=30)


def _install_once(module, name: str, make):
    """Replace module.name with make(original) unless already replaced."""
    orig = getattr(module, name)
    if getattr(orig, "_perfbench_wrapped", False):
        return
    new = make(orig)
    new._perfbench_wrapped = True
    setattr(module, name, new)


# -- ann_serve -------------------------------------------------------------


class _TimedCollect:
    """Stands in for the DataFrame serve_ann_ivf_pq returns, so the span
    covers the call plus the handler's collect()."""

    def __init__(self, df, spans, op, t0):
        self.df, self.spans, self.op, self.t0 = df, spans, op, t0

    def collect(self):
        try:
            return self.df.collect()
        finally:
            self.spans.add(self.op, "operators.similarity.serve", "serve.request",
                           self.t0, time.perf_counter())


class AnnServe:
    """One op = one ``POST /ann`` of a seeded query batch with k=10 against
    the persisted IVF-PQ index, its batch size drawn from SIZES (request
    time barely depends on it). A pass is one request. Set-up ends with a
    cold request and one warm-up request of each size: the first few
    requests of a session run up to 1.5x slower."""

    SIZES = (1, 16, 256)
    K = 10

    def __init__(self) -> None:
        self.hits = 0
        self.expected = 0
        self.server = None
        self.truth = None

    def setup(self, run, rng) -> None:
        import numpy as np
        import pyarrow.parquet as pq

        from build_a_cloud_based_batch_etl_pipeline_spark.config import IngestConfig
        from build_a_cloud_based_batch_etl_pipeline_spark.operators import similarity

        # exact cosine top-k of every embedding, itself excluded (the
        # serve path never returns the query's own id)
        tbl = pq.read_table(os.path.join(run.sf_dir, "embeddings.parquet"),
                            columns=["vec_id", "embedding"])
        self.ids = tbl.column("vec_id").to_numpy()
        self.vecs = tbl.column("embedding").to_pylist()
        x = np.array(self.vecs, dtype=np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        sim = x @ x.T
        np.fill_diagonal(sim, -np.inf)
        top = np.argsort(-sim, axis=1, kind="stable")[:, : self.K]
        self.truth = {int(self.ids[i]): set(self.ids[top[i]].tolist())
                      for i in range(len(self.ids))}
        if run.trace:
            _install_once(similarity, "serve_ann_ivf_pq", self._wrap_serve(run))
        run.tag("setup")
        self.index_root = similarity._pq_index_artifact(run.spark, run.sf_dir)
        base = os.path.join(run.warehouse, "_serve")
        cfg = IngestConfig(source_url="fake://none", landing_uri=base + "/landing",
                           warehouse_uri=base + "/warehouse",
                           checkpoint_uri=base + "/ckpt")
        self.server = _Server(run, cfg)
        for n in (max(self.SIZES),) + self.SIZES:
            spec = self._request(rng, n)
            self.check_op(run, spec, self.run_op(run, spec, "setup"), count=False)

    def _wrap_serve(self, run):
        def make(orig):
            def serve(*args, **kwargs):
                t0 = time.perf_counter()
                return _TimedCollect(orig(*args, **kwargs), run.spans,
                                     self.server.op, t0)
            return serve
        return make

    def _request(self, rng, n: int) -> tuple[list[int], bytes]:
        idx = rng.sample(range(len(self.ids)), n)
        qids = [int(self.ids[i]) for i in idx]
        body = json.dumps({
            "index_root": self.index_root,
            "k": self.K,
            "queries": [{"vec_id": q, "embedding": self.vecs[i]}
                        for q, i in zip(qids, idx)],
        }).encode()
        return qids, body

    def make_pass(self, rng) -> list[tuple[list[int], bytes]]:
        return [self._request(rng, rng.choice(self.SIZES))]

    def run_op(self, run, spec, op):
        return self.server.post("/ann", spec[1], op)

    def check_op(self, run, spec, out, count: bool = True) -> bool:
        qids, _body = spec
        status, env = out
        if status != 200 or not env.get("success"):
            run.fail(f"/ann returned {status}: {env.get('error')}")
            return False
        got = defaultdict(list)
        for r in env["results"]:
            got[r["qid"]].append(r["nid"])
        short = [q for q in qids if len(got.get(q, ())) != self.K]
        if short or set(got) != set(qids):
            run.fail(f"/ann: {len(short)} of {len(qids)} queries without k={self.K} rows")
            return False
        if count:
            for q in qids:
                self.hits += len(self.truth[q] & set(got[q]))
                self.expected += self.K
        return True

    def finish(self, run, ops) -> int:
        if self.recall() < RECALL_FLOOR:
            run.fail(f"recall@{self.K} {self.recall():.4f} below floor {RECALL_FLOOR}")
        return 0

    def recall(self) -> float:
        return self.hits / max(self.expected, 1)

    def stop(self) -> None:
        if self.server is not None:
            self.server.close()
            self.server = None


# Lowest recall@10 seen over the seeds tried on the parent commit, less a
# margin for seeds not tried: the served IVF-PQ top-10 against exact
# cosine top-10 at sf0.01.
RECALL_FLOOR = 0.38


def make(name: str):
    if name == "ann_serve":
        return AnnServe()
    return QueryWorkload(analytics_queries())

