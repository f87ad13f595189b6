"""HTTP service-surface parity (VERDICT r6 item 7): the reference's
Cloud Function handlers (src/extract/main.py:57-76 — 200/500 envelope;
src/load/main.py:58-84 — Pub/Sub push envelope, 400 on malformed, 500 on
failure) served by the stdlib http.server wrapper, POSTed over a real
socket."""

from __future__ import annotations

import base64
import json
import threading
import urllib.error
import urllib.request
from http.server import HTTPServer

import pytest

from build_a_cloud_based_batch_etl_pipeline_spark.config import IngestConfig
from build_a_cloud_based_batch_etl_pipeline_spark.serve import make_handler

POSTS_FIXTURE = [
    {"userId": 1, "id": 1, "title": "t1", "body": "b1"},
    {"userId": 2, "id": 2, "title": "t2", "body": "b2"},
]


@pytest.fixture()
def server(spark, tmp_path):
    cfg = IngestConfig(
        source_url="fake://posts",
        landing_uri=str(tmp_path / "landing"),
        warehouse_uri=str(tmp_path / "warehouse"),
        checkpoint_uri=str(tmp_path / "ckpt"),
    )
    handler = make_handler(
        spark, cfg, fetcher=lambda url: json.dumps(POSTS_FIXTURE).encode()
    )
    httpd = HTTPServer(("127.0.0.1", 0), handler)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    try:
        yield f"http://127.0.0.1:{httpd.server_address[1]}", cfg
    finally:
        httpd.shutdown()
        thread.join(timeout=10)


def _post(url: str, payload: bytes = b"") -> tuple[int, dict]:
    req = urllib.request.Request(url, data=payload, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read().decode())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode())


def _pubsub_envelope(bucket: str, name: str) -> bytes:
    event = json.dumps({"bucket": bucket, "name": name}).encode()
    return json.dumps(
        {"message": {"data": base64.b64encode(event).decode()}}
    ).encode()


def test_extract_then_pubsub_load_roundtrip(server):
    """The full reference trigger chain over HTTP: POST /extract lands a
    batch (200 + file), then POST /load with the storage-style Pub/Sub
    envelope for that object appends it (200 + rows)."""
    base, cfg = server
    status, env = _post(f"{base}/extract")
    assert status == 200 and env["success"] is True
    landed = env["file"]
    assert landed.startswith(cfg.landing_uri)

    name = landed[len(cfg.landing_uri) + 1 :]
    status, env = _post(
        f"{base}/load", _pubsub_envelope(cfg.landing_uri, name)
    )
    assert status == 200 and env["success"] is True
    assert env["rows_appended"] == 2

    # retried trigger: idempotent, still 200, zero appended
    status, env = _post(
        f"{base}/load", _pubsub_envelope(cfg.landing_uri, name)
    )
    assert status == 200 and env["rows_appended"] == 0


def test_load_invalid_envelope_is_400(server):
    """Malformed trigger payloads get the reference's exact 400 body
    (src/load/main.py:82), not a 500."""
    base, _cfg = server
    for bad in (b"", b"not json", b'{"message": {}}', b'{"nope": 1}'):
        status, env = _post(f"{base}/load", bad)
        assert status == 400
        assert env == {"success": False, "error": "Invalid request format"}


def test_load_failure_is_500(server):
    """A well-formed envelope pointing at a missing object fails the
    load step: 500 with the error envelope (src/load/main.py:84)."""
    base, cfg = server
    status, env = _post(
        f"{base}/load", _pubsub_envelope(cfg.landing_uri, "does/not/exist")
    )
    assert status == 500
    assert env["success"] is False and env["error"]


def test_unknown_route_is_400(server):
    base, _cfg = server
    status, env = _post(f"{base}/whatever")
    assert status == 400 and env["success"] is False


def test_pipeline_route_full_tick(server):
    """POST /pipeline = extract + load in one envelope (the engine's
    one-tick composition of the reference's two functions)."""
    base, _cfg = server
    status, env = _post(f"{base}/pipeline")
    assert status == 200 and env["success"] is True
    assert env["rows_appended"] == 2 and env["file"]


@pytest.fixture()
def ann_index(spark, sf_dir):
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    return sim._pq_index_artifact(spark, sf_dir), spark.read.parquet(
        f"{sf_dir}/embeddings.parquet"
    )


def test_ann_route_serves_topk(server, ann_index, spark):
    """POST /ann (VERDICT r15 item 6 — the query-side service surface):
    a bounded query batch returns the same (qid, nid, adc_score) rows
    serve_ann_ivf_pq computes, through a real socket. The batch is the
    benchmark's largest (256 queries, k=10); the handler passes its
    parsed rows to the scorer (q_rows) while the reference side goes
    through a query DataFrame, so this also pins the two query paths
    to the same rows."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    base, _cfg = server
    root, emb = ann_index
    qrows = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(256).collect()
    )
    assert len(qrows) == 256
    body = json.dumps(
        {
            "index_root": root,
            "k": 10,
            "queries": [
                {"vec_id": r.vec_id, "embedding": list(r.embedding)}
                for r in qrows
            ],
        }
    ).encode()
    status, env = _post(f"{base}/ann", body)
    assert status == 200 and env["success"] is True
    got = sorted((r["qid"], r["nid"], r["adc_score"]) for r in env["results"])

    q_df = spark.createDataFrame(
        [(r.vec_id, list(r.embedding)) for r in qrows],
        "vec_id long, embedding array<double>",
    )
    want = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq(spark, q_df, root, k=10).collect()
    )
    assert got == want and got
    assert len({q for q, _n, _s in got}) == 256


def test_ann_serve_rows_path_costs_two_jobs_and_no_python_udf(spark, ann_index):
    """A warm serve of driver-side query rows (what POST /ann does)
    runs at most 2 Spark jobs — shard scoring and the top-k reduce (a
    query DataFrame collected back to the driver would add 2 more) —
    and its executed plan evaluates no Python UDF: the 4-dp rounding
    is a JVM expression."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    root, emb = ann_index
    rows = [
        (r.vec_id, list(r.embedding))
        for r in emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(16)
        .collect()
    ]
    # cold call: pays the loader's once-per-index-state validation
    cold = sim.serve_ann_ivf_pq(spark, None, root, k=10, q_rows=rows).collect()
    sc = spark.sparkContext
    group = "ann_serve_rows_path_jobs"
    sc.setJobGroup(group, group)
    try:
        df = sim.serve_ann_ivf_pq(spark, None, root, k=10, q_rows=rows)
        warm = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, jobs
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert sorted(warm) == sorted(cold) and len(warm) == 16 * 10


def test_ann_serve_sparse_probe_compiles_no_code(spark, ann_index):
    """A warm request whose probe set is sparse (one query probes
    nprobe of the 16 lists) compiles no new generated code. With one
    list per bucket the list_bucket partition predicate already selects
    exactly the probed lists, so no list_id IN (...) data predicate is
    added; its inlined literals made every distinct probe set compile
    two new classes per request."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    root, emb = ann_index
    rows = [
        (r.vec_id, list(r.embedding))
        for r in emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(4)
        .collect()
    ]
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def serve(q) -> tuple[list, str]:
        df = sim.serve_ann_ivf_pq(spark, None, root, k=10, q_rows=[q])
        return df.collect(), df._jdf.queryExecution().executedPlan().toString()

    serve(rows[0])  # cold: loader validation and first plan of this shape
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    for q in rows[1:]:
        got, plan = serve(q)
        assert len(got) == 10
        assert "PartitionFilters" in plan and "list_bucket" in plan
    assert codegen.METRIC_COMPILATION_TIME().getCount() == before


def test_ann_route_malformed_and_overcap_are_400(server, ann_index, monkeypatch):
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    base, _cfg = server
    root, emb = ann_index
    # malformed: not json / missing fields / ragged embeddings
    assert _post(f"{base}/ann", b"nope")[0] == 400
    assert _post(f"{base}/ann", json.dumps({"queries": []}).encode())[0] == 400
    ragged = {
        "index_root": root,
        "queries": [
            {"vec_id": 1, "embedding": [0.1, 0.2]},
            {"vec_id": 2, "embedding": [0.1]},
        ],
    }
    status, env = _post(f"{base}/ann", json.dumps(ragged).encode())
    assert status == 400 and "ragged" in env["error"]
    # nprobe below 1: 0 would probe no list (200 with no results), -3
    # would silently probe NLIST - 3 lists
    vec = list(emb.select("embedding").first().embedding)
    for nprobe in (0, -3):
        bad = {
            "index_root": root,
            "nprobe": nprobe,
            "queries": [{"vec_id": 1, "embedding": vec}],
        }
        status, env = _post(f"{base}/ann", json.dumps(bad).encode())
        assert status == 400 and "nprobe" in env["error"]

    # over-cap: 400 with the tiling hint, BEFORE any Spark work
    monkeypatch.setattr(sim, "_MAX_QUERY_ROWS", 2)
    over = {
        "index_root": root,
        "queries": [
            {"vec_id": i, "embedding": [0.1, 0.2]} for i in range(3)
        ],
    }
    status, env = _post(f"{base}/ann", json.dumps(over).encode())
    assert status == 400 and "tiled" in env["error"]


def _ann_body(root: str, queries: list) -> bytes:
    return json.dumps({"index_root": root, "k": 3, "queries": queries}).encode()


def test_ann_route_non_finite_embedding_is_400(server, ann_index):
    """NaN / Infinity components (json.loads takes the bare tokens,
    float() the strings) are refused: they would reach the scorer and
    put NaN scores — not valid JSON — into a 200 reply."""
    base, _cfg = server
    root, emb = ann_index
    vec = list(emb.select("embedding").first().embedding)
    for poison in (float("nan"), float("inf"), float("-inf"), "NaN", "Infinity"):
        bad = [
            {"vec_id": 1, "embedding": vec},
            {"vec_id": 2, "embedding": vec[:-1] + [poison]},
        ]
        status, env = _post(f"{base}/ann", _ann_body(root, bad))
        assert status == 400 and "non-finite" in env["error"], (poison, env)
        assert "vec_id 2" in env["error"]


def test_ann_route_zero_norm_embedding_is_400(server, ann_index):
    """An all-zero embedding cannot be L2-normalized (every score would
    be NaN): 400 naming the query, before any Spark work."""
    base, _cfg = server
    root, emb = ann_index
    vec = list(emb.select("embedding").first().embedding)
    bad = [
        {"vec_id": 1, "embedding": vec},
        {"vec_id": 7, "embedding": [0.0] * len(vec)},
    ]
    status, env = _post(f"{base}/ann", _ann_body(root, bad))
    assert status == 400 and "zero" in env["error"]
    assert "vec_id 7" in env["error"]


def test_ann_route_refusal_is_500(server, tmp_path):
    """A serve-side refusal (no index at the root) surfaces as the
    standard 500 envelope, not a socket error."""
    base, _cfg = server
    body = json.dumps(
        {
            "index_root": str(tmp_path / "no_index"),
            "queries": [{"vec_id": 1, "embedding": [0.1, 0.2]}],
        }
    ).encode()
    status, env = _post(f"{base}/ann", body)
    assert status == 500 and env["success"] is False
    assert "index" in env["error"]
