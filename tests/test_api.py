"""S8 HTTP facade: the reference's endpoint surface served by the engine.

Drives the real HTTP server (ephemeral port) with stdlib urllib — request
and response shapes are the reference's schemas (src/api/schemas.py), the
data operations underneath are the engine's store/search plans.
"""

from __future__ import annotations

import json
import urllib.request

import pytest

from robi_biometric_qdrant_vector_db_service_spark.api import VectorService


def _call(port: int, method: str, path: str, body: dict | None = None) -> dict:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/api/v1{path}",
        method=method,
        data=json.dumps(body).encode() if body is not None else None,
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    svc = VectorService(spark, str(tmp_path_factory.mktemp("api_store")))
    srv, port = svc.start_background()
    yield svc, port
    srv.shutdown()
    svc.close()


def test_http_add_search_delete_roundtrip(served):
    _, port = served

    r = _call(port, "POST", "/vectors/add", {
        "embedding": [1.0, 0.0, 0.0, 0.0],
        "user_id": "alice",
        "metadata": {"source": "enroll"},
        "point_id": "p-alice",
    })
    assert r["success"] and r["point_id"] == "p-alice"

    r = _call(port, "POST", "/vectors/add_batch", {
        "embeddings": [[0.0, 1.0, 0.0, 0.0], [0.9, 0.1, 0.0, 0.0]],
        "user_ids": ["bob", "carol"],
    })
    assert r["success"] and r["added_count"] == 2 and len(r["point_ids"]) == 2

    r = _call(port, "POST", "/vectors/search", {
        "embedding": [1.0, 0.0, 0.0, 0.0], "k": 2,
    })
    assert r["success"] and r["total_results"] == 2
    top = r["results"][0]
    assert top["id"] == "p-alice" and top["user_id"] == "alice"
    assert top["metadata"] == {"source": "enroll"}
    assert top["score"] == pytest.approx(1.0, abs=1e-6)
    assert r["results"][1]["user_id"] == "carol"  # 0.9-cos neighbor

    # filtered search only sees the filtered user's bucket
    r = _call(port, "POST", "/vectors/search", {
        "embedding": [1.0, 0.0, 0.0, 0.0], "k": 5, "user_filter": "bob",
    })
    assert [h["user_id"] for h in r["results"]] == ["bob"]

    # threshold drops the orthogonal vector
    r = _call(port, "POST", "/vectors/search", {
        "embedding": [1.0, 0.0, 0.0, 0.0], "k": 5, "threshold": 0.5,
    })
    assert {h["user_id"] for h in r["results"]} == {"alice", "carol"}

    r = _call(port, "DELETE", "/vectors/p-alice")
    assert r["success"] and r["deleted"] is True
    r = _call(port, "DELETE", "/vectors/user/bob")
    assert r["success"] and r["deleted_count"] == 1

    r = _call(port, "POST", "/vectors/search", {
        "embedding": [1.0, 0.0, 0.0, 0.0], "k": 5,
    })
    assert {h["user_id"] for h in r["results"]} == {"carol"}


def test_http_stats_health_info_and_errors(served):
    _, port = served

    r = _call(port, "GET", "/stats")
    assert r["success"]
    assert r["collection_info"]["total_vectors"] >= 1
    assert r["performance_stats"]["search"]["count"] >= 1
    assert r["gpu_info"] == {"gpu_available": False, "engine": "spark"}

    r = _call(port, "GET", "/health")
    assert r["status"] == "healthy" and r["collection_exists"]

    r = _call(port, "GET", "/info")
    assert r["engine"] == "pyspark" and r["api_version"] == "v1"

    # malformed request -> 422 with a message, like the reference's
    # validation layer
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as e:
        _call(port, "POST", "/vectors/add_batch", {
            "embeddings": [[1.0, 0.0]], "user_ids": ["a", "b"],
        })
    assert e.value.code == 422

    with pytest.raises(urllib.error.HTTPError) as e:
        _call(port, "GET", "/nope")
    assert e.value.code == 404
    # 404 body mirrors the reference's not_found_handler keys
    body = json.loads(e.value.read())
    assert set(body) == {
        "success", "error", "path", "available_endpoints", "timestamp",
    }
    assert body["path"] == "/api/v1/nope"
    assert "/metrics" in body["available_endpoints"]


def test_http_health_carries_reference_schema_fields(served):
    """HealthCheckResponse (schemas.py:118-124) has NO-default fields
    collection_name and gpu_available — a reference client parsing with
    that pydantic model must validate against our payload."""
    _, port = served
    r = _call(port, "GET", "/health")
    for key in (
        "success", "status", "qdrant_connection", "collection_exists",
        "collection_name", "gpu_available", "timestamp",
    ):
        assert key in r, key
    assert r["gpu_available"] is False and isinstance(r["collection_name"], str)


def test_http_add_batch_rejects_short_optional_lists(served):
    """A short metadata_list/point_ids used to zip-truncate the tail
    embeddings while reporting success — must be a 422 (ADVICE r5)."""
    import urllib.error

    _, port = served
    for extra in (
        {"metadata_list": [{"a": "1"}]},
        {"point_ids": ["only-one"]},
    ):
        body = {
            "embeddings": [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]],
            "user_ids": ["u1", "u2"],
            **extra,
        }
        with pytest.raises(urllib.error.HTTPError) as e:
            _call(port, "POST", "/vectors/add_batch", body)
        assert e.value.code == 422


def test_http_route_matching_on_segments(served):
    """DELETE /vectors/user (no id) routes as point id "user" (FastAPI's
    {point_id} fallback), never as a user-wide delete; percent-encoded ids
    decode, so a point id containing '/' is expressible."""
    _, port = served
    r = _call(port, "POST", "/vectors/add", {
        "embedding": [0.5, 0.5, 0.0, 0.0],
        "user_id": "seg_user",
        "point_id": "a/b c",
    })
    assert r["success"]
    # no-id user delete must NOT delete seg_user's vectors
    r = _call(port, "DELETE", "/vectors/user")
    assert r["success"] and r["deleted"] is False  # point "user" absent
    r = _call(port, "DELETE", "/vectors/a%2Fb%20c")
    assert r["success"] and r["deleted"] is True


def test_http_stats_percentiles_monotone(served):
    """/stats exposes p50/p95/p99 from the bounded recent-latency ring
    (the reference's last-1000 performance records shape)."""
    _, port = served
    for _ in range(3):
        _call(port, "POST", "/vectors/search", {"embedding": [1.0, 0.0, 0.0, 0.0], "k": 1})
    r = _call(port, "GET", "/stats")
    s = r["performance_stats"]["search"]
    assert s["count"] >= 3 and s["window"] <= 1000
    assert 0 < s["p50_ms"] <= s["p95_ms"] <= s["p99_ms"]


def test_http_benchmark_route(served):
    """GET /benchmark (main.py:229-259): runs the bounded in-service
    micro-benchmark and grades against the reference's fixed bars."""
    _, port = served
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/benchmark?num_vectors=24&single_insertions=2"
        "&search_queries=3&concurrent_requests=2&operations_per_request=2",
        method="GET",
    )
    with urllib.request.urlopen(req, timeout=300) as resp:
        r = json.loads(resp.read())
    assert r["success"]
    b = r["benchmark_results"]
    assert b["insertion"]["total_vectors"] == 24
    assert b["search"]["total_queries"] == 3
    assert b["concurrent"]["total_operations"] == 4
    pa = b["performance_analysis"]
    assert pa["targets"] == {"search_time_ms": 20.0, "throughput_ops_per_sec": 1000.0}
    for section in ("search_analysis", "throughput_analysis"):
        assert isinstance(pa[section]["meets_target"], bool)
    # cleanup removed the bench users from the store
    stats = _call(port, "GET", "/stats")["collection_info"]
    assert stats["total_vectors"] >= 1


def test_http_root_banner(served):
    """GET / (main.py:198-214): same keys as the reference's root endpoint,
    pointing at the live health and metrics routes."""
    _, port = served
    req = urllib.request.Request(f"http://127.0.0.1:{port}/", method="GET")
    with urllib.request.urlopen(req) as resp:
        r = json.loads(resp.read())
    assert set(r) == {
        "service", "version", "status", "description", "endpoints", "timestamp",
    }
    assert r["status"] == "running"
    assert r["endpoints"]["health"] == "/api/v1/health"
    assert r["endpoints"]["metrics"] == "/metrics"


def test_http_metrics_prometheus_exposition(served):
    """GET /metrics (main.py:216-227): text/plain 0.0.4 exposition of the
    reference's counter families + per-op latency summary; every sample
    line must parse as `name{labels} value`."""
    import re
    import urllib.error

    _, port = served
    # generate traffic so counters/quantiles are non-trivial
    _call(port, "POST", "/vectors/add", {"embedding": [1.0, 0.0], "user_id": "m1"})
    _call(
        port,
        "POST",
        "/vectors/search",
        {"embedding": [1.0, 0.0], "k": 1, "threshold": 0.0},
    )
    # a 422 feeds qdrant_errors_total
    try:
        _call(port, "POST", "/vectors/add", {"user_id": "no_embedding"})
    except urllib.error.HTTPError as e:
        assert e.code == 422
    req = urllib.request.Request(f"http://127.0.0.1:{port}/metrics", method="GET")
    with urllib.request.urlopen(req) as resp:
        ctype = resp.headers["Content-Type"]
        text = resp.read().decode()
    assert ctype.startswith("text/plain") and "version=0.0.4" in ctype
    sample = re.compile(
        r'^[a-zA-Z_:][a-zA-Z0-9_:]*(\{[a-zA-Z_]+="[^"]*"(,[a-zA-Z_]+="[^"]*")*\})? '
        r"-?[0-9.eE+-]+$"
    )
    samples = {}
    for line in text.strip().splitlines():
        if line.startswith("#"):
            continue
        assert sample.match(line), line
        name, value = line.rsplit(" ", 1)
        samples[name] = float(value)
    assert samples["qdrant_search_requests_total"] >= 1
    assert samples["qdrant_add_requests_total"] >= 1
    assert any(k.startswith("qdrant_errors_total") for k in samples), samples
    assert any(
        'operation="search",quantile="0.5"' in k for k in samples
    ), samples
    assert samples['qdrant_op_duration_seconds_count{operation="search"}'] >= 1
    assert samples["service_uptime_seconds"] > 0


def test_http_quantized_search(spark, tmp_path_factory):
    """The wire form of the reference's configured quantized search
    (qdrant_client.py:129-138): stage 1 runs on the collection's at-rest
    companion columns; with oversample covering the whole collection the
    results equal exact search EXACTLY, and an unknown mode is a 422."""
    import urllib.error

    svc = VectorService(spark, str(tmp_path_factory.mktemp("api_qstore")))
    srv, port = svc.start_background()
    try:
        embs = [
            [1.0, 0.0, 0.0, 0.0],
            [0.0, 1.0, 0.0, 0.0],
            [0.9, 0.1, 0.0, 0.0],
            [0.5, 0.5, 0.5, 0.5],
        ]
        r = _call(port, "POST", "/vectors/add_batch", {
            "embeddings": embs,
            "user_ids": ["a", "b", "c", "d"],
        })
        assert r["success"] and r["added_count"] == 4

        exact = _call(port, "POST", "/vectors/search", {
            "embedding": [1.0, 0.0, 0.0, 0.0], "k": 3,
        })
        for mode in ("int8", "binary"):
            got = _call(port, "POST", "/vectors/search", {
                "embedding": [1.0, 0.0, 0.0, 0.0], "k": 3,
                "quantization": mode, "oversample": 4,
            })
            assert got["success"], mode
            assert [
                (h["id"], h["user_id"], round(h["score"], 6))
                for h in got["results"]
            ] == [
                (h["id"], h["user_id"], round(h["score"], 6))
                for h in exact["results"]
            ], mode

        # threshold applies to the exact rescored score
        got = _call(port, "POST", "/vectors/search", {
            "embedding": [1.0, 0.0, 0.0, 0.0], "k": 4,
            "quantization": "int8", "oversample": 4, "threshold": 0.5,
        })
        assert all(h["score"] >= 0.5 for h in got["results"])
        assert got["total_results"] >= 2

        with pytest.raises(urllib.error.HTTPError) as e:
            _call(port, "POST", "/vectors/search", {
                "embedding": [1.0, 0.0, 0.0, 0.0], "k": 2,
                "quantization": "pq",
            })
        assert e.value.code == 422
    finally:
        srv.shutdown()
        svc.close()
