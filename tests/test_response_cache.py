"""The serving response cache stores wire-ready JSON bytes (no Spark)."""

import json

from prometheus_parquet_server_spark.json_out import error_response
from prometheus_parquet_server_spark.server import MetricsHTTPServer


def _counting(status, payload):
    calls = []

    def compute():
        calls.append(1)
        return status, payload

    return compute, calls


def test_cached_response_encodes_once_and_replays_the_same_bytes():
    srv = MetricsHTTPServer(None, None, response_cache_size=2)
    payload = {"status": "success", "data": {"resultType": "matrix", "result": [
        {"metric": {"__name__": "m"}, "values": [[1.0, "2"], [2.0, "NaN"]]}
    ]}}
    compute, calls = _counting(200, payload)

    status, body = srv._cached_response(("a",), compute)
    assert status == 200 and isinstance(body, bytes)
    assert body == json.dumps(payload).encode()
    assert body.startswith(b'{"status": "success"')

    status2, body2 = srv._cached_response(("a",), compute)
    assert status2 == 200 and body2 is body  # the stored object, no re-encode
    assert len(calls) == 1


def test_cached_response_never_caches_errors():
    srv = MetricsHTTPServer(None, None, response_cache_size=2)
    compute, calls = _counting(400, error_response("boom"))
    for _ in range(3):
        status, body = srv._cached_response(("bad",), compute)
        assert status == 400 and json.loads(body)["status"] == "error"
    assert len(calls) == 3
    assert ("bad",) not in srv._response_cache


def test_cached_response_evicts_least_recently_used():
    srv = MetricsHTTPServer(None, None, response_cache_size=2)
    computes = {k: _counting(200, {"status": "success", "data": k}) for k in "abc"}

    def get(k):
        return srv._cached_response((k,), computes[k][0])

    get("a")
    get("b")
    get("a")  # a is now the most recently used
    get("c")  # evicts b
    assert list(srv._response_cache) == [("a",), ("c",)]
    get("a")
    get("b")
    assert [len(computes[k][1]) for k in "abc"] == [1, 2, 1]
