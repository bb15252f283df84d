"""HTTP serving shim: real clients over a real socket against the ES
wire layer (reference rest_handler.rs route surface)."""

import http.client
import json
import socket
import statistics
import threading
import time
import urllib.error
import urllib.request

import pytest

from quickwit_spark.api import QuickwitSpark
from quickwit_spark.serve import serve


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    qw = QuickwitSpark(spark, str(tmp_path_factory.mktemp("qw_http")))
    qw.create_index(
        {
            "index_id": "logs",
            "doc_mapping": {
                "mode": "dynamic",
                "dynamic_mapping": {"tokenizer": "default", "fast": True},
            },
        }
    )
    qw.ingest(
        "logs",
        [
            {"msg": f"event {i} level {'error' if i % 5 == 0 else 'info'}",
             "n": i}
            for i in range(60)
        ],
    )
    srv = serve(qw)
    yield srv
    srv.stop()


def _call(server, method, path, data=None, ndjson=False):
    body = None
    headers = {}
    if data is not None:
        if ndjson:
            body = data.encode("utf-8")
            headers["Content-Type"] = "application/x-ndjson"
        else:
            body = json.dumps(data).encode("utf-8")
            headers["Content-Type"] = "application/json"
    req = urllib.request.Request(
        server.url + path, data=body, method=method, headers=headers
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_cluster_banner_and_prefix_mount(server):
    status, banner = _call(server, "GET", "/")
    assert status == 200 and "cluster_name" in banner
    status2, banner2 = _call(server, "GET", "/api/v1/_elastic/")
    assert status2 == 200 and banner2["cluster_name"] == banner["cluster_name"]


def test_search_over_http(server):
    status, resp = _call(
        server,
        "POST",
        "/logs/_search",
        {"query": {"match": {"msg": "error"}}, "size": 5},
    )
    assert status == 200
    assert resp["hits"]["total"]["value"] == 12
    assert len(resp["hits"]["hits"]) == 5
    # GET with query-string q= route
    status, resp2 = _call(server, "GET", "/logs/_search?q=msg:error&size=3")
    assert status == 200 and len(resp2["hits"]["hits"]) == 3


def test_msearch_over_http(server):
    lines = [
        json.dumps({"index": "logs"}),
        json.dumps({"query": {"match": {"msg": "error"}}, "size": 0}),
        json.dumps({"index": "logs"}),
        json.dumps({"query": {"match": {"msg": "info"}}, "size": 0}),
    ]
    status, resp = _call(
        server, "POST", "/_msearch", "\n".join(lines) + "\n", ndjson=True
    )
    assert status == 200
    totals = [r["hits"]["total"]["value"] for r in resp["responses"]]
    assert totals == [12, 48]


def test_bulk_over_http(server):
    lines = [
        json.dumps({"index": {"_index": "logs"}}),
        json.dumps({"msg": "bulked via http", "n": 1000}),
        json.dumps({"index": {"_index": "logs"}}),
        json.dumps({"msg": "bulked via http too", "n": 1001}),
    ]
    status, resp = _call(
        server, "POST", "/_bulk", "\n".join(lines) + "\n", ndjson=True
    )
    assert status == 200
    assert resp["errors"] is False
    assert len(resp["items"]) == 2
    status, search = _call(
        server, "POST", "/logs/_search",
        {"query": {"match": {"msg": "bulked"}}},
    )
    assert search["hits"]["total"]["value"] == 2


def test_scroll_over_http(server):
    status, first = _call(
        server,
        "POST",
        "/logs/_search?scroll=1m",
        {"query": {"match": {"msg": "info"}}, "size": 20},
    )
    assert status == 200
    sid = first["_scroll_id"]
    seen = {h["_id"] for h in first["hits"]["hits"]}
    while True:
        status, page = _call(
            server, "POST", "/_search/scroll",
            {"scroll": "1m", "scroll_id": sid},
        )
        assert status == 200
        hits = page["hits"]["hits"]
        if not hits:
            break
        ids = {h["_id"] for h in hits}
        assert not ids & seen  # scroll never repeats a doc
        seen |= ids
        sid = page["_scroll_id"]
    assert len(seen) == 48


def test_error_envelope_and_statuses(server):
    status, resp = _call(server, "GET", "/nope/_search")
    assert status == 404
    assert "error" in resp
    status, resp = _call(server, "DELETE", "/_msearch")
    assert status in (400, 405)
    status, resp = _call(
        server, "POST", "/logs/_search", {"query": {"bogus_kind": {}}}
    )
    assert status == 400
    # malformed JSON body → 400, not a 500
    req = urllib.request.Request(
        server.url + "/logs/_search",
        data=b"{not json",
        method="POST",
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            status = r.status
    except urllib.error.HTTPError as e:
        status = e.code
    assert status == 400


def test_otlp_http_ingest_logs_and_traces(server):
    """OTLP/HTTP routes (reference otlp_api/rest_handler.rs:46-170):
    protobuf and JSON payloads land in the otel default indexes and
    become searchable through the ES routes."""
    from quickwit_spark.sources.otlp import (
        encode_logs_request,
        encode_traces_request,
    )

    logs_req = {
        "resourceLogs": [
            {
                "resource": {"attributes": [
                    {"key": "service.name",
                     "value": {"stringValue": "httpsvc"}}]},
                "scopeLogs": [{"logRecords": [
                    {"timeUnixNano": "1700000000000000001",
                     "severityText": "ERROR",
                     "body": {"stringValue": "otlp over http works"}},
                ]}],
            }
        ]
    }
    wire = encode_logs_request(logs_req)
    req = urllib.request.Request(
        server.url + "/api/v1/otlp/v1/logs", data=wire, method="POST",
        headers={"Content-Type": "application/x-protobuf"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        assert json.loads(r.read()) == {"partialSuccess": {}}

    status, resp = _call(
        server, "POST", "/otel-logs-v0_9/_search",
        {"query": {"term": {"service_name": {"value": "httpsvc"}}}},
    )
    assert status == 200 and resp["hits"]["total"]["value"] == 1
    src = resp["hits"]["hits"][0]["_source"]
    assert json.loads(src["body"]) == {"message": "otlp over http works"}

    traces_req = {
        "resourceSpans": [
            {
                "resource": {"attributes": [
                    {"key": "service.name",
                     "value": {"stringValue": "httpsvc"}}]},
                "scopeSpans": [{"spans": [
                    {"traceId": "ab" * 16, "spanId": "cd" * 8,
                     "name": "GET /t", "kind": 2,
                     "startTimeUnixNano": "1000", "endTimeUnixNano": "2000"},
                ]}],
            }
        ]
    }
    # JSON content-type path + custom index prefix
    req = urllib.request.Request(
        server.url + "/api/v1/my-traces/otlp/v1/traces",
        data=json.dumps(traces_req).encode(), method="POST",
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        assert json.loads(r.read()) == {"partialSuccess": {}}
    status, resp = _call(
        server, "POST", "/my-traces/_search",
        {"query": {"term": {"trace_id": {"value": "ab" * 16}}}},
    )
    assert status == 200 and resp["hits"]["total"]["value"] == 1
    assert resp["hits"]["hits"][0]["_source"]["span_name"] == "GET /t"

    # protobuf traces into the default index via encode round trip
    req = urllib.request.Request(
        server.url + "/api/v1/otlp/v1/traces",
        data=encode_traces_request(traces_req), method="POST",
        headers={"Content-Type": "application/x-protobuf"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        assert json.loads(r.read()) == {"partialSuccess": {}}
    status, resp = _call(
        server, "GET", "/otel-traces-v0_9/_count")
    assert status == 200 and resp["count"] == 1

    # garbage payload → 400, not a 500
    req = urllib.request.Request(
        server.url + "/api/v1/otlp/v1/logs", data=b"\xff\xfe garbage",
        method="POST", headers={"Content-Type": "application/x-protobuf"},
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            code = r.status
    except urllib.error.HTTPError as e:
        code = e.code
    assert code == 400


def test_repeat_otlp_ingest_is_searchable_and_query_params_ok(server):
    """Regression: a second OTLP POST into the SAME index must be
    visible to searches (the searcher view refreshes on facade
    mutations, not only when the index set changes), and OTLP routes
    must tolerate query parameters."""
    from quickwit_spark.sources.otlp import encode_logs_request

    def post(n):
        req_body = {
            "resourceLogs": [{
                "scopeLogs": [{"logRecords": [
                    {"timeUnixNano": str(1700000000000000100 + n),
                     "body": {"stringValue": f"repeat batch {n}"}},
                ]}],
            }]
        }
        r = urllib.request.Request(
            server.url + "/api/v1/otlp/v1/logs?timeout=5s",
            data=encode_logs_request(req_body), method="POST",
            headers={"Content-Type": "application/x-protobuf"},
        )
        with urllib.request.urlopen(r, timeout=120) as resp:
            assert json.loads(resp.read()) == {"partialSuccess": {}}

    post(1)
    status, r1 = _call(
        server, "POST", "/otel-logs-v0_9/_search",
        {"query": {"match": {"body": "repeat"}}, "size": 0},
    )
    assert status == 200
    first = r1["hits"]["total"]["value"]
    assert first >= 1
    post(2)
    status, r2 = _call(
        server, "POST", "/otel-logs-v0_9/_search",
        {"query": {"match": {"body": "repeat"}}, "size": 0},
    )
    assert r2["hits"]["total"]["value"] == first + 1


# ---------------------------------------------------------------------------
# native REST + Jaeger HTTP routes (reference search_api/rest_handler.rs
# and jaeger_api/rest_handler.rs, mounted under /api/v1)
# ---------------------------------------------------------------------------


def test_native_search_get_and_post(server):
    """GET/POST /api/v1/{index}/search speaks SearchRequestQueryString
    (rest_handler.rs:175-241): query-string params on GET, the same
    object as a JSON body on POST; deny-unknown-fields 400s."""
    status, resp = _call(
        server, "GET", "/api/v1/logs/search?query=msg:error&max_hits=3"
    )
    assert status == 200
    assert resp["num_hits"] == 12
    assert len(resp["hits"]) == 3
    assert resp["errors"] == []
    assert "elapsed_time_micros" in resp

    status, resp = _call(
        server, "POST", "/api/v1/logs/search",
        {"query": "msg:error", "max_hits": 2, "sort_by": "+n"},
    )
    assert status == 200
    assert [h["n"] for h in resp["hits"]] == [0, 5]

    status, resp = _call(server, "GET", "/api/v1/logs/search?nope=1")
    assert status == 400
    status, resp = _call(server, "GET", "/api/v1/zzz/search?query=a")
    assert status == 404
    # glob patterns resolve like extract_index_id_patterns
    status, resp = _call(server, "GET", "/api/v1/log*/search?query=msg:error")
    assert status == 200 and resp["num_hits"] == 12


def test_native_search_plan_route(server):
    """GET/POST /api/v1/{index}/search-plan returns the reference's
    SearchPlanResponseRest keys (search_response_rest.rs:117-131) plus
    this engine's plan evidence."""
    status, resp = _call(
        server, "GET", "/api/v1/logs/search-plan?query=msg:error"
    )
    assert status == 200
    for key in ("quickwit_ast", "tantivy_ast", "searched_splits",
                "storage_requests", "warmup_terms", "spark_plan"):
        assert key in resp
    assert resp["searched_splits"]
    assert resp["storage_requests"]["footer"] == len(resp["searched_splits"])
    status, resp = _call(
        server, "POST", "/api/v1/logs/search-plan", {"query": "msg:error"}
    )
    assert status == 200 and resp["warmup_terms"] == ["error"]
    status, resp = _call(server, "GET", "/api/v1/logs/search-plan?bad=1")
    assert status == 400


def test_otlp_to_jaeger_http_round_trip(server):
    """End-to-end over live sockets: OTLP/JSON trace ingest →
    /jaeger/api services, operations, traces search (with tag +
    duration filters), and trace-by-id — the Jaeger UI JSON model
    (jaeger_api/model.rs: camelCase, µs times, typed tags, p1/p2
    process map)."""
    traces_req = {
        "resourceSpans": [{
            "resource": {"attributes": [
                {"key": "service.name", "value": {"stringValue": "jui-svc"}},
                {"key": "host", "value": {"stringValue": "h1"}}]},
            "scopeSpans": [{"spans": [
                {"traceId": "1a" * 16, "spanId": "2b" * 8,
                 "name": "GET /root", "kind": 2,
                 "startTimeUnixNano": "1000000000",
                 "endTimeUnixNano": "2500000000",
                 "attributes": [{"key": "http.status_code",
                                 "value": {"intValue": "500"}}],
                 "status": {"code": 2, "message": "boom"}},
                {"traceId": "1a" * 16, "spanId": "3c" * 8,
                 "name": "child-op", "kind": 3,
                 "parentSpanId": "2b" * 8,
                 "startTimeUnixNano": "1200000000",
                 "endTimeUnixNano": "1300000000"},
                {"traceId": "9f" * 16, "spanId": "4d" * 8,
                 "name": "other-op", "kind": 1,
                 "startTimeUnixNano": "9000000000",
                 "endTimeUnixNano": "9050000000"},
            ]}],
        }]
    }
    req = urllib.request.Request(
        server.url + "/api/v1/jui-traces/otlp/v1/traces",
        data=json.dumps(traces_req).encode(), method="POST",
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        assert json.loads(r.read()) == {"partialSuccess": {}}

    status, resp = _call(server, "GET", "/api/v1/jui-traces/jaeger/api/services")
    assert status == 200 and resp == {"data": ["jui-svc"]}

    status, resp = _call(
        server, "GET",
        "/api/v1/jui-traces/jaeger/api/services/jui-svc/operations")
    assert status == 200
    assert resp == {"data": ["GET /root", "child-op", "other-op"]}

    # traces search: most-recent trace first; UI model shape
    status, resp = _call(
        server, "GET",
        "/api/v1/jui-traces/jaeger/api/traces?service=jui-svc&limit=5")
    assert status == 200
    assert [t["traceID"] for t in resp["data"]] == ["9f" * 16, "1a" * 16]
    t = resp["data"][1]
    assert [s["operationName"] for s in t["spans"]] == ["GET /root", "child-op"]
    root = t["spans"][0]
    assert root["startTime"] == 1_000_000 and root["duration"] == 1_500_000
    assert root["processID"] == "p1"
    assert t["processes"]["p1"]["serviceName"] == "jui-svc"
    assert {"key": "host", "type": "string", "value": "h1"} in (
        t["processes"]["p1"]["tags"])
    assert {"key": "http.status_code", "type": "int64", "value": 500} in (
        root["tags"])
    assert {"key": "error", "type": "bool", "value": True} in root["tags"]
    child = t["spans"][1]
    assert child["references"] == [
        {"traceID": "1a" * 16, "spanID": "2b" * 8, "refType": "CHILD_OF"}]

    # tag + duration filters narrow the winner set
    status, resp = _call(
        server, "GET",
        "/api/v1/jui-traces/jaeger/api/traces?service=jui-svc"
        "&tags=%7B%22error%22%3A%22true%22%7D")
    assert status == 200
    assert [t["traceID"] for t in resp["data"]] == ["1a" * 16]
    status, resp = _call(
        server, "GET",
        "/api/v1/jui-traces/jaeger/api/traces?minDuration=1.2s")
    assert status == 200
    assert [t["traceID"] for t in resp["data"]] == ["1a" * 16]
    status, resp = _call(
        server, "GET",
        "/api/v1/jui-traces/jaeger/api/traces?maxDuration=200ms")
    assert status == 200
    assert [t["traceID"] for t in resp["data"]] == ["9f" * 16, "1a" * 16]

    # start/end are µs, truncated to whole seconds like the reference
    status, resp = _call(
        server, "GET",
        "/api/v1/jui-traces/jaeger/api/traces?start=3000000&end=10000000")
    assert status == 200
    assert [t["traceID"] for t in resp["data"]] == ["9f" * 16]

    # trace by id
    status, resp = _call(
        server, "GET", "/api/v1/jui-traces/jaeger/api/traces/" + "1a" * 16)
    assert status == 200
    assert len(resp["data"]) == 1 and len(resp["data"][0]["spans"]) == 2

    # error paths: unknown param, bad trace id, bad route, wrong method
    status, _ = _call(
        server, "GET", "/api/v1/jui-traces/jaeger/api/traces?bogus=1")
    assert status == 400
    status, _ = _call(
        server, "GET", "/api/v1/jui-traces/jaeger/api/traces/nothex")
    assert status == 400
    status, _ = _call(
        server, "GET", "/api/v1/jui-traces/jaeger/api/nosuch")
    assert status == 404
    status, _ = _call(
        server, "POST", "/api/v1/jui-traces/jaeger/api/services", {})
    assert status == 405


def test_native_route_error_contracts(server):
    """Review-pass regressions: jaeger routes on a non-traces index
    are a 400 (not a 500); non-string JSON tag values 400; the
    /_elastic mount is never hijacked by the native router. Creates
    its own traces index — must pass in isolation."""
    status, resp = _call(server, "GET", "/api/v1/logs/jaeger/api/services")
    assert status == 400
    assert "traces index" in resp["error"]["reason"]
    # own traces index (no dependency on other tests' side effects)
    req = urllib.request.Request(
        server.url + "/api/v1/errc-traces/otlp/v1/traces",
        data=json.dumps({"resourceSpans": [{"scopeSpans": [{"spans": [
            {"traceId": "0a" * 16, "spanId": "0b" * 8, "name": "x",
             "startTimeUnixNano": "1", "endTimeUnixNano": "2"}]}]}]}).encode(),
        method="POST", headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        assert json.loads(r.read()) == {"partialSuccess": {}}
    status, resp = _call(
        server, "GET",
        "/api/v1/errc-traces/jaeger/api/traces?tags=%7B%22error%22%3Atrue%7D")
    assert status == 400 and "tags" in resp["error"]["reason"]
    # ES route under /_elastic with an index literally named "search"
    # must reach the ES router (404 index_not_found, NOT a native 400
    # pattern-validation error)
    status, resp = _call(server, "POST", "/api/v1/_elastic/search/_search", {})
    assert status == 404


def test_native_search_aggs_and_snippets_over_http(server):
    """The native route's full SearchRequestQueryString surface over a
    live socket: `aggs` (tantivy aggregation JSON) and
    `snippet_fields` both ride the same GET/POST params as the
    reference handler."""
    status, resp = _call(
        server, "POST", "/api/v1/logs/search",
        {
            "query": "msg:error",
            "max_hits": 2,
            "snippet_fields": "msg",
            "aggs": {"by_n": {"histogram": {"field": "n", "interval": 20}}},
        },
    )
    assert status == 200 and resp["num_hits"] == 12
    # snippets: reference shape — one object per hit, field → fragments
    assert len(resp["snippets"]) == 2
    for snip in resp["snippets"]:
        assert any("<b>error</b>" in frag for frag in snip["msg"])
    # aggregation shaped like the reference envelope
    buckets = resp["aggregations"]["by_n"]["buckets"]
    assert sum(b["doc_count"] for b in buckets) == 12
    assert [b["key"] for b in buckets] == [0.0, 20.0, 40.0]
    # GET variant with aggs as a JSON query param
    status, resp = _call(
        server, "GET",
        "/api/v1/logs/search?query=msg:error&max_hits=0&aggs="
        "%7B%22langs%22%3A%7B%22terms%22%3A%7B%22field%22%3A%22msg%22%7D%7D%7D",
    )
    assert status == 200 and resp["hits"] == []
    assert "langs" in resp["aggregations"]
    # bad aggs body → 400
    status, _ = _call(
        server, "GET", "/api/v1/logs/search?aggs=notjson")
    assert status == 400


def test_keep_alive_responses_do_not_stall(server):
    """From the second request of a keep-alive connection on, a response
    sent as headers then body with Nagle on waits ~40 ms for the
    client's delayed ACK; one write with TCP_NODELAY answers at once.
    Error statuses keep the connection open too."""
    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=120)
    try:
        secs = []
        for _ in range(20):
            t0 = time.perf_counter()
            conn.request("GET", "/")
            resp = conn.getresponse()
            assert resp.status == 200 and "cluster_name" in json.loads(resp.read())
            secs.append(time.perf_counter() - t0)
        assert statistics.median(secs) < 0.020, secs
        sock = conn.sock

        def call(method, path, body=None):
            conn.request(method, path, body=body,
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            out = resp.status, json.loads(resp.read())
            assert conn.sock is sock  # answered on the same connection
            return out

        status, resp = call("GET", "/nope/_search")
        assert status == 404 and "error" in resp
        status, resp = call("POST", "/logs/_search", b"{not json")
        assert status == 400 and "error" in resp
        status, resp = call(
            "POST", "/logs/_search",
            json.dumps({"query": {"match": {"msg": "error"}}, "size": 1}),
        )
        assert status == 200 and len(resp["hits"]["hits"]) == 1
    finally:
        conn.close()


def _raw_request(sock, head: bytes, body: bytes = b""):
    sock.sendall(head + b"\r\n" + body)
    resp = http.client.HTTPResponse(sock)
    resp.begin()
    return resp.status, json.loads(resp.read())


def test_chunked_and_malformed_request_bodies(server):
    """A chunked body is decoded (not read as empty, leaving its bytes
    to be parsed as the next request line); a malformed Content-Length
    answers 400 and closes the connection."""
    body = json.dumps({"query": {"match": {"msg": "error"}}, "size": 0})
    status, expect = _call(server, "POST", "/logs/_search", json.loads(body))
    assert status == 200 and expect["hits"]["total"]["value"] > 0
    raw = body.encode()
    chunked = b"".join(
        b"%x;ext=1\r\n%s\r\n" % (len(c), c) for c in (raw[:7], raw[7:])
    ) + b"0\r\nX-Trailer: t\r\n\r\n"
    with socket.create_connection(("127.0.0.1", server.port), timeout=120) as s:
        status, resp = _raw_request(
            s,
            b"POST /logs/_search HTTP/1.1\r\nHost: t\r\n"
            b"Content-Type: application/json\r\n"
            b"Transfer-Encoding: chunked\r\n",
            chunked,
        )
        assert status == 200
        assert resp["hits"]["total"] == expect["hits"]["total"]
        # the connection is still in step: the next request parses
        status, resp = _raw_request(s, b"GET / HTTP/1.1\r\nHost: t\r\n")
        assert status == 200 and "cluster_name" in resp
    with socket.create_connection(("127.0.0.1", server.port), timeout=120) as s:
        status, resp = _raw_request(
            s,
            b"POST /logs/_search HTTP/1.1\r\nHost: t\r\n"
            b"Content-Length: abc\r\n",
        )
        assert status == 400 and "Content-Length" in resp["error"]["reason"]
        assert s.recv(1) == b""  # closed: the body's extent is unknown


def test_concurrent_search_plans_stay_apart(server):
    """`search_plan` builds its text per call: eight threads explaining
    at once each get their own plan, never another's or an empty one."""
    searcher = server.facade.searcher("logs")
    terms = [str(10 + i) for i in range(8)]
    barrier = threading.Barrier(len(terms))
    plans: dict = {}

    def explain(term):
        barrier.wait()
        plans[term] = searcher.search_plan(f"msg:{term} AND n:[0 TO 59]")[
            "spark_plan"
        ]

    threads = [threading.Thread(target=explain, args=(t,)) for t in terms]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(plans) == terms
    for term, plan in plans.items():
        assert "== Physical Plan ==" in plan, plan
        named = {t for t in terms if f'"{t}"' in plan}
        assert named == {term}, (term, plan)
