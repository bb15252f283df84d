"""HTTP serving shim: the ES-compatible REST layer over a real socket.

The reference mounts its elasticsearch-compatible API as warp routes
(qw/quickwit-serve/src/elasticsearch_api/rest_handler.rs:96-294, under
the `/api/v1/_elastic` prefix); this repo's `search/es_wire.py`
already replays those wire *semantics* (all 26 reference
es_compatibility scenario files pass against it), and this module
makes them consumable by real HTTP clients — curl, elasticsearch-py,
Kibana-style dashboards — with zero extra dependencies: a stdlib
`ThreadingHTTPServer` dispatching every request to
`EsWireHandler.request`.

Route prefixing matches the reference: both bare ES paths
(`/my-index/_search`) and the reference's mounted form
(`/api/v1/_elastic/my-index/_search`) resolve to the same handler.
NDJSON endpoints (`_bulk`, `_msearch`) get their body split into
lines; everything else parses as a JSON body. `EsApiError` maps to
its HTTP status with the ES error envelope, exactly like the
reference's `ElasticsearchError` recovery filter.

Threading: the wire handler is stateless per request apart from the
scroll registry (which is designed for concurrent searchers — the
bench drives 9 queries concurrently on one session), so a threading
server is safe; ONE handler instance lives for the server lifetime so
scroll contexts survive across requests, while the index map is
refreshed from the facade per request (new/dropped indexes appear
without a restart).

This is a single-node convenience front end (the reference's searcher
process analog). At cluster scale, N of these run behind a load
balancer, each backed by the same shared index storage — the engine
itself stays on Spark.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from quickwit_spark.search.es_wire import EsApiError, EsWireHandler

_ELASTIC_PREFIX = "/api/v1/_elastic"
_DIGITS = re.compile(r"[0-9]+")
_HEX = re.compile(rb"[0-9A-Fa-f]+")
_MAX_LINE = 65536  # chunk size and trailer lines (http.server's header line cap)


class EsHttpServer:
    """Lifecycle wrapper: `start()` serves on a daemon thread,
    `stop()` shuts the socket down. `port` is the bound port (pass 0
    to let the OS pick — the pytest mode)."""

    def __init__(
        self,
        handler: EsWireHandler | None = None,
        facade=None,
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        if handler is None:
            if facade is None:
                raise ValueError("serve: need an EsWireHandler or a facade")
            handler = facade.es()
        self.wire = handler
        self.facade = facade
        self._refresh_lock = threading.Lock()
        server = self

        class _Request(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            # TCP_NODELAY: with Nagle on, a response's second segment
            # waits for the client's delayed ACK (~40 ms) from the
            # second request of a keep-alive connection on
            disable_nagle_algorithm = True

            def log_message(self, *args):  # quiet: no stderr per request
                pass

            def _dispatch(self, method: str) -> None:
                framed = False  # body read to its end: keep-alive is safe
                try:
                    raw = self._read_body()
                    framed = True
                    result = server.handle(
                        method,
                        self.path,
                        raw,
                        content_type=self.headers.get("Content-Type"),
                    )
                    payload = json.dumps(result).encode("utf-8")
                    status = 200
                except EsApiError as e:
                    payload = json.dumps(e.response()).encode("utf-8")
                    status = e.status
                except Exception as e:  # noqa: BLE001 — server must answer
                    payload = json.dumps(
                        {"status": 500, "error": {"reason": str(e)}}
                    ).encode("utf-8")
                    status = 500
                self._reply(status, payload, close=not framed)

            def _read_body(self) -> bytes:
                """The request body, framed by `Transfer-Encoding:
                chunked` or `Content-Length` (RFC 9112 §6.3); a
                malformed frame is a 400."""
                coding = self.headers.get("Transfer-Encoding")
                if coding is not None:
                    if coding.strip().lower() != "chunked":
                        raise EsApiError(
                            400, f"unsupported Transfer-Encoding: {coding}"
                        )
                    return self._read_chunked()
                length = (self.headers.get("Content-Length") or "0").strip()
                if not _DIGITS.fullmatch(length):
                    raise EsApiError(400, f"invalid Content-Length: {length}")
                return self.rfile.read(int(length))

            def _read_chunked(self) -> bytes:
                parts = []
                while True:
                    line = self.rfile.readline(_MAX_LINE + 1)
                    size = line.split(b";", 1)[0].strip()
                    if len(line) > _MAX_LINE or not _HEX.fullmatch(size):
                        raise EsApiError(400, "invalid chunk size line")
                    n = int(size, 16)
                    if n == 0:
                        break
                    parts.append(self.rfile.read(n))
                    if len(parts[-1]) != n or self.rfile.read(2) != b"\r\n":
                        raise EsApiError(400, "truncated chunk")
                while line not in (b"\r\n", b"\n", b""):  # trailer section
                    line = self.rfile.readline(_MAX_LINE + 1)
                    if len(line) > _MAX_LINE:
                        raise EsApiError(400, "invalid chunked trailer")
                return b"".join(parts)

            def _reply(self, status: int, payload: bytes, close: bool) -> None:
                """Status line, headers and body as ONE write, so the
                whole response leaves in one send (see
                `disable_nagle_algorithm`)."""
                head = [
                    f"{self.protocol_version} {status} "
                    f"{self.responses.get(status, ('',))[0]}",
                    f"Server: {self.version_string()}",
                    f"Date: {self.date_time_string()}",
                    "Content-Type: application/json",
                    f"Content-Length: {len(payload)}",
                ]
                if close:
                    head.append("Connection: close")
                    self.close_connection = True
                self.wfile.write(
                    ("\r\n".join(head) + "\r\n\r\n").encode("latin-1") + payload
                )

            def do_GET(self):
                self._dispatch("GET")

            def do_POST(self):
                self._dispatch("POST")

            def do_PUT(self):
                self._dispatch("PUT")

            def do_DELETE(self):
                self._dispatch("DELETE")

        self._httpd = ThreadingHTTPServer((host, port), _Request)
        self._thread: threading.Thread | None = None

    # ------------------------------------------------------------ wire

    def handle(
        self,
        method: str,
        path: str,
        raw_body: bytes,
        content_type: str | None = None,
    ) -> dict:
        """One HTTP request → wire handler call. Separated from the
        socket layer so it is unit-testable without a port."""
        if path.startswith("/api/v1/"):
            otlp = self._maybe_otlp(
                method, path[len("/api/v1"):], raw_body, content_type
            )
            if otlp is not None:
                return otlp
            native = self._maybe_native(
                method, path[len("/api/v1"):], raw_body
            )
            if native is not None:
                return native
        if path.startswith(_ELASTIC_PREFIX):
            path = path[len(_ELASTIC_PREFIX):] or "/"
        endpoint = path.lstrip("/")
        if self.facade is not None:
            # live index view, persistent scroll registry — refreshed
            # whenever the facade invalidated ANY searcher (ingest,
            # create, delete, mapping update bump mutation_count), so
            # new docs are visible immediately without paying per-index
            # state reads on every request. The refresh is serialized
            # and `gen` is read BEFORE the view is built: a mutation
            # landing mid-build leaves `_seen_mutation` at the pre-read
            # value, so the next request refreshes again — a stale view
            # can never be recorded under a newer generation.
            gen = getattr(self.facade, "mutation_count", None)
            if gen is None or gen != getattr(self, "_seen_mutation", -1):
                with self._refresh_lock:
                    gen = getattr(self.facade, "mutation_count", None)
                    if gen is None or gen != getattr(
                        self, "_seen_mutation", -1
                    ):
                        self.wire.indexes = {
                            n: self.facade.searcher(n)
                            for n in self.facade.list_indexes()
                        }
                        self._seen_mutation = gen
        route = endpoint.partition("?")[0].rstrip("/").rsplit("/", 1)[-1]
        body = None
        ndjson = None
        if route in ("_bulk", "_msearch"):
            lines = [
                ln
                for ln in raw_body.decode("utf-8").splitlines()
                if ln.strip()
            ]
            if route == "_msearch":
                # the wire layer takes parsed header/body dicts here
                # (but raw lines for _bulk, whose parser owns per-line
                # error positions)
                try:
                    ndjson = [json.loads(ln) for ln in lines]
                except json.JSONDecodeError as e:
                    raise EsApiError(
                        400, f"invalid NDJSON line: {e}"
                    ) from e
            else:
                ndjson = lines
        elif raw_body.strip():
            try:
                body = json.loads(raw_body)
            except json.JSONDecodeError as e:
                raise EsApiError(400, f"invalid JSON body: {e}") from e
        return self.wire.request(method, endpoint, body=body, ndjson=ndjson)

    # ---------------------------------------------------------- native

    # Jaeger services/operations lookback window (reference
    # lookback_period from node config; None = all retained spans, the
    # deterministic default for a library-backed server)
    jaeger_lookback_secs: int | None = None

    def _maybe_native(self, method: str, path: str, raw_body: bytes):
        """The reference's native (non-ES) REST routes
        (qw/quickwit-serve/src/search_api/rest_handler.rs:175-241 and
        jaeger_api/rest_handler.rs:56-165):

            GET/POST /api/v1/{index}/search        SearchRequestQueryString
            GET/POST /api/v1/{index}/search-plan   execution plan
            GET      /api/v1/{index}/jaeger/api/services
            GET      /api/v1/{index}/jaeger/api/services/{svc}/operations
            GET      /api/v1/{index}/jaeger/api/traces?...
            GET      /api/v1/{index}/jaeger/api/traces/{trace-id}

        Returns None when the path is none of these (falls through to
        the ES-compatible router). GET params come from the query
        string; POST bodies are the same params as JSON."""
        import json as _json
        from urllib.parse import parse_qs

        route, _, qs = path.partition("?")
        parts = [p for p in route.strip("/").split("/") if p]
        # the ES-compatible mount owns everything under /_elastic —
        # an ES index literally named "search" must not be hijacked
        if parts and parts[0] == "_elastic":
            return None
        is_search = len(parts) == 2 and parts[1] in ("search", "search-plan")
        is_jaeger = len(parts) >= 3 and parts[1] == "jaeger" and parts[2] == "api"
        if not (is_search or is_jaeger) or self.facade is None:
            return None
        params = {k: v[-1] for k, v in parse_qs(qs).items()}
        if is_search:
            if method not in ("GET", "POST"):
                raise EsApiError(405, f"method {method} not allowed")
            if method == "POST" and raw_body.strip():
                try:
                    body = _json.loads(raw_body)
                except _json.JSONDecodeError as e:
                    raise EsApiError(400, f"invalid JSON body: {e}") from e
                if not isinstance(body, dict):
                    raise EsApiError(400, "body must be a JSON object")
                params.update(body)
            searcher = self._one_searcher(parts[0])
            from quickwit_spark.search.native_api import (
                native_search,
                native_search_plan,
            )

            fn = native_search if parts[1] == "search" else native_search_plan
            try:
                return fn(searcher, params)
            except ValueError as e:
                raise EsApiError(400, str(e)) from e
        if method != "GET":
            raise EsApiError(405, f"method {method} not allowed for jaeger")
        from quickwit_spark.search.jaeger_http import handle_jaeger, spans_frame

        import time as _time

        try:
            frames = [
                spans_frame(self.facade.searcher(ix))
                for ix in self._match_indexes(parts[0])
            ]
            spans = frames[0]
            for f in frames[1:]:
                spans = spans.unionByName(f, allowMissingColumns=True)
            return handle_jaeger(
                spans,
                parts[3:],
                params,
                lookback_secs=self.jaeger_lookback_secs,
                now_nanos=(
                    int(_time.time() * 1e9)
                    if self.jaeger_lookback_secs is not None
                    else None
                ),
            )
        except ValueError as e:
            raise EsApiError(400, str(e)) from e
        except LookupError as e:
            raise EsApiError(404, str(e)) from e

    def _match_indexes(self, pattern: str) -> list[str]:
        """Comma-separated index-id patterns with `*` globs (reference
        extract_index_id_patterns) → matching index ids; 404 when
        nothing matches."""
        import fnmatch

        from quickwit_spark.api import QuickwitSpark

        live = self.facade.list_indexes()
        out: list[str] = []
        for pat in str(pattern).split(","):
            pat = pat.strip()
            if not pat:
                continue
            try:
                QuickwitSpark.validate_index_id_pattern(pat)
            except ValueError as e:
                raise EsApiError(400, str(e)) from e
            out.extend(n for n in live if fnmatch.fnmatchcase(n, pat))
        matched = sorted(set(out))
        if not matched:
            raise EsApiError(404, f"no index matches {pattern!r}")
        return matched

    def _one_searcher(self, pattern: str):
        matched = self._match_indexes(pattern)
        if len(matched) > 1:
            raise EsApiError(
                400,
                "native /search serves a single index per request here; "
                f"pattern {pattern!r} matched {matched}",
            )
        return self.facade.searcher(matched[0])

    # ------------------------------------------------------------ otlp

    # default index ids, reference OTEL_LOGS_INDEX_ID / OTEL_TRACES_INDEX_ID
    OTEL_LOGS_INDEX = "otel-logs-v0_9"
    OTEL_TRACES_INDEX = "otel-traces-v0_9"

    def _maybe_otlp(
        self,
        method: str,
        path: str,
        raw_body: bytes,
        content_type: str | None,
    ) -> dict | None:
        """OTLP/HTTP ingest routes (reference
        qw/quickwit-serve/src/otlp_api/rest_handler.rs:46-170):
        POST /api/v1[/{index}]/otlp/v1/{logs|traces}, body an
        Export*ServiceRequest as protobuf (the reference's
        content-type) or OTLP/JSON. Docs flatten through
        sources/otlp and commit through the facade's ingest path into
        the otel default indexes (auto-created dynamic)."""
        import time

        path = path.partition("?")[0]  # strip query BEFORE routing
        parts = [p for p in path.strip("/").split("/") if p]
        if len(parts) < 3 or parts[-3] != "otlp" or parts[-2] != "v1":
            return None
        signal = parts[-1]
        if signal not in ("logs", "traces") or len(parts) > 4:
            return None
        if method != "POST":
            raise EsApiError(405, f"method {method} not allowed for otlp")
        if self.facade is None:
            raise EsApiError(
                400, "otlp ingest needs a facade-backed server"
            )
        from quickwit_spark.sources.otlp import (
            _decode_msg,
            flatten_logs_request,
            flatten_traces_request,
        )

        is_json = content_type is not None and "json" in content_type.lower()
        root = (
            "ExportLogsServiceRequest"
            if signal == "logs"
            else "ExportTraceServiceRequest"
        )
        try:
            if is_json:
                request = json.loads(raw_body)
            else:
                request = _decode_msg(root, raw_body)
        except Exception as e:
            raise EsApiError(400, f"invalid OTLP payload: {e}") from e
        if signal == "logs":
            docs = flatten_logs_request(
                request, default_observed_nanos=int(time.time() * 1e9)
            )
            default_index = self.OTEL_LOGS_INDEX
            rejected_key = "rejectedLogRecords"
        else:
            docs = flatten_traces_request(request)
            default_index = self.OTEL_TRACES_INDEX
            rejected_key = "rejectedSpans"
        index_id = parts[0] if len(parts) == 4 else default_index
        if index_id not in self.facade.list_indexes():
            self.facade.create_index(
                {
                    "index_id": index_id,
                    "doc_mapping": {
                        "mode": "dynamic",
                        "dynamic_mapping": {
                            "tokenizer": "default",
                            "fast": True,
                        },
                    },
                },
                exist_ok=True,
            )
        if docs:
            result = self.facade.ingest(index_id, docs)
            rejected = result.get("rejected", 0)
        else:
            rejected = 0
        # full success = empty partialSuccess (reference semantics)
        if rejected:
            return {
                "partialSuccess": {
                    rejected_key: str(rejected),
                    "errorMessage": "some records failed doc mapping",
                }
            }
        return {"partialSuccess": {}}

    # ------------------------------------------------------------ lifecycle

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "EsHttpServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=10)

    def __enter__(self) -> "EsHttpServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


def serve(facade, host: str = "127.0.0.1", port: int = 0) -> EsHttpServer:
    """Start serving a facade's indexes over HTTP; returns the running
    server (stop() it when done)."""
    return EsHttpServer(facade=facade, host=host, port=port).start()
