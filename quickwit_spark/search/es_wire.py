"""ES-compatible wire handler — the REST layer without HTTP.

Maps (method, endpoint, query params, body) onto the engine exactly the
way the reference's elasticsearch_api handlers do
(`quickwit-serve/src/elasticsearch_api/rest_handler.rs:96-294` search,
`:804` msearch, `:294` scroll, plus `_count` / `_stats` / `_cat`):

- query params merge into the body with the reference's precedence
  (`q` OVERRIDES the body query; `size`/`sort` override; `extra_filters`
  are ANDed in as non-scoring filters; `_source_includes`/`_source_
  excludes` prune the returned source tree),
- scroll requests validate TTL (≤ 1800 s) and
  `allow_partial_search_results`, create a ScrollContext, and serve
  pages through `_search/scroll`,
- errors surface as `EsApiError(status, reason)`; `response()` renders
  the reference's error envelope `{"status": N, "error": {"reason"}}`.

Driving this layer against the reference's own rest-api-tests golden
scenarios (`rest-api-tests/scenarii/es_compatibility/*.yaml`) is the
parity harness in `tests/test_es_scenarios.py`.
"""

from __future__ import annotations

import json
import re


class EsApiError(Exception):
    def __init__(self, status: int, reason: str, es_type: str | None = None):
        super().__init__(reason)
        self.status = status
        self.reason = reason
        # ES exception slug (`model/error.rs:140-170`), e.g.
        # "illegal_argument_exception" — present on typed wire errors
        self.es_type = es_type

    def response(self) -> dict:
        # `error.reason` is the ES envelope; `message` is the native
        # admin API's field — both carried so either checker matches
        error: dict = {"reason": self.reason}
        if self.es_type:
            error["type"] = self.es_type
        return {
            "status": self.status,
            "error": error,
            "message": self.reason,
        }


MAX_SCROLL_TTL_SECS = 1800  # reference scroll_context.rs TTL cap


def _parse_ttl_secs(s: str) -> int:
    m = re.fullmatch(r"(\d+)(ms|s|m|h|d)?", str(s).strip())
    if not m:
        raise EsApiError(400, f"Invalid argument: bad scroll TTL {s!r}")
    n, unit = int(m.group(1)), m.group(2) or "s"
    return n * {"ms": 0, "s": 1, "m": 60, "h": 3600, "d": 86400}[unit]


def _as_list(v) -> list[str]:
    """Param values arrive as list or comma-joined string."""
    if v is None:
        return []
    if isinstance(v, str):
        return [p for p in v.split(",") if p]
    return list(v)


def _zero_shards() -> dict:
    """The ES `_shards` envelope shape, zero-valued."""
    return {
        "total": 0, "successful": 0, "skipped": 0, "failed": 0,
        "failures": [],
    }


def _source_filter(doc, includes: list[str], excludes: list[str]):
    """ES `_source_includes`/`_source_excludes` tree filtering: a path
    selects/removes the whole subtree under it."""
    if doc is None or not isinstance(doc, dict):
        return doc

    def pick(node, paths):
        out = {}
        for p in paths:
            head, _, rest = p.partition(".")
            if head not in node:
                continue
            if not rest:
                out[head] = node[head]
            elif isinstance(node[head], dict):
                sub = pick(node[head], [rest])
                if sub:
                    prev = out.get(head)
                    out[head] = {**prev, **sub} if isinstance(prev, dict) else sub
        return out

    def drop(node, paths):
        out = dict(node)
        for p in paths:
            head, _, rest = p.partition(".")
            if head not in out:
                continue
            if not rest:
                out.pop(head)
            elif isinstance(out[head], dict):
                out[head] = drop(out[head], [rest])
        return out

    if includes:
        doc = pick(doc, includes)
    if excludes:
        doc = drop(doc, excludes)
    return doc


class EsWireHandler:
    """Routes ES REST calls to a set of index searchers."""

    def __init__(self, indexes: dict, facade=None):
        self.indexes = dict(indexes)  # name -> IndexSearcher
        # an api.QuickwitSpark — enables the ingest endpoints (`_bulk`)
        self.facade = facade
        # scroll_id -> (ctx, searcher, total, shaped aggs, src filters)
        self._scrolls: dict[str, dict] = {}

    # ------------------------------------------------------------ routing

    def request(
        self,
        method: str,
        endpoint: str,
        params: dict | None = None,
        body: dict | None = None,
        ndjson: list | None = None,
    ) -> dict:
        params = dict(params or {})
        endpoint, _, qs = endpoint.partition("?")
        for kv in qs.split("&"):
            if kv:
                from urllib.parse import unquote

                k, _, v = kv.partition("=")
                # percent-decode like the reference's warp query
                # extractor (`q=event%20other` is the two-word query,
                # not a token). unquote, NOT unquote_plus: a literal
                # `+` is the ascending marker in sort values
                params.setdefault(unquote(k), unquote(v))
        parts = [p for p in endpoint.split("/") if p]
        if not parts:
            # GET / — the ES cluster-info banner
            # (`rest_handler.rs:70-93` es_compat_cluster_info_handler)
            if method != "GET":
                raise EsApiError(405, f"method {method} not allowed for /")
            return self._cluster_info()
        if method == "DELETE" and len(parts) == 1 and not parts[0].startswith("_"):
            return self._delete_index(parts[0], params)
        if parts[-1] == "_bulk" and len(parts) <= 2:
            if method not in ("POST", "PUT"):
                raise EsApiError(405, f"method {method} not allowed for _bulk")
            default = parts[0] if len(parts) == 2 else None
            return self._bulk(default, params, ndjson)
        if parts == ["_msearch"]:
            if method not in ('POST',):
                raise EsApiError(405, f"method {method} not allowed for _msearch")
            return self._msearch(ndjson or [], params)
        if parts == ["_search", "scroll"]:
            # the reference route only accepts GET/POST
            # (`filter.rs:257-263` elastic_scroll_filter); DELETE must
            # not silently serve a page
            if method not in ("GET", "POST"):
                raise EsApiError(
                    405, f"method {method} not allowed for _search/scroll"
                )
            return self._scroll_page(params, body or {})
        if parts and parts[-1] == "_search" and len(parts) <= 2:
            if method not in ('GET', 'POST'):
                raise EsApiError(405, f"method {method} not allowed for _search")
            pattern = parts[0] if len(parts) == 2 else "*"
            names = self._resolve_es(pattern)
            if len(names) == 1:
                return self._search(self.indexes[names[0]], params, body or {})
            return self._search_many(names, params, body or {})
        if parts and parts[-1] == "_count" and len(parts) <= 2:
            if method not in ('GET', 'POST'):
                raise EsApiError(405, f"method {method} not allowed for _count")
            pattern = parts[0] if len(parts) == 2 else "*"
            names = self._resolve_es(pattern)
            if len(names) == 1:
                return self._count(self.indexes[names[0]], params, body or {})
            return self._count_many(names, params, body or {})
        if parts and parts[-1] == "_stats":
            if method not in ('GET',):
                raise EsApiError(405, f"method {method} not allowed for _stats")
            return self._stats(parts[0] if len(parts) > 1 else "*")
        if parts and parts[-1] == "_field_caps":
            if method not in ('GET', 'POST'):
                raise EsApiError(405, f"method {method} not allowed for _field_caps")
            pattern = parts[0] if len(parts) > 1 else "*"
            return self._field_caps(pattern, params)
        if parts[:2] == ["_cat", "indices"]:
            if method not in ('GET',):
                raise EsApiError(405, f"method {method} not allowed for _cat/indices")
            pattern = parts[2] if len(parts) > 2 else "*"
            return self._cat(pattern, params)
        if parts[:2] == ["_resolve", "index"]:
            if method not in ('GET',):
                raise EsApiError(405, f"method {method} not allowed for _resolve/index")
            return self._resolve_ep(parts[2] if len(parts) > 2 else "*")
        if parts == ["_cluster", "health"]:
            s = next(iter(self.indexes.values()))
            return s.es_cluster_health()
        raise EsApiError(400, f"unsupported endpoint {endpoint!r}")

    def _one(self, name: str):
        names = self._match(name)
        if not names:
            raise EsApiError(404, f"index {name!r} not found")
        return self.indexes[names[0]]

    def _resolve_es(self, pattern: str) -> list[str]:
        """ES multi-target resolution (the reference root's
        index-pattern semantics, exercised by its multi-indices
        scenarios): comma-separated terms, URL-encoded commas accepted,
        `-pattern` SUBTRACTS from the selection so far; a concrete
        (wildcard-free) name that doesn't exist is a 404, while a
        wildcard pattern matching nothing just contributes nothing."""
        import fnmatch
        from urllib.parse import unquote

        selected: list[str] = []
        for term in (t for t in unquote(pattern).split(",") if t):
            if term.startswith("-"):
                neg = term[1:]
                selected = [
                    n for n in selected if not fnmatch.fnmatchcase(n, neg)
                ]
            elif any(ch in term for ch in "*?["):
                selected += [
                    n
                    for n in sorted(self.indexes)
                    if fnmatch.fnmatchcase(n, term) and n not in selected
                ]
            else:
                if term not in self.indexes:
                    raise EsApiError(
                        404,
                        f"no such index [{term}]",
                        es_type="index_not_found_exception",
                    )
                if term not in selected:
                    selected.append(term)
        return sorted(selected)

    def _match(self, pattern: str) -> list[str]:
        import fnmatch

        return sorted(
            n
            for n in self.indexes
            if any(fnmatch.fnmatch(n, p) for p in pattern.split(","))
        )

    # ------------------------------------------------------------- ingest

    def _cluster_info(self) -> dict:
        """The `GET /` banner (`rest_handler.rs:79-89`): node + cluster
        ids and a version block with distribution "quickwit"."""
        from quickwit_spark import __version__

        return {
            "name": "quickwit-spark-node",
            "cluster_name": "quickwit-spark",
            "version": {
                "distribution": "quickwit",
                "number": __version__,
                "build_hash": "unknown",
                "build_date": "unknown",
            },
        }

    def _bulk(self, default_index: str | None, params: dict, ndjson) -> dict:
        if self.facade is None:
            raise EsApiError(
                501, "_bulk requires an index-management facade (QuickwitSpark)"
            )
        resp = self.facade.bulk(ndjson or [], default_index=default_index)
        # the handler's index map is a snapshot: bulk may have template-
        # auto-created indexes and invalidated ingested searchers —
        # rebuild from the facade so this handler stays a live view
        self.indexes = {
            n: self.facade.searcher(n) for n in self.facade.list_indexes()
        }
        return resp

    def _delete_index(self, pattern: str, params: dict) -> dict:
        """`DELETE /{index}` (`rest_handler.rs:541-553`): resolves the
        comma/wildcard pattern, 404s on missing concrete names unless
        `ignore_unavailable`, deletes every match, acknowledges."""
        if self.facade is None:
            raise EsApiError(
                501,
                "index deletion requires an index-management facade "
                "(QuickwitSpark)",
            )
        from urllib.parse import unquote

        ignore = str(params.get("ignore_unavailable", "false")).lower() == "true"
        if ignore:
            # URL-decode BEFORE splitting so an encoded-comma group
            # doesn't hide its resolvable names behind one missing one
            names: list[str] = []
            for term in unquote(pattern).split(","):
                try:
                    names += self._resolve_es(term)
                except EsApiError:
                    continue
            names = sorted(set(names))
        else:
            names = self._resolve_es(pattern)
        for n in names:
            self.facade.delete_index(n)
            self.indexes.pop(n, None)
        return {"acknowledged": True}

    # ------------------------------------------------------------- search

    # the exact reference `SearchBody` field set (`model/search_body.rs:
    # 64-97`, serde deny_unknown_fields): the last five are accepted but
    # ignored for OpenSearch-Dashboards compatibility. `aggregations` is
    # NOT an accepted alias of `aggs` in the reference — it 400s. The
    # body `_source` is honored as a column list here (the reference
    # ignores it), a strict superset.
    _SEARCH_BODY_FIELDS = frozenset(
        {
            "from", "size", "query", "sort", "aggs", "track_total_hits",
            "stored_fields", "search_after",
            "_source", "docvalue_fields", "script_fields", "highlight",
            "version",
        }
    )

    def _effective_body(self, params: dict, body: dict) -> dict:
        unknown = sorted(set(body) - self._SEARCH_BODY_FIELDS)
        if unknown:
            raise EsApiError(
                400,
                f"unknown field `{unknown[0]}`, expected one of "
                + ", ".join(f"`{f}`" for f in sorted(self._SEARCH_BODY_FIELDS)),
            )
        body = dict(body)
        # the `default_operator` param feeds the `q`/`extra_filters`
        # query strings (reference build_request_for_es_api,
        # `rest_handler.rs:310-341`; Or when absent)
        default_op = str(params.get("default_operator", "or")).lower()
        if default_op not in ("and", "or"):
            raise EsApiError(400, f"invalid default_operator {default_op!r}")
        if params.get("q"):
            # the query string param REPLACES the body query (reference
            # rest_handler: `q` wins)
            body["query"] = {
                "query_string": {
                    "query": params["q"],
                    "fields": [],
                    "default_operator": default_op,
                }
            }
        extra = _as_list(params.get("extra_filters"))
        if extra:
            base = body.get("query", {"match_all": {}})
            body["query"] = {
                "bool": {
                    "must": [base],
                    "filter": [
                        {
                            "query_string": {
                                "query": e,
                                "fields": [],
                                "default_operator": default_op,
                            }
                        }
                        for e in extra
                    ],
                }
            }
        def _uint(name: str, v) -> int:
            # the reference deserializes these as u64 — non-numeric or
            # negative values are a 400, never a raw ValueError/200
            try:
                n = int(v)
            except (TypeError, ValueError):
                raise EsApiError(400, f"failed to parse {name}: {v!r}")
            if n < 0:
                raise EsApiError(400, f"{name} must be >= 0, got {n}")
            return n

        if params.get("size") is not None:
            body["size"] = _uint("size", params["size"])
        if params.get("from") is not None:
            # URL param wins over the body value (reference:
            # `search_params.from.or(search_body.from)`)
            body["from"] = _uint("from", params["from"])
        if "size" in body:
            body["size"] = _uint("size", body["size"])
        if "from" in body:
            body["from"] = _uint("from", body["from"])
        if params.get("sort"):
            entries = []
            for ent in _as_list(params["sort"]):
                fld, _, order = ent.partition(":")
                entries.append({fld: {"order": order}} if order else fld)
            body["sort"] = entries
        if body.get("search_after"):
            # the wire cursor is values-only and must match the sort-key
            # count exactly (reference partial_hit_from_search_after_param,
            # `rest_handler.rs:421-434`); the library level additionally
            # accepts a doc_key tiebreak tail, which the wire rejects
            try:
                from quickwit_spark.search.engine import IndexSearcher

                sort_spec = body.get("sort")
                entries = (
                    IndexSearcher._es_sort_entries(sort_spec)
                    if sort_spec
                    else []
                )
                # count AFTER the reference's
                # take_while_inclusive(!is_doc_field) truncation
                # (`rest_handler.rs:371-385` runs before the length
                # check at :421-434): keys after `_doc`/`_shard_doc`
                # are dropped, so the cursor must not cover them
                n_sort = 0
                for fld, _opts in entries:
                    n_sort += 1
                    if fld in ("_doc", "_shard_doc"):
                        break
            except (ValueError, TypeError, KeyError) as e:
                raise EsApiError(400, str(e)) from e
            if len(body["search_after"]) != n_sort:
                raise EsApiError(
                    400, "sort and search_after are of different length"
                )
        if params.get("track_total_hits") is not None:
            # URL param wins over the body value (reference:
            # `search_params.track_total_hits.or(search_body...)`,
            # rest_handler.rs:360-362); accepts bool or count forms
            tth = params["track_total_hits"]
            if isinstance(tth, str):
                low = tth.strip().lower()
                if low in ("true", "false"):
                    tth = low == "true"
                else:
                    try:
                        tth = int(low)
                    except ValueError:
                        raise EsApiError(
                            400, f"failed to parse track_total_hits: {tth!r}"
                        )
            body["track_total_hits"] = tth
        return body

    def _src_filters(self, params: dict) -> tuple[list[str], list[str]]:
        return (
            _as_list(params.get("_source_includes")),
            _as_list(params.get("_source_excludes")),
        )

    def _apply_src_filters(self, resp: dict, inc, exc) -> dict:
        if inc or exc:
            for h in resp.get("hits", {}).get("hits", []):
                h["_source"] = _source_filter(h["_source"], inc, exc)
        return resp

    def _search(self, searcher, params: dict, body: dict) -> dict:
        if params.get("scroll"):
            try:
                return self._scroll_start(searcher, params, body)
            except EsApiError:
                raise
            except (ValueError, TypeError, KeyError, NotImplementedError) as e:
                raise EsApiError(400, str(e)) from e
        body = self._effective_body(params, body)
        inc, exc = self._src_filters(params)
        try:
            resp = searcher.es_search_response(body)
        except EsApiError:
            raise
        except (ValueError, TypeError, KeyError, NotImplementedError) as e:
            raise EsApiError(400, str(e)) from e
        return self._apply_src_filters(resp, inc, exc)

    def _count(self, searcher, params: dict, body: dict) -> dict:
        body = self._effective_body(params, body)
        try:
            return searcher.es_count(body)
        except (ValueError, TypeError, KeyError, NotImplementedError) as e:
            raise EsApiError(400, str(e)) from e

    # ---------------------------------------------- multi-index federation
    # the reference root fans a `_search` over every index the URL
    # pattern resolves to and merges per-index leaf responses without
    # score renormalization (`root.rs:162-168,561`); hits gain `_index`.

    @staticmethod
    def _empty_search_response(t0: float) -> dict:
        import time as _time

        return {
            "took": int((_time.perf_counter() - t0) * 1000),
            "timed_out": False,
            "_shards": _zero_shards(),
            "hits": {
                "total": {"value": 0, "relation": "eq"},
                "max_score": None,
                "hits": [],
            },
        }

    def _federation(self, names: list[str]):
        """The named indexes as one `MultiIndexSearcher`."""
        from quickwit_spark.search.multi import MultiIndexSearcher

        members = [(n, self.indexes[n]) for n in names]
        return MultiIndexSearcher(members[0][1].spark, members)

    def _search_many(self, names: list[str], params: dict, body: dict) -> dict:
        import time as _time

        if params.get("scroll"):
            try:
                return self._scroll_start_many(names, params, body)
            except EsApiError:
                raise
            except (ValueError, TypeError, KeyError, NotImplementedError) as e:
                raise EsApiError(400, str(e)) from e
        t0 = _time.perf_counter()
        if not names:
            return self._empty_search_response(t0)
        body = self._effective_body(params, body)
        inc, exc = self._src_filters(params)
        try:
            resp = self._federation(names).es_search_response(body)
        except EsApiError:
            raise
        except (ValueError, TypeError, KeyError, NotImplementedError) as e:
            raise EsApiError(400, str(e)) from e
        return self._apply_src_filters(resp, inc, exc)

    def _count_many(self, names: list[str], params: dict, body: dict) -> dict:
        from concurrent.futures import ThreadPoolExecutor

        body = self._effective_body(params, body)
        try:
            with ThreadPoolExecutor(max_workers=min(8, max(len(names), 1))) as ex:
                counts = list(
                    ex.map(lambda n: int(self.indexes[n].es_count(body)["count"]), names)
                )
        except (ValueError, TypeError, KeyError, NotImplementedError) as e:
            raise EsApiError(400, str(e)) from e
        return {"count": sum(counts)}

    def _msearch(self, ndjson: list, params: dict) -> dict:
        if len(ndjson) % 2:
            raise EsApiError(400, "uneven _msearch header/body lines")
        out = []
        for i in range(0, len(ndjson), 2):
            header, body = ndjson[i], ndjson[i + 1]
            name = header.get("index")
            if not name:
                # whole-request failure, like the reference
                # (`rest_handler.rs:822-824`)
                raise EsApiError(
                    400,
                    "`_msearch` request header must define at least one index",
                )
            if isinstance(name, list):
                name = ",".join(name)
            try:
                names = self._resolve_es(name)
                if len(names) == 1:
                    item = self._search(self.indexes[names[0]], params, body)
                else:
                    item = self._search_many(names, params, body)
                # every msearch item carries `status` (200 flattened
                # with the response, reference MultiSearchSingleResponse,
                # `model/multi_search.rs:109-129`)
                out.append({"status": 200, **item})
            except EsApiError as e:
                out.append(e.response())
        return {"responses": out}

    # ------------------------------------------------------------- scroll

    def _scroll_members(self, members: list[tuple], params: dict, body: dict):
        """What a single-index and a federated scroll start share: the
        validated effective body and one ScrollContext, with its own
        cursor, per [(name, searcher)] member. → (body, [(name,
        ScrollContext)], total hits, sort value format, the contexts'
        paging options)."""
        from quickwit_spark.search.scroll import ScrollContext

        self._scroll_validate(params)
        body = self._effective_body(params, body)
        sort_spec = body.get("sort")
        sort_field, desc, fmt = None, True, None
        if members and sort_spec and not members[0][1]._is_score_sort(sort_spec):
            specs = members[0][1]._parse_es_sort_full(sort_spec)
            if len(specs) != 1:
                raise EsApiError(400, "scroll supports a single sort key")
            sort_field, desc, fmt = specs[0]
        opts = {
            "page_size": int(body.get("size", 10)),
            "sort_field": sort_field,
            "descending": desc,
        }
        ctxs, total = [], 0
        for n, s in members:
            fetch = list(body.get("_source") or [])
            if not fetch and s.config.stored_source:
                fetch = [s.config.stored_source]
            ast = s._es_ast(body)
            ctxs.append((n, ScrollContext(s, ast, fetch=fetch, **opts)))
            total += s.count(ast)
        return body, ctxs, total, fmt, opts

    def _scroll_open(self, state: dict, params: dict, body: dict) -> dict:
        """Register a started scroll (`state` holds its context) and
        answer its first page."""
        from quickwit_spark.search.scroll import create_scroll

        ctx = state["ctx"]
        create_scroll(ctx)
        inc, exc = self._src_filters(params)
        state.update(inc=inc, exc=exc, explicit_src=list(body.get("_source") or []))
        self._purge_scrolls()
        self._touch_scroll_state(state, _parse_ttl_secs(params["scroll"]))
        self._scrolls[ctx.scroll_id] = state
        return self._scroll_response(state)

    def _scroll_start(self, searcher, params: dict, body: dict) -> dict:
        from quickwit_spark.search.es_aggs import shape_es_agg

        body, ctxs, total, fmt, _ = self._scroll_members(
            [(None, searcher)], params, body
        )
        aggs = None
        agg_body = body.get("aggs") or body.get("aggregations")
        if agg_body:
            raw = searcher.es_search({**body, "size": 0})
            aggs = {
                name: shape_es_agg(agg_body[name], df)
                for name, df in (raw.get("aggregations") or {}).items()
            }
        state = {
            "ctx": ctxs[0][1],
            "searcher": searcher,
            "total": total,
            "aggs": aggs,
            "fmt": fmt,
            "shards": searcher._shards_stats(),
        }
        return self._scroll_open(state, params, body)

    def _scroll_start_many(
        self, names: list[str], params: dict, body: dict
    ) -> dict:
        """Federated scroll start: one per-member ScrollContext each
        with its own cursor, merged by `FederatedScrollContext`."""
        from quickwit_spark.search.multi import _sum_shards
        from quickwit_spark.search.scroll import FederatedScrollContext

        members = [(n, self.indexes[n]) for n in names]
        body, ctxs, total, fmt, opts = self._scroll_members(members, params, body)
        has_aggs = bool(body.get("aggs") or body.get("aggregations"))
        state = {
            "ctx": FederatedScrollContext(ctxs, **opts),
            "searcher": None,
            "members": dict(members),
            "total": total,
            "aggs": (
                self._federation(names)._shaped_aggs(body)
                if has_aggs and names
                else None
            ),
            "fmt": fmt,
            "shards": _sum_shards([s._shards_stats() for _, s in members]),
        }
        return self._scroll_open(state, params, body)

    @staticmethod
    def _scroll_validate(params: dict) -> None:
        """Shared scroll-start request validation (single + federated)."""
        if str(params.get("allow_partial_search_results", "true")).lower() == "false":
            raise EsApiError(
                400,
                "Invalid argument: Quickwit only supports scroll API with "
                "allow_partial_search_results set to true",
            )
        ttl = _parse_ttl_secs(params["scroll"])
        if ttl > MAX_SCROLL_TTL_SECS:
            raise EsApiError(
                400,
                "Invalid argument: Quickwit only supports scroll TTL period "
                f"up to {MAX_SCROLL_TTL_SECS} secs",
            )

    def _purge_scrolls(self) -> None:
        """TTL eviction (reference scroll_context.rs evicts from its
        KV by TTL): clients routinely abandon scrolls without DELETE,
        so the state dict must not grow for the process lifetime."""
        import time as _time

        now = _time.monotonic()
        for sid in [
            k for k, st in self._scrolls.items()
            if st.get("deadline", now) < now
        ]:
            del self._scrolls[sid]

    def _touch_scroll_state(self, state: dict, ttl: int | None) -> None:
        import time as _time

        from quickwit_spark.search.scroll import DEFAULT_SCROLL_TTL_SECS

        state["deadline"] = _time.monotonic() + (
            ttl or DEFAULT_SCROLL_TTL_SECS
        )

    def _scroll_page(self, params: dict, body: dict) -> dict:
        sid = body.get("scroll_id") or params.get("scroll_id")
        ttl = None
        if params.get("scroll"):
            ttl = _parse_ttl_secs(params["scroll"])
            if ttl > MAX_SCROLL_TTL_SECS:
                raise EsApiError(
                    400,
                    "Invalid argument: Quickwit only supports scroll TTL "
                    f"period up to {MAX_SCROLL_TTL_SECS} secs",
                )
        self._purge_scrolls()
        state = self._scrolls.get(sid)
        if state is None:
            raise EsApiError(404, f"scroll id {sid!r} not found")
        # every scroll request restarts the TTL (ES semantics)
        self._touch_scroll_state(state, ttl)
        return self._scroll_response(state, include_aggs=False)

    def _scroll_response(self, state: dict, include_aggs: bool = True) -> dict:
        from quickwit_spark.search.engine import _es_sort_value

        ctx, searcher = state["ctx"], state["searcher"]
        members = state.get("members") or {}
        rows = ctx.next_page()
        hits = []
        for r in rows:
            d = r.asDict()
            # federated rows carry `_index`; source column per member
            row_searcher = members.get(d.get("_index"), searcher)
            src_col = (
                row_searcher.config.stored_source if row_searcher else None
            )
            if state["explicit_src"]:
                src = {c: d.get(c) for c in state["explicit_src"]}
            elif src_col and src_col in d:
                src = row_searcher.load_stored_source(
                    d[src_col], segment_id=d.get("segment_id")
                )
            else:
                src = {}
            src = _source_filter(src, state["inc"], state["exc"])
            hit = {
                "_id": str(d["doc_key"]),
                "_score": d.get("score"),
                "_source": src,
            }
            if d.get("_index") is not None:
                hit["_index"] = d["_index"]
            if "sort_value" in d:
                hit["sort"] = [_es_sort_value(d["sort_value"], state["fmt"])]
            hits.append(hit)
        out = {
            "_scroll_id": ctx.scroll_id,
            "timed_out": False,
            "_shards": state.get("shards") or _zero_shards(),
            "hits": {
                "total": {"value": state["total"], "relation": "eq"},
                "max_score": None,
                "hits": hits,
            },
        }
        if include_aggs and state["aggs"] is not None:
            out["aggregations"] = state["aggs"]
        return out

    def _field_caps(self, pattern: str, params: dict) -> dict:
        """`_field_caps`: exact index names must ALL resolve (404
        otherwise); wildcard parts contribute whatever they match."""
        import fnmatch

        from quickwit_spark.search.field_caps import (
            index_field_caps,
            merge_field_caps,
        )

        names: set = set()
        for part in pattern.split(","):
            matched = [n for n in self.indexes if fnmatch.fnmatch(n, part)]
            if not matched and not any(ch in part for ch in "*?"):
                raise EsApiError(404, f"index {part!r} not found")
            names.update(matched)
        if not names:
            # a pure-wildcard pattern matching nothing is an empty 200
            # (ES semantics; only unmatched EXACT names 404)
            return {"indices": [], "fields": {}}
        lo = params.get("start_timestamp")
        hi = params.get("end_timestamp")
        tr = None
        if lo is not None or hi is not None:
            tr = (
                int(lo) * 1_000_000 if lo is not None else None,
                int(hi) * 1_000_000 if hi is not None else None,
            )
        fields_filter = _as_list(params.get("fields")) or None
        per = {n: index_field_caps(self.indexes[n], tr) for n in sorted(names)}
        return merge_field_caps(per, fields_filter)

    # -------------------------------------------------------------- admin

    def _stats(self, pattern: str) -> dict:
        names = self._match(pattern)
        if not names:
            raise EsApiError(404, f"no index matches {pattern!r}")
        all_docs = 0
        all_bytes = 0
        all_segs = 0
        indices = {}
        for n in names:
            st = self.indexes[n].es_stats()
            sec = st["_all"]
            indices[n] = sec
            all_docs += sec["primaries"]["docs"]["count"]
            all_bytes += sec["primaries"]["store"]["size_in_bytes"]
            all_segs += sec["total"]["segments"]["count"]
        agg = {
            "primaries": {
                "docs": {"count": all_docs, "deleted": 0},
                "store": {"size_in_bytes": all_bytes},
            },
            "total": {
                "docs": {"count": all_docs, "deleted": 0},
                "store": {"size_in_bytes": all_bytes},
                "segments": {"count": all_segs},
            },
        }
        return {"_all": agg, "indices": indices}

    def _cat(self, pattern: str, params: dict) -> list:
        if params.get("format") != "json":
            raise EsApiError(400, "only format=json is supported")
        unknown = set(params) - {"format", "h"}
        if unknown:
            raise EsApiError(
                400, f"unsupported _cat parameters: {sorted(unknown)}"
            )
        fields = _as_list(params.get("h"))
        rows = []
        for n in self._match(pattern):
            for row in self.indexes[n].es_cat_indices(fields or None):
                # the searcher only knows its directory; the wire layer
                # owns the logical index name
                for k in ("index", "uuid"):
                    if k in row:
                        row[k] = n
                rows.append(row)
        return rows

    def _resolve_ep(self, pattern: str) -> dict:
        indices = [
            {"name": n, "attributes": ["open"]} for n in self._match(pattern)
        ]
        return {"indices": indices, "aliases": [], "data_streams": []}
