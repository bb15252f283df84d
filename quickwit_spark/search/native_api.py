"""Native search REST surface — `GET {index}/search` without HTTP.

The reference's own (non-ES) search API
(`quickwit-serve/src/search_api/rest_handler.rs`: SearchRequestQueryString
→ SearchResponseRest) drives a query-string query with time-range
params and returns `{num_hits, hits: [docs], elapsed_time_micros,
errors}`. This adapter maps those params onto the engine (the full
SearchRequestQueryString surface, `rest_handler.rs:175-241`, which is
`deny_unknown_fields` — unrecognized params are a 400):

  - `query`  — quickwit query-string syntax (default `*`)
  - `search_field` — comma list (or list) overriding the default
    search fields the query-string parser resolves bare clauses against
  - `snippet_fields` — comma list (or list); adds the reference's
    `snippets` response array, one `{field: [fragment]}` object per hit
    (`search_response_rest.rs:44-95`; empty list when the field has no
    highlight, like the reference's empty snippet object)
  - `aggs` — tantivy-style aggregation request (dict or JSON string);
    shaped results under `aggregations`
  - `start_timestamp` / `end_timestamp` — epoch SECONDS, [start, end)
    against the index's timestamp field (manifest pruning included)
  - `max_hits` (default 20), `start_offset`
  - `sort_by` (alias `sort_by_field`) — comma list; bare name sorts
    DESCENDING (the reference default), `+` prefix flips to ascending,
    `_score` ranks by BM25 (`docs/internals/sorting.md:8-25`)
  - `count_all` — `true` (default) exact counting, `false` lets the
    engine underestimate past `max_hits` (CountHits::Underestimate)
  - `format` — `json` | `pretty_json` (validated; serialization style
    is the HTTP layer's concern so both return the same dict)
  - `allow_failed_splits` — accepted; a single-session Spark job has no
    partial-split failure mode to tolerate, so it never changes results

Hit payloads are the stored source JSON when the index keeps one,
else the docmap row of stored columns. The response carries
`elapsed_time_micros` like the reference envelope.
"""

from __future__ import annotations

import json
import time

from quickwit_spark.search.engine import _count_up_to_batches

_KNOWN_PARAMS = {
    "query", "aggs", "search_field", "snippet_fields",
    "start_timestamp", "end_timestamp", "max_hits", "start_offset",
    "format", "sort_by", "sort_by_field", "count_all",
    "allow_failed_splits",
}


def _uint_param(params: dict, name: str, default: int) -> int:
    """u64-style parse: non-negative integer or a ValueError the API
    layer maps to a 400 (the reference's serde u64 rejects the rest)."""
    v = params.get(name, default)
    if isinstance(v, bool) or (
        not isinstance(v, int) and not (isinstance(v, str) and v.isdigit())
    ):
        raise ValueError(f"`{name}` expects a non-negative integer, got {v!r}")
    n = int(v)
    if n < 0:
        raise ValueError(f"`{name}` expects a non-negative integer, got {v!r}")
    return n


def _as_field_list(v) -> list[str]:
    if isinstance(v, str):
        return [p.strip() for p in v.split(",") if p.strip()]
    return [str(p) for p in (v or [])]


def _time_range(params: dict):
    lo = params.get("start_timestamp")
    hi = params.get("end_timestamp")
    if lo is None and hi is None:
        return None
    to_us = lambda v: int(v) * 1_000_000 if v is not None else None  # noqa: E731
    return (to_us(lo), to_us(hi))


def _sort_specs(sort_by: str) -> list[tuple]:
    specs = []
    for part in str(sort_by).split(","):
        part = part.strip()
        if not part:
            continue
        desc = True
        if part.startswith("+"):
            desc, part = False, part[1:]
        elif part.startswith("-"):
            # '-' makes the direction explicit descending (reference
            # sort_by grammar: descending is already the default)
            part = part[1:]
        specs.append((part, desc))
    return specs


def _doc_payload(row_dict: dict, searcher) -> dict:
    src_col = searcher.config.stored_source
    if src_col and row_dict.get(src_col) is not None:
        return searcher.load_stored_source(
            row_dict[src_col], segment_id=row_dict.get("segment_id")
        )
    drop = {"segment_id", "doc_id", "doc_key", "score", "rank",
            "sort_value", "sort_value2", src_col}
    return {k: v for k, v in row_dict.items() if k not in drop}


def _timestamp_field(searcher) -> str | None:
    """Dot path of the index's timestamp field (field_options entry
    whose physical column is the configured time column)."""
    tc = searcher.config.time_column
    if tc is None:
        return None
    for path, opt in (searcher.config.field_options or {}).items():
        if (opt or {}).get("column", path) == tc:
            return path
    return tc


def native_search(searcher, params: dict) -> dict:
    """One `{index}/search` request → response dict."""
    t_start = time.perf_counter()
    unknown = sorted(set(params) - _KNOWN_PARAMS)
    if unknown:
        # the reference request struct is serde(deny_unknown_fields) —
        # a typo'd parameter is a 400, not silently ignored
        raise ValueError(f"unknown search parameter(s): {', '.join(unknown)}")
    fmt = params.get("format", "pretty_json")
    if fmt not in ("json", "pretty_json"):
        raise ValueError(f"invalid format {fmt!r} (json | pretty_json)")
    query = params.get("query") or "*"
    search_fields = _as_field_list(params.get("search_field"))
    snippet_fields = _as_field_list(params.get("snippet_fields"))
    time_range = _time_range(params)
    if isinstance(query, str) and (search_fields or time_range is not None):
        from quickwit_spark.query.parser import parse_query

        query = parse_query(
            query,
            search_fields or [f.name for f in searcher.config.fields],
            position_fields={
                f.name
                for f in searcher.config.fields
                if f.record == "position"
            },
        )
    if time_range is not None:
        # [start, end) doc-level filter on the timestamp field (the
        # manifest time pruning alone is segment-granular); reference
        # start/end params are epoch seconds, end exclusive
        from quickwit_spark.query.ast import Bool, Range

        tf = _timestamp_field(searcher)
        lo, hi = time_range
        kw = {}
        if lo is not None:
            kw["gte"] = int(lo // 1_000_000)
        if hi is not None:
            kw["lt"] = int(hi // 1_000_000)
        query = Bool(must=[query], filter=[Range(tf, **kw)])
    # the reference deserializes both as u64 (`rest_handler.rs:213-221`)
    # — a negative or non-integer value is a 400, never Python
    # negative-slice paging
    max_hits = _uint_param(params, "max_hits", 20)
    start_offset = _uint_param(params, "start_offset", 0)
    count_all = str(params.get("count_all", "true")).lower() != "false"
    resolved = searcher._resolve(query, time_range)
    k = start_offset + max_hits

    # a score-sorted page takes its hits AND its count from one top-k
    # pass (`_topk`'s per-segment num_hits); field-sorted and
    # max_hits=0 requests count through `count`
    rows = []
    counts = None
    raw_only: set = set()
    if max_hits > 0:
        sort_by = params.get("sort_by") or params.get("sort_by_field")
        fetch = (
            [searcher.config.stored_source]
            if searcher.config.stored_source
            else None
        )
        fetch_cols, raw_cols = searcher._hit_cols(fetch, snippet_fields)
        raw_only = set(raw_cols) - set(fetch_cols)
        if sort_by and "_score" not in str(sort_by):
            rows = [
                r.asDict()
                for r in searcher.sort_by_field(
                    query, _sort_specs(sort_by), k=k, fetch=raw_cols,
                    tie_by_key=True, _resolved=resolved,
                ).collect()
            ]
        else:
            rows, counts = searcher._topk(resolved, k, cols=raw_cols)
        rows = rows[start_offset:]
        searcher._add_snippets(resolved[0], rows, snippet_fields)
    if counts is not None:
        count_of = lambda segs: sum(counts.get(s, 0) for s in segs)  # noqa: E731
    else:
        count_of = lambda segs: searcher.count(  # noqa: E731
            None, segments=segs, _resolved=resolved
        )
    if count_all:
        num_hits = count_of(resolved[2])
    else:
        num_hits, _exact = _count_up_to_batches(resolved[2], k, count_of)
    # the payload leaves out the snippets and the snippet sources the
    # request did not fetch
    drop = raw_only | {f"snippet_{f}" for f in snippet_fields}
    hits = [
        _doc_payload({c: v for c, v in r.items() if c not in drop}, searcher)
        for r in rows
    ]
    out = {"num_hits": num_hits, "hits": hits, "errors": []}
    if snippet_fields and rows:
        # reference shape (`search_response_rest.rs:70-95`): one object
        # per hit, field → list of highlighted fragments (empty when
        # the field has no matching window)
        out["snippets"] = [
            {
                f: ([r[f"snippet_{f}"]] if r[f"snippet_{f}"] else [])
                for f in snippet_fields
            }
            for r in rows
        ]
    aggs_param = params.get("aggs")
    if aggs_param:
        out["aggregations"] = _run_native_aggs(searcher, resolved, aggs_param)
    out["elapsed_time_micros"] = int((time.perf_counter() - t_start) * 1e6)
    return out


def native_search_plan(searcher, params: dict) -> dict:
    """`{index}/search-plan` (reference `rest_handler.rs:341-366` +
    SearchPlanResponseRest, `search_response_rest.rs:117-131`): how the
    request WOULD execute, without running it. Accepts the same
    SearchRequestQueryString surface as `/search` (deny-unknown-fields
    included) and returns the reference's response keys — `quickwit_ast`
    (parsed query AST), `tantivy_ast` (the engine-resolved filter form),
    `searched_splits`, `storage_requests` (per-kind scan counts) — plus
    this engine's own plan evidence (`warmup_terms`, `num_docs_searched`,
    the leaf `transport`, and `spark_plan`: the physical plans Catalyst
    picked, or the driver transport's pyarrow reads)."""
    unknown = sorted(set(params) - _KNOWN_PARAMS)
    if unknown:
        raise ValueError(f"unknown search parameter(s): {', '.join(unknown)}")
    query = params.get("query") or "*"
    search_fields = _as_field_list(params.get("search_field"))
    time_range = _time_range(params)
    if isinstance(query, str) and search_fields:
        from quickwit_spark.query.parser import parse_query

        query = parse_query(
            query,
            search_fields,
            position_fields={
                f.name for f in searcher.config.fields if f.record == "position"
            },
        )
    max_hits = _uint_param(params, "max_hits", 20)
    plan = searcher.search_plan(
        query, time_range=time_range, k=max(max_hits, 1)
    )
    searched = plan["segments_searched"]
    # per-split request counts, reference StorageRequestCount semantics
    # mapped onto this engine's artifacts: one manifest read ("footer"),
    # one postings scan per warm term ("sstable"), one docmap/fast-field
    # scan ("fastfield"), norms ride with postings ("fieldnorm")
    n = len(searched)
    return {
        "quickwit_ast": plan["query_ast"],
        "tantivy_ast": " AND ".join(
            x
            for x in (plan.get("fast_filter"), plan.get("tag_filter"))
            if x
        )
        or plan["query_ast"],
        "searched_splits": searched,
        "storage_requests": {
            "footer": n,
            "fastfield": n,
            "fieldnorm": n,
            "sstable": n * max(len(plan.get("warmup_terms") or []), 1),
            "posting": n * max(len(plan.get("warmup_terms") or []), 1),
            "position": 0,
        },
        "segments_pruned": plan["segments_pruned"],
        "num_docs_searched": plan["num_docs_searched"],
        "warmup_terms": plan["warmup_terms"],
        "transport": plan["transport"],
        "spark_plan": plan["spark_plan"],
    }


def _run_native_aggs(searcher, resolved, aggs_param) -> dict:
    """The `aggs` query parameter (tantivy aggregation JSON): run over
    the full match set and shape like the reference response."""
    from quickwit_spark.search.es_aggs import run_es_aggs, shape_es_agg

    agg_body = (
        json.loads(aggs_param) if isinstance(aggs_param, str) else aggs_param
    )
    if not isinstance(agg_body, dict):
        raise ValueError("aggs must be a JSON object")
    raw = run_es_aggs(*searcher._agg_input(agg_body, resolved))
    # shape with the ORIGINAL spec (dot-path field names), like the ES
    # envelope does — the lowered body renames dynamic-path columns
    return {
        name: shape_es_agg(agg_body[name], df) for name, df in raw.items()
    }
