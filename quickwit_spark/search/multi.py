"""Multi-index search — the reference's index-pattern fan-out.

The reference's root search accepts several indexes per request (ES
`_search` on `idx-a,logs-*`; index-pattern resolution and the
per-index leaf-search metadata map at
`quickwit-search/src/root.rs:162-168,561`), runs leaf searches per
index, and merges partial hits WITHOUT score renormalization — BM25
statistics stay per-split, exactly like the single-index case.

This module is the one federation path: `MultiIndexSearcher`, the ES
wire's multi-index `_search` and the federated scroll all run on it.

- Hits: each member runs its own single-index search (its `_topk`
  rows, its driver hit rows, or its ES `_search` response) for its
  top from+size, and the rows meet on the driver in a k-way merge
  (`_merge_hits`): members' rows order by their sort values, each in
  its key's direction with missing values last, then by `_index`; a
  member's own rows keep the engine's order, ties on the sort values
  broken by doc key in the first key's direction. That is the order of
  a single-index search, extended by `_index`, so the merge streams
  and `from` pages correctly. No Spark job runs for the merge.
- Aggregations: one distributed agg plan over the federated frame
  (`MultiIndexSearcher._frame`) — each member's match frame with every
  agg field resolved against that member's own mapping, aligned by
  reference position and cast to one voted type.
"""

from __future__ import annotations

import fnmatch
import functools
import heapq
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from quickwit_spark.search.engine import IndexSearcher, _es_uint, qcol, rows_frame
from quickwit_spark.search.es_wire import _zero_shards


def resolve_index_patterns(root_dir: str, patterns) -> list[str]:
    """Expand comma-separated index patterns (`idx-a,logs-*`) against
    the subdirectories of `root_dir` that hold an index manifest —
    the ES index-pattern resolution analog. Deterministic (sorted)."""
    if isinstance(patterns, str):
        patterns = [p.strip() for p in patterns.split(",") if p.strip()]
    names = sorted(
        d
        for d in os.listdir(root_dir)
        if os.path.isdir(os.path.join(root_dir, d, "_manifest"))
    )
    out = []
    for name in names:
        if any(fnmatch.fnmatch(name, p) for p in patterns):
            out.append(os.path.join(root_dir, name))
    return out


def _cmp(a: tuple, b: tuple, descs) -> int:
    """The federated order of two hits of different members, each given
    as (sort values, member name): each value in its key's direction
    (`descs`) with missing values last either way, values of different
    types compared portably (type name, then text), then the member
    name."""
    for va, vb, desc in zip(a[0], b[0], descs):
        if (va is None) != (vb is None):
            return -1 if vb is None else 1
        if va is None or va == vb:
            continue
        try:
            lt = va < vb
        except TypeError:
            lt = (type(va).__name__, str(va)) < (type(vb).__name__, str(vb))
        return (1 if lt else -1) if desc else (-1 if lt else 1)
    return (a[1] > b[1]) - (a[1] < b[1])


def _merge_hits(parts, values, descs) -> list[dict]:
    """The members' hit rows in the federated order: a k-way merge of
    `parts`, [(member name, rows in the member's own order)], by `_cmp`
    over `(values(row), member name)`; each row gains `_index`. A
    member's rows keep their order, which is the engine's (rows tied on
    every sort value by doc key, in the first key's direction), so the
    first n merged rows come from each member's first n."""
    order = functools.cmp_to_key(lambda a, b: _cmp(a, b, descs))
    streams = [[dict(h, _index=name) for h in hits] for name, hits in parts]
    return list(heapq.merge(*streams, key=lambda h: order((values(h), h["_index"]))))


def _field_sort_descs(body: dict) -> list[bool] | None:
    """The per-key directions of an ES body's field sort (True =
    descending), or None when it sorts by score."""
    sort_spec = body.get("sort")
    if not sort_spec or IndexSearcher._is_score_sort(sort_spec):
        return None
    return [d for _, d in IndexSearcher._parse_es_sort(sort_spec)]


def _sum_shards(stats: list[dict]) -> dict:
    """Accumulate per-index `_shards` stats into one envelope."""
    out = _zero_shards()
    for st in stats:
        for k in ("total", "successful", "skipped", "failed"):
            out[k] += (st or {}).get(k, 0)
    return out


def _field_walk(node: dict, fn) -> dict:
    """Rewrite every {"field": ...} leaf of an agg body in deterministic
    traversal order; fn(old_field) -> new_field."""
    out = {}
    for name, spec in node.items():
        out[name] = {}
        for k, v in spec.items():
            if k in ("aggs", "aggregations"):
                out[name][k] = _field_walk(v, fn)
            elif isinstance(v, dict) and "field" in v:
                out[name][k] = {**v, "field": fn(v["field"])}
            else:
                out[name][k] = v
    return out


def _numeric(dt: str) -> bool:
    return dt in (
        "bigint", "int", "smallint", "tinyint", "double", "float"
    ) or dt.startswith("decimal")


def _vote(dtypes) -> str:
    """One column type from the members that have the column (Spark
    type names; None = absent): equal types keep, all-numeric widens to
    double, anything else is string — never let a cast fail on real
    values. A column no member has is double (all null)."""
    votes = {d for d in dtypes if d is not None}
    if not votes:
        return "double"
    if len(votes) == 1:
        return votes.pop()
    return "double" if all(_numeric(v) for v in votes) else "string"


class MultiIndexSearcher:
    """Federated searcher over several indexes (same or different
    configs), held as (name, IndexSearcher) pairs; a hit's `_index` is
    its member's name. Scores are each index's own BM25 (per-split
    statistics, no renormalization — reference semantics)."""

    def __init__(self, spark: SparkSession, members: list[tuple]):
        if not members:
            raise ValueError("no index matched the given patterns")
        self.spark = spark
        self.searchers = list(members)

    @classmethod
    def resolve(cls, spark: SparkSession, root_dir: str, patterns="*"):
        """The indexes under `root_dir` that match `patterns`, each named
        by its directory basename."""
        return cls(
            spark,
            [
                (os.path.basename(d), IndexSearcher(spark, d))
                for d in resolve_index_patterns(root_dir, patterns)
            ],
        )

    def refresh(self) -> None:
        for _, s in self.searchers:
            s.refresh()

    def count(self, query, time_range=None) -> int:
        return sum(s.count(query, time_range=time_range) for _, s in self.searchers)

    # ------------------------------------------------------------- hits

    def _hits_frame(self, hits: list[dict], schemas) -> DataFrame:
        """Merged hit rows as one DataFrame: the columns of the members'
        hit `schemas` (each once, first seen first, `rank` left out),
        then `_index` and the federated `rank`. A column whose type
        differs across the members takes the type `_vote` picks."""
        types: dict[str, list] = {}
        for sch in schemas:
            for f in sch.fields:
                if f.name != "rank":
                    types.setdefault(f.name, []).append(f.dataType)
        fields, conv = [], {}
        for c, dts in types.items():
            t = dts[0]
            if len(set(dts)) > 1:
                voted = _vote(d.simpleString() for d in dts)
                t = T.DoubleType() if voted == "double" else T.StringType()
                conv[c] = float if voted == "double" else str
            fields.append(T.StructField(c, t))
        schema = T.StructType(
            [
                *fields,
                T.StructField("_index", T.StringType()),
                T.StructField("rank", T.IntegerType()),
            ]
        )
        rows = [
            {
                **h,
                **{c: f(h[c]) for c, f in conv.items() if h.get(c) is not None},
                "rank": r,
            }
            for r, h in enumerate(hits, 1)
        ]
        return rows_frame(self.spark, rows, schema)

    def search(
        self,
        query,
        k: int = 10,
        mode: str = "parity",
        time_range=None,
        fetch: list[str] | None = None,
    ) -> DataFrame:
        """Global top-k across all member indexes: each member's `_topk`
        rows, merged on the driver in the federated order and cut to k,
        as one DataFrame (doc_key, score, *fetch[, segment_id], _index,
        rank)."""
        parts, schemas = [], []
        for name, s in self.searchers:
            cols = s._fetch_cols(fetch)
            rows = s._topk(s._resolve(query, time_range), k, mode, cols=cols)[0]
            parts.append((name, rows))
            schemas.append(s._hits_schema(cols))
        hits = _merge_hits(parts, lambda h: (h["score"],), (True,))
        return self._hits_frame(hits[: max(k, 0)], schemas)

    def _fan_out(self, body: dict, answer) -> tuple[int, int, list]:
        """Each member's `answer(searcher, member body)`, concurrently
        (the reference root fans out its leaf searches in parallel). The
        member body has no aggregations (they run once, over the
        federated frame) and no `from`: each member answers for its own
        top from+size, and `from` applies after the merge, like the
        reference root's start_offset. → (from, size, answers)."""
        from concurrent.futures import ThreadPoolExecutor

        start = _es_uint(body, "from", 0)
        size = _es_uint(body, "size", 10)
        member_body = {
            k: v
            for k, v in body.items()
            if k not in ("aggs", "aggregations", "from")
        }
        member_body["size"] = start + size
        with ThreadPoolExecutor(max_workers=min(8, len(self.searchers))) as ex:
            answers = list(
                ex.map(lambda m: answer(m[1], member_body), self.searchers)
            )
        return start, size, answers

    def es_search_response(self, body: dict, mode: str = "parity") -> dict:
        """ES `_search` wire envelope across the members (the reference's
        ES handler accepts index patterns in the URL). Each member
        answers with its own `es_search_response`; the hits merge in the
        federated order and carry `_index`, totals add up (`gte` if any
        member's is), `max_score` is the best member's, `_shards` sum,
        and aggregations run once over the federated frame. The query
        resolves against EACH member's own mapping, like the reference's
        per-index doc-mapper resolution."""
        import time

        t0 = time.perf_counter()
        start, size, resps = self._fan_out(
            body, lambda s, b: s.es_search_response(b, mode)
        )
        parts = [
            (name, r["hits"]["hits"])
            for (name, _), r in zip(self.searchers, resps)
        ]
        descs = _field_sort_descs(body)
        if descs:
            hits = _merge_hits(parts, lambda h: h["sort"], descs)
        else:
            hits = _merge_hits(parts, lambda h: (h["_score"],), (True,))
        totals = [r["hits"]["total"] for r in resps]
        scores = [
            r["hits"]["max_score"]
            for r in resps
            if r["hits"]["max_score"] is not None
        ]
        aggs = self._shaped_aggs(body)
        out = {
            "took": int((time.perf_counter() - t0) * 1000),
            "timed_out": False,
            "_shards": _sum_shards([r.get("_shards") for r in resps]),
            "hits": {
                "total": {
                    "value": sum(t["value"] for t in totals),
                    "relation": next(
                        (t["relation"] for t in totals if t["relation"] != "eq"),
                        "eq",
                    ),
                },
                "max_score": max(scores, default=None),
                "hits": hits[start : start + size],
            },
        }
        if aggs is not None:
            out["aggregations"] = aggs
        return out

    def es_search(self, body: dict, mode: str = "parity") -> dict:
        """ES `_search` across the members as frames: {"hits": DataFrame
        (doc_key, score — or sort_value[, sort_value2] for a field sort
        —, *`_source` columns, _index, rank; absent when size is 0),
        "total": the exact hit count, "aggregations": {name:
        DataFrame}}. Each member answers with its own driver hit rows
        (no `_source` reads no doc column), which merge like
        `es_search_response`'s hits."""
        fetch = list(body.get("_source") or [])

        def answer(s, b):
            out, resolved, counts = s._es_search(b, mode, driver_rows=True, fetch=fetch)
            hits = out.get("hits")
            if isinstance(hits, list):
                schema = s._hits_schema(s._fetch_cols(fetch))
            elif hits is not None:
                schema, hits = hits.schema, [r.asDict() for r in hits.collect()]
            else:
                schema = None
            total = (
                sum(counts.get(g, 0) for g in resolved[2])
                if counts is not None
                else s.count(None, _resolved=resolved)
            )
            return hits, schema, total, resolved

        start, size, answers = self._fan_out(body, answer)
        out: dict = {"total": sum(a[2] for a in answers)}
        if size > 0:
            parts = [
                (name, a[0]) for (name, _), a in zip(self.searchers, answers)
            ]
            descs = _field_sort_descs(body)
            if descs:
                aliases = ("sort_value", "sort_value2")[: len(descs)]
                hits = _merge_hits(
                    parts, lambda h: tuple(h[c] for c in aliases), descs
                )
            else:
                hits = _merge_hits(parts, lambda h: (h["score"],), (True,))
            out["hits"] = self._hits_frame(
                hits[start : start + size], [a[1] for a in answers]
            )
        aggs = self._aggs(body, [a[3] for a in answers])
        if aggs is not None:
            out["aggregations"] = aggs[1]
        return out

    # ------------------------------------------------------ aggregations

    def _frame(self, resolved: list, fields: list[str], aliases: list[str]) -> DataFrame:
        """The federated frame: every member's matches (`resolved`, one
        resolved query per member) as (segment_id, doc_id, doc_key,
        *aliases), unioned. `fields[i]`
        resolves against each member's own mapping (`_agg_input`: dot
        paths, normalizers, an unmapped field as all-null), so members
        align by position, never by column name; each position takes the
        type `_vote` picks from the members that map the field."""
        # one terms agg per field: its lowered body names each field's
        # member column
        probe = {str(i): {"terms": {"field": f}} for i, f in enumerate(fields)}
        members = []
        for (_, s), r in zip(self.searchers, resolved):
            m, lowered = s._agg_input(probe, r)
            cols = [lowered[str(i)]["terms"]["field"] for i in range(len(fields))]
            opts = s.config.field_options or {}
            dtypes = dict(m.dtypes)
            mapped = [
                dtypes[c] if f in opts or s._fcol(f) in dtypes else None
                for f, c in zip(fields, cols)
            ]
            members.append((m, cols, mapped))
        targets = [
            _vote(mapped[i] for _, _, mapped in members)
            for i in range(len(fields))
        ]
        u = None
        for m, cols, _ in members:
            f = m.select(
                "segment_id",
                "doc_id",
                "doc_key",
                *[
                    qcol(c).cast(t).alias(a)
                    for c, t, a in zip(cols, targets, aliases)
                ],
            )
            u = f if u is None else u.unionByName(f, allowMissingColumns=True)
        return u

    def matches(self, query, time_range=None, columns=None) -> DataFrame:
        """Every member's matching docs with their fast-field `columns`
        (every docmap column by default) as the federated frame — the
        input of cross-index aggregations (the reference root merges
        per-index aggregation partials, `root.rs` merge_fruits across
        indexes; here ONE distributed agg plan runs over the frame)."""
        if columns is None:
            columns = list(
                dict.fromkeys(
                    c
                    for _, s in self.searchers
                    for c in s._doc_types
                    if c not in ("segment_id", "doc_id", "doc_key")
                )
            )
        resolved = [s._resolve(query, time_range) for _, s in self.searchers]
        return self._frame(resolved, columns, columns)

    def _aggs(self, body: dict, resolved: list | None = None):
        """The body's aggregations over the federated frame of the
        body's query (`resolved` per member, else resolved here) →
        (canonical body, {name: DataFrame}), or None without
        aggregations. The canonical body names the i-th field reference
        (traversal order) `__qw_fed_i`."""
        from quickwit_spark.search.es_aggs import _validate_aggs, run_es_aggs

        agg_body = body.get("aggs") or body.get("aggregations")
        if not agg_body:
            return None
        # shape-validate before _field_walk's .items() traversal
        _validate_aggs(None, agg_body)
        fields: list[str] = []
        fed_body = _field_walk(
            agg_body,
            lambda f: (fields.append(f), f"__qw_fed_{len(fields) - 1}")[1],
        )
        if resolved is None:
            resolved = [s._resolve(s._es_ast(body), None) for _, s in self.searchers]
        u = self._frame(
            resolved,
            fields,
            [f"__qw_fed_{i}" for i in range(len(fields))],
        )
        return fed_body, run_es_aggs(u, fed_body)

    def _shaped_aggs(self, body: dict) -> dict | None:
        """`_aggs` in the ES wire shape."""
        from quickwit_spark.search.es_aggs import shape_es_agg

        aggs = self._aggs(body)
        if aggs is None:
            return None
        fed_body, raw = aggs
        return {name: shape_es_agg(fed_body[name], df) for name, df in raw.items()}

