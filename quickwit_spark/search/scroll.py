"""Scroll contexts — stateful deep pagination.

Re-expresses the reference's scroll mechanism
(`quickwit-search/src/scroll_context.rs`, `docs/internals/scroll.md`):
a scroll fetches hits in large batches (SCROLL_BATCH_LEN) using the
cursor (`search_after`) pushdown and serves client-sized pages from the
cached batch, so N small pages cost N/batch real queries, not N. The
scroll id is an opaque token resolved through a registry (the reference
stores serialized contexts in its cluster KV store): the in-process
registry serves the common case, and `ctx.save()` serializes the
context (query AST as JSON + the last-served cursor) under the index's
`_scroll/` directory so ANOTHER driver process resumes it via
`fetch_scroll(id, searcher)` — the shared-KV shape without a KV.

Works for both BM25 order (cursor = (score, doc_key)) and fast-field
sort order (cursor = (sort_value, doc_key), missing-last semantics) —
the reference's scroll only supports its primary sort orders too.
"""

from __future__ import annotations

import uuid

from quickwit_spark.search.multi import _cmp

SCROLL_BATCH_LEN = 1_000


class ScrollContext:
    def __init__(
        self,
        searcher,
        query,
        page_size: int = 10,
        mode: str = "parity",
        time_range=None,
        fetch: list[str] | None = None,
        sort_field: str | None = None,
        descending: bool = True,
        batch_len: int = SCROLL_BATCH_LEN,
    ):
        self.searcher = searcher
        self.query = query
        self.page_size = page_size
        self.mode = mode
        self.time_range = time_range
        self.fetch = fetch
        self.sort_field = sort_field
        self.descending = descending
        self.batch_len = max(batch_len, page_size)
        self.scroll_id = uuid.uuid4().hex
        self._cache: list = []
        self._served = 0  # global rank offset already handed out
        self._cursor = None
        self._served_cursor = None  # cursor of the last SERVED hit
        self._exhausted = False

    # ------------------------------------------------------------ fetching

    def _fetch_batch(self) -> None:
        if self.sort_field is None:
            df = self.searcher.search(
                self.query,
                k=self.batch_len,
                mode=self.mode,
                time_range=self.time_range,
                fetch=self.fetch,
                search_after=self._cursor,
            )
            rows = df.collect()
            if rows:
                last = rows[-1]
                self._cursor = (last["score"], last["doc_key"])
        else:
            # tie_by_key on every batch: the cursor is (sort_value,
            # doc_key), so the first page must already use the same
            # engine-independent tie order as the cursored ones
            df = self.searcher.sort_by_field(
                self.query,
                self.sort_field,
                k=self.batch_len,
                descending=self.descending,
                time_range=self.time_range,
                fetch=self.fetch,
                tie_by_key=True,
                search_after=self._cursor,
            )
            rows = df.collect()
            if rows:
                last = rows[-1]
                self._cursor = (last["sort_value"], last["doc_key"])
        if len(rows) < self.batch_len:
            self._exhausted = True
        self._cache.extend(rows)

    # -------------------------------------------------------------- paging

    def next_page(self) -> list:
        """The next `page_size` hits (ranks continue across pages);
        empty list when the scroll is drained."""
        from pyspark.sql import Row

        while len(self._cache) < self.page_size and not self._exhausted:
            self._fetch_batch()
        page, self._cache = (
            self._cache[: self.page_size],
            self._cache[self.page_size :],
        )
        # each cursored batch numbers its ranks from 1 — rewrite them as
        # the scroll-global positions the caller sees
        out = []
        for i, r in enumerate(page):
            d = r.asDict()
            if "rank" in d:
                d["rank"] = self._served + i + 1
                r = Row(**d)
            out.append(r)
        self._served += len(page)
        if page:
            last = page[-1]
            val = last["score"] if self.sort_field is None else last["sort_value"]
            # cursor of the last SERVED hit — the durable resume point
            # (cached-but-unserved rows are refetched after a resume)
            self._served_cursor = (val, last["doc_key"])
        return out

    # -------------------------------------------------- durable state

    def state(self) -> dict:
        """Serializable context (reference: serialized ScrollContext in
        the cluster KV store, `scroll_context.rs`): enough to resume
        from the last SERVED hit in another driver process."""
        from quickwit_spark.query.ast import QueryAst, ast_to_json

        q = self.query
        sc = self._served_cursor
        tr = self.time_range
        return {
            "scroll_id": self.scroll_id,
            "query": ast_to_json(q) if isinstance(q, QueryAst) else q,
            "page_size": self.page_size,
            "mode": self.mode,
            "time_range": [_enc_val(v) for v in tr] if tr is not None else None,
            "fetch": self.fetch,
            "sort_field": self.sort_field,
            "descending": self.descending,
            "batch_len": self.batch_len,
            "served": self._served,
            "served_cursor": [_enc_val(v) for v in sc] if sc is not None else None,
        }

    def save(self, path: str | None = None) -> str:
        import json
        import os

        path = path or f"{self.searcher.index_dir}/_scroll"
        os.makedirs(path, exist_ok=True)
        fp = os.path.join(path, f"{self.scroll_id}.json")
        with open(fp, "w") as f:
            json.dump(self.state(), f)
        return fp

    @staticmethod
    def resume(searcher, state: dict) -> "ScrollContext":
        from quickwit_spark.query.ast import ast_from_json

        q = state["query"]
        if isinstance(q, dict):
            q = ast_from_json(q)
        tr = state["time_range"]
        ctx = ScrollContext(
            searcher,
            q,
            page_size=state["page_size"],
            mode=state["mode"],
            time_range=tuple(_dec_val(v) for v in tr) if tr is not None else None,
            fetch=state["fetch"],
            sort_field=state["sort_field"],
            descending=state["descending"],
            batch_len=state["batch_len"],
        )
        ctx.scroll_id = state["scroll_id"]
        ctx._served = state["served"]
        sc = state["served_cursor"]
        ctx._cursor = tuple(_dec_val(v) for v in sc) if sc is not None else None
        # a resumed-then-saved context must re-serialize the same
        # resume point — without this, save() before the next page
        # would write served_cursor=null and a later resume restarts
        # the scroll while keeping the old rank offset
        ctx._served_cursor = ctx._cursor
        _REGISTRY[ctx.scroll_id] = ctx
        touch_scroll(ctx.scroll_id)
        return ctx


def _enc_val(v):
    """JSON-encode one cursor / time-range value: timestamps and
    decimals (u64-mapped fields) round-trip through tagged wrappers —
    a plain json.dump would raise on exactly the time-ordered scans
    durable scroll targets."""
    import datetime
    import decimal

    if isinstance(v, datetime.datetime):
        return {"$dt": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"$date": v.isoformat()}
    if isinstance(v, decimal.Decimal):
        return {"$dec": str(v)}
    return v


def _dec_val(v):
    import datetime
    import decimal

    if isinstance(v, dict):
        if "$dt" in v:
            return datetime.datetime.fromisoformat(v["$dt"])
        if "$date" in v:
            return datetime.date.fromisoformat(v["$date"])
        if "$dec" in v:
            return decimal.Decimal(v["$dec"])
    return v


class FederatedScrollContext:
    """Scroll across several indexes: a k-way merge of per-member
    `ScrollContext` streams in the federation's hit order, the order of
    the ES wire's multi-index `_search` (the reference root merges
    sorted leaf hit streams the same way, `root.rs` merge of per-index
    leaf responses).
    Each member keeps its own cursor/batching correctness; the
    federation only ORDERS the already-sorted streams, so cross-index
    doc-key collisions can't poison a member's `search_after` cursor.

    Rows gain an `_index` column (member name) and a federated global
    rank. Durable like the single-index context: because the merge
    consumes each member's sorted stream IN ORDER, the rows emitted
    from a member are always a prefix of its stream — so the resume
    point per member is simply the cursor of its last EMITTED row
    (buffered-but-unemitted rows refetch), and `save()`/`resume()`
    serialize exactly that."""

    def __init__(
        self,
        members: list[tuple],  # [(name, ScrollContext)]
        page_size: int = 10,
        sort_field: str | None = None,
        descending: bool = True,
    ):
        self.members = list(members)
        self.page_size = page_size
        self.sort_field = sort_field
        self.descending = descending
        self.scroll_id = uuid.uuid4().hex
        self._bufs: dict[str, list] = {n: [] for n, _ in members}
        self._done: dict[str, bool] = {n: False for n, _ in members}
        self._served = 0
        # per member: (sort_value-or-score, doc_key) of the last row the
        # FEDERATION emitted — the durable per-member resume point
        self._emitted: dict[str, tuple | None] = {n: None for n, _ in members}

    def _fill(self, name: str, ctx: ScrollContext) -> None:
        if not self._bufs[name] and not self._done[name]:
            rows = ctx.next_page()
            if rows:
                self._bufs[name].extend(rows)
            else:
                self._done[name] = True

    def _primary(self, row):
        return row["score"] if self.sort_field is None else row["sort_value"]

    def _before(self, name_a, row_a, name_b, row_b) -> bool:
        """Stream order across members: the federation's hit order
        (`multi._cmp`: primary value, score always desc, a field sort in
        `descending`, missing last either way; then member name)."""
        desc = True if self.sort_field is None else self.descending
        return _cmp(
            ((self._primary(row_a),), name_a),
            ((self._primary(row_b),), name_b),
            (desc,),
        ) < 0

    def next_page(self) -> list:
        from pyspark.sql import Row

        out = []
        while len(out) < self.page_size:
            best = None  # (name, head row)
            for name, ctx in self.members:
                self._fill(name, ctx)
                if not self._bufs[name]:
                    continue
                head = self._bufs[name][0]
                if best is None or self._before(name, head, *best):
                    best = (name, head)
            if best is None:
                break
            name, row = best
            self._bufs[name].pop(0)
            self._emitted[name] = (self._primary(row), row["doc_key"])
            d = row.asDict()
            d["_index"] = name
            d["rank"] = self._served + len(out) + 1
            out.append(Row(**d))
        self._served += len(out)
        return out

    # -------------------------------------------------- durable state

    def state(self) -> dict:
        """Serializable federation state: per-member ScrollContext state
        with the cursor overridden to the last row the federation
        EMITTED from that member (its durable resume point), plus each
        member's index dir so another driver can rebuild searchers."""
        members = {}
        for name, ctx in self.members:
            st = ctx.state()
            em = self._emitted[name]
            st["served_cursor"] = (
                [_enc_val(v) for v in em] if em is not None else None
            )
            members[name] = {
                "index_dir": ctx.searcher.index_dir,
                "state": st,
            }
        return {
            "scroll_id": self.scroll_id,
            "federated": True,
            "page_size": self.page_size,
            "sort_field": self.sort_field,
            "descending": self.descending,
            "served": self._served,
            "members": members,
        }

    def save(self, path: str) -> str:
        import json
        import os

        os.makedirs(path, exist_ok=True)
        fp = os.path.join(path, f"{self.scroll_id}.json")
        with open(fp, "w") as f:
            json.dump(self.state(), f)
        return fp

    @staticmethod
    def resume(spark, state: dict) -> "FederatedScrollContext":
        """Rebuild the federation in another driver process: each member
        resumes from its emitted-row cursor; unemitted buffered rows are
        refetched (prefix property, see class docstring)."""
        from quickwit_spark.search.engine import IndexSearcher

        members = []
        for name in sorted(state["members"]):
            ent = state["members"][name]
            searcher = IndexSearcher(spark, ent["index_dir"])
            members.append((name, ScrollContext.resume(searcher, ent["state"])))
        ctx = FederatedScrollContext(
            members,
            page_size=state["page_size"],
            sort_field=state["sort_field"],
            descending=state["descending"],
        )
        ctx.scroll_id = state["scroll_id"]
        ctx._served = state["served"]
        for name, mctx in members:
            ctx._emitted[name] = (
                tuple(mctx._cursor) if mctx._cursor is not None else None
            )
        _REGISTRY[ctx.scroll_id] = ctx
        touch_scroll(ctx.scroll_id)
        return ctx


# process-local scroll registry (the reference's cluster KV analog).
# Entries carry a TTL deadline and are lazily evicted on every
# create/fetch — the reference's scroll_context KV evicts by TTL, and
# clients routinely abandon scrolls without DELETE, so an
# eviction-free registry grows driver memory without bound.
_REGISTRY: dict[str, ScrollContext] = {}
_DEADLINES: dict[str, float] = {}
DEFAULT_SCROLL_TTL_SECS = 1800  # the reference's cap (scroll_context.rs)


def _purge_expired() -> None:
    import time

    now = time.monotonic()
    for sid in [s for s, d in _DEADLINES.items() if d < now]:
        _DEADLINES.pop(sid, None)
        ctx = _REGISTRY.pop(sid, None)
        s = getattr(ctx, "searcher", None)
        if s is not None:
            import contextlib
            import os

            with contextlib.suppress(OSError):
                os.unlink(
                    os.path.join(s.index_dir, "_scroll", f"{sid}.json")
                )


def touch_scroll(scroll_id: str, ttl_secs: int | None = None) -> None:
    """Restart the scroll's TTL (every ES scroll request that carries a
    `scroll` param extends the context's lifetime)."""
    import time

    if scroll_id in _REGISTRY:
        _DEADLINES[scroll_id] = time.monotonic() + (
            ttl_secs or DEFAULT_SCROLL_TTL_SECS
        )


def create_scroll(ctx: ScrollContext, ttl_secs: int | None = None) -> str:
    _purge_expired()
    _REGISTRY[ctx.scroll_id] = ctx
    touch_scroll(ctx.scroll_id, ttl_secs)
    return ctx.scroll_id


def fetch_scroll(
    scroll_id: str, searcher=None, ttl_secs: int | None = None
) -> ScrollContext:
    """Resolve a scroll id: the in-process registry first, else (with a
    searcher) the serialized context under the index's `_scroll/` dir —
    a fresh driver process resumes another's scroll from disk. An
    expired id is gone (KeyError → 404 at the wire); a live fetch
    restarts its TTL."""
    _purge_expired()
    if scroll_id in _REGISTRY:
        touch_scroll(scroll_id, ttl_secs)
        return _REGISTRY[scroll_id]
    if searcher is not None:
        import json
        import os

        fp = os.path.join(searcher.index_dir, "_scroll", f"{scroll_id}.json")
        if os.path.exists(fp):
            with open(fp) as f:
                return ScrollContext.resume(searcher, json.load(f))
    raise KeyError(scroll_id)


def delete_scroll(scroll_id: str, searcher=None) -> None:
    _DEADLINES.pop(scroll_id, None)
    ctx = _REGISTRY.pop(scroll_id, None)
    for s in (searcher, getattr(ctx, "searcher", None)):
        if s is not None:
            import contextlib
            import os

            with contextlib.suppress(OSError):
                os.unlink(
                    os.path.join(s.index_dir, "_scroll", f"{scroll_id}.json")
                )
            break
