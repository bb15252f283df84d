"""Index-management facade — the reference's index REST API as a
library surface.

A user of the reference manages indexes through `POST /indexes`
(an index-config document), `POST /{index}/ingest` (NDJSON), and the
search endpoints. `QuickwitSpark` is that lifecycle over a shared
root directory (reference `index_management` handlers +
`quickwit-metastore` index lifecycle):

    qw = QuickwitSpark(spark, "/data/indexes")
    qw.create_index({"index_id": "logs", "doc_mapping": {...},
                     "search_settings": {...}})
    qw.ingest("logs", [{"level": "error", "ts": ...}, ...])
    qw.search("logs", {"query": {"match": {"level": {"query": "error"}}}})
    qw.es().request("GET", "logs/_search", body={...})   # full ES wire

Doc-mapping semantics match the reference's dynamic mode:

  - the corpus schema is inferred per ingest batch and MERGED with the
    index's cumulative schema (numeric widening, scalar conflicts →
    token strings), so later batches may ADD fields — older splits
    simply hold no postings/columns for them (additive doc-mapping
    evolution, enforced by the builder's config check),
  - previously-typed paths are PINNED: a later batch whose values no
    longer fit coerces to null (the reference's lenient coercion)
    instead of mutating the mapping under existing splits,
  - heterogeneous-typed paths (mixed int/float/bool JSON tokens) are
    classified on first sight and stay mixed (`sources.dynamic`
    per-type columns); docs missing a declared timestamp field are
    rejected at ingest.

Everything stays schema-first Column work — ingest is one read.json +
one flatten projection + the single-shuffle segment build.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import threading

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATE_FILE = "_dynamic_state.json"

# humantime's unit constants (month = 30.44 days, year = 365.25 days) —
# the reference's RetentionPolicy period parser
_PERIOD_UNITS = {
    "s": 1, "sec": 1, "secs": 1, "second": 1, "seconds": 1,
    "m": 60, "min": 60, "mins": 60, "minute": 60, "minutes": 60,
    "h": 3600, "hour": 3600, "hours": 3600,
    "d": 86400, "day": 86400, "days": 86400,
    "w": 604800, "week": 604800, "weeks": 604800,
    "month": 2630016, "months": 2630016,
    "y": 31557600, "year": 31557600, "years": 31557600,
}


def _parse_period_secs(period: str) -> int:
    """Humantime-style retention periods ("7 days", "1week", "24h") —
    the reference's RetentionPolicy period format. Strict: the whole
    string must be number-unit pairs (no fractions, no trailing junk)."""
    import re

    s = str(period).strip()
    if not re.fullmatch(r"(?:\d+\s*[a-zA-Z]+[\s,]*)+", s):
        raise ValueError(f"invalid retention period {period!r}")
    total = 0
    for n, unit in re.findall(r"(\d+)\s*([a-zA-Z]+)", s):
        if unit.lower() not in _PERIOD_UNITS:
            raise ValueError(f"unknown retention period unit {unit!r}")
        total += int(n) * _PERIOD_UNITS[unit.lower()]
    if total == 0:
        raise ValueError(f"invalid retention period {period!r}")
    return total


def merge_schemas(a: T.DataType, b: T.DataType) -> T.DataType:
    """Recursive schema union with the dynamic mapper's widening rules:
    long+double → double, null yields to anything, arrays merge
    element-wise, scalar conflicts → string (token form — mixed-type
    classification takes it from there)."""
    if a == b:
        return a
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        merged: dict[str, T.DataType] = {}
        order: list[str] = []
        for f in list(a.fields) + list(b.fields):
            if f.name not in merged:
                merged[f.name] = f.dataType
                order.append(f.name)
            else:
                merged[f.name] = merge_schemas(merged[f.name], f.dataType)
        return T.StructType([T.StructField(n, merged[n]) for n in order])
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(merge_schemas(a.elementType, b.elementType))
    if isinstance(a, T.ArrayType) or isinstance(b, T.ArrayType):
        arr, other = (a, b) if isinstance(a, T.ArrayType) else (b, a)
        return T.ArrayType(merge_schemas(arr.elementType, other))
    numeric = (
        T.LongType, T.IntegerType, T.ShortType, T.ByteType,
        T.DoubleType, T.FloatType,
    )
    if isinstance(a, numeric) and isinstance(b, numeric):
        return T.DoubleType()
    return T.StringType()


class _IndexLock:
    """Re-entrant per-index mutation lock that serializes across BOTH
    threads (RLock) and OS processes (fcntl.flock on a sidecar file).
    Two pipelines sharing an index root — e.g. two queue-source
    consumers on different hosts with a shared filesystem, or two
    local processes — must not interleave the read-modify-write of
    the index state file (batches counter, shard table, checkpoints):
    the reference serializes these through the metastore; here the
    advisory file lock is the metastore's transaction boundary."""

    def __init__(self, path: str):
        self._rlock = threading.RLock()
        self._path = path
        self._depth = 0
        self._fd: int | None = None

    def __enter__(self) -> "_IndexLock":
        self._rlock.acquire()
        if self._depth == 0:
            try:
                import fcntl

                fd = os.open(self._path, os.O_CREAT | os.O_RDWR, 0o644)
                fcntl.flock(fd, fcntl.LOCK_EX)
                self._fd = fd
            except (ImportError, OSError):
                self._fd = None  # non-POSIX FS: thread-level only
        self._depth += 1
        return self

    def __exit__(self, *exc) -> None:
        self._depth -= 1
        if self._depth == 0 and self._fd is not None:
            try:
                import fcntl

                fcntl.flock(self._fd, fcntl.LOCK_UN)
            finally:
                os.close(self._fd)
                self._fd = None
        self._rlock.release()


def _locked(fn):
    """Serialize a facade method under the target index's mutation
    lock. Applies to every method whose first argument is `index_id`
    and that read-modify-writes that index's state file (ingest,
    sources, delete tasks, merges, ...); `create_index` pulls the id
    out of its config and locks inline instead."""

    @functools.wraps(fn)
    def wrapper(self, index_id, *args, **kwargs):
        with self._index_lock(index_id):
            return fn(self, index_id, *args, **kwargs)

    return wrapper


class QuickwitSpark:
    """Index lifecycle over one root directory."""

    def __init__(self, spark: SparkSession, root: str):
        from quickwit_spark.session import ship_package

        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        ship_package(spark)
        self._searchers: dict[str, object] = {}
        # bumped on every searcher-cache invalidation (ingest, create,
        # delete, mapping update, ...) — long-lived consumers like the
        # HTTP server compare it to decide when their index->searcher
        # view is stale, without re-reading per-index state per request
        self.mutation_count = 0
        # per-index mutation locks: the HTTP layer dispatches requests
        # concurrently, but index state is a read-modify-write of one
        # JSON file (batches counter → job_id/segment ids/_qw_key
        # ranges all derive from it), so two concurrent ingests into
        # the SAME index must serialize — reference ingest likewise
        # orders a shard's batches through a single queue per shard
        # (qw/quickwit-ingest/src/ingest_v2/router.rs). Re-entrant
        # (run_source()'s drains call ingest() re-entrantly) and
        # cross-PROCESS via flock (two pipelines sharing an index
        # root — see _IndexLock).
        self._index_locks: dict[str, _IndexLock] = {}
        self._locks_guard = threading.Lock()

    def _index_lock(self, index_id: str) -> _IndexLock:
        with self._locks_guard:
            lock = self._index_locks.get(index_id)
            if lock is None:
                lock = self._index_locks[index_id] = _IndexLock(
                    os.path.join(self.root, f".{index_id}.lock")
                )
            return lock

    def _invalidate(self, index_id: str) -> None:
        self._searchers.pop(index_id, None)
        with self._locks_guard:  # += is a read-modify-write too
            self.mutation_count += 1

    # ----------------------------------------------------------- admin

    def index_dir(self, index_id: str) -> str:
        if not index_id or "/" in index_id or index_id.startswith("."):
            raise ValueError(f"invalid index_id {index_id!r}")
        return os.path.join(self.root, index_id)

    @staticmethod
    def validate_identifier(label: str, value) -> None:
        """Reference naming rule (`quickwit-config/src/lib.rs:134-144`):
        identifiers (index/template/source ids) start with a letter and
        are 3-255 chars of `[a-zA-Z0-9-_.]`."""
        if not isinstance(value, str) or not re.fullmatch(
            r"[a-zA-Z][a-zA-Z0-9\-_.]{2,254}", value
        ):
            raise ValueError(
                f"{label} ID `{value}` is invalid: identifiers must match "
                r"`^[a-zA-Z][a-zA-Z0-9-_\.]{2,254}$`"
            )

    @staticmethod
    def validate_index_id_pattern(pattern) -> None:
        """Reference pattern rule (`lib.rs:149-178`): identifier chars
        plus `*` globs, optional leading `-`, no `**`."""
        if (
            not isinstance(pattern, str)
            or not re.fullmatch(r"-?[a-zA-Z*][a-zA-Z0-9\-_.*]{0,254}", pattern)
            or "**" in pattern
        ):
            raise ValueError(
                f"index ID pattern `{pattern}` is invalid: patterns must "
                r"match `^-?[a-zA-Z\*][a-zA-Z0-9-_\.\*]{0,254}$` "
                "without `**`"
            )

    def list_indexes(self) -> list[str]:
        return sorted(
            n
            for n in os.listdir(self.root)
            if os.path.exists(os.path.join(self.root, n, STATE_FILE))
        )

    def create_index(self, config: dict, exist_ok: bool = False) -> dict:
        """Validate + register an index from a reference index-config
        document ({index_id, doc_mapping, search_settings}); publishes
        an empty (zero-segment) index so it is immediately
        searchable."""
        from quickwit_spark.sources.qw_config import (
            parse_doc_mapping,
            validate_search_settings,
        )

        index_id = config["index_id"]
        self.validate_identifier("index", index_id)
        dm = config.get("doc_mapping") or {}
        parse_doc_mapping(dm)
        validate_search_settings(dm, config.get("search_settings"))
        d = self.index_dir(index_id)
        state_path = os.path.join(d, STATE_FILE)
        with self._index_lock(index_id):
            return self._create_index_locked(
                config, exist_ok, index_id, dm, d, state_path
            )

    def _create_index_locked(
        self, config, exist_ok, index_id, dm, d, state_path
    ) -> dict:
        # under the index mutation lock: two concurrent create requests
        # (e.g. two OTLP ingests racing to auto-create the otel index)
        # must not both pass the exists check and double-publish
        if os.path.exists(state_path):
            if exist_ok:
                return {"index_id": index_id, "created": False}
            raise ValueError(f"index {index_id!r} already exists")
        os.makedirs(d, exist_ok=True)
        state = {
            "doc_mapping": dm,
            "search_settings": config.get("search_settings") or {},
            "indexing_settings": self._validated_indexing_settings(config),
            "schema": None,
            "mixed": [],
            "doc_count": 0,
            "batches": 0,
        }
        if config.get("retention") is not None:
            _parse_period_secs(config["retention"]["period"])  # validate
            state["retention"] = config["retention"]
        with open(state_path + ".tmp", "w") as f:
            json.dump(state, f)
        os.replace(state_path + ".tmp", state_path)
        try:
            self._build(index_id, state, lines=None)  # empty publish
        except Exception:
            # never leave a half-created index behind: a state file
            # with no manifest would poison es()/search() for EVERY
            # index in the root (searcher construction raises)
            self._invalidate(index_id)
            shutil.rmtree(self.index_dir(index_id), ignore_errors=True)
            raise
        return {"index_id": index_id, "created": True}

    @_locked
    def delete_index(self, index_id: str) -> None:
        d = self.index_dir(index_id)
        if not os.path.exists(os.path.join(d, STATE_FILE)):
            raise ValueError(f"index {index_id!r} not found")
        self._invalidate(index_id)
        shutil.rmtree(d)

    @_locked
    def update_index(self, index_id: str, config: dict) -> dict:
        """`PUT /indexes/{id}` (`index_resource.rs:287-352`,
        `index_config/serialize.rs:73-141`): full-replace semantics —
        doc_mapping / search_settings / retention are REPLACED by the
        new config (an omitted retention deletes the policy); the
        config's index_id must match; `doc_mapping.timestamp_field`
        cannot change. The update governs FUTURE splits: existing
        splits keep their data, previously-typed paths stay pinned, and
        an update incompatible with them fails at the next ingest (the
        builder's additive-extension check), leaving the index
        readable."""
        from quickwit_spark.sources.qw_config import (
            parse_doc_mapping,
            validate_search_settings,
        )

        state = self._state(index_id)
        if config.get("index_id", index_id) != index_id:
            raise ValueError(
                f"`index_id` in config {config.get('index_id')!r} does not "
                f"match updated index {index_id!r}"
            )
        dm = config.get("doc_mapping") or {}
        parse_doc_mapping(dm)
        validate_search_settings(dm, config.get("search_settings"))
        old_ts = (state.get("doc_mapping") or {}).get("timestamp_field")
        if old_ts != dm.get("timestamp_field"):
            raise ValueError(
                "`doc_mapping.timestamp_field` cannot be updated, current "
                f"value {old_ts or '<none>'}, new expected value "
                f"{dm.get('timestamp_field') or '<none>'}"
            )
        old_dm = state.get("doc_mapping") or {}
        bumped = dm != old_dm
        if bumped:
            # any doc-mapping change starts a NEW generation (the
            # reference stamps a fresh doc_mapping_uid and restarts the
            # pipelines): future splits build under the new mapping,
            # existing splits keep theirs — searches convert old-split
            # values to the new types best-effort
            # (docs/reference/updating-mapper.md) and the merge planner
            # never mixes generations (merge_planner.rs:41-53).
            # Deliberately NOT special-casing additive changes: the
            # reference bumps the uid for ANY real mapping difference —
            # its equality check ignores only the randomly-generated
            # uid itself ("we don't want to record a mapping change
            # when nothing really happened",
            # `index_config/serialize.rs:114-124`) — so an additive
            # field addition also forks merge groups there; skipping
            # the bump here would merge splits the reference keeps
            # apart. The cost is small: align_generations emits
            # conversion expressions only for CONFLICTING columns, so
            # an additive generation unions with plain missing-column
            # nulls.
            state["mapping_uid"] = int(state.get("mapping_uid", 0)) + 1
            state["schema"] = None
            state["pinned_kinds"] = {}
            state["mixed"] = []
        state["doc_mapping"] = dm
        state["search_settings"] = config.get("search_settings") or {}
        state["indexing_settings"] = self._validated_indexing_settings(config)
        if config.get("retention") is not None:
            _parse_period_secs(config["retention"]["period"])  # validate
            state["retention"] = config["retention"]
        else:
            state.pop("retention", None)
        self._save_state(index_id, state)
        self._invalidate(index_id)
        if bumped:
            # zero-doc publish under the new generation: persists its
            # config snapshot so searches reflect the update before any
            # new ingest
            self._build(index_id, state, lines=None)
        return {"index_id": index_id, "updated": True}

    @_locked
    def clear_index(self, index_id: str) -> dict:
        """`PUT /indexes/{id}/clear` (`index_resource.rs:355-390`):
        drop every split and reset the ingest state, keep the index
        configuration registered and searchable (empty)."""
        state = self._state(index_id)
        d = self.index_dir(index_id)
        for name in os.listdir(d):
            if name != STATE_FILE:
                path = os.path.join(d, name)
                shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
        state.update(
            {"schema": None, "mixed": [], "pinned_kinds": {},
             "doc_count": 0, "batches": 0}
        )
        # the reference's clear resets EVERY source checkpoint
        # (`index.rs:427-435` reset_source_checkpoint per source) — a
        # kept checkpoint would make the next run_source skip all
        # already-consumed data and leave the cleared index empty
        for src in (state.get("sources") or {}).values():
            src["checkpoint"] = {}
        self._invalidate(index_id)
        self._build(index_id, state, lines=None)  # re-publish empty
        return {"index_id": index_id, "cleared": True}

    @_locked
    def apply_retention(self, index_id: str, now_micros: int) -> list[str]:
        """Run the index's retention policy (reference janitor
        `retention_policy_execution.rs`): retire every split whose time
        range ends before `now - period`. Returns retired segment ids;
        no-op without a policy."""
        from quickwit_spark.index.retention import apply_retention

        state = self._state(index_id)
        policy = state.get("retention")
        if not policy:
            return []
        period_secs = _parse_period_secs(policy["period"])
        retired = apply_retention(
            self.index_dir(index_id), now_micros - period_secs * 1_000_000
        )
        self._invalidate(index_id)
        return retired

    @_locked
    def create_delete_task(self, index_id: str, delete_query: dict) -> dict:
        """`POST /{index}/delete-tasks` (rest-api.md §Delete API): record
        a delete-by-query; docs stay searchable until a rewrite applies
        it (janitor semantics). `start_timestamp`/`end_timestamp` are
        epoch seconds like the wire payload."""
        from quickwit_spark.index.deletes import delete_by_query

        searcher = self.searcher(index_id)
        lo = delete_query.get("start_timestamp")
        hi = delete_query.get("end_timestamp")
        tr = None
        if lo is not None or hi is not None:
            tr = (
                int(lo) * 1_000_000 if lo is not None else None,
                int(hi) * 1_000_000 if hi is not None else None,
            )
        opstamp = delete_by_query(searcher, delete_query["query"], time_range=tr)
        self._invalidate(index_id)
        return {
            "index_id": index_id,
            "opstamp": opstamp,
            "delete_query": delete_query,
        }

    def list_delete_tasks(self, index_id: str) -> list[dict]:
        """`GET /{index}/delete-tasks` — pending (not yet fully applied)
        delete ops, oldest first."""
        from quickwit_spark.index.deletes import pending_deletes

        self._state(index_id)
        pend = pending_deletes(self.index_dir(index_id))
        return [
            {"opstamp": op, **(meta or {})} for op, meta in sorted(pend.items())
        ]

    # ----------------------------------------------------------- splits
    # reference split resource (`index_api/split_resource.rs:38-205`):
    # `GET /indexes/{id}/splits` with ListSplitsQueryParams
    # (offset/limit/split_states/start_timestamp/end_timestamp/
    # end_create_timestamp) and
    # `PUT /indexes/{id}/splits/mark-for-deletion`.

    _WIRE_STATE = {
        "staged": "Staged",
        "published": "Published",
        # merge-retired inputs and explicit marks are both
        # MarkedForDeletion on the reference wire (its publish path
        # marks replaced splits for deletion)
        "replaced": "MarkedForDeletion",
        "marked_for_deletion": "MarkedForDeletion",
    }

    def list_splits(
        self,
        index_id: str,
        offset: int | None = None,
        limit: int | None = None,
        split_states: list | str | None = None,
        start_timestamp: int | None = None,
        end_timestamp: int | None = None,
        end_create_timestamp: int | None = None,
    ) -> dict:
        """`GET /indexes/{id}/splits` analog. Filters follow the
        reference's ListSplitsQuery semantics
        (`split_resource.rs:38-139`): `split_states` is a list (or
        comma string) of wire names ("Staged"/"Published"/
        "MarkedForDeletion"); `start_timestamp` keeps splits whose doc
        time range END is >= it, `end_timestamp` keeps splits whose
        START is < it (both epoch SECONDS; splits without a time range
        always match), `end_create_timestamp` keeps splits created
        before it. Response = `{offset, size, splits}` with
        reference-shaped split documents."""
        from quickwit_spark.index import manifest as mf

        self._state(index_id)  # 404 for unknown index
        if isinstance(split_states, str):
            split_states = [s for s in split_states.split(",") if s]
        wanted = set(split_states or ())
        unknown = wanted - set(self._WIRE_STATE.values())
        if unknown:
            raise ValueError(f"unknown split_states: {sorted(unknown)}")
        out = []
        for r in mf.list_splits(self.index_dir(index_id)):
            wire_state = self._WIRE_STATE[r.state]
            if wanted and wire_state not in wanted:
                continue
            if r.time_range is not None:
                lo_s, hi_s = (t // 1_000_000 for t in r.time_range)
                if start_timestamp is not None and hi_s < start_timestamp:
                    continue
                if end_timestamp is not None and lo_s >= end_timestamp:
                    continue
            if (
                end_create_timestamp is not None
                and r.create_timestamp >= end_create_timestamp
            ):
                continue
            out.append(
                {
                    "split_state": wire_state,
                    "update_timestamp": r.update_timestamp,
                    "publish_timestamp": (
                        r.create_timestamp if r.state != mf.STAGED else None
                    ),
                    "split_id": r.segment_id,
                    "partition_id": r.partition_id,
                    "num_docs": r.num_docs,
                    # epoch SECONDS on the wire like the reference's
                    # SplitMetadata.time_range (manifest stores micros)
                    "time_range": (
                        {
                            "start": r.time_range[0] // 1_000_000,
                            "end": r.time_range[1] // 1_000_000,
                        }
                        if r.time_range is not None
                        else None
                    ),
                    "create_timestamp": r.create_timestamp,
                    "tags": list(r.tags),
                    "num_merge_ops": r.merge_gen,
                    # reference SplitMetadata.doc_mapping_uid (ULID in
                    # the reference; an integer generation here)
                    "doc_mapping_uid": r.doc_mapping_uid,
                }
            )
        off = int(offset or 0)
        end = off + int(limit) if limit is not None else None
        page = out[off:end]
        return {"offset": off, "size": len(page), "splits": page}

    # ------------------------------------------------------------ merging

    @staticmethod
    def _validated_indexing_settings(config: dict) -> dict:
        """Validate `indexing_settings` from a reference index-config
        document (index-config.md "Indexing settings"): the
        `merge_policy` sub-document must translate to a known policy;
        other keys (commit_timeout_secs, split_num_docs_target, ...)
        are stored as-is."""
        from quickwit_spark.index.merge import merge_policy_from_config

        settings = config.get("indexing_settings") or {}
        merge_policy_from_config(settings.get("merge_policy"))  # validate
        return settings

    @_locked
    def run_merges(self, index_id: str, max_rounds: int = 10) -> dict:
        """Run merge rounds under the index's configured
        `indexing_settings.merge_policy` (default stable_log, like the
        reference's merge pipeline). Returns the executed op count and
        the live split count after."""
        from quickwit_spark.index import manifest as mf
        from quickwit_spark.index.merge import (
            merge_policy_from_config,
            run_merges,
        )

        state = self._state(index_id)
        policy = merge_policy_from_config(
            (state.get("indexing_settings") or {}).get("merge_policy")
        )
        d = self.index_dir(index_id)
        merged = run_merges(self.spark, d, policy=policy, max_rounds=max_rounds)
        if merged:
            self._invalidate(index_id)
        return {
            "index_id": index_id,
            "num_merges": len(merged),
            "num_splits": len(mf.live_segments(d)),
        }

    @_locked
    def mark_splits_for_deletion(self, index_id: str, split_ids: list) -> dict:
        """`PUT /indexes/{id}/splits/mark-for-deletion` analog
        (`split_resource.rs:152-205`): unknown and already-dead split
        ids are silently skipped, like the metastore call with
        `return_error_on_splits_not_found=false`."""
        from quickwit_spark.index import manifest as mf

        self._state(index_id)
        marked = mf.mark_for_deletion(self.index_dir(index_id), list(split_ids))
        if marked:
            self._invalidate(index_id)
        return {"index_id": index_id, "marked": marked}

    def _save_state(self, index_id: str, state: dict) -> None:
        # atomic replace: a reader (or a crash) must never observe a
        # truncated half-written state file
        path = os.path.join(self.index_dir(index_id), STATE_FILE)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, path)

    # -------------------------------------------------------- templates
    # reference index templates (`quickwit-config/src/index_template/
    # mod.rs:30-99`): glob `index_id_patterns` (leading `-` negates),
    # highest `priority` wins; a bulk write to a missing index that
    # matches a template auto-creates the index from it.

    def _templates_dir(self) -> str:
        return os.path.join(self.root, "_templates")

    def create_template(self, config: dict) -> dict:
        from quickwit_spark.sources.qw_config import parse_doc_mapping

        template_id = config["template_id"]
        self.validate_identifier("template", template_id)
        patterns = config.get("index_id_patterns") or []
        if not patterns or not isinstance(patterns, (list, tuple)):
            raise ValueError("`index_id_patterns` must be a non-empty list")
        for p in patterns:
            self.validate_index_id_pattern(p)
        parse_doc_mapping(config.get("doc_mapping") or {})
        d = self._templates_dir()
        os.makedirs(d, exist_ok=True)
        # metastore semantics: create-or-replace per template_id
        with open(os.path.join(d, f"{template_id}.json"), "w") as f:
            json.dump(config, f)
        return {"template_id": template_id}

    def delete_template(self, template_id: str) -> None:
        path = os.path.join(self._templates_dir(), f"{template_id}.json")
        if not os.path.exists(path):
            raise ValueError(f"template {template_id!r} not found")
        os.remove(path)

    def list_templates(self) -> list[dict]:
        d = self._templates_dir()
        if not os.path.isdir(d):
            return []
        out = []
        for name in sorted(os.listdir(d)):
            if name.endswith(".json"):
                with open(os.path.join(d, name)) as f:
                    out.append(json.load(f))
        return out

    def _find_template(self, index_id: str) -> dict | None:
        import fnmatch

        best: tuple[int, dict] | None = None
        for tpl in self.list_templates():
            patterns = tpl.get("index_id_patterns") or []
            neg = [p[1:] for p in patterns if p.startswith("-")]
            pos = [p for p in patterns if not p.startswith("-")]
            if any(fnmatch.fnmatchcase(index_id, p) for p in neg):
                continue
            if not any(fnmatch.fnmatchcase(index_id, p) for p in pos):
                continue
            priority = int(tpl.get("priority") or 0)
            if best is None or priority > best[0]:
                best = (priority, tpl)
        return best[1] if best else None

    def _apply_template(self, tpl: dict, index_id: str) -> dict:
        """`IndexTemplate::apply_template` (mod.rs:55-80): the concrete
        index config is the template body bound to the new index_id."""
        return {
            "index_id": index_id,
            "doc_mapping": tpl.get("doc_mapping") or {},
            "search_settings": tpl.get("search_settings") or {},
        }

    def describe_index(self, index_id: str) -> dict:
        # the reference envelope leads with the index id
        # (`index_resource.rs:178-230`)
        return {"index_id": index_id, **self.searcher(index_id).describe_index()}

    # --------------------------------------------------------- sources
    # reference surface: POST/GET/DELETE /indexes/{id}/sources[/{sid}],
    # PUT .../toggle, PUT .../reset-checkpoint
    # (`qw/quickwit-serve/src/index_api/rest_handler.rs:759-1380`).
    # Reserved source ids are protected exactly as there (403 analog).

    RESERVED_SOURCES = ("_ingest-api-source", "_ingest-cli-source")
    SOURCE_TYPES = ("vec", "file", "wal", "queue", "void")

    @staticmethod
    def _validate_source_params(stype: str, params: dict) -> None:
        """Per-type source param rules, shared by create_source and
        update_source so the two surfaces can never drift apart."""
        if stype == "vec" and not isinstance(params.get("docs"), list):
            raise ValueError("vec source params need a 'docs' list")
        if stype == "file" and not params.get("filepath"):
            raise ValueError("file source params need a 'filepath'")
        if stype == "wal" and not (params.get("wal_root") and params.get("queue")):
            raise ValueError("wal source params need 'wal_root' and 'queue'")
        if stype == "queue" and not params.get("queue_dir"):
            raise ValueError(
                "queue source params need 'queue_dir' (a FileQueue root; "
                "SQS/PubSub bindings swap the Queue implementation)"
            )

    @_locked
    def create_source(self, index_id: str, config: dict) -> dict:
        """Register a source on an index. Supported Spark-native types:
        `vec` (inline docs, params {docs, batch_num_docs}), `file`
        (NDJSON path/glob, params {filepath}), `void` (no-op)."""
        state = self._state(index_id)
        sid = config.get("source_id") or ""
        stype = config.get("source_type")
        if sid in self.RESERVED_SOURCES:
            raise PermissionError(f"source {sid!r} is managed internally")
        self.validate_identifier("source", sid)
        if stype not in self.SOURCE_TYPES:
            raise ValueError(
                f"unsupported source_type {stype!r}; supported: "
                f"{self.SOURCE_TYPES} (broker connectors are out of scope "
                "— use Structured Streaming readers directly)"
            )
        params = config.get("params") or {}
        self._validate_source_params(stype, params)
        sources = state.setdefault("sources", {})
        if sid in sources:
            raise ValueError(f"source {sid!r} already exists")
        sources[sid] = {
            "source_id": sid,
            "source_type": stype,
            "params": params,
            "enabled": True,
            "checkpoint": {},
        }
        self._save_state(index_id, state)
        return dict(sources[sid])

    @_locked
    def update_source(self, index_id: str, source_id: str, config: dict) -> dict:
        """`PUT /indexes/{index_id}/sources/{source_id}` analog
        (`source_resource.rs:98-158` → `load_source_config_update`,
        `source_config/serialize.rs:67-89`): full-config replacement,
        validated like create; the body's source_id must match the
        path; the source TYPE cannot change
        (`source_config/mod.rs:290-292`); the consumed checkpoint and
        enabled flag survive the update (the metastore keeps them)."""
        if source_id in self.RESERVED_SOURCES:
            raise PermissionError(f"source {source_id!r} is managed internally")
        state = self._state(index_id)
        current = state.get("sources", {}).get(source_id)
        if current is None:
            raise ValueError(f"source {source_id!r} not found")
        sid = config.get("source_id") or ""
        if sid != source_id:
            raise ValueError(
                f"existing `source_id` {source_id} does not match updated "
                f"`source_id` {sid}"
            )
        stype = config.get("source_type")
        if stype not in self.SOURCE_TYPES:
            raise ValueError(f"unsupported source_type {stype!r}")
        if stype != current["source_type"]:
            raise ValueError(
                "source type cannot be changed, current type "
                f"{current['source_type']}"
            )
        params = config.get("params") or {}
        self._validate_source_params(stype, params)
        current["params"] = params
        self._save_state(index_id, state)
        return dict(current)

    def list_sources(self, index_id: str) -> list[dict]:
        return sorted(
            (dict(s) for s in self._state(index_id).get("sources", {}).values()),
            key=lambda s: s["source_id"],
        )

    def get_source(self, index_id: str, source_id: str) -> dict:
        src = self._state(index_id).get("sources", {}).get(source_id)
        if src is None:
            raise ValueError(f"source {source_id!r} not found")
        return dict(src)

    @_locked
    def delete_source(self, index_id: str, source_id: str) -> None:
        if source_id in self.RESERVED_SOURCES:
            raise PermissionError(f"source {source_id!r} is managed internally")
        state = self._state(index_id)
        if source_id not in state.get("sources", {}):
            raise ValueError(f"source {source_id!r} not found")
        del state["sources"][source_id]
        self._save_state(index_id, state)

    @_locked
    def toggle_source(self, index_id: str, source_id: str, enable: bool) -> dict:
        if source_id in self.RESERVED_SOURCES:
            raise PermissionError(f"source {source_id!r} is managed internally")
        state = self._state(index_id)
        src = state.get("sources", {}).get(source_id)
        if src is None:
            raise ValueError(f"source {source_id!r} not found")
        src["enabled"] = bool(enable)
        self._save_state(index_id, state)
        return dict(src)

    @_locked
    def reset_source_checkpoint(self, index_id: str, source_id: str) -> None:
        """Forget the source's consumed offsets — the next `run_source`
        re-ingests from the beginning (reference reset-checkpoint)."""
        state = self._state(index_id)
        src = state.get("sources", {}).get(source_id)
        if src is None:
            raise ValueError(f"source {source_id!r} not found")
        src["checkpoint"] = {}
        self._save_state(index_id, state)

    @_locked
    def run_source(self, index_id: str, source_id: str) -> dict:
        """One ingestion pass (the analog of attaching the reference's
        indexing pipeline to the source): consumes whatever the source
        has beyond its checkpoint, commits splits through the ordinary
        ingest path, and advances the checkpoint. Idempotent when
        nothing new arrived."""
        state = self._state(index_id)
        src = state.get("sources", {}).get(source_id)
        if src is None:
            raise ValueError(f"source {source_id!r} not found")
        if not src["enabled"]:
            return {"source_id": source_id, "num_docs": 0, "disabled": True}
        ingested = 0
        if src["source_type"] == "vec":
            docs = src["params"]["docs"]
            offset = int(src["checkpoint"].get("offset", 0))
            batch = int(src["params"].get("batch_num_docs") or len(docs) or 1)
            while offset < len(docs):
                chunk = docs[offset : offset + batch]
                ingested += self.ingest(index_id, chunk)["num_docs"]
                offset += len(chunk)
                # re-read state: ingest() rewrote it; keep our cursor
                state = self._state(index_id)
                src = state["sources"][source_id]
                src["checkpoint"]["offset"] = offset
                self._save_state(index_id, state)
        elif src["source_type"] == "file":
            import glob as _glob

            consumed = set(src["checkpoint"].get("consumed", []))
            for path in sorted(_glob.glob(src["params"]["filepath"])):
                if path in consumed:
                    continue
                with open(path) as f:
                    lines = [ln for ln in f.read().splitlines() if ln.strip()]
                if lines:
                    ingested += self.ingest(index_id, lines)["num_docs"]
                consumed.add(path)
                state = self._state(index_id)
                src = state["sources"][source_id]
                src["checkpoint"]["consumed"] = sorted(consumed)
                self._save_state(index_id, state)
        elif src["source_type"] == "wal":
            # the mrecordlog-WAL drain (reference ingest v1/v2 durability
            # model, docs/internals/ingest-v2.md): replay strictly after
            # the committed position, commit splits, advance the
            # checkpoint, then truncate the log — a crash between ingest
            # and checkpoint save replays the batch, and the idempotent
            # per-batch manifest commit absorbs the replay, so consumed
            # records index exactly once
            from quickwit_spark.sources.recordlog import RecordLog

            log = RecordLog(src["params"]["wal_root"])
            queue = src["params"]["queue"]
            batch = int(src["params"].get("batch_num_docs") or 1000)
            # replay-safety pin: job ids derive from the batches
            # counter, so a crash-replay is only absorbed correctly if
            # the replayed chunks cover the SAME record ranges. If
            # batch_num_docs changed between crash and retry, a bigger
            # replayed chunk would be skipped as already-done while the
            # cursor advanced past its never-indexed tail — so the
            # batch size in effect when a drain starts is pinned in the
            # checkpoint and only released when the drain completes.
            pinned = src["checkpoint"].get("drain_batch")
            if pinned is not None:
                batch = int(pinned)
            else:
                src["checkpoint"]["drain_batch"] = batch
                self._save_state(index_id, state)
            position = src["checkpoint"].get("position")
            rejected = 0
            errors: list = []

            def commit(chunk: list, last: int) -> None:
                # the cursor advances inside the ingest's own atomic
                # state write (see ingest._state_mutator): a crash
                # leaves either both the splits-committed batch AND the
                # cursor, or neither — replays re-run under the same
                # job_id and are absorbed by the manifest
                nonlocal ingested, rejected
                def advance(st):
                    st["sources"][source_id]["checkpoint"]["position"] = last
                res = self.ingest(index_id, chunk, _state_mutator=advance)
                ingested += res["num_docs"]
                # truncation destroys the records: keep the audit trail
                # of anything ingest rejected per-doc
                rejected += res.get("rejected", 0)
                errors.extend(res.get("errors", [])[:10])
                log.truncate(queue, last)

            # ONE replay pass: read_after re-scans every retained
            # segment from its start, so restarting it per batch would
            # make a big drain O(segments^2) in bytes read. Truncation
            # mid-iteration is safe — only segments wholly behind the
            # consumed position (already scanned) are unlinked.
            chunk: list = []
            last = position if position is not None else -1
            for pos, payload in log.read_after(queue, position):
                chunk.append(payload.decode("utf-8"))
                last = pos
                if len(chunk) >= batch:
                    commit(chunk, last)
                    chunk = []
            if chunk:
                commit(chunk, last)
            # drain complete: release the pinned batch size so the
            # NEXT drain picks up any param change
            state = self._state(index_id)
            if "drain_batch" in state["sources"][source_id]["checkpoint"]:
                state["sources"][source_id]["checkpoint"].pop("drain_batch")
                self._save_state(index_id, state)
            out = {"source_id": source_id, "num_docs": ingested}
            if rejected:
                out["rejected"] = rejected
                out["errors"] = errors
            return out
        elif src["source_type"] == "queue":
            # SQS/PubSub-style queue drain (sources/queue.py — the
            # reference's queue_sources/ design): at-least-once queue
            # deliveries, exactly-once commits via the shard table
            # whose EOF marks ride ingest's atomic state write
            from quickwit_spark.sources.queue import FileQueue, QueueCoordinator

            params = src["params"]
            # only user-supplied params override — the dataclass owns
            # the defaults (single source of truth)
            overrides = {
                kwarg: float(params[key])
                for key, kwarg in (
                    ("visibility_secs", "visibility_secs"),
                    ("commit_timeout_secs", "commit_timeout_secs"),
                    ("deduplication_window_secs", "dedup_window_secs"),
                )
                if params.get(key) is not None
            }
            coordinator = QueueCoordinator(
                facade=self,
                index_id=index_id,
                source_id=source_id,
                queue=FileQueue(params["queue_dir"]),
                **overrides,
            )
            return coordinator.run()
        # void: nothing to do
        return {"source_id": source_id, "num_docs": ingested}

    # ---------------------------------------------------------- ingest

    # top-level doc field names the pipeline reserves for itself (the
    # wrapper key/raw columns and the docmap's source column) — a doc
    # carrying one would produce duplicate columns after `doc.*`
    # expansion (AMBIGUOUS_REFERENCE); ES likewise rejects docs with
    # its reserved metadata names at the top level
    _RESERVED_DOC_FIELDS = frozenset({"_qw_key", "_qw_raw", "_source_json"})

    # batches at or above this size skip the driver-side per-doc
    # json.loads loop and validate/parse JVM-side instead (the driver
    # then only ships raw strings); below it the driver loop is cheaper
    # than a Spark job and gives richer per-doc error messages
    _DISTRIBUTED_INGEST_MIN = 8192

    @_locked
    def ingest(self, index_id: str, docs: list, _state_mutator=None) -> dict:
        """One NDJSON batch → one committed split set. `docs` are dicts
        or JSON strings. Invalid docs are rejected PER-DOC (reference
        ingest semantics), never aborting the batch: the result carries
        `rejected` + `errors` when any doc failed to parse.

        Large batches (≥ `_DISTRIBUTED_INGEST_MIN` docs) go
        through the distributed path: validation
        (json_object_keys-based), JSON parsing, and doc wrapping all
        run JVM-side — the driver never json.loads a document (the
        reference's ingest v1 parses row-wise server-side, which is
        fine for a REST endpoint but a hot loop for a driver fed a
        million-doc list)."""
        if len(docs) >= self._DISTRIBUTED_INGEST_MIN:
            return self._ingest_distributed(
                index_id, docs, _state_mutator=_state_mutator
            )
        state = self._state(index_id)
        if _state_mutator is not None:
            # rides into _build's single atomic state write, so e.g. a
            # WAL cursor advances in the same durability unit as the
            # batch's doc_count/batches — the exactly-once hinge
            _state_mutator(state)
        lines: list[str] = []
        errors: list[dict] = []
        for i, d in enumerate(docs):
            if isinstance(d, str):
                try:
                    parsed = json.loads(d)
                except json.JSONDecodeError as e:
                    errors.append({"doc": i, "reason": f"invalid JSON: {e}"})
                    continue
                line = d
            else:
                parsed, line = d, json.dumps(d)
            if not isinstance(parsed, dict):
                errors.append(
                    {"doc": i, "reason": "document must be a JSON object"}
                )
                continue
            bad = sorted(self._RESERVED_DOC_FIELDS & set(parsed))
            if bad:
                errors.append(
                    {"doc": i, "reason": f"reserved field name(s) {bad}"}
                )
                continue
            lines.append(line)
        n = self._build(index_id, state, lines)
        self._invalidate(index_id)  # config may have grown
        out = {"index_id": index_id, "num_docs": n}
        if errors:
            out["rejected"] = len(errors)
            out["errors"] = errors
        return out

    def _ingest_distributed(
        self, index_id: str, docs: list, _state_mutator=None
    ) -> dict:
        """Large-batch ingest: driver work is one C-speed json.dumps
        per dict doc (strings pass through untouched); everything else
        — validity, object-ness and reserved-field checks via
        `json_object_keys` (NULL for invalid JSON and non-objects),
        schema inference, parsing, wrapping — runs JVM-side in
        `_build`. Keys allocate by batch position, so rejected docs
        leave key holes instead of paying a single-partition
        row_number to compact them (keys only need uniqueness)."""
        from pyspark.sql import functions as F

        state = self._state(index_id)
        if _state_mutator is not None:
            _state_mutator(state)
        lines = [d if isinstance(d, str) else json.dumps(d) for d in docs]
        df = self.spark.createDataFrame(
            list(enumerate(lines)), "idx long, line string"
        )
        reserved = F.array(
            *[F.lit(x) for x in sorted(self._RESERVED_DOC_FIELDS)]
        )
        checked = df.select(
            "idx",
            "line",
            # NDJSON discipline: the distributed path splices each raw
            # line into a one-line JSON envelope, so a doc spanning
            # lines can't ride through it — reject loudly (the driver
            # path tolerates multi-line JSON strings; callers feeding
            # 10^4+ docs are feeding NDJSON anyway)
            F.when(
                F.contains("line", F.lit("\n"))
                | F.contains("line", F.lit("\r")),
                F.lit(
                    "embedded newline (distributed ingest requires "
                    "one-line NDJSON docs)"
                ),
            )
            .when(
                F.json_object_keys("line").isNull(),
                F.lit("invalid JSON or not a JSON object"),
            )
            .when(
                F.arrays_overlap(F.json_object_keys("line"), reserved),
                F.lit("reserved field name(s)"),
            )
            .alias("_err"),
        ).persist()
        try:
            errors = [
                {"doc": r["idx"], "reason": r["_err"]}
                for r in checked.filter(F.col("_err").isNotNull())
                .select("idx", "_err")
                .orderBy("idx")
                .collect()
            ]
            good = checked.filter(F.col("_err").isNull()).select("idx", "line")
            late_rejects: list = []
            n = self._build(
                index_id,
                state,
                None,
                lines_df=good,
                n_alloc=len(lines),
                reject_sink=late_rejects,
            )
            errors.extend(
                {
                    "doc": idx,
                    "reason": "invalid JSON (whole-line parse failed)",
                }
                for idx in late_rejects
            )
            errors.sort(key=lambda e: e["doc"])
        finally:
            checked.unpersist()
        self._invalidate(index_id)
        out = {"index_id": index_id, "num_docs": n}
        if errors:
            out["rejected"] = len(errors)
            out["errors"] = errors
        return out

    def bulk(self, payload, default_index: str | None = None) -> dict:
        """ES `_bulk` over the facade (`bulk_v2.rs:83-280` semantics):
        request-level 400s for malformed action lines / missing index,
        per-item 404 `index_not_found_exception` (unless an index
        template matches, which auto-creates the target), per-item 400
        `document_parsing_exception` for docs that fail the declared
        mapping, 201 for created docs. Valid docs commit through the
        ordinary distributed ingest path, one batch per target index."""
        import time

        from quickwit_spark.search.es_wire import EsApiError
        from quickwit_spark.sources.bulk import BulkV2Error, parse_bulk_v2

        t0 = time.monotonic()
        try:
            actions = parse_bulk_v2(payload, default_index)
        except BulkV2Error as e:
            raise EsApiError(e.status, e.reason, es_type=e.es_type) from e

        items: list = [None] * len(actions)
        by_index: dict[str, list[dict]] = {}
        for a in actions:
            by_index.setdefault(a["_index"], []).append(a)
        errors = False
        existing = set(self.list_indexes())
        for index_id, acts in by_index.items():
            if index_id not in existing:
                tpl = self._find_template(index_id)
                if tpl is None:
                    errors = True
                    for a in acts:
                        items[a["pos"]] = self._bulk_item(
                            a,
                            404,
                            error={
                                "index": index_id,
                                "type": "index_not_found_exception",
                                "reason": f"no such index [{index_id}]",
                            },
                        )
                    continue
                self.create_index(self._apply_template(tpl, index_id))
                existing.add(index_id)
            failures = self._parse_failures(
                self._state(index_id), [a["doc_line"] for a in acts]
            )
            good: list[str] = []
            for j, a in enumerate(acts):
                if j in failures:
                    errors = True
                    items[a["pos"]] = self._bulk_item(
                        a,
                        400,
                        error={
                            "index": index_id,
                            "type": "document_parsing_exception",
                            "reason": failures[j],
                        },
                    )
                else:
                    good.append(a["doc_line"])
                    items[a["pos"]] = self._bulk_item(a, 201)
            if good:
                self.ingest(index_id, good)
        return {
            "took": int((time.monotonic() - t0) * 1000),
            "errors": errors,
            "items": items,
        }

    @staticmethod
    def _bulk_item(action: dict, status: int, error: dict | None = None):
        d: dict = {"_index": action["_index"], "status": status}
        if action["_id"] is not None:
            d["_id"] = action["_id"]
        if error is not None:
            d["error"] = error
        # items are keyed by the request's own action verb — an ES
        # client doing a `create` bulk looks its item up under "create"
        return {action.get("action", "index"): d}

    def _parse_failures(self, state: dict, doc_lines: list[str]) -> dict:
        """→ {position in doc_lines: reason} for docs the declared
        mapping rejects. Coercion checks are JVM Column expressions
        (`get_json_object` + the mapper's own cast/parse exprs) over one
        small DataFrame; only the FAILURES are collected, so the check
        stays collect-light at bulk scale."""
        from pyspark.sql import functions as F

        from quickwit_spark.index.mapping import _datetime_col
        from quickwit_spark.sources.qw_config import parse_doc_mapping

        dm = state["doc_mapping"]
        specs = parse_doc_mapping(dm)
        out: dict[int, str] = {}
        rows = []
        for j, ln in enumerate(doc_lines):
            try:
                ok = isinstance(json.loads(ln), dict)
            except json.JSONDecodeError:
                ok = False
            if ok:
                rows.append((j, ln))
            else:
                out[j] = "the request body is not a valid JSON object"

        casts = {
            "long": "long",
            "u64": "decimal(20,0)",
            "double": "double",
            "bool": "boolean",
        }
        msgs = []
        for path, spec in specs.mapped.items():
            kind = spec.get("kind", "text")
            raw = F.get_json_object(F.col("_raw"), "$." + path)
            if kind == "datetime":
                coerced = _datetime_col(raw, tuple(spec.get("formats") or ()))
            elif kind in casts:
                coerced = raw.try_cast(casts[kind])
                if kind == "u64":
                    # Rust u64 deserialization rejects negatives; the
                    # decimal(20,0) cast alone would accept them
                    coerced = F.when(coerced >= 0, coerced)
            else:
                continue
            msgs.append(
                F.when(
                    raw.isNotNull() & coerced.isNull(),
                    F.lit(
                        f"failed to parse field [{path}]: value is not a "
                        f"valid `{kind}`"
                    ),
                )
            )
        ts_field = dm.get("timestamp_field")
        if ts_field:
            msgs.append(
                F.when(
                    F.get_json_object(F.col("_raw"), "$." + ts_field).isNull(),
                    F.lit(
                        f"document doesn't declare timestamp field "
                        f"[{ts_field}]"
                    ),
                )
            )
        if not rows or not msgs:
            return out
        df = self.spark.createDataFrame(rows, "pos long, _raw string")
        bad = (
            df.select(
                "pos", F.array_compact(F.array(*msgs)).alias("errs")
            )
            .where(F.size("errs") > 0)
            .collect()
        )
        for r in bad:
            out[int(r["pos"])] = r["errs"][0]
        return out

    def _state(self, index_id: str) -> dict:
        path = os.path.join(self.index_dir(index_id), STATE_FILE)
        if not os.path.exists(path):
            raise ValueError(f"index {index_id!r} not found")
        with open(path) as f:
            return json.load(f)

    def _build(
        self,
        index_id: str,
        state: dict,
        lines: list | None,
        lines_df=None,
        n_alloc: int | None = None,
        reject_sink: list | None = None,
    ) -> int:
        """`lines` (small batches) is a Python list wrapped on the
        driver; `lines_df` (distributed ingest path) is a DataFrame of
        (idx long, line string) wrapped JVM-side — `n_alloc` is the key
        span to advance `doc_count` by (original batch size incl.
        rejected docs: keys allocate by position, so the distributed
        path leaves holes where docs were rejected instead of paying a
        single-partition row_number to compact them)."""
        from quickwit_spark.index.builder import build_index
        from quickwit_spark.search.engine import IndexSearcher
        from quickwit_spark.sources.dynamic import (
            SOURCE_COLUMN,
            detect_mixed_paths,
            flatten_dynamic,
            scan_dynamic,
        )
        from quickwit_spark.sources.qw_config import (
            add_document_size,
            parse_doc_mapping,
            reference_index_config,
        )

        spark = self.spark
        dm = state["doc_mapping"]
        specs = parse_doc_mapping(dm)
        dyn = dm.get("dynamic_mapping") or {}
        fast_opt = dyn.get("fast")
        dynamic_normalizer = (
            fast_opt.get("normalizer", "raw")
            if isinstance(fast_opt, dict)
            else "raw"
        )
        record = dyn.get("record", "freq")

        key0 = int(state["doc_count"])
        wrap_tmp = None
        cached_src = None
        if lines_df is not None:
            # distributed wrap: the whole {"_qw_key":k,"_qw_raw":raw,
            # "doc":doc} envelope is assembled by string concat in the
            # JVM — the raw line is already valid JSON (pre-validated)
            # so it splices in verbatim, and its _qw_raw copy is
            # escaped once via to_json(named_struct(...)) (the result
            # is {"r":<escaped>}; strip the 5-char prefix + closing
            # brace). Doc JSON never touches per-row Python.
            import tempfile as _tempfile

            esc = (
                "substring(to_json(named_struct('r', line)), 6, "
                "length(to_json(named_struct('r', line))) - 6)"
            )
            wrapped_col = F.concat(
                F.lit('{"_qw_key":'),
                (F.col("idx") + F.lit(key0)).cast("string"),
                F.lit(',"_qw_raw":'),
                F.expr(esc),
                F.lit(',"doc":'),
                F.col("line"),
                F.lit("}"),
            )
            wrap_tmp = _tempfile.mkdtemp(prefix="qws_ingest_wrap_")
            lines_df.select(wrapped_col.alias("value")).write.mode(
                "overwrite"
            ).text(wrap_tmp)
            n_wrapped = n_alloc if n_alloc is not None else 0
            batch_schema = spark.read.json(wrap_tmp).schema
            # a line whose spliced doc has trailing garbage (valid
            # object + extra tokens passes json_object_keys but not a
            # strict whole-line parse) makes the WHOLE envelope line
            # corrupt: inference then surfaces a corrupt-record column,
            # which must never leak into the persisted index schema
            corrupt_col = spark.conf.get(
                "spark.sql.columnNameOfCorruptRecord", "_corrupt_record"
            )
            has_corrupt = any(
                f.name == corrupt_col for f in batch_schema.fields
            )
            if has_corrupt:
                batch_schema = T.StructType(
                    [f for f in batch_schema.fields if f.name != corrupt_col]
                )
            if not any(f.name == "doc" for f in batch_schema.fields):
                # every doc in the batch was rejected → empty input
                batch_schema = self._empty_schema(specs)
        else:
            wrapped = [
                json.dumps(
                    {"_qw_key": key0 + i, "_qw_raw": l, "doc": json.loads(l)}
                )
                for i, l in enumerate(lines or [])
            ]
            n_wrapped = len(wrapped)

            # cumulative schema: stored ∪ this batch (additive evolution)
            if wrapped:
                batch_schema = spark.read.json(
                    spark.sparkContext.parallelize(wrapped, 1)
                ).schema
            else:
                batch_schema = self._empty_schema(specs)
        if state.get("schema"):
            prev = T.StructType.fromJson(json.loads(state["schema"]))
            schema = merge_schemas(prev, batch_schema)
        else:
            schema = batch_schema

        if wrap_tmp is not None:
            read_schema = schema
            if has_corrupt:
                read_schema = T.StructType(
                    list(schema.fields)
                    + [T.StructField(corrupt_col, T.StringType())]
                )
            nested_src = spark.read.json(wrap_tmp, schema=read_schema)
            if has_corrupt:
                # Spark documents that referencing the corrupt-record
                # column in a filter over a raw JSON scan is undefined
                # (the filter is pushed into the parse); the sanctioned
                # pattern is to materialize the parsed result first
                nested_src = nested_src.persist()
                cached_src = nested_src
                # truly-unparseable line: whole-record parse failed, so
                # even the envelope's own _qw_key is null (a mere field
                # TYPE conflict still parses the key and is kept with
                # nulled fields, like the driver path's coercion)
                dead = F.col(corrupt_col).isNotNull() & F.col(
                    "_qw_key"
                ).isNull()
                if reject_sink is not None:
                    for r in (
                        nested_src.filter(dead)
                        .select(
                            F.regexp_extract(
                                corrupt_col, r'"_qw_key":(\d+)', 1
                            ).alias("k")
                        )
                        .collect()
                    ):
                        if r["k"]:
                            reject_sink.append(int(r["k"]) - key0)
                nested_src = nested_src.filter(~dead).drop(corrupt_col)
        else:
            nested_src = spark.read.json(
                spark.sparkContext.parallelize(wrapped or [], 1), schema=schema
            )
        nested = nested_src.select(
            "_qw_key", "_qw_raw", "doc.*"
        ).withColumnRenamed("_qw_raw", SOURCE_COLUMN)

        # pin previously-seen paths: typed kinds stay typed (later
        # misfits coerce to null), mixed stays mixed, text stays text
        pinned = dict(state.get("pinned_kinds") or {})
        mapped = dict(specs.mapped)
        for path, kind in pinned.items():
            if path not in mapped and kind not in ("text", "mixed"):
                mapped[path] = {"kind": kind}
        prev_mixed = set(state.get("mixed") or [])
        seen = set(pinned)
        new_mixed = {
            p
            for p in detect_mixed_paths(
                nested, exclude=("_qw_key", SOURCE_COLUMN), mapped=mapped
            )
            if p not in seen
        }
        mixed = prev_mixed | new_mixed

        flat, fields = flatten_dynamic(
            nested,
            exclude=("_qw_key", SOURCE_COLUMN),
            mapped=mapped,
            dynamic_normalizer=dynamic_normalizer,
            mixed_paths=mixed,
        )
        if dm.get("store_document_size"):
            flat, fields = add_document_size(flat, fields, SOURCE_COLUMN)
        cfg = reference_index_config(
            dm,
            fields,
            doc_key="_qw_key",
            source_column=SOURCE_COLUMN,
            num_partitions=int(dm.get("num_partitions", 1)),
            record=record,
        )
        d = self.index_dir(index_id)
        recs = build_index(
            spark,
            flat,
            d,
            cfg,
            job_id=f"ing{int(state['batches']):05d}",
            doc_mapping_uid=int(state.get("mapping_uid", 0)),
        )

        state["schema"] = json.dumps(schema.jsonValue())
        state["mixed"] = sorted(mixed)
        state["pinned_kinds"] = {
            **pinned,
            **{f.path: f.kind for f in fields if f.path not in pinned},
        }
        # key allocation advances by every WRAPPED doc (keys must stay
        # unique even for docs the builder drops), but the reported
        # count is what was actually INDEXED — the builder filters docs
        # whose timestamp field is missing/unparseable, and claiming
        # them as ingested hides silent data loss from the caller
        state["doc_count"] = key0 + n_wrapped
        state["batches"] = int(state["batches"]) + 1
        state_path = os.path.join(d, STATE_FILE)
        with open(state_path + ".tmp", "w") as f:
            json.dump(state, f)
        os.replace(state_path + ".tmp", state_path)
        if cached_src is not None:
            cached_src.unpersist()
        if wrap_tmp is not None:
            import shutil as _shutil

            _shutil.rmtree(wrap_tmp, ignore_errors=True)
        return sum(r.num_docs for r in recs) if n_wrapped else 0

    def _empty_schema(self, specs) -> T.StructType:
        # specs.mapped holds LEAF paths only (objects recurse); nested
        # leaves must appear as REAL nested structs — exactly the shape
        # spark.read.json infers for actual documents — so the
        # create-time empty publish produces the same flattened columns
        # (and the same index config) as the first real ingest. A
        # nested `timestamp_field` like `meta.ts` previously had no
        # column at all and the empty publish crashed with
        # UNRESOLVED_COLUMN.
        tree: dict = {}
        for path, spec in specs.mapped.items():
            t = {
                "datetime": T.StringType(),
                "long": T.LongType(),
                "u64": T.LongType(),
                "double": T.DoubleType(),
                "bool": T.BooleanType(),
            }.get(spec.get("kind", "text"), T.StringType())
            if spec.get("card") == "multi":
                t = T.ArrayType(t)
            node = tree
            parts = path.split(".")
            for p in parts[:-1]:
                node = node.setdefault(p, {})
                if not isinstance(node, dict):
                    break  # leaf/object conflict: leaf wins, skip
            else:
                node[parts[-1]] = t

        def to_struct(node: dict) -> T.StructType:
            return T.StructType(
                [
                    T.StructField(
                        name,
                        to_struct(sub) if isinstance(sub, dict) else sub,
                    )
                    for name, sub in node.items()
                ]
            )

        return T.StructType(
            [
                T.StructField("_qw_key", T.LongType()),
                T.StructField("_qw_raw", T.StringType()),
                T.StructField("doc", to_struct(tree)),
            ]
        )

    # ---------------------------------------------------------- search

    def searcher(self, index_id: str):
        from quickwit_spark.search.engine import IndexSearcher

        self._state(index_id)  # existence check
        if index_id not in self._searchers:
            self._searchers[index_id] = IndexSearcher(
                self.spark, self.index_dir(index_id)
            )
        return self._searchers[index_id]

    def es(self):
        """ES wire handler over every index (live view)."""
        from quickwit_spark.search.es_wire import EsWireHandler

        return EsWireHandler(
            {n: self.searcher(n) for n in self.list_indexes()}, facade=self
        )

    def search(self, index_id: str, body: dict) -> dict:
        """One `_search` request → the full ES wire envelope."""
        return self.es().request("GET", f"{index_id}/_search", body=body)

    # ---- schema-less helper endpoints (index_api/rest_handler.rs) ----

    def analyze(self, request: dict) -> list[dict]:
        """`POST /api/v1/analyze` analog (`rest_handler.rs:129-159`):
        request = flattened TokenizerConfig + `text`; returns the token
        stream as `{offset_from, offset_to, position, position_length,
        text}` dicts. ValueError on a malformed request (the wire 400)."""
        from quickwit_spark.analysis.analyze import analyze_text

        if not isinstance(request, dict):
            raise ValueError("analyze request must be an object")
        req = dict(request)
        text = req.pop("text", None)
        if text is None:
            raise ValueError("analyze request requires `text`")
        return analyze_text(text, req)

    def parse_query(self, request: dict) -> dict:
        """`POST /api/v1/parse-query` analog (`rest_handler.rs:175-220`):
        `{"query": ..., "search_field": [...]}` → the QueryAst in the
        reference's serde JSON shape."""
        from quickwit_spark.query.reference_json import parse_query_reference

        if not isinstance(request, dict):
            raise ValueError("parse-query request must be an object")
        query = request.get("query")
        if not isinstance(query, str):
            raise ValueError("parse-query request requires a string `query`")
        sf = request.get("search_field")
        if isinstance(sf, str):
            sf = [p.strip() for p in sf.split(",") if p.strip()]
        unknown = set(request) - {"query", "search_field"}
        if unknown:
            raise ValueError(f"unknown parse-query fields: {sorted(unknown)}")
        return parse_query_reference(query, sf)
