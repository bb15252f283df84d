"""IndexSearcher — root planning + distributed leaf search.

The Spark re-expression of the reference's query lifecycle
(`quickwit-search/src/root.rs:1155-1240` root planning,
`leaf.rs:1328-1430` leaf search, `collector.rs` merge):

  1. driver: resolve the QueryAst, expand wildcard/regex against the
     term dictionary, prune segments via the manifest (time range —
     reference `refine_and_list_matches`),
  2. executors: scan ONLY the needed posting rows (Parquet predicate
     pushdown on (kind, term) — the warmup/prefetch analog), group by
     segment, run the numpy kernel (BM25 + block-max WAND) per segment
     → per-segment top-k,
  3. driver: one collect of the kernel frame brings each segment's
     partial hits and exact num_hits (the LeafSearchResponse analog);
     the driver merges them by (score desc, doc_key desc) — the
     merge_fruits analog — and fetches the winners' docmap rows in one
     scan with segment/doc id In filters pushed into the parquet reader
     (fetch_docs analog).

Searches over at most `IndexSearcher._LOCAL_MAX_DOCS` docs run steps 2
and 3 on the driver instead: pyarrow reads the same rows and calls the
same kernel entry point (`SegmentData.from_rows` + `leaf_search`), so
no Spark stage is dispatched — one kernel, two transports.

Two scoring modes:
  parity  f32 + quantized fieldnorms + per-segment stats — reference
          rank-identity semantics.
  oracle  f64 + exact lengths + global stats, scores rounded to 9
          decimals — deterministic vs an independent SQL implementation.
"""

from __future__ import annotations

import datetime as _dt
import heapq
import json
import re as _re
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pds
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from quickwit_spark.analysis import get_tokenizer
from quickwit_spark.analysis.tokenizer import resolve_tokenizer
from quickwit_spark.index import manifest as mf
from quickwit_spark.index.builder import (
    KIND_NORMS,
    KIND_POS,
    KIND_POSTINGS,
    KIND_STATS,
    IndexConfig,
)
from quickwit_spark.query.ast import (
    Bool,
    Boost,
    Exists,
    FullText,
    MatchAll,
    Phrase,
    PhrasePrefix,
    QueryAst,
    Range,
    Regex,
    Term,
    TermSet,
    Wildcard,
    collect_fulltext_terms,
)

# default automaton-expansion cap for Wildcard/Regex (the reference
# bounds multi-term expansion; PhrasePrefix carries its own cap of 50,
# `phrase_prefix_query.rs:66-93`)
DEFAULT_MAX_EXPANSIONS = 1024
from quickwit_spark.query.parser import parse_query
from quickwit_spark.query.tags import extract_tag_filter
from quickwit_spark.search.kernel import SegmentData, leaf_search

MATCH_SCHEMA = "segment_id string, doc_id long, score double"
# top-k leaf rows: a segment's partial hits (num_hits null) plus one
# count row (doc_id and score null) carrying its exact match count —
# the reference's LeafSearchResponse{num_hits, partial_hits}
LEAF_SCHEMA = MATCH_SCHEMA + ", num_hits long"


# the inverted-index rows the driver transport reads: the builder's
# INV_SCHEMA columns plus the hive partition columns of inv/
_INV_ARROW = pa.schema(
    [
        ("segment_id", pa.string()),
        ("field", pa.string()),
        ("term", pa.string()),
        ("doc_freq", pa.int64()),
        ("payload1", pa.binary()),
        ("payload2", pa.binary()),
        ("block_last", pa.binary()),
        ("block_max", pa.binary()),
        ("meta", pa.string()),
        ("batch_id", pa.string()),
        ("kind", pa.string()),
    ]
)

# docmap column types the driver fetch reads and converts to the values
# Spark's collect returns (Spark type name → Arrow type): doc_id plus
# the types a doc mapping produces; a fetch of any other column type
# stays on Spark
_DOC_ARROW = {
    "string": pa.string(),
    "bigint": pa.int64(),
    "int": pa.int32(),
    "double": pa.float64(),
    "boolean": pa.bool_(),
    "binary": pa.binary(),
    "timestamp": pa.timestamp("us", tz="UTC"),
}


def _doc_arrow_type(dtype: str):
    """Arrow type of a docmap column of Spark type `dtype`, or None when
    the driver fetch does not read that type."""
    m = _re.fullmatch(r"decimal\((\d+),(\d+)\)", dtype)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    return _DOC_ARROW.get(dtype)


def _arrow_pylist(arr, dtype: str) -> list:
    """An Arrow docmap column → the Python values Spark's collect gives
    for Spark type `dtype` (timestamps as the same naive local
    datetimes)."""
    if dtype == "timestamp":
        t = T.TimestampType()
        return [
            None if v is None else t.fromInternal(v)
            for v in arr.cast(pa.int64()).to_pylist()
        ]
    return arr.to_pylist()


def _arrow_value(v, dt: T.DataType):
    """A collected value of Spark type `dt` as `pa.Table.from_pylist`
    must get it to give the same value back: naive (local) timestamps
    as UTC instants, rows as dicts, maps as key/value pairs."""
    if v is None:
        return None
    if isinstance(dt, T.TimestampType):
        return v.astimezone(_dt.timezone.utc)
    if isinstance(dt, T.ArrayType):
        return [_arrow_value(x, dt.elementType) for x in v]
    if isinstance(dt, T.MapType):
        return [
            (_arrow_value(a, dt.keyType), _arrow_value(b, dt.valueType))
            for a, b in v.items()
        ]
    if isinstance(dt, T.StructType):
        d = v.asDict() if hasattr(v, "asDict") else v
        return {f.name: _arrow_value(d.get(f.name), f.dataType) for f in dt.fields}
    return v


def rows_frame(spark: SparkSession, rows: list[dict], schema: T.StructType) -> DataFrame:
    """Driver rows (dicts) as a DataFrame of `schema`, built from an
    Arrow table: a LocalRelation, so collecting it runs no Spark job (a
    frame built from a Python list is an RDD scan, one job per
    collect)."""
    table = pa.Table.from_pylist(
        [
            {f.name: _arrow_value(r.get(f.name), f.dataType) for f in schema.fields}
            for r in rows
        ],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)


def _segment_leaf(segment_id: str, rows: list[dict], allowed, ast, tok, **kw):
    """One segment's leaf, the kernel entry point both transports call:
    `SegmentData.from_rows` over the segment's inv rows, then
    `leaf_search`. `allowed` None means no fast filter; an empty
    `allowed` (no doc passes the filter) is no hits and a count of 0.
    → (docids, scores, num_hits)."""
    if allowed is not None and len(allowed) == 0:
        empty = np.zeros(0, np.int64)
        return empty, empty, 0
    return leaf_search(
        SegmentData.from_rows(segment_id, rows), ast, tok, allowed=allowed, **kw
    )


class _ArrowSnapshot(NamedTuple):
    """The driver transport's view of one refresh: the live segment ids
    and the pyarrow datasets listed in the same step, so a request
    never pairs a segment list with another refresh's file list."""

    segment_ids: frozenset
    inv: object  # pyarrow Dataset over inv/ (None: no segments)
    docs: object  # over docs/ (None: several doc-mapping generations)
    doc_types: dict  # docmap column → Spark type, for the readable columns


def qcol(name: str):
    """F.col that treats `name` VERBATIM (dynamic dot-path columns like
    `actor.id` are flat columns, not struct accesses)."""
    return F.col(f"`{name}`") if "." in name else F.col(name)


def _es_uint(body: dict, key: str, default: int) -> int:
    """u64-style body param: non-negative int (or digit string), else a
    ValueError the API layers map to 400 — the reference deserializes
    `size`/`from` as u64, so a negative value can never reach paging
    arithmetic as a Python negative index."""
    v = body.get(key, default)
    if v is None:
        return default
    if isinstance(v, bool) or (
        not isinstance(v, int) and not (isinstance(v, str) and v.isdigit())
    ):
        raise ValueError(f"`{key}` expects a non-negative integer, got {v!r}")
    n = int(v)
    if n < 0:
        raise ValueError(f"`{key}` expects a non-negative integer, got {v!r}")
    return n


def _es_strptime(value: str, fmt: str):
    """Parse a datetime with an ES/Java-style pattern (the `format`
    range parameter, `docs/reference/es_compatible_api.md`): yyyy MM dd
    HH mm ss SSS... tokens, quoted literals. Driver-side only (range
    bounds), so a scan over the pattern is fine."""
    import datetime as _dt

    py = []
    i = 0
    ns_digits = 0  # fraction digits beyond %f's 6-digit maximum
    tokens = (
        ("yyyy", "%Y"), ("yy", "%y"), ("MM", "%m"), ("dd", "%d"),
        ("HH", "%H"), ("mm", "%M"), ("ss", "%S"),
        ("SSSSSSSSS", "%f"), ("SSSSSS", "%f"), ("SSS", "%f"),
    )
    while i < len(fmt):
        if fmt[i] == "'":  # quoted literal until closing quote
            j = fmt.index("'", i + 1)
            py.append(fmt[i + 1 : j] or "'")
            i = j + 1
            continue
        for tok, rep in tokens:
            if fmt.startswith(tok, i):
                py.append(rep)
                if tok == "SSSSSSSSS":
                    ns_digits = 3
                i += len(tok)
                break
        else:
            py.append(fmt[i])
            i += 1
    if ns_digits:
        # %f parses at most 6 fraction digits — truncate a nanosecond
        # fraction to micros (sub-micro precision is below the engine's
        # timestamp resolution anyway)
        value = _re.sub(
            r"(\.\d{6})\d{%d}" % ns_digits, r"\1", value, count=1
        )
    out = _dt.datetime.strptime(value, "".join(py))
    return out.replace(tzinfo=_dt.timezone.utc) if out.tzinfo is None else out


def _parse_dt_bound(v, fmt: str | None):
    """Range bound → tz-aware UTC datetime: rfc3339 string, ES-format
    string (`fmt`), or epoch number with magnitude auto-detect
    (secs < 1e11, millis < 1e14, micros — the reference's
    unix_timestamp input heuristic, `date_time_format.rs`)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        out = v
    elif isinstance(v, (int, float)):
        n = float(v)
        mag = abs(n)
        if mag < 1e11:
            secs = n
        elif mag < 1e14:
            secs = n / 1e3
        elif mag < 1e17:
            secs = n / 1e6
        else:
            secs = n / 1e9
        out = _dt.datetime.fromtimestamp(secs, tz=_dt.timezone.utc)
    elif fmt:
        out = _es_strptime(str(v), fmt)
    elif str(v).lstrip("+-").isdigit():
        # epoch number arriving as a query-string token ("ts:>=168...")
        return _parse_dt_bound(int(v), fmt)
    elif _re.fullmatch(r"\d{4}/\d{2}/\d{2}", str(v)):
        # the query language's yyyy/MM/dd short date form (reference
        # qw_search_api scenario `ts:>=2023/05/25`)
        out = _dt.datetime.strptime(str(v), "%Y/%m/%d")
    else:
        out = _dt.datetime.fromisoformat(str(v).replace("Z", "+00:00"))
    if out.tzinfo is None:
        out = out.replace(tzinfo=_dt.timezone.utc)
    return out.astimezone(_dt.timezone.utc)


def _truncate_dt(v, precision: str | None):
    if precision in (None, "microseconds") or v is None:
        return v
    if precision == "milliseconds":
        return v.replace(microsecond=(v.microsecond // 1000) * 1000)
    if precision == "seconds":
        return v.replace(microsecond=0)
    raise ValueError(f"unknown datetime precision {precision!r}")


def _es_sort_value(v, fmt: str | None):
    """Wire form of one per-hit sort value: timestamps as epoch millis
    (ES default) or nanos (`epoch_nanos_int`, reference-specific),
    decimals as ints."""
    import datetime as _dt
    import decimal

    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        micros = int(v.timestamp() * 1_000_000)
        return micros * 1000 if fmt == "epoch_nanos_int" else micros // 1000
    if isinstance(v, decimal.Decimal):
        # u64 fast values ride decimal(20,0) — integral stays an exact
        # int on the wire; a fractional coercion surfaces as float
        return int(v) if v == v.to_integral_value() else float(v)
    return v


def _parse_json_token(s):
    """Original JSON scalar token → its typed Python value (mixed-typed
    dynamic columns keep the token string; the wire re-types it)."""
    if s is None:
        return None
    if s == "true":
        return True
    if s == "false":
        return False
    try:
        return int(s)
    except ValueError:
        try:
            return float(s)
        except ValueError:
            return s


def _wildcard_to_regex(pattern: str) -> str:
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "".join(out)


def _regex_literal_prefix(rx: str) -> str:
    """Longest literal prefix of a regex (chars before the first
    metacharacter) — the byte-range pushdown the reference gets from
    streaming a bounded automaton range (`list_terms.rs:266-276`)."""
    if "|" in rx:  # top-level alternation may bypass any leading literal
        return ""
    out = []
    i = 0
    while i < len(rx):
        ch = rx[i]
        if ch == "\\" and i + 1 < len(rx):
            nxt = rx[i + 1]
            if nxt.isalnum():  # escape class like \d, \w — not literal
                break
            # escaped literal metachar — literal, but a following
            # quantifier would apply to it; keep it only if safe
            if i + 2 < len(rx) and rx[i + 2] in "*+?{":
                break
            out.append(nxt)
            i += 2
            continue
        if ch in ".*+?[](){}|^$":
            break
        # a quantifier after this char applies to it — stop BEFORE it
        if i + 1 < len(rx) and rx[i + 1] in "*+?{":
            break
        out.append(ch)
        i += 1
    return "".join(out)


def _prefix_upper_bound(prefix: str) -> str | None:
    """Smallest string greater than every string with `prefix`."""
    for i in range(len(prefix) - 1, -1, -1):
        c = ord(prefix[i])
        if c < 0x10FFFF:
            return prefix[:i] + chr(c + 1)
    return None


def _has_phrase(node: QueryAst) -> bool:
    if isinstance(node, (Phrase, PhrasePrefix)):
        return True
    if isinstance(node, Bool):
        return any(
            _has_phrase(c)
            for c in (*node.must, *node.must_not, *node.should, *node.filter)
        )
    if isinstance(node, Boost):
        return _has_phrase(node.query)
    return False


def _count_up_to_batches(seg_ids: list[str], n: int, count_of) -> tuple[int, bool]:
    """`count_up_to`'s early stop: segments are counted in manifest
    order in batches of 8 (`count_of(batch)` → hits in that batch) until
    the running total reaches `n`. → (count, exhausted)."""
    total = 0
    batch = 8
    for i in range(0, len(seg_ids), batch):
        total += count_of(seg_ids[i : i + batch])
        if total >= n and i + batch < len(seg_ids):
            return total, False
    return total, True


class IndexSearcher:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self._hot = None
        # per-generation config snapshots (builder.config_path): a
        # non-additive mapping update starts a new generation; queries
        # always validate against the NEWEST mapping
        # (docs/reference/updating-mapper.md "Querying")
        import glob as _glob
        import re as _re

        self.config_by_uid: dict[int, IndexConfig] = {}
        for p in _glob.glob(f"{index_dir}/_manifest/index_config*.json"):
            base = p.rsplit("/", 1)[1]
            if base == "index_config.json":
                g = 0
            else:
                m = _re.fullmatch(r"index_config\.uid(\d+)\.json", base)
                if not m:
                    continue
                g = int(m.group(1))
            with open(p) as f:
                self.config_by_uid[g] = IndexConfig.from_json(f.read())
        if not self.config_by_uid:
            raise FileNotFoundError(
                f"{index_dir}/_manifest/index_config.json"
            )
        self.current_uid = max(self.config_by_uid)
        self.config = self.config_by_uid[self.current_uid]
        self._src_renderers = None  # built lazily from field_options
        self._src_converters: dict = {}  # per-generation, built lazily
        self.refresh()

    def load_stored_source(self, raw_doc, segment_id: str | None = None):
        """Parse one stored `_source` JSON and re-render its mapped
        typed leaves through their `output_format` — the reference
        rebuilds fetched docs from the typed doc store rather than
        echoing the ingested bytes (`fetch_docs.rs` doc_to_json via
        `tantivy_val_to_json.rs`). Dynamic paths stay verbatim.

        A doc from a split of an OLDER doc-mapping generation first
        converts its re-mapped leaves old-type -> current-type
        best-effort (unconvertible values omitted) per the
        updating-mapper.md matrix (`search.source_convert`)."""
        if raw_doc is None:
            return None
        doc = json.loads(raw_doc)
        if self._src_renderers is None:
            from quickwit_spark.search.source_render import (
                build_source_renderers,
            )

            self._src_renderers = build_source_renderers(
                self.config.field_options
            )
        renderers = self._src_renderers
        uid = (
            self._seg_uid.get(segment_id, self.current_uid)
            if segment_id is not None
            else self.current_uid
        )
        if uid != self.current_uid:
            from quickwit_spark.search.source_convert import (
                convert_source_doc,
            )

            conv, renderers = self._converters_for(uid)
            doc = convert_source_doc(doc, conv)
        if renderers:
            from quickwit_spark.search.source_render import render_source_doc

            doc = render_source_doc(doc, renderers)
        return doc

    def _converters_for(self, uid: int):
        """(converters, classic-renderer subset) for docs built under
        generation `uid`: changed paths go through the conversion
        matrix (which already applies the new output format), unchanged
        paths keep the plain output-format render."""
        cached = self._src_converters.get(uid)
        if cached is not None:
            return cached
        from quickwit_spark.search.source_convert import build_converters

        old_cfg = self.config_by_uid.get(uid)
        conv = build_converters(
            self.config.field_options,
            old_cfg.field_options if old_cfg is not None else {},
            # deleted fields stop appearing unless mapper mode is
            # Dynamic (updating-mapper.md "Querying")
            drop_missing=self.config.mapping_mode != "dynamic",
        )
        renderers = {
            p: r
            for p, r in (self._src_renderers or {}).items()
            if p not in conv
        }
        self._src_converters[uid] = (conv, renderers)
        return conv, renderers

    def refresh(self):
        self.segments = mf.live_segments(self.index_dir)
        self.live_ids = [s.segment_id for s in self.segments]
        self._seg_uid = {
            s.segment_id: s.doc_mapping_uid for s in self.segments
        }
        self._src_converters = {}
        # after a doc-mapping update, hit frames carry segment_id so
        # _source assembly can pick the doc's generation converters;
        # single-generation indexes keep the classic hit schema
        _uids = {s.doc_mapping_uid for s in self.segments}
        self._multi_gen = bool(_uids - {0}) or self.current_uid != 0
        # dot-path field → physical docmap column (dynamic doc mapping)
        self._colmap = {
            p: (o or {}).get("column", p)
            for p, o in (self.config.field_options or {}).items()
        }
        # the hot-postings cache and the driver-side term-stats cache
        # (the reference's hotcache analog: term-dictionary doc_freqs
        # are fetched once per TERM, not once per query) invalidate
        # with the segment set
        self.uncache()
        self._dfreq: dict[tuple, int] = {}
        self._dfreq_fetched: set[str] = set()
        self._live_docs = None  # docs(), planned on first use
        if not self.segments:
            # zero-segment index (published empty, or fully expired):
            # serve empty frames with the canonical schemas instead of
            # failing schema inference on a file-less dataset
            from quickwit_spark.index.builder import INV_SCHEMA

            self._inv = self.spark.createDataFrame([], INV_SCHEMA)
            key_t = "string" if self.config.doc_key.endswith("url") else "bigint"
            doc_fields = [
                T.StructField("segment_id", T.StringType()),
                T.StructField("doc_id", T.IntegerType()),
                T.StructField(
                    "doc_key",
                    T.StringType() if key_t == "string" else T.LongType(),
                ),
            ]
            # stored columns (incl. the raw source and the time column)
            # must exist so projections on an empty index still resolve
            extra = list(self.config.stored_columns)
            if self.config.time_column:
                extra.append(self.config.time_column)
            for c in extra:
                t = (
                    T.TimestampType()
                    if c == self.config.time_column
                    else T.StringType()
                )
                doc_fields.append(T.StructField(c, t))
            self._docs = self.spark.createDataFrame(
                [], T.StructType(doc_fields)
            )
            self._doc_types = dict(self._docs.dtypes)
            self._arrow = _ArrowSnapshot(frozenset(), None, None, {})
            return
        # re-list the parquet datasets once per refresh, not per query,
        # with their fixed and recorded schemas: no inference job
        from quickwit_spark.index.builder import read_docs, read_inv

        self._inv = read_inv(self.spark, self.index_dir)
        uids = sorted({s.doc_mapping_uid for s in self.segments})
        if uids == [0] and self.current_uid == 0:
            # the no-update common case: exactly the classic read
            self._docs = read_docs(self.spark, self.index_dir, 0)
        else:
            # doc-mapping generations: each one is its own dataset with
            # its own schema; older generations convert to the CURRENT
            # mapping's column types (built-in exprs, per-branch
            # pushdown preserved) before the union
            from quickwit_spark.index.docmap_convert import (
                align_generations,
            )

            self._docs = align_generations(
                {g: read_docs(self.spark, self.index_dir, g) for g in uids},
                self.current_uid,
                self.config_by_uid,
            )
        # docmap column → Spark type name, for typed Range bound
        # normalization over dynamic dot-path fast columns
        self._doc_types = dict(self._docs.dtypes)
        self._arrow = self._arrow_snapshot(uids)

    def _arrow_snapshot(self, uids: list[int]) -> _ArrowSnapshot:
        """pyarrow datasets over inv/ and, for a single doc-mapping
        generation, docs/ — listed once per refresh like the Spark
        frames. The docs dataset takes its schema from the Spark read
        (the recorded schema, every batch's columns), limited to the
        column types `_arrow_pylist` converts."""
        from quickwit_spark.index.builder import docs_path

        hive = pa.schema([("batch_id", pa.string()), ("kind", pa.string())])
        inv = pds.dataset(
            f"{self.index_dir}/inv",
            format="parquet",
            schema=_INV_ARROW,
            partitioning=pds.partitioning(hive, flavor="hive"),
        )
        docs = None
        doc_types: dict = {}
        if uids == [0] and self.current_uid == 0:
            fields = []
            for name, dtype in self._doc_types.items():
                at = _doc_arrow_type(dtype)
                if at is not None and name != "batch_id":
                    fields.append((name, at))
                    doc_types[name] = dtype
            docs = pds.dataset(
                docs_path(self.index_dir, 0),
                format="parquet",
                schema=pa.schema([*fields, ("batch_id", pa.string())]),
                partitioning=pds.partitioning(
                    pa.schema([("batch_id", pa.string())]), flavor="hive"
                ),
            )
        return _ArrowSnapshot(
            frozenset(s.segment_id for s in self.segments), inv, docs, doc_types
        )

    # ---------- catalogs ----------

    def _fcol(self, field: str) -> str:
        """Physical docmap column for a (possibly dot-path) field."""
        return self._colmap.get(field, field)

    def inv(self) -> DataFrame:
        return self._inv

    def docs(self) -> DataFrame:
        """The docmap rows of the live segments. docs/ keeps a merged-
        away segment's batch dirs until retention GC removes them, so
        the frame filters on the live segment ids; it is planned once
        per refresh, on first use, so opening an index does not pay for
        the per-segment literals. The engine's own scans select their
        segment ids themselves and read `_docs`."""
        if self._live_docs is None:
            self._live_docs = self._seg_pred_filter(self._docs, self.live_ids)
        return self._live_docs

    def _tokenizer_for_field(self):
        fields = {f.name: f.tokenizer for f in self.config.fields}
        custom = self.config.tokenizers

        def get(field):
            return resolve_tokenizer(fields.get(field, "default"), custom)

        return get

    # ---------- warmup / leaf-result cache analog ----------

    def cache_hot_postings(
        self, terms: list[str], include_positions: bool = False
    ) -> int:
        """Persist the inverted-index rows a hot term set touches
        (postings for `terms` + every norms/stats row) in executor
        memory — the Spark shape of the reference's leaf caches
        (`leaf_cache.rs:25-64` per-(split, request) results +
        warmup byte-range cache): repeated queries over the cached
        terms serve from an InMemoryTableScan instead of re-reading
        Parquet. Returns the number of cached rows. The cache is
        dropped on `refresh()` (segment set changed) or `uncache()`.
        It serves the Spark transport only: a search small enough for
        the driver transport (`_LOCAL_MAX_DOCS`) reads its rows with
        pyarrow and does not look at the cache."""
        tvals = sorted(set(terms))
        base = self._seg_pred_filter(self.inv(), self.live_ids)
        cond = (F.col("kind") == KIND_POSTINGS) & F.col("term").isin(tvals)
        cond = cond | F.col("kind").isin([KIND_NORMS, KIND_STATS])
        if include_positions:
            cond = cond | ((F.col("kind") == KIND_POS) & F.col("term").isin(tvals))
        df = base.filter(cond).persist()
        n = df.count()  # materialize now, not on first query
        self.uncache()
        self._hot = (set(tvals), df, include_positions, frozenset(self.live_ids))
        return n

    def uncache(self):
        if self._hot is not None:
            self._hot[1].unpersist()
            self._hot = None

    def _hot_base(self, tvals, seg_ids, needs_positions: bool):
        """The cached inverted-index frame when it covers this query
        (terms ⊆ cached set, segments ⊆ cached segments), else None."""
        hot = self._hot
        if hot is None:
            return None
        hterms, hdf, hpos, hsegs = hot
        if not set(tvals) <= hterms or not set(seg_ids) <= hsegs:
            return None
        if needs_positions and not hpos:
            return None
        return hdf

    # ---------- planning ----------

    def _prune_segments(self, time_range, ast=None) -> list[str]:
        """Manifest-level pruning: time-range intersection plus tag
        predicates extracted from the query (reference
        `refine_and_list_matches` + `tag_pruning.rs:44-80`). A segment
        whose recorded tag set falsifies the predicate provably holds no
        matching doc and is skipped before any scan."""
        tag_filter = None
        if ast is not None:
            tok = self._tokenizer_for_field()
            tag_filter = extract_tag_filter(
                ast, lambda field, text: tok(field)(text)
            )
        keep = []
        for s in self.segments:
            if time_range is not None and s.time_range is not None:
                lo, hi = time_range  # micros, incl/excl like the reference
                smin, smax = s.time_range
                if (lo is not None and smax < lo) or (hi is not None and smin >= hi):
                    continue
            if tag_filter is not None and not tag_filter.evaluate(set(s.tags or ())):
                continue
            keep.append(s.segment_id)
        return keep

    def _expand_one(
        self,
        fld: str,
        rx: str,
        prefix: str,
        seg_ids: list[str],
        cap: int,
    ) -> tuple:
        """Term-dictionary scan for one pattern: a derived literal-prefix
        RANGE predicate reaches the parquet scan (row-group min/max stats
        prune everything outside [prefix, prefix′) — the analog of the
        reference streaming a bounded automaton range,
        `quickwit-search/src/list_terms.rs:266-276`), then the regex
        filters the surviving rows. Expansion is truncated at `cap`
        in term order (reference `max_expansions` behavior)."""
        df = self._seg_pred_filter(
            self.inv().filter(
                (F.col("kind") == KIND_POSTINGS) & (F.col("field") == fld)
            ),
            seg_ids,
        )
        if prefix:
            df = df.filter(F.col("term") >= prefix)
            upper = _prefix_upper_bound(prefix)
            if upper is not None:
                df = df.filter(F.col("term") < upper)
        if rx is not None:
            df = df.filter(F.col("term").rlike(f"^(?:{rx})$"))
        rows = (
            df.select("term").distinct().orderBy("term").limit(cap).collect()
        )
        return tuple(r["term"] for r in rows)

    def _expand_patterns(self, ast: QueryAst, seg_ids: list[str]) -> QueryAst:
        """Replace Wildcard/Regex by TermSet and resolve PhrasePrefix
        expansions via bounded term-dictionary scans."""

        jobs: dict[tuple, tuple] = {}  # (fld, rx|None, prefix, cap) -> terms

        lowercasing = {"default", "lowercase", "raw_lowercase", "en_stem",
                       "chinese_compatible", "multilang_default",
                       "source_code_default", "source_code_with_hex"}
        fld_tok = {f.name: f.tokenizer for f in self.config.fields}

        def key_for(node):
            if isinstance(node, Wildcard):
                # normalize the literal chars like the field's analyzer
                # normalizes terms: a `raw`/`whitespace` dictionary is
                # case-preserving, so the pattern must stay cased too
                pat = node.pattern
                if fld_tok.get(node.field, "default") in lowercasing:
                    pat = pat.lower()
                lit = pat.split("*")[0].split("?")[0]
                cap = node.max_expansions or DEFAULT_MAX_EXPANSIONS
                return (node.field, _wildcard_to_regex(pat), lit, cap)
            if isinstance(node, Regex):
                cap = node.max_expansions or DEFAULT_MAX_EXPANSIONS
                return (
                    node.field,
                    node.pattern,
                    _regex_literal_prefix(node.pattern),
                    cap,
                )
            # PhrasePrefix: last token is a pure prefix — no regex needed
            toks = self._tokenizer_for_field()(node.field)(node.text)
            last = toks[-1] if toks else ""
            return (node.field, None, last, node.max_expansions)

        def collect(node):
            if isinstance(node, (Wildcard, Regex)):
                jobs.setdefault(key_for(node), None)
            elif isinstance(node, PhrasePrefix) and node.expansions is None:
                jobs.setdefault(key_for(node), None)
            elif isinstance(node, Bool):
                for cl in (*node.must, *node.must_not, *node.should, *node.filter):
                    collect(cl)
            elif isinstance(node, Boost):
                collect(node.query)

        collect(ast)
        if not jobs:
            return ast
        for fld, rx, prefix, cap in list(jobs):
            jobs[(fld, rx, prefix, cap)] = self._expand_one(
                fld, rx, prefix, seg_ids, cap
            )

        def rewrite(node):
            if isinstance(node, (Wildcard, Regex)):
                return TermSet(node.field, jobs[key_for(node)])
            if isinstance(node, PhrasePrefix) and node.expansions is None:
                return PhrasePrefix(
                    field=node.field,
                    text=node.text,
                    max_expansions=node.max_expansions,
                    expansions=jobs[key_for(node)],
                )
            if isinstance(node, Bool):
                return Bool(
                    must=[rewrite(c) for c in node.must],
                    must_not=[rewrite(c) for c in node.must_not],
                    should=[rewrite(c) for c in node.should],
                    filter=[rewrite(c) for c in node.filter],
                    minimum_should_match=node.minimum_should_match,
                )
            if isinstance(node, Boost):
                return Boost(rewrite(node.query), node.boost)
            return node

        return rewrite(ast)

    def _normalize_ast(self, ast: QueryAst) -> QueryAst:
        """Driver-side AST normalization against the index config:

        - `Exists(path)` → `Term(presence_field, path)` when the index
          carries a presence field (reference `index_field_presence`,
          `field_presence.rs:30-80`) — works in ANY bool position, and
          covers intermediate object paths;
        - Range bounds on typed fast columns become typed Python values:
          timestamps parse rfc3339 / ES-`format` / epoch numbers and are
          truncated to the field's declared fast precision (the
          reference truncates bounds and values identically,
          `fast_precision`), numerics accept string forms, lowercase-
          normalized string fields lowercase their bounds
          (`doc_mapping.rs:49-70` fast normalizer)."""
        opts = self.config.field_options or {}
        presence = self.config.presence_field

        def norm_range(node: Range) -> Range:
            dtype = self._doc_types.get(self._fcol(node.field))
            if dtype is None:
                return node
            o = opts.get(node.field, {})

            def conv(v, lower=False):
                if v is None:
                    return None
                if dtype.startswith("timestamp"):
                    return _truncate_dt(
                        _parse_dt_bound(v, node.format),
                        o.get("datetime_precision"),
                    )
                if dtype in ("bigint", "int", "smallint", "tinyint"):
                    # fractional bounds on an integer column: a LOWER
                    # bound rounds UP, an upper bound rounds DOWN —
                    # plain int() truncation would widen gte/narrow lt
                    # (gte=10.5 must not match 10); float-looking
                    # strings ('10.5') go through float first
                    f = float(v)
                    n = int(f)
                    if f != n:
                        import math

                        n = math.ceil(f) if lower else math.floor(f)
                    return n
                if dtype.startswith("decimal"):
                    # u64 columns: full-precision bounds (a 20-digit
                    # gte through float would round ~3 low digits away)
                    import decimal

                    return decimal.Decimal(str(v))
                if dtype in ("double", "float"):
                    return float(v)
                if dtype == "string":
                    s = str(v)
                    return s.lower() if o.get("normalizer") == "lowercase" else s
                return v

            # NB integer columns: a fractional gt lowers to gte of the
            # next int (gt 10.5 ≡ gte 11) and a fractional lt to lte of
            # the previous (lt 10.5 ≡ lte 10); conv's ceil/floor yields
            # exactly that once the strictness stays on the bound
            return Range(
                field=node.field,
                gte=conv(node.gte, lower=True),
                lte=conv(node.lte),
                gt=conv(node.gt),
                lt=conv(node.lt, lower=True),
            )

        position_fields = {
            f.name for f in self.config.fields if f.record == "position"
        }
        tok_for = self._tokenizer_for_field()
        not_indexed = {
            p for p, o in opts.items() if (o or {}).get("indexed") is False
        }

        def walk(node):
            # reference `indexed: false` (updating-mapper.md Example 1):
            # term-level queries on a non-indexed field are REJECTED
            # under the current mapping, whatever older splits hold.
            # Range stays legal — it runs on the fast column — and so
            # does Exists: the reference's ExistsQuery answers from the
            # fast column whenever the field is fast, postings or not
            # (`field_presence.rs:75-82`); it is extracted as a fast
            # predicate in _split_fast_predicates.
            if (
                not_indexed
                and isinstance(
                    node,
                    (Term, TermSet, FullText, Phrase, PhrasePrefix,
                     Wildcard, Regex),
                )
                and node.field in not_indexed
            ):
                raise ValueError(
                    f"field `{node.field}` is not indexed; term queries "
                    "on it are invalid under the current doc mapping"
                )
            if isinstance(node, Exists) and presence is not None:
                return Term(presence, node.field)
            if isinstance(node, FullText) and node.phrase_fallback:
                # reference PhraseFallbackToIntersection
                # (`full_text_query.rs:151-161`): an unquoted literal
                # whose tokenization yields >1 token is a slop-0 PHRASE
                # when the field records positions, else an AND
                # intersection. Single-token literals stay on the term
                # path (a 1-term phrase is score-identical but would
                # drag a needless positions scan into the plan).
                if (
                    node.field in position_fields
                    and len(tok_for(node.field)(node.text)) > 1
                ):
                    return Phrase(field=node.field, text=node.text, slop=0)
                return node
            if isinstance(node, Range):
                return norm_range(node)
            if isinstance(node, Bool):
                return Bool(
                    must=[walk(c) for c in node.must],
                    must_not=[walk(c) for c in node.must_not],
                    should=[walk(c) for c in node.should],
                    filter=[walk(c) for c in node.filter],
                    minimum_should_match=node.minimum_should_match,
                )
            if isinstance(node, Boost):
                return Boost(walk(node.query), node.boost)
            return node

        return walk(ast)

    def _split_fast_predicates(self, ast: QueryAst):
        """Pull Range nodes on docmap columns out of top-level conjunctions
        → (text_ast, spark_filter_column | None)."""
        # a field is range-able on its docmap fast column when it is NOT
        # an indexed text field, or when the config explicitly marks its
        # fast column (dynamic doc mapping: every path is BOTH an
        # indexed field and a fast column)
        opts = self.config.field_options or {}
        text_fields = {
            f.name
            for f in self.config.fields
            if not opts.get(f.name, {}).get("fast")
        }

        def to_filter(node: Range):
            c = qcol(self._fcol(node.field))
            if (
                self._doc_types.get(self._fcol(node.field)) == "string"
                and opts.get(node.field, {}).get("normalizer") == "lowercase"
            ):
                # lowercase-normalized fast column: the stored docmap
                # value is raw; compare case-folded (bounds were folded
                # in _normalize_ast)
                c = F.lower(c)
            conds = []
            if node.gte is not None:
                conds.append(c >= node.gte)
            if node.gt is not None:
                conds.append(c > node.gt)
            if node.lte is not None:
                conds.append(c <= node.lte)
            if node.lt is not None:
                conds.append(c < node.lt)
            out = conds[0]
            for x in conds[1:]:
                out = out & x
            return out

        not_indexed = {
            p for p, o in opts.items() if (o or {}).get("indexed") is False
        }

        def to_exists_filter(node: Exists):
            # reference ExistsQuery on a fast field
            # (`field_presence.rs:75-82`): present ⇔ the doc has ≥1
            # value — a null scalar or null/empty array is absent
            fcol = self._fcol(node.field)
            c = qcol(fcol)
            if (self._doc_types.get(fcol) or "").startswith("array<"):
                return c.isNotNull() & (F.size(c) > 0)
            return c.isNotNull()

        def fast_pred(node):
            """Fast-column predicate (possibly Boost-wrapped — a filter
            clause scores 0, so the boost is inert): Range on a fast
            column, or Exists on a non-indexed fast column (indexed
            fields answer Exists from norms/presence inside the kernel,
            which works in ANY bool position), else None."""
            if isinstance(node, Boost):
                node = node.query
            if isinstance(node, Range) and node.field not in text_fields:
                return to_filter(node)
            if (
                isinstance(node, Exists)
                and node.field in not_indexed
                and self._fcol(node.field) in self._doc_types
            ):
                return to_exists_filter(node)
            return None

        cond0 = fast_pred(ast)
        if cond0 is not None:
            return MatchAll(), cond0
        if isinstance(ast, Bool):
            fast = []
            must = []
            flt = []
            for dst, src in ((must, ast.must), (flt, ast.filter)):
                for cl in src:
                    cond = fast_pred(cl)
                    if cond is not None:
                        fast.append(cond)
                        continue
                    # conjunctive nested Bool: recurse so ranges inside
                    # must/filter-of-must/filter also reach the docmap
                    if (
                        isinstance(cl, Bool)
                        and not cl.should
                        and not cl.must_not
                    ):
                        inner, cond = self._split_fast_predicates(cl)
                        if cond is not None:
                            fast.append(cond)
                            if not (
                                isinstance(inner, MatchAll)
                                or (isinstance(inner, Bool) and not any(
                                    (inner.must, inner.filter, inner.should, inner.must_not)
                                ))
                            ):
                                dst.append(inner)
                            continue
                    dst.append(cl)
            if fast:
                cond = fast[0]
                for x in fast[1:]:
                    cond = cond & x
                if not (must or flt or ast.should or ast.must_not):
                    return MatchAll(), cond
                # residual should/must_not need a MatchAll anchor: the
                # extracted ranges WERE the required clauses, so shoulds
                # stay optional and a must_not-only residue means
                # "everything in range except ..." — without the anchor
                # the kernel would make shoulds mandatory / match nothing
                if not must and not flt and (ast.should or ast.must_not):
                    must = [MatchAll()]
                new_ast = Bool(
                    must=must,
                    must_not=ast.must_not,
                    should=ast.should,
                    filter=flt,
                    minimum_should_match=ast.minimum_should_match,
                )
                return new_ast, cond
        return ast, None

    def _reject_residual_ranges(self, ast: QueryAst) -> None:
        """Fail at PLANNING time (clear message on the driver) for Range
        placements the kernel cannot evaluate — better than an opaque
        NotImplementedError from an executor UDF. Likewise for Exists
        on a non-indexed field left unextracted: it has no postings or
        norms, so the kernel would silently match nothing."""
        not_indexed = {
            p
            for p, o in (self.config.field_options or {}).items()
            if (o or {}).get("indexed") is False
        }

        def walk(node):
            if isinstance(node, Range):
                raise NotImplementedError(
                    "Range is only supported on fast (docmap) columns in "
                    "must/filter position (including nested conjunctions); "
                    f"unsupported placement for field {node.field!r}"
                )
            if isinstance(node, Exists) and node.field in not_indexed:
                raise NotImplementedError(
                    f"`exists` on non-indexed field {node.field!r} runs "
                    "on the fast column and is only supported in "
                    "must/filter position (including nested conjunctions)"
                )
            if isinstance(node, Boost):
                walk(node.query)
            elif isinstance(node, Bool):
                for c in (*node.must, *node.must_not, *node.should, *node.filter):
                    walk(c)

        walk(ast)

    def _term_doc_freqs(self, tvals) -> dict[tuple, int]:
        """(segment_id, field, term) → doc_freq for the given term
        values, served from the per-refresh driver cache; only terms
        never seen since the last refresh cost a (pushed-filter
        metadata) Spark job. Absent keys mean the term does not occur
        in that segment."""
        if len(self._dfreq_fetched) > 200_000:  # bound driver memory
            self._dfreq.clear()
            self._dfreq_fetched.clear()
        need = sorted(set(tvals) - self._dfreq_fetched)
        if need:
            rows = (
                self._seg_pred_filter(
                    self.inv().filter(
                        (F.col("kind") == KIND_POSTINGS)
                        & F.col("term").isin(need)
                    ),
                    self.live_ids,
                )
                .select("segment_id", "field", "term", "doc_freq")
                .collect()
            )
            for r in rows:
                # merged segments CHUNK hot-term postings (several rows
                # per (segment, field, term), one per docid range) —
                # the term's doc_freq is the SUM over its chunk rows
                k = (r["segment_id"], r["field"], r["term"])
                self._dfreq[k] = self._dfreq.get(k, 0) + int(r["doc_freq"])
            self._dfreq_fetched.update(need)
        ts = set(tvals)
        return {k: v for k, v in self._dfreq.items() if k[2] in ts}

    def _global_stats(self, terms: list[tuple[str, str]]) -> dict:
        """Global (N, total_tokens) per field from the manifest + global
        doc_freq per term from the cached term stats."""
        fields: dict[str, dict] = {}
        for s in self.segments:
            for fld, st in s.field_stats.items():
                agg = fields.setdefault(fld, {"doc_count": 0, "total_tokens": 0})
                agg["doc_count"] += st["doc_count"]
                agg["total_tokens"] += st["total_tokens"]
        term_df: dict[tuple[str, str], int] = {}
        if terms:
            tvals = sorted({t for _, t in terms})
            for (sid, fld, t), d in self._term_doc_freqs(tvals).items():
                term_df[(fld, t)] = term_df.get((fld, t), 0) + d
        return {"fields": fields, "terms": term_df}

    # ---------- execution ----------

    _SEG_IN_MAX = 1000

    def _seg_pred_filter(self, df: DataFrame, seg_ids) -> DataFrame:
        """segment_id membership filter: a literal In (pushed into the
        parquet scan) at normal segment counts, a broadcast left-semi
        join past _SEG_IN_MAX — a 100k-split In literal bloats plan
        analysis and is no longer pushable anyway (the reference's
        split pruning hands each leaf an explicit split list; this is
        the plan-size-safe analog)."""
        ids = list(seg_ids)
        if len(ids) <= self._SEG_IN_MAX:
            return df.filter(F.col("segment_id").isin(ids))
        ids_df = self.spark.createDataFrame(
            [(s,) for s in ids], "segment_id string"
        )
        return df.join(F.broadcast(ids_df), "segment_id", "left_semi")

    # ---------- driver transport ----------

    # searches whose segments (after time/tag pruning) hold at most this
    # many docs run the top-k leaf, the winner fetch and count() on the
    # driver: pyarrow reads of the searched segments into the same
    # `SegmentData.from_rows` + `leaf_search` calls the Spark frame
    # makes, with no Python stage to dispatch. Measured crossover
    # (CHANGES.md, 10 k-10 M docs, solo and 4/9 concurrent clients): the
    # driver was faster at every size, but its work holds the GIL, so
    # at 10 M docs its throughput under concurrent clients only matched
    # Spark's. 3 M is the largest measured size at which it won on
    # every class solo and on both latency and throughput concurrently.
    _LOCAL_MAX_DOCS = 3_000_000

    def _leaf_transport(self, ast, fast_filter, seg_ids, mode: str) -> str:
        """"driver" or "spark" for the leaf of a search over `seg_ids`.
        Oracle scores (rounded by Spark) and the unfiltered match-all
        leaf (a docmap window, no kernel) stay on Spark, as does a
        segment list newer than the refresh's pyarrow datasets."""
        if mode != "parity" or (isinstance(ast, MatchAll) and fast_filter is None):
            return "spark"
        keep = set(seg_ids)
        if not keep <= self._arrow.segment_ids:
            return "spark"
        n_docs = sum(s.num_docs for s in self.segments if s.segment_id in keep)
        return "driver" if n_docs <= self._LOCAL_MAX_DOCS else "spark"

    def _driver_leaf_filter(self, ast, seg_ids):
        """The pushed filter of the driver leaf's inv/ read: the kind
        partitions it needs, the searched segment ids and the query
        terms (row-group stats over the sorted term runs) — the rows
        `_matches` feeds the kernel."""
        tok = self._tokenizer_for_field()
        tvals = sorted({t for _, t in collect_fulltext_terms(ast, tok)})
        kind, term = pds.field("kind"), pds.field("term")
        want = kind.isin([KIND_NORMS, KIND_STATS])
        if tvals:
            want = want | ((kind == KIND_POSTINGS) & term.isin(tvals))
            if _has_phrase(ast):
                want = want | ((kind == KIND_POS) & term.isin(tvals))
        return pds.field("segment_id").isin(sorted(seg_ids)) & want

    def _allowed_ids_frame(self, fast_filter, seg_ids) -> DataFrame:
        """(segment_id, doc_id) of the docs passing the fast filter: a
        pushed-filter docmap scan."""
        return (
            self._seg_pred_filter(self._docs, seg_ids)
            .filter(fast_filter)
            .select("segment_id", "doc_id")
        )

    def _driver_leaf(
        self,
        ast: QueryAst,
        seg_ids: list[str],
        k: int,
        fast_filter=None,
        use_wand: bool = True,
        search_after: tuple | None = None,
    ) -> tuple[list[tuple], dict]:
        """The top-k leaf of `_matches`, run on the driver: one pyarrow
        read of the searched segments' rows, then per segment the same
        `SegmentData.from_rows` + `leaf_search` calls. With a fast
        filter the allowed doc ids come from one docmap scan collected
        as Arrow (a JVM-only job). `k=0` counts only.
        → (partial hits [(score, segment_id, doc_id)], {segment_id:
        num_hits}) — the rows the Spark leaf frame collects to."""
        if not seg_ids:
            return [], {}
        rows = self._arrow.inv.to_table(
            filter=self._driver_leaf_filter(ast, seg_ids)
        ).to_pylist()
        by_seg: dict[str, list] = {}
        for r in rows:
            by_seg.setdefault(r["segment_id"], []).append(r)
        allowed_by = None
        if fast_filter is not None:
            ids = (
                self._allowed_ids_frame(fast_filter, seg_ids)
                .toArrow()
                .group_by("segment_id")
                .aggregate([("doc_id", "list")])
            )
            allowed_by = {
                sid: lst.values.to_numpy().astype(np.int64)
                for sid, lst in zip(
                    ids.column("segment_id").to_pylist(),
                    ids.column("doc_id_list"),
                )
            }
        tok = self._tokenizer_for_field()
        score_cutoff = search_after[0] if search_after is not None else None
        partial: list[tuple] = []
        counts: dict[str, int] = {}
        no_ids = np.zeros(0, np.int64)
        for sid, seg_rows in by_seg.items():
            allowed = None if allowed_by is None else allowed_by.get(sid, no_ids)
            docids, scores, num_hits = _segment_leaf(
                sid,
                seg_rows,
                allowed,
                ast,
                tok,
                k=k,
                k1=self.config.k1,
                b=self.config.b,
                use_wand=use_wand,
                score_cutoff=score_cutoff,
            )
            counts[sid] = int(num_hits)
            partial.extend(
                (score, sid, did)
                for score, did in zip(
                    scores.astype(np.float64).tolist(),
                    docids.astype(np.int64).tolist(),
                )
            )
        return partial, counts

    def _driver_fetch(self, cols, keys) -> dict:
        """`_fetch` read on the driver: the winners' docmap rows from the
        refresh's pyarrow dataset, segment/doc id In filters pushed to
        the row-group stats, values converted as Spark's collect
        converts them. → {(segment_id, doc_id): row dict}."""
        snap = self._arrow
        phys = list(
            dict.fromkeys(
                ["segment_id", "doc_id", "doc_key", *(self._fcol(c) for c in cols)]
            )
        )
        tbl = snap.docs.to_table(
            columns=phys,
            filter=pds.field("segment_id").isin(sorted({s for s, _ in keys}))
            & pds.field("doc_id").isin(sorted({d for _, d in keys})),
        )
        vals = {c: _arrow_pylist(tbl.column(c), snap.doc_types[c]) for c in phys}
        out = {}
        for i, key in enumerate(zip(vals["segment_id"], vals["doc_id"])):
            row = {"doc_key": vals["doc_key"][i]}
            row.update((c, vals[self._fcol(c)][i]) for c in cols)
            out[key] = row
        return out

    def _matches(
        self,
        ast: QueryAst,
        seg_ids: list[str],
        k: int | None,
        mode: str,
        fast_filter=None,
        use_wand: bool = True,
        search_after: tuple | None = None,
    ) -> DataFrame:
        """Per-segment kernel execution. k=None → every match as
        (segment_id, doc_id, score). Top-k mode (k given) → LEAF_SCHEMA:
        ≤ k partial hits per segment (plus ties at the search_after
        score, which is pushed in as a cutoff) and one count row per
        segment with its exact match count."""
        tok = self._tokenizer_for_field()
        terms = collect_fulltext_terms(ast, tok)
        gstats = self._global_stats(terms) if mode == "oracle" else None
        tvals = sorted({t for _, t in terms})
        if not tvals and fast_filter is None and isinstance(ast, MatchAll):
            # match-all without filters: answer straight from the docmap
            docs = self._seg_pred_filter(self._docs, seg_ids)
            if k is None:
                return docs.select(
                    "segment_id", "doc_id", F.lit(0.0).alias("score")
                )
            return self._match_all_leaf(docs, k, search_after)
        needs_pos = _has_phrase(ast)
        hot = self._hot_base(tvals, seg_ids, needs_pos)
        if hot is not None:
            # warmup-cache hit: one in-memory filter instead of Parquet
            # scans (the leaf-cache analog, `leaf_cache.rs:25-64`)
            cond = (F.col("kind") == KIND_POSTINGS) & F.col("term").isin(tvals)
            cond = cond | F.col("kind").isin([KIND_NORMS, KIND_STATS])
            if needs_pos:
                cond = cond | (
                    (F.col("kind") == KIND_POS) & F.col("term").isin(tvals)
                )
            inv = self._seg_pred_filter(hot, seg_ids).filter(cond)
        else:
            # two scans unioned instead of one OR-filter: the term
            # predicate then reaches the postings scan as a pushed
            # parquet filter (terms are written sorted per segment →
            # row-group min/max stats skip everything but the needed
            # term ranges — the warmup/prefetch analog, done by the
            # reader for free)
            base = self._seg_pred_filter(self.inv(), seg_ids)
            inv = base.filter(
                (F.col("kind") == KIND_POSTINGS) & F.col("term").isin(tvals)
            ).unionByName(
                base.filter(F.col("kind").isin([KIND_NORMS, KIND_STATS]))
            )
            if needs_pos:
                inv = inv.unionByName(
                    base.filter(
                        (F.col("kind") == KIND_POS) & F.col("term").isin(tvals)
                    )
                )
        cfg_fields = {f.name: f.tokenizer for f in self.config.fields}
        custom_toks = self.config.tokenizers
        k1, b = self.config.k1, self.config.b
        score_cutoff = search_after[0] if search_after is not None else None
        topk = k is not None
        schema = LEAF_SCHEMA if topk else MATCH_SCHEMA

        def make_eval(with_allowed: bool):
            def out(segment_id, docids, scores, num_hits):
                cols = {
                    "segment_id": segment_id,
                    "doc_id": docids.astype(np.int64),
                    "score": scores.astype(np.float64),
                }
                if not topk:
                    return pd.DataFrame(cols)
                # the segment's count row goes last, null doc_id/score
                n = len(docids)
                return pd.DataFrame(
                    {
                        "segment_id": segment_id,
                        "doc_id": pd.array([*cols["doc_id"], None], "Int64"),
                        "score": pd.array([*cols["score"], None], "Float64"),
                        "num_hits": pd.array([None] * n + [num_hits], "Int64"),
                    }
                )

            def run(seg_pdf: pd.DataFrame, allowed_pdf: pd.DataFrame | None):
                empty = np.zeros(0, np.int64)
                if len(seg_pdf) == 0:
                    return out("", empty, empty, 0).iloc[:0]
                segment_id = seg_pdf["segment_id"].iloc[0]
                allowed = None
                if with_allowed:
                    allowed = (
                        empty
                        if allowed_pdf is None
                        else allowed_pdf["doc_id"].to_numpy(np.int64)
                    )
                docids, scores, num_hits = _segment_leaf(
                    segment_id,
                    seg_pdf.to_dict("records"),
                    allowed,
                    ast,
                    lambda f: resolve_tokenizer(
                        cfg_fields.get(f, "default"), custom_toks
                    ),
                    k=k,
                    mode=mode,
                    global_stats=gstats,
                    k1=k1,
                    b=b,
                    use_wand=use_wand,
                    score_cutoff=score_cutoff,
                )
                return out(segment_id, docids, scores, num_hits)

            return run

        # pin the kernel's shuffle width: groupBy.applyInPandas would
        # inherit spark.sql.shuffle.partitions reducers, each paying a
        # Python-worker dispatch even when its groups are empty — for a
        # rare term that overhead IS the query (measured ~1.5 s of a
        # 2.6 s top-k at 20 M docs). One reducer per segment, capped at
        # one worker wave, keeps every dispatched worker busy; an
        # explicit repartition by the group key satisfies the required
        # distribution, so no second shuffle is added.
        sc = self.spark.sparkContext
        n_groups = (
            len(seg_ids) if seg_ids is not None else len(self.segments)
        )
        task_cpus = int(self.spark.conf.get("spark.task.cpus", "1") or 1)
        wave = max(1, sc.defaultParallelism // task_cpus)
        kparts = max(1, min(n_groups or 1, wave))
        if fast_filter is not None:
            allowed_df = self._allowed_ids_frame(fast_filter, seg_ids)
            fn = make_eval(True)
            return (
                inv.repartition(kparts, "segment_id")
                .groupBy("segment_id")
                .cogroup(
                    allowed_df.repartition(kparts, "segment_id").groupBy(
                        "segment_id"
                    )
                )
                .applyInPandas(lambda l, r: fn(l, r), schema)
            )
        fn = make_eval(False)
        return (
            inv.repartition(kparts, "segment_id")
            .groupBy("segment_id")
            .applyInPandas(lambda pdf: fn(pdf, None), schema)
        )

    @staticmethod
    def _match_all_leaf(docs: DataFrame, k: int, search_after) -> DataFrame:
        """Top-k leaf rows of an unfiltered match-all: every score is 0,
        so rank order is doc_key desc — the search_after cursor and the
        per-segment top-k both apply on the docmap rows themselves, and
        the partial hits stay ≤ k per segment even when paginating.
        No count rows: the manifest holds the exact counts."""
        if search_after is not None:
            sa_score = search_after[0]
            sa_key = search_after[1] if len(search_after) > 1 else None
            if sa_score == 0.0 and sa_key is not None:
                docs = docs.filter(F.col("doc_key") < sa_key)
            elif not sa_score > 0.0:
                docs = docs.limit(0)
        wseg = Window.partitionBy("segment_id").orderBy(F.col("doc_key").desc())
        return (
            docs.withColumn("_mr", F.row_number().over(wseg))
            .filter(F.col("_mr") <= k)
            .select(
                "segment_id",
                F.col("doc_id").cast("long").alias("doc_id"),
                F.lit(0.0).alias("score"),
                F.lit(None).cast("long").alias("num_hits"),
            )
        )

    def _ast_time_bounds(self, ast) -> tuple[int | None, int | None]:
        """(lo_incl, hi_excl) micros implied by Range nodes on the time
        column in REQUIRED positions (must/filter of conjunctions) — the
        reference refines `start/end_timestamp` from the query AST the
        same way before split pruning
        (`quickwit-search/src/root.rs:1108-1137`,
        `refine_start_end_timestamp_from_ast`). Optional (should) and
        negated clauses never narrow the bounds."""
        tcol = self.config.time_column
        lo = hi = None

        def micros(v) -> int | None:
            import datetime as _dt

            if isinstance(v, (int, float)):
                return int(v)
            if isinstance(v, str):
                try:
                    v = _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
                except ValueError:
                    return None  # unparseable bound: skip refinement,
                    # the exact docmap filter still applies
            if isinstance(v, _dt.datetime):
                if v.tzinfo is None:
                    v = v.replace(tzinfo=_dt.timezone.utc)
                return int(v.timestamp() * 1_000_000)
            return None

        def walk(node):
            nonlocal lo, hi
            if isinstance(node, Boost):
                walk(node.query)
                return
            if isinstance(node, Range) and self._fcol(node.field) == tcol:
                for v, bump in ((node.gte, 0), (node.gt, 1)):
                    m = micros(v) if v is not None else None
                    if m is not None:
                        m += bump
                        lo = m if lo is None else max(lo, m)
                for v, bump in ((node.lte, 1), (node.lt, 0)):
                    m = micros(v) if v is not None else None
                    if m is not None:
                        m += bump
                        hi = m if hi is None else min(hi, m)
                return
            if isinstance(node, Bool):
                # must/filter stay required even when should clauses
                # exist (shoulds only ever narrow further) — so their
                # ranges refine; shoulds/must_nots never do
                for cl in list(node.must) + list(node.filter):
                    walk(cl)

        walk(ast)
        return lo, hi

    def _resolve(self, query, time_range):
        ast = (
            parse_query(
                query,
                [f.name for f in self.config.fields],
                position_fields={
                    f.name for f in self.config.fields if f.record == "position"
                },
            )
            if isinstance(query, str)
            else query
        )
        ast = self._normalize_ast(ast)
        if self.config.time_column:
            ast_lo, ast_hi = self._ast_time_bounds(ast)
            if ast_lo is not None or ast_hi is not None:
                lo, hi = time_range if time_range is not None else (None, None)
                if ast_lo is not None:
                    lo = ast_lo if lo is None else max(lo, ast_lo)
                if ast_hi is not None:
                    hi = ast_hi if hi is None else min(hi, ast_hi)
                time_range = (lo, hi)
        seg_ids = self._prune_segments(time_range, ast)
        ast = self._expand_patterns(ast, seg_ids)
        ast, fast_filter = self._split_fast_predicates(ast)
        self._reject_residual_ranges(ast)
        return ast, fast_filter, seg_ids

    def match_docs(
        self, query, time_range=None, mode: str = "parity", _resolved=None
    ) -> DataFrame:
        """All matching docs (no top-k): (segment_id, doc_id, score)."""
        ast, fast_filter, seg_ids = (
            _resolved if _resolved is not None else self._resolve(query, time_range)
        )
        return self._matches(ast, seg_ids, None, mode, fast_filter)

    def count(self, query, time_range=None, segments=None, _resolved=None) -> int:
        """Hit count. Fast paths (reference `leaf.rs:466-468` metadata
        counts): match-all answers from the manifest; a bare Term
        answers from the postings doc_freq metadata — a narrow
        pushed-filter scan, no kernel, exact because pending deletes
        stay searchable until rewrite. Other queries count with a
        count-only (k=0) leaf on the driver when `_leaf_transport`
        picks it, else with the kernel frame. `segments` restricts the
        count to a segment subset (the early-termination underestimate
        path)."""
        ast, fast_filter, seg_ids = (
            _resolved if _resolved is not None else self._resolve(query, time_range)
        )
        if segments is not None:
            keep = set(segments)
            seg_ids = [s for s in seg_ids if s in keep]
        if fast_filter is None:
            if isinstance(ast, MatchAll):
                keep = set(seg_ids)
                return sum(s.num_docs for s in self.segments if s.segment_id in keep)
            if isinstance(ast, Term):
                keep = set(seg_ids)
                return sum(
                    d
                    for (sid, fld, _t), d in self._term_doc_freqs(
                        [ast.value]
                    ).items()
                    if fld == ast.field and sid in keep
                )
        if self._leaf_transport(ast, fast_filter, seg_ids, "parity") == "driver":
            return sum(self._driver_leaf(ast, seg_ids, 0, fast_filter)[1].values())
        return self._matches(ast, seg_ids, None, "parity", fast_filter).count()

    def count_up_to(
        self, query, n: int, time_range=None, _resolved=None
    ) -> tuple[int, bool]:
        """Count accurately up to `n` hits, then stop — the ES
        `track_total_hits: <int>` semantics the reference lowers to
        `CountHits::Underestimate` (`rest_handler.rs:364-367`,
        `search.proto:245-248`). Segments are counted in manifest order
        in small batches; once the running total reaches `n` the
        remaining segments are never touched, so at a 100×-scale index
        a hot query stops after the first batch instead of scanning the
        fleet. Returns `(count, exhausted)`: `exhausted=True` means
        every live segment was counted and the value is exact (wire
        relation `eq`), else it is a lower bound (`gte`)."""
        resolved = (
            _resolved if _resolved is not None else self._resolve(query, time_range)
        )
        return _count_up_to_batches(
            resolved[2],
            n,
            lambda segs: self.count(
                query, time_range, segments=segs, _resolved=resolved
            ),
        )

    def sort_by_field(
        self,
        query,
        sort_field: str,
        k: int = 10,
        descending: bool = True,
        time_range=None,
        fetch: list[str] | None = None,
        tie_by_key: bool = False,
        search_after: tuple | None = None,
        _resolved: tuple | None = None,
    ) -> DataFrame:
        """Top-k by a fast (docmap) column instead of BM25.

        Reference semantics (`docs/internals/sorting.md:8-25`,
        `collector.rs:1114-1175`): desc is the default order, missing
        values sort LAST regardless of direction, ties break by doc
        address (segment_id, doc_id) following the primary order
        (`tie_by_key=True` breaks by doc_key instead — a stable
        engine-independent order); and scoring is skipped entirely when
        the sort key isn't `_score` (`collector.rs:821-831`).

        `search_after=(sort_value[, sort_value2], doc_key)` paginates:
        hits strictly after the cursor in sort order (None sort_value =
        the cursor sat in that key's missing-values tail). Implies
        `tie_by_key`. Two-key sorts cursor over BOTH sort values with
        per-key direction and missing-last semantics (reference
        `search.proto:240-243`, `docs/internals/sorting.md:15-25`).

        `sort_field` may also be a list of up to TWO (field, descending)
        pairs — the reference's ≤2 sort keys (`collector.rs:40-205`),
        each with its own direction and missing-last semantics; the
        second key's value is returned as `sort_value2`.
        → (doc_key, sort_value[, sort_value2], rank[, fetch])."""
        if isinstance(sort_field, (list, tuple)) and not isinstance(sort_field, str):
            specs = [
                (f, descending) if isinstance(f, str) else (f[0], bool(f[1]))
                for f in sort_field
            ]
        else:
            specs = [(sort_field, descending)]
        if len(specs) > 2:
            raise ValueError("at most 2 sort keys (reference collector limit)")
        sort_cols = [f for f, _ in specs]
        out_aliases = ["sort_value", "sort_value2"][: len(specs)]
        # fetch columns keep their OWN names even when they are also a
        # sort key (the sort key additionally appears as sort_value*) —
        # an ES `_source` listing a sort field must not read back null.
        # Unknown fields are silently absent like the score path
        # (reference filter_source semantics), not an AnalysisException.
        fetch_cols = self._fetch_cols(fetch)
        ast, fast_filter, seg_ids = (
            _resolved if _resolved is not None else self._resolve(query, time_range)
        )
        m = self._matches(ast, seg_ids, None, "parity", fast_filter, use_wand=False)
        docs = self._docs.select(
            "segment_id", "doc_id", "doc_key",
            *[qcol(self._fcol(f)).alias(a) for (f, _), a in zip(specs, out_aliases)],
            *[qcol(self._fcol(c)).alias(c) for c in fetch_cols],
        )
        hits = docs.join(m.select("segment_id", "doc_id"), ["segment_id", "doc_id"])
        if search_after is not None:
            tie_by_key = True
            vals = list(search_after)
            if len(vals) == len(specs) + 1:
                cursor_vals, sa_key = vals[:-1], vals[-1]
            elif len(vals) == len(specs):
                # ES semantics: cursor carries the sort values ONLY —
                # rows tying the cursor on every key are skipped
                cursor_vals, sa_key = vals, None
            else:
                raise ValueError(
                    f"search_after needs {len(specs)} sort value(s) "
                    "(+ optional doc_key)"
                )
            # lexicographic strictly-after, per-key direction, nulls last:
            # fold right-to-left — after_i | (equal_i & after_{i+1});
            # the doc_key tie-break follows the PRIMARY order (reference
            # sorting.md: tie key follows the primary direction)
            key = F.col("doc_key")
            if sa_key is None:
                pred = F.lit(False)
            else:
                pred = key < sa_key if specs[0][1] else key > sa_key
            for (_, desc_), alias, cv in reversed(
                list(zip(specs, out_aliases, cursor_vals))
            ):
                sv = F.col(alias)
                if cv is None:
                    # cursor sat in this key's missing tail: only other
                    # missing rows can follow at this key
                    after, eq = F.lit(False), sv.isNull()
                else:
                    after = (sv < cv if desc_ else sv > cv) | sv.isNull()
                    eq = sv == cv
                pred = after | (eq & pred)
            hits = hits.filter(pred)
        tie = (
            [F.col("doc_key")]
            if tie_by_key
            else [F.col("segment_id"), F.col("doc_id")]
        )
        order = []
        for (_, desc_), a in zip(specs, out_aliases):
            c = F.col(a)
            order.append(c.desc_nulls_last() if desc_ else c.asc_nulls_last())
        primary_desc = specs[0][1]
        order += [c.desc() if primary_desc else c.asc() for c in tie]
        hits = hits.orderBy(*order).limit(k)
        # rank runs on the <= k winner rows — WindowExec's global-
        # window warning here is about a plan that never exceeds k rows
        w = Window.orderBy(*order)
        return hits.select(
            "doc_key", *out_aliases, F.row_number().over(w).alias("rank"),
            *[qcol(c) for c in fetch_cols],
            *(["segment_id"] if self._multi_gen else []),
        )

    # partial hits up to this many are fetched through a doc_id In
    # list pushed into the docmap scan; past it the list bloats plan
    # analysis, so the pairs are broadcast into a semi join instead
    _FETCH_IN_MAX = 4096

    def _fetch_cols(self, fetch) -> list[str]:
        """The docmap columns a fetch list (ES `_source`) reads, each
        once. `_source` is a FILTER over the stored doc: unknown fields
        are silently absent from the hit (reference filter_source,
        `rest_handler.rs:674-742`), never an error. The doc key is in
        every hit already (`doc_key`; `es_search_response` also shows
        it under the index's doc-key field name), so it is not read
        again. The docmap's positional and partition columns are not
        document fields: naming one is a ValueError."""
        key = self.config.doc_key
        internal = [
            c for c in fetch or []
            if c in ("segment_id", "doc_id", "batch_id") and c != key
        ]
        if internal:
            raise ValueError(
                f"_source names internal index column(s) {internal}"
            )
        doc_cols = set(self._doc_types)
        return list(
            dict.fromkeys(
                c
                for c in fetch or []
                if c not in ("doc_key", key) and self._fcol(c) in doc_cols
            )
        )

    def _hit_cols(self, fetch, snippet_fields) -> tuple[list[str], list[str]]:
        """(fetch columns, fetch + snippet source columns) of a score
        search. Snippet fields DO validate — the reference 400s "the
        snippet field `x` must be stored" (`root.rs:313-335`)."""
        doc_cols = set(self._doc_types)
        fetch_cols = self._fetch_cols(fetch)
        bad = [c for c in snippet_fields if self._fcol(c) not in doc_cols]
        if bad:
            raise ValueError(
                f"snippet field(s) not stored in the docmap: {bad}"
            )
        raw_cols = fetch_cols + [c for c in snippet_fields if c not in fetch_cols]
        return fetch_cols, raw_cols

    def _fetch_frame(self, cols, seg_set=None, doc_ids=None) -> DataFrame:
        """The winner-fetch scan (fetch_docs analog): docmap rows
        (segment_id, doc_id, doc_key, *cols), with the partial hits'
        segment ids and doc ids pushed into the parquet reader as In
        filters (row-group pruning; the docmap is never shuffled)."""
        docs = self._docs.select(
            "segment_id", "doc_id", "doc_key",
            *[qcol(self._fcol(c)).alias(c) for c in cols],
        )
        if seg_set is not None:
            docs = self._seg_pred_filter(docs, seg_set)
        if doc_ids is not None:
            docs = docs.filter(F.col("doc_id").isin(doc_ids))
        return docs

    def _fetch(self, cols, keys, driver: bool = False) -> dict:
        """{(segment_id, doc_id): docmap row} for the (segment_id,
        doc_id) pairs `keys`, in one scan. `driver` reads it with
        pyarrow when the index has one doc-mapping generation (the Spark
        read applies `align_generations`) and every column is of a type
        the driver read converts."""
        if not keys:
            return {}
        snap = self._arrow
        if (
            driver
            and snap.docs is not None
            and all(self._fcol(c) in snap.doc_types for c in ("doc_key", *cols))
        ):
            return self._driver_fetch(cols, keys)
        seg_set = sorted({s for s, _ in keys})
        if len(keys) <= self._FETCH_IN_MAX:
            frame = self._fetch_frame(cols, seg_set, sorted({d for _, d in keys}))
        else:
            pairs = self.spark.createDataFrame(
                list(keys), "segment_id string, doc_id long"
            )
            frame = self._fetch_frame(cols, seg_set).join(
                F.broadcast(pairs), ["segment_id", "doc_id"], "left_semi"
            )
        return {(r["segment_id"], r["doc_id"]): r for r in frame.collect()}

    def _leaf(
        self,
        ast: QueryAst,
        fast_filter,
        seg_ids: list[str],
        k: int,
        mode: str = "parity",
        use_wand: bool = True,
        search_after: tuple | None = None,
    ) -> tuple[list[tuple], dict, bool]:
        """The top-k leaf (reference leaf search, SURVEY §3.1 step 5):
        ONE collect of the kernel frame or, for small searches, the same
        kernel run on the driver over a pyarrow read (`_leaf_transport`).
        Per segment ≤ k partial hits (plus ties at the search_after
        score) and the exact num_hits, counted before the cursor and
        the top-k cut. → (partial hits [(score, segment_id, doc_id)],
        {segment_id: num_hits}, whether the leaf ran on the driver)."""
        driver = self._leaf_transport(ast, fast_filter, seg_ids, mode) == "driver"
        if driver:
            partial, counts = self._driver_leaf(
                ast, seg_ids, k, fast_filter, use_wand, search_after
            )
        else:
            leaf = self._matches(
                ast, seg_ids, k, mode, fast_filter, use_wand, search_after
            )
            if mode == "oracle":
                leaf = leaf.withColumn("score", F.round(F.col("score"), 9))
            counts: dict[str, int] = {}
            partial = []
            for r in leaf.collect():
                if r["doc_id"] is None:
                    counts[r["segment_id"]] = r["num_hits"]
                else:
                    partial.append((r["score"], r["segment_id"], r["doc_id"]))
        if isinstance(ast, MatchAll) and fast_filter is None:
            keep = set(seg_ids)
            counts = {
                s.segment_id: s.num_docs
                for s in self.segments
                if s.segment_id in keep
            }
        return partial, counts, driver

    def _root(
        self,
        partial: list[tuple],
        k: int,
        search_after: tuple | None = None,
        cols=(),
        driver: bool = False,
    ) -> list[dict]:
        """The root over the leaves' partial hits (reference root merge
        and fetch_docs, SURVEY §3.1 steps 6-7): the driver applies the
        cursor, keeps the candidates that can still win, fetches their
        docmap rows in one scan (with pyarrow when `driver`) and ranks
        them by (score desc, doc_key desc). → ≤ k hit dicts in rank
        order with doc_key, score, rank, *cols (+ segment_id after a
        doc-mapping update)."""
        sa_score = sa_key = None
        if search_after is not None:
            # strictly after the cursor. The kernel's cutoff is
            # permissive (oracle margin), so the score test is redone
            # here; a tie at the cursor score needs the doc_key, which
            # only the fetch brings — a values-only cursor skips ties.
            sa_score = search_after[0]
            sa_key = search_after[1] if len(search_after) > 1 else None
            partial = [
                p for p in partial
                if p[0] < sa_score or (sa_key is not None and p[0] == sa_score)
            ]
        # only docs scoring at least the k-th best SURE candidate can
        # win; candidates tied at the cursor score may still fail the
        # doc_key test, so they never set the bar
        sure = [p[0] for p in partial if sa_score is None or p[0] < sa_score]
        if 0 < k <= len(sure):
            theta = heapq.nlargest(k, sure)[-1]
            partial = [p for p in partial if p[0] >= theta]
        rows = self._fetch(cols, [(sid, did) for _, sid, did in partial], driver)
        hits = []
        for score, sid, did in partial:
            r = rows.get((sid, did))
            if r is None:
                continue  # no docmap row: an inner join would drop it too
            key = r["doc_key"]
            if sa_score is not None and score == sa_score and (
                key is None or not key < sa_key
            ):
                continue
            hit = {"doc_key": key, "score": score}
            hit.update((c, r[c]) for c in cols)
            if self._multi_gen:
                hit["segment_id"] = sid
            hits.append(hit)
        hits.sort(
            key=lambda h: (h["score"], h["doc_key"] is not None, h["doc_key"]),
            reverse=True,
        )
        hits = hits[: max(k, 0)]
        for rank, h in enumerate(hits, 1):
            h["rank"] = rank
        return hits

    def _topk(
        self,
        resolved: tuple,
        k: int,
        mode: str = "parity",
        search_after: tuple | None = None,
        cols=(),
        use_wand: bool = True,
    ) -> tuple[list[dict], dict]:
        """Top-k by BM25 as one leaf→root pass (`_leaf`, then `_root`).
        → (hits, {segment_id: num_hits} over the searched segments)."""
        ast, fast_filter, seg_ids = resolved
        partial, counts, driver = self._leaf(
            ast, fast_filter, seg_ids, k, mode, use_wand, search_after
        )
        return self._root(partial, k, search_after, cols, driver), counts

    def _add_snippets(self, ast, hits: list[dict], fields, max_chars: int = 150):
        """`snippet_<field>` on each of the ≤ k driver rows `hits`,
        which carry the raw field values: the best fragment of the field
        highlighted on the query's terms for that field (reference
        `fetch_docs.rs:108-167`, made in the fetch phase)."""
        from quickwit_spark.search.snippets import snippet_for_text

        tok = self._tokenizer_for_field()
        per_field: dict[str, dict] = {}
        for fld, t in collect_fulltext_terms(ast, tok):
            per_field.setdefault(fld, {})[t] = 1.0
        for f in fields:
            scores = per_field.get(f, {})
            for h in hits:
                h[f"snippet_{f}"] = snippet_for_text(h.get(f), scores, max_chars)

    def _hits_schema(self, cols, snippet_fields=()) -> T.StructType:
        """The schema of a score search's hits: (doc_key, score, rank,
        *cols, snippet_<field>…[, segment_id])."""
        gen = ["segment_id"] if self._multi_gen else []
        fields = {f.name: f for f in self._fetch_frame(cols).schema}
        return T.StructType(
            [
                fields["doc_key"],
                T.StructField("score", T.DoubleType()),
                T.StructField("rank", T.IntegerType()),
                *[fields[c] for c in cols],
                *[T.StructField(f"snippet_{f}", T.StringType()) for f in snippet_fields],
                *[fields[c] for c in gen],
            ]
        )

    def _hits_frame(self, hits: list[dict], cols, snippet_fields=()) -> DataFrame:
        """The driver rows of a score search as a DataFrame of
        `_hits_schema`."""
        return rows_frame(self.spark, hits, self._hits_schema(cols, snippet_fields))

    def search(
        self,
        query,
        k: int = 10,
        mode: str = "parity",
        time_range=None,
        search_after: tuple | None = None,
        fetch: list[str] | None = None,
        use_wand: bool = True,
        snippet_fields: list[str] | None = None,
        snippet_max_chars: int = 150,
        _resolved: tuple | None = None,
    ) -> DataFrame:
        """Top-k by BM25 desc → (doc_key, score, rank [, fetch cols]
        [, snippet_<field> cols]).

        Runs the one-pass `_topk` core eagerly, makes the snippets on its
        ≤ k driver rows and wraps them in a DataFrame.

        `search_after=(score, doc_key)` returns hits strictly after the
        cursor in rank order (reference pagination,
        `search.proto:240-243`). The cursor's score is PUSHED INTO the
        per-segment kernel as a cutoff (docs above it are pruned and
        per-segment top-k still applies), so a paginated hot-term query
        collects ≤ (k + cutoff-ties) × segments partial hits — never
        the full match set.

        `snippet_fields` adds highlighted best-fragment columns for the
        k winners (reference `fetch_docs.rs:41-167`); each named field
        must be in the index's stored_columns. `_resolved` lets internal
        callers reuse an already-resolved plan so pattern expansion
        doesn't run twice.
        """
        resolved = (
            _resolved if _resolved is not None else self._resolve(query, time_range)
        )
        snippet_fields = list(snippet_fields or [])
        fetch_cols, raw_cols = self._hit_cols(fetch, snippet_fields)
        hits, _counts = self._topk(
            resolved, k, mode, search_after, raw_cols, use_wand
        )
        self._add_snippets(resolved[0], hits, snippet_fields, snippet_max_chars)
        return self._hits_frame(hits, fetch_cols, snippet_fields)

    # ---------- split-order early termination (leaf.rs:958-1100) ----------

    def _scoring_terms_with_boost(self, ast: QueryAst) -> list[tuple] | None:
        """(field, term, boost) for every term in a SCORING position
        (must/should chains; filter/must_not contribute no score).
        None = the query's score isn't term-bounded (pure match-all /
        filter-only), so no segment can be proven a loser."""
        tok = self._tokenizer_for_field()
        out: list[tuple] = []

        def walk(node, mult):
            if isinstance(node, Boost):
                walk(node.query, mult * node.boost)
            elif isinstance(node, Term):
                out.append(("term", node.field, node.value, mult))
            elif isinstance(node, TermSet):
                out.extend(("term", node.field, v, mult) for v in node.values)
            elif isinstance(node, FullText):
                out.extend(
                    ("term", node.field, t, mult) for t in tok(node.field)(node.text)
                )
            elif isinstance(node, Phrase):
                # the kernel scores a phrase as ONE pseudo-term whose df
                # is the per-segment match count (parity) / the rarest
                # component's global df (oracle) — NOT a sum of
                # component contributions, so it needs its own bound
                # unit (summing component idfs is unsound: idf(df=1)
                # can exceed the sum).
                out.append(
                    ("phrase", node.field, tuple(tok(node.field)(node.text)), mult)
                )
            elif isinstance(node, PhrasePrefix):
                fixed = tuple(tok(node.field)(node.text)[:-1])
                expansions = tuple(node.expansions or ())
                out.append(("phrase_prefix", node.field, (fixed, expansions), mult))
            elif isinstance(node, Bool):
                for c in (*node.must, *node.should):
                    walk(c, mult)
            # MatchAll/Range/filter clauses: score 0

        walk(ast, 1.0)
        return out or None

    def _segment_score_bounds(
        self, triples: list[tuple], seg_ids: list[str], mode: str = "parity"
    ) -> dict[str, float]:
        """Per-segment upper bound on any doc's score, from METADATA
        only: contribution of term t ≤ idf(t) · (k1+1) · boost, since
        the tf-norm tf/(tf + k1·(…)) < 1 — one narrow pushed-filter scan
        of (segment, term, doc_freq), no postings decode. The idf uses
        the SAME statistics the scorer will use (per-segment in parity
        mode, global in oracle mode) so the bound is sound for that
        mode. A segment missing every scoring term bounds at 0 (the
        analog of the reference sorting splits and converting provable
        losers to count-only, `leaf.rs:958-1100`).

        Phrase units: the kernel's phrase pseudo-term df is the
        per-segment match count in parity mode — as low as 1 — so the
        sound bound is idf(df=1) when every component term is present
        (and 0 otherwise: a missing component makes a match
        impossible). In oracle mode the scorer uses the rarest
        component's GLOBAL df, which the bound mirrors exactly."""
        tvals_set: set = set()
        for kind_, fld_, payload, _b in triples:
            if kind_ == "term":
                tvals_set.add(payload)
            elif kind_ == "phrase":
                tvals_set.update(payload)
            else:  # phrase_prefix: (fixed, expansions)
                tvals_set.update(payload[0])
                tvals_set.update(payload[1])
        tvals = sorted(tvals_set)
        df_map = self._term_doc_freqs(tvals)
        n_docs = {
            s.segment_id: {f: st["doc_count"] for f, st in s.field_stats.items()}
            for s in self.segments
        }
        k1_plus1 = self.config.k1 + 1.0
        if mode == "oracle":
            # global stats (every live segment, like the oracle scorer)
            g_df: dict[tuple, int] = {}
            for (sid, fld, term), d in df_map.items():
                g_df[(fld, term)] = g_df.get((fld, term), 0) + d
            g_n: dict[str, int] = {}
            for sid, per_field in n_docs.items():
                for fld, n in per_field.items():
                    g_n[fld] = g_n.get(fld, 0) + n
        def _idf(n, d):
            return float(np.log(1.0 + (n - d + 0.5) / (d + 0.5)))

        bounds: dict[str, float] = {}
        for sid in seg_ids:
            b = 0.0
            for kind_, fld, payload, boost in triples:
                if kind_ == "term":
                    df_ = df_map.get((sid, fld, payload))
                    if not df_:
                        continue  # term absent here: no contribution possible
                    if mode == "oracle":
                        n, d = g_n.get(fld, 0), g_df[(fld, payload)]
                    else:
                        n, d = n_docs.get(sid, {}).get(fld, 0), df_
                    b += _idf(n, d) * k1_plus1 * boost
                    continue
                # phrase / phrase_prefix pseudo-term
                if kind_ == "phrase":
                    fixed, expansions = payload, ()
                else:
                    fixed, expansions = payload
                if any(not df_map.get((sid, fld, t)) for t in fixed):
                    continue  # a missing component ⇒ no phrase match here
                if expansions and not any(
                    df_map.get((sid, fld, t)) for t in expansions
                ):
                    continue
                if mode == "oracle":
                    comp = [*fixed, *(t for t in expansions
                                       if df_map.get((sid, fld, t)))]
                    d = min(g_df[(fld, t)] for t in comp)
                    b += _idf(g_n.get(fld, 0), d) * k1_plus1 * boost
                else:
                    # parity phrase df = segment match count ≥ 1
                    n = n_docs.get(sid, {}).get(fld, 0)
                    b += _idf(n, 1) * k1_plus1 * boost
            bounds[sid] = b
        return bounds

    def search_early(
        self,
        query,
        k: int = 10,
        mode: str = "parity",
        time_range=None,
        count_hits: str = "count_all",
        fetch: list[str] | None = None,
    ) -> dict:
        """Top-k with split-order early termination (the reference's
        `CanSplitDoBetter`, `leaf.rs:958-1100,1385-1389`): segments are
        sorted by their metadata score bound, a first `_leaf` searches
        the high-bound prefix, and the kth score θ among its partial
        hits then PROVES the rest losers (bound ≤ θ → demoted) or
        contenders (a second `_leaf`). One `_root` ranks both leaves'
        partial hits, so results are identical to `search()` — θ is
        exact, since the global top-k is a subset of the union of the
        per-segment top-k lists, and demotion is evidence-based.

        count_hits (reference `CountHits`, `search.proto:245-248`):
          count_all      demoted segments still contribute an exact
                         num_hits via the count path (metadata doc_freq
                         fast path when the query allows)
          underestimate  demoted segments are skipped by the counting
                         pass too; num_hits counts only the segments
                         phases 1+2 actually searched (may undercount)

        → {"hits": DataFrame(doc_key, score, rank[, fetch]),
           "num_hits": int|None, "phase1"/"phase2"/"demoted": [ids],
           "bounds": {segment_id: float}}"""
        resolved = self._resolve(query, time_range)
        ast, fast_filter, seg_ids = resolved
        fetch_cols = self._fetch_cols(fetch)
        triples = self._scoring_terms_with_boost(ast)
        if triples is None or len(seg_ids) <= 1:
            hits, counts = self._topk(resolved, k, mode, cols=fetch_cols)
            return {
                "hits": self._hits_frame(hits, fetch_cols),
                "num_hits": sum(counts.values()),
                "phase1": seg_ids, "phase2": [], "demoted": [],
                "bounds": {},
            }
        bounds = self._segment_score_bounds(triples, seg_ids, mode)
        ordered = sorted(seg_ids, key=lambda s: -bounds[s])
        # phase 1: the high-bound prefix (at least one segment, at most
        # a quarter of the fleet — enough to fill k on hot queries)
        n1 = max(1, -(-len(ordered) // 4))
        phase1 = [s for s in ordered[:n1] if bounds[s] > 0.0] or ordered[:1]
        rest = [s for s in ordered if s not in set(phase1)]
        partial, counts, driver = self._leaf(ast, fast_filter, phase1, k, mode)
        scores = [p[0] for p in partial]
        theta = heapq.nlargest(k, scores)[-1] if 0 < k <= len(scores) else None
        if theta is None or theta <= 0.0:
            # k not filled (or filled with zero-score docs that any
            # segment could tie): every segment stays a contender
            phase2 = rest
        else:
            # sound demotion: every real score is STRICTLY below its
            # segment bound (tf-norm < 1), so bound ≤ θ ⇒ score < θ —
            # no tie-break can displace a phase-1 winner. Oracle mode
            # ranks on 9-decimal-rounded scores, so leave the rounding
            # quantum as a margin against a rounded tie.
            cut = theta - (2e-9 if mode == "oracle" else 0.0)
            phase2 = [s for s in rest if bounds[s] > cut]
        demoted = [s for s in rest if s not in set(phase2)]
        if phase2:
            partial2, counts2, driver2 = self._leaf(
                ast, fast_filter, phase2, k, mode
            )
            partial += partial2
            counts.update(counts2)
            driver = driver and driver2
        hits = self._root(partial, k, cols=fetch_cols, driver=driver)
        # the leaves counted every segment they searched; reference
        # CountHits::Underestimate (search.proto:245-248) stops there,
        # so demoted segments contribute nothing and the total may
        # undercount
        num_hits = sum(counts.values())
        if count_hits != "underestimate" and demoted:
            num_hits += self.count(None, segments=demoted, _resolved=resolved)
        return {
            "hits": self._hits_frame(hits, fetch_cols),
            "num_hits": num_hits,
            "phase1": phase1,
            "phase2": phase2,
            "demoted": demoted,
            "bounds": bounds,
        }

    def list_terms(
        self, field: str, start: str | None = None, end: str | None = None, limit: int = 100
    ) -> DataFrame:
        """Stream the term dictionary (reference `list_terms.rs:47-276`)."""
        df = self._seg_pred_filter(
            self.inv().filter(
                (F.col("kind") == KIND_POSTINGS) & (F.col("field") == field)
            ),
            self.live_ids,
        )
        if start is not None:
            df = df.filter(F.col("term") >= start)
        if end is not None:
            df = df.filter(F.col("term") < end)
        return df.select("term").distinct().orderBy("term").limit(limit)

    def list_fields(self) -> list[dict]:
        """Field capabilities (reference `list_fields.rs`): indexed text
        fields from the index config + fast (docmap) columns with their
        Spark types."""
        out = [
            {
                "name": f.name,
                "type": "text",
                "indexed": True,
                "tokenizer": f.tokenizer,
                "record": f.record,
                "fieldnorms": f.fieldnorms,
                "fast": False,
            }
            for f in self.config.fields
        ]
        indexed = {f["name"] for f in out}
        for sf in self._docs.schema.fields:
            if sf.name in ("segment_id", "doc_id", "batch_id") or sf.name in indexed:
                continue
            out.append(
                {
                    "name": sf.name,
                    "type": sf.dataType.simpleString(),
                    "indexed": False,
                    "tokenizer": None,
                    "record": None,
                    "fieldnorms": None,
                    "fast": True,
                }
            )
        return out

    def search_plan(
        self, query, time_range=None, k: int = 10, early_terminate: bool = False
    ) -> dict:
        """Explain analog of the reference's `search-plan` endpoint
        (`quickwit-search/src/root.rs:1243-1330`): the resolved AST,
        the segments kept after manifest pruning, the posting terms the
        plan will touch (warmup set), the leaf `transport` ("driver" or
        "spark") and, in `spark_plan`, the top-k query's two reads
        (leaf and winner fetch) without running them: Spark's formatted
        physical plans, or the driver transport's pyarrow reads and
        their pushed filters. `early_terminate=True` additionally
        runs the split-order triage (phase-1 probe + θ) and reports
        which segments the bound PROVES losers (demoted to
        count-only/skip — the `CanSplitDoBetter` evidence)."""
        ast, fast_filter, seg_ids = self._resolve(query, time_range)
        tok = self._tokenizer_for_field()
        terms = collect_fulltext_terms(ast, tok)
        pruned = [s for s in self.segments if s.segment_id not in set(seg_ids)]
        pre_expand = (
            parse_query(
                query,
                [f.name for f in self.config.fields],
                position_fields={
                    f.name for f in self.config.fields if f.record == "position"
                },
            )
            if isinstance(query, str)
            else query
        )
        tag_filter = extract_tag_filter(
            pre_expand, lambda field, text: tok(field)(text)
        )
        # the plans a top-k runs, built but not executed: the leaf, then
        # the winner fetch (whose doc_id In list is bound to the leaf's
        # partial hits at run time). The driver transport's reads are
        # described by their pushed pyarrow filters instead. The text is
        # built per call, never printed: a capture of the process-wide
        # stdout would mix concurrent callers' plans.
        transport = self._leaf_transport(ast, fast_filter, seg_ids, "parity")
        snap = self._arrow

        def formatted(df) -> str:  # what `df.explain("formatted")` prints
            return self.spark.sparkContext._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )

        lines = []
        if transport == "driver":
            lines.append(
                "== leaf (driver): pyarrow read of inv/, "
                f"{len(snap.inv.files)} files, into the kernel per segment =="
            )
            lines.append(f"filter: {self._driver_leaf_filter(ast, seg_ids)}")
            if fast_filter is not None:
                lines.append("== allowed doc ids: docmap scan collected as Arrow ==")
                lines.append(formatted(self._allowed_ids_frame(fast_filter, seg_ids)))
        else:
            lines.append("== leaf kernel: partial hits + num_hits per segment ==")
            lines.append(
                formatted(self._matches(ast, seg_ids, k, "parity", fast_filter))
            )
        if transport == "driver" and snap.docs is not None:
            lines.append(
                "== winner fetch (driver): pyarrow read of docs/, "
                f"{len(snap.docs.files)} files, of the merged partial hits =="
            )
            lines.append(
                "filter: "
                f"{pds.field('segment_id').isin(sorted(seg_ids))}"
                " and doc_id in <partial hit ids>"
            )
        else:
            lines.append("== winner fetch: docmap scan of the merged partial hits ==")
            lines.append(formatted(self._fetch_frame([], seg_ids)))
        early = {}
        if early_terminate:
            et = self.search_early(
                query, k=k, time_range=time_range, count_hits="underestimate"
            )
            early = {
                "early_termination": {
                    "phase1": et["phase1"],
                    "phase2": et["phase2"],
                    "demoted_count_only": et["demoted"],
                    "bounds": {s: round(b, 4) for s, b in et["bounds"].items()},
                }
            }
        return {
            **early,
            "query_ast": repr(ast),
            "fast_filter": str(fast_filter) if fast_filter is not None else None,
            "tag_filter": repr(tag_filter) if tag_filter is not None else None,
            "segments_searched": seg_ids,
            "segments_pruned": [s.segment_id for s in pruned],
            "num_docs_searched": sum(
                s.num_docs for s in self.segments if s.segment_id in set(seg_ids)
            ),
            "warmup_terms": sorted({t for _, t in terms}),
            "transport": transport,
            "spark_plan": "".join(f"{ln}\n" for ln in lines),
        }

    def es_search(self, body: dict, mode: str = "parity") -> dict:
        """Full ES `_search` body: `query` + `aggs` + `size` (reference
        rest handler surface, `elastic_search_api`). Returns
        {"hits": DataFrame (absent when size=0),
         "aggregations": {name: DataFrame}}."""
        return self._es_search(body, mode)[0]

    def _es_search(
        self,
        body: dict,
        mode: str = "parity",
        driver_rows: bool = False,
        fetch: list[str] | None = None,
    ) -> tuple[dict, tuple, dict | None]:
        """`es_search` → (out, resolved, counts). With `driver_rows`, a
        BM25-sorted body's hits stay the `_topk` core's driver rows (a
        list of dicts) and `counts` is that pass's {segment_id:
        num_hits}; otherwise counts is None. `fetch` names the docmap
        columns the hits carry (default: the body's `_source`, else the
        stored source)."""
        from quickwit_spark.query.es_dsl import from_es_body
        from quickwit_spark.search.es_aggs import run_es_aggs

        ast = from_es_body(
            body,
            [f.name for f in self.config.fields],
            position_fields={
                f.name for f in self.config.fields if f.record == "position"
            },
            known_fields=self._known_fields(),
        )
        out: dict = {}
        counts = None
        size = _es_uint(body, "size", 10)
        # `from` pagination (reference start_offset,
        # `rest_handler.rs:359`): rank [from, from+size) — fetch
        # from+size winners, then drop the leading ranks. Both are u64
        # on the reference wire — the ES layer pre-validates, but a
        # direct library caller must get the same ValueError, not
        # negative-k paging
        start_offset = _es_uint(body, "from", 0)
        k_total = start_offset + size
        resolved = self._resolve(ast, None)  # shared: one pattern expansion
        sort_spec = body.get("sort")
        if fetch is not None:
            fetch = list(fetch)
        else:
            fetch = list(body.get("_source") or [])
            if not fetch and self.config.stored_source:
                # no explicit projection: ES returns the full original doc
                fetch = [self.config.stored_source]
        if size > 0 and sort_spec and not self._is_score_sort(sort_spec):
            specs = self._parse_es_sort(sort_spec)
            # mixed-typed sort keys: fetch the original-token column so
            # the wire layer can emit each hit's sort value in its own
            # JSON type (0, true, 10.5, 18000000000000000000)
            opts_all = self.config.field_options or {}
            for fld, _ in specs:
                o = opts_all.get(fld) or {}
                if o.get("mixed") and o.get("orig_column"):
                    fetch.append(o["orig_column"])
            sa = body.get("search_after")
            if sa:
                # the ES cursor carries the sort values ONLY — a length
                # mismatch is a 400, never silent truncation (reference
                # partial_hit_from_search_after_param,
                # `rest_handler.rs:421-434`). Library-level superset: a
                # trailing doc_key tiebreak value (len + 1) is accepted
                # here; the WIRE layer rejects it like the reference.
                if len(sa) not in (len(specs), len(specs) + 1):
                    raise ValueError(
                        "sort and search_after are of different length"
                    )
                tail = list(sa[len(specs):])
                sa = self._convert_es_cursor(
                    list(sa[: len(specs)]), sort_spec
                ) + tail
            out["hits"] = self.sort_by_field(
                ast,
                specs,
                k=k_total,
                tie_by_key=True,
                search_after=tuple(sa) if sa else None,
                fetch=fetch,
                _resolved=resolved,
            )
        elif size > 0:
            sa = body.get("search_after")
            if sa:
                n_sort = (
                    len(self._es_sort_entries(sort_spec)) if sort_spec else 0
                )
                if len(sa) != n_sort:
                    raise ValueError(
                        "sort and search_after are of different length"
                    )
                # explicit `_score` sort: values-only score cursor — docs
                # strictly after the score; same-score ties are skipped
                # (no doc tiebreak value on the wire)
                try:
                    sa = (float(sa[0]),)
                except (TypeError, ValueError):
                    raise ValueError(
                        "invalid search_after field value, expect bool, "
                        "number or string"
                    )
            sa = tuple(sa) if sa else None
            if driver_rows:
                out["hits"], counts = self._topk(
                    resolved, k_total, mode, sa, self._hit_cols(fetch, [])[0]
                )
            else:
                out["hits"] = self.search(
                    ast,
                    k=k_total,
                    mode=mode,
                    search_after=sa,
                    fetch=fetch,
                    _resolved=resolved,
                )
        if size > 0 and start_offset:
            if isinstance(out["hits"], list):
                out["hits"] = [
                    h for h in out["hits"] if h["rank"] > start_offset
                ]
            else:
                out["hits"] = out["hits"].filter(
                    F.col("rank") > start_offset
                )
        agg_body = body.get("aggs") or body.get("aggregations")
        if agg_body:
            out["aggregations"] = run_es_aggs(*self._agg_input(agg_body, resolved))
        return out, resolved, counts

    def _agg_input(self, agg_body: dict, resolved: tuple):
        """The aggregation input of a resolved query → (frame, lowered
        body): the docmap rows of its matches (`_docs`; the match frame
        already keeps to the live searched segments) with `agg_body`
        lowered onto them by `_agg_frame_and_body`."""
        m = self._docs.join(
            self.match_docs(None, _resolved=resolved).select(
                "segment_id", "doc_id"
            ),
            ["segment_id", "doc_id"],
            "inner",
        )
        return self._agg_frame_and_body(m, agg_body)

    def _agg_frame_and_body(self, m: DataFrame, agg_body: dict):
        """Resolve dot-path agg fields against the dynamic doc mapping:
        each referenced field becomes a derived column of its physical
        docmap column with the field's fast normalizer applied (the
        reference aggregates the NORMALIZED fast values — a terms agg on
        a lowercase-normalized dynamic path buckets lowercased keys)."""
        from quickwit_spark.search.es_aggs import _validate_aggs

        # shape-validate BEFORE the .items() walk below — a null/list
        # agg body must 400, not AttributeError (field existence is
        # deliberately NOT checked here: unmapped fields become all-null
        # columns, the reference's empty-bucket answer)
        _validate_aggs(None, agg_body)
        opts = self.config.field_options or {}
        derived: dict[str, object] = {}
        m_cols = set(m.columns)

        def rewrite(node: dict) -> dict:
            out = {}
            for name, spec in node.items():
                out[name] = {}
                for k, v in spec.items():
                    if k in ("aggs", "aggregations"):
                        out[name][k] = rewrite(v)
                    elif isinstance(v, dict) and "field" in v and v["field"] in opts:
                        fld = v["field"]
                        col = self._fcol(fld)
                        expr = qcol(col)
                        if (
                            opts[fld].get("normalizer") == "lowercase"
                            and self._doc_types.get(col) == "string"
                        ):
                            expr = F.lower(expr)
                        alias = f"__qw_agg_{len(derived)}"
                        derived[alias] = expr
                        out[name][k] = {**v, "field": alias}
                    elif (
                        isinstance(v, dict)
                        and "field" in v
                        and self._fcol(v["field"]) not in m_cols
                    ):
                        # unmapped field (e.g. any dynamic path on an
                        # EMPTY index): aggregate over all-null — empty
                        # buckets / null metrics, never an error (the
                        # reference answers the same)
                        alias = f"__qw_agg_{len(derived)}"
                        derived[alias] = F.lit(None).cast("double")
                        out[name][k] = {**v, "field": alias}
                    else:
                        out[name][k] = v
            return out

        body2 = rewrite(agg_body)
        for alias, expr in derived.items():
            m = m.withColumn(alias, expr)
        return m, body2

    def _parse_es_sort_full(self, sort_spec) -> list[tuple]:
        """[(field, descending, format|None)] — like `_parse_es_sort`
        plus the per-key ES `format` option (`epoch_nanos_int`)."""
        full = []
        for (_, opts), (fld, desc) in zip(
            self._es_sort_entries(sort_spec), self._parse_es_sort(sort_spec)
        ):
            fmt = opts.get("format") if isinstance(opts, dict) else None
            full.append((fld, desc, fmt))
        return full

    def _convert_es_cursor(self, values: list, sort_spec) -> list:
        """ES `search_after` values → typed engine cursor values per the
        sort key's column type (reference converts the wire strings the
        same way): numerics accept string forms, timestamp keys accept
        epoch numbers (magnitude auto-detect) or `epoch_nanos_int`."""
        import datetime as _dt

        out = []
        for v, (fld, _desc, fmt) in zip(values, self._parse_es_sort_full(sort_spec)):
            if isinstance(v, (list, dict)):
                # reference SortByValue::try_from_json
                # (`rest_handler.rs:461-467`)
                raise ValueError(
                    "invalid search_after field value, expect bool, "
                    "number or string"
                )
            dtype = self._doc_types.get(self._fcol(fld), "")
            if v is None:
                out.append(None)
            elif dtype.startswith("timestamp"):
                if isinstance(v, str) and v.lstrip("+-").isdigit():
                    v = int(v)
                if fmt == "epoch_nanos_int":
                    out.append(
                        _dt.datetime.fromtimestamp(
                            int(v) / 1e9, tz=_dt.timezone.utc
                        )
                    )
                else:
                    out.append(_parse_dt_bound(v, None))
            elif dtype in ("bigint", "int", "smallint", "tinyint"):
                n = float(v) if isinstance(v, float) else int(v)
                if isinstance(n, float) or not (
                    -(2**63) <= n <= 2**63 - 1
                ):
                    # cursor outside the i64 column's range (or
                    # fractional): compare as double — strictly-after
                    # i64::MAX asc matches nothing, desc matches all
                    # (the reference's u64→i64 saturation scenarios)
                    out.append(float(v))
                else:
                    out.append(int(v))
            elif dtype.startswith("decimal"):
                import decimal

                out.append(decimal.Decimal(str(v)))
            elif dtype in ("double", "float"):
                out.append(float(v))
            else:
                out.append(v)
        return out

    def es_search_response(self, body: dict, mode: str = "parity") -> dict:
        """Full ES `_search` wire envelope (reference
        `elasticsearch_api/rest_handler.rs:96-294` re-shaping):
        {"took", "timed_out", "hits": {"total", "max_score", "hits":
        [{"_id", "_score", "_source"}]}, "aggregations": {...}}.
        `_source` carries the body's `_source` column list (stored
        columns). Collects the ≤ size hits and agg buckets — the same
        driver-side materialization the reference's root node does."""
        import time as _time

        from quickwit_spark.search.es_aggs import shape_es_agg

        t0 = _time.perf_counter()
        src_cols = body.get("_source") or []
        raw, resolved, counts = self._es_search(
            dict(body), mode=mode, driver_rows=True
        )
        sort_spec = body.get("sort")
        field_sort = bool(sort_spec) and not self._is_score_sort(sort_spec)
        specs_full = self._parse_es_sort_full(sort_spec) if field_sort else []
        hits_rows = []
        max_score = None
        if "hits" in raw:
            # es_search already fetched the _source columns through the
            # body's own sort/search_after path — no re-run (a plain
            # re-search here would silently drop the body's sort).
            hits = raw["hits"]
            if not isinstance(hits, list):
                hits = [r.asDict() for r in hits.collect()]
            for d in hits:
                score = d.get("score")
                if max_score is None or (score is not None and score > max_score):
                    max_score = score
                if src_cols:
                    # unknown _source fields are ABSENT from the hit
                    # (filter semantics), not null-valued keys; the
                    # doc-key field reads the hit's doc key
                    key = self.config.doc_key
                    src = {
                        c: d["doc_key" if c == key else c]
                        for c in src_cols
                        if c in d or c == key
                    }
                elif self.config.stored_source:
                    # the full document, re-rendered through each mapped
                    # field's output_format like the reference
                    src = self.load_stored_source(
                        d.get(self.config.stored_source),
                        segment_id=d.get("segment_id"),
                    )
                else:
                    src = {}
                hit = {"_id": str(d["doc_key"]), "_score": score, "_source": src}
                if (
                    bool(sort_spec)
                    and not field_sort
                    and score is not None
                ):
                    # explicit `_score` sort: hits carry the score as
                    # their sort value (reference convert_hit pushes
                    # partial_hit sort_value — the score — into `sort`,
                    # `rest_handler.rs:774-787`), so the standard
                    # hits[-1]["sort"] → search_after client loop works.
                    # A SORTLESS body gets no sort values — the cursor
                    # endpoint rejects any search_after when n_sort=0
                    # (`partial_hit_from_search_after_param`), so
                    # advertising one would hand clients a cursor that
                    # only ever 400s.
                    hit["sort"] = [score]
                if field_sort:
                    opts_all = self.config.field_options or {}
                    vals = []
                    for (fld, _desc, fmt), alias in zip(
                        specs_full, ("sort_value", "sort_value2")
                    ):
                        o = opts_all.get(fld) or {}
                        if o.get("mixed") and o.get("orig_column"):
                            vals.append(
                                _parse_json_token(d.get(o["orig_column"]))
                            )
                        else:
                            vals.append(_es_sort_value(d.get(alias), fmt))
                    hit["sort"] = vals
                hits_rows.append(hit)
        agg_body = body.get("aggs") or body.get("aggregations") or {}
        aggs_shaped = {
            name: shape_es_agg(agg_body[name], df)
            for name, df in (raw.get("aggregations") or {}).items()
        }
        # reference mapping (`rest_handler.rs:364-367`): absent / false /
        # int ≤ size → CountHits::Underestimate; true / int > size →
        # CountAll. Underestimate counts segment batches in manifest
        # order and stops at the requested accuracy (`count_up_to`).
        tth = body.get("track_total_hits")  # None | bool | int
        size = int(body.get("size", 10))
        count_all = tth is True or (
            isinstance(tth, int) and not isinstance(tth, bool) and tth > size
        )
        # the count reuses the hits pass's resolved AST — re-resolving
        # would re-run wildcard/regex expansion jobs. A BM25-sorted
        # page already counted every searched segment in its kernel
        # pass (`counts`); field-sorted and size-0 bodies count through
        # `count` / `count_up_to`. `false` takes the same Underestimate
        # path as absent — the reference maps Track(false) to
        # CountHits::Underestimate, not to a no-count response.
        seg_ids = resolved[2]
        if counts is not None:
            count_of = lambda segs: sum(counts.get(s, 0) for s in segs)  # noqa: E731
        else:
            count_of = lambda segs: self.count(  # noqa: E731
                None, segments=segs, _resolved=resolved
            )
        if count_all:
            total = {"value": count_of(seg_ids), "relation": "eq"}
        else:
            n = (
                tth
                if isinstance(tth, int) and not isinstance(tth, bool)
                else size
            )
            # the floor covers the ranks this response just SERVED —
            # with `from` pagination the page proves from+len(hits)
            # matches exist, so an underestimate below that would be
            # internally inconsistent (total.value < the last rank)
            served = (
                _es_uint(body, "from", 0) + len(hits_rows)
                if hits_rows
                else 0
            )
            v, exhausted = _count_up_to_batches(
                seg_ids, max(n, served, 1), count_of
            )
            total = {"value": v, "relation": "eq" if exhausted else "gte"}
        out = {
            "took": int((_time.perf_counter() - t0) * 1000),
            "timed_out": False,
            # the reference conveys split-search outcomes through the ES
            # `_shards` block (one "shard" per split,
            # `rest_handler.rs:1039-1046`); our splits are segments, and
            # a Spark job either fully succeeds or raises — failed=0.
            # Deviation kept from the reference: it hard-codes
            # `max_score: null` and `relation: eq`; we report the real
            # max score and a gte relation for underestimates (actual ES
            # behavior — strictly more information, asserted by our own
            # tests).
            "_shards": self._shards_stats(),
            "hits": {
                "total": total,
                "max_score": max_score,
                "hits": hits_rows,
            },
        }
        if aggs_shaped:
            out["aggregations"] = aggs_shaped
        return out

    def _shards_stats(self) -> dict:
        """ES `_shards` statistics: every live segment participates
        (reference `ShardStatistics`: total/successful/skipped/failed +
        failures list, with total = successful + failed)."""
        n = len(self.segments)
        return {
            "total": n,
            "successful": n,
            "skipped": 0,
            "failed": 0,
            "failures": [],
        }

    def _known_fields(self) -> set[str]:
        """Every addressable field: term fields + fast-only paths (a
        datetime dynamic path has options but no term field)."""
        known = {f.name for f in self.config.fields}
        known.update(self.config.field_options or {})
        known.add(self.config.doc_key)
        return known

    def _es_ast(self, body: dict):
        from quickwit_spark.query.es_dsl import from_es_body

        return from_es_body(
            body,
            [f.name for f in self.config.fields],
            position_fields={
                f.name for f in self.config.fields if f.record == "position"
            },
            known_fields=self._known_fields(),
        )

    @staticmethod
    def _is_score_sort(sort_spec) -> bool:
        """True iff the body sorts by BM25. `_score` mixed with field
        keys is rejected explicitly: silently dropping the other key
        (either direction) would return differently-ordered hits than
        ES with no error."""
        pairs = IndexSearcher._es_sort_entries(sort_spec)
        for i, (fld, _) in enumerate(pairs):
            # keys after a doc field are dropped (take_while_inclusive)
            if fld in ("_doc", "_shard_doc"):
                pairs = pairs[: i + 1]
                break
        flags = [fld == "_score" for fld, _ in pairs]
        if any(flags) and len(pairs) > 1:
            raise NotImplementedError(
                "sort mixing _score with field keys is not supported; "
                "sort by _score alone or by up to two fast fields"
            )
        return bool(flags) and flags[0]

    @staticmethod
    def _es_sort_entries(sort_spec) -> list[tuple]:
        """ES body `sort` → ordered [(field, params)] pairs, validated.
        Accepts the array form (string entries or one-field objects) and
        the single-object form `{field: params, ...}` whose key order is
        the sort order — the reference's `FieldSortVecVisitor`
        (`search_body.rs:140-165`). Param objects take exactly
        `order`/`format` (`FieldSortParams` is deny_unknown_fields),
        order must be asc|desc, and the only date format is
        `epoch_nanos_int` (`model/mod.rs:56-64`)."""
        if isinstance(sort_spec, dict):
            pairs = list(sort_spec.items())
        else:
            entries = sort_spec if isinstance(sort_spec, list) else [sort_spec]
            pairs = []
            for ent in entries:
                if isinstance(ent, str):
                    pairs.append((ent, None))
                elif isinstance(ent, dict) and len(ent) == 1:
                    pairs.append(next(iter(ent.items())))
                else:
                    raise ValueError(
                        f"invalid sort entry {ent!r}: expected a field "
                        "name or a one-field object"
                    )
        for fld, opts in pairs:
            if isinstance(opts, dict):
                unknown = sorted(set(opts) - {"order", "format"})
                if unknown:
                    raise ValueError(
                        f"unknown field `{unknown[0]}` in sort params "
                        f"for {fld!r}, expected `order` or `format`"
                    )
                order = opts.get("order")
                fmt = opts.get("format")
                if fmt is not None and fmt != "epoch_nanos_int":
                    raise ValueError(
                        f"unknown variant `{fmt}`, expected "
                        "`epoch_nanos_int`"
                    )
            else:
                order = opts
            if order is not None and order not in ("asc", "desc"):
                raise ValueError(
                    f"invalid sort order {order!r} for {fld!r}"
                )
        return pairs

    @staticmethod
    def _parse_es_sort(sort_spec) -> list[tuple]:
        """ES `sort` entries → [(field, descending)]: "field",
        {"field": "asc"}, {"field": {"order": "desc"}}, or the
        multi-field object form (reference sort-by mini-DSL,
        `rest_handler.rs:103-147`)."""
        specs = []
        for fld, opts in IndexSearcher._es_sort_entries(sort_spec):
            order = opts if isinstance(opts, str) else (opts or {}).get("order")
            # ES defaults `_score` to DESCENDING and every field key to
            # ascending (`default_elasticsearch_sort_order`,
            # `model/mod.rs:74-80`)
            default = "desc" if fld == "_score" else "asc"
            desc = (order or default) == "desc"
            if fld in ("_doc", "_shard_doc"):
                # ES `_doc`: index order — our global ingest order is the
                # doc_key. Keys after a doc field are dropped, like the
                # reference's take_while_inclusive(!is_doc_field)
                # (`rest_handler.rs:371-385,417-419`)
                specs.append(("doc_key", desc))
                break
            specs.append((fld, desc))
        return specs

    def msearch(self, bodies: list[dict], mode: str = "parity") -> list[dict]:
        """ES `_msearch`: several bodies planned in one call (reference
        `rest_handler.rs:804`). All plans are lazy DataFrames — the
        caller triggers them, concurrently if desired (the searcher is
        stateless, like the reference's searcher fleet)."""
        return [self.es_search(b, mode=mode) for b in bodies]

    def describe_index(self) -> dict:
        """`_cat/indices` analog: manifest-level shape + on-disk bytes."""
        import os as _os

        from quickwit_spark.index.builder import docs_path

        def _du(path):
            total = 0
            for root, _dirs, files in _os.walk(path):
                total += sum(
                    _os.path.getsize(_os.path.join(root, f)) for f in files
                )
            return total

        live = self.segments
        return {
            "index_dir": self.index_dir,
            "num_segments": len(live),
            "num_docs": sum(s.num_docs for s in live),
            "merge_gens": sorted({s.merge_gen for s in live}),
            "fields": [f.name for f in self.config.fields],
            "tag_fields": list(self.config.tag_fields),
            "inv_bytes": _du(f"{self.index_dir}/inv"),
            # sum every doc-mapping generation's docmap dataset
            "docs_bytes": sum(
                _du(docs_path(self.index_dir, g))
                for g in sorted(
                    {s.doc_mapping_uid for s in live} | {self.current_uid}
                )
            ),
            "time_range": [
                min((s.time_range[0] for s in live if s.time_range), default=None),
                max((s.time_range[1] for s in live if s.time_range), default=None),
            ],
        }

    def es_field_caps(self, fields: list[str] | None = None) -> dict:
        """ES `_field_caps` wire shape (reference
        `elasticsearch_api/model/field_capability.rs:60-140`):
        {"indices": [...], "fields": {name: {es_type: {metadata_field,
        searchable, aggregatable, type}}}}. `fields` accepts the ES
        wildcard patterns of the query param."""
        import fnmatch
        import os as _os

        index_name = _os.path.basename(self.index_dir.rstrip("/"))

        def es_type(f: dict) -> str:
            if f["indexed"]:
                return (
                    "keyword"
                    if f["tokenizer"] in ("raw", "raw_lowercase")
                    else "text"
                )
            t = f["type"]
            if t in ("bigint", "long", "int", "smallint", "decimal(20,0)"):
                return "long"
            if t in ("double", "float"):
                return "double"
            if t.startswith("timestamp"):
                return "date_nanos"
            if t == "boolean":
                return "boolean"
            if t == "binary":
                return "binary"
            if t == "string":
                return "keyword"
            return "object"

        out: dict[str, dict] = {}
        for f in self.list_fields():
            if fields and not any(fnmatch.fnmatch(f["name"], p) for p in fields):
                continue
            typ = es_type(f)
            out.setdefault(f["name"], {})[typ] = {
                "metadata_field": False,
                "searchable": bool(f["indexed"]),
                "aggregatable": bool(f["fast"]),
                "type": typ,
            }
        return {"indices": [index_name], "fields": out}

    def es_count(self, body: dict | None = None) -> dict:
        """ES `_count` endpoint: {"count", "_shards"} for the body's
        `query` (MatchAll when absent) — reference
        `es_compat_index_count_handler`."""
        from quickwit_spark.query.ast import MatchAll as _MatchAll
        from quickwit_spark.query.es_dsl import from_es_query

        q = (body or {}).get("query")
        ast = from_es_query(q) if q else _MatchAll()
        nseg = len(self.segments)
        return {
            "count": self.count(ast),
            "_shards": {
                "total": nseg,
                "successful": nseg,
                "skipped": 0,
                "failed": 0,
            },
        }

    def es_cat_indices(self, fields: list[str] | None = None) -> list[dict]:
        """ES `_cat/indices?format=json` row (reference
        `elasticsearch_api/model/cat_indices.rs:96-133`): one aggregated
        row per index with ES-human-formatted sizes. `fields` filters
        the returned keys like the `h=` query param."""
        import os as _os

        def fmt(n: int) -> str:
            # reference format_byte_size (`cat_indices.rs:208-224`)
            for unit, div in (("tb", 1024**4), ("gb", 1024**3), ("mb", 1024**2)):
                if n >= div:
                    return f"{n / div:.1f}{unit}"
            if n >= 1024:
                return f"{n / 1024:.1f}kb"
            return f"{n}b"

        d = self.describe_index()
        size = d["inv_bytes"] + d["docs_bytes"]
        row = {
            "health": "green",
            "status": "open",
            "index": _os.path.basename(self.index_dir.rstrip("/")),
            "uuid": _os.path.basename(self.index_dir.rstrip("/")),
            "pri": str(d["num_segments"]),
            "rep": "0",
            "docs.count": str(d["num_docs"]),
            "docs.deleted": "0",
            "store.size": fmt(size),
            "pri.store.size": fmt(size),
            "dataset.size": fmt(size),
        }
        if fields:
            keep = set(fields)
            row = {k: v for k, v in row.items() if k in keep}
        return [row]

    def es_stats(self) -> dict:
        """ES `_stats` wire shape (reference
        `es_compat_index_stats_handler`, built from metastore split
        metadata — here the manifest): `_all`/`indices.<name>` with
        `primaries`/`total` docs + store sections."""
        import os as _os

        d = self.describe_index()
        name = _os.path.basename(self.index_dir.rstrip("/"))
        nseg = d["num_segments"]
        section = {
            "docs": {"count": d["num_docs"], "deleted": 0},
            "store": {"size_in_bytes": d["inv_bytes"] + d["docs_bytes"]},
        }
        stats = {
            "primaries": dict(section),
            "total": {**section, "segments": {"count": nseg}},
        }
        return {
            "_shards": {"total": nseg, "successful": nseg, "failed": 0},
            "_all": stats,
            "indices": {name: stats},
        }

    def es_cluster_health(self) -> dict:
        """ES `_cluster/health` wire shape (reference
        `es_compat_cluster_health_handler`): a single-node green answer
        — Spark is the cluster, so node counts describe the session."""
        nseg = len(self.segments)
        return {
            "cluster_name": "quickwit-spark",
            "status": "green",
            "timed_out": False,
            "number_of_nodes": 1,
            "number_of_data_nodes": 1,
            "active_primary_shards": nseg,
            "active_shards": nseg,
            "relocating_shards": 0,
            "initializing_shards": 0,
            "unassigned_shards": 0,
            "active_shards_percent_as_number": 100.0,
        }

    def es_resolve_index(self, pattern: str = "*") -> dict:
        """ES `_resolve/index/<pattern>` wire shape (reference
        `es_compat_resolve_index_handler`): expression-matched open
        indices; no aliases or data streams in this engine."""
        import fnmatch
        import os as _os

        name = _os.path.basename(self.index_dir.rstrip("/"))
        indices = (
            [{"name": name, "attributes": ["open"]}]
            if any(fnmatch.fnmatch(name, p) for p in pattern.split(","))
            else []
        )
        return {"indices": indices, "aliases": [], "data_streams": []}

    def es_delete_index(self) -> dict:
        """ES `DELETE /<index>` (reference
        `es_compat_delete_index_handler`): drops the manifest + files
        via `manifest.delete_index` and invalidates this searcher."""
        from quickwit_spark.index.manifest import delete_index as _del

        _del(self.index_dir)
        # tombstone — refresh() would re-read the now-deleted parquet
        self.segments = []
        self.live_ids = []
        self.uncache()
        return {"acknowledged": True}

    def scroll(
        self,
        query,
        page_size: int = 10,
        mode: str = "parity",
        time_range=None,
        fetch: list[str] | None = None,
        sort_field: str | None = None,
        descending: bool = True,
        batch_len: int | None = None,
    ):
        """Open a scroll context (reference `scroll_context.rs`): batched
        deep pagination over BM25 or fast-field order. Returns a
        ScrollContext; iterate with .next_page() or re-resolve by
        .scroll_id via search.scroll.fetch_scroll."""
        from quickwit_spark.search.scroll import (
            SCROLL_BATCH_LEN,
            ScrollContext,
            create_scroll,
        )

        ctx = ScrollContext(
            self,
            query,
            page_size=page_size,
            mode=mode,
            time_range=time_range,
            fetch=fetch,
            sort_field=sort_field,
            descending=descending,
            batch_len=batch_len or SCROLL_BATCH_LEN,
        )
        create_scroll(ctx)
        return ctx

    def search_stream(self, query, columns: list[str], time_range=None) -> DataFrame:
        """Export fast-field columns of ALL matching docs (reference
        search_stream, `search_stream/leaf.rs:51-290`)."""
        m = self.match_docs(query, time_range)
        return m.join(self._docs, ["segment_id", "doc_id"], "inner").select(
            "doc_key", *columns
        )

    def export_stream(
        self,
        query,
        columns: list[str],
        path: str,
        fmt: str = "csv",
        partition_by: str | None = None,
        time_range=None,
    ):
        """search_stream to files: fmt ∈ {csv, rowbinary} with optional
        partition_by_fast_field layout (reference output formats,
        `search_stream/leaf.rs:51-290`). → per-file row counts for
        rowbinary, None for csv (distributed part files)."""
        from quickwit_spark.search.stream_export import write_csv, write_rowbinary

        cols = list(columns)
        if partition_by and partition_by not in cols:
            cols.append(partition_by)
        df = self.search_stream(
            query, [c for c in cols if c != "doc_key"], time_range
        ).select(*cols)
        if fmt == "csv":
            return write_csv(df, path, partition_by=partition_by)
        if fmt == "rowbinary":
            return write_rowbinary(
                df, columns, path, partition_by=partition_by
            )
        raise ValueError(f"unknown search_stream format {fmt!r}")


def es_cluster_info() -> dict:
    """ES `GET /` root info (reference
    `es_compat_cluster_info_handler`): the ES-compatible version
    banner clients probe before talking to the cluster. The reference
    reports itself as an ES-compatible distribution with its own
    `distribution` marker; this engine does the same."""
    import pyspark

    return {
        "name": "quickwit-spark",
        "cluster_name": "quickwit-spark",
        "version": {
            "distribution": "quickwit-spark",
            "number": "8.0.0",
            "build_flavor": "pyspark",
            "build_type": f"spark-{pyspark.__version__}",
            "lucene_version": "n/a",
        },
        "tagline": "You Know, for Search (on Spark)",
    }
