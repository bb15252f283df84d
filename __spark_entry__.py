"""Driver contract for the spark-graft builder (PySpark target).

Exposes the quickwit_spark engine (SURVEY.md §2 operator inventory) as
driver-checkable queries. Each `queries()` entry builds (once, cached)
a full inverted index over the web corpus derived from
`documents.parquet`, runs the engine's Spark plan, and returns a
DataFrame; the matching `oracle_sql()` entry re-derives the same answer
in pure ANSI SQL (DuckDB) — including the full BM25 formula
(idf = ln(1+(N-df+0.5)/(df+0.5)), tf-norm with k1=1.2, b=0.75) in
"oracle" scoring mode (float64, global stats, scores rounded).

The synthetic corpus text is lowercase [a-z0-9 ] so the engine's
tantivy-parity `default` tokenizer and SQL `string_split(text, ' ')`
produce identical token streams, which is what makes the SQL oracle of
an inverted-index engine possible at all.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quickwit_spark.index.builder import FieldConfig, IndexConfig, build_index
from quickwit_spark.query.ast import (
    Bool,
    Boost,
    Exists,
    FullText,
    MatchAll,
    Phrase,
    PhrasePrefix,
    Range,
    Regex,
    Term,
    Wildcard,
)
from quickwit_spark.search import aggs
from quickwit_spark.search.engine import IndexSearcher

# --------------------------------------------------------------------------
# corpus + index (cached per sf_dir)
# --------------------------------------------------------------------------

_IDX_ROOT = os.environ.get("QWS_ENTRY_IDX_ROOT", "/tmp/qws_entry_indexes")
_searchers: dict[str, IndexSearcher] = {}


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → web corpus (url, warc_ts, text, lang + stored
    source/n_chars + derived ip / multivalued tags), typed through the
    doc mapper (strict mode). Derivations are deterministic functions of
    doc_id/lang/source, kept SQL-mirrorable for the oracles."""
    from quickwit_spark.index.mapping import DocMapping, TypedField

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") % 1000).cast("string"),
            F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=(F.col("doc_id") * 97).cast("double"))
        ).alias("warc_ts"),
        "text",
        "lang",
        "source",
        "n_chars",
        # synthetic client address: 10.(doc_id%200).(7d%256).(13d%256)
        F.concat(
            F.lit("10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 13) % 256).cast("string"),
        ).alias("ip"),
        # multivalued keyword field (lang + a source tag)
        F.array(
            F.col("lang"), F.concat(F.lit("src-"), F.col("source"))
        ).alias("tags"),
        # OPTIONAL field, absent (NULL) for 3/5 of docs — the Exists
        # query's subject; presence ≡ doc_id % 5 < 2 (SQL-mirrorable)
        F.when(
            F.col("doc_id") % 5 < 2, F.concat(F.lit("note "), F.col("lang"))
        ).alias("alt_title"),
    )
    mapping = DocMapping(
        fields=[
            TypedField("url"),
            TypedField("warc_ts", "timestamp"),
            TypedField("text"),
            TypedField("lang"),
            TypedField("source"),
            TypedField("n_chars", "long"),
            TypedField("ip", "ip"),  # → canonical ::ffff:… + ip_key hex
            TypedField("tags", "text", array=True),
            TypedField("alt_title"),
        ],
        mode="strict",
        exclude=("doc_id",),
    )
    return mapping.apply(base)


def _ship(spark: SparkSession) -> None:
    """The driver hands us ITS SparkSession — make sure our package
    reaches its python workers regardless of how it was created."""
    if not getattr(spark, "_qws_shipped", False):
        from quickwit_spark.session import ship_package

        try:
            ship_package(spark)
        except Exception:  # noqa: BLE001 — already-added zip etc.
            pass
        spark._qws_shipped = True  # noqa: SLF001


def _searcher(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    _ship(spark)
    key = os.path.abspath(sf_dir)
    if key in _searchers:
        return _searchers[key]
    # _v6: + optional alt_title field (Exists-query subject) — the
    # suffix invalidates caches built under the older schema
    idx_dir = os.path.join(_IDX_ROOT, key.strip("/").replace("/", "_") + "_v6")
    cfg = IndexConfig(
        fields=[
            FieldConfig("text", record="position"),
            FieldConfig("lang", tokenizer="raw"),
            FieldConfig("all", sources=("text", "lang")),
            FieldConfig("tags", tokenizer="raw"),  # multivalued keyword
            FieldConfig("alt_title"),  # optional: 3/5 of docs lack it
        ],
        doc_key="doc_id",
        num_partitions=4,
        stored_columns=("url", "lang", "source", "n_chars", "text", "ip_key"),
        time_column="warc_ts",
        tag_fields=("lang",),
    )
    # build_index is resumable/idempotent: committed batches are skipped,
    # so a cached index is reused and a partial one is completed.
    build_index(spark, _corpus(spark, sf_dir), idx_dir, cfg, job_id="entry")
    s = IndexSearcher(spark, idx_dir)
    _searchers[key] = s
    return s


_event_searchers: dict[str, IndexSearcher] = {}


def _searcher_events(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """Log-analytics index over the events table (the reference's core
    use-case: timestamped logs, raw keyword field, time pruning, aggs).
    props' JSON payload is surfaced as a typed fast field at ingest."""
    _ship(spark)
    key = os.path.abspath(sf_dir)
    if key in _event_searchers:
        return _event_searchers[key]
    # _v2: nested JSON field `nested` typed through the doc mapper —
    # dot-path term search (nested_text) + typed fast subcolumn
    # (nested_u_id) — the reference's json/object field workflow
    from quickwit_spark.index.mapping import DocMapping, TypedField

    idx_dir = os.path.join(
        _IDX_ROOT, key.strip("/").replace("/", "_") + "_events_v2"
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.concat(
            F.lit('{"u": {"id": '),
            F.col("user_id").cast("string"),
            F.lit(', "seg": "s'),
            (F.col("user_id") % 7).cast("string"),
            F.lit('"}, "t": "'),
            F.col("event_type"),
            F.lit('"}'),
        ).alias("nested"),
    )
    mapping = DocMapping(
        fields=[
            TypedField("ts", "timestamp"),
            TypedField("user_id", "long"),
            TypedField("event_type"),
            TypedField("value", "double"),
            TypedField("k", "long"),
            TypedField("nested", "json", subfields={"u.id": "long"}),
        ],
        mode="lenient",
        exclude=("event_id",),
    )
    ev = mapping.apply(ev)
    cfg = IndexConfig(
        fields=[
            FieldConfig("event_type", tokenizer="raw"),
            FieldConfig("nested_text", tokenizer="whitespace"),
        ],
        doc_key="event_id",
        num_partitions=4,
        stored_columns=("user_id", "value", "event_type", "k", "nested_u_id"),
        time_column="ts",
        tag_fields=("event_type",),
    )
    build_index(spark, ev, idx_dir, cfg, job_id="entry_events")
    s = IndexSearcher(spark, idx_dir)
    _event_searchers[key] = s
    return s


_tagged_searchers: dict[str, IndexSearcher] = {}


def _searcher_tagged(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """Second index: routed by lang (partition_key analog) with lang
    tag sets in the manifest, so tag predicates actually PRUNE segments
    — the gate then proves pruned results match the full-corpus SQL."""
    _ship(spark)
    key = os.path.abspath(sf_dir)
    if key in _tagged_searchers:
        return _tagged_searchers[key]
    idx_dir = os.path.join(
        _IDX_ROOT, key.strip("/").replace("/", "_") + "_tags_v1"
    )
    cfg = IndexConfig(
        fields=[FieldConfig("text"), FieldConfig("lang", tokenizer="raw")],
        doc_key="doc_id",
        num_partitions=4,
        stored_columns=("lang",),
        tag_fields=("lang",),
        routing_column="lang",
    )
    build_index(spark, _corpus(spark, sf_dir), idx_dir, cfg, job_id="entry_tags")
    s = IndexSearcher(spark, idx_dir)
    _tagged_searchers[key] = s
    return s


_merged_searchers: dict[str, IndexSearcher] = {}


def _searcher_merged(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """Index built in TWO ingest jobs (doc_id parity halves → 2 segments
    per partition), then StableLog-merged (merge_factor=2) down to one
    segment per partition. The gates over this index prove the merge
    pipeline end-to-end: postings rebase/concat, norms carry-over and
    stats summing must leave results byte-identical to the full-corpus
    SQL. Extra analyzed views of the same text gate the en_stem
    (Porter2) and source_code (camelCase/underscore split) analyzers
    through real postings rather than pytest-only token lists."""
    _ship(spark)
    key = os.path.abspath(sf_dir)
    if key in _merged_searchers:
        return _merged_searchers[key]
    from quickwit_spark.index.merge import MergePolicy, run_merges

    # _v2: + zh_text / ml_text CJK analyzer-gate fields
    idx_dir = os.path.join(_IDX_ROOT, key.strip("/").replace("/", "_") + "_mrg_v2")
    # deterministic letter→CJK transliteration ('a'→一, 'b'→丁, …):
    # chinese_compatible must emit ONE TOKEN PER CJK CHAR for the
    # translated text to be searchable at all (oracle: LIKE '%letter%')
    cjk = "".join(chr(0x4E00 + i) for i in range(26))
    latin = "abcdefghijklmnopqrstuvwxyz"
    corpus = (
        _corpus(spark, sf_dir)
        .withColumn(
            # synthetic code-ish column: 'fetchDe_src4' — camelCase + '_'
            # boundaries are exactly what source_code_default must split
            "code_text",
            F.concat(F.lit("fetch"), F.initcap("lang"), F.lit("_"), F.col("source")),
        )
        .withColumn("zh_text", F.translate("text", latin, cjk))
        .withColumn(
            # mixed-script corpus (the multilang analyzer's use case):
            # zh docs carry CJK text, everything else stays latin
            "ml_text",
            F.when(F.col("lang") == "zh", F.translate("text", latin, cjk)).otherwise(
                F.col("text")
            ),
        )
    )
    cfg = IndexConfig(
        fields=[
            FieldConfig("text"),
            FieldConfig("text_stem", tokenizer="en_stem", sources=("text",)),
            FieldConfig("code_text", tokenizer="source_code_default"),
            FieldConfig("zh_text", tokenizer="chinese_compatible"),
            FieldConfig("ml_text", tokenizer="multilang_default"),
        ],
        doc_key="doc_id",
        num_partitions=2,
        stored_columns=("lang",),
    )
    build_index(
        spark, corpus.filter(F.col("doc_id") % 2 == 0), idx_dir, cfg, job_id="half0"
    )
    build_index(
        spark, corpus.filter(F.col("doc_id") % 2 == 1), idx_dir, cfg, job_id="half1"
    )
    # idempotent: resumed builds skip committed batches, a fully merged
    # index plans no further ops (one segment per partition+level)
    run_merges(spark, idx_dir, MergePolicy(merge_factor=2, max_merge_factor=2))
    s = IndexSearcher(spark, idx_dir)
    _merged_searchers[key] = s
    return s


_deleted_searchers: dict[str, IndexSearcher] = {}


def _searcher_deleted(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """Index with `lang:de` docs deleted by query and the tombstones
    applied through the janitor's single-segment rewrites (the
    reference's delete-task pipeline: docs stay searchable until a
    rewrite applies the delete). Post-rewrite searches must match SQL
    over the SURVIVING corpus — n/df/avgdl recomputed without the
    deleted docs (`_bm25_sql(corpus_sql=...)`)."""
    _ship(spark)
    key = os.path.abspath(sf_dir)
    if key in _deleted_searchers:
        return _deleted_searchers[key]
    from quickwit_spark.index.deletes import delete_by_query, plan_delete_rewrites
    from quickwit_spark.index.merge import execute_merge

    idx_dir = os.path.join(_IDX_ROOT, key.strip("/").replace("/", "_") + "_del_v1")
    cfg = IndexConfig(
        fields=[FieldConfig("text"), FieldConfig("lang", tokenizer="raw")],
        doc_key="doc_id",
        num_partitions=4,
        stored_columns=("lang",),
    )
    build_index(spark, _corpus(spark, sf_dir), idx_dir, cfg, job_id="entry_del")
    s = IndexSearcher(spark, idx_dir)
    if s.count(Term("lang", "de")) > 0:  # idempotent across cached runs
        delete_by_query(s, Term("lang", "de"))
        for op in plan_delete_rewrites(idx_dir):
            execute_merge(spark, idx_dir, op)
        s = IndexSearcher(spark, idx_dir)  # fresh manifest view
    _deleted_searchers[key] = s
    return s


_retained_searchers: dict[str, IndexSearcher] = {}
_RETENTION_CUTOFF = "2024-01-01 06:00:00"


def _searcher_retained(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """Retention-policy gate fixture: TWO ingest batches split exactly at
    the retention cutoff (so each batch's segments span only its half's
    time range), then `apply_retention` retires every pre-cutoff segment
    via its manifest time_range. Searches must then match SQL over the
    docs at/after the cutoff — if retirement misfires in either
    direction the count/top-k hashes diverge."""
    _ship(spark)
    key = os.path.abspath(sf_dir)
    if key in _retained_searchers:
        return _retained_searchers[key]
    import datetime as dt

    from quickwit_spark.index.retention import apply_retention

    idx_dir = os.path.join(_IDX_ROOT, key.strip("/").replace("/", "_") + "_ret_v1")
    corpus = _corpus(spark, sf_dir)
    old = F.col("warc_ts") < F.to_timestamp(F.lit(_RETENTION_CUTOFF))
    cfg = IndexConfig(
        fields=[FieldConfig("text")],
        doc_key="doc_id",
        num_partitions=2,
        stored_columns=("lang",),
        time_column="warc_ts",
    )
    build_index(spark, corpus.filter(old), idx_dir, cfg, job_id="old")
    build_index(spark, corpus.filter(~old), idx_dir, cfg, job_id="new")
    cutoff_micros = int(
        dt.datetime.fromisoformat(_RETENTION_CUTOFF)
        .replace(tzinfo=dt.timezone.utc)  # session timeZone is UTC
        .timestamp()
        * 1_000_000
    )
    apply_retention(idx_dir, cutoff_micros)  # idempotent: retired stay retired
    s = IndexSearcher(spark, idx_dir)
    _retained_searchers[key] = s
    return s


def _topk(searcher: IndexSearcher, ast, k: int = 10, **kw) -> DataFrame:
    res = searcher.search(ast, k=k, mode="oracle", **kw)
    return res.select(
        "doc_key",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


# --------------------------------------------------------------------------
# BM25 oracle SQL generator
# --------------------------------------------------------------------------

def _toks_cte(corpus_sql: str = "documents") -> str:
    """toks/dl/stats CTEs over `corpus_sql` (a table name or derived
    table). Post-delete oracles pass a filtered corpus so n/df/avgdl are
    recomputed over the SURVIVORS — matching the engine's rebuilt
    segment stats after a delete rewrite."""
    return f"""
toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM {corpus_sql} AS corpus
  ) WHERE term <> ''
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT CAST((SELECT COUNT(*) FROM {corpus_sql} AS corpus) AS DOUBLE) AS n,
         CAST((SELECT COUNT(*) FROM toks) AS DOUBLE) AS total
)"""


def _sql_quote(t: str) -> str:
    return "'" + t.replace("'", "''") + "'"


def _bm25_sql(
    scoring: list[tuple[str, float]],
    must: list[str] | None = None,
    must_not: list[str] | None = None,
    filter_sql: str | None = None,
    term_pred: str | None = None,
    k: int = 10,
    offset: int = 0,
    corpus_sql: str = "documents",
) -> str:
    """Top-k BM25 oracle. `scoring` = [(term, boost)]; `must` terms are
    required (AND); `term_pred` overrides the term membership predicate
    (wildcard expansion); `filter_sql` is a predicate over `documents`."""
    # tf/df only need the SCORING terms; must/must_not are doc-set
    # predicates evaluated straight against `toks` below.
    pred = term_pred or (
        "term IN (" + ", ".join(_sql_quote(t) for t, _ in scoring) + ")"
    )
    boost_case = "1.0"
    boosted = [(t, b) for t, b in scoring if b != 1.0]
    if boosted:
        whens = " ".join(
            f"WHEN tf.term = {_sql_quote(t)} THEN {b!r}" for t, b in boosted
        )
        boost_case = f"CASE {whens} ELSE 1.0 END"
    conds = []
    for t in must or []:
        conds.append(
            f"doc_id IN (SELECT doc_id FROM toks WHERE term = {_sql_quote(t)})"
        )
    for t in must_not or []:
        conds.append(
            f"doc_id NOT IN (SELECT doc_id FROM toks WHERE term = {_sql_quote(t)})"
        )
    if filter_sql:
        conds.append(f"doc_id IN (SELECT doc_id FROM documents WHERE {filter_sql})")
    having = " AND ".join(conds) if conds else "TRUE"
    return f"""
WITH {_toks_cte(corpus_sql)},
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks WHERE {pred} GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM toks WHERE {pred} GROUP BY term
),
contrib AS (
  SELECT tf.doc_id,
         ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5)) * 2.2 * ({boost_case})
           * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (s.total / s.n))) AS sc
  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
),
scored AS (
  SELECT doc_id, ROUND(SUM(sc), 9) AS s9
  FROM contrib
  WHERE {having}
  GROUP BY doc_id
)
SELECT doc_id AS doc_key,
       ROUND(s9, 6) AS score,
       CAST(ROW_NUMBER() OVER (ORDER BY s9 DESC, doc_id DESC) - {offset} AS BIGINT) AS rank
FROM scored
ORDER BY s9 DESC, doc_id DESC
LIMIT {k} OFFSET {offset}
"""


def _and_sql(terms: list[str], k: int = 10) -> str:
    return _bm25_sql([(t, 1.0) for t in terms], must=list(terms), k=k)


_MATCH_TERM_SQL = """
WITH toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) WHERE term <> ''
)
SELECT d.doc_id AS doc_key, d.lang, d.source
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term = 'spark')
"""

_COUNT_TERM_SQL = """
WITH toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) WHERE term <> ''
)
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS num_hits
FROM toks WHERE term = 'spark'
"""

_LIST_TERMS_SQL = """
WITH toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) WHERE term <> ''
)
SELECT DISTINCT term FROM toks
WHERE term >= 's' AND term < 't'
ORDER BY term LIMIT 100
"""

_AGG_MATCH_CTE = """
toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) WHERE term <> ''
),
m AS (
  SELECT d.* FROM documents d
  WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term = 'table')
)"""


# --------------------------------------------------------------------------
# query callables
# --------------------------------------------------------------------------

_TIME_HI = "2024-01-03 00:00:00"


def _q_term_topk(spark, sf_dir):
    return _topk(_searcher(spark, sf_dir), Term("text", "spark"))


def _q_or_topk(spark, sf_dir):
    return _topk(_searcher(spark, sf_dir), FullText("text", "spark join stream", "or"))


def _q_and_topk(spark, sf_dir):
    return _topk(_searcher(spark, sf_dir), FullText("text", "table join", "and"))


def _q_bool_mixed(spark, sf_dir):
    ast = Bool(
        must=[Term("text", "spark")],
        should=[Term("text", "join"), Term("text", "stream")],
        must_not=[Term("text", "slow")],
    )
    return _topk(_searcher(spark, sf_dir), ast)


def _q_boost(spark, sf_dir):
    ast = Bool(should=[Boost(Term("text", "join"), 2.0), Term("text", "stream")])
    return _topk(_searcher(spark, sf_dir), ast)


def _q_filter_time(spark, sf_dir):
    import datetime as dt

    hi = dt.datetime.fromisoformat(_TIME_HI)
    ast = Bool(must=[Term("text", "spark")], filter=[Range("warc_ts", lt=hi)])
    return _topk(_searcher(spark, sf_dir), ast)


def _q_filter_lang(spark, sf_dir):
    ast = Bool(must=[Term("text", "query")], filter=[Term("lang", "en")])
    return _topk(_searcher(spark, sf_dir), ast)


def _q_wildcard(spark, sf_dir):
    return _topk(_searcher(spark, sf_dir), Wildcard("text", "qu*"))


def _q_regex(spark, sf_dir):
    """Regex query (ref `query_ast/regex_query.rs`): anchored full-match
    expansion against the term dictionary → TermSet OR with per-term
    idf. `[a-z]*er` has NO literal prefix, exercising the full bounded
    dictionary scan path (wildcard gate covers the prefix-range path)."""
    return _topk(_searcher(spark, sf_dir), Regex("text", "[a-z]*er"))


def _q_exists_filter(spark, sf_dir):
    """Exists in FILTER context (non-scoring, like the reference's
    FieldPresence): BM25 of text:spark restricted to docs that HAVE the
    optional alt_title field (presence ≡ doc_id % 5 < 2)."""
    return _topk(
        _searcher(spark, sf_dir),
        Bool(must=[Term("text", "spark")], filter=[Exists("alt_title")]),
    )


def _q_es_dsl_bool(spark, sf_dir):
    """Full ES `_search` body through the DSL translator: match must +
    term must_not + non-scoring range filter (`query/es_dsl.py`,
    ref `elasticsearch_api/rest_handler.rs`)."""
    s = _searcher(spark, sf_dir)
    body = {
        "query": {
            "bool": {
                "must": [{"match": {"text": "spark"}}],
                "must_not": [{"term": {"text": {"value": "join"}}}],
                "filter": [{"range": {"n_chars": {"gte": 200}}}],
            }
        },
        "size": 10,
    }
    out = s.es_search(body, mode="oracle")["hits"]
    return out.select(
        "doc_key",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_scroll_page3(spark, sf_dir):
    """Scroll contexts (ref `scroll_context.rs`): third page of a
    field-sorted scroll — ranks continue across pages and the cursor
    tie-breaks by doc_key following the primary (desc) order."""
    s = _searcher(spark, sf_dir)
    ctx = s.scroll(
        Term("text", "spark"), page_size=10, sort_field="n_chars",
        batch_len=12,  # < 3 pages: forces ≥2 cursored refetches
    )
    page = []
    for _ in range(3):
        page = ctx.next_page()
    return spark.createDataFrame(
        [
            (r["doc_key"], int(r["sort_value"]), int(r["rank"]))
            for r in page
        ],
        "doc_key long, sort_value long, rank long",
    )


def _q_query_string(spark, sf_dir):
    """Query-string path end-to-end: field-scoped group syntax parsed
    by the mini-DSL, not a hand-built AST."""
    return _topk(_searcher(spark, sf_dir), "text:(spark OR join)")


def _q_qs_time_range(spark, sf_dir):
    """Full query-string path with rfc3339 range bounds and a bare
    `field:*` Exists clause (docs/reference/query-language.md parity):
    the parser lexes colon-bearing bounds as one value, maps
    `alt_title:*` to FieldPresence, and the time range BOTH refines
    manifest pruning (reference refine_start_end_timestamp_from_ast,
    root.rs:1108-1137) and reaches the docmap as a pushed filter."""
    q = (
        "text:spark AND alt_title:* "
        "AND warc_ts:[2024-01-01T10:00:00Z TO 2024-01-03T00:00:00Z}"
    )
    return _topk(_searcher(spark, sf_dir), q)


def _q_tag_pruned(spark, sf_dir):
    """Same shape as search_filter_lang but on the lang-routed index
    whose manifest tags PRUNE segments before the scan — green means
    tag pruning is evidence-only (identical answer, fewer segments)."""
    ast = Bool(must=[Term("text", "query")], filter=[Term("lang", "de")])
    return _topk(_searcher_tagged(spark, sf_dir), ast)


def _q_snippet(spark, sf_dir):
    """Fetch-phase highlighting: with max_chars ≥ len(text) the best
    window runs from the first matched token to the end of the doc with
    every occurrence wrapped — exactly SQL-reproducible."""
    s = _searcher(spark, sf_dir)
    res = s.search(
        Term("text", "vector"),
        k=10,
        mode="oracle",
        snippet_fields=["text"],
        snippet_max_chars=1_000_000,
    )
    return res.select(
        "doc_key",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
        "snippet_text",
    )


def _q_events_error_by_day(spark, sf_dir):
    """Logs workflow: raw keyword match → docmap join → date_histogram."""
    s = _searcher_events(spark, sf_dir)
    m = aggs.matches(s, Term("event_type", "error"), columns=["ts"])
    return aggs.date_histogram(m, "ts", "day")


def _q_events_top_value(spark, sf_dir):
    """Fast-field sort over the events index (no scoring)."""
    s = _searcher_events(spark, sf_dir)
    out = s.sort_by_field(Term("event_type", "click"), "value", k=10, tie_by_key=True)
    return out.select(
        "doc_key",
        F.round("sort_value", 6).alias("sort_value"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_events_two_key_sort(spark, sf_dir):
    """Reference ≤2-sort-keys collector: (user_id asc, value desc)."""
    s = _searcher_events(spark, sf_dir)
    out = s.sort_by_field(
        Term("event_type", "view"),
        [("user_id", False), ("value", True)],
        k=10,
        tie_by_key=True,
    )
    return out.select(
        "doc_key",
        F.col("sort_value").cast("long").alias("sort_value"),
        F.round("sort_value2", 6).alias("sort_value2"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_events_user_cardinality(spark, sf_dir):
    s = _searcher_events(spark, sf_dir)
    m = aggs.matches(s, Term("event_type", "error"), columns=["user_id"])
    return aggs.cardinality(m, "user_id", exact=True)


def _q_concat_count(spark, sf_dir):
    """Concatenate-field search: `all` indexes text+lang under one
    virtual field, so all:en hits docs whose lang is 'en' OR whose text
    contains the token."""
    n = _searcher(spark, sf_dir).count(Term("all", "en"))
    return spark.createDataFrame([(n,)], "num_hits long")


def _q_match_stream(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    return s.search_stream(Term("text", "spark"), ["lang", "source"])


def _q_bulk_count(spark, sf_dir):
    """ES `_bulk` wire ingestion end-to-end (reference
    `elasticsearch_api/bulk.rs`): an NDJSON action/source payload is
    parsed (docs JVM-side), indexed through the ordinary distributed
    build as its own lineage batch, then counted. Replays are
    idempotent via the fixed request id."""
    import json as _json

    from quickwit_spark.sources.bulk import es_bulk

    key = os.path.abspath(sf_dir)
    idx_dir = os.path.join(
        _IDX_ROOT, key.strip("/").replace("/", "_") + "_bulk_v1"
    )
    pdf = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter("doc_id < 400")
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
        .toPandas()
    )
    lines = []
    for r in pdf.itertuples(index=False):
        lines.append(
            _json.dumps({"index": {"_index": "docs", "_id": int(r.doc_id)}})
        )
        lines.append(_json.dumps({"text": r.text, "lang": r.lang}))
    cfg = IndexConfig(
        fields=[FieldConfig("text"), FieldConfig("lang", tokenizer="raw")],
        doc_key="doc_id",
        num_partitions=2,
    )
    es_bulk(spark, "\n".join(lines), idx_dir, cfg, request_id="bulk-gate")
    s = IndexSearcher(spark, idx_dir)
    n = s.count(Bool(must=[Term("text", "spark")], filter=[Term("lang", "en")]))
    return spark.createDataFrame([(n,)], "num_hits long")


def _q_source_render(spark, sf_dir):
    """`_source` output-format rendering end-to-end through the facade
    (reference doc reconstruction, `tantivy_val_to_json.rs` +
    `date_time_format.rs:97-146`): unix-ingested datetimes come back
    rfc3339, u64 with output_format "string" renders as a string,
    base64 bytes re-encode to hex, IPv4-mapped ips print as dotted
    quads. The oracle reproduces every rendering in ANSI SQL."""
    import base64 as _b64

    from quickwit_spark.api import QuickwitSpark

    key = os.path.abspath(sf_dir)
    root = os.path.join(
        _IDX_ROOT, key.strip("/").replace("/", "_") + "_outfmt_v1"
    )
    qw = QuickwitSpark(spark, root)
    if "outfmt" not in qw.list_indexes():
        qw.create_index({
            "index_id": "outfmt",
            "doc_mapping": {
                "mode": "dynamic",
                "field_mappings": [
                    {"name": "ts", "type": "datetime", "fast": True,
                     "input_formats": ["unix_timestamp"]},
                    {"name": "n", "type": "u64", "fast": True,
                     "output_format": "string"},
                    {"name": "payload", "type": "bytes",
                     "output_format": "hex"},
                    {"name": "addr", "type": "ip"},
                ],
            },
        })
        ids = [
            int(r.doc_id)
            for r in spark.read.parquet(
                os.path.join(sf_dir, "documents.parquet")
            )
            .filter("doc_id < 240")
            .select("doc_id")
            .orderBy("doc_id")
            .toPandas()
            .itertuples(index=False)
        ]
        qw.ingest("outfmt", [
            {
                "ts": 1_700_000_000 + i * 37,
                "n": i * 11,
                "payload": _b64.b64encode(f"doc{i}".encode()).decode(),
                "addr": f"::ffff:10.0.0.{i % 250 + 1}",
            }
            for i in ids
        ])
    r = qw.search(
        "outfmt",
        {"query": {"match_all": {}}, "size": 10, "sort": [{"n": "asc"}]},
    )
    rows = [
        (
            h["_source"]["ts"],
            h["_source"]["n"],
            h["_source"]["payload"],
            h["_source"]["addr"],
        )
        for h in r["hits"]["hits"]
    ]
    return spark.createDataFrame(
        rows, "ts_out string, n_out string, payload_out string, addr_out string"
    )


def _q_mapping_update(spark, sf_dir):
    """Non-additive doc-mapping update end-to-end (reference
    `docs/reference/updating-mapper.md` + `tantivy_val_to_json.rs`):
    ingest under (a:text, b:u64, c:array<text>), PUT an update swapping
    them to (a:u64, b:text, c:text), then fetch — old-split values
    convert best-effort under the NEW mapping: numeric strings become
    u64 (non-numeric omit to NULL), u64 stringifies, array<text>→text
    keeps the first convertible element. The oracle reproduces every
    conversion in SQL."""
    from quickwit_spark.api import QuickwitSpark

    key = os.path.abspath(sf_dir)
    root = os.path.join(
        _IDX_ROOT, key.strip("/").replace("/", "_") + "_updmap_v1"
    )
    qw = QuickwitSpark(spark, root)
    if "updmap" not in qw.list_indexes():
        qw.create_index({
            "index_id": "updmap",
            "doc_mapping": {
                "mode": "dynamic",
                "field_mappings": [
                    {"name": "k", "type": "u64", "fast": True},
                    {"name": "a", "type": "text"},
                    {"name": "b", "type": "u64"},
                    {"name": "c", "type": "array<text>"},
                ],
            },
        })
        ids = [
            int(r.doc_id)
            for r in spark.read.parquet(
                os.path.join(sf_dir, "documents.parquet")
            )
            .filter("doc_id < 200")
            .select("doc_id")
            .orderBy("doc_id")
            .toPandas()
            .itertuples(index=False)
        ]
        qw.ingest("updmap", [
            {
                "k": i,
                # even ids: numeric string (converts to u64 after the
                # update); odd ids: a word (omitted after the update)
                "a": str(i * 3) if i % 2 == 0 else f"w{i}",
                "b": i * 7,
                "c": [f"x{i}", str(i)],
            }
            for i in ids
        ])
        qw.update_index("updmap", {
            "index_id": "updmap",
            "doc_mapping": {
                "mode": "dynamic",
                "field_mappings": [
                    {"name": "k", "type": "u64", "fast": True},
                    {"name": "a", "type": "u64"},
                    {"name": "b", "type": "text"},
                    {"name": "c", "type": "text"},
                ],
            },
        })
    r = qw.search(
        "updmap",
        {"query": {"match_all": {}}, "size": 12, "sort": [{"k": "asc"}]},
    )
    rows = [
        (
            int(h["_source"]["k"]),
            # unconvertible "w<i>" values are OMITTED from the doc —
            # surfaced as -1 (NULL would hash as NaN on the Spark side
            # and None on the DuckDB side in the driver's comparison)
            (-1 if "a" not in h["_source"] else int(h["_source"]["a"])),
            h["_source"]["b"],
            h["_source"]["c"],
        )
        for h in r["hits"]["hits"]
    ]
    return spark.createDataFrame(
        rows, "k_out long, a_out long, b_out string, c_out string"
    )


def _q_count_term(spark, sf_dir):
    n = _searcher(spark, sf_dir).count(Term("text", "spark"))
    return spark.createDataFrame([(n,)], "num_hits long")


_multi_roots: dict[str, str] = {}


def _q_multi_index_count(spark, sf_dir):
    """Index-pattern fan-out (reference root.rs multi-index leaf-search
    map): the corpus split across TWO indexes, searched through
    MultiIndexSearcher.resolve('logs-*') — counts must equal the
    whole-corpus oracle."""
    from quickwit_spark.search.multi import MultiIndexSearcher
    from quickwit_spark.sources.corpus import web_corpus

    m = _multi_searcher(spark, sf_dir)
    n = m.count(Term("text", "spark"))
    return spark.createDataFrame([(n,)], "num_hits long")


def _multi_searcher(spark, sf_dir):
    from quickwit_spark.search.multi import MultiIndexSearcher
    from quickwit_spark.sources.corpus import web_corpus

    _ship(spark)
    key = os.path.abspath(sf_dir)
    root = _multi_roots.get(key)
    if root is None:
        # _v2: + stored lang (cross-index aggregation gate)
        root = os.path.join(_IDX_ROOT, key.strip("/").replace("/", "_") + "_multi_v2")
        df = web_corpus(spark, sf_dir)
        cfg = IndexConfig(
            fields=[FieldConfig("text")], doc_key="doc_id", num_partitions=2,
            stored_columns=("lang",),
        )
        for name, par in (("logs-a", 0), ("logs-b", 1)):
            build_index(
                spark, df.filter(F.col("doc_id") % 2 == par),
                os.path.join(root, name), cfg, job_id=name,
            )
        _multi_roots[key] = root
    return MultiIndexSearcher.resolve(spark, root, "logs-*")


def _q_multi_index_terms_agg(spark, sf_dir):
    """Cross-index aggregation: ONE terms-agg plan over the union of
    both member indexes' match frames (the root-side aggregation merge
    of the reference, expressed as a distributed union-groupBy)."""
    m = _multi_searcher(spark, sf_dir)
    return aggs.terms_agg(
        m.matches(Term("text", "table"), columns=["lang"]), "lang", size=10
    )


def _q_multi_index_topk(spark, sf_dir):
    """Federated BM25 top-k (reference root merge of per-index leaf
    responses, `root.rs:162-168,561`): each member scores with ITS OWN
    index statistics (no renormalization), members emit their own top-k
    under the engine tie order, and the federation reranks the ≤ k×I
    winners by (score desc, _index asc, doc_key asc)."""
    m = _multi_searcher(spark, sf_dir)
    res = m.search(FullText("text", "spark join", "or"), k=10, mode="oracle")
    return res.select(
        "doc_key",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_qs_compare_range(spark, sf_dir):
    """Query-string comparison shorthand (`field:>=v`, reference
    query-language §Half-Open bounds) through the full search path:
    term intersect + fast-field half-open range."""
    n = _searcher(spark, sf_dir).count("text:spark AND n_chars:>=200")
    return spark.createDataFrame([(n,)], "num_hits long")


_input_searchers: dict[str, IndexSearcher] = {}


def _searcher_input(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """Zero-shuffle build (routing='input'): segments are the input
    partitions in arrival order — the reference's DEFAULT ingest shape
    when no partition_key is configured. Gates that the no-exchange
    build path answers queries identically to the routed one."""
    _ship(spark)
    key = os.path.abspath(sf_dir)
    if key in _input_searchers:
        return _input_searchers[key]
    idx_dir = os.path.join(_IDX_ROOT, key.strip("/").replace("/", "_") + "_inp_v1")
    cfg = IndexConfig(
        fields=[FieldConfig("text")],
        doc_key="doc_id",
        stored_columns=("url",),
        time_column="warc_ts",
        routing="input",
    )
    from quickwit_spark.sources.corpus import web_corpus

    # deterministic multi-partition input (hash on the key column)
    build_index(
        spark, web_corpus(spark, sf_dir).repartition(5, "doc_id"),
        idx_dir, cfg, job_id="entry-inp",
    )
    s = IndexSearcher(spark, idx_dir)
    _input_searchers[key] = s
    return s


def _q_input_routed_count(spark, sf_dir):
    s = _searcher_input(spark, sf_dir)
    n = s.count(Bool(must=[Term("text", "spark"), Term("text", "join")]))
    return spark.createDataFrame([(n,)], "num_hits long")


_streamed_searchers: dict[str, IndexSearcher] = {}


def _searcher_streamed(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """Index built THROUGH the Structured Streaming ingestion path
    (reference ingest: unbounded source micro-batched by commit
    timeout, `index_config/mod.rs:126-128`): the corpus lands as
    multiple parquet files, `readStream` + maxFilesPerTrigger slices
    them into several micro-batches, and `index_stream`'s foreachBatch
    commits one split set per batch. Gates that micro-batched ingestion
    answers BM25 byte-identically to the one-shot batch build."""
    _ship(spark)
    key = os.path.abspath(sf_dir)
    if key in _streamed_searchers:
        return _streamed_searchers[key]
    from quickwit_spark.sources.corpus import web_corpus
    from quickwit_spark.streaming.indexing import index_stream

    base = os.path.join(_IDX_ROOT, key.strip("/").replace("/", "_") + "_stream_v1")
    src_dir = os.path.join(base, "source")
    idx_dir = os.path.join(base, "index")
    df = web_corpus(spark, sf_dir)
    if not os.path.exists(os.path.join(src_dir, "_SUCCESS")):
        df.repartition(4, "doc_id").write.mode("overwrite").parquet(src_dir)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 2)  # force >= 2 micro-batches
        .parquet(src_dir)
    )
    cfg = IndexConfig(
        fields=[FieldConfig("text")],
        doc_key="doc_id",
        num_partitions=2,
        stored_columns=("url",),
    )
    # availableNow: drain the backlog then stop — a resumed run replays
    # nothing (checkpoint) and build_index skips committed batches.
    q = index_stream(
        stream, idx_dir, cfg,
        checkpoint_dir=os.path.join(base, "ckpt"), name="entry-stream",
    )
    q.awaitTermination()
    s = IndexSearcher(spark, idx_dir)
    _streamed_searchers[key] = s
    return s


def _q_streamed_topk(spark, sf_dir):
    """Hot-term BM25 top-k over the micro-batch-streamed index — same
    oracle as the batch build (global stats are segmentation-invariant)."""
    return _topk(_searcher_streamed(spark, sf_dir), Term("text", "spark"))


_filesrc_searchers: dict[str, IndexSearcher] = {}


def _searcher_filesrc(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """Index ingested from gzipped NDJSON files (reference file source,
    `file_source.rs`: NDJSON possibly gzip → DocProcessor): the corpus
    is exported to .json.gz, re-read with an explicit schema (strict
    doc-mapping analog), and indexed. Gates the file-ingest path."""
    _ship(spark)
    key = os.path.abspath(sf_dir)
    if key in _filesrc_searchers:
        return _filesrc_searchers[key]
    from quickwit_spark.sources.corpus import web_corpus

    base = os.path.join(_IDX_ROOT, key.strip("/").replace("/", "_") + "_file_v1")
    src_dir = os.path.join(base, "ndjson")
    if not os.path.exists(os.path.join(src_dir, "_SUCCESS")):
        (
            web_corpus(spark, sf_dir)
            .select("doc_id", "text", "lang")
            .repartition(3)
            .write.mode("overwrite")
            .option("compression", "gzip")
            .json(src_dir)
        )
    raw = spark.read.schema("doc_id long, text string, lang string").json(src_dir)
    cfg = IndexConfig(
        fields=[FieldConfig("text"), FieldConfig("lang", tokenizer="raw")],
        doc_key="doc_id",
        num_partitions=2,
    )
    build_index(spark, raw, os.path.join(base, "index"), cfg, job_id="entry-file")
    s = IndexSearcher(spark, os.path.join(base, "index"))
    _filesrc_searchers[key] = s
    return s


def _q_file_source_count(spark, sf_dir):
    s = _searcher_filesrc(spark, sf_dir)
    n = s.count(Bool(must=[Term("text", "merge"), Term("lang", "fr")]))
    return spark.createDataFrame([(n,)], "num_hits long")


def _q_list_fields(spark, sf_dir):
    """Field-capabilities listing (reference `list_fields.rs`): indexed
    text fields from the index config + fast docmap columns. The result
    is a pure function of the main index config, so the oracle is the
    expected literal table."""
    rows = _searcher(spark, sf_dir).list_fields()
    data = [
        (
            r["name"], r["type"], bool(r["indexed"]),
            r["tokenizer"] if r["tokenizer"] else "-", bool(r["fast"]),
        )
        for r in rows
    ]
    return spark.createDataFrame(
        sorted(data),
        "name string, type string, indexed boolean, tokenizer string, fast boolean",
    )


def _q_count_all(spark, sf_dir):
    n = _searcher(spark, sf_dir).count(MatchAll())
    return spark.createDataFrame([(n,)], "num_hits long")


def _q_merged_topk(spark, sf_dir):
    """Hot-term top-k over the two-batch-then-merged index — must be
    byte-identical to the same query over the single-build index."""
    return _topk(_searcher_merged(spark, sf_dir), Term("text", "spark"))


def _q_stem_count(spark, sf_dir):
    """en_stem analyzer gate: query word 'queries' (absent from the
    corpus) stems to 'queri', matching docs that contain 'query' —
    nonzero only if BOTH index- and query-side stemming are correct."""
    n = _searcher_merged(spark, sf_dir).count(FullText("text_stem", "queries", "or"))
    return spark.createDataFrame([(n,)], "num_hits long")


def _q_code_count(spark, sf_dir):
    """source_code analyzer gate: 'fetchDe_src4' must split on the
    camelCase AND '_' boundaries (and lowercase) for token 'de' to
    exist at all — count equals docs with lang='de'."""
    n = _searcher_merged(spark, sf_dir).count(FullText("code_text", "de", "or"))
    return spark.createDataFrame([(n,)], "num_hits long")


def _q_cjk_count(spark, sf_dir):
    """chinese_compatible analyzer gate: 一 is the transliteration of
    'a', so the count equals docs whose text contains the LETTER 'a' —
    nonzero only if CJK text is split one-token-per-char."""
    n = _searcher_merged(spark, sf_dir).count(FullText("zh_text", "一", "or"))
    return spark.createDataFrame([(n,)], "num_hits long")


def _q_multilang_count(spark, sf_dir):
    """multilang analyzer gate over a mixed-script corpus: zh docs are
    fully CJK in ml_text, so 'spark' matches only non-zh docs — a
    different count than the plain text field's."""
    n = _searcher_merged(spark, sf_dir).count(FullText("ml_text", "spark", "or"))
    return spark.createDataFrame([(n,)], "num_hits long")


def _q_deleted_topk(spark, sf_dir):
    """Hot-term top-k AFTER delete-by-query(lang:de) + rewrite: scores
    must reflect the rebuilt stats (n/df/avgdl over survivors)."""
    return _topk(_searcher_deleted(spark, sf_dir), Term("text", "spark"))


def _q_deleted_count(spark, sf_dir):
    n = _searcher_deleted(spark, sf_dir).count(Term("text", "spark"))
    return spark.createDataFrame([(n,)], "num_hits long")


def _q_retention_count(spark, sf_dir):
    """Doc count after retention — retired segments must be gone, kept
    segments whole (count equals docs at/after the cutoff)."""
    n = _searcher_retained(spark, sf_dir).count(MatchAll())
    return spark.createDataFrame([(n,)], "num_hits long")


def _q_retention_topk(spark, sf_dir):
    """Hot-term top-k after retention: BM25 stats must come from the
    surviving segments only (oracle recomputes n/df/avgdl over the
    post-cutoff corpus)."""
    return _topk(_searcher_retained(spark, sf_dir), Term("text", "spark"))


def _q_transform_pipeline(spark, sf_dir):
    """VRL-processing-hook gate: declarative steps (rename / derive /
    filter / drop lower to Column expressions) plus an Arrow
    `map_batches` step — both tiers mirrored by the SQL oracle."""
    from quickwit_spark.sources.transform import Transform

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def tag_batch(pdf):
        pdf = pdf.copy()
        pdf["tag"] = pdf["etype_uc"] + ":" + pdf["uid"].astype("int64").astype(str)
        return pdf[["uid", "etype_uc", "vsq", "tag"]]

    t = (
        Transform()
        .rename(user_id="uid")
        .with_columns(
            etype_uc=F.upper("event_type"),
            vsq=F.round(F.col("value") * F.col("value"), 6),
        )
        .where(F.col("value") > 50)
        .drop("props", "ts", "event_id", "event_type", "value")
        .map_batches(tag_batch, "uid long, etype_uc string, vsq double, tag string")
    )
    return t(ev)


def _q_list_terms(spark, sf_dir):
    return _searcher(spark, sf_dir).list_terms("text", start="s", end="t", limit=100)


def _agg_match(spark, sf_dir, columns=None):
    return aggs.matches(_searcher(spark, sf_dir), Term("text", "table"), columns=columns)


def _q_agg_terms_lang(spark, sf_dir):
    return aggs.terms_agg(_agg_match(spark, sf_dir, ["lang"]), "lang", size=10)


def _q_agg_date_histogram(spark, sf_dir):
    return aggs.date_histogram(_agg_match(spark, sf_dir, ["warc_ts"]), "warc_ts", "day")


def _q_agg_histogram(spark, sf_dir):
    return aggs.histogram(_agg_match(spark, sf_dir, ["n_chars"]), "n_chars", 100.0)


def _q_agg_range(spark, sf_dir):
    return aggs.range_agg(
        _agg_match(spark, sf_dir, ["n_chars"]),
        "n_chars",
        [("short", None, 150), ("mid", 150, 300), ("long", 300, None)],
    )


def _q_agg_stats(spark, sf_dir):
    return aggs.stats_agg(_agg_match(spark, sf_dir, ["n_chars"]), "n_chars")


def _q_agg_cardinality(spark, sf_dir):
    return aggs.cardinality(_agg_match(spark, sf_dir, ["source"]), "source", exact=True)


def _q_agg_percentiles(spark, sf_dir):
    # exact=True: the oracle-comparable variant (default is the
    # percentile_approx sketch — the scale path, pytest-covered)
    out = aggs.percentiles(
        _agg_match(spark, sf_dir, ["n_chars"]), "n_chars", exact=True
    )
    return out.select(*[F.round(c, 6).alias(c) for c in out.columns])


def _q_agg_subagg(spark, sf_dir):
    out = aggs.terms_with_metrics(
        _agg_match(spark, sf_dir, ["lang", "n_chars"]),
        "lang",
        {"avg_nchars": ("avg", "n_chars"), "max_nchars": ("max", "n_chars")},
        size=10,
    )
    return out.select(
        "key",
        "doc_count",
        F.round("avg_nchars", 6).alias("avg_nchars"),
        "max_nchars",
    )


def _q_search_early(spark, sf_dir):
    """Split-order early termination: phase-1 probe on high-bound
    segments, θ demotes provable losers — results must be IDENTICAL to
    the plain BM25 oracle (demotion is evidence-based, not lossy)."""
    s = _searcher(spark, sf_dir)
    et = s.search_early(Term("text", "spark"), k=10, mode="oracle")
    return et["hits"].select(
        "doc_key",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_agg_nested(spark, sf_dir):
    """Two nested bucket levels + leaf metric through the ES aggs DSL:
    terms(lang) → terms(source) → avg(n_chars). The plan is one groupBy
    per level + winner semi-joins — no unpartitioned window."""
    s = _searcher(spark, sf_dir)
    body = {
        "query": {"match": {"text": {"query": "table"}}},
        "size": 0,
        "aggs": {
            "by_lang": {
                "terms": {"field": "lang", "size": 3},
                "aggs": {
                    "by_src": {
                        "terms": {"field": "source", "size": 2},
                        "aggs": {"avg_n": {"avg": {"field": "n_chars"}}},
                    }
                },
            }
        },
    }
    out = s.es_search(body)["aggregations"]["by_lang"]
    return out.select(
        "key",
        "doc_count",
        "by_src_key",
        "by_src_doc_count",
        F.round("avg_n", 6).alias("avg_n"),
    )


def _q_agg_nested3(spark, sf_dir):
    """THREE nested bucket levels (terms → terms → histogram), the
    arbitrary-depth lowering: one groupBy per level, winner semi-join /
    partitioned rank per level, left-join assembly."""
    s = _searcher(spark, sf_dir)
    body = {
        "query": {"match": {"text": {"query": "table"}}},
        "size": 0,
        "aggs": {
            "by_lang": {
                "terms": {"field": "lang", "size": 2},
                "aggs": {
                    "by_src": {
                        "terms": {"field": "source", "size": 2},
                        "aggs": {
                            "by_len": {
                                "histogram": {
                                    "field": "n_chars", "interval": 200.0
                                }
                            }
                        },
                    }
                },
            }
        },
    }
    out = s.es_search(body)["aggregations"]["by_lang"]
    return out.select(
        "key",
        F.col("doc_count").cast("long").alias("doc_count"),
        "by_src_key",
        F.col("by_src_doc_count").cast("long").alias("by_src_doc_count"),
        F.col("by_len_key").cast("double").alias("by_len_key"),
        F.col("by_len_doc_count").cast("long").alias("by_len_doc_count"),
    )


def _q_agg_extended_stats(spark, sf_dir):
    """extended_stats metric through the ES aggs DSL (reference
    `docs/reference/aggregation.md` "Extended Stats"): stats +
    sum_of_squares / population+sampling variance and std-deviation.
    One df.agg — mergeable partial/final, no shuffle skew."""
    from quickwit_spark.search.es_aggs import run_es_aggs

    df = _agg_match(spark, sf_dir, ["n_chars"])
    out = run_es_aggs(df, {"x": {"extended_stats": {"field": "n_chars"}}})["x"]
    return out.select(
        F.col("value_count").cast("long").alias("count"),
        F.col("value_min").alias("min"),
        F.col("value_max").alias("max"),
        F.col("value_sum").alias("sum"),
        F.round("value_avg", 6).alias("avg"),
        F.col("value_sum_of_squares").alias("sum_of_squares"),
        F.round("value_variance", 2).alias("variance"),
        F.round("value_variance_sampling", 2).alias("variance_sampling"),
        F.round("value_std_deviation", 4).alias("std_deviation"),
        F.round("value_std_deviation_sampling", 4).alias("std_deviation_sampling"),
    )


def _q_agg_terms_order(spark, sf_dir):
    """terms agg ordered by a metric sub-aggregation (reference terms
    `order` parameter): lang buckets ranked by avg(n_chars) desc — the
    order column rides the same groupBy, winners by
    TakeOrderedAndProject."""
    from quickwit_spark.search.es_aggs import run_es_aggs

    df = _agg_match(spark, sf_dir, ["lang", "n_chars"])
    out = run_es_aggs(
        df,
        {
            "t": {
                "terms": {
                    "field": "lang",
                    "size": 5,
                    "order": {"mean_len": "desc"},
                },
                "aggs": {"mean_len": {"avg": {"field": "n_chars"}}},
            }
        },
    )["t"]
    return out.select(
        "key",
        F.col("doc_count").cast("long").alias("doc_count"),
        F.round("mean_len", 6).alias("mean_len"),
    )


def _q_sort_by_field(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    out = s.sort_by_field(
        Term("text", "table"), "n_chars", k=10, descending=True, tie_by_key=True
    )
    return out.select(
        "doc_key",
        F.col("sort_value").cast("long").alias("sort_value"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_phrase_match(spark, sf_dir):
    """Exact-adjacency phrase over the position-indexed text field: all
    matching docs (vectorized position-chain intersection in the kernel)."""
    s = _searcher(spark, sf_dir)
    return s.search_stream(Phrase("text", "order fast"), ["lang"])


def _q_phrase_slop(spark, sf_dir):
    """Sloppy phrase (slop=2, transposition costs 2 — Lucene/tantivy
    convention): match set."""
    s = _searcher(spark, sf_dir)
    return s.search_stream(Phrase("text", "order scan", slop=2), ["lang"])


def _q_phrase_prefix(spark, sf_dir):
    """match_phrase_prefix: last token expanded against the term
    dictionary (prefix-range scan, capped at max_expansions=50)."""
    s = _searcher(spark, sf_dir)
    return s.search_stream(PhrasePrefix("text", "order s"), ["lang"])


def _q_phrase_fallback(spark, sf_dir):
    """Unquoted literal whose tokenization yields two tokens
    (`text:order-fast`): the reference's PhraseFallbackToIntersection
    mode (user_input_query.rs:251) — a slop-0 phrase because the field
    records positions. Result set must equal the explicit-phrase gate."""
    s = _searcher(spark, sf_dir)
    return s.search_stream("text:order-fast", ["lang"])


def _q_single_quote_and(spark, sf_dir):
    """Single-quoted literal (`text:'order fast'`): Delimiter::
    SingleQuotes → FullTextMode::Bool(And) (user_input_query.rs:252-254)
    — an intersection of the tokens, no adjacency required."""
    s = _searcher(spark, sf_dir)
    return s.search_stream("text:'order fast'", ["lang"])


def _q_search_after(spark, sf_dir):
    """Page 2 of the hot-term BM25 ranking via a search_after cursor —
    the cursor score is pushed into the kernel as a cutoff, so the page
    stays per-segment-truncated."""
    s = _searcher(spark, sf_dir)
    p1 = s.search(Term("text", "spark"), k=10, mode="oracle").collect()
    cursor = (float(p1[-1]["score"]), int(p1[-1]["doc_key"]))
    return _topk(s, Term("text", "spark"), k=10, search_after=cursor)


def _q_sort_field_page2(spark, sf_dir):
    """Page 2 of a fast-field sort via a (sort_value, doc_key) cursor."""
    s = _searcher(spark, sf_dir)
    p1 = s.sort_by_field(
        Term("text", "table"), "n_chars", k=10, descending=True, tie_by_key=True
    ).collect()
    cursor = (int(p1[-1]["sort_value"]), int(p1[-1]["doc_key"]))
    out = s.sort_by_field(
        Term("text", "table"), "n_chars", k=10, descending=True,
        search_after=cursor,
    )
    return out.select(
        "doc_key",
        F.col("sort_value").cast("long").alias("sort_value"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_sort_two_key_page2(spark, sf_dir):
    """Page 2 of a TWO-key fast-field sort via a (v1, v2, doc_key)
    cursor with per-key direction (reference cursors over both sort
    values, `search.proto:240-243`)."""
    s = _searcher_events(spark, sf_dir)
    specs = [("user_id", False), ("value", True)]
    p1 = s.sort_by_field(
        Term("event_type", "view"), specs, k=10, tie_by_key=True
    ).collect()
    last = p1[-1]
    cursor = (int(last["sort_value"]), float(last["sort_value2"]), int(last["doc_key"]))
    out = s.sort_by_field(
        Term("event_type", "view"), specs, k=10, search_after=cursor
    )
    return out.select(
        "doc_key",
        F.col("sort_value").cast("long").alias("sort_value"),
        F.round("sort_value2", 6).alias("sort_value2"),
        F.col("rank").cast("long").alias("rank"),
    )


_mixed_searchers: dict[str, IndexSearcher] = {}


def _searcher_mixed(spark: SparkSession, sf_dir: str) -> IndexSearcher:
    """Heterogeneous-typed dynamic column + u64 fast field. The
    reference's dynamic mapping types each JSON value (one tantivy
    column per type under a path, `mapping_tree.rs:629-690`) and u64
    spans past i64::MAX; here the mixed path keeps the original token
    (wire output) plus an exact decimal(38,9) coercion for sort, and
    the u64 column is decimal(20,0). Derivations are deterministic
    functions of doc_id, SQL-mirrorable for the oracles."""
    _ship(spark)
    key = os.path.abspath(sf_dir)
    if key in _mixed_searchers:
        return _mixed_searchers[key]
    idx_dir = os.path.join(
        _IDX_ROOT, key.strip("/").replace("/", "_") + "_mixed_v1"
    )
    doc_id = F.col("doc_id")
    tok = (
        F.when(
            doc_id % 4 == 1,
            F.when(doc_id % 8 == 1, F.lit("true")).otherwise(F.lit("false")),
        )
        .when(doc_id % 4 == 2, F.concat(doc_id.cast("string"), F.lit(".5")))
        .otherwise(doc_id.cast("string"))
    )
    df = (
        _corpus(spark, sf_dir)
        .select("doc_id", "text")
        .withColumn("mixed_tok", tok)
        .withColumn(
            "mixed_num",
            F.when(
                F.col("mixed_tok") == "true", F.lit(1).cast("decimal(38,9)")
            )
            .when(F.col("mixed_tok") == "false", F.lit(0).cast("decimal(38,9)"))
            .otherwise(F.col("mixed_tok").try_cast("decimal(38,9)")),
        )
        .withColumn(
            "u64_val",
            F.expr(
                "CAST(CAST(doc_id AS DECIMAL(20,0)) "
                "+ CAST('18446744073709551616' AS DECIMAL(20,0)) "
                "AS DECIMAL(20,0))"
            ),
        )
    )
    cfg = IndexConfig(
        fields=[
            FieldConfig("text", record="basic"),
            FieldConfig(
                "mixed_f", tokenizer="raw", record="basic", column="mixed_tok"
            ),
            FieldConfig(
                "u64_f", tokenizer="raw", record="basic", column="u64_val"
            ),
        ],
        doc_key="doc_id",
        num_partitions=2,
        stored_columns=("mixed_tok", "mixed_num", "u64_val"),
        field_options={
            "mixed_f": {
                "fast": True,
                "normalizer": "raw",
                "column": "mixed_num",
                "mixed": True,
                "orig_column": "mixed_tok",
            },
            "u64_f": {"fast": True, "normalizer": "raw", "column": "u64_val"},
        },
    )
    build_index(spark, df, idx_dir, cfg, job_id="entry")
    s = IndexSearcher(spark, idx_dir)
    _mixed_searchers[key] = s
    return s


def _q_sort_mixed_page2(spark, sf_dir):
    """Mixed-typed dynamic sort + ES values-only cursor: ascending page
    after numeric value 173 over a column of int/float/bool JSON tokens
    (numeric-coercion ordering, bool as 1/0 — the reference's
    search_after-corpus mixed-column semantics)."""
    s = _searcher_mixed(spark, sf_dir)
    out = s.es_search(
        {
            "query": {"match_all": {}},
            "size": 12,
            "sort": [{"mixed_f": "asc"}],
            "search_after": [173],
        }
    )["hits"]
    return out.select(
        "doc_key", F.col("sort_value").cast("string").alias("sv")
    )


def _q_u64_range(spark, sf_dir):
    """u64 fast field past i64::MAX: range filter with full 20-digit
    decimal bounds (a float bound would round the low digits away)."""
    s = _searcher_mixed(spark, sf_dir)
    ast = Range(
        "u64_f",
        gte="18446744073709551716",
        lt="18446744073709551816",
    )
    return s.search_stream(ast, ["u64_val"]).select(
        "doc_key", F.col("u64_val").cast("string").alias("u64")
    )


def _q_ip_range(spark, sf_dir):
    """Typed ip field: BM25 top-k restricted to an IP range via the
    32-hex ip_key fast column whose lexicographic order equals the
    reference's u128 ip order (IPv4→IPv6-mapped normalization)."""
    from quickwit_spark.index.mapping import ip_sort_key

    ast = Bool(
        must=[Term("text", "spark")],
        filter=[
            Range(
                "ip_key",
                gte=ip_sort_key("10.50.0.0"),
                lt=ip_sort_key("10.120.0.0"),
            )
        ],
    )
    return _topk(_searcher(spark, sf_dir), ast)


def _q_array_term(spark, sf_dir):
    """Multivalued keyword field: terms from EVERY array element are
    searchable (tags = [lang, 'src-'||source])."""
    s = _searcher(spark, sf_dir)
    ast = Bool(should=[Term("tags", "de"), Term("tags", "src-src3")])
    return s.search_stream(ast, ["lang", "source"])


def _q_json_path(spark, sf_dir):
    """Typed json field: dot-path term search over the flattened
    path.token stream + a range filter on a typed fast subcolumn."""
    s = _searcher_events(spark, sf_dir)
    ast = Bool(
        must=[Term("nested_text", "u.seg.s3"), Term("nested_text", "t.error")],
        filter=[Range("nested_u_id", lt=100)],
    )
    return s.search_stream(ast, ["user_id"])


_PHRASE_MATCH_SQL = """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents)
SELECT doc_id AS doc_key, lang
FROM t
WHERE len(list_filter(range(1, greatest(len(l), 1)),
          i -> l[i] = 'order' AND l[i+1] = 'fast')) > 0
"""

# slop semantics mirrored: 1-based positions i (term 1) / j (term 2);
# offset-adjusted distance |(j-1) - i| ≤ slop
_PHRASE_SLOP_SQL = """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents),
p AS (
  SELECT doc_id, lang,
         list_filter(range(1, len(l) + 1), i -> l[i] = 'order') AS p1,
         list_filter(range(1, len(l) + 1), j -> l[j] = 'scan')  AS p2
  FROM t
)
SELECT doc_id AS doc_key, lang
FROM p
WHERE len(list_filter(p2, j ->
        len(list_filter(p1, i -> abs((j - 1) - i) <= 2)) > 0)) > 0
"""

_PHRASE_PREFIX_SQL = """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents),
-- mirror the engine's max_expansions cap: only the FIRST 50 's'-prefixed
-- dictionary terms (sorted order) participate, like PhrasePrefix does
exp AS (
  SELECT term FROM (
    SELECT DISTINCT unnest(l) AS term FROM t
  ) WHERE term LIKE 's%' ORDER BY term LIMIT 50
)
SELECT doc_id AS doc_key, lang
FROM t CROSS JOIN (SELECT list(term) AS terms FROM exp) e
WHERE len(list_filter(range(1, greatest(len(l), 1)),
          i -> l[i] = 'order' AND list_contains(e.terms, l[i+1]))) > 0
"""


# --------------------------------------------------------------------------
# data-pipeline operators (dedup / similarity / text analysis) — run on the
# raw documents/embeddings tables, independent of the index
# --------------------------------------------------------------------------


def _q_dedup_exact(spark, sf_dir):
    from quickwit_spark.datapipe.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return exact_dedup(docs, "doc_id").select("doc_id", "dup_group", "is_duplicate")


def _q_dedup_jaccard(spark, sf_dir):
    from quickwit_spark.datapipe.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = ngram_jaccard_pairs(docs, "doc_id", k=3, threshold=0.15)
    return out.select("key_a", "key_b", F.round("jaccard", 6).alias("jaccard"))


def _q_dedup_minhash(spark, sf_dir):
    """MinHash-LSH candidate pairs in PORTABLE hash mode: the DuckDB
    oracle re-runs the identical signature + banding arithmetic, so the
    pair set and est_jaccard values hash-match exactly."""
    from quickwit_spark.datapipe.dedup import minhash_lsh_pairs, minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    sigs = minhash_signatures(docs, "doc_id", num_perm=32, portable=True)
    out = minhash_lsh_pairs(sigs, "doc_id", bands=8, rows=4)
    return out.select("key_a", "key_b", F.round("est_jaccard", 6).alias("est_jaccard"))


def _q_dedup_components(spark, sf_dir):
    """Near-dup CLUSTERS: min-label propagation (iterative, Spark-only
    shuffles over the edge set) on the portable MinHash-LSH pair graph;
    the DuckDB oracle computes the same components with a recursive-CTE
    transitive closure over the identical pair set."""
    from quickwit_spark.datapipe.dedup import (
        connected_components,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    sigs = minhash_signatures(docs, "doc_id", num_perm=32, portable=True)
    pairs = minhash_lsh_pairs(sigs, "doc_id", bands=8, rows=4)
    return connected_components(pairs)


def _q_dedup_anchor(spark, sf_dir):
    """Anchor-edge LSH dedup (the O(bucket) scale mode): star edges per
    band bucket instead of pair cliques, then the same min-label
    components. The DuckDB oracle rebuilds the identical star edges
    (per-band GROUP BY bucket → MIN anchor) and closes them with a
    recursive CTE — and, because a star on a clique preserves
    connectivity, the result also equals `dedup_components`."""
    from quickwit_spark.datapipe.dedup import (
        connected_components,
        minhash_lsh_edges,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    sigs = minhash_signatures(docs, "doc_id", num_perm=32, portable=True)
    edges = minhash_lsh_edges(sigs, "doc_id", bands=8, rows=4)
    return connected_components(edges)


def _q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs, portable 62-bit fingerprint. bands=9 >
    max_hamming=8 ⇒ banding is exhaustive (pigeonhole), so the result
    equals the brute-force Hamming-≤8 pair set the SQL oracle computes."""
    from quickwit_spark.datapipe.dedup import simhash, simhash_near_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    fp = simhash(docs, "doc_id", portable=True)
    out = simhash_near_pairs(fp, "doc_id", max_hamming=8, bands=9, bits=62)
    return out.select(
        "key_a", "key_b", F.col("hamming").cast("long").alias("hamming")
    )


def _q_knn_cosine(spark, sf_dir):
    from quickwit_spark.datapipe.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    out = brute_force_topk(emb, queries, k=10, rank_round=9)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def _q_knn_lsh(spark, sf_dir):
    """LSH-bucketed ANN. The hyperplanes are portable integer-parity
    mixes and the dot product is an in-order fold, so the DuckDB oracle
    reproduces buckets AND ranking exactly."""
    from quickwit_spark.datapipe.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    out = lsh_topk(emb, queries, k=10, planes=4, rank_round=9)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def _q_knn_lsh_scale(spark, sf_dir):
    """ANN at SCALE parameters: planes=12 (4096 buckets — the knob that
    keeps per-bucket candidate sets small at 10^12 vectors) with
    tables=2 OR-amplification recovering recall. Portable hyperplanes
    keep every bucket and the ranking SQL-reproducible."""
    from quickwit_spark.datapipe.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    out = lsh_topk(emb, queries, k=10, planes=12, tables=2, rank_round=9)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def _q_ivf_recall(spark, sf_dir):
    """IVF ANN quality gate: recall@10 vs brute force ≥ 0.9 at
    nlist=16 / nprobe=12, fixed seed (measured 0.975 at sf0.01). The
    k-means fit isn't SQL-expressible, so the oracle checks the recall
    CRITERION rather than bucket values."""
    from quickwit_spark.datapipe.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    bf = brute_force_topk(emb, q, k=10, rank_round=9).select(
        "query_id", "neighbor_id"
    )
    ivf = ivf_topk(
        emb, q, k=10, nlist=16, nprobe=12, seed=7, rank_round=9
    ).select("query_id", "neighbor_id")
    n_bf = bf.count()
    n_hit = bf.join(ivf, ["query_id", "neighbor_id"], "left_semi").count()
    recall = n_hit / max(n_bf, 1)
    return spark.createDataFrame([(bool(recall >= 0.9),)], "recall_ge_090 boolean")


def _q_ivfpq_recall(spark, sf_dir):
    """IVF-PQ ANN (coarse cells + product-quantized residual codes +
    ADC shortlist + exact re-rank) must reach recall@10 ≥ 0.85 vs
    brute force on uniform-random unit vectors — ANN's hardest input.
    k-means isn't SQL-expressible, so like `knn_ivf_recall` the oracle
    checks the recall CRITERION."""
    from quickwit_spark.datapipe.similarity import brute_force_topk, ivfpq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    bf = brute_force_topk(emb, q, k=10, rank_round=9).select(
        "query_id", "neighbor_id"
    )
    pq = ivfpq_topk(
        emb, q, k=10, nlist=16, nprobe=12, m=16, ksub=32, seed=7, refine=10
    ).select("query_id", "neighbor_id")
    n_bf = bf.count()
    n_hit = bf.join(pq, ["query_id", "neighbor_id"], "left_semi").count()
    recall = n_hit / max(n_bf, 1)
    return spark.createDataFrame(
        [(bool(recall >= 0.85),)], "recall_ge_085 boolean"
    )


def _q_text_stats(spark, sf_dir):
    from quickwit_spark.datapipe.textstats import token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = token_stats(docs)
    return out.select(
        "doc_id",
        "token_count",
        "uniq_tokens",
        F.round("uniq_ratio", 6).alias("uniq_ratio"),
        F.round("mean_token_len", 6).alias("mean_token_len"),
    )


def _q_text_quality(spark, sf_dir):
    from quickwit_spark.datapipe.textstats import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return quality_score(docs).select(
        "doc_id",
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("quality", 6).alias("quality"),
    )


def _q_lang_id(spark, sf_dir):
    from quickwit_spark.datapipe.textstats import language_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return language_id(docs).select(
        "doc_id", "lang_pred", F.round("lang_score", 6).alias("lang_score")
    )


def _q_fingerprint(spark, sf_dir):
    from quickwit_spark.datapipe.textstats import fingerprint_portable

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return fingerprint_portable(docs).select("doc_id", "fingerprint")


def _q_embedding_near_dup(spark, sf_dir):
    """Near-dup pairs through the hyperplane-LSH path (planes>0 — the
    10^12-scale shape), threshold low enough that real pairs exist; the
    oracle mirrors the bucket restriction, so this is a full hash check
    of the scale path, not a vacuous 0==0."""
    from quickwit_spark.datapipe.dedup import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = embedding_near_dup_pairs(emb, threshold=0.45, planes=4, rank_round=9)
    return out.select("key_a", "key_b", F.round("cosine", 6).alias("cosine"))


def _q_bpe_token_count(spark, sf_dir):
    from quickwit_spark.datapipe.textstats import bpe_token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return bpe_token_count(docs).select("doc_id", "bpe_tokens")


def _q_bpe_word_histogram(spark, sf_dir):
    """BPE stage 1 — the corpus-collapse pre-token histogram (GPT-2
    regex pre-tokenizer), top 200 by (n desc, word asc): the input the
    distributed trainer iterates on. Deterministic total order, so the
    limit boundary can't flap between engines."""
    from quickwit_spark.datapipe.bpe import word_histogram

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")
    return (
        word_histogram(docs)
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(200)
    )


def _q_bpe_top_pairs(spark, sf_dir):
    """BPE training round 1 — adjacent character-pair counts weighted
    by word frequency, top 50 by (cnt desc, a asc, b asc). This is the
    exact arg-max statistic `train_bpe` shuffles each round; the
    DuckDB oracle recomputes it from character positions. (Later
    rounds depend on the sequential arg-max, which one SQL statement
    can't express — training equality vs a golden implementation is
    covered in tests/test_bpe.py.)"""
    from quickwit_spark.datapipe.bpe import _adjacent_pairs, word_histogram

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")
    hist = word_histogram(docs)
    return (
        hist.select(F.split("word", "").alias("syms"), "n")
        .filter(F.size("syms") >= 2)
        .select(F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "n")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(50)
    )


def _messy_web_rows(docs):
    """Deterministically 'messy' web-corpus rows for the URL-pipeline
    gates: each doc gets one of five URL spellings of the same page
    (clean / uppercased scheme+host / utm-tracking params / explicit
    :443 port / another utm param), and every 10th doc additionally
    appears under a SECOND spelling — the duplicate the URL dedup must
    catch. Pure column expressions, mirrored 1:1 by the oracle CTE."""
    base_rows = docs.select(
        "doc_id", "text", (F.col("doc_id") * 2).alias("row_key"),
        (F.col("doc_id") % 5).alias("m"),
    )
    extra_rows = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "text", (F.col("doc_id") * 2 + 1).alias("row_key"),
        ((F.col("doc_id") + 2) % 5).alias("m"),
    )
    rows = base_rows.unionByName(extra_rows)
    n = (F.col("doc_id") % 23).cast("string")
    i = F.col("doc_id").cast("string")
    base = F.concat(F.lit("https://site"), n, F.lit(".example/p/"), i)
    url = (
        F.when(F.col("m") == 1,
               F.concat(F.lit("HTTPS://SITE"), n, F.lit(".EXAMPLE/p/"), i))
        .when(F.col("m") == 2,
              F.concat(base, F.lit("?utm_source=feed&utm_campaign=c")))
        .when(F.col("m") == 3,
              F.concat(F.lit("https://site"), n, F.lit(".example:443/p/"), i))
        .when(F.col("m") == 4, F.concat(base, F.lit("?utm_medium=rss")))
        .otherwise(base)
    )
    return rows.withColumn("url", url).drop("m")


def _q_web_url_dedup(spark, sf_dir):
    """URL-level dedup after canonicalization (webpipe.url_dedup) on
    the messy corpus: the 20 first duplicate groups with row/dup
    counts. Exercises fragment/tracking-param stripping, scheme+host
    lowering, and default-port removal end-to-end."""
    from quickwit_spark.datapipe.webpipe import url_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = url_dedup(_messy_web_rows(docs), "row_key")
    return (
        out.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("is_url_dup").cast("long")).alias("n_dups"),
        )
        .filter(F.col("n_rows") > 1)
        .orderBy("canonical_url")
        .limit(20)
    )


def _q_web_domain_stats(spark, sf_dir):
    """Per-domain corpus stats (webpipe.domain_stats) over the messy
    corpus: top 10 hosts by doc count (host extraction must see through
    the uppercase/port/param variants)."""
    from quickwit_spark.datapipe.webpipe import domain_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = domain_stats(_messy_web_rows(docs), "url", "text")
    return (
        out.select(
            "host", "doc_count", "total_chars",
            F.round("mean_chars", 6).alias("mean_chars"),
        )
        .orderBy(F.desc("doc_count"), "host")
        .limit(10)
    )


def _q_otlp_logs_count(spark, sf_dir):
    """OTLP logs input format (qw/quickwit-opentelemetry/src/otlp/
    logs.rs parse_otlp_logs + the otel-logs-v0_9 mapping): the events
    table is serialized into OTLP/JSON ExportLogsServiceRequest
    payloads (one per event, service.name as a resource attribute),
    parsed back into flat LogRecord docs by sources/otlp, and
    aggregated. The oracle re-derives service/severity/timestamp/
    attribute values straight from the parquet rows, so nano timestamp
    conversion, enum coercion, attribute-JSON canonicalization and
    string-body {"message": ...} wrapping all value-hash."""
    from quickwit_spark.sources.otlp import otlp_logs_docs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    payload = F.format_string(
        '{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name",'
        '"value":{"stringValue":"svc-%d"}}],"droppedAttributesCount":1},'
        '"scopeLogs":[{"scope":{"name":"qws","version":"0.1"},"logRecords":'
        '[{"timeUnixNano":"%d","severityNumber":%d,"severityText":"%s",'
        '"body":{"stringValue":"evt-%d"},"attributes":[{"key":"etype",'
        '"value":{"stringValue":"%s"}}]}]}]}]}',
        F.col("user_id") % 5,
        F.unix_micros(F.col("ts").cast("timestamp")) * 1000,
        F.when(F.col("event_type") == "error", 17).otherwise(9),
        F.upper("event_type"),
        F.col("event_id"),
        F.col("event_type"),
    )
    docs = otlp_logs_docs(ev.select(payload.alias("payload")))
    return (
        docs.groupBy(
            "service_name", "severity_number", "severity_text", "attributes"
        )
        .agg(
            F.count("*").alias("n"),
            F.min("timestamp_nanos").alias("min_ts"),
            F.max("timestamp_nanos").alias("max_ts"),
            F.count_distinct("body").alias("n_bodies"),
        )
        .orderBy("service_name", "severity_number")
    )


def _q_otlp_traces_topk(spark, sf_dir):
    """OTLP traces through the *binary protobuf* wire path
    (qw/quickwit-opentelemetry/src/otlp/traces.rs Span::from_otlp):
    events are packed into ExportTraceServiceRequest wire payloads
    (hand-rolled public protobuf writer, one request per Arrow batch,
    spans grouped by resource service), decoded by
    otlp_traces_docs(fmt="protobuf"), and the top-10 spans by duration
    returned. Exercises varint/fixed64/length-delimited decode, hex id
    + enum coercions, and the fingerprint/duration/is_root/status
    derivations; the oracle rebuilds every output field from the raw
    rows."""
    from quickwit_spark.sources.otlp import (
        encode_traces_request,
        otlp_traces_docs,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )

    def build(batches):
        import pyarrow as pa

        for batch in batches:
            rows = batch.to_pylist()
            if not rows:
                continue
            spans_by_svc: dict[str, list] = {}
            for r in rows:
                svc = f"svc-{r['user_id'] % 5}"
                start = r["us"] * 1000
                dur_ms = r["event_id"] % 50 + 1
                span = {
                    "traceId": f"{r['event_id'] + 1:032x}",
                    "spanId": f"{r['event_id'] + 1:016x}",
                    "name": r["event_type"],
                    "kind": 2 if r["event_type"] == "error" else 3,
                    "startTimeUnixNano": start,
                    "endTimeUnixNano": start + dur_ms * 1_000_000,
                }
                if r["event_id"] % 3:
                    span["parentSpanId"] = f"{r['event_id'] + 2:016x}"
                if r["event_type"] == "error":
                    span["status"] = {"code": 2, "message": "e"}
                spans_by_svc.setdefault(svc, []).append(span)
            request = {
                "resourceSpans": [
                    {
                        "resource": {
                            "attributes": [
                                {
                                    "key": "service.name",
                                    "value": {"stringValue": svc},
                                }
                            ]
                        },
                        "scopeSpans": [{"spans": spans}],
                    }
                    for svc, spans in sorted(spans_by_svc.items())
                ]
            }
            yield pa.RecordBatch.from_arrays(
                [pa.array([encode_traces_request(request)], type=pa.binary())],
                names=["payload"],
            )

    payloads = ev.mapInArrow(build, "payload binary")
    docs = otlp_traces_docs(payloads, fmt="protobuf")
    return (
        docs.select(
            "trace_id",
            "span_id",
            "span_name",
            F.replace(
                F.col("span_fingerprint"), F.lit("\x00"), F.lit("|")
            ).alias("span_fingerprint"),
            "span_duration_millis",
            "is_root",
            "span_status",
            "service_name",
        )
        .orderBy(F.desc("span_duration_millis"), "trace_id")
        .limit(10)
    )


def _q_find_trace_ids(spark, sf_dir):
    """Jaeger FindTraceIDs analog (find_trace_ids_collector.rs): spans
    derived from events (trace = user, span ts = event ts) filtered to
    one span kind, then the 10 most recent traces each with its latest
    matching span timestamp — groupBy-max + top-k, the collector's
    "top k with duplicates" shape. Oracle recreates the dedup/order/
    tie-break in SQL."""
    from quickwit_spark.search.trace_queries import find_trace_ids

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    spans = ev.filter(F.col("event_type") == "click").select(
        F.format_string("%032x", F.col("user_id")).alias("trace_id"),
        (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias(
            "span_start_timestamp_nanos"
        ),
    )
    return find_trace_ids(spans, 10)


def _jaeger_spans(spark, sf_dir):
    """events → span rows with reference-shaped fingerprints
    (service\\x00kind\\x00name) for the Jaeger query gates."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    kind = (
        F.when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "click", 3)
        .otherwise(1)
    )
    return ev.select(
        F.concat(
            F.lit("svc-"),
            (F.col("user_id") % 5).cast("string"),
        ).alias("service_name"),
        F.concat(
            F.lit("svc-"),
            (F.col("user_id") % 5).cast("string"),
            F.lit("\x00"),
            kind.cast("string"),
            F.lit("\x00"),
            F.col("event_type"),
        ).alias("span_fingerprint"),
        (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias(
            "span_start_timestamp_nanos"
        ),
    )


def _q_jaeger_services(spark, sf_dir):
    """Jaeger GetServices (qw/quickwit-jaeger/src/lib.rs:89-119):
    sorted distinct services within a deterministic lookback window.
    Oracle recreates the window arithmetic + distinct in SQL."""
    from quickwit_spark.search.trace_queries import get_services

    now_nanos = 1705363200 * 1_000_000_000  # 2024-01-16T00:00:00Z
    return get_services(
        _jaeger_spans(spark, sf_dir),
        lookback_secs=5 * 86400,
        now_nanos=now_nanos,
    )


def _q_jaeger_operations(spark, sf_dir):
    """Jaeger GetOperations (lib.rs:122-161): span_fingerprint terms
    prefix-filtered by service, decoded to (span name, jaeger kind
    string) pairs — NUL-separator parsing, kind-number→string mapping,
    distinct and sort all oracle-checked."""
    from quickwit_spark.search.trace_queries import get_operations

    return get_operations(_jaeger_spans(spark, sf_dir), service="svc-1")


def _q_find_traces(spark, sf_dir):
    """Jaeger FindTraces two-phase fetch (lib.rs:184-214): tag+service
    predicate → FindTraceIds winners → broadcast semi-join of ALL the
    winning traces' spans within the ±max_trace_duration window. The
    oracle recreates both phases as CTEs, so predicate JSON probing,
    the winner top-k, the window arithmetic, and the semi-join all
    value-hash."""
    from quickwit_spark.search.trace_queries import find_traces

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    spans = ev.select(
        F.format_string("%032x", F.col("user_id")).alias("trace_id"),
        F.format_string("%016x", F.col("event_id") + 1).alias("span_id"),
        F.col("event_type").alias("span_name"),
        F.concat(F.lit("svc-"), (F.col("user_id") % 5).cast("string")).alias(
            "service_name"
        ),
        (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias(
            "span_start_timestamp_nanos"
        ),
        (F.col("event_id") % 50 + 1).alias("span_duration_millis"),
        F.col("props").alias("span_attributes"),
        F.lit("{}").alias("resource_attributes"),
        F.lit(None).cast("string").alias("events"),
    )
    out = find_traces(
        spans, 5, service="svc-3", tags={"k": "42"},
        max_trace_duration_secs=3600,
    )
    return out.select(
        "trace_id", "span_id", "span_name",
        "span_start_timestamp_nanos", "span_duration_millis",
    )


def _q_vrl_transform(spark, sf_dir):
    """A reference-style VRL transform script (vrl_processing.rs;
    source-config.md:248-289 syntax) compiled to Column steps by
    sources/vrl.py and run over the events table: derive (upcase,
    arithmetic), parse_json + variant extraction, del. The oracle
    recreates each derivation in SQL, so the tokenizer, expression
    lowering, and variant path all value-hash."""
    from quickwit_spark.sources.vrl import compile_vrl

    t = compile_vrl(
        """
        .etype = upcase(string!(.event_type))
        .k = to_int!(parse_json!(.props)["k"])
        .value2 = .value * 2
        del(.props)
        """
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value", "props"
    )
    out = t(ev)
    return out.select(
        "event_id", "etype", "k", F.round("value2", 6).alias("value2")
    )


def _rep_web_text(docs):
    """Deterministically injects line/paragraph breaks into the
    single-line documents corpus (every ``' value '`` becomes a newline,
    every ``' table '`` a blank line) so the Gopher dup-line/dup-para
    families are genuinely exercised by the gate, not vacuously zero.
    Mirrored 1:1 by the oracle's ``src`` CTE."""
    return docs.select(
        "doc_id",
        F.replace(
            F.replace(F.col("text"), F.lit(" value "), F.lit("\n")),
            F.lit(" table "),
            F.lit("\n\n"),
        ).alias("text"),
    )


def _q_repetition_stats(spark, sf_dir):
    """Gopher repetition-stat family (Rae et al. 2021 Table A1) over the
    break-injected corpus: dup line/para fractions (count- and
    char-weighted), top-2/3-gram coverage, dup-5/6-gram coverage."""
    from quickwit_spark.datapipe.repetition import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = repetition_stats(_rep_web_text(docs), top_ngrams=(2, 3), dup_ngrams=(5, 6))
    cols = [
        "dup_line_frac", "dup_line_char_frac",
        "dup_para_frac", "dup_para_char_frac",
        "top_2gram_char_frac", "top_3gram_char_frac",
        "dup_5gram_char_frac", "dup_6gram_char_frac",
    ]
    return out.select("doc_id", *[F.round(c, 6).alias(c) for c in cols])


def _q_repetition_filter(spark, sf_dir):
    """Docs surviving the full default Gopher repetition filter (all 13
    thresholds: dup line/para × count/char, top 2-4-gram, dup 5-10-gram)."""
    from quickwit_spark.datapipe.repetition import repetition_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return repetition_filter(_rep_web_text(docs)).select("doc_id")


def _q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide paragraph dedup (RefinedWeb/CCNet stage) over the
    break-injected corpus: rebuilt text + paragraph counts per doc.
    Value-hashes the full rebuilt text, so winner choice, ordering,
    normalization, and reassembly are all checked."""
    from quickwit_spark.datapipe.dedup import paragraph_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return paragraph_dedup(_rep_web_text(docs), "doc_id").select(
        "doc_id", "text_dedup", "n_paras", "n_paras_kept"
    )


def _q_decontamination(spark, sf_dir):
    """GPT-3-style benchmark decontamination marks: benchmark = every
    25th document, n=8 word-grams. Benchmark members self-flag; any
    other flagged doc shares a real 8-gram (corpus duplicates do)."""
    from quickwit_spark.datapipe.decontam import contamination_marks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 25 == 0).select("text")
    out = contamination_marks(docs, bench, n=8, min_hits=1)
    return out.select("doc_id", "contaminated_ngrams", "is_contaminated")


def _q_pii_redaction(spark, sf_dir):
    """PII scrub over docs with deterministic injected identifiers
    (one email + one IPv4 + one phone per doc): redacted text is
    value-hashed, so pattern boundaries and the email→ipv4→phone
    staging order are fully checked."""
    from quickwit_spark.datapipe.pii import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    did = F.col("doc_id")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
            F.lit(" from 10."), (did % 256).cast("string"),
            F.lit(".0."), (did % 100).cast("string"),
            F.lit(" call +1 (555) 010-"),
            F.format_string("%04d", (did % 10000).cast("int")),
        ).alias("text"),
    )
    out = redact_pii(injected)
    return out.select("doc_id", "text_redacted", "n_email", "n_ipv4", "n_phone")


def _q_token_shard_packing(spark, sf_dir):
    """Token-budget shard packing (distributed two-pass prefix sum)
    over doc_id order with n_chars as the token weight; the oracle is
    the plain global-window cumulative sum the two-pass layout must
    equal exactly."""
    from quickwit_spark.datapipe.packing import pack_token_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    out = pack_token_shards(docs, "doc_id", "n_chars", budget=20000,
                            num_partitions=8)
    return out.select("doc_id", "cum_tokens_before", "shard_id")


def _q_pack_sequences(spark, sf_dir):
    """Fixed-length context-window packing (concat-and-chunk): every
    document's token stream mapped into 1000-token training sequences;
    the oracle replays offsets with a global-window cumsum and the
    span arithmetic with generate_series."""
    from quickwit_spark.datapipe.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    return pack_sequences(
        docs, "doc_id", "n_chars", seq_len=1000, num_partitions=8
    ).orderBy("doc_id", "seq_id")


_PACK_SEQ_SQL = """
WITH o AS (
  SELECT doc_id, greatest(coalesce(n_chars, 0), 0) AS n,
         CAST(coalesce(SUM(greatest(coalesce(n_chars, 0), 0)) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS off
  FROM documents
),
s AS (
  SELECT doc_id, n, off,
         unnest(range(off // 1000, (off + n - 1) // 1000 + 1)) AS seq_id
  FROM o WHERE n > 0
)
SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
       CAST(greatest(seq_id * 1000 - off, 0) AS BIGINT) AS doc_tok_start,
       CAST(least((seq_id + 1) * 1000 - off, n) AS BIGINT) AS doc_tok_end,
       CAST((off + greatest(seq_id * 1000 - off, 0)) % 1000 AS BIGINT)
         AS seq_pos_start
FROM s ORDER BY doc_id, seq_id
"""


def _q_span_dedup_stats(spark, sf_dir):
    """Exact-substring dedup (Lee et al. token-window approximation):
    per-doc window counts, duplicated-window marks, merged-span counts
    and tokens removed, vs a gaps-and-islands SQL oracle. window=8 so
    the corpus' verbatim repeats light it up non-vacuously."""
    from quickwit_spark.datapipe.span_dedup import duplicate_span_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return duplicate_span_stats(docs, "doc_id", window=8)


def _q_warc_round_trip(spark, sf_dir):
    """Ingestion through the real Common Crawl container: corpus →
    WARC response records on disk → read_warc → pinned extractor. The
    oracle recreates (url, text) straight from the parquet derivation,
    so a single flipped byte anywhere in the serialize/parse/extract
    chain hash-mismatches."""
    import shutil
    import tempfile

    from quickwit_spark.sources.corpus import extract_text, web_corpus
    from quickwit_spark.sources.warc import read_warc, write_warc

    corpus = web_corpus(spark, sf_dir, with_html=True)
    # fixed path (cleared first): the returned plan reads these files
    # lazily, so they can't be deleted here — a fresh mkdtemp per run
    # would leak one corpus copy per gate invocation
    d = os.path.join(tempfile.gettempdir(), "qws_gate_warc")
    shutil.rmtree(d, ignore_errors=True)
    write_warc(corpus.repartition(4), d)
    back = read_warc(spark, d)
    return extract_text(back).select(
        "url", F.col("extracted_text").alias("text")
    )


def _q_sq8_topk(spark, sf_dir):
    """Cosine top-k over the SQ8-dequantized corpus (global-range 8-bit
    codes, 4x memory cut): the oracle reproduces the quantize →
    dequantize → rank arithmetic exactly, so range computation,
    rounding, and decode all value-hash."""
    from quickwit_spark.datapipe.similarity import sq8_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    out = sq8_topk(emb, q, k=10, rank_round=9)
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine", 6).alias("cosine"), "rank",
    )


def _q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality: add-one char-trigram model trained on
    every 20th document, perplexity scored for all — the oracle
    retrains the same model in SQL, so smoothing constants, unseen
    handling, and the per-doc averages are all hash-checked."""
    from quickwit_spark.datapipe.lm_quality import lm_perplexity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 20 == 0)
    out = lm_perplexity(docs, train)
    return out.select(
        "doc_id",
        F.round("lp_mean", 6).alias("lp_mean"),
        F.round("perplexity", 6).alias("perplexity"),
    )


def _gq_web_text(docs):
    """Injects bullets / line-ending ellipses / '#' symbols into the
    plain word corpus so every Gopher quality rule family is exercised
    non-vacuously. Mirrored 1:1 by the oracle's ``src`` CTE."""
    txt = F.replace(F.col("text"), F.lit(" row "), F.lit("\n• "))
    txt = F.replace(txt, F.lit(" scan "), F.lit("...\n"))
    txt = F.replace(txt, F.lit(" hash "), F.lit(" # "))
    return docs.select("doc_id", txt.alias("text"))


def _q_gopher_quality_stats(spark, sf_dir):
    """Gopher quality-stat family (Rae et al. 2021 Table A1): word
    count/length, symbol-to-word ratio, bullet/ellipsis line fractions,
    alphabetic-word fraction, required-stopword hits."""
    from quickwit_spark.datapipe.gopher_quality import gopher_quality_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = gopher_quality_stats(_gq_web_text(docs))
    return out.select(
        "doc_id",
        "word_count",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("symbol_word_ratio", 6).alias("symbol_word_ratio"),
        F.round("bullet_line_frac", 6).alias("bullet_line_frac"),
        F.round("ellipsis_line_frac", 6).alias("ellipsis_line_frac"),
        F.round("alpha_word_frac", 6).alias("alpha_word_frac"),
        "stopword_hits",
    )


def _q_gopher_quality_filter(spark, sf_dir):
    """Docs surviving the Gopher quality bounds; min_stopword_hits is
    relaxed to 1 because the synthetic vocabulary contains only 'the'
    from the required-stopword list (exercises the override path)."""
    from quickwit_spark.datapipe.gopher_quality import gopher_quality_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = gopher_quality_filter(
        _gq_web_text(docs), bounds={"min_stopword_hits": 1}
    )
    return out.select("doc_id")


def _c4_web_text(docs):
    """Deterministically injects C4-relevant structure into the
    single-line corpus so every C4 rule fires non-vacuously: ``' scan '``
    becomes a sentence end + line break, ``' vector '`` a javascript
    mention (line drop), ``' slow query '`` a policy phrase (line drop),
    ``' small hash '`` lorem ipsum (page drop, ~6% of docs),
    ``' big table '`` a curly brace (page drop, ~5%). Mirrored 1:1 by
    the oracle's ``src`` CTE — replacement order matters and matches."""
    from pyspark.sql import functions as F

    t = F.col("text")
    for pat, rep in (
        (" scan ", ".\n"),
        (" vector ", " javascript "),
        (" slow query ", " privacy policy "),
        (" small hash ", " lorem ipsum "),
        (" big table ", " x { y "),
    ):
        t = F.replace(t, F.lit(pat), F.lit(rep))
    return docs.select("doc_id", t.alias("text"))


def _q_c4_filter(spark, sf_dir):
    """Full C4 clean (Raffel et al. 2020 §2.2) over the structure-
    injected corpus: line rules (terminal punctuation, ≥5 words, no
    javascript, no policy boilerplate) rewrite the text; page rules
    (lorem ipsum, curly brace, ≥3 sentences) decide `kept`. Returns
    ALL pages with the cleaned text AND the keep flag, so the hash
    checks the full rewrite on every doc, not just survivors (23/500
    at sf0.01 — `c4_filter` itself returns only those and is asserted
    equal to the kept=true slice in tests/test_c4_filters.py)."""
    from pyspark.sql import functions as F

    from quickwit_spark.datapipe.c4_filters import (
        c4_clean_lines,
        c4_page_predicate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    cleaned = c4_clean_lines(_c4_web_text(docs), "text", "text_clean")
    return cleaned.select(
        "doc_id",
        "text_clean",
        c4_page_predicate(F.col("text"), F.col("text_clean")).alias("kept"),
    ).orderBy("doc_id")


def _q_dsir_logweights(spark, sf_dir):
    """DSIR importance log-weights (Xie et al. 2023) in portable-hash
    mode: target = docs with doc_id % 7 == 0, raw = all docs, hashed
    uni+bigram buckets (B=4096), alpha=1e-4. The oracle replays the
    whole pipeline — tokenize, portable hash, bucket counts, smoothed
    log-ratio, per-doc sum — in SQL."""
    from pyspark.sql import functions as F

    from quickwit_spark.datapipe.dsir import dsir_logweights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    out = dsir_logweights(docs, target, num_buckets=4096, portable=True)
    return out.select(
        "doc_id", F.round("dsir_logw", 6).alias("dsir_logw")
    ).orderBy("doc_id")


def _q_dsir_resample(spark, sf_dir):
    """Gumbel top-k resample (k=50, seed=0) under the same portable
    DSIR scoring — checks the deterministic Gumbel mix + selection."""
    from pyspark.sql import functions as F

    from quickwit_spark.datapipe.dsir import dsir_resample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    out = dsir_resample(
        docs, target, k=50, seed=0, num_buckets=4096, portable=True
    )
    return out.select(
        "doc_id", F.round("dsir_logw", 6).alias("dsir_logw")
    ).orderBy("doc_id")


def _q_quality_classifier(spark, sf_dir):
    """Linear quality-classifier scoring + deterministic Pareto keep
    (GPT-3 curation rule) in portable-hash mode. The weight vector is a
    fixed integer-mix formula of the bucket id (so the oracle can
    rebuild it inline); the SPARK side runs the real scoring path
    (featurize → broadcast gather → sigmoid → pareto_keep)."""
    import numpy as np
    from pyspark.sql import functions as F

    from quickwit_spark.datapipe.quality_classifier import (
        pareto_keep,
        quality_score,
    )

    nb = 4096
    b = np.arange(nb, dtype=np.int64)
    w = np.empty(nb + 1, dtype=np.float64)
    w[:nb] = ((b * 1103515245 + 12345) % 10007) / 10007.0 - 0.5
    w[nb] = 0.1
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    scored = quality_score(docs, w, num_buckets=nb, portable=True)
    return scored.select(
        "doc_id",
        F.round("quality_score", 6).alias("quality_score"),
        pareto_keep(F.col("doc_id"), F.col("quality_score")).alias("kept"),
    ).orderBy("doc_id")


def _quality_classifier_sql() -> str:
    from quickwit_spark.datapipe.portable import (
        P31,
        perm_constants,
        sql_portable_hash,
    )

    ph = sql_portable_hash("s")
    a, c = perm_constants(1)[0]
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t != '') AS l
  FROM documents),
grams AS (
  SELECT doc_id, flatten([l,
    CASE WHEN len(l) >= 2
         THEN list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
         ELSE CAST([] AS VARCHAR[]) END]) AS g
  FROM toks),
bkt AS (
  SELECT doc_id, unnest(list_transform(g, s -> ({ph}) % 4096)) AS b
  FROM grams),
per AS (
  SELECT doc_id,
    sum(((b * 1103515245 + 12345) % 10007) / 10007.0 - 0.5) AS s,
    count(*) AS n
  FROM bkt GROUP BY doc_id),
scored AS (
  SELECT d.doc_id,
    1.0 / (1.0 + exp(-(coalesce(per.s / per.n, 0.0) + 0.1))) AS q
  FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id)
SELECT doc_id, round(q, 6) AS quality_score,
  q > 1.0 - (pow(((({a} * (doc_id % {P31}) + {c}) % {P31}) + 1.0)
                 / {float(P31 + 2)}, -1.0/9.0) - 1.0) AS kept
FROM scored ORDER BY doc_id
"""


_MIX_WEIGHTS = (("en", 0.5), ("de", 0.25), ("fr", 0.25))


def _q_mixture_sample(spark, sf_dir):
    """Domain-mixture sampling (The Pile / DoReMi-style data mixing):
    per-domain keep probabilities hit the target language mix with the
    largest feasible corpus; per-doc decisions are the portable hash,
    so the oracle replays every row's is_kept bit."""
    from quickwit_spark.datapipe.mixing import mixture_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mixture_sample(
        docs, dict(_MIX_WEIGHTS), domain_col="lang", marks=True
    ).orderBy("doc_id")


def _mixture_sql() -> str:
    from quickwit_spark.datapipe.portable import (
        P31,
        perm_constants,
        sql_portable_hash,
    )

    vals = ", ".join(f"('{d}', {w})" for d, w in _MIX_WEIGHTS)
    a, b = perm_constants(1)[0]
    ph = (
        f"((({sql_portable_hash(chr(39) + chr(39) + ' || doc_id || ' + chr(39) + ':0' + chr(39))})"
        f" % {P31}) * {a} + {b}) % {P31}"
    )
    return f"""
WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
w(d, wt) AS (VALUES {vals}),
t AS (SELECT MIN(CAST(n AS DOUBLE) / wt) AS tt FROM cnt JOIN w ON cnt.lang = w.d),
p AS (
  SELECT cnt.lang,
         ROUND(LEAST(COALESCE(w.wt, 0) * (SELECT tt FROM t)
                     / CAST(cnt.n AS DOUBLE), 1.0), 9) AS kp
  FROM cnt LEFT JOIN w ON cnt.lang = w.d),
u AS (SELECT doc_id, lang,
             CAST(({ph}) % {P31} AS DOUBLE) / {float(P31)} AS uu
      FROM documents)
SELECT u.doc_id, u.lang AS domain,
       ROUND(COALESCE(p.kp, 0), 9) AS keep_prob,
       (u.uu < COALESCE(p.kp, 0)) AS is_kept
FROM u LEFT JOIN p ON p.lang = u.lang
ORDER BY u.doc_id
"""


def _q_shard_shuffle(spark, sf_dir):
    """Deterministic global shuffle into training shards: shard_id =
    portable mix mod 8, pos = rank of the mix within the shard. The
    oracle replays every row's placement from the same arithmetic."""
    from quickwit_spark.datapipe.sharding import shuffle_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return shuffle_shards(docs, 8, marks=True).orderBy("doc_id")


def _shard_shuffle_sql(num_shards: int = 8) -> str:
    from quickwit_spark.datapipe.portable import (
        P31,
        perm_constants,
        sql_portable_hash,
    )

    a, b = perm_constants(1)[0]
    ph = (
        f"((({sql_portable_hash(chr(39) + chr(39) + ' || doc_id || ' + chr(39) + ':0' + chr(39))})"
        f" % {P31}) * {a} + {b}) % {P31}"
    )
    return f"""
WITH u AS (SELECT doc_id, ({ph}) AS m FROM documents)
SELECT doc_id, CAST(m % {num_shards} AS INT) AS shard_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY m % {num_shards} ORDER BY m, doc_id
       ) - 1 AS INT) AS pos
FROM u ORDER BY doc_id
"""


def _q_surrogate_key(spark, sf_dir):
    """Distributed dense rank (two-pass bucketed prefix sum, no global
    window) vs the plain ROW_NUMBER oracle it must equal exactly."""
    from quickwit_spark.datapipe.sharding import surrogate_key

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    return surrogate_key(
        docs, ["n_chars", "doc_id"], out="rank_key", num_buckets=8
    ).select("doc_id", "rank_key").orderBy("doc_id")


_SURROGATE_SQL = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
         AS rank_key
FROM documents ORDER BY doc_id
"""


_SEMDEDUP_K, _SEMDEDUP_THR = 4, 0.9


def _semdedup_centroids():
    """Fixed formula centroids (k=4, dim=64) so the oracle can inline
    the exact same float64 values."""
    import numpy as np

    k, dim = _SEMDEDUP_K, 64
    return np.array(
        [
            [
                (((j * 8191 + d) * 1103515245 + 12345) % 1000) / 1000.0 - 0.5
                for d in range(dim)
            ]
            for j in range(k)
        ]
    )


def _q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table with
    deterministic formula centroids: cluster assignment (argmax
    cosine), far-first intra-cluster rank, and the upper-triangular
    near-pair drop test, all value-checked."""
    from quickwit_spark.datapipe.semdedup import semdedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    out = semdedup(
        emb, threshold=_SEMDEDUP_THR, centroids=_semdedup_centroids()
    )
    return out.orderBy("vec_id")


def _semdedup_sql() -> str:
    import math

    C = _semdedup_centroids().tolist()
    sims = []
    for j in range(_SEMDEDUP_K):
        lit = "[" + ",".join(repr(x) for x in C[j]) + "]"
        sims.append(f"round(list_cosine_similarity(ev, {lit}), 9)")
    l = "[" + ", ".join(sims) + "]"
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
assigned AS (
  SELECT vec_id, ev,
    CAST(array_position({l}, list_max({l})) - 1 AS INTEGER) AS cluster,
    list_max({l}) AS cs
  FROM e),
ranked AS (
  SELECT vec_id, ev, cluster, cs,
    row_number() OVER (PARTITION BY cluster ORDER BY cs ASC, vec_id) AS rk
  FROM assigned),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM ranked a JOIN ranked b
    ON a.cluster = b.cluster AND a.rk < b.rk
   AND round(list_cosine_similarity(a.ev, b.ev), 9) > {_SEMDEDUP_THR})
SELECT r.vec_id, r.cluster, round(r.cs, 6) AS cent_sim,
       (d.vec_id IS NOT NULL) AS is_semdup
FROM ranked r LEFT JOIN dups d ON r.vec_id = d.vec_id
ORDER BY r.vec_id
"""


def _dsir_sql(resample: bool) -> str:
    """DuckDB replay of portable-mode DSIR (see datapipe/dsir.py)."""
    from quickwit_spark.datapipe.portable import (
        P31,
        perm_constants,
        sql_portable_hash,
    )

    ph = sql_portable_hash("s")
    nb = 4096
    base = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t != '') AS l
  FROM documents),
grams AS (
  SELECT doc_id, flatten([l,
    CASE WHEN len(l) >= 2
         THEN list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
         ELSE CAST([] AS VARCHAR[]) END]) AS g
  FROM toks),
bkt AS (
  SELECT doc_id, unnest(list_transform(g, s -> ({ph}) % {nb})) AS b
  FROM grams),
tc AS (SELECT b, count(*)::DOUBLE AS c FROM bkt WHERE doc_id % 7 = 0 GROUP BY b),
qc AS (SELECT b, count(*)::DOUBLE AS c FROM bkt GROUP BY b),
tt AS (SELECT sum(c) AS t FROM tc),
qt AS (SELECT sum(c) AS t FROM qc),
delta AS (
  SELECT qc.b,
    (ln(coalesce(tc.c, 0) + 0.0001) - ln((SELECT t FROM tt) + 0.0001*{nb}))
    - (ln(qc.c + 0.0001) - ln((SELECT t FROM qt) + 0.0001*{nb})) AS d
  FROM qc LEFT JOIN tc ON qc.b = tc.b),
scores AS (
  SELECT bkt.doc_id, sum(delta.d) AS s
  FROM bkt JOIN delta ON bkt.b = delta.b
  GROUP BY bkt.doc_id),
logw AS (
  SELECT d.doc_id, coalesce(s.s, 0.0) AS w
  FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id)
"""
    if not resample:
        return base + "SELECT doc_id, round(w, 6) AS dsir_logw FROM logw ORDER BY doc_id"
    a, b = perm_constants(1)[0]
    return base + f""",
picked AS (
  SELECT doc_id, w,
    w + (- ln(- ln(((({a} * (doc_id % {P31}) + {b}) % {P31}) + 1.0)
                   / {float(P31 + 2)}))) AS pick
  FROM logw
  ORDER BY pick DESC, doc_id LIMIT 50)
SELECT doc_id, round(w, 6) AS dsir_logw FROM picked ORDER BY doc_id"""


_C4_LINE_KEEP = """regexp_matches(l, '[.!?"]$')
         AND len(string_split_regex(l, '[ \t]+')) >= 5
         AND NOT contains(lower(l), 'javascript')
         AND NOT contains(lower(l), 'terms of use')
         AND NOT contains(lower(l), 'privacy policy')
         AND NOT contains(lower(l), 'cookie policy')
         AND NOT contains(lower(l), 'uses cookies')
         AND NOT contains(lower(l), 'use of cookies')
         AND NOT contains(lower(l), 'use cookies')"""

_C4_FILTER_SQL = f"""
WITH src AS (
  SELECT doc_id,
    replace(replace(replace(replace(replace(text,
      ' scan ', '.' || chr(10)),
      ' vector ', ' javascript '),
      ' slow query ', ' privacy policy '),
      ' small hash ', ' lorem ipsum '),
      ' big table ', ' x {{ y ') AS text
  FROM documents
), cleaned AS (
  SELECT doc_id, text,
    -- coalesce: DuckDB's array_to_string is NULL on an empty list,
    -- Spark's array_join is ''
    coalesce(array_to_string(
      list_filter(
        list_transform(string_split(text, chr(10)), l -> trim(l)),
        l -> {_C4_LINE_KEEP}
      ), chr(10)), '') AS text_clean
  FROM src)
SELECT doc_id, text_clean,
  (NOT contains(lower(text), 'lorem ipsum')
   AND NOT contains(text, '{{')
   AND len(regexp_extract_all(text_clean, '[.!?]')) >= 3) AS kept
FROM cleaned
ORDER BY doc_id
"""


_TOKS_SIMPLE = """
toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents
)"""

# ---- Gopher repetition oracles (mirror datapipe/repetition.py 1:1) ----

# Hardcoded copy of repetition.GOPHER_THRESHOLDS (public Gopher Table
# A1 values); tests/test_repetition.py asserts the two stay in sync.
_REP_THRESHOLDS = {
    "dup_line_frac": 0.30, "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20, "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20, "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16, "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14, "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12, "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def _rep_sql(top_ngrams, dup_ngrams, as_filter):
    """DuckDB SQL reproducing repetition_stats over the break-injected
    corpus (see `_rep_web_text`). as_filter=True instead returns the
    doc_ids surviving every `_REP_THRESHOLDS` bound."""
    parts = [
        """src AS (
  SELECT doc_id,
         replace(replace(text, ' value ', chr(10)),
                 ' table ', chr(10) || chr(10)) AS text
  FROM documents
)""",
        r"""base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t != '') AS l,
         CAST(coalesce(list_sum(list_transform(
           list_filter(string_split_regex(lower(text), '\s+'), t -> t != ''),
           t -> length(t))), 0) AS DOUBLE) AS tc
  FROM src
)""",
    ]
    for name, sep in (("line", r"\n"), ("para", r"\n{2,}")):
        parts.append(f"""{name}_parts AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '{sep}'), p -> trim(p) != '') AS parts
  FROM src
),
{name}_tot AS (
  SELECT doc_id, len(parts) AS n, len(list_distinct(parts)) AS nd,
         CAST(coalesce(list_sum(list_transform(parts, p -> length(p))), 0)
              AS DOUBLE) AS pc
  FROM {name}_parts
),
{name}_dup AS (
  SELECT doc_id, CAST(SUM((c - 1) * length(p)) AS DOUBLE) AS dupch
  FROM (SELECT doc_id, p, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(parts) AS p FROM {name}_parts)
        GROUP BY 1, 2)
  GROUP BY 1
)""")
    for n in sorted(set(top_ngrams) | set(dup_ngrams)):
        parts.append(f"""c{n} AS (
  SELECT doc_id, g, COUNT(*) AS c FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(l) - {n} + 2),
                  i -> array_to_string(list_slice(l, i, i + {n - 1}), ' '))) AS g
    FROM base WHERE len(l) >= {n}
  ) GROUP BY 1, 2
)""")
    for n in top_ngrams:
        parts.append(
            f"top{n} AS (SELECT doc_id, CAST(MAX(c * (length(g) - {n - 1})) "
            f"AS DOUBLE) AS v FROM c{n} GROUP BY 1)"
        )
    for n in dup_ngrams:
        parts.append(
            f"dup{n} AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 1 THEN "
            f"c * (length(g) - {n - 1}) ELSE 0 END) AS DOUBLE) AS v "
            f"FROM c{n} GROUP BY 1)"
        )
    cols, joins = [], []
    for name in ("line", "para"):
        cols.append(
            f"CASE WHEN {name}_tot.n > 0 THEN LEAST(CAST({name}_tot.n - "
            f"{name}_tot.nd AS DOUBLE) / {name}_tot.n, 1.0) ELSE 0.0 END "
            f"AS dup_{name}_frac"
        )
        cols.append(
            f"CASE WHEN {name}_tot.pc > 0 THEN LEAST(coalesce({name}_dup.dupch, "
            f"0) / {name}_tot.pc, 1.0) ELSE 0.0 END AS dup_{name}_char_frac"
        )
        joins.append(f"LEFT JOIN {name}_tot USING (doc_id)")
        joins.append(f"LEFT JOIN {name}_dup USING (doc_id)")
    for kind, ns in (("top", top_ngrams), ("dup", dup_ngrams)):
        for n in ns:
            cols.append(
                f"CASE WHEN base.tc > 0 THEN LEAST(coalesce({kind}{n}.v, 0) "
                f"/ base.tc, 1.0) ELSE 0.0 END AS {kind}_{n}gram_char_frac"
            )
            joins.append(f"LEFT JOIN {kind}{n} USING (doc_id)")
    stats = (
        "stats AS (\n  SELECT base.doc_id,\n         "
        + ",\n         ".join(cols)
        + "\n  FROM base\n  " + "\n  ".join(joins) + "\n)"
    )
    parts.append(stats)
    body = "WITH " + ",\n".join(parts)
    if as_filter:
        cond = " AND ".join(
            f"{k} <= {v}" for k, v in sorted(_REP_THRESHOLDS.items())
        )
        return f"{body}\nSELECT doc_id FROM stats WHERE {cond}"
    sel = ",\n       ".join(
        f"ROUND({c.split(' AS ')[-1]}, 6) AS {c.split(' AS ')[-1]}"
        for c in cols
    )
    return f"{body}\nSELECT doc_id,\n       {sel}\nFROM stats"


_REPETITION_STATS_SQL = _rep_sql((2, 3), (5, 6), as_filter=False)
_REPETITION_FILTER_SQL = _rep_sql((2, 3, 4), (5, 6, 7, 8, 9, 10), as_filter=True)

# ---- Gopher quality oracles (mirror datapipe/gopher_quality.py 1:1) ----

_GQ_STATS_BODY = r"""
WITH src AS (
  SELECT doc_id,
         replace(replace(replace(text,
                 ' row ', chr(10) || '• '),
                 ' scan ', '...' || chr(10)),
                 ' hash ', ' # ') AS text
  FROM documents
),
base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t != '') AS w,
         list_filter(string_split_regex(text, '\n'), p -> trim(p) != '') AS l
  FROM src
),
stats AS (
  SELECT doc_id,
    CAST(len(w) AS BIGINT) AS word_count,
    CASE WHEN len(w) > 0 THEN
      CAST(coalesce(list_sum(list_transform(w, t -> length(t))), 0) AS DOUBLE) / len(w)
    ELSE 0.0 END AS mean_word_len,
    CASE WHEN len(w) > 0 THEN
      CAST((length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '…', '')))
         + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE) / len(w)
    ELSE 0.0 END AS symbol_word_ratio,
    CASE WHEN len(l) > 0 THEN
      CAST(len(list_filter(l, p ->
        list_contains(['•', '-', '*'], substr(ltrim(p), 1, 1)))) AS DOUBLE) / len(l)
    ELSE 0.0 END AS bullet_line_frac,
    CASE WHEN len(l) > 0 THEN
      CAST(len(list_filter(l, p ->
        ends_with(rtrim(p), '…') OR ends_with(rtrim(p), '...'))) AS DOUBLE) / len(l)
    ELSE 0.0 END AS ellipsis_line_frac,
    CASE WHEN len(w) > 0 THEN
      CAST(len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(w)
    ELSE 0.0 END AS alpha_word_frac,
    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
         s -> list_contains(w, s))) AS BIGINT) AS stopword_hits
  FROM base
)"""

_GOPHER_QUALITY_STATS_SQL = _GQ_STATS_BODY + """
SELECT doc_id, word_count,
       ROUND(mean_word_len, 6) AS mean_word_len,
       ROUND(symbol_word_ratio, 6) AS symbol_word_ratio,
       ROUND(bullet_line_frac, 6) AS bullet_line_frac,
       ROUND(ellipsis_line_frac, 6) AS ellipsis_line_frac,
       ROUND(alpha_word_frac, 6) AS alpha_word_frac,
       stopword_hits
FROM stats"""

_PARAGRAPH_DEDUP_SQL = r"""
WITH src AS (
  SELECT doc_id,
         replace(replace(text, ' value ', chr(10)),
                 ' table ', chr(10) || chr(10)) AS text
  FROM documents
),
parts AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\n{2,}'), p -> trim(p) != '') AS parts
  FROM src
),
ex AS (
  SELECT doc_id, u.i AS pos, u.p AS para FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(parts) + 1),
                  i -> struct_pack(i := i - 1, p := parts[i]))) AS u
    FROM parts
  )
),
rn AS (
  SELECT doc_id, pos, para,
         ROW_NUMBER() OVER (PARTITION BY trim(lower(para))
                            ORDER BY doc_id, pos) AS r
  FROM ex
),
agg AS (
  SELECT doc_id,
         string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text_dedup,
         COUNT(*) AS n_kept
  FROM rn WHERE r = 1 GROUP BY doc_id
)
SELECT p.doc_id,
       coalesce(agg.text_dedup, '') AS text_dedup,
       CAST(len(p.parts) AS BIGINT) AS n_paras,
       CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_paras_kept
FROM parts p LEFT JOIN agg USING (doc_id)
"""

_DECONTAM_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t != '') AS l
  FROM documents
),
bench AS (
  SELECT DISTINCT g FROM (
    SELECT unnest(list_distinct(list_transform(
             range(1, len(l) - 6),
             i -> array_to_string(list_slice(l, i, i + 7), ' ')))) AS g
    FROM toks WHERE doc_id % 25 = 0 AND len(l) >= 8
  )
),
docg AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(l) - 6),
           i -> array_to_string(list_slice(l, i, i + 7), ' ')))) AS g
  FROM toks WHERE len(l) >= 8
),
hits AS (
  SELECT doc_id, COUNT(*) AS c FROM docg JOIN bench USING (g) GROUP BY 1
)
SELECT t.doc_id,
       CAST(coalesce(hits.c, 0) AS BIGINT) AS contaminated_ngrams,
       coalesce(hits.c, 0) >= 1 AS is_contaminated
FROM toks t LEFT JOIN hits USING (doc_id)
"""

_PII_SQL = r"""
WITH src AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com from 10.' ||
         (doc_id % 256) || '.0.' || (doc_id % 100) ||
         ' call +1 (555) 010-' || printf('%04d', doc_id % 10000) AS text
  FROM documents
),
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
         regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
  FROM src
),
s2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t,
           '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
         regexp_replace(t,
           '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IPV4>', 'g') AS t
  FROM s1
)
SELECT doc_id,
       regexp_replace(t, '(?:\+?[0-9]{1,3}[-. (]{0,2})?[0-9]{3}[-. )]{0,2}[0-9]{3}[-. ]{0,2}[0-9]{2,4}', '<PHONE>', 'g')
         AS text_redacted,
       n_email, n_ipv4,
       CAST(len(regexp_extract_all(t,
         '(?:\+?[0-9]{1,3}[-. (]{0,2})?[0-9]{3}[-. )]{0,2}[0-9]{3}[-. ]{0,2}[0-9]{2,4}')) AS BIGINT) AS n_phone
FROM s2
"""

_PACKING_SQL = """
SELECT doc_id,
       CAST(coalesce(SUM(greatest(coalesce(n_chars, 0), 0)) OVER (
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS cum_tokens_before,
       CAST(floor(coalesce(SUM(greatest(coalesce(n_chars, 0), 0)) OVER (
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / 20000) AS BIGINT) AS shard_id
FROM documents
"""

_SQ8_TOPK_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
mm AS (SELECT MIN(list_min(e)) AS mn, MAX(list_max(e)) AS mx FROM v),
dec AS (
  SELECT vec_id,
         list_transform(
           list_transform(e, x -> round((x - mm.mn) / (mm.mx - mm.mn) * 255)),
           y -> y / 255.0 * (mm.mx - mm.mn) + mm.mn) AS d
  FROM v, mm
),
q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, dec.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.qv, dec.d), 9) AS s9
  FROM q CROSS JOIN dec WHERE dec.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, s9,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY s9 DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(s9, 6) AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""

_LM_PERPLEXITY_SQL = """
WITH tg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(lower(text)) - 1),
                i -> substr(lower(text), i, 3))) AS trigram
  FROM documents WHERE length(text) >= 3
),
trainc AS (
  SELECT trigram, COUNT(*) AS c FROM tg WHERE doc_id % 20 = 0 GROUP BY 1
),
const AS (SELECT CAST(SUM(c) + COUNT(*) + 1 AS DOUBLE) AS denom FROM trainc),
scored AS (
  SELECT tg.doc_id,
         AVG(ln((coalesce(trainc.c, 0) + 1) / (SELECT denom FROM const)))
           AS lp
  FROM tg LEFT JOIN trainc USING (trigram)
  GROUP BY 1
)
SELECT d.doc_id,
       ROUND(coalesce(s.lp, 0.0), 6) AS lp_mean,
       ROUND(exp(-coalesce(s.lp, 0.0)), 6) AS perplexity
FROM documents d LEFT JOIN scored s USING (doc_id)
"""

_SPAN_DEDUP_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t != '') AS l
  FROM documents
),
wins AS (
  SELECT doc_id, u.s AS wstart, u.w AS wstr FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(l) - 6),
                  i -> struct_pack(s := i - 1,
                       w := array_to_string(list_slice(l, i, i + 7), ' ')))) AS u
    FROM toks WHERE len(l) >= 8
  )
),
firsts AS (
  SELECT wstr, doc_id AS fk, wstart AS fs FROM (
    SELECT wstr, doc_id, wstart,
           ROW_NUMBER() OVER (PARTITION BY wstr ORDER BY doc_id, wstart) AS rn,
           COUNT(*) OVER (PARTITION BY wstr) AS c
    FROM wins
  ) WHERE rn = 1 AND c > 1
),
marked AS (
  SELECT w.doc_id, w.wstart
  FROM wins w JOIN firsts USING (wstr)
  WHERE NOT (w.doc_id = firsts.fk AND w.wstart = firsts.fs)
),
isl AS (
  SELECT doc_id, wstart,
         CASE WHEN wstart >= coalesce(MAX(wstart + 8) OVER (
                PARTITION BY doc_id ORDER BY wstart
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS newi
  FROM marked
),
isl2 AS (
  SELECT doc_id, wstart,
         SUM(newi) OVER (PARTITION BY doc_id ORDER BY wstart
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, MIN(wstart) AS a, MAX(wstart) + 8 AS b
  FROM isl2 GROUP BY 1, 2
),
markcnt AS (
  SELECT doc_id, COUNT(*) AS n_dup_windows FROM marked GROUP BY 1
),
perdoc AS (
  SELECT doc_id, COUNT(*) AS n_spans_cut, SUM(b - a) AS tokens_removed
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(greatest(len(t.l) - 7, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(m.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(coalesce(p.n_spans_cut, 0) AS BIGINT) AS n_spans_cut,
       CAST(coalesce(p.tokens_removed, 0) AS BIGINT) AS tokens_removed
FROM toks t
LEFT JOIN markcnt m USING (doc_id)
LEFT JOIN perdoc p USING (doc_id)
"""

# Hardcoded copy of gopher_quality.GOPHER_QUALITY_BOUNDS with the
# gate's min_stopword_hits override; tests/test_gopher_quality.py
# asserts the two stay in sync.
_GQ_BOUNDS = {
    "min_word_count": 50, "max_word_count": 100_000,
    "min_mean_word_len": 3.0, "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.10,
    "max_bullet_line_frac": 0.90,
    "max_ellipsis_line_frac": 0.30,
    "min_alpha_word_frac": 0.80,
    "min_stopword_hits": 1,  # gate override (corpus vocab has only 'the')
}

_GOPHER_QUALITY_FILTER_SQL = (
    _GQ_STATS_BODY
    + "\nSELECT doc_id FROM stats\nWHERE "
    + "\n  AND ".join(
        f"{k[4:]} {'>=' if k.startswith('min_') else '<='} {v}"
        for k, v in sorted(_GQ_BOUNDS.items())
    )
)

_DEDUP_EXACT_SQL = """
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY text) AS dup_group,
       doc_id != MIN(doc_id) OVER (PARTITION BY text) AS is_duplicate
FROM documents
"""

_DEDUP_JACCARD_SQL = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(lower(text),' ')) - 1, 1)),
           i -> array_to_string(list_slice(string_split(lower(text),' '), i, i+2), ' ')
         ))) AS s
  FROM documents
  WHERE len(string_split(lower(text),' ')) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS key_a, b.doc_id AS key_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT key_a, key_b,
       ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = key_a
JOIN sizes sb ON sb.doc_id = key_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.15
"""

_KNN_COSINE_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_cosine_similarity(qv, cv), 9) AS s9
  FROM q CROSS JOIN c
  WHERE neighbor_id != query_id
),
ranked AS (
  SELECT query_id, neighbor_id, s9,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY s9 DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(s9, 6) AS cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""

_TEXT_STATS_SQL = f"""
WITH {_TOKS_SIMPLE}
SELECT doc_id,
       CAST(len(l) AS BIGINT) AS token_count,
       CAST(len(list_distinct(l)) AS BIGINT) AS uniq_tokens,
       ROUND(CASE WHEN len(l) > 0
             THEN CAST(len(list_distinct(l)) AS DOUBLE) / len(l) ELSE 0.0 END, 6)
         AS uniq_ratio,
       ROUND(CASE WHEN len(l) > 0
             THEN CAST(list_sum(list_transform(l, t -> length(t))) AS DOUBLE) / len(l)
             ELSE 0.0 END, 6) AS mean_token_len
FROM toks
"""

_TEXT_QUALITY_SQL = f"""
WITH {_TOKS_SIMPLE},
base AS (
  SELECT d.doc_id,
         CAST(len(t.l) AS DOUBLE) AS tc,
         CASE WHEN len(t.l) > 0
              THEN CAST(len(list_distinct(t.l)) AS DOUBLE) / len(t.l)
              ELSE 0.0 END AS ur,
         CASE WHEN length(d.text) > 0
              THEN CAST(length(regexp_replace(d.text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                   / length(d.text)
              ELSE 0.0 END AS ar
  FROM documents d JOIN toks t USING (doc_id)
)
SELECT doc_id,
       ROUND(ar, 6) AS alpha_ratio,
       ROUND(least(tc / 50.0, 1.0) * 0.4
             + least(ur * 2, 1.0) * 0.3
             + least(ar * 1.25, 1.0) * 0.3, 6) AS quality
FROM base
"""

_LANG_ID_SQL = f"""
WITH {_TOKS_SIMPLE},
sc AS (
  SELECT doc_id,
    CAST(len(list_filter(l, t -> t IN ('the','a','of','and','to','in','is','that','it','for'))) AS DOUBLE)
      / greatest(len(l), 1) AS s_en,
    CAST(len(list_filter(l, t -> t IN ('der','die','das','und','ist','nicht','ein','mit','zu','den'))) AS DOUBLE)
      / greatest(len(l), 1) AS s_de,
    CAST(len(list_filter(l, t -> t IN ('le','la','les','de','et','un','une','est','que','pour'))) AS DOUBLE)
      / greatest(len(l), 1) AS s_fr
  FROM toks
),
pick AS (
  SELECT doc_id, s_en, s_de, s_fr,
         greatest(s_en, s_de, s_fr) AS best,
         CASE WHEN s_fr = greatest(s_en, s_de, s_fr) THEN 'fr'
              WHEN s_en = greatest(s_en, s_de, s_fr) THEN 'en'
              ELSE 'de' END AS best_lg
  FROM sc
)
SELECT doc_id,
       CASE WHEN best > 0 AND best >= 2 * (
              CASE best_lg WHEN 'fr' THEN greatest(s_en, s_de)
                           WHEN 'en' THEN greatest(s_de, s_fr)
                           ELSE greatest(s_en, s_fr) END)
            THEN best_lg ELSE 'und' END AS lang_pred,
       ROUND(best, 6) AS lang_score
FROM pick
"""

_FINGERPRINT_SQL = f"""
WITH {_TOKS_SIMPLE}
SELECT doc_id,
       CAST(CASE WHEN len(l) > 0 THEN list_sum(list_transform(
         range(1, len(l) + 1),
         i -> i * (4861 * length(l[i]) + 31 * ascii(l[i][1]) + ascii(l[i][-1]))
       )) ELSE 0 END AS BIGINT) AS fingerprint
FROM toks
"""


# --------------------------------------------------------------------------
# portable-hash oracles: the SQL below re-runs the EXACT arithmetic of the
# portable modes in datapipe/portable.py (minhash permutations, simhash
# fingerprints, hyperplane signs), so the gate hash-compares full results
# of the LSH family rather than recording rows-only checks.
# --------------------------------------------------------------------------


def _minhash_lsh_sql(num_perm: int = 32, bands: int = 8, rows: int = 4) -> str:
    from quickwit_spark.datapipe.portable import P31, perm_constants, sql_portable_hash

    mins = ",\n       ".join(
        f"MIN((p * {a} + {b}) % {P31}) AS h{i}"
        for i, (a, b) in enumerate(perm_constants(num_perm))
    )
    band_joins = "\n  UNION\n".join(
        "  SELECT a.doc_id AS key_a, b.doc_id AS key_b FROM sig a JOIN sig b\n    ON "
        + " AND ".join(f"a.h{bd * rows + r} = b.h{bd * rows + r}" for r in range(rows))
        + " AND a.doc_id < b.doc_id"
        for bd in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(num_perm)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(lower(text),' ')) - 1, 1)),
           i -> array_to_string(list_slice(string_split(lower(text),' '), i, i+2), ' ')
         ))) AS s
  FROM documents
  WHERE len(string_split(lower(text),' ')) >= 3
),
ph AS (SELECT doc_id, CAST({sql_portable_hash("s")} AS BIGINT) % {P31} AS p FROM sh),
sig AS (SELECT doc_id, {mins} FROM ph GROUP BY doc_id),
pairs AS (
{band_joins}
)
SELECT key_a, key_b,
       ROUND(CAST(({agree}) AS DOUBLE) / {num_perm}, 6) AS est_jaccard
FROM pairs JOIN sig sa ON sa.doc_id = key_a JOIN sig sb ON sb.doc_id = key_b
"""


def _q_stream_near_dedup(spark, sf_dir):
    """Streaming incremental near-dedup, oracle-gated end-to-end: the
    corpus split into two micro-batches by doc_id parity, run through
    the NearDedupStream foreachBatch protocol (portable hashes), kept
    keys returned. The DuckDB oracle replays both batches' star rule
    and the bucket-store lookup from the same signature arithmetic."""
    import tempfile

    from quickwit_spark.streaming.near_dedup import NearDedupStream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = tempfile.mkdtemp(prefix="qws_stream_nd_")
    nd = NearDedupStream(
        f"{base}/store", f"{base}/out", num_perm=32, bands=8, portable=True
    )
    nd.process_batch(docs.filter("doc_id % 2 = 0"), 0)
    nd.process_batch(docs.filter("doc_id % 2 = 1"), 1)
    return nd.kept(spark).select("doc_id").orderBy("doc_id")


def _stream_near_dedup_sql(num_perm: int = 32, bands: int = 8, rows: int = 4) -> str:
    """Replays NearDedupStream over two parity batches: batch-0 drops
    = star-rule losers within batch 0; batch-1 drops = any bucket hit
    against batch 0 (the store holds ALL batch-0 buckets) plus batch-1
    star-rule losers. Docs too short to shingle have no signature and
    are always kept — same on both engines."""
    from quickwit_spark.datapipe.portable import P31, perm_constants, sql_portable_hash

    mins = ",\n       ".join(
        f"MIN((p * {a} + {b}) % {P31}) AS h{i}"
        for i, (a, b) in enumerate(perm_constants(num_perm))
    )

    def band_hits(cond_a: str, cond_b: str) -> str:
        return "\n  UNION\n".join(
            "  SELECT a.doc_id FROM sig a JOIN sig b\n    ON "
            + " AND ".join(
                f"a.h{bd * rows + r} = b.h{bd * rows + r}" for r in range(rows)
            )
            + f" AND {cond_a} AND {cond_b}"
            for bd in range(bands)
        )

    return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(lower(text),' ')) - 1, 1)),
           i -> array_to_string(list_slice(string_split(lower(text),' '), i, i+2), ' ')
         ))) AS s
  FROM documents
  WHERE len(string_split(lower(text),' ')) >= 3
),
ph AS (SELECT doc_id, CAST({sql_portable_hash("s")} AS BIGINT) % {P31} AS p FROM sh),
sig AS (SELECT doc_id, {mins} FROM ph GROUP BY doc_id),
drop0 AS (
{band_hits("a.doc_id % 2 = 0 AND b.doc_id % 2 = 0", "b.doc_id < a.doc_id")}
),
drop1_store AS (
{band_hits("a.doc_id % 2 = 1", "b.doc_id % 2 = 0")}
),
drop1_intra AS (
{band_hits("a.doc_id % 2 = 1 AND b.doc_id % 2 = 1", "b.doc_id < a.doc_id")}
),
dropped AS (
  SELECT doc_id FROM drop0
  UNION SELECT doc_id FROM drop1_store
  UNION SELECT doc_id FROM drop1_intra
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
ORDER BY doc_id
"""


def _minhash_anchor_sql(num_perm: int = 32, bands: int = 8, rows: int = 4) -> str:
    """DuckDB replay of minhash_lsh_edges + connected_components:
    identical portable signatures, per-band star edges (bucket MIN as
    anchor), recursive-CTE transitive closure."""
    from quickwit_spark.datapipe.portable import P31, perm_constants, sql_portable_hash

    mins = ",\n       ".join(
        f"MIN((p * {a} + {b}) % {P31}) AS h{i}"
        for i, (a, b) in enumerate(perm_constants(num_perm))
    )
    band_edges = "\n  UNION\n".join(
        "  SELECT m.a AS key_a, s.doc_id AS key_b FROM sig s JOIN (\n"
        f"    SELECT {', '.join(f'h{bd * rows + r}' for r in range(rows))},"
        " MIN(doc_id) AS a FROM sig GROUP BY "
        + ", ".join(f"h{bd * rows + r}" for r in range(rows))
        + ") m\n    ON "
        + " AND ".join(f"s.h{bd * rows + r} = m.h{bd * rows + r}" for r in range(rows))
        + " AND s.doc_id > m.a"
        for bd in range(bands)
    )
    return f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(lower(text),' ')) - 1, 1)),
           i -> array_to_string(list_slice(string_split(lower(text),' '), i, i+2), ' ')
         ))) AS s
  FROM documents
  WHERE len(string_split(lower(text),' ')) >= 3
),
ph AS (SELECT doc_id, CAST({sql_portable_hash("s")} AS BIGINT) % {P31} AS p FROM sh),
sig AS (SELECT doc_id, {mins} FROM ph GROUP BY doc_id),
edges AS (
{band_edges}
),
cedges AS (
  SELECT key_a AS u, key_b AS v FROM edges
  UNION
  SELECT key_b, key_a FROM edges
),
reach(u, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM cedges) t
  UNION
  SELECT e.u, r.lbl FROM cedges e JOIN reach r ON r.u = e.v
)
SELECT u AS key, CAST(MIN(lbl) AS BIGINT) AS component FROM reach GROUP BY u
"""


def _simhash_sql(max_hamming: int = 8, bits: int = 62) -> str:
    # bands=9 > max_hamming=8 in the Spark query ⇒ banding is exhaustive
    # (pigeonhole), so brute-force Hamming is the exact oracle.
    from quickwit_spark.datapipe.portable import P31, perm_constants, sql_portable_hash

    (a1, b1), (a2, b2) = perm_constants(2)
    fpsum = "\n         + ".join(
        f"(CASE WHEN SUM(((h >> {j}) & 1) * 2 - 1) > 0"
        f" THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
ph AS (SELECT doc_id, CAST({sql_portable_hash("tok")} AS BIGINT) % {P31} AS p FROM toks),
hs AS (SELECT doc_id,
              (p * {a1} + {b1}) % {P31}
              + ((p * {a2} + {b2}) % {P31}) * {1 << 31} AS h
       FROM ph),
fp AS (SELECT doc_id, {fpsum} AS f FROM hs GROUP BY doc_id)
SELECT a.doc_id AS key_a, b.doc_id AS key_b,
       CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.f, b.f)) <= {max_hamming}
"""


def _hyperplane_bucket_sql(planes: int, seed: int = 0) -> str:
    """SQL expression (over DOUBLE[] column `v`) for the LSH bucket."""
    from quickwit_spark.datapipe.portable import sql_plane_component

    terms = []
    for i in range(planes):
        pc = sql_plane_component(seed * 131 + i, "(i - 1)")
        proj = f"list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * {pc}))"
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


def _knn_lsh_sql(planes: int = 4, k: int = 10) -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (SELECT vec_id, {_hyperplane_bucket_sql(planes)} AS bucket FROM e),
q AS (SELECT e.vec_id AS query_id, v AS qv, bucket
      FROM e JOIN sig USING (vec_id) WHERE e.vec_id < 5),
c AS (SELECT e.vec_id AS neighbor_id, v AS cv, bucket
      FROM e JOIN sig USING (vec_id)),
scored AS (
  SELECT query_id, neighbor_id, ROUND(list_cosine_similarity(qv, cv), 9) AS s9
  FROM q JOIN c USING (bucket) WHERE neighbor_id != query_id
),
ranked AS (
  SELECT query_id, neighbor_id, s9,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY s9 DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(s9, 6) AS cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


def _knn_lsh_multi_sql(planes: int = 12, tables: int = 2, k: int = 10) -> str:
    """Multi-table (OR-amplified) hyperplane LSH oracle: candidates =
    union of same-bucket pairs over each table's independent planes
    (seed = table index, mirroring `lsh_topk`)."""
    sigs = ",\n".join(
        f"sig{t} AS (SELECT vec_id, {_hyperplane_bucket_sql(planes, seed=t)} "
        "AS bucket FROM e)"
        for t in range(tables)
    )
    cand = "\n  UNION\n".join(
        f"  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id\n"
        f"  FROM sig{t} q JOIN sig{t} c USING (bucket)\n"
        f"  WHERE q.vec_id < 5 AND c.vec_id != q.vec_id"
        for t in range(tables)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{sigs},
cand AS (
{cand}
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND(list_cosine_similarity(q.v, c.v), 9) AS s9
  FROM cand
  JOIN e q ON q.vec_id = cand.query_id
  JOIN e c ON c.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, s9,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY s9 DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(s9, 6) AS cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


def _embedding_near_dup_sql(planes: int = 4, threshold: float = 0.45) -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (SELECT vec_id, {_hyperplane_bucket_sql(planes)} AS bucket FROM e),
es AS (SELECT e.vec_id, v, bucket FROM e JOIN sig USING (vec_id))
SELECT a.vec_id AS key_a, b.vec_id AS key_b,
       ROUND(ROUND(list_cosine_similarity(a.v, b.v), 9), 6) AS cosine
FROM es a JOIN es b ON a.vec_id < b.vec_id AND a.bucket = b.bucket
WHERE ROUND(list_cosine_similarity(a.v, b.v), 9) >= {threshold}
"""


def _q_multimodal_features(spark, sf_dir):
    """Real image decode in the multimodal path (VERDICT r4 item 6):
    per-document deterministic gradient images are ENCODED to real PPM
    (even ids) / BMP (odd ids) payloads, decoded back by the
    pure-numpy codecs (`datapipe/multimodal.py`), and reduced to exact
    per-channel integer pixel sums — all Arrow-batched mapInPandas.
    The oracle recreates the gradient's closed form
    (value(j) = (7*id + j) % 256, RGB-interleaved) with a constant
    range cross-join, so any codec bug (BMP row padding, BGR order,
    bottom-up rows, PPM header parse) breaks the value hash."""
    from quickwit_spark.datapipe.multimodal import (
        encode_bmp,
        encode_ppm,
        gradient_image,
        image_channel_sums,
    )

    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("kind"),
            (F.col("doc_id") % 13 + 4).cast("int").alias("width"),
            (F.col("doc_id") % 7 + 4).cast("int").alias("height"),
        )
    )

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            payloads = [
                (encode_ppm if int(m) % 2 == 0 else encode_bmp)(
                    gradient_image(int(m), int(w), int(h))
                )
                for m, w, h in zip(pdf["media_id"], pdf["width"], pdf["height"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": payloads,
                }
            )

    media = base.mapInPandas(
        enc, "media_id long, kind string, payload binary"
    )
    return image_channel_sums(media)


def _q_agg_terms_query(spark, sf_dir):
    """Tiered terms agg (`aggs.terms_agg_for_query`, the r5 scale
    path) — join tier at this corpus size: top langs among docs
    matching a text term, deterministic count-desc/key-asc order.
    Oracle recreates the match set (tokenized membership) + groupBy."""
    from quickwit_spark.search.aggs import terms_agg_for_query

    return terms_agg_for_query(
        _searcher(spark, sf_dir), Term("text", "spark"), "lang", size=10
    )


def _q_agg_terms_query_cogroup(spark, sf_dir):
    """Same agg, FORCED onto the per-segment Arrow-cogroup partial-agg
    tier (`aggs._COGROUP_MIN_DOCS` = 0 during plan build): the numpy
    bitmap-membership + value_counts kernel must value-hash exactly
    like the JVM join plan. Gives the cogroup code path its own
    driver-checked oracle row."""
    from quickwit_spark.search import aggs

    prior = aggs._COGROUP_MIN_DOCS
    aggs._COGROUP_MIN_DOCS = 0
    try:
        return aggs.terms_agg_for_query(
            _searcher(spark, sf_dir), Term("text", "spark"), "lang", size=10
        )
    finally:
        aggs._COGROUP_MIN_DOCS = prior


_AGG_TERMS_QUERY_SQL = """
WITH matches AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) WHERE term = 'spark'
)
SELECT CAST(d.lang AS VARCHAR) AS key,
       CAST(COUNT(*) AS BIGINT) AS doc_count
FROM documents d JOIN matches USING (doc_id)
GROUP BY d.lang
ORDER BY doc_count DESC, key ASC
LIMIT 10
"""


def _q_audio_features(spark, sf_dir):
    """Real audio decode in the multimodal path: per-document gradient
    signals are ENCODED to real RIFF/WAVE PCM-16 payloads, decoded
    back by the pure-numpy WAV codec (`datapipe/multimodal.py`), and
    reduced to exact integer signal stats — Arrow-batched mapInPandas
    end to end. The oracle recreates the signal's closed form
    (sample j = (13·id + 7j) % 4001 − 2000) with a constant range
    cross-join, so any codec bug (chunk walk, sample width,
    little-endian layout) breaks the value hash."""
    from quickwit_spark.datapipe.multimodal import (
        audio_stats,
        encode_wav,
        gradient_audio,
    )

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        (F.col("doc_id") % 180 + 20).cast("int").alias("n_samp"),
    )

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            payloads = [
                encode_wav(gradient_audio(int(m), int(n)), 8000)
                for m, n in zip(pdf["media_id"], pdf["n_samp"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": payloads,
                }
            )

    media = base.mapInPandas(enc, "media_id long, kind string, payload binary")
    return audio_stats(media)


def _q_kafka_records_project(spark, sf_dir):
    """Kafka record→doc projection (`sources/kafka.py:78`,
    kafka_source.rs:734-746 semantics) over a static records frame of
    the connector's wire shape (value binary, partition int, offset
    long): tombstones (null/empty value) and non-JSON payloads are
    skipped, valid docs parse against the declared schema, and
    partition/offset lineage rides along. The oracle rebuilds the
    same value bytes and filter rules in SQL."""
    from quickwit_spark.sources.kafka import kafka_records_to_docs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    records = ev.select(
        F.when(F.col("event_id") % 97 == 0, F.lit(None).cast("binary"))
        .when(F.col("event_id") % 89 == 0, F.lit("not json").cast("binary"))
        .otherwise(
            F.to_json(
                F.struct("event_id", "event_type", "user_id")
            ).cast("binary")
        )
        .alias("value"),
        (F.col("event_id") % 8).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
    )
    docs = kafka_records_to_docs(
        records, "event_id long, event_type string, user_id long"
    )
    return docs.select(
        "event_id", "event_type", "user_id",
        "_kafka_partition", "_kafka_offset",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 disjunction over the sf0.001 corpus with
    hit materialization (url/lang fetched from the docmap)."""
    s = _searcher(spark, "/root/testdata/sf0.001")
    res = s.search(
        FullText("text", "spark join stream", "or"), k=10, mode="oracle",
        fetch=["url", "lang"],
    )
    return res.select(
        "doc_key", F.round("score", 6).alias("score"), "rank", "url", "lang"
    )


# Oracle mirror of _messy_web_rows + webpipe._canonical_expr/_host_expr
# (same split_part/substring/regexp arithmetic, staged as CTEs).
_MESSY_WEB_SQL = """
m0 AS (
  SELECT doc_id, text, doc_id * 2 AS row_key, doc_id % 5 AS m FROM documents
  UNION ALL
  SELECT doc_id, text, doc_id * 2 + 1 AS row_key, (doc_id + 2) % 5 AS m
  FROM documents WHERE doc_id % 10 = 0
),
mu AS (
  SELECT row_key, text,
    CASE m
      WHEN 1 THEN 'HTTPS://SITE' || CAST(doc_id % 23 AS VARCHAR)
                  || '.EXAMPLE/p/' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'https://site' || CAST(doc_id % 23 AS VARCHAR)
                  || '.example/p/' || CAST(doc_id AS VARCHAR)
                  || '?utm_source=feed&utm_campaign=c'
      WHEN 3 THEN 'https://site' || CAST(doc_id % 23 AS VARCHAR)
                  || '.example:443/p/' || CAST(doc_id AS VARCHAR)
      WHEN 4 THEN 'https://site' || CAST(doc_id % 23 AS VARCHAR)
                  || '.example/p/' || CAST(doc_id AS VARCHAR)
                  || '?utm_medium=rss'
      ELSE 'https://site' || CAST(doc_id % 23 AS VARCHAR)
           || '.example/p/' || CAST(doc_id AS VARCHAR)
    END AS url
  FROM m0
),
s1 AS (
  SELECT row_key, text,
    regexp_replace(regexp_replace(split_part(url, '#', 1), 'utm_[^&]*&', ''),
                   '[?&]utm_[^&]*$', '') AS t2
  FROM mu),
s2 AS (
  SELECT row_key, text, t2,
    lower(split_part(t2, '://', 1)) AS scheme,
    substring(t2, length(split_part(t2, '://', 1)) + 4) AS after_
  FROM s1),
s3 AS (
  SELECT row_key, text, scheme,
    lower(split_part(after_, '/', 1)) AS auth_lc,
    substring(after_, length(split_part(after_, '/', 1)) + 1) AS rest
  FROM s2),
s4 AS (
  SELECT row_key, text, scheme, rest,
    CASE WHEN scheme = 'https' AND auth_lc LIKE '%:443'
           THEN left(auth_lc, length(auth_lc) - 4)
         WHEN scheme = 'http' AND auth_lc LIKE '%:80'
           THEN left(auth_lc, length(auth_lc) - 3)
         ELSE auth_lc END AS auth_np
  FROM s3),
canon AS (
  SELECT row_key, text,
    scheme || '://' || auth_np || rest AS canonical_url,
    CASE WHEN split_part(auth_np, ':', 1) LIKE 'www.%'
         THEN substring(split_part(auth_np, ':', 1), 5)
         ELSE split_part(auth_np, ':', 1) END AS host
  FROM s4)
"""

_WEB_URL_DEDUP_SQL = f"""
WITH {_MESSY_WEB_SQL}
SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dups
FROM canon GROUP BY canonical_url
HAVING COUNT(*) > 1
ORDER BY canonical_url LIMIT 20
"""

_WEB_DOMAIN_STATS_SQL = f"""
WITH {_MESSY_WEB_SQL}
SELECT host, CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       ROUND(AVG(length(text)), 6) AS mean_chars
FROM canon GROUP BY host
ORDER BY doc_count DESC, host LIMIT 10
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ORDER MATTERS: the driver correctness harness checks only the
        # first 50 entries per round, so gates are ordered by driver-
        # evidence age — new/never-driver-checked first, then the
        # oldest round-checked cohort (r03 as of round 5) — and rotated
        # each round so every gate earns a CORRECTNESS_rN row within
        # 2-3 rounds (VERDICT r3 item 1 / r4 item 2).
        "agg_terms_query": _q_agg_terms_query,
        "agg_terms_query_cogroup": _q_agg_terms_query_cogroup,
        "audio_features": _q_audio_features,
        "multimodal_features": _q_multimodal_features,
        "kafka_records_project": _q_kafka_records_project,
        "search_term_topk": _q_term_topk,
        "search_or_topk": _q_or_topk,
        "search_and_topk": _q_and_topk,
        "search_bool_mixed": _q_bool_mixed,
        "search_boost": _q_boost,
        "search_filter_time": _q_filter_time,
        "search_filter_lang": _q_filter_lang,
        "search_wildcard": _q_wildcard,
        "search_regex": _q_regex,
        "search_exists_filter": _q_exists_filter,
        "es_dsl_bool": _q_es_dsl_bool,
        "scroll_page3": _q_scroll_page3,
        "search_query_string": _q_query_string,
        "search_qs_time_range": _q_qs_time_range,
        "search_tag_pruned": _q_tag_pruned,
        "search_snippet": _q_snippet,
        "search_concat_count": _q_concat_count,
        "events_error_by_day": _q_events_error_by_day,
        "events_top_value": _q_events_top_value,
        "events_two_key_sort": _q_events_two_key_sort,
        "events_user_cardinality": _q_events_user_cardinality,
        "match_stream_term": _q_match_stream,
        "count_term": _q_count_term,
        "search_input_routed": _q_input_routed_count,
        "search_streamed_topk": _q_streamed_topk,
        "search_file_source_count": _q_file_source_count,
        "list_fields_caps": _q_list_fields,
        "search_qs_compare_range": _q_qs_compare_range,
        "multi_index_count": _q_multi_index_count,
        "multi_index_terms_agg": _q_multi_index_terms_agg,
        "multi_index_topk": _q_multi_index_topk,
        "count_all": _q_count_all,
        "bulk_ingest_count": _q_bulk_count,
        "source_render_fields": _q_source_render,
        "mapping_update_fetch": _q_mapping_update,
        "search_merged_topk": _q_merged_topk,
        "search_stem_count": _q_stem_count,
        "search_code_count": _q_code_count,
        "search_cjk_count": _q_cjk_count,
        "search_multilang_count": _q_multilang_count,
        "search_deleted_topk": _q_deleted_topk,
        "search_deleted_count": _q_deleted_count,
        "retention_count": _q_retention_count,
        "retention_topk": _q_retention_topk,
        "transform_pipeline": _q_transform_pipeline,
        "list_terms_range": _q_list_terms,
        "agg_terms_lang": _q_agg_terms_lang,
        "agg_date_histogram": _q_agg_date_histogram,
        "agg_histogram_nchars": _q_agg_histogram,
        "agg_range_nchars": _q_agg_range,
        "otlp_logs_count": _q_otlp_logs_count,
        "vrl_transform_pipeline": _q_vrl_transform,
        "find_trace_ids_topk": _q_find_trace_ids,
        "jaeger_services": _q_jaeger_services,
        "find_traces_spans": _q_find_traces,
        "jaeger_operations": _q_jaeger_operations,
        "otlp_traces_topk": _q_otlp_traces_topk,
        "agg_nested_two_levels": _q_agg_nested,
        "agg_nested_three_levels": _q_agg_nested3,
        "agg_extended_stats": _q_agg_extended_stats,
        "agg_terms_order_metric": _q_agg_terms_order,
        "search_phrase_fallback": _q_phrase_fallback,
        "search_single_quote_and": _q_single_quote_and,
        "sort_two_key_page2": _q_sort_two_key_page2,
        "search_ip_range": _q_ip_range,
        "sort_mixed_page2": _q_sort_mixed_page2,
        "search_u64_range": _q_u64_range,
        "search_early_topk": _q_search_early,
        "search_array_term": _q_array_term,
        "search_json_path": _q_json_path,
        "dedup_components": _q_dedup_components,
        "dedup_minhash_anchor": _q_dedup_anchor,
        "stream_near_dedup_kept": _q_stream_near_dedup,
        "knn_cosine_lsh_scale": _q_knn_lsh_scale,
        "knn_ivf_recall": _q_ivf_recall,
        "knn_ivfpq_recall": _q_ivfpq_recall,
        "repetition_stats": _q_repetition_stats,
        "repetition_gopher_filter": _q_repetition_filter,
        "gopher_quality_stats": _q_gopher_quality_stats,
        "gopher_quality_filter": _q_gopher_quality_filter,
        "c4_filter": _q_c4_filter,
        "dsir_logweights": _q_dsir_logweights,
        "dsir_resample_topk": _q_dsir_resample,
        "quality_classifier_score": _q_quality_classifier,
        "semdedup_marks": _q_semdedup,
        "mixture_sample_marks": _q_mixture_sample,
        "shard_shuffle_marks": _q_shard_shuffle,
        "surrogate_key_rank": _q_surrogate_key,
        "paragraph_dedup": _q_paragraph_dedup,
        "decontamination_marks": _q_decontamination,
        "pii_redaction": _q_pii_redaction,
        "token_shard_packing": _q_token_shard_packing,
        "pack_sequences_spans": _q_pack_sequences,
        "span_dedup_stats": _q_span_dedup_stats,
        "lm_perplexity": _q_lm_perplexity,
        "knn_sq8_topk": _q_sq8_topk,
        "bpe_word_histogram": _q_bpe_word_histogram,
        "bpe_top_pairs": _q_bpe_top_pairs,
        "web_url_dedup": _q_web_url_dedup,
        "web_domain_stats": _q_web_domain_stats,
        "warc_round_trip": _q_warc_round_trip,
        "agg_stats_nchars": _q_agg_stats,
        "agg_cardinality_source": _q_agg_cardinality,
        "agg_percentiles_nchars": _q_agg_percentiles,
        "agg_terms_subagg": _q_agg_subagg,
        "search_sort_by_field": _q_sort_by_field,
        "search_phrase_match": _q_phrase_match,
        "search_phrase_slop": _q_phrase_slop,
        "search_phrase_prefix": _q_phrase_prefix,
        "search_after_page2": _q_search_after,
        "sort_field_page2": _q_sort_field_page2,
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_jaccard,
        "dedup_minhash_lsh": _q_dedup_minhash,
        "dedup_simhash": _q_dedup_simhash,
        "knn_cosine_bruteforce": _q_knn_cosine,
        "knn_cosine_lsh": _q_knn_lsh,
        "text_token_stats": _q_text_stats,
        "text_quality_score": _q_text_quality,
        "text_language_id": _q_lang_id,
        "text_fingerprint": _q_fingerprint,
        "dedup_embedding_cosine": _q_embedding_near_dup,
        "text_bpe_token_count": _q_bpe_token_count,
    }


def oracle_sql() -> dict[str, str]:
    return {
        # the gradient image's closed form: RGB-interleaved flat index
        # j holds (7*id + j) % 256, so per-channel sums are a constant
        # range cross-join (480 = max w*h*3 for w ≤ 16, h ≤ 10)
        "agg_terms_query": _AGG_TERMS_QUERY_SQL,
        "agg_terms_query_cogroup": _AGG_TERMS_QUERY_SQL,
        # WAV gradient signal closed form: sample j holds
        # (13*id + 7*j) % 4001 - 2000; stats are a constant range
        # cross-join (max n_samp = 199 for doc_id % 180 + 20)
        "audio_features": """
SELECT d.doc_id AS media_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(d.doc_id % 180 + 20 AS BIGINT) AS n_samples,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(SUM(ABS((d.doc_id * 13 + t.j * 7) % 4001 - 2000)) AS BIGINT)
         AS sum_abs,
       CAST(MAX(ABS((d.doc_id * 13 + t.j * 7) % 4001 - 2000)) AS BIGINT)
         AS max_abs
FROM documents d
CROSS JOIN (SELECT CAST(range AS BIGINT) AS j FROM range(0, 200)) t
WHERE t.j < d.doc_id % 180 + 20
GROUP BY d.doc_id
""",
        "multimodal_features": """
SELECT d.doc_id AS media_id,
       CAST((d.doc_id % 13 + 4) * (d.doc_id % 7 + 4) AS BIGINT) AS n_px,
       CAST(SUM(CASE WHEN t.j % 3 = 0
                     THEN (d.doc_id * 7 + t.j) % 256 END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN t.j % 3 = 1
                     THEN (d.doc_id * 7 + t.j) % 256 END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN t.j % 3 = 2
                     THEN (d.doc_id * 7 + t.j) % 256 END) AS BIGINT) AS sum_b
FROM documents d
CROSS JOIN (SELECT CAST(range AS BIGINT) AS j FROM range(0, 480)) t
WHERE t.j < (d.doc_id % 13 + 4) * (d.doc_id % 7 + 4) * 3
GROUP BY d.doc_id
""",
        "kafka_records_project": """
SELECT event_id, event_type, user_id,
       CAST(event_id % 8 AS INTEGER) AS _kafka_partition,
       event_id AS _kafka_offset
FROM events
WHERE event_id % 97 <> 0 AND event_id % 89 <> 0
""",
        "vrl_transform_pipeline": """
SELECT event_id,
       upper(event_type) AS etype,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       ROUND(value * 2, 6) AS value2
FROM events
""",
        "find_traces_spans": """
WITH spans AS (
  SELECT printf('%032x', user_id) AS trace_id,
         printf('%016x', event_id + 1) AS span_id,
         event_type AS span_name,
         'svc-' || CAST(user_id % 5 AS VARCHAR) AS service_name,
         epoch_us(ts) * 1000 AS ns,
         CAST(event_id % 50 + 1 AS BIGINT) AS dur,
         props
  FROM events
), matched AS (
  SELECT * FROM spans
  WHERE service_name = 'svc-3'
    AND json_extract_string(props, '$.k') = '42'
), winners AS (
  SELECT trace_id, MAX(ns) AS span_timestamp FROM matched GROUP BY 1
  ORDER BY span_timestamp DESC, trace_id LIMIT 5
), bounds AS (
  SELECT MIN(span_timestamp) AS lo, MAX(span_timestamp) AS hi FROM winners
)
SELECT s.trace_id, s.span_id, s.span_name,
       s.ns AS span_start_timestamp_nanos,
       s.dur AS span_duration_millis
FROM spans s
JOIN winners w ON s.trace_id = w.trace_id, bounds b
WHERE s.ns >= b.lo - CAST(3600 AS BIGINT) * 1000000000
  AND s.ns <= b.hi + CAST(3600 AS BIGINT) * 1000000000
""",
        "jaeger_services": """
SELECT DISTINCT 'svc-' || CAST(user_id % 5 AS VARCHAR) AS service
FROM events
WHERE epoch_us(ts) * 1000 >=
      CAST(1705363200 AS BIGINT) * 1000000000
      - CAST(5 * 86400 AS BIGINT) * 1000000000
ORDER BY service
LIMIT 1000
""",
        "jaeger_operations": """
SELECT DISTINCT event_type AS name,
       CASE WHEN event_type = 'error' THEN 'server'
            WHEN event_type = 'click' THEN 'client'
            ELSE 'internal' END AS span_kind
FROM events
WHERE user_id % 5 = 1
ORDER BY name, span_kind
LIMIT 1000
""",
        "find_trace_ids_topk": """
SELECT printf('%032x', user_id) AS trace_id,
       MAX(epoch_us(ts) * 1000) AS span_timestamp
FROM events
WHERE event_type = 'click'
GROUP BY 1
ORDER BY span_timestamp DESC, trace_id
LIMIT 10
""",
        "otlp_logs_count": """
SELECT 'svc-' || CAST(user_id % 5 AS VARCHAR) AS service_name,
       CAST(CASE WHEN event_type = 'error' THEN 17 ELSE 9 END AS BIGINT)
           AS severity_number,
       upper(event_type) AS severity_text,
       '{"etype":"' || event_type || '"}' AS attributes,
       COUNT(*) AS n,
       MIN(epoch_us(ts) * 1000) AS min_ts,
       MAX(epoch_us(ts) * 1000) AS max_ts,
       COUNT(DISTINCT event_id) AS n_bodies
FROM events
GROUP BY 1, 2, 3, 4
ORDER BY service_name, severity_number
""",
        "otlp_traces_topk": """
SELECT printf('%032x', event_id + 1) AS trace_id,
       printf('%016x', event_id + 1) AS span_id,
       event_type AS span_name,
       'svc-' || CAST(user_id % 5 AS VARCHAR) || '|'
           || (CASE WHEN event_type = 'error' THEN 2 ELSE 3 END)
           || '|' || event_type AS span_fingerprint,
       CAST(event_id % 50 + 1 AS BIGINT) AS span_duration_millis,
       (event_id % 3) = 0 AS is_root,
       CASE WHEN event_type = 'error'
            THEN '{"code":"error","message":"e"}' END AS span_status,
       'svc-' || CAST(user_id % 5 AS VARCHAR) AS service_name
FROM events
ORDER BY span_duration_millis DESC, trace_id
LIMIT 10
""",
        "search_term_topk": _bm25_sql([("spark", 1.0)]),
        "search_or_topk": _bm25_sql([("spark", 1.0), ("join", 1.0), ("stream", 1.0)]),
        "search_and_topk": _and_sql(["table", "join"]),
        "search_bool_mixed": _bm25_sql(
            [("spark", 1.0), ("join", 1.0), ("stream", 1.0)],
            must=["spark"],
            must_not=["slow"],
        ),
        "search_boost": _bm25_sql([("join", 2.0), ("stream", 1.0)]),
        "search_filter_time": _bm25_sql(
            [("spark", 1.0)],
            must=["spark"],
            filter_sql=(
                "TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id * 97) SECOND"
                f" < TIMESTAMP '{_TIME_HI}'"
            ),
        ),
        "search_filter_lang": _bm25_sql(
            [("query", 1.0)], must=["query"], filter_sql="lang = 'en'"
        ),
        "search_wildcard": _bm25_sql([], term_pred="term LIKE 'qu%'"),
        "search_regex": _bm25_sql(
            [], term_pred="regexp_full_match(term, '[a-z]*er')"
        ),
        "search_exists_filter": _bm25_sql(
            [("spark", 1.0)], must=["spark"], filter_sql="doc_id % 5 < 2"
        ),
        "search_qs_time_range": _bm25_sql(
            [("spark", 1.0)],
            must=["spark"],
            filter_sql=(
                "doc_id % 5 < 2 AND "
                "TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id * 97)"
                " SECOND >= TIMESTAMP '2024-01-01 10:00:00' AND "
                "TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id * 97)"
                " SECOND < TIMESTAMP '2024-01-03 00:00:00'"
            ),
        ),
        "es_dsl_bool": _bm25_sql(
            [("spark", 1.0)],
            must=["spark"],
            must_not=["join"],
            filter_sql="n_chars >= 200",
        ),
        "scroll_page3": """
WITH toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) WHERE term <> ''
),
m AS (
  SELECT d.doc_id, d.n_chars FROM documents d
  WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term = 'spark')
)
SELECT doc_id AS doc_key,
       CAST(n_chars AS BIGINT) AS sort_value,
       CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id DESC) AS BIGINT) AS rank
FROM m
ORDER BY n_chars DESC, doc_id DESC
LIMIT 10 OFFSET 20
""",
        "search_query_string": _bm25_sql([("spark", 1.0), ("join", 1.0)]),
        "search_tag_pruned": _bm25_sql(
            [("query", 1.0)], must=["query"], filter_sql="lang = 'de'"
        ),
        "search_snippet": f"""
WITH base AS ({_bm25_sql([("vector", 1.0)])})
SELECT base.doc_key, base.score, base.rank,
       regexp_replace(
         substr(d.text,
                CASE WHEN list_position(string_split(d.text, ' '), 'vector') = 1
                     THEN 1
                     ELSE length(array_to_string(
                            string_split(d.text, ' ')[1:list_position(string_split(d.text, ' '), 'vector') - 1],
                            ' ')) + 2 END),
         '\\bvector\\b', '<b>vector</b>', 'g') AS snippet_text
FROM base JOIN documents d ON d.doc_id = base.doc_key
""",
        "search_concat_count": """
SELECT CAST(COUNT(*) AS BIGINT) AS num_hits FROM documents
WHERE lang = 'en' OR list_contains(string_split(text, ' '), 'en')
""",
        "events_error_by_day": """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS doc_count
FROM events WHERE event_type = 'error' GROUP BY 1 ORDER BY bucket
""",
        "events_top_value": """
SELECT event_id AS doc_key, ROUND(value, 6) AS sort_value,
       CAST(ROW_NUMBER() OVER (ORDER BY value DESC, event_id DESC) AS BIGINT) AS rank
FROM events WHERE event_type = 'click'
ORDER BY value DESC, event_id DESC LIMIT 10
""",
        "events_user_cardinality": """
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS value
FROM events WHERE event_type = 'error'
""",
        "events_two_key_sort": """
SELECT event_id AS doc_key, CAST(user_id AS BIGINT) AS sort_value,
       ROUND(value, 6) AS sort_value2,
       CAST(ROW_NUMBER() OVER (
            ORDER BY user_id ASC, value DESC, event_id ASC) AS BIGINT) AS rank
FROM events WHERE event_type = 'view'
ORDER BY user_id ASC, value DESC, event_id ASC LIMIT 10
""",
        "match_stream_term": _MATCH_TERM_SQL,
        "count_term": _COUNT_TERM_SQL,
        "multi_index_count": _COUNT_TERM_SQL,
        # federated top-k: BM25 with PER-INDEX statistics (idx =
        # doc_id % 2 mirrors the two-index split), member top-10 under
        # the engine tie order (s9 desc, doc_id desc), then the root
        # merge order (s9 desc, idx asc, doc_id asc)
        "multi_index_topk": """
WITH docs2 AS (SELECT doc_id, text, doc_id % 2 AS idx FROM documents),
toks AS (
  SELECT doc_id, idx, term FROM (
    SELECT doc_id, idx, unnest(string_split(text, ' ')) AS term FROM docs2
  ) WHERE term <> ''
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT d.idx, CAST(d.n AS DOUBLE) AS n, CAST(t.total AS DOUBLE) AS total
  FROM (SELECT idx, COUNT(*) AS n FROM docs2 GROUP BY idx) d
  JOIN (SELECT idx, COUNT(*) AS total FROM toks GROUP BY idx) t USING (idx)
),
tf AS (
  SELECT doc_id, idx, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks WHERE term IN ('spark', 'join') GROUP BY doc_id, idx, term
),
df AS (
  SELECT idx, term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM toks WHERE term IN ('spark', 'join') GROUP BY idx, term
),
contrib AS (
  SELECT tf.doc_id, tf.idx,
         ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5)) * 2.2
           * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (s.total / s.n))) AS sc
  FROM tf
  JOIN df ON tf.idx = df.idx AND tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN stats s ON tf.idx = s.idx
),
scored AS (
  SELECT doc_id, idx, ROUND(SUM(sc), 9) AS s9 FROM contrib GROUP BY doc_id, idx
),
member AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY idx ORDER BY s9 DESC, doc_id DESC
  ) AS mr FROM scored
)
SELECT doc_id AS doc_key,
       ROUND(s9, 6) AS score,
       CAST(ROW_NUMBER() OVER (ORDER BY s9 DESC, idx ASC, doc_id ASC) AS BIGINT) AS rank
FROM member WHERE mr <= 10
ORDER BY s9 DESC, idx ASC, doc_id ASC
LIMIT 10
""",
        "multi_index_terms_agg": f"""
WITH {_AGG_MATCH_CTE}
SELECT CAST(lang AS VARCHAR) AS key, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM m GROUP BY lang ORDER BY doc_count DESC, key ASC LIMIT 10
""",
        "search_qs_compare_range": """
WITH toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) WHERE term <> ''
)
SELECT CAST(COUNT(*) AS BIGINT) AS num_hits FROM documents d
WHERE d.n_chars >= 200
  AND EXISTS (SELECT 1 FROM toks t WHERE t.doc_id = d.doc_id AND t.term = 'spark')
""",
        "search_input_routed": """
WITH toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) WHERE term <> ''
)
SELECT CAST(COUNT(*) AS BIGINT) AS num_hits FROM (
  SELECT doc_id FROM toks WHERE term IN ('spark', 'join')
  GROUP BY doc_id HAVING COUNT(DISTINCT term) = 2
)
""",
        "bulk_ingest_count": """
SELECT CAST(COUNT(*) AS BIGINT) AS num_hits FROM documents
WHERE doc_id < 400 AND lang = 'en'
  AND list_contains(string_split(text, ' '), 'spark')
""",
        # every output_format rendering reproduced in SQL: rfc3339 from
        # unix secs, u64-as-string, base64→hex, IPv4-mapped→dotted quad
        "source_render_fields": """
SELECT
  strftime(make_timestamp((1700000000 + doc_id * 37) * 1000000),
           '%Y-%m-%dT%H:%M:%SZ')                         AS ts_out,
  CAST(doc_id * 11 AS VARCHAR)                           AS n_out,
  lower(hex(encode('doc' || CAST(doc_id AS VARCHAR))))   AS payload_out,
  '10.0.0.' || CAST(doc_id % 250 + 1 AS VARCHAR)         AS addr_out
FROM documents WHERE doc_id < 240
ORDER BY doc_id * 11 LIMIT 10
""",
        # the doc-mapping-update conversion matrix reproduced in SQL:
        # text→u64 (numeric strings only, else omitted→NULL), u64→text,
        # array<text>→text keeps the first convertible element
        "mapping_update_fetch": """
SELECT
  CAST(doc_id AS BIGINT)                                  AS k_out,
  CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id * 3 AS BIGINT)
       ELSE CAST(-1 AS BIGINT) END                        AS a_out,
  CAST(doc_id * 7 AS VARCHAR)                             AS b_out,
  'x' || CAST(doc_id AS VARCHAR)                          AS c_out
FROM documents WHERE doc_id < 200
ORDER BY doc_id LIMIT 12
""",
        # streamed micro-batch build must be byte-identical to batch
        "search_streamed_topk": _bm25_sql([("spark", 1.0)]),
        "search_file_source_count": """
SELECT CAST(COUNT(*) AS BIGINT) AS num_hits FROM documents
WHERE lang = 'fr' AND list_contains(string_split(text, ' '), 'merge')
""",
        # pure function of the main index config → literal expected table
        "list_fields_caps": """
SELECT * FROM (VALUES
  ('all', 'text', TRUE, 'default', FALSE),
  ('alt_title', 'text', TRUE, 'default', FALSE),
  ('doc_key', 'bigint', FALSE, '-', TRUE),
  ('ip_key', 'string', FALSE, '-', TRUE),
  ('lang', 'text', TRUE, 'raw', FALSE),
  ('n_chars', 'bigint', FALSE, '-', TRUE),
  ('source', 'string', FALSE, '-', TRUE),
  ('tags', 'text', TRUE, 'raw', FALSE),
  ('text', 'text', TRUE, 'default', FALSE),
  ('url', 'string', FALSE, '-', TRUE),
  ('warc_ts', 'timestamp', FALSE, '-', TRUE)
) AS t(name, type, indexed, tokenizer, fast)
""",
        "search_merged_topk": _bm25_sql([("spark", 1.0)]),
        "search_stem_count": """
WITH toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) WHERE term <> ''
)
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS num_hits
FROM toks WHERE term = 'query'
""",
        "search_code_count": """
SELECT CAST(COUNT(*) AS BIGINT) AS num_hits FROM documents WHERE lang = 'de'
""",
        "search_cjk_count": """
SELECT CAST(COUNT(*) AS BIGINT) AS num_hits FROM documents WHERE text LIKE '%a%'
""",
        "search_multilang_count": """
WITH toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents WHERE lang <> 'zh'
  ) WHERE term <> ''
)
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS num_hits
FROM toks WHERE term = 'spark'
""",
        "search_deleted_topk": _bm25_sql(
            [("spark", 1.0)],
            corpus_sql="(SELECT * FROM documents WHERE lang <> 'de')",
        ),
        "search_deleted_count": """
WITH toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents WHERE lang <> 'de'
  ) WHERE term <> ''
)
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS num_hits
FROM toks WHERE term = 'spark'
""",
        "retention_count": f"""
SELECT CAST(COUNT(*) AS BIGINT) AS num_hits FROM documents
WHERE TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id * 97) SECOND
      >= TIMESTAMP '{_RETENTION_CUTOFF}'
""",
        "retention_topk": _bm25_sql(
            [("spark", 1.0)],
            corpus_sql=(
                "(SELECT * FROM documents WHERE TIMESTAMP '2024-01-01 00:00:00'"
                " + INTERVAL (doc_id * 97) SECOND"
                f" >= TIMESTAMP '{_RETENTION_CUTOFF}')"
            ),
        ),
        "transform_pipeline": """
SELECT user_id AS uid,
       upper(event_type) AS etype_uc,
       round(value * value, 6) AS vsq,
       upper(event_type) || ':' || CAST(user_id AS VARCHAR) AS tag
FROM events
WHERE value > 50
""",
        "count_all": "SELECT CAST(COUNT(*) AS BIGINT) AS num_hits FROM documents",
        "list_terms_range": _LIST_TERMS_SQL,
        "agg_terms_lang": f"""
WITH {_AGG_MATCH_CTE}
SELECT CAST(lang AS VARCHAR) AS key, CAST(COUNT(*) AS BIGINT) AS doc_count
FROM m GROUP BY lang ORDER BY doc_count DESC, key ASC LIMIT 10
""",
        "agg_date_histogram": f"""
WITH {_AGG_MATCH_CTE}
SELECT CAST(date_trunc('day', TIMESTAMP '2024-01-01 00:00:00'
                          + INTERVAL (doc_id * 97) SECOND) AS TIMESTAMP) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS doc_count
FROM m GROUP BY 1 ORDER BY bucket
""",
        "agg_histogram_nchars": f"""
WITH {_AGG_MATCH_CTE}
SELECT CAST(FLOOR((n_chars - 0.0) / 100.0) * 100.0 + 0.0 AS DOUBLE) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS doc_count
FROM m GROUP BY 1 ORDER BY bucket
""",
        "agg_range_nchars": f"""
WITH {_AGG_MATCH_CTE}
SELECT key, CAST(COUNT(*) AS BIGINT) AS doc_count FROM (
  SELECT CASE WHEN n_chars < 150 THEN 'short'
              WHEN n_chars >= 150 AND n_chars < 300 THEN 'mid'
              ELSE 'long' END AS key
  FROM m
) GROUP BY key
""",
        "agg_stats_nchars": f"""
WITH {_AGG_MATCH_CTE}
SELECT CAST(COUNT(n_chars) AS BIGINT) AS count,
       CAST(MIN(n_chars) AS DOUBLE) AS min,
       CAST(MAX(n_chars) AS DOUBLE) AS max,
       CAST(SUM(n_chars) AS DOUBLE) AS sum,
       AVG(CAST(n_chars AS DOUBLE)) AS avg
FROM m
""",
        "agg_cardinality_source": f"""
WITH {_AGG_MATCH_CTE}
SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS value FROM m
""",
        "agg_percentiles_nchars": f"""
WITH {_AGG_MATCH_CTE}
SELECT ROUND(quantile_cont(n_chars, 0.5), 6) AS p50,
       ROUND(quantile_cont(n_chars, 0.9), 6) AS p90,
       ROUND(quantile_cont(n_chars, 0.99), 6) AS p99
FROM m
""",
        "agg_terms_subagg": f"""
WITH {_AGG_MATCH_CTE}
SELECT CAST(lang AS VARCHAR) AS key,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS avg_nchars,
       CAST(MAX(n_chars) AS DOUBLE) AS max_nchars
FROM m GROUP BY lang ORDER BY doc_count DESC, key ASC LIMIT 10
""",
        "agg_nested_two_levels": f"""
WITH {_AGG_MATCH_CTE},
l1 AS (SELECT lang AS key, COUNT(*) AS doc_count FROM m GROUP BY lang),
w1 AS (SELECT key, doc_count FROM l1 ORDER BY doc_count DESC, key ASC LIMIT 3),
l2 AS (
  SELECT lang AS key, source AS by_src_key, COUNT(*) AS by_src_doc_count,
         ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS avg_n
  FROM m GROUP BY lang, source
),
r2 AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY key ORDER BY by_src_doc_count DESC, by_src_key ASC) AS rk
  FROM l2
)
SELECT w1.key, CAST(w1.doc_count AS BIGINT) AS doc_count, r2.by_src_key,
       CAST(r2.by_src_doc_count AS BIGINT) AS by_src_doc_count, r2.avg_n
FROM w1 JOIN r2 USING (key) WHERE r2.rk <= 2
""",
        "agg_nested_three_levels": f"""
WITH {_AGG_MATCH_CTE},
l1 AS (SELECT lang AS key, COUNT(*) AS doc_count FROM m GROUP BY lang),
w1 AS (SELECT key, doc_count FROM l1 ORDER BY doc_count DESC, key ASC LIMIT 2),
l2 AS (
  SELECT lang AS key, source AS by_src_key, COUNT(*) AS by_src_doc_count
  FROM m GROUP BY lang, source
),
r2 AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY key ORDER BY by_src_doc_count DESC, by_src_key ASC) AS rk
  FROM l2
),
w2 AS (SELECT key, by_src_key, by_src_doc_count FROM r2 WHERE rk <= 2),
l3 AS (
  SELECT lang AS key, source AS by_src_key,
         CAST(FLOOR(n_chars / 200.0) * 200.0 AS DOUBLE) AS by_len_key,
         COUNT(*) AS by_len_doc_count
  FROM m GROUP BY 1, 2, 3
)
SELECT w1.key, CAST(w1.doc_count AS BIGINT) AS doc_count,
       w2.by_src_key, CAST(w2.by_src_doc_count AS BIGINT) AS by_src_doc_count,
       l3.by_len_key, CAST(l3.by_len_doc_count AS BIGINT) AS by_len_doc_count
FROM w1
JOIN w2 USING (key)
JOIN l3 ON l3.key = w2.key AND l3.by_src_key = w2.by_src_key
""",
        "agg_extended_stats": f"""
WITH {_AGG_MATCH_CTE}
SELECT CAST(COUNT(n_chars) AS BIGINT) AS count,
       CAST(MIN(n_chars) AS DOUBLE) AS min,
       CAST(MAX(n_chars) AS DOUBLE) AS max,
       CAST(SUM(n_chars) AS DOUBLE) AS sum,
       ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS avg,
       CAST(SUM(CAST(n_chars AS DOUBLE) * n_chars) AS DOUBLE) AS sum_of_squares,
       ROUND(var_pop(CAST(n_chars AS DOUBLE)), 2) AS variance,
       ROUND(var_samp(CAST(n_chars AS DOUBLE)), 2) AS variance_sampling,
       ROUND(stddev_pop(CAST(n_chars AS DOUBLE)), 4) AS std_deviation,
       ROUND(stddev_samp(CAST(n_chars AS DOUBLE)), 4) AS std_deviation_sampling
FROM m
""",
        "agg_terms_order_metric": f"""
WITH {_AGG_MATCH_CTE}
SELECT CAST(lang AS VARCHAR) AS key,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS mean_len
FROM m GROUP BY lang
ORDER BY AVG(CAST(n_chars AS DOUBLE)) DESC, key ASC LIMIT 5
""",
        "search_sort_by_field": f"""
WITH {_AGG_MATCH_CTE}
SELECT doc_id AS doc_key,
       CAST(n_chars AS BIGINT) AS sort_value,
       CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id DESC) AS BIGINT) AS rank
FROM m ORDER BY n_chars DESC, doc_id DESC LIMIT 10
""",
        "search_phrase_match": _PHRASE_MATCH_SQL,
        "search_phrase_slop": _PHRASE_SLOP_SQL,
        "search_phrase_prefix": _PHRASE_PREFIX_SQL,
        # unquoted `text:order-fast` is the same slop-0 phrase
        "search_phrase_fallback": _PHRASE_MATCH_SQL,
        "search_single_quote_and": """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents)
SELECT doc_id AS doc_key, lang
FROM t
WHERE list_contains(l, 'order') AND list_contains(l, 'fast')
""",
        "search_after_page2": _bm25_sql([("spark", 1.0)], offset=10),
        "sort_field_page2": f"""
WITH {_AGG_MATCH_CTE}
SELECT doc_id AS doc_key,
       CAST(n_chars AS BIGINT) AS sort_value,
       CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id DESC) - 10 AS BIGINT) AS rank
FROM m ORDER BY n_chars DESC, doc_id DESC LIMIT 10 OFFSET 10
""",
        "sort_two_key_page2": """
SELECT event_id AS doc_key, CAST(user_id AS BIGINT) AS sort_value,
       ROUND(value, 6) AS sort_value2,
       CAST(ROW_NUMBER() OVER (
            ORDER BY user_id ASC, value DESC, event_id ASC) - 10 AS BIGINT) AS rank
FROM events WHERE event_type = 'view'
ORDER BY user_id ASC, value DESC, event_id ASC LIMIT 10 OFFSET 10
""",
        "search_early_topk": _bm25_sql([("spark", 1.0)]),
        "search_ip_range": _bm25_sql(
            [("spark", 1.0)],
            must=["spark"],
            # ip = 10.(doc_id%200).x.y ⇒ key ∈ [10.50.0.0, 10.120.0.0)
            # iff the second octet ∈ [50, 120)
            filter_sql="(doc_id % 200) >= 50 AND (doc_id % 200) < 120",
        ),
        "search_array_term": """
SELECT doc_id AS doc_key, lang, source
FROM documents WHERE lang = 'de' OR source = 'src3'
""",
        "sort_mixed_page2": """
WITH toks AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 1 THEN
           (CASE WHEN doc_id % 8 = 1 THEN 'true' ELSE 'false' END)
         WHEN doc_id % 4 = 2 THEN CAST(doc_id AS VARCHAR) || '.5'
         ELSE CAST(doc_id AS VARCHAR) END AS tok
  FROM documents
), nums AS (
  SELECT doc_id,
    CASE WHEN tok = 'true' THEN CAST(1 AS DECIMAL(38,9))
         WHEN tok = 'false' THEN CAST(0 AS DECIMAL(38,9))
         ELSE CAST(tok AS DECIMAL(38,9)) END AS num
  FROM toks
)
SELECT doc_id AS doc_key, CAST(num AS VARCHAR) AS sv
FROM nums WHERE num > 173 ORDER BY num ASC LIMIT 12
""",
        "search_u64_range": """
SELECT doc_id AS doc_key,
  CAST(doc_id + 18446744073709551616 AS VARCHAR) AS u64
FROM documents WHERE doc_id >= 100 AND doc_id < 200
""",
        "search_json_path": """
SELECT event_id AS doc_key, user_id FROM events
WHERE user_id % 7 = 3 AND event_type = 'error' AND user_id < 100
""",
        "dedup_embedding_cosine": _embedding_near_dup_sql(planes=4, threshold=0.45),
        "text_bpe_token_count": """
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+'
       )) AS BIGINT) AS bpe_tokens
FROM documents
""",
        "bpe_word_histogram": """
WITH w AS (
  SELECT unnest(regexp_extract_all(text,
    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+'
  )) AS word
  FROM documents
)
SELECT word, COUNT(*) AS n FROM w WHERE len(word) > 0
GROUP BY word ORDER BY n DESC, word ASC LIMIT 200
""",
        "bpe_top_pairs": """
WITH w AS (
  SELECT unnest(regexp_extract_all(text,
    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+'
  )) AS word
  FROM documents
),
h AS (SELECT word, COUNT(*) AS n FROM w WHERE len(word) > 0 GROUP BY word),
idx AS (
  SELECT word, n, unnest(range(1, len(word))) AS i
  FROM h WHERE len(word) >= 2
)
SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
       CAST(SUM(n) AS BIGINT) AS cnt
FROM idx GROUP BY a, b ORDER BY cnt DESC, a ASC, b ASC LIMIT 50
""",
        "dedup_minhash_lsh": _minhash_lsh_sql(num_perm=32, bands=8, rows=4),
        "dedup_components": f"""
WITH RECURSIVE base AS (
{_minhash_lsh_sql(num_perm=32, bands=8, rows=4)}
),
cedges AS (
  SELECT key_a AS u, key_b AS v FROM base
  UNION
  SELECT key_b, key_a FROM base
),
reach(u, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM cedges) t
  UNION
  SELECT e.u, r.lbl FROM cedges e JOIN reach r ON r.u = e.v
)
SELECT u AS key, CAST(MIN(lbl) AS BIGINT) AS component FROM reach GROUP BY u
""",
        "dedup_minhash_anchor": _minhash_anchor_sql(num_perm=32, bands=8, rows=4),
        "stream_near_dedup_kept": _stream_near_dedup_sql(
            num_perm=32, bands=8, rows=4
        ),
        "dedup_simhash": _simhash_sql(max_hamming=8, bits=62),
        "knn_cosine_lsh": _knn_lsh_sql(planes=4, k=10),
        "knn_cosine_lsh_scale": _knn_lsh_multi_sql(planes=12, tables=2, k=10),
        "knn_ivf_recall": "SELECT CAST(TRUE AS BOOLEAN) AS recall_ge_090",
        "knn_ivfpq_recall": "SELECT CAST(TRUE AS BOOLEAN) AS recall_ge_085",
        "dedup_exact": _DEDUP_EXACT_SQL,
        "dedup_ngram_jaccard": _DEDUP_JACCARD_SQL,
        "knn_cosine_bruteforce": _KNN_COSINE_SQL,
        "text_token_stats": _TEXT_STATS_SQL,
        "repetition_stats": _REPETITION_STATS_SQL,
        "repetition_gopher_filter": _REPETITION_FILTER_SQL,
        "gopher_quality_stats": _GOPHER_QUALITY_STATS_SQL,
        "gopher_quality_filter": _GOPHER_QUALITY_FILTER_SQL,
        "c4_filter": _C4_FILTER_SQL,
        "dsir_logweights": _dsir_sql(resample=False),
        "dsir_resample_topk": _dsir_sql(resample=True),
        "quality_classifier_score": _quality_classifier_sql(),
        "semdedup_marks": _semdedup_sql(),
        "mixture_sample_marks": _mixture_sql(),
        "shard_shuffle_marks": _shard_shuffle_sql(num_shards=8),
        "surrogate_key_rank": _SURROGATE_SQL,
        "paragraph_dedup": _PARAGRAPH_DEDUP_SQL,
        "decontamination_marks": _DECONTAM_SQL,
        "pii_redaction": _PII_SQL,
        "token_shard_packing": _PACKING_SQL,
        "pack_sequences_spans": _PACK_SEQ_SQL,
        "span_dedup_stats": _SPAN_DEDUP_SQL,
        "warc_round_trip": (
            "SELECT 'https://site' || (doc_id % 1000) || '.example/p/' || "
            "doc_id AS url, text FROM documents"
        ),
        "lm_perplexity": _LM_PERPLEXITY_SQL,
        "knn_sq8_topk": _SQ8_TOPK_SQL,
        "text_quality_score": _TEXT_QUALITY_SQL,
        "text_language_id": _LANG_ID_SQL,
        "text_fingerprint": _FINGERPRINT_SQL,
        "web_url_dedup": _WEB_URL_DEDUP_SQL,
        "web_domain_stats": _WEB_DOMAIN_STATS_SQL,
    }
