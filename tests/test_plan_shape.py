"""Physical-plan shape guards: the properties that make the engine
viable at 100 TB must be visible in `.explain` output and must not
silently regress.

- the postings scan must push the (kind, field, term) predicates into
  the Parquet source (row-group pruning over sorted term runs — the
  reference's warmup/prefetch analog),
- the winner fetch must push the partial hits' segment/doc ids into
  the docmap scan as In filters and never shuffle the docmap,
- no row-at-a-time Python (BatchEvalPython) anywhere in the query plan.
"""

import contextlib
import io
import tempfile

import pytest

from quickwit_spark.index.builder import FieldConfig, IndexConfig, build_index
from quickwit_spark.query.ast import Term
from quickwit_spark.search.engine import IndexSearcher
from quickwit_spark.sources.corpus import web_corpus


@pytest.fixture(scope="module")
def searcher(spark, sf_dir):
    idx = tempfile.mkdtemp(prefix="qws_plan_")
    cfg = IndexConfig(
        fields=[FieldConfig("text")],
        doc_key="doc_id",
        num_partitions=2,
        stored_columns=("lang",),
    )
    build_index(spark, web_corpus(spark, sf_dir), idx, cfg)
    return IndexSearcher(spark, idx)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_term_scan_pushes_filters(searcher):
    plan = _plan(searcher.match_docs(Term("text", "spark")))
    # the term predicate must reach the Parquet scan, not a post-filter
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("term" in l for l in pushed), pushed
    assert any("kind" in l or "EqualTo" in l for l in pushed), pushed


def _captured_fetch_plans(searcher, monkeypatch, run) -> list[str]:
    """Physical plans of every winner-fetch frame built while `run()`
    executes a top-k."""
    plans = []
    frame = IndexSearcher._fetch_frame

    def capture(self, *args, **kwargs):
        df = frame(self, *args, **kwargs)
        plans.append(_plan(df))
        return df

    monkeypatch.setattr(IndexSearcher, "_fetch_frame", capture)
    run()
    monkeypatch.undo()
    return plans


def test_topk_fetch_pushes_winner_ids(searcher, monkeypatch):
    # pin the Spark transport: this index is small enough for the
    # driver's pyarrow leaf and fetch
    monkeypatch.setattr(IndexSearcher, "_LOCAL_MAX_DOCS", 0)
    rows = []
    plans = _captured_fetch_plans(
        searcher, monkeypatch,
        lambda: rows.extend(searcher.search("text:spark", k=10).collect()),
    )
    assert rows
    # search() also builds an unfiltered fetch frame for its hit
    # schema; the scan that runs is the one carrying the In lists
    fetch = [p for p in plans if "In(doc_id" in p]
    assert len(fetch) == 1, plans
    pushed = [l for l in fetch[0].splitlines() if "PushedFilters" in l]
    # (a one-segment In list is pushed as EqualTo)
    assert any(
        ("In(segment_id" in l or "EqualTo(segment_id" in l) and "In(doc_id" in l
        for l in pushed
    ), pushed
    # the docmap is read in place: no exchange of any kind
    assert "Exchange" not in fetch[0]


def test_no_row_at_a_time_python(searcher):
    ast, ff, segs = searcher._resolve("text:spark", None)
    kernel = _plan(searcher._matches(ast, segs, 5, "parity", ff))
    assert "FlatMapGroupsInPandas" in kernel  # the top-k leaf frame
    for plan in (
        kernel,
        _plan(searcher.match_docs(Term("text", "spark"))),
        _plan(searcher.search_stream(Term("text", "spark"), ["lang"])),
    ):
        assert "BatchEvalPython" not in plan


def test_hot_postings_cache(searcher, monkeypatch):
    """Warmup/leaf-cache analog: cached terms serve from an
    InMemoryTableScan with identical results; cache misses fall back to
    the Parquet scan path."""
    from quickwit_spark.query.ast import FullText

    # pin the Spark transport: the cache serves the Spark leaf frame,
    # and this index is small enough for the driver's pyarrow leaf
    monkeypatch.setattr(IndexSearcher, "_LOCAL_MAX_DOCS", 0)
    base = searcher.search("text:spark", k=10).collect()
    n = searcher.cache_hot_postings(["spark", "join"])
    assert n > 0
    plan = _plan(searcher.match_docs(Term("text", "spark")))
    assert "InMemoryTableScan" in plan
    cached = searcher.search("text:spark", k=10).collect()
    assert [(r["doc_key"], r["score"]) for r in cached] == [
        (r["doc_key"], r["score"]) for r in base
    ]
    # covered multi-term query also hits the cache
    assert "InMemoryTableScan" in _plan(
        searcher.match_docs(FullText("text", "spark join", "or"))
    )
    # uncovered term -> parquet path (no partial-cache reads)
    assert "InMemoryTableScan" not in _plan(
        searcher.match_docs(Term("text", "vector"))
    )
    searcher.uncache()
    assert "InMemoryTableScan" not in _plan(
        searcher.match_docs(Term("text", "spark"))
    )


def test_segment_filter_scales_past_in_literal_cap(searcher):
    """Below _SEG_IN_MAX the segment filter is a literal In (pushed to
    the scan); past it, it becomes a broadcast left-semi join — a
    100k-split In literal bloats plan analysis and is unpushable."""
    small = _plan(searcher._seg_pred_filter(searcher.inv(), ["a", "b"]))
    assert "BroadcastHashJoin" not in small
    big_ids = [f"seg{i:06d}" for i in range(1500)]
    big = _plan(searcher._seg_pred_filter(searcher.inv(), big_ids))
    assert "LeftSemi" in big and "BroadcastHashJoin" in big
    # and no giant literal list survives in the plan text
    assert "seg001400" not in big


def test_round4_surfaces_stay_vectorized(spark):
    """The round-4 inputs keep the UDF discipline: OTLP parsing is
    Arrow-batched (MapInArrow, never row-at-a-time BatchEvalPython);
    the kafka record→doc projection and compiled VRL transforms are
    pure Column plans (no Python at all, codegen applies); the
    FindTraceIds collector is a partial-agg + top-k, not a window."""
    import json as _json

    from quickwit_spark.sources.kafka import kafka_records_to_docs
    from quickwit_spark.sources.otlp import otlp_logs_docs
    from quickwit_spark.sources.vrl import compile_vrl
    from quickwit_spark.search.trace_queries import find_trace_ids

    payloads = spark.createDataFrame(
        [(_json.dumps({"resourceLogs": []}),)], ["payload"]
    )
    otlp_plan = _plan(otlp_logs_docs(payloads))
    assert "MapInArrow" in otlp_plan
    assert "BatchEvalPython" not in otlp_plan

    records = spark.createDataFrame(
        [(bytearray(b'{"a": 1}'), 0, 0)], "value binary, partition int, offset long"
    )
    kafka_plan = _plan(kafka_records_to_docs(records, "a long"))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow", "MapInPandas"):
        assert node not in kafka_plan, node
    assert "codegen" in kafka_plan  # from_json runs inside codegen

    t = compile_vrl('.b = upcase(string!(.a))\ndel(.a)')
    vrl_plan = _plan(t(spark.createDataFrame([("x",)], ["a"])))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow", "MapInPandas"):
        assert node not in vrl_plan, node

    spans = spark.createDataFrame(
        [("t1", 5), ("t1", 9), ("t2", 7)],
        "trace_id string, span_start_timestamp_nanos long",
    )
    trace_plan = _plan(find_trace_ids(spans, 2))
    assert "HashAggregate" in trace_plan
    assert "partial_max" in trace_plan  # map-side combine before shuffle
    assert "TakeOrderedAndProject" in trace_plan
    assert "Window" not in trace_plan


def test_topk_equals_brute_force(searcher):
    """The one-pass top-k (leaf partial hits + per-segment counts,
    driver merge, pushed-filter fetch) returns exactly the brute-force
    ranking of every match by (score desc, doc_key desc), and its
    counts sum to the full match count."""
    from pyspark.sql import functions as F

    from quickwit_spark.query.ast import FullText

    docs = searcher.docs().select("segment_id", "doc_id", "doc_key")
    for q in (
        FullText("text", "spark join", "or"),
        FullText("text", "spark join", "and"),
        Term("text", "spark"),
    ):
        for mode in ("parity", "oracle"):
            full = searcher.match_docs(q, mode=mode)
            if mode == "oracle":
                full = full.withColumn("score", F.round("score", 9))
            every = sorted(
                (
                    (r["score"], r["doc_key"])
                    for r in full.join(docs, ["segment_id", "doc_id"]).collect()
                ),
                reverse=True,
            )
            got = searcher.search(q, k=7, mode=mode).collect()
            assert [(r["score"], r["doc_key"]) for r in got] == every[:7]
            assert [r["rank"] for r in got] == list(range(1, len(got) + 1))
            _hits, counts = searcher._topk(searcher._resolve(q, None), 7, mode)
            assert sum(counts.values()) == len(every) == searcher.count(q)
            if len(every) > 7:
                # paging with the last hit's cursor continues the order
                last = got[-1]
                page2 = searcher.search(
                    q, k=5, mode=mode,
                    search_after=(last["score"], last["doc_key"]),
                ).collect()
                assert [(r["score"], r["doc_key"]) for r in page2] == every[7:12]
    # zero-hit query: clean empty result
    assert searcher.search(FullText("text", "zzzznope", "or"), k=5).collect() == []
