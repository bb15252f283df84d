"""Spark end-to-end: build an index over the sf0.001 corpus and search it.

Mirrors the reference's single-node end-to-end suite
(`quickwit-search/src/tests.rs`) with a pandas recomputation as oracle.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from quickwit_spark.index import manifest as mf
from quickwit_spark.index.builder import FieldConfig, IndexConfig, build_index
from quickwit_spark.query.ast import Bool, FullText, Range, Term
from quickwit_spark.search.engine import IndexSearcher
from quickwit_spark.sources.corpus import web_corpus


@pytest.fixture(scope="module")
def corpus_pdf(spark, sf_dir):
    return web_corpus(spark, sf_dir).toPandas()


@pytest.fixture(scope="module")
def index_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    cfg = IndexConfig(
        fields=[FieldConfig("text")],
        doc_key="doc_id",
        num_partitions=4,
        stored_columns=("url", "lang"),
        time_column="warc_ts",
    )
    df = web_corpus(spark, sf_dir)
    recs = build_index(spark, df, d, cfg, job_id="e2e")
    assert len(recs) == 4
    return d


@pytest.fixture(scope="module")
def searcher(spark, index_dir):
    return IndexSearcher(spark, index_dir)


def brute_matches(corpus_pdf: pd.DataFrame, pred) -> set[int]:
    toks = corpus_pdf["text"].str.split()
    return {
        int(k)
        for k, t in zip(corpus_pdf["doc_id"], toks)
        if pred(t)
    }


def test_manifest_state(index_dir):
    segs = mf.live_segments(index_dir)
    assert len(segs) == 4
    assert sum(s.num_docs for s in segs) == 500
    for s in segs:
        assert s.field_stats["text"]["doc_count"] == s.num_docs
        assert s.time_range is not None


def test_term_query_matches(searcher, corpus_pdf):
    got = {
        r["doc_key"]
        for r in searcher.search_stream(Term("text", "spark"), ["lang"]).collect()
    }
    assert got == brute_matches(corpus_pdf, lambda t: "spark" in t)


def test_fulltext_and_or(searcher, corpus_pdf):
    q_and = FullText("text", "spark query", "and")
    got = {r["doc_key"] for r in searcher.search_stream(q_and, []).collect()}
    assert got == brute_matches(corpus_pdf, lambda t: "spark" in t and "query" in t)
    q_or = FullText("text", "spark query", "or")
    got = {r["doc_key"] for r in searcher.search_stream(q_or, []).collect()}
    assert got == brute_matches(corpus_pdf, lambda t: "spark" in t or "query" in t)


def test_count_and_matchall(searcher, corpus_pdf):
    assert searcher.count("*") == len(corpus_pdf)
    assert searcher.count(Term("text", "spark")) == len(
        brute_matches(corpus_pdf, lambda t: "spark" in t)
    )


def test_time_range_pruning_and_filter(searcher, corpus_pdf, spark):
    # warc_ts = 2024-01-01 + doc_id*97s → doc_id < 1000 ⇒ first ~1.1 days
    import datetime as dt

    hi = dt.datetime(2024, 1, 1, 2, 0, 0)
    ast = Bool(
        must=[Term("text", "spark")],
        filter=[Range("warc_ts", lt=hi)],
    )
    got = {r["doc_key"] for r in searcher.search_stream(ast, []).collect()}
    expected = {
        k
        for k in brute_matches(corpus_pdf, lambda t: "spark" in t)
        if k * 97 < 2 * 3600
    }
    assert got == expected


def test_ast_time_bounds_extraction(searcher):
    """Timestamp bounds refine from Range nodes in required positions
    (reference `refine_start_end_timestamp_from_ast`,
    `quickwit-search/src/root.rs:1108-1137`)."""
    import datetime as dt

    day = dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)
    micros = int(day.timestamp() * 1_000_000)
    lo, hi = searcher._ast_time_bounds(
        Bool(must=[Term("text", "x")], filter=[Range("warc_ts", gte=day)])
    )
    assert (lo, hi) == (micros, None)
    # string bounds (the query-string path) parse rfc3339
    lo, hi = searcher._ast_time_bounds(
        Range("warc_ts", gt="2024-01-02T00:00:00Z", lte="2024-01-03T00:00:00Z")
    )
    assert lo == micros + 1 and hi == micros + 86_400_000_000 + 1
    # optional/negated clauses never narrow
    lo, hi = searcher._ast_time_bounds(
        Bool(should=[Range("warc_ts", gte=day)], must=[Term("text", "x")])
    )
    assert (lo, hi) == (None, None)
    # ranges on non-time columns are ignored
    lo, hi = searcher._ast_time_bounds(Range("n_chars", gte=10))
    assert (lo, hi) == (None, None)


def test_query_range_prunes_segments(spark, tmp_path):
    """A query-string rfc3339 range on the time column prunes whole
    segments at the manifest BEFORE any scan when routing makes them
    time-disjoint — the reference's refine-then-prune split listing."""
    import datetime as dt

    import pandas as pd

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(40):
        day = i % 2  # two disjoint days, routed apart
        rows.append(
            {
                "doc_id": i,
                "text": "alpha beta" if i % 3 else "alpha gamma",
                "day": f"d{day}",
                "warc_ts": base + dt.timedelta(days=day, seconds=i),
            }
        )
    df = spark.createDataFrame(pd.DataFrame(rows))
    d = str(tmp_path / "idx")
    cfg = IndexConfig(
        fields=[FieldConfig("text")],
        doc_key="doc_id",
        num_partitions=4,
        time_column="warc_ts",
        routing_column="day",
    )
    build_index(spark, df, d, cfg, job_id="tprune")
    s = IndexSearcher(spark, d)
    q = "text:alpha AND warc_ts:[2024-01-02T00:00:00Z TO *]"
    plan = s.search_plan(q)
    assert plan["segments_pruned"], "day-0 segment should prune at manifest"
    got = {r["doc_key"] for r in s.search_stream(q, []).collect()}
    assert got == {i for i in range(40) if i % 2 == 1}


def test_bm25_topk_vs_pandas_oracle(searcher, corpus_pdf):
    """oracle mode (global stats, exact lens, f64) vs independent pandas
    recomputation — rank-identical including docid-desc tie-break."""
    q = FullText("text", "spark join", "or")
    hits = searcher.search(q, k=10, mode="oracle").collect()
    got = [(r["doc_key"], r["rank"]) for r in hits]

    toks = corpus_pdf["text"].str.split()
    N = len(corpus_pdf)
    dls = toks.map(len).to_numpy(np.float64)
    avgdl = dls.sum() / N
    scores = {}
    for term in ("spark", "join"):
        tf = toks.map(lambda t: t.count(term)).to_numpy(np.float64)
        df_t = int((tf > 0).sum())
        idf = np.log(1 + (N - df_t + 0.5) / (df_t + 0.5))
        comp = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dls / avgdl))
        for k_, s, t_ in zip(corpus_pdf["doc_id"], comp, tf):
            if t_ > 0:
                scores[int(k_)] = scores.get(int(k_), 0.0) + idf * s
    expected = sorted(scores.items(), key=lambda kv: (-round(kv[1], 9), -kv[0]))[:10]
    assert got == [(k, i + 1) for i, (k, _) in enumerate(expected)]


def test_oracle_mode_partition_invariant(spark, sf_dir, tmp_path_factory, searcher):
    """global-stats scoring must not depend on the partition layout."""
    d1 = str(tmp_path_factory.mktemp("idx1"))
    cfg = IndexConfig(fields=[FieldConfig("text")], doc_key="doc_id", num_partitions=1)
    build_index(spark, web_corpus(spark, sf_dir), d1, cfg, job_id="one")
    s1 = IndexSearcher(spark, d1)
    q = FullText("text", "merge stream", "or")
    a = [(r["doc_key"], r["score"]) for r in s1.search(q, k=20, mode="oracle").collect()]
    b = [(r["doc_key"], r["score"]) for r in searcher.search(q, k=20, mode="oracle").collect()]
    assert a == b


def test_wildcard_and_list_terms(searcher, corpus_pdf):
    got = {r["doc_key"] for r in searcher.search_stream("text:spar*", []).collect()}
    assert got >= brute_matches(corpus_pdf, lambda t: "spark" in t)
    terms = [r["term"] for r in searcher.list_terms("text", limit=5).collect()]
    assert terms == sorted(terms)
    assert len(terms) == 5


def test_search_after_pagination(searcher):
    q = FullText("text", "spark", "or")
    top = searcher.search(q, k=6, mode="oracle").collect()
    first3, rest = top[:3], top[3:]
    cursor = (first3[-1]["score"], first3[-1]["doc_key"])
    page2 = searcher.search(q, k=3, mode="oracle", search_after=cursor).collect()
    assert [r["doc_key"] for r in page2] == [r["doc_key"] for r in rest]


def test_resume_mid_build(spark, sf_dir, tmp_path_factory):
    """kill after batch 0 of 2 → resume → identical manifest + results
    (FIXTURES.md §5 kill/resume contract)."""
    d = str(tmp_path_factory.mktemp("idxr"))
    cfg = IndexConfig(fields=[FieldConfig("text")], doc_key="doc_id", num_partitions=4)
    df = web_corpus(spark, sf_dir)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, df, d, cfg, job_id="r", num_batches=2, fail_after_batch=0)
    assert len(mf.live_segments(d)) == 2  # only batch 0 published
    # resume: batch 0 skipped (checkpoint), batch 1 built
    build_index(spark, df, d, cfg, job_id="r", num_batches=2)
    segs = mf.live_segments(d)
    assert len(segs) == 4
    assert sum(s.num_docs for s in segs) == 500
    s = IndexSearcher(spark, d)
    assert s.count(Term("text", "spark")) > 0
    # re-running again is a no-op (all checkpoints present)
    assert build_index(spark, df, d, cfg, job_id="r", num_batches=2) == []


def test_bitpack_codec_search_identical(spark, sf_dir, tmp_path_factory, searcher):
    """An index built with the bitpacked codec returns byte-identical
    search results to the varint index."""
    d = str(tmp_path_factory.mktemp("bpidx"))
    cfg = IndexConfig(
        fields=[FieldConfig("text")],
        doc_key="doc_id",
        num_partitions=4,
        stored_columns=("url", "lang"),
        time_column="warc_ts",
        postings_codec="bitpack",
    )
    build_index(spark, web_corpus(spark, sf_dir), d, cfg, job_id="e2e")
    bp = IndexSearcher(spark, d)
    from quickwit_spark.query.ast import FullText

    q = FullText("text", "spark join", "or")
    a = [r.asDict() for r in searcher.search(q, k=20).collect()]
    b = [r.asDict() for r in bp.search(q, k=20).collect()]
    assert a == b
    assert bp.count(Term("text", "spark")) == searcher.count(Term("text", "spark"))


def test_input_routing_zero_shuffle(spark, sf_dir, tmp_path_factory, searcher):
    """routing='input' (the reference's default no-partition_key ingest,
    `routing_expression/mod.rs:23-52` unused): segments = input
    partitions, NO exchange in the build plan, partition_id 0 on every
    segment so the merge policy groups them — and search results are
    identical to the hash-routed index."""
    d = str(tmp_path_factory.mktemp("inpidx"))
    cfg = IndexConfig(
        fields=[FieldConfig("text")],
        doc_key="doc_id",
        num_partitions=4,  # ignored for segment routing in input mode
        stored_columns=("url", "lang"),
        time_column="warc_ts",
        routing="input",
    )
    df = web_corpus(spark, sf_dir).repartition(3)  # fix input partitioning
    # the exact pre-mapInArrow plan build_index uses adds no exchange of
    # its own: the only Exchange is the test's repartition(3) above
    plan = (
        df.withColumn("_pid", F.spark_partition_id())
        .sortWithinPartitions("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == df._jdf.queryExecution().executedPlan().toString().count("Exchange")
    recs = build_index(spark, df, d, cfg, job_id="inp")
    assert len(recs) == 3  # one segment per input partition
    assert all(r.partition_id == 0 for r in recs)
    s = IndexSearcher(spark, d)
    q = FullText("text", "spark join", "or")
    # BM25 stats are per-segment (reference: per-split searchers, no
    # renormalization), so ranked order differs across segmentations —
    # the MATCH SET and counts must be identical
    a = {r["doc_key"] for r in s.search(q, k=600).collect()}
    b = {r["doc_key"] for r in searcher.search(q, k=600).collect()}
    assert a == b
    assert s.count(Term("text", "spark")) == searcher.count(Term("text", "spark"))
    with pytest.raises(ValueError, match="num_batches"):
        build_index(spark, df, str(tmp_path_factory.mktemp("x")), cfg,
                    job_id="inp2", num_batches=2)


def test_multi_index_search(spark, sf_dir, tmp_path_factory, searcher, corpus_pdf):
    """Index-pattern fan-out (reference root.rs multi-index leaf map):
    two disjoint half-corpus indexes searched together must count like
    the full index, union match sets exactly, and resolve patterns."""
    from quickwit_spark.search.multi import MultiIndexSearcher, resolve_index_patterns

    root = str(tmp_path_factory.mktemp("multiroot"))
    df = web_corpus(spark, sf_dir)
    cfg = IndexConfig(
        fields=[FieldConfig("text")], doc_key="doc_id", num_partitions=2,
        stored_columns=("url", "lang"), time_column="warc_ts",
    )
    import os
    for name, pred in (("logs-a", F.col("doc_id") % 2 == 0),
                       ("logs-b", F.col("doc_id") % 2 == 1)):
        build_index(spark, df.filter(pred), os.path.join(root, name), cfg,
                    job_id=name)
    assert [os.path.basename(p) for p in resolve_index_patterns(root, "logs-*")] \
        == ["logs-a", "logs-b"]
    assert resolve_index_patterns(root, "logs-a") == [os.path.join(root, "logs-a")]
    m = MultiIndexSearcher.resolve(spark, root, "logs-*")
    q = FullText("text", "spark join", "or")
    assert m.count(q) == searcher.count(q)
    hits = m.search(q, k=600).collect()
    assert {r["doc_key"] for r in hits} == {
        r["doc_key"] for r in searcher.search(q, k=600).collect()
    }
    assert {r["_index"] for r in hits} == {"logs-a", "logs-b"}
    # ranks are 1..n with scores non-increasing
    scores = [r["score"] for r in hits]
    assert scores == sorted(scores, reverse=True)


def test_multi_index_es_search(spark, sf_dir, tmp_path_factory, searcher):
    """ES `_search` across an index pattern: merged hits carry _index,
    total sums member counts, and a terms agg over the union equals the
    single-index agg on the full corpus."""
    import os

    from quickwit_spark.search import aggs as A
    from quickwit_spark.search.multi import MultiIndexSearcher

    root = str(tmp_path_factory.mktemp("esroot"))
    df = web_corpus(spark, sf_dir)
    cfg = IndexConfig(
        fields=[FieldConfig("text")], doc_key="doc_id", num_partitions=2,
        stored_columns=("lang",),
    )
    for name, par in (("es-a", 0), ("es-b", 1)):
        build_index(spark, df.filter(F.col("doc_id") % 2 == par),
                    os.path.join(root, name), cfg, job_id=name)
    m = MultiIndexSearcher.resolve(spark, root, "es-*")
    body = {
        "query": {"match": {"text": {"query": "spark"}}},
        "size": 5,
        "aggs": {"langs": {"terms": {"field": "lang"}}},
    }
    out = m.es_search(body)
    hits = out["hits"].collect()
    assert len(hits) == 5 and {r["_index"] for r in hits} <= {"es-a", "es-b"}
    assert out["total"] == searcher.count(Term("text", "spark"))
    got = [(r["key"], r["doc_count"]) for r in out["aggregations"]["langs"].collect()]
    exp = [
        (r["key"], r["doc_count"])
        for r in A.terms_agg(
            A.matches(searcher, Term("text", "spark"), columns=["lang"]), "lang"
        ).collect()
    ]
    assert got == exp


def test_crashed_build_pins_config_before_first_commit(
    spark, sf_dir, tmp_path_factory
):
    """The config persists BEFORE the first batch commit: a
    crash-then-retry with a DIFFERENT config must hit the mixed-config
    refusal (previously the config was written only after full success,
    so the guard compared against nothing and batch 1 was silently
    built under the new analyzer)."""
    d = str(tmp_path_factory.mktemp("idxcfg"))
    df = web_corpus(spark, sf_dir)
    cfg_a = IndexConfig(
        fields=[FieldConfig("text")], doc_key="doc_id", num_partitions=4
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(
            spark, df, d, cfg_a, job_id="c", num_batches=2, fail_after_batch=0
        )
    cfg_b = IndexConfig(
        fields=[FieldConfig("text", tokenizer="whitespace")],
        doc_key="doc_id",
        num_partitions=4,
    )
    with pytest.raises(ValueError, match="different"):
        build_index(spark, df, d, cfg_b, job_id="c", num_batches=2)
    # the ORIGINAL config resumes fine
    build_index(spark, df, d, cfg_a, job_id="c", num_batches=2)
    assert sum(s.num_docs for s in mf.live_segments(d)) == 500


def test_resume_with_different_num_batches_rejected(
    spark, sf_dir, tmp_path_factory
):
    """Resume skips by (batch_id, pid_range): retrying a crashed job
    with a different num_batches would re-index pids the committed
    batch already covers (duplicate segments, doubled counts) — the
    checkpointed range mismatch must refuse instead."""
    d = str(tmp_path_factory.mktemp("idxnb"))
    df = web_corpus(spark, sf_dir)
    cfg = IndexConfig(
        fields=[FieldConfig("text")], doc_key="doc_id", num_partitions=4
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(
            spark, df, d, cfg, job_id="n", num_batches=2, fail_after_batch=0
        )
    with pytest.raises(ValueError, match="pid_range"):
        build_index(spark, df, d, cfg, job_id="n", num_batches=4)
    build_index(spark, df, d, cfg, job_id="n", num_batches=2)
    assert sum(s.num_docs for s in mf.live_segments(d)) == 500


def test_terms_agg_for_query_tiers_match_join_path(spark, searcher, monkeypatch):
    """`terms_agg_for_query`'s three physical tiers (straight groupBy,
    filter-pushdown groupBy, per-segment Arrow-cogroup partial agg)
    all return exactly what the generic matches→join→terms_agg
    composition returns."""
    import datetime as dt

    from quickwit_spark.query.ast import MatchAll
    from quickwit_spark.search import aggs as A

    cases = [
        MatchAll(),  # tier 1: no join at all
        Bool(  # tier 2: fast filter pushed into the docmap scan
            must=[MatchAll()],
            filter=[Range("warc_ts", lt=dt.datetime(2024, 1, 10))],
        ),
        Term("text", "spark"),  # tier 3: cogrouped partial agg
        Bool(  # tier 3 with a fast filter riding along
            must=[Term("text", "spark")],
            filter=[Range("warc_ts", lt=dt.datetime(2024, 1, 10))],
        ),
        Term("text", "zzznothing"),  # empty match set
    ]
    for q in cases:
        ref = A.terms_agg(
            A.matches(searcher, q, columns=["lang"]), "lang", size=10
        ).collect()
        # both sides of the size gate: the small-corpus join tier and
        # the big-corpus Arrow-cogroup tier must agree with the
        # generic composition
        for min_docs in (1_000_000, 0):
            monkeypatch.setattr(A, "_COGROUP_MIN_DOCS", min_docs)
            fast = A.terms_agg_for_query(searcher, q, "lang", size=10).collect()
            assert [(r["key"], r["doc_count"]) for r in fast] == [
                (r["key"], r["doc_count"]) for r in ref
            ], f"mismatch for {q!r} at min_docs={min_docs}"
