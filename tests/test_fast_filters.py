"""Fast-predicate splitting + pattern-normalization semantics."""

import tempfile

import pytest
from pyspark.sql import functions as F

from quickwit_spark.index.builder import FieldConfig, IndexConfig, build_index
from quickwit_spark.query.ast import Bool, Boost, Range, Term, Wildcard
from quickwit_spark.search.engine import IndexSearcher
from quickwit_spark.sources.corpus import web_corpus


@pytest.fixture(scope="module")
def searcher(spark, sf_dir):
    idx = tempfile.mkdtemp(prefix="qws_ff_")
    docs = web_corpus(spark, sf_dir).withColumn("n_chars", F.length("text"))
    cfg = IndexConfig(
        fields=[
            FieldConfig("text"),
            FieldConfig("level", tokenizer="raw"),
        ],
        doc_key="doc_id",
        num_partitions=2,
        stored_columns=("n_chars",),
    )
    docs = docs.withColumn(
        "level", F.when(F.col("doc_id") % 2 == 0, "ERROR").otherwise("Info")
    )
    build_index(spark, docs, idx, cfg)
    return IndexSearcher(spark, idx)


@pytest.fixture(scope="module")
def fast(spark, sf_dir):
    return web_corpus(spark, sf_dir).withColumn("n_chars", F.length("text"))


def _count_tok(fast, tok):
    return (
        fast.filter(F.array_contains(F.split("text", " "), tok)).count()
    )


def test_range_with_should_stays_optional(searcher, fast):
    # range is the only REQUIRED clause; should only contributes score
    ast = Bool(must=[Range("n_chars", gte=300)], should=[Term("text", "spark")])
    got = searcher.count(ast)
    assert got == fast.filter("n_chars >= 300").count()


def test_range_with_must_not(searcher, fast):
    ast = Bool(filter=[Range("n_chars", gte=300)], must_not=[Term("text", "spark")])
    exp = fast.filter(
        (F.col("n_chars") >= 300)
        & ~F.array_contains(F.split("text", " "), "spark")
    ).count()
    assert searcher.count(ast) == exp


def test_boosted_range_splits(searcher, fast):
    ast = Boost(Range("n_chars", lt=200), 2.0)
    assert searcher.count(ast) == fast.filter("n_chars < 200").count()


def test_nested_conjunctive_range_splits(searcher, fast):
    inner = Bool(filter=[Range("n_chars", gte=100)], must=[Range("n_chars", lt=400)])
    ast = Bool(must=[Term("text", "spark"), inner])
    exp = fast.filter(
        (F.col("n_chars") >= 100)
        & (F.col("n_chars") < 400)
        & F.array_contains(F.split("text", " "), "spark")
    ).count()
    assert searcher.count(ast) == exp


def test_unsupported_range_position_fails_at_planning(searcher):
    ast = Bool(should=[Range("n_chars", gte=100), Term("text", "spark")])
    with pytest.raises(NotImplementedError, match="Range"):
        searcher.count(ast)


def test_wildcard_preserves_case_on_raw_field(searcher):
    n_err = searcher.count(Term("level", "ERROR"))
    assert n_err > 0
    assert searcher.count(Wildcard("level", "ERR*")) == n_err
    assert searcher.count(Wildcard("level", "err*")) == 0  # case matters on raw
    # analyzed field still lowercases the pattern
    assert searcher.count(Wildcard("text", "SPAR*")) == searcher.count(
        Wildcard("text", "spar*")
    )


def test_match_all_topk_no_full_broadcast(searcher):
    import contextlib
    import io

    df = searcher.search("*", k=5)
    assert len(df.collect()) == 5
    # per-segment truncation must precede the fetch: the match-all leaf
    # frame keeps ≤ k docmap rows per segment (a Window before collect)
    ast, ff, segs = searcher._resolve("*", None)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        searcher._matches(ast, segs, 5, "parity", ff).explain("formatted")
    assert "row_number" in buf.getvalue() or "Window" in buf.getvalue()
