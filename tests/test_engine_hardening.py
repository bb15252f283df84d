"""Regressions for the round-3 engine/builder review findings."""

import pytest
from pyspark.sql import functions as F

from quickwit_spark.index.builder import FieldConfig, IndexConfig, build_index
from quickwit_spark.search.engine import IndexSearcher


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hardening") / "idx")
    df = spark.createDataFrame(
        [(i, f"alpha beta doc{i}", i % 20) for i in range(1, 101)],
        ["doc_id", "text", "n"],
    )
    cfg = IndexConfig(
        fields=[FieldConfig("text")], doc_key="doc_id",
        num_partitions=2, stored_columns=("n",),
    )
    build_index(spark, df, d, cfg)
    return d


def test_fractional_range_bounds_on_int_column(spark, idx):
    s = IndexSearcher(spark, idx)
    from quickwit_spark.query.ast import Range

    # n in 0..19, 5 docs per value
    assert s.count(Range(field="n", gte=10.5)) == s.count(
        Range(field="n", gte=11)
    )
    assert s.count(Range(field="n", lt=10.5)) == s.count(
        Range(field="n", lte=10)
    )
    assert s.count(Range(field="n", gt=10.5)) == s.count(
        Range(field="n", gte=11)
    )
    assert s.count(Range(field="n", lte=10.5)) == s.count(
        Range(field="n", lte=10)
    )
    # float-looking strings parse instead of crashing
    assert s.count(Range(field="n", gte="10.5")) == s.count(
        Range(field="n", gte=11)
    )


def test_fetch_doc_key_is_not_ambiguous(spark, idx):
    s = IndexSearcher(spark, idx)
    rows = s.search("alpha", k=3, fetch=["doc_key", "n"]).collect()
    assert len(rows) == 3 and all(r["n"] is not None for r in rows)


def test_reserved_output_columns_rejected_at_build(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "alpha", 0.5)], ["doc_id", "text", "score"]
    )
    cfg = IndexConfig(
        fields=[FieldConfig("text")], doc_key="doc_id",
        num_partitions=1, stored_columns=("score",),
    )
    with pytest.raises(ValueError, match="reserved"):
        build_index(spark, df, str(tmp_path / "bad"), cfg)


def test_rejected_config_does_not_brick_the_index(spark, tmp_path):
    d = str(tmp_path / "idx2")
    df = spark.createDataFrame([(1, "alpha", 7)], ["doc_id", "text", "meta"])
    good = IndexConfig(
        fields=[FieldConfig("text")], doc_key="doc_id", num_partitions=1
    )
    build_index(spark, df.select("doc_id", "text"), d, good)
    # an additive-looking extension that adds a RESERVED stored column
    # must be rejected BEFORE touching index_config.json
    bad = IndexConfig(
        fields=[FieldConfig("text")], doc_key="doc_id",
        num_partitions=1, stored_columns=("meta",),
    )
    with pytest.raises(ValueError, match="reserved"):
        build_index(spark, df, d, bad, job_id="j2")
    # the original config still builds (config file untouched)
    build_index(
        spark,
        spark.createDataFrame([(2, "beta")], ["doc_id", "text"]),
        d, good, job_id="j3",
    )
    s = IndexSearcher(spark, d)
    assert s.count("*") == 2


def test_string_doc_key_builds_and_searches(spark, tmp_path):
    d = str(tmp_path / "idx_url")
    df = spark.createDataFrame(
        [(f"https://ex.com/{i}", f"alpha doc{i}") for i in range(20)],
        ["url", "text"],
    )
    cfg = IndexConfig(
        fields=[FieldConfig("text")], doc_key="url", num_partitions=2
    )
    build_index(spark, df, d, cfg)
    s = IndexSearcher(spark, d)
    assert s.count("alpha") == 20
    top = s.search("doc7", k=1).collect()
    assert top[0]["doc_key"] == "https://ex.com/7"


def test_nanosecond_es_format_parses(spark, idx):
    from quickwit_spark.search.engine import _es_strptime

    out = _es_strptime(
        "2023-01-01T00:00:00.123456789",
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSS",
    )
    assert out.microsecond == 123456


def test_unknown_source_fields_filter_silently(spark, idx):
    """ES `_source` is a FILTER over the stored doc (reference
    filter_source, rest_handler.rs:674-742): unknown fields are absent
    from the hit — never a 400, never an AnalysisException — on both
    the score path and the field-sort path."""
    s = IndexSearcher(spark, idx)
    r = s.es_search_response(
        {"query": {"match": {"text": "alpha"}}, "size": 2,
         "_source": ["n", "no_such_field"]}
    )
    hits = r["hits"]["hits"]
    assert hits and all("no_such_field" not in h["_source"] for h in hits)
    assert all(h["_source"]["n"] is not None for h in hits)
    r2 = s.es_search_response(
        {"query": {"match": {"text": "alpha"}}, "size": 2,
         "sort": [{"n": "desc"}], "_source": ["no_such_field"]}
    )
    assert r2["hits"]["hits"]
    assert all(h["_source"] == {} for h in r2["hits"]["hits"])
    # snippet fields DO validate (root.rs:313-335: "must be stored")
    with pytest.raises(ValueError, match="snippet"):
        s.search("alpha", k=2, snippet_fields=["no_such_field"]).collect()


def test_native_search_rejects_negative_paging(spark, idx):
    """start_offset/max_hits are u64 on the reference wire
    (rest_handler.rs:213-221): a negative value must 400, not page via
    Python negative-slice semantics."""
    from quickwit_spark.search.native_api import native_search

    s = IndexSearcher(spark, idx)
    for bad in (
        {"query": "alpha", "start_offset": -3},
        {"query": "alpha", "max_hits": -1},
        {"query": "alpha", "max_hits": "nope"},
    ):
        with pytest.raises(ValueError, match="non-negative"):
            native_search(s, bad)


def test_native_sort_snippet_unknown_field_is_400(spark, idx):
    """Snippets on the field-sorted path must fail with the same
    ValueError as the score path for a non-stored field, not an
    AnalysisException 500."""
    from quickwit_spark.search.native_api import native_search

    s = IndexSearcher(spark, idx)
    with pytest.raises(ValueError, match="snippet"):
        native_search(
            s,
            {"query": "alpha", "sort_by": "n",
             "snippet_fields": "no_such_field"},
        )


def test_es_search_rejects_negative_from_size(spark, idx):
    s = IndexSearcher(spark, idx)
    for bad in (
        {"query": {"match": {"text": "alpha"}}, "from": -5},
        {"query": {"match": {"text": "alpha"}}, "size": -1},
        {"query": {"match": {"text": "alpha"}}, "size": 2.5},
    ):
        with pytest.raises(ValueError, match="non-negative"):
            s.es_search(bad)


def test_paged_underestimate_total_covers_served_ranks(spark, idx):
    """With `from` pagination and track_total_hits absent, the
    underestimate must be >= from + len(hits): the page itself proves
    that many matches exist."""
    s = IndexSearcher(spark, idx)
    r = s.es_search_response(
        {"query": {"match": {"text": "alpha"}}, "from": 90, "size": 10}
    )
    hits = r["hits"]["hits"]
    assert len(hits) == 10  # 100 matching docs
    assert r["hits"]["total"]["value"] >= 90 + len(hits)
