"""Searchers and merges read an index with recorded Spark schemas.

The builder records each docs generation's Spark read schema next to
its index config; `IndexSearcher` and `execute_merge` read `inv/` with
its fixed schema and each docs generation with the record, so opening
and refreshing an index runs no Spark job. An index written before
schemas were recorded still opens by inference. The record also makes
a merge keep columns only newer batches carry, refuses a batch that
retypes a column, and lets `_source` name the doc-key field.
"""

import glob
import json
import os

import pytest
from pyspark.sql import types as T

from quickwit_spark.index import builder
from quickwit_spark.index import manifest as mf
from quickwit_spark.index.builder import (
    FieldConfig,
    IndexConfig,
    build_index,
    docs_schema_path,
)
from quickwit_spark.index.merge import MergePolicy, run_merges
from quickwit_spark.search.engine import IndexSearcher

PAIR = MergePolicy(merge_factor=2, max_merge_factor=2, min_level_num_docs=2)


def _frame(spark, lo: int, hi: int, stored: dict, key_base: int = 0):
    """Docs [lo, hi): doc_id `key_base + i`, text "hello w{i % 3}", and
    one stored column per `stored` entry (name -> Spark type)."""
    vals = {
        "string": lambda c, i: f"{c[0].upper()}{i}",
        "bigint": lambda c, i: i,
    }
    rows = [
        (key_base + i, f"hello w{i % 3}", *(vals[t](c, i) for c, t in stored.items()))
        for i in range(lo, hi)
    ]
    ddl = ", ".join(
        ["doc_id bigint", "text string", *(f"{c} {t}" for c, t in stored.items())]
    )
    return spark.createDataFrame(rows, ddl)


def _config(*stored) -> IndexConfig:
    return IndexConfig(
        fields=[FieldConfig("text")], num_partitions=1, stored_columns=stored
    )


def _jobs(spark, group: str, fn):
    """(fn(), number of Spark jobs it ran) under job group `group`."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _live_docs(s: IndexSearcher) -> list[tuple]:
    live = set(s.live_ids)
    return sorted(
        tuple(r[c] for c in ("doc_key", "url", "lang"))
        for r in s.docs().collect()
        if r["segment_id"] in live
    )


BODIES = {
    "match": {"query": {"match": {"text": "hello"}}, "size": 20,
              "_source": ["url", "lang"]},
    "term": {"query": {"match": {"text": "w1"}}, "size": 3,
             "_source": ["lang"]},
}


def _answers(s: IndexSearcher) -> dict:
    out = {}
    for name, body in BODIES.items():
        r = s.es_search_response(dict(body))
        out[name] = (r["hits"]["total"], [(h["_id"], h["_source"]) for h in r["hits"]["hits"]])
    return out


def _two_batches(spark, d: str) -> None:
    """Batch a stores url; batch b extends the mapping with lang."""
    build_index(spark, _frame(spark, 0, 5, {"url": "string"}), d,
                _config("url"), job_id="a")
    build_index(spark, _frame(spark, 5, 10, {"url": "string", "lang": "string"}),
                d, _config("url", "lang"), job_id="b")


def test_open_and_refresh_run_no_spark_job(spark, tmp_path):
    d = str(tmp_path / "idx")
    # 32 batch dirs: Spark still lists them on the driver
    build_index(
        spark, _frame(spark, 0, 320, {"url": "string"}), d,
        IndexConfig(fields=[FieldConfig("text")], num_partitions=32,
                    stored_columns=("url",)),
        num_batches=32,
    )
    assert len(glob.glob(f"{d}/docs/batch_id=*")) == 32
    s, n = _jobs(spark, "open-32", lambda: IndexSearcher(spark, d))
    assert n == 0
    _, n = _jobs(spark, "refresh-32", s.refresh)
    assert n == 0
    assert s.count("hello") == 320


def test_open_after_merge_runs_no_spark_job(spark, tmp_path):
    d = str(tmp_path / "idx")
    _two_batches(spark, d)
    assert run_merges(spark, d, PAIR)
    s, n = _jobs(spark, "open-merged", lambda: IndexSearcher(spark, d))
    assert n == 0
    # builder-written and merge-written files carry different columns;
    # the frames do not depend on which file is listed first
    assert s.inv().columns == list(builder._INV_COLUMNS)
    assert s.docs().columns == ["segment_id", "doc_id", "doc_key", "url", "lang", "batch_id"]


def test_docs_after_merge_holds_live_segments_only(spark, tmp_path):
    """Until retention GC removes a merged-away segment's batch dirs,
    `docs()` still reads only the live (merged) segment's rows."""
    d = str(tmp_path / "idx")
    _two_batches(spark, d)
    assert run_merges(spark, d, PAIR)
    s = IndexSearcher(spark, d)
    assert len(s.live_ids) == 1
    assert s.docs().count() == 10
    # a column-pruned projection, as the Jaeger spans frame makes
    rows = s.docs().select("doc_key", "url").collect()
    assert sorted(r["doc_key"] for r in rows) == list(range(10))


def test_record_is_additive_and_rewritten_only_on_change(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, _frame(spark, 0, 5, {"url": "string"}), d,
                _config("url"), job_id="a")
    p = docs_schema_path(d)
    first = os.stat(p).st_mtime_ns
    build_index(spark, _frame(spark, 5, 10, {"url": "string"}), d,
                _config("url"), job_id="b")
    assert os.stat(p).st_mtime_ns == first
    build_index(spark, _frame(spark, 10, 15, {"lang": "string", "url": "string"}),
                d, _config("lang", "url"), job_id="c")
    with open(p) as f:
        record = T.StructType.fromJson(json.load(f))
    # existing fields keep their place; the new one comes before batch_id
    assert record.fieldNames() == [
        "segment_id", "doc_id", "doc_key", "url", "lang", "batch_id",
    ]
    assert all(f.nullable for f in record.fields)


def test_merge_keeps_columns_only_newer_batches_carry(spark, tmp_path):
    d = str(tmp_path / "idx")
    _two_batches(spark, d)
    s = IndexSearcher(spark, d)
    before = (_live_docs(s), _answers(s))
    merged = run_merges(spark, d, PAIR)
    assert [len(r.lineage["merge_inputs"]) for r in merged] == [2]
    s.refresh()
    assert _live_docs(s) == before[0]
    assert [lang for _k, _u, lang in _live_docs(s)] == [None] * 5 + [f"L{i}" for i in range(5, 10)]
    assert _answers(s) == before[1]


def test_struct_column_widens_like_spark(spark, tmp_path):
    """A stored struct that gains a field widens the record the way
    Spark's parquet schema merge widens it."""
    d = str(tmp_path / "idx")
    for job, (lo, hi), ddl in (
        ("a", (0, 3), "struct<x:string>"),
        ("b", (3, 6), "struct<x:string,y:bigint>"),
    ):
        rows = [(i, "hello", (f"X{i}", i)[: 1 + ddl.count(",")]) for i in range(lo, hi)]
        df = spark.createDataFrame(rows, f"doc_id bigint, text string, info {ddl}")
        build_index(spark, df, d, _config("info"), job_id=job)
    s, n = _jobs(spark, "open-struct", lambda: IndexSearcher(spark, d))
    assert n == 0
    inferred = spark.read.option("mergeSchema", "true").parquet(f"{d}/docs")
    assert s.docs().schema["info"] == inferred.schema["info"]
    assert sorted((r.doc_key, r.info.x, r.info.y) for r in s.docs().collect()) == [
        (i, f"X{i}", None if i < 3 else i) for i in range(6)
    ]


def test_retyped_column_is_refused_before_writing(spark, tmp_path):
    d = str(tmp_path / "idx")
    _two_batches(spark, d)
    before = sorted(glob.glob(f"{d}/**", recursive=True))
    manifest = {f: open(f).read() for f in glob.glob(f"{d}/_manifest/*")}
    with pytest.raises(ValueError, match="lang"):
        build_index(
            spark, _frame(spark, 10, 15, {"url": "string", "lang": "bigint"}),
            d, _config("url", "lang"), job_id="c",
        )
    assert sorted(glob.glob(f"{d}/**", recursive=True)) == before
    assert {f: open(f).read() for f in glob.glob(f"{d}/_manifest/*")} == manifest
    s = IndexSearcher(spark, d)
    assert s.count("hello") == 10
    assert _answers(s)["term"][0]["value"] == 3


def test_index_without_record_opens_by_inference(spark, tmp_path):
    d = str(tmp_path / "idx")
    _two_batches(spark, d)
    s = IndexSearcher(spark, d)
    want = (s.docs().dtypes, s.inv().dtypes, _answers(s))
    os.remove(docs_schema_path(d))
    legacy, n = _jobs(spark, "open-legacy", lambda: IndexSearcher(spark, d))
    assert n >= 1  # the footer inference
    assert (legacy.docs().dtypes, legacy.inv().dtypes, _answers(legacy)) == want
    # the next build records the schema of every batch, old ones too
    build_index(spark, _frame(spark, 10, 15, {"url": "string", "lang": "string"}),
                d, _config("url", "lang"), job_id="c")
    s, n = _jobs(spark, "open-upgraded", lambda: IndexSearcher(spark, d))
    assert n == 0
    assert s.docs().dtypes == want[0]
    assert s.count("hello") == 15


def test_merge_checkpoint_stage_timings(spark, tmp_path):
    d = str(tmp_path / "idx")
    _two_batches(spark, d)
    [rec] = run_merges(spark, d, PAIR)
    cp = mf.committed_checkpoints(d, "merge")[rec.segment_id]
    assert set(cp["stage_secs"]) == {
        "permutation", "inv_rewrite", "docs_rewrite", "publish",
    }
    assert all(v >= 0 for v in cp["stage_secs"].values())


@pytest.mark.parametrize("transport", ["driver", "spark"])
def test_source_names_the_doc_key_field(spark, tmp_path, monkeypatch, transport):
    d = str(tmp_path / "idx")
    build_index(spark, _frame(spark, 0, 5, {"url": "string"}, key_base=100), d,
                _config("url"))
    s = IndexSearcher(spark, d)
    if transport == "spark":
        monkeypatch.setattr(IndexSearcher, "_LOCAL_MAX_DOCS", 0)
    assert s.search_plan("hello")["transport"] == transport
    body = {"query": {"match": {"text": "hello"}}, "size": 3,
            "_source": ["doc_id", "url"]}
    hits = s.es_search_response(body)["hits"]["hits"]
    assert [h["_source"] for h in hits] == [
        {"doc_id": 104, "url": "U4"},
        {"doc_id": 103, "url": "U3"},
        {"doc_id": 102, "url": "U2"},
    ]
    sorted_hits = s.es_search_response(
        {**body, "sort": [{"url": "asc"}]}
    )["hits"]["hits"]
    assert [h["_source"]["doc_id"] for h in sorted_hits] == [100, 101, 102]
    for name in ("segment_id", "batch_id"):
        with pytest.raises(ValueError, match=name):
            s.es_search_response({**body, "_source": [name]})
