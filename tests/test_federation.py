"""One federation path: the ES wire's multi-index `_search`,
`MultiIndexSearcher` and the federated scroll share one hit merge, one
order (sort values, then `_index`, then each member's own order: the
doc key in the first sort key's direction) and one aggregation frame."""

from __future__ import annotations

import os

import pytest

from quickwit_spark.query.ast import Term

# every member holds the same docs, so every score ties, within a
# member and across members; the keys are text, so "10" < "11" < "9"
_DOCS = [
    ("9", "spark join", None),
    ("10", "spark join", None),
    ("a", "spark join", 1),
    ("b", "spark join", 1),
    ("11", "spark join", 2),
]


@pytest.fixture(scope="module")
def fed_root(spark, tmp_path_factory):
    from quickwit_spark.index.builder import FieldConfig, IndexConfig, build_index

    root = str(tmp_path_factory.mktemp("fed_order"))
    df = spark.createDataFrame(_DOCS, "k string, text string, n long")
    cfg = IndexConfig(
        fields=[FieldConfig("text")], doc_key="k", num_partitions=1,
        stored_columns=("n",),
    )
    for name in ("x", "y"):
        build_index(spark, df, os.path.join(root, name), cfg, job_id=name)
    return root


@pytest.fixture(scope="module")
def fed(spark, fed_root):
    from quickwit_spark.search.multi import MultiIndexSearcher

    return MultiIndexSearcher.resolve(spark, fed_root, "x,y")


@pytest.fixture(scope="module")
def wire(spark, fed_root):
    from quickwit_spark.search.engine import IndexSearcher
    from quickwit_spark.search.es_wire import EsWireHandler

    return EsWireHandler(
        {n: IndexSearcher(spark, os.path.join(fed_root, n)) for n in ("x", "y")}
    )


def _want(field_sort: bool) -> list[tuple]:
    """The federated (_index, key) order of every fixture doc: sort
    values, then `_index`, then the doc key in the first key's
    direction (descending for a score sort)."""
    if field_sort:  # `n` asc: 1, 1 | 2 | missing, missing
        return [(i, k) for ks in (["a", "b"], ["11"], ["10", "9"])
                for i in ("x", "y") for k in ks]
    return [(i, k) for i in ("x", "y") for k in ("b", "a", "9", "11", "10")]


def _scroll_pages(wire, body: dict) -> list[tuple]:
    r = wire.request(
        "POST", "x,y/_search", params={"scroll": "1m"}, body={**body, "size": 2}
    )
    seq = []
    while r["hits"]["hits"]:
        seq += [(h["_index"], h["_id"]) for h in r["hits"]["hits"]]
        r = wire.request(
            "POST", "_search/scroll", body={"scroll_id": r["_scroll_id"]}
        )
    return seq


@pytest.mark.parametrize("sort", [None, [{"n": {"order": "asc"}}]])
def test_one_order_everywhere(fed, wire, sort):
    """The wire's `x,y/_search`, `MultiIndexSearcher` and the federated
    scroll give the same (_index, key) sequence, for a score sort (every
    score ties) and a field sort with missing values."""
    body = {"query": {"match": {"text": "spark"}}, "size": 20}
    if sort:
        body["sort"] = sort
    got = [
        (h["_index"], h["_id"])
        for h in wire.request("POST", "x,y/_search", body=body)["hits"]["hits"]
    ]
    if sort:
        rows = fed.es_search(body)["hits"].collect()
    else:
        rows = fed.search(Term("text", "spark"), k=20).collect()
    want = _want(bool(sort))
    assert got == want
    assert [(r["_index"], r["doc_key"]) for r in rows] == want
    assert [r["rank"] for r in rows] == list(range(1, 11))
    assert _scroll_pages(wire, body) == want


@pytest.mark.parametrize("sort", [None, [{"n": {"order": "asc"}}]])
def test_from_pages_follow_the_merged_order(fed, wire, sort):
    """`from` applies after the merge: pages of 3 at from=0,3,6,9 over
    two members of tied docs concatenate to one page of 12, through the
    wire and through `MultiIndexSearcher.es_search`."""
    body = {"query": {"match": {"text": "spark"}}}
    if sort:
        body["sort"] = sort

    def wire_page(start, size):
        r = wire.request(
            "POST", "x,y/_search", body={**body, "from": start, "size": size}
        )
        return [(h["_index"], h["_id"]) for h in r["hits"]["hits"]]

    def fed_page(start, size):
        rows = fed.es_search({**body, "from": start, "size": size})["hits"]
        return [(r["_index"], r["doc_key"]) for r in rows.collect()]

    want = _want(bool(sort))
    for page in (wire_page, fed_page):
        assert page(0, 12) == want
        assert [h for i in (0, 3, 6, 9) for h in page(i, 3)] == want


def test_federated_merge_runs_no_spark_job(spark, fed):
    """On driver-sized members the federated top-k runs no Spark job
    beyond its members' `_topk` calls: the merge happens on the driver."""
    from test_total_hits import _job_plans

    q = Term("text", "spark")
    sc = spark.sparkContext
    fed.search(q, k=4).collect()  # warm
    sc.setJobGroup("fed-members", "member _topk")
    try:
        for _, s in fed.searchers:
            s._topk(s._resolve(q, None), 4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setJobGroup("fed-search", "federated search")
    try:
        rows = fed.search(q, k=4).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 4
    assert len(_job_plans(spark, "fed-search")) == len(
        _job_plans(spark, "fed-members")
    )


def test_search_frame_collect_runs_no_spark_job(spark, fed):
    """Single-index and federated hit frames come from one Arrow-built
    helper: on a driver-sized index, `search(...).collect()` runs no
    Spark job at all."""
    from test_total_hits import _job_plans

    s = fed.searchers[0][1]
    q = Term("text", "spark")
    s.search(q, k=3).collect()  # warm
    sc = spark.sparkContext
    sc.setJobGroup("one-search", "single-index search")
    try:
        rows = s.search(q, k=3, fetch=["n"]).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r["doc_key"] for r in rows] == ["b", "a", "9"]
    assert [r["n"] for r in rows] == [1, 1, None]
    assert _job_plans(spark, "one-search") == {}


def test_unmapped_query_string_field_is_rejected(fed):
    """A `query_string` naming a field no member maps is a ValueError
    (the wire's 400), not an empty answer."""
    body = {
        "query": {"query_string": {"query": "spark", "fields": ["nosuch"]}},
        "size": 5,
    }
    with pytest.raises(ValueError):
        fed.es_search(body)


def test_dot_path_aggs_match_the_wire(spark, tmp_path):
    """A terms agg on a dynamic dot-path field (physical column
    `attrs__level`) buckets the same through `MultiIndexSearcher` as
    through the wire's `logs-a,logs-b/_search`."""
    from quickwit_spark.api import QuickwitSpark
    from quickwit_spark.search.multi import MultiIndexSearcher

    qw = QuickwitSpark(spark, str(tmp_path / "root"))
    for name, levels in (
        ("logs-a", ["INFO", "WARN", "INFO"]),
        ("logs-b", ["INFO", "ERROR"]),
    ):
        qw.create_index({"index_id": name, "doc_mapping": {"mode": "dynamic"}})
        qw.ingest(name, [{"attrs": {"level": lv}, "m": "x"} for lv in levels])
    body = {
        "query": {"match_all": {}},
        "size": 0,
        "aggs": {"lv": {"terms": {"field": "attrs.level"}}},
    }
    r = qw.es().request("POST", "logs-a,logs-b/_search", body=body)
    want = {b["key"]: b["doc_count"] for b in r["aggregations"]["lv"]["buckets"]}
    assert want == {"INFO": 3, "WARN": 1, "ERROR": 1}
    m = MultiIndexSearcher.resolve(spark, qw.root, "logs-a,logs-b")
    rows = m.es_search(body)["aggregations"]["lv"].collect()
    assert {r["key"]: r["doc_count"] for r in rows} == want
