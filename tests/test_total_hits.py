"""ES `hits.total` from the one-pass top-k.

A BM25-sorted `_search` page takes its hits AND its total from a single
kernel pass: every segment reports its exact num_hits next to its
partial hits. These tests pin that the total is the one `count()` /
`count_up_to()` would give — value and relation — on an index with more
than 8 segments (so `count_up_to`'s batch-of-8 early stop really runs),
and that one such request runs the scoring UDF in exactly one Spark job.
"""

import datetime as dt
import time

import numpy as np
import pandas as pd
import pytest

from quickwit_spark.index.builder import FieldConfig, IndexConfig, build_index
from quickwit_spark.search.engine import IndexSearcher

N_DOCS = 400
EPOCH = dt.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    rng = np.random.default_rng(17)
    words = [f"w{i}" for i in range(40)]
    p = 1.0 / np.arange(1, 41)
    p /= p.sum()
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": [
                " ".join(rng.choice(words, size=int(rng.integers(3, 15)), p=p))
                for _ in range(N_DOCS)
            ],
            "lang": rng.choice(["en", "de"], size=N_DOCS),
            "warc_ts": [EPOCH + dt.timedelta(hours=i) for i in range(N_DOCS)],
        }
    )
    d = str(tmp_path_factory.mktemp("total_hits") / "idx")
    cfg = IndexConfig(
        fields=[FieldConfig("text", record="position")],
        doc_key="doc_id",
        num_partitions=10,
        stored_columns=("lang",),
        time_column="warc_ts",
    )
    build_index(spark, spark.createDataFrame(pdf), d, cfg)
    s = IndexSearcher(spark, d)
    assert len(s.segments) > 8
    return s


def _match(text, op="or"):
    return {"match": {"text": {"query": text, "operator": op}}}


SHAPES = {
    "term": {"term": {"text": "w0"}},
    "and": _match("w0 w1", "and"),
    "or": _match("w2 w7 w30"),
    "must_not": {"bool": {"must": [_match("w0")], "must_not": [_match("w1")]}},
    "range": {
        "bool": {
            "must": [_match("w3")],
            "filter": [
                {"range": {"warc_ts": {"gte": "2024-01-03T00:00:00Z",
                                       "lt": "2024-01-12T00:00:00Z"}}}
            ],
        }
    },
    "wildcard": {"wildcard": {"text": {"value": "w1*"}}},
    "phrase": {"match_phrase": {"text": "w0 w1"}},
}
TTH = [True, False, None, 5]  # None = absent


def _expected_total(s: IndexSearcher, body: dict, n_hits: int) -> dict:
    """`hits.total` through the count paths: CountAll → count(),
    Underestimate → count_up_to() with the served-ranks floor."""
    ast = s._es_ast(body)
    tth = body.get("track_total_hits")
    size = body.get("size", 10)
    if tth is True or (type(tth) is int and tth > size):
        return {"value": s.count(ast), "relation": "eq"}
    n = tth if type(tth) is int else size
    served = body.get("from", 0) + n_hits if n_hits else 0
    v, exhausted = s.count_up_to(ast, max(n, served, 1))
    return {"value": v, "relation": "eq" if exhausted else "gte"}


def _bodies():
    for name, q in SHAPES.items():
        for tth in TTH:
            yield name, {"query": q, "size": 6}, tth
    for tth in TTH:
        yield "from", {"query": _match("w0 w4"), "size": 4, "from": 3}, tth
        yield (
            "search_after",
            {"query": _match("w0 w4"), "size": 4, "sort": [{"_score": {}}],
             "search_after": [1.0]},
            tth,
        )


def test_total_hits_match_count_paths(searcher):
    relations = set()
    for name, body, tth in _bodies():
        if tth is not None:
            body = {**body, "track_total_hits": tth}
        resp = searcher.es_search_response(body)
        got = resp["hits"]["total"]
        want = _expected_total(searcher, body, len(resp["hits"]["hits"]))
        assert got == want, (name, tth)
        relations.add(got["relation"])
    # the early stop of the Underestimate replay really ran
    assert relations == {"eq", "gte"}


def _udf_jobs(spark, group: str) -> list[int]:
    """Jobs of `group` that run a pandas UDF: the job's SQL execution
    plans a FlatMap(Co)GroupsInPandas and the job reads a shuffle (its
    stage list holds the skipped map stage too — a one-stage job only
    scans and shuffles the kernel's input)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    store = spark._jsparkSession.sharedState().statusStore()
    plans: dict[int, str] = {}
    deadline = time.time() + 20
    while time.time() < deadline:
        execs = store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            for j in jobs:
                if e.jobs().contains(j):
                    plans[j] = e.physicalPlanDescription()
        if len(plans) == len(jobs):
            break
        time.sleep(0.2)
    assert len(plans) == len(jobs), "SQL executions not reported"
    return [
        j for j in jobs
        if "InPandas" in plans[j] and len(st.getJobInfo(j).stageIds) >= 2
    ]


@pytest.mark.parametrize("shape", ["or", "range"])
def test_one_request_scores_in_one_job(spark, searcher, shape):
    body = {"query": SHAPES[shape], "size": 5, "track_total_hits": True}
    searcher.es_search_response(body)  # warm
    sc = spark.sparkContext
    group = f"one-pass-{shape}"
    sc.setJobGroup(group, "one ES _search")
    try:
        resp = searcher.es_search_response(body)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert resp["hits"]["total"]["value"] > 0
    assert len(_udf_jobs(spark, group)) == 1
