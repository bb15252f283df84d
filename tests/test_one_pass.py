"""One hit-assembly path: `search_early`, the native `/search` route and
snippets run on the top-k leaf and root (`IndexSearcher._leaf` /
`_root`), so each request resolves its query once, scores in one pass
and runs no Python-worker stage of its own; and the kernel frame's
physical plan does not depend on how many queries are in flight."""

import contextlib
import re
import threading

import numpy as np
import pandas as pd
import pytest

from quickwit_spark.index.builder import FieldConfig, IndexConfig, build_index
from quickwit_spark.search.engine import IndexSearcher
from quickwit_spark.search.native_api import native_search
from test_total_hits import _PYTHON_NODES, _job_plans, _udf_jobs

N_DOCS = 300
QUERY = "w2 OR w7"


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    rng = np.random.default_rng(23)
    words = [f"w{i}" for i in range(30)]
    p = 1.0 / np.arange(1, 31)
    p /= p.sum()
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": [
                " ".join(rng.choice(words, size=int(rng.integers(3, 12)), p=p))
                for _ in range(N_DOCS)
            ],
        }
    )
    d = str(tmp_path_factory.mktemp("one_pass") / "idx")
    cfg = IndexConfig(
        fields=[FieldConfig("text")],
        doc_key="doc_id",
        num_partitions=6,
        stored_columns=("text",),
    )
    build_index(spark, spark.createDataFrame(pdf), d, cfg)
    s = IndexSearcher(spark, d)
    assert len(s.segments) >= 4
    return s


@contextlib.contextmanager
def _group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _count_resolves(monkeypatch, searcher) -> list:
    calls = []
    real = searcher._resolve

    def resolve(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(searcher, "_resolve", resolve)
    return calls


def _no_python_stage(spark, group: str) -> None:
    for plan in _job_plans(spark, group).values():
        assert not any(n in plan for n in _PYTHON_NODES), plan


def _masked_plan(df) -> str:
    """`df.explain("formatted")`'s text, expression and plan ids masked
    (read from the JVM: redirecting stdout is not thread-safe)."""
    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return re.sub(r"#\d+|plan_id=\d+", "#", text)


def test_kernel_plan_is_the_same_solo_and_concurrent(searcher, monkeypatch):
    """The kernel frame of one query, built alone and by 8 threads that
    are all inside the searcher at once, has one physical plan."""
    monkeypatch.setattr(IndexSearcher, "_LOCAL_MAX_DOCS", 0)
    solo = _masked_plan(searcher.match_docs(QUERY))
    n = 8
    barrier = threading.Barrier(n, timeout=120)
    real = searcher._resolve

    def resolve(*a, **kw):
        out = real(*a, **kw)
        barrier.wait()  # every thread is in flight before any plan is built
        return out

    monkeypatch.setattr(searcher, "_resolve", resolve)
    plans: list = [None] * n
    errors: list = []

    def build(i):
        try:
            plans[i] = _masked_plan(searcher.match_docs(QUERY))
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=build, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert all(p == solo for p in plans)


def test_search_early_on_the_driver_runs_no_python_stage(spark, searcher, monkeypatch):
    """A driver-sized `search_early` runs both leaves on the driver:
    no Spark job with a Python stage, one resolve, the same hits and
    exact count as `search` / `count`."""
    want = [(r["doc_key"], r["score"]) for r in searcher.search(QUERY, k=5).collect()]
    want_n = searcher.count(QUERY)
    resolves = _count_resolves(monkeypatch, searcher)
    with _group(spark, "early-driver"):
        et = searcher.search_early(QUERY, k=5)
        got = [(r["doc_key"], r["score"]) for r in et["hits"].collect()]
    assert len(resolves) == 1
    assert got == want and et["num_hits"] == want_n
    _no_python_stage(spark, "early-driver")


def test_native_score_search_scores_in_one_job(spark, searcher, monkeypatch):
    """A score-sorted native `/search` with `count_all=true` takes its
    hits and `num_hits` from one top-k pass: on the Spark transport the
    scoring UDF runs in exactly one job, and the query resolves once."""
    monkeypatch.setattr(IndexSearcher, "_LOCAL_MAX_DOCS", 0)
    params = {"query": QUERY, "max_hits": 5, "count_all": "true"}
    native_search(searcher, params)  # warm
    resolves = _count_resolves(monkeypatch, searcher)
    with _group(spark, "native-one-pass"):
        resp = native_search(searcher, params)
    assert len(resolves) == 1
    assert resp["num_hits"] == searcher.count(QUERY)
    assert len(resp["hits"]) == 5
    assert len(_udf_jobs(spark, "native-one-pass")) == 1


def test_snippets_run_no_python_stage(spark, searcher):
    """Snippets are made on the ≤ k driver rows, not by a UDF job."""
    with _group(spark, "snippets"):
        rows = searcher.search(QUERY, k=5, snippet_fields=["text"]).collect()
    assert len(rows) == 5
    assert all("<b>" in r["snippet_text"] for r in rows)
    _no_python_stage(spark, "snippets")
