"""Driver and Spark transports of the top-k leaf, the winner fetch and
count() give the same answers.

Small searches run the leaf on the driver (pyarrow reads of the searched
segments into the same kernel calls); `_LOCAL_MAX_DOCS = 0` pins the
Spark frames. Every query of the set must return identical `_topk` hits
(doc_key, score, fetched columns of the same Python types: timestamp,
and on the merged index also decimal, boolean and binary),
identical per-segment counts and an identical count(), on a merged index
with chunked postings, a doc-mapping-update (several generations) index
and a dynamic-mapping index.
"""

import datetime as dt
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from quickwit_spark.api import QuickwitSpark
from quickwit_spark.index.builder import FieldConfig, IndexConfig, build_index
from quickwit_spark.index.merge import MergePolicy, run_merges
from quickwit_spark.search.engine import IndexSearcher
from quickwit_spark.sources.corpus import web_corpus

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
# the merged index's extra stored columns → the Python type Spark's
# collect gives their values
TYPED = {"big": Decimal, "flag": bool, "blob": bytes}


def _docs(seed: int, lo: int, hi: int) -> list[dict]:
    rng = np.random.default_rng(seed)
    words = [f"w{i}" for i in range(20)]
    p = 1.0 / np.arange(1, 21)
    p /= p.sum()
    return [
        {
            "msg": " ".join(rng.choice(words, size=int(rng.integers(2, 12)), p=p)),
            "ts": (EPOCH + dt.timedelta(hours=i)).isoformat().replace("+00:00", "Z"),
            "n": i,
            "user": {"name": f"u{i % 7}"},
        }
        for i in range(lo, hi)
    ]


def _mapping(n_type: str) -> list[dict]:
    return [
        {"name": "msg", "type": "text", "record": "position"},
        {"name": "ts", "type": "datetime", "fast": True},
        {"name": "n", "type": n_type, "fast": True},
    ]


@pytest.fixture(scope="module")
def merged(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("parity_merged"))
    cfg = IndexConfig(
        fields=[FieldConfig("text", record="position")],
        doc_key="doc_id",
        num_partitions=2,
        stored_columns=("url", "lang", *TYPED),
        time_column="warc_ts",
    )
    # stored decimal(20,0), boolean and binary columns
    corpus = web_corpus(spark, sf_dir).select(
        "*",
        (F.col("doc_id") + F.lit(str(2**63)).cast("decimal(20,0)"))
        .cast("decimal(20,0)").alias("big"),
        (F.col("doc_id") % 3 == 0).alias("flag"),
        F.unhex(F.format_string("%02x00ff", F.col("doc_id") % 256)).alias("blob"),
    )
    for j in range(4):
        build_index(spark, corpus.filter((corpus.doc_id % 4) == j), d, cfg,
                    job_id=f"p{j}")
    # tiny chunk target: hot terms' postings and positions arrive as
    # several chunk rows per merged segment
    assert run_merges(
        spark, d,
        MergePolicy(merge_factor=2, max_merge_factor=4, min_level_num_docs=10,
                    split_num_docs_target=100_000),
        num_salt_buckets=2,
        chunk_target_docs=64,
    )
    return IndexSearcher(spark, d)


@pytest.fixture(scope="module")
def qw(spark, tmp_path_factory):
    return QuickwitSpark(spark, str(tmp_path_factory.mktemp("parity_qw")))


@pytest.fixture(scope="module")
def multi_gen(qw):
    cfg = {
        "index_id": "gens",
        "doc_mapping": {
            "mode": "dynamic",
            "timestamp_field": "ts",
            "field_mappings": _mapping("u64"),
        },
    }
    qw.create_index(cfg)
    qw.ingest("gens", _docs(1, 0, 120))
    qw.ingest("gens", _docs(2, 120, 240))
    # u64 → text is a non-additive update: a new doc-mapping generation
    cfg["doc_mapping"]["field_mappings"] = _mapping("text")
    qw.update_index("gens", cfg)
    qw.ingest("gens", _docs(3, 240, 360))
    s = qw.searcher("gens")
    assert s._multi_gen
    return s


@pytest.fixture(scope="module")
def dynamic(qw):
    qw.create_index(
        {
            "index_id": "dyn",
            "doc_mapping": {
                "mode": "dynamic",
                "timestamp_field": "ts",
                "dynamic_mapping": {"tokenizer": "default", "record": "position",
                                    "fast": True},
                "field_mappings": [{"name": "ts", "type": "datetime", "fast": True}],
            },
        }
    )
    qw.ingest("dyn", _docs(4, 0, 150))
    qw.ingest("dyn", _docs(5, 150, 300))
    return qw.searcher("dyn")


def _match(field, text, op="or"):
    return {"match": {field: {"query": text, "operator": op}}}


def _bodies(text: str, ts: str, source: list[str], window, w) -> dict:
    """The query set over field `text`, with word i of the corpus as
    `w[i]` and a `[window)` range filter on the timestamp column."""

    def body(q, **kw):
        return {"query": q, "size": 7, "_source": source, **kw}

    rng_q = {"range": {ts: {"gte": window[0], "lt": window[1]}}}
    return {
        "term": body({"term": {text: w[1]}}),
        "and": body(_match(text, f"{w[0]} {w[2]}", "and")),
        "or": body(_match(text, f"{w[3]} {w[7]} {w[15]}")),
        "must_not": body({"bool": {"must": [_match(text, w[0])],
                                   "must_not": [_match(text, w[1])]}}),
        "phrase": body({"match_phrase": {text: f"{w[0]} {w[1]}"}}),
        "wildcard": body({"wildcard": {text: {"value": w[1] + "*"}}}),
        "range": body({"bool": {"must": [_match(text, f"{w[2]} {w[4]}")],
                                "filter": [rng_q]}}),
        "search_after": body(_match(text, f"{w[0]} {w[5]}"),
                             sort=[{"_score": {}}], search_after=[1.0]),
        "from": body(_match(text, f"{w[0]} {w[5]}"), **{"from": 4}),
    }


def _answers(s: IndexSearcher, body: dict):
    out, resolved, counts = s._es_search(dict(body), driver_rows=True)
    return out["hits"], counts, s.count(None, _resolved=resolved)


def _value_types(hits) -> dict:
    """column → the Python types of its non-null fetched values (equality
    alone would pass bytes for bytearray or an int for a Decimal)."""
    out: dict = {}
    for h in hits:
        for c, v in h.items():
            if v is not None:
                out.setdefault(c, set()).add(type(v))
    return out


def _check_parity(s: IndexSearcher, bodies: dict, types: dict, monkeypatch):
    """`types`: fetched column → the Python type Spark's collect gives
    it, which some hit of the query set must carry."""
    driver = {}
    for name, body in bodies.items():
        plan = s.search_plan(s._es_ast(body))
        assert plan["transport"] == "driver", name
        driver[name] = _answers(s, body)
    monkeypatch.setattr(IndexSearcher, "_LOCAL_MAX_DOCS", 0)
    seen: dict = {}
    for name, body in bodies.items():
        assert s.search_plan(s._es_ast(body))["transport"] == "spark"
        hits, counts, count = _answers(s, body)
        assert driver[name] == (hits, counts, count), name
        assert _value_types(driver[name][0]) == _value_types(hits), name
        assert count == sum(counts.values()), name
        assert hits or name == "phrase", name  # every other shape matches
        for c, ts in _value_types(hits).items():
            seen.setdefault(c, set()).update(ts)
    for c, t in types.items():
        assert seen.get(c) == {t}, (c, seen.get(c))


# the synthetic indexes' vocabulary and timestamp window
WORDS = {i: f"w{i}" for i in range(20)}
WINDOW = ("2024-01-02T00:00:00Z", "2024-01-09T00:00:00Z")


def test_parity_merged_chunked(merged, monkeypatch):
    assert any(s.merge_gen > 0 for s in merged.segments)
    # the corpus' own words: its hot terms are chunked after the merge
    words = {0: "the", 1: "spark", 2: "data", 3: "join", 4: "and", 5: "of",
             7: "merge", 15: "vector"}
    types = {"warc_ts": dt.datetime, **TYPED}
    bodies = _bodies("text", "warc_ts", ["url", "lang", *types],
                     ("2024-01-01T02:00:00Z", "2024-01-01T09:00:00Z"), words)
    _check_parity(merged, bodies, types, monkeypatch)


def test_parity_multi_generation(multi_gen, monkeypatch):
    # the fetch stays on Spark (align_generations); the leaf and count
    # take the driver transport
    assert multi_gen._arrow.docs is None
    bodies = _bodies("msg", "ts", ["msg", "ts", "n"], WINDOW, WORDS)
    _check_parity(multi_gen, bodies, {"ts": dt.datetime}, monkeypatch)


def test_parity_dynamic_mapping(dynamic, monkeypatch):
    assert dynamic._arrow.docs is not None
    bodies = _bodies("msg", "ts", ["msg", "ts", "user.name"], WINDOW, WORDS)
    _check_parity(dynamic, bodies, {"ts": dt.datetime}, monkeypatch)
