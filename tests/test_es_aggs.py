"""ES aggregation DSL → DataFrame plans (reference scenarii
0004-term_aggregations.yaml / 0020-stats.yaml shapes)."""

import tempfile

import pytest
from pyspark.sql import functions as F

from quickwit_spark.index.builder import FieldConfig, IndexConfig, build_index
from quickwit_spark.search.engine import IndexSearcher
from quickwit_spark.sources.corpus import web_corpus


def _docs(spark, sf_dir):
    return (
        web_corpus(spark, sf_dir)
        .withColumn("n_chars", F.length("text"))
        .withColumn("site", (F.col("doc_id") % 3).cast("string"))
    )


@pytest.fixture(scope="module")
def searcher(spark, sf_dir):
    idx = tempfile.mkdtemp(prefix="qws_esagg_")
    cfg = IndexConfig(
        fields=[FieldConfig("text")],
        doc_key="doc_id",
        num_partitions=2,
        stored_columns=("lang", "n_chars", "site"),
        time_column="warc_ts",
    )
    build_index(spark, _docs(spark, sf_dir), idx, cfg)
    return IndexSearcher(spark, idx)


@pytest.fixture(scope="module")
def fast(spark, sf_dir):
    return _docs(spark, sf_dir)


def test_terms_with_metric_subagg(searcher, fast):
    body = {
        "query": {"match_all": {}},
        "size": 0,
        "aggs": {
            "by_lang": {
                "terms": {"field": "lang", "size": 3},
                "aggs": {"avg_len": {"avg": {"field": "n_chars"}}},
            }
        },
    }
    res = searcher.es_search(body)
    assert "hits" not in res
    got = res["aggregations"]["by_lang"].toPandas()
    exp = (
        fast.groupBy("lang")
        .agg(F.count("*").alias("n"), F.avg("n_chars").alias("a"))
        .orderBy(F.desc("n"), F.asc("lang"))
        .limit(3)
        .toPandas()
    )
    assert list(got["key"]) == list(exp["lang"])
    assert list(got["doc_count"]) == list(exp["n"])
    assert got["avg_len"].round(6).tolist() == exp["a"].round(6).tolist()


def test_stats_and_percentiles_and_range(searcher, fast):
    body = {
        "query": {"match": {"text": {"query": "spark"}}},
        "size": 0,
        "aggs": {
            "len_stats": {"stats": {"field": "n_chars"}},
            "len_pct": {"percentiles": {"field": "n_chars", "percents": [50, 90]}},
            "len_rng": {
                "range": {
                    "field": "n_chars",
                    "ranges": [{"to": 150}, {"from": 150, "to": 300}, {"from": 300}],
                }
            },
        },
    }
    res = searcher.es_search(body)
    aggd = res["aggregations"]
    stats = aggd["len_stats"].collect()[0]
    n_match = searcher.count("text:spark")
    assert stats["value_count"] == n_match
    rng = aggd["len_rng"].toPandas()
    assert rng["doc_count"].sum() == n_match
    assert list(rng["key"]) == ["*-150", "150-300", "300-*"]
    pct = aggd["len_pct"].collect()[0]
    assert pct["value_p50"] <= pct["value_p90"]


def test_query_plus_hits_and_date_histogram(searcher):
    body = {
        "query": {"match": {"text": {"query": "spark join", "operator": "and"}}},
        "size": 5,
        "aggs": {"per_day": {"date_histogram": {"field": "warc_ts", "calendar_interval": "day"}}},
    }
    res = searcher.es_search(body, mode="oracle")
    hits = res["hits"].collect()
    assert len(hits) == 5 and hits[0]["rank"] == 1
    per_day = res["aggregations"]["per_day"].toPandas()
    assert per_day["doc_count"].sum() == searcher.count(
        "text:spark AND text:join"
    )


def test_bucket_in_bucket_nesting(searcher, fast):
    body = {
        "size": 0,
        "aggs": {
            "by_lang": {
                "terms": {"field": "lang", "size": 2},
                "aggs": {
                    "by_src": {
                        "terms": {"field": "site", "size": 2},
                        "aggs": {"avg_len": {"avg": {"field": "n_chars"}}},
                    }
                },
            }
        },
    }
    got = searcher.es_search(body)["aggregations"]["by_lang"].toPandas()
    # outer: top-2 langs by total count; inner: top-2 sources per lang
    top_langs = (
        fast.groupBy("lang").count().orderBy(F.desc("count"), F.asc("lang")).limit(2).toPandas()
    )
    assert set(got["key"]) == set(top_langs["lang"])
    assert got.groupby("key").size().max() <= 2
    one = got.iloc[0]
    exp = fast.filter(
        (F.col("lang") == one["key"]) & (F.col("site") == one["by_src_key"])
    )
    assert one["by_src_doc_count"] == exp.count()
    assert round(one["avg_len"], 6) == round(
        exp.agg(F.avg("n_chars")).collect()[0][0], 6
    )
    # outer doc_count = total docs of that lang
    lang_tot = dict(zip(top_langs["lang"], top_langs["count"]))
    for _, r in got.iterrows():
        assert r["doc_count"] == lang_tot[r["key"]]


def test_three_level_nesting(searcher, fast):
    """Arbitrary bucket nesting (tantivy nests recursively): terms →
    terms → range, with a metric at the middle level and at the leaf."""
    body = {
        "size": 0,
        "aggs": {
            "a": {
                "terms": {"field": "lang", "size": 2},
                "aggs": {
                    "mid_avg": {"avg": {"field": "n_chars"}},
                    "b": {
                        "terms": {"field": "site", "size": 2},
                        "aggs": {
                            "c": {
                                "range": {
                                    "field": "n_chars",
                                    "ranges": [{"to": 200}, {"from": 200}],
                                }
                            },
                        },
                    },
                },
            }
        },
    }
    res = searcher.es_search(body)["aggregations"]["a"]
    _assert_no_unpartitioned_window(res)
    got = res.toPandas()
    assert set(got.columns) >= {
        "key", "doc_count", "b_key", "b_doc_count", "c_key", "c_doc_count",
        "mid_avg",
    }
    top_langs = (
        fast.groupBy("lang").count()
        .orderBy(F.desc("count"), F.asc("lang")).limit(2).toPandas()
    )
    assert set(got["key"]) == set(top_langs["lang"])
    # spot-check one deepest bucket against a direct filter
    one = got.iloc[0]
    cond = (
        (F.col("lang") == one["key"]) & (F.col("site") == one["b_key"])
        & ((F.col("n_chars") < 200) if one["c_key"] == "*-200" else (F.col("n_chars") >= 200))
    )
    assert one["c_doc_count"] == fast.filter(cond).count()
    # mid-level metric = avg over the whole outer bucket
    exp_avg = (
        fast.filter(F.col("lang") == one["key"])
        .agg(F.avg("n_chars")).collect()[0][0]
    )
    assert round(float(one["mid_avg"]), 6) == round(exp_avg, 6)
    # sibling bucket aggs at one level stay unsupported (register them
    # as separate top-level aggregations)
    with pytest.raises(NotImplementedError):
        searcher.es_search(
            {"size": 0, "aggs": {"a": {"terms": {"field": "lang"}, "aggs": {
                "b1": {"terms": {"field": "site"}},
                "b2": {"terms": {"field": "lang"}},
            }}}}
        )


def test_terms_options(searcher, fast):
    """min_doc_count / missing / show_term_doc_count_error."""
    # min_doc_count filters sparse buckets
    body = {"size": 0, "aggs": {"t": {"terms": {
        "field": "lang", "size": 10, "min_doc_count": 40}}}}
    got = searcher.es_search(body)["aggregations"]["t"].toPandas()
    assert (got["doc_count"] >= 40).all()
    # missing: null site values bucket under the placeholder
    with_null = fast.withColumn(
        "site2", F.when(F.col("site") == "0", None).otherwise(F.col("site"))
    )
    from quickwit_spark.search.es_aggs import run_es_aggs

    r = run_es_aggs(
        with_null,
        {"t": {"terms": {"field": "site2", "size": 10, "missing": "N/A"}}},
    )["t"].toPandas()
    n_null = with_null.filter(F.col("site2").isNull()).count()
    assert int(r.set_index("key")["doc_count"]["N/A"]) == n_null
    # doc_count_error + sum_other: exact engine → error bound 0,
    # sum_other = total − kept
    r2 = run_es_aggs(
        fast,
        {"t": {"terms": {"field": "site", "size": 2,
                          "show_term_doc_count_error": True}}},
    )["t"].toPandas()
    assert (r2["doc_count_error_upper_bound"] == 0).all()
    total = fast.count()
    assert (r2["sum_other_doc_count"] == total - r2["doc_count"].sum()).all()


def test_histogram_extended_bounds(fast):
    from quickwit_spark.search.es_aggs import run_es_aggs

    r = run_es_aggs(
        fast.filter(F.col("n_chars") < 300),
        {"h": {"histogram": {"field": "n_chars", "interval": 100.0,
                              "extended_bounds": {"min": 0, "max": 599}}}},
    )["h"].toPandas()
    # skeleton forces the empty tail buckets into the result
    assert list(r["key"]) == [0.0, 100.0, 200.0, 300.0, 400.0, 500.0]
    assert list(r["doc_count"][3:]) == [0, 0, 0]


def test_msearch_and_describe(searcher):
    res = searcher.msearch(
        [
            {"query": {"term": {"text": {"value": "spark"}}}, "size": 0,
             "aggs": {"n": {"value_count": {"field": "doc_key"}}}},
            {"query": {"match": {"text": {"query": "spark"}}}, "size": 3},
        ]
    )
    assert len(res) == 2
    assert res[0]["aggregations"]["n"].collect()[0]["value"] > 0
    assert len(res[1]["hits"].collect()) == 3
    d = searcher.describe_index()
    assert d["num_docs"] == 500
    assert d["num_segments"] >= 1
    assert d["inv_bytes"] > 0 and d["docs_bytes"] > 0


def _assert_no_unpartitioned_window(df):
    """Every windowspecdefinition in the physical plan must carry at
    least one PARTITION column (a bare attribute before any ASC/DESC
    ordering expression and before the frame spec) — an unpartitioned
    WindowExec funnels its whole input through one task."""
    import contextlib
    import io
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    for m in re.finditer(
        r"windowspecdefinition\((.*?)specifiedwindowframe", buf.getvalue()
    ):
        head = [p.strip() for p in m.group(1).split(",") if p.strip()]
        assert head and not re.search(
            r"\b(ASC|DESC)\b", head[0]
        ), f"unpartitioned Window in agg plan: windowspecdefinition({m.group(1)}...)"


def test_nested_agg_plans_no_unpartitioned_window(searcher):
    """The outer-terms top-size selection must be groupBy+limit+semi-join
    (TakeOrderedAndProject), not a global rank window — a WindowExec with
    no partition spec funnels every (outer×inner) row through ONE task at
    high-cardinality outer keys."""
    body = {
        "size": 0,
        "aggs": {
            "by_lang": {
                "terms": {"field": "lang", "size": 2},
                "aggs": {"by_src": {"terms": {"field": "site", "size": 2}}},
            },
            "by_day": {
                "date_histogram": {"field": "warc_ts", "calendar_interval": "day"},
                "aggs": {"by_src": {"terms": {"field": "site", "size": 2}}},
            },
        },
    }
    res = searcher.es_search(body)["aggregations"]
    for df in res.values():
        _assert_no_unpartitioned_window(df)
    # and the fix must not have changed answers: outer totals intact
    got = res["by_lang"].toPandas()
    assert (got.groupby("key")["doc_count"].nunique() == 1).all()


def test_percentiles_approx_default_close_to_exact(searcher, fast):
    """Default percentiles use the mergeable percentile_approx sketch
    (the scale path); exact mode stays available for oracle comparison.
    At accuracy=10000 over 500 docs the sketch is within one value-step
    of exact."""
    from quickwit_spark.search import aggs as qa

    approx = qa.percentiles(fast, "n_chars", [0.5, 0.9]).collect()[0]
    exact = qa.percentiles(fast, "n_chars", [0.5, 0.9], exact=True).collect()[0]
    for p in ("p50", "p90"):
        assert abs(approx[p] - exact[p]) <= max(2.0, 0.01 * abs(exact[p]))
    # es_aggs spec flag routes the same way
    body = {
        "size": 0,
        "aggs": {"pct": {"percentiles": {"field": "n_chars", "percents": [50],
                                          "exact": True}}},
    }
    r = searcher.es_search(body)["aggregations"]["pct"].collect()[0]
    assert abs(r["value_p50"] - exact["p50"]) <= 2.0


def test_es_response_envelope(searcher):
    """ES wire shape (rest_handler.rs re-shaping analog): hits +
    nested aggregations JSON."""
    body = {
        "query": {"match": {"text": {"query": "spark"}}},
        "size": 3,
        "_source": ["lang", "n_chars"],
        "aggs": {
            "by_lang": {
                "terms": {"field": "lang", "size": 2},
                "aggs": {
                    "avg_len": {"avg": {"field": "n_chars"}},
                    "by_src": {"terms": {"field": "site", "size": 2}},
                },
            },
            "len_stats": {"stats": {"field": "n_chars"}},
        },
    }
    resp = searcher.es_search_response(body, mode="oracle")
    assert resp["timed_out"] is False and resp["took"] >= 0
    assert resp["hits"]["total"]["value"] == searcher.count("text:spark")
    assert resp["hits"]["total"]["relation"] == "eq"
    hits = resp["hits"]["hits"]
    assert len(hits) == 3
    assert resp["hits"]["max_score"] == hits[0]["_score"]
    assert set(hits[0]["_source"]) == {"lang", "n_chars"}
    buckets = resp["aggregations"]["by_lang"]["buckets"]
    assert len(buckets) == 2
    b0 = buckets[0]
    assert {"key", "doc_count", "avg_len", "by_src"} <= set(b0)
    assert isinstance(b0["avg_len"]["value"], float)
    assert 1 <= len(b0["by_src"]["buckets"]) <= 2
    st = resp["aggregations"]["len_stats"]
    assert st["count"] > 0 and st["min"] <= st["avg"] <= st["max"]


def test_extended_stats(fast):
    import math

    from quickwit_spark.search.es_aggs import run_es_aggs, shape_es_agg

    clause = {"extended_stats": {"field": "n_chars", "sigma": 3.0}}
    df = run_es_aggs(fast, {"x": clause})["x"]
    row = df.collect()[0].asDict()
    vals = [r["n_chars"] for r in fast.select("n_chars").collect()]
    n = len(vals)
    mean = sum(vals) / n
    var_pop = sum((v - mean) ** 2 for v in vals) / n
    assert row["value_count"] == n
    assert abs(row["value_avg"] - mean) < 1e-6
    assert abs(row["value_sum_of_squares"] - sum(v * v for v in vals)) < 1e-3
    assert abs(row["value_variance"] - var_pop) < 1e-4
    assert abs(row["value_variance_sampling"] - var_pop * n / (n - 1)) < 1e-4
    assert abs(row["value_std_deviation"] - math.sqrt(var_pop)) < 1e-6
    # wire shape: bounds at avg ± 3σ, population/sampling variants
    shaped = shape_es_agg(clause, df)
    b = shaped["std_deviation_bounds"]
    assert abs(b["upper"] - (mean + 3 * math.sqrt(var_pop))) < 1e-6
    assert b["upper"] == b["upper_population"]
    assert b["upper_sampling"] > b["upper"]  # sampling σ is larger
    assert shaped["variance_population"] == shaped["variance"]


def test_terms_order(fast):
    from quickwit_spark.search.es_aggs import run_es_aggs

    # _key asc
    r = run_es_aggs(
        fast, {"t": {"terms": {"field": "lang", "size": 5,
                                "order": {"_key": "asc"}}}}
    )["t"].toPandas()
    assert list(r["key"]) == sorted(r["key"])
    # _count asc = rarest first
    r2 = run_es_aggs(
        fast, {"t": {"terms": {"field": "lang", "size": 5,
                                 "order": {"_count": "asc"}}}}
    )["t"].toPandas()
    assert list(r2["doc_count"]) == sorted(r2["doc_count"])
    # order by a metric sub-agg
    r3 = run_es_aggs(
        fast,
        {"t": {"terms": {"field": "lang", "size": 5,
                          "order": {"mean_len": "desc"}},
               "aggs": {"mean_len": {"avg": {"field": "n_chars"}}}}},
    )["t"].toPandas()
    assert list(r3["mean_len"]) == sorted(r3["mean_len"], reverse=True)
    # multi-value metric addressed as name.sub
    r4 = run_es_aggs(
        fast,
        {"t": {"terms": {"field": "lang", "size": 5,
                          "order": {"ls.avg": "asc"}},
               "aggs": {"ls": {"stats": {"field": "n_chars"}}}}},
    )["t"].toPandas()
    assert list(r4["ls_avg"]) == sorted(r4["ls_avg"])


def test_histogram_hard_bounds_and_metric_missing(fast):
    from pyspark.sql import functions as F

    from quickwit_spark.search.es_aggs import run_es_aggs

    r = run_es_aggs(
        fast,
        {"h": {"histogram": {"field": "n_chars", "interval": 100.0,
                              "hard_bounds": {"min": 100, "max": 299}}}},
    )["h"].toPandas()
    assert set(r["key"]) <= {100.0, 200.0}
    n_in = fast.filter((F.col("n_chars") >= 100) & (F.col("n_chars") <= 299)).count()
    assert int(r["doc_count"].sum()) == n_in
    # metric `missing`: nulls count as the substitute value
    with_null = fast.withColumn(
        "len2", F.when(F.col("site") == "0", None).otherwise(F.col("n_chars"))
    )
    row = run_es_aggs(
        with_null, {"m": {"avg": {"field": "len2", "missing": 0}}}
    )["m"].collect()[0]
    n = with_null.count()
    s = with_null.agg(F.sum("len2")).collect()[0][0]
    assert abs(row["value"] - s / n) < 1e-6


def test_date_histogram_fixed_interval(fast):
    import datetime as dt

    from pyspark.sql import functions as F

    from quickwit_spark.search.es_aggs import (
        _fixed_interval_ms,
        run_es_aggs,
        shape_es_agg,
    )

    assert _fixed_interval_ms("30d") == 30 * 86_400_000
    assert _fixed_interval_ms("90m") == 90 * 60_000
    assert _fixed_interval_ms("-4d") == -4 * 86_400_000
    assert _fixed_interval_ms("1000ms") == 1000
    with pytest.raises(ValueError):
        _fixed_interval_ms("1.5h")

    clause = {"date_histogram": {"field": "warc_ts", "fixed_interval": "7d"}}
    r = run_es_aggs(fast, {"d": clause})["d"]
    rows = r.collect()
    # keys sit on the 7-day epoch grid and partition all docs
    for row in rows:
        ms = int(row["key"].timestamp() * 1000)
        assert ms % (7 * 86_400_000) == 0
    assert sum(x["doc_count"] for x in rows) == fast.count()
    # wire shape: epoch-ms key + Rfc3339 key_as_string
    shaped = shape_es_agg(clause, r)
    b0 = shaped["buckets"][0]
    # the reference serializes date keys as f64 epoch millis
    assert isinstance(b0["key"], float) and b0["key_as_string"].endswith("Z")
    # hard_bounds clips VALUES by epoch-ms closed interval: min at the
    # second bucket's left edge empties the first bucket
    lo = min(x["key"] for x in shaped["buckets"])
    clause2 = {"date_histogram": {"field": "warc_ts", "fixed_interval": "7d",
                                   "hard_bounds": {"min": lo + 7 * 86_400_000,
                                                    "max": 2**62}}}
    r2 = run_es_aggs(fast, {"d": clause2})["d"].collect()
    keys2 = {int(x["key"].timestamp() * 1000)
             for x in r2}
    assert lo not in keys2 and len(keys2) == len(rows) - 1
    # offset shifts the grid
    clause3 = {"date_histogram": {"field": "warc_ts", "fixed_interval": "7d",
                                   "offset": "1d"}}
    r3 = run_es_aggs(fast, {"d": clause3})["d"].collect()
    for row in r3:
        ms = int(row["key"].timestamp() * 1000)
        assert ms % (7 * 86_400_000) == 86_400_000

def test_extended_bounds_extends_never_filters(fast):
    from pyspark.sql import functions as F

    from quickwit_spark.search.es_aggs import run_es_aggs

    lo = fast.agg(F.min("n_chars")).collect()[0][0]
    hi = fast.agg(F.max("n_chars")).collect()[0][0]
    # bounds strictly inside the data range: data buckets beyond them
    # must survive, and empty in-range buckets must appear
    r = run_es_aggs(
        fast,
        {"h": {"histogram": {"field": "n_chars", "interval": 50.0,
                              "extended_bounds": {"min": lo + 100,
                                                   "max": lo + 200}}}},
    )["h"].toPandas()
    assert r["key"].max() >= (hi // 50) * 50  # outside-bounds data kept
    assert int(r["doc_count"].sum()) == fast.count()
    keys = list(r["key"])
    assert keys == sorted(keys)
    # bounds beyond the data range: zero-count skeleton buckets appear
    r2 = run_es_aggs(
        fast,
        {"h": {"histogram": {"field": "n_chars", "interval": 50.0,
                              "extended_bounds": {"min": hi + 100,
                                                   "max": hi + 200}}}},
    )["h"].toPandas()
    empt = r2[r2["key"] > hi]
    assert len(empt) >= 2 and empt["doc_count"].sum() == 0


def test_date_histogram_extended_bounds_and_keyed(fast):
    from pyspark.sql import functions as F

    from quickwit_spark.search.es_aggs import run_es_aggs, shape_es_agg

    mx = fast.agg(F.max(F.unix_millis(F.col("warc_ts").cast("timestamp")))).collect()[0][0]
    day = 86_400_000
    clause = {
        "date_histogram": {
            "field": "warc_ts",
            "fixed_interval": "1d",
            "keyed": True,
            "extended_bounds": {"min": mx + day, "max": mx + 3 * day},
        }
    }
    df = run_es_aggs(fast, {"d": clause})["d"]
    pdf = df.toPandas()
    assert int(pdf["doc_count"].sum()) == fast.count()  # data buckets kept
    assert (pdf["doc_count"] == 0).sum() >= 3  # skeleton days past max
    shaped = shape_es_agg(clause, df)
    assert isinstance(shaped["buckets"], dict)  # keyed = hashmap shape
    some_key = next(iter(shaped["buckets"]))
    assert some_key.endswith("Z")  # date buckets keyed by key_as_string
    assert shaped["buckets"][some_key]["key"] % day == 0


def test_range_wire_shape_from_to_and_keyed(fast):
    from quickwit_spark.search.es_aggs import run_es_aggs, shape_es_agg

    clause = {
        "range": {
            "field": "n_chars",
            "keyed": True,
            "ranges": [
                {"to": 200.0, "key": "low"},
                {"from": 200.0, "to": 400.0},
                {"from": 400.0, "key": "high"},
            ],
        }
    }
    df = run_es_aggs(fast, {"r": clause})["r"]
    shaped = shape_es_agg(clause, df)
    b = shaped["buckets"]
    assert set(b) <= {"low", "200.0-400.0", "high"}
    assert "to" in b["low"] and "from" not in b["low"]
    assert b["200.0-400.0"]["from"] == 200.0 and b["200.0-400.0"]["to"] == 400.0
    assert b["high"]["from"] == 400.0 and "to" not in b["high"]
    # un-keyed: a list in declared range order
    clause2 = {k: dict(v, keyed=False) for k, v in clause.items()}
    shaped2 = shape_es_agg(clause2, run_es_aggs(fast, {"r": clause2})["r"])
    assert [x["key"] for x in shaped2["buckets"]] == ["low", "200.0-400.0", "high"]


def test_nested_null_key_never_consumes_size_slot(fast):
    """Docs whose child-level key is NULL must not occupy one of the
    child terms agg's `size` slots (they belong to no bucket)."""
    from pyspark.sql import functions as F

    from quickwit_spark.search.es_aggs import run_es_aggs

    # site3: NULL for half the docs (the most common 'value'), else 0/1/2
    with_null = fast.withColumn(
        "site3", F.when(F.col("doc_id") % 2 == 0, F.col("site"))
    )
    r = run_es_aggs(
        with_null,
        {"t": {"terms": {"field": "lang", "size": 3},
               "aggs": {"b": {"terms": {"field": "site3", "size": 2}}}}},
    )["t"].toPandas()
    # every lang bucket gets its 2 REAL site buckets — NULL took no slot
    per_parent = r.dropna(subset=["b_key"]).groupby("key")["b_key"].nunique()
    assert (per_parent == 2).all()


def test_duplicate_agg_name_rejected(fast):
    from quickwit_spark.search.es_aggs import run_es_aggs

    with pytest.raises(ValueError, match="reused"):
        run_es_aggs(
            fast,
            {"t": {"terms": {"field": "lang"},
                   "aggs": {"m": {"avg": {"field": "n_chars"}},
                            "b": {"terms": {"field": "site"},
                                  "aggs": {"m": {"sum": {"field": "n_chars"}}}}}}},
        )["t"].collect()


def test_chain_extended_bounds_rejected(fast):
    from quickwit_spark.search.es_aggs import run_es_aggs

    with pytest.raises(NotImplementedError, match="extended_bounds"):
        run_es_aggs(
            fast,
            {"h": {"histogram": {"field": "n_chars", "interval": 100.0,
                                  "extended_bounds": {"min": 0, "max": 500}},
                   "aggs": {"b": {"terms": {"field": "lang"}}}}},
        )["h"].collect()


def test_exact_percentiles_honor_missing(fast):
    from pyspark.sql import functions as F

    from quickwit_spark.search.es_aggs import run_es_aggs

    with_null = fast.withColumn(
        "len2", F.when(F.col("site") == "0", None).otherwise(F.col("n_chars"))
    )
    spec = {"field": "len2", "missing": 0, "percents": [50]}
    exact = run_es_aggs(
        with_null, {"p": {"percentiles": dict(spec, exact=True)}}
    )["p"].collect()[0]["value_p50"]
    approx = run_es_aggs(
        with_null, {"p": {"percentiles": dict(spec, parity=False)}}
    )["p"].collect()[0]["value_p50"]
    sketch = run_es_aggs(
        with_null, {"p": {"percentiles": spec}}
    )["p"].collect()[0]["value_p50"]
    # all three modes substitute 0 for NULLs: the median shifts well
    # below the NULL-excluding median; approx tracks exact closely and
    # the DDSketch-parity default is within its 1% relative guarantee
    # (rank selection may land one element off the interpolated exact)
    no_missing = run_es_aggs(
        with_null, {"p": {"percentiles": {"field": "len2", "percents": [50],
                                            "exact": True}}}
    )["p"].collect()[0]["value_p50"]
    assert exact < no_missing
    assert abs(exact - approx) <= max(2.0, 0.02 * no_missing)
    assert abs(sketch - exact) <= max(2.0, 0.05 * no_missing)


def test_es_sort_field_in_source_and_mixed_score_rejected(searcher):
    body = {
        "query": {"match_all": {}},
        "size": 5,
        "sort": [{"n_chars": "desc"}],
        "_source": ["n_chars"],
    }
    resp = searcher.es_search_response(body)
    hits = resp["hits"]["hits"]
    assert len(hits) == 5
    vals = [h["_source"]["n_chars"] for h in hits]
    assert all(v is not None for v in vals)
    assert vals == sorted(vals, reverse=True)
    with pytest.raises(NotImplementedError, match="_score"):
        searcher.es_search({"query": {"match": {"text": "spark"}},
                             "sort": [{"n_chars": "desc"}, "_score"],
                             "size": 3})


def test_split_size_terms_plan_and_error_bound(searcher):
    """`split_size` terms truncation runs per-SEGMENT (window
    partitioned by segment_id — parallel across segments, never a
    global funnel) and reports tantivy's first-excluded-count
    doc_count_error_upper_bound. A wide-enough split_size is exact:
    zero error bound and the exact path's buckets."""
    from quickwit_spark.search.es_aggs import shape_es_agg

    def run(spec):
        clause = {"terms": spec}
        df = searcher.es_search(
            {"size": 0, "aggs": {"s": {"terms": spec}}}
        )["aggregations"]["s"]
        return df, shape_es_agg(clause, df)

    df, tight = run({"field": "site", "size": 1, "split_size": 1})
    _assert_no_unpartitioned_window(df)
    assert len(tight["buckets"]) == 1
    assert tight["sum_other_doc_count"] >= 0
    _, exact = run({"field": "site", "size": 1})
    _, wide = run({"field": "site", "size": 1, "split_size": 10_000})
    assert wide["doc_count_error_upper_bound"] == 0
    assert wide["buckets"] == exact["buckets"]


# --------------------------------------------------------------------------
# lowering robustness fuzz (plan construction only — no jobs)
# --------------------------------------------------------------------------

from hypothesis import HealthCheck, example, given, settings, strategies as st  # noqa: E402

_AGG_KINDS = [
    "terms", "histogram", "date_histogram", "range", "avg", "min", "max",
    "sum", "value_count", "stats", "extended_stats", "percentiles",
    "cardinality", "nope",
]
_spec_val = st.one_of(
    st.none(), st.booleans(), st.integers(-3, 3), st.floats(-2, 2),
    st.sampled_from(["val", "lang", "missing_col", "2d", "asc", "bad", [], {}]),
)
_spec = st.dictionaries(
    st.sampled_from(
        ["field", "interval", "fixed_interval", "size", "split_size", "order",
         "ranges", "percents", "missing", "min_doc_count", "keyed", "sigma"]
    ),
    _spec_val,
    max_size=3,
)
_clause = st.deferred(
    lambda: st.dictionaries(
        st.sampled_from(_AGG_KINDS), _spec, min_size=0, max_size=2
    ).flatmap(
        lambda c: st.one_of(
            st.just(c),
            st.fixed_dictionaries(
                {**{k: st.just(v) for k, v in c.items()},
                 "aggs": st.dictionaries(st.just("sub"), _clause, max_size=1)}
            ),
        )
    )
)


@settings(
    max_examples=60, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(aggs=st.dictionaries(st.sampled_from(["a", "b"]), _clause, max_size=2))
@example(aggs={"a": {"histogram": {"field": "lang", "interval": 1}}})
@example(aggs={"a": {"date_histogram": {"field": "lang"}}})
def test_aggs_lowering_never_escapes(spark, aggs):
    """run_es_aggs on arbitrary agg bodies either builds plans or raises
    within the wire layer's 400 tuple — unknown fields, bad intervals
    and malformed ranges must never reach Spark as AnalysisException /
    ArithmeticException 500s."""
    from quickwit_spark.search.es_aggs import run_es_aggs

    df = spark.createDataFrame([(1, "a", 2.0)], ["doc_id", "lang", "val"])
    try:
        out = run_es_aggs(df, aggs)
    except (ValueError, TypeError, KeyError, NotImplementedError):
        return
    assert isinstance(out, dict)


@pytest.mark.parametrize(
    "aggs",
    [
        {"a": {"histogram": {"field": "lang", "interval": 1}}},
        {"a": {"date_histogram": {"field": "lang", "fixed_interval": "1d"}}},
        {"a": {"terms": {"field": "val"},
               "aggs": {"sub": {"histogram": {"field": "lang", "interval": 2}}}}},
    ],
)
def test_histogram_on_string_field_is_a_400(spark, aggs):
    """A (date_)histogram over a string column raises ValueError (the
    wire layer's 400), not CAST_INVALID_INPUT inside the Spark job —
    the first example pins the fuzz case of
    `test_aggs_lowering_never_escapes` that used to escape."""
    from quickwit_spark.search.es_aggs import run_es_aggs

    df = spark.createDataFrame([(1, "a", 2.0)], ["doc_id", "lang", "val"])
    with pytest.raises(ValueError, match="string"):
        run_es_aggs(df, aggs)


def test_percentiles_fractional_negative_values(spark):
    """DDSketch parity decode: fractional negatives (|v| < 1) encode to
    codes just ABOVE the negative-store base; the decode branch must
    classify every code < the zero-store marker as negative — the old
    `k <= _NEG` test sent them to the positive store, which decoded
    them all to 0.0."""
    from quickwit_spark.search.es_aggs import run_es_aggs, shape_es_agg

    df = spark.createDataFrame([(v,) for v in [-0.5, -0.5, -0.5]], "x double")
    body = {"p": {"percentiles": {"field": "x"}}}
    vals = shape_es_agg(body["p"], run_es_aggs(df, body)["p"])["values"]
    for v in vals.values():
        assert abs(v - (-0.5)) / 0.5 < 0.011  # sketch's 1% guarantee
    # mixed magnitudes stay monotone and sign-correct
    df2 = spark.createDataFrame(
        [(v,) for v in [-123.0, -0.9, -0.001, 0.0, 0.5, 42.0]], "x double"
    )
    vals2 = shape_es_agg(body["p"], run_es_aggs(df2, body)["p"])["values"]
    seq = [vals2[k] for k in sorted(vals2, key=float)]
    assert seq == sorted(seq)
    # p1 → rank 0 (the sketch's ⌊q·(n−1)⌋ rule) = the most negative
    # value; p99 over 6 values indexes element 4 = 0.5
    assert seq[0] < -100 and abs(seq[-1] - 0.5) < 0.01


def test_histogram_grid_keys_join_exactly(spark):
    """min_doc_count=0 gap filling joins grid keys against data keys:
    with interval 0.1 the two must be computed with the same float
    expression shape or the full join emits DUPLICATE buckets one ulp
    apart (0.9000000000000001 vs 0.9000000000000002)."""
    from quickwit_spark.search.es_aggs import run_es_aggs, shape_es_agg

    df = spark.createDataFrame([(0.7,), (0.95,)], "x double")
    body = {"h": {"histogram": {"field": "x", "interval": 0.1}}}
    buckets = shape_es_agg(body["h"], run_es_aggs(df, body)["h"])["buckets"]
    keys = [b["key"] for b in buckets]
    assert len(keys) == len(set(keys)), f"duplicate bucket keys: {keys}"
    # f64 grid indices: floor(0.7/0.1) = 6 (= tantivy's f64 floor too),
    # floor(0.95/0.1) = 9 → four buckets 6..9, the middle two empty
    assert len(buckets) == 4
    assert [b["doc_count"] for b in buckets] == [1, 0, 0, 1]
    # consecutive keys differ by exactly one grid step
    idxs = [round(k / 0.1) for k in keys]
    assert idxs == [6, 7, 8, 9]


def test_agg_validation_errors_are_400s(spark):
    """Agg-body shapes that previously escaped as AnalysisException /
    AttributeError 500s must raise ValueError (mapped to 400)."""
    from quickwit_spark.search.es_aggs import run_es_aggs

    df = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(9)], "k bigint, x double"
    )
    # ES one-element list order form is LEGAL
    out = run_es_aggs(
        df, {"t": {"terms": {"field": "k", "order": [{"_count": "desc"}]}}}
    )
    assert out["t"].count() == 3
    with pytest.raises(ValueError, match="order target"):
        run_es_aggs(
            df, {"t": {"terms": {"field": "k", "order": {"nope": "desc"}}}}
        ).popitem()[1].collect()
    with pytest.raises((ValueError, NotImplementedError)):
        run_es_aggs(
            df,
            {"t": {"terms": {"field": "k",
                             "order": [{"_count": "desc"}, {"_key": "asc"}]}}},
        )
    with pytest.raises(ValueError, match="percents"):
        run_es_aggs(
            df, {"p": {"percentiles": {"field": "x", "percents": [-5]}}}
        )
    with pytest.raises(ValueError, match="percents"):
        run_es_aggs(
            df, {"p": {"percentiles": {"field": "x", "percents": [150],
                                       "exact": True}}}
        )
    # a metric named like the bucket result columns collides loudly
    with pytest.raises(ValueError, match="doc_count"):
        run_es_aggs(
            df,
            {"t": {"terms": {"field": "k"},
                   "aggs": {"doc_count": {"avg": {"field": "x"}}}}},
        )
    # oversized skeleton aborts like the reference's bucket limit
    with pytest.raises(ValueError, match="too many buckets"):
        run_es_aggs(
            df, {"h": {"histogram": {"field": "x", "interval": 1e-9}}}
        ).popitem()[1].collect()


def test_nested_histogram_fills_empty_buckets(spark):
    """tantivy fills min_doc_count=0 histogram gaps PER PARENT bucket;
    the chain path used to silently omit them."""
    from quickwit_spark.search.es_aggs import run_es_aggs, shape_es_agg

    df = spark.createDataFrame(
        [("a", 0.0), ("a", 35.0), ("b", 5.0)], "cat string, x double"
    )
    body = {
        "t": {"terms": {"field": "cat"},
              "aggs": {"h": {"histogram": {"field": "x", "interval": 10}}}}
    }
    shaped = shape_es_agg(body["t"], run_es_aggs(df, body)["t"])
    by_cat = {b["key"]: b for b in shaped["buckets"]}
    a_hist = by_cat["a"]["h"]["buckets"]
    assert [b["key"] for b in a_hist] == [0.0, 10.0, 20.0, 30.0]
    assert [b["doc_count"] for b in a_hist] == [1, 0, 0, 1]
    assert [b["key"] for b in by_cat["b"]["h"]["buckets"]] == [0.0]


def test_nested_terms_carry_error_and_sum_other(spark):
    """ES reports doc_count_error_upper_bound + sum_other_doc_count on
    EVERY terms agg, nested included; truncated buckets feed
    sum_other_doc_count."""
    from quickwit_spark.search.es_aggs import run_es_aggs, shape_es_agg

    rows = [("p", f"t{i}") for i in range(5) for _ in range(5 - i)]
    df = spark.createDataFrame(rows, "cat string, tag string")
    body = {
        "t": {"terms": {"field": "cat"},
              "aggs": {"tags": {"terms": {"field": "tag", "size": 2}}}}
    }
    shaped = shape_es_agg(body["t"], run_es_aggs(df, body)["t"])
    assert shaped["doc_count_error_upper_bound"] == 0
    assert shaped["sum_other_doc_count"] == 0
    sub = shaped["buckets"][0]["tags"]
    assert sub["doc_count_error_upper_bound"] == 0
    # kept: t0(5) + t1(4); other: t2(3)+t3(2)+t4(1) = 6
    assert [b["doc_count"] for b in sub["buckets"]] == [5, 4]
    assert sub["sum_other_doc_count"] == 6


def test_array_field_in_nested_chain_rejected(spark):
    """Arrays explode before the per-level groupBys, so parent levels
    would count one row per element — reject loudly, and keep the
    single-level behavior (each element an independent agg value,
    null arrays still eligible for `missing`)."""
    from quickwit_spark.search.es_aggs import run_es_aggs, shape_es_agg

    df = spark.createDataFrame(
        [("a", ["x", "y"]), ("b", None)],
        "cat string, tags array<string>",
    )
    with pytest.raises(NotImplementedError, match="array"):
        run_es_aggs(
            df,
            {"t": {"terms": {"field": "cat"},
                   "aggs": {"g": {"terms": {"field": "tags"}}}}},
        )
    # single-level: explode_outer keeps the null-array doc for `missing`
    shaped = shape_es_agg(
        {"terms": {"field": "tags", "missing": "none"}},
        run_es_aggs(
            df, {"t": {"terms": {"field": "tags", "missing": "none"}}}
        )["t"],
    )
    assert {b["key"]: b["doc_count"] for b in shaped["buckets"]} == {
        "x": 1, "y": 1, "none": 1,
    }


def test_scroll_registry_ttl_eviction(spark, searcher):
    """Abandoned scrolls must expire: the registry evicts by TTL like
    the reference's scroll_context KV."""
    import time as _time

    from quickwit_spark.search import scroll as sc

    ctx = sc.ScrollContext(searcher, "table", page_size=5)
    sc.create_scroll(ctx, ttl_secs=1)
    assert sc.fetch_scroll(ctx.scroll_id, ttl_secs=1) is ctx
    deadline = sc._DEADLINES[ctx.scroll_id]
    assert deadline > _time.monotonic()
    # force expiry without sleeping
    sc._DEADLINES[ctx.scroll_id] = _time.monotonic() - 1
    with pytest.raises(KeyError):
        sc.fetch_scroll(ctx.scroll_id)
    assert ctx.scroll_id not in sc._REGISTRY
