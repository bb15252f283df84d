"""Kernel-level end-to-end (no Spark): build rows → SegmentData → evaluate.

Covers the reference's collector/scorer semantics on its own BM25
fixture (`quickwit-search/src/tests.rs:616-700`) plus WAND-vs-exhaustive
equivalence on random Zipfian corpora (FIXTURES.md §2's WAND stress).
"""

import numpy as np
import pandas as pd
import pytest

from quickwit_spark.analysis import get_tokenizer
from quickwit_spark.index.builder import FieldConfig, _build_field_rows
from quickwit_spark.query.ast import Bool, FullText, Term, TermSet
from quickwit_spark.query.parser import parse_query
from quickwit_spark.search.kernel import (
    SegmentData,
    evaluate_segment,
    leaf_search,
    topk_tiebreak,
)

TOK = lambda f: get_tokenizer("default")  # noqa: E731


def build_segment(docs: dict[str, list[str]], records: dict[str, str] | None = None):
    """docs: field -> list of texts (row-aligned)."""
    rows = []
    records = records or {}
    for fld_name, texts in docs.items():
        fld = FieldConfig(name=fld_name, record=records.get(fld_name, "freq"))
        r, _ = _build_field_rows("seg0", fld, pd.Series(texts), 1.2, 0.75)
        rows.extend(r)
    return SegmentData.from_rows("seg0", rows)


@pytest.fixture(scope="module")
def bm25_fixture_segment():
    return build_segment(
        {
            "title": ["one pad", "one", "one one"],
            "nofreq": ["two pad", "two", "two two"],
        },
        records={"nofreq": "basic"},
    )


def test_fixture_title_one(bm25_fixture_segment):
    docids, scores = evaluate_segment(
        bm25_fixture_segment, Term("title", "one"), TOK, k=10
    )
    assert list(docids) == [2, 1, 0]
    assert scores.astype(np.float32) == pytest.approx(
        np.array([0.1738279, 0.15965714, 0.12343242], np.float32), rel=1e-6
    )


def test_fixture_nofreq_two_tie(bm25_fixture_segment):
    docids, scores = evaluate_segment(
        bm25_fixture_segment, Term("nofreq", "two"), TOK, k=10
    )
    # tie at 0.12343242 broken by docid DESC → [1, 2, 0]
    assert list(docids) == [1, 2, 0]
    assert scores.astype(np.float32) == pytest.approx(
        np.array([0.15965714, 0.12343242, 0.12343242], np.float32), rel=1e-6
    )


def test_fixture_combined(bm25_fixture_segment):
    ast = Bool(should=[Term("title", "one"), Term("nofreq", "two")])
    docids, scores = evaluate_segment(bm25_fixture_segment, ast, TOK, k=10)
    assert list(docids) == [1, 2, 0]
    assert scores.astype(np.float32) == pytest.approx(
        np.array([0.31931427, 0.2972603, 0.24686484], np.float32), rel=1e-6
    )


def _zipf_corpus(n_docs=400, vocab=300, seed=11):
    rng = np.random.default_rng(seed)
    words = [f"w{i}" for i in range(vocab)]
    p = 1.0 / np.arange(1, vocab + 1) ** 1.07
    p /= p.sum()
    texts = []
    for _ in range(n_docs):
        ln = int(rng.lognormal(3.0, 0.8)) + 1
        texts.append(" ".join(rng.choice(words, size=ln, p=p)))
    return texts


@pytest.fixture(scope="module")
def zipf_segment():
    return build_segment({"text": _zipf_corpus()})


@pytest.mark.parametrize(
    "query",
    [
        FullText("text", "w0", "or"),
        FullText("text", "w0 w1 w2", "or"),
        FullText("text", "w0 w250", "or"),  # hot ∨ rare (WAND stress)
        TermSet("text", ("w1", "w7", "w100", "w299")),
        Bool(should=[Term("text", "w0"), Term("text", "w3")]),
    ],
)
def test_wand_equals_exhaustive(zipf_segment, query):
    for k in (1, 5, 10, 100):
        d1, s1 = evaluate_segment(zipf_segment, query, TOK, k=k, use_wand=True)
        d2, s2 = evaluate_segment(zipf_segment, query, TOK, k=k, use_wand=False)
        assert list(d1) == list(d2)
        assert np.allclose(s1, s2)


def test_and_semantics(zipf_segment):
    d_and, _ = evaluate_segment(
        zipf_segment, FullText("text", "w0 w1", "and"), TOK
    )
    d0, _ = evaluate_segment(zipf_segment, Term("text", "w0"), TOK)
    d1, _ = evaluate_segment(zipf_segment, Term("text", "w1"), TOK)
    assert set(d_and.tolist()) == set(d0.tolist()) & set(d1.tolist())


def test_must_not(zipf_segment):
    ast = Bool(must=[Term("text", "w0")], must_not=[Term("text", "w1")])
    d, _ = evaluate_segment(zipf_segment, ast, TOK)
    d0, _ = evaluate_segment(zipf_segment, Term("text", "w0"), TOK)
    d1, _ = evaluate_segment(zipf_segment, Term("text", "w1"), TOK)
    assert set(d.tolist()) == set(d0.tolist()) - set(d1.tolist())


def test_minimum_should_match(zipf_segment):
    ast = Bool(
        should=[Term("text", "w0"), Term("text", "w1"), Term("text", "w2")],
        minimum_should_match=2,
    )
    d, _ = evaluate_segment(zipf_segment, ast, TOK)
    sets = [
        set(evaluate_segment(zipf_segment, Term("text", f"w{i}"), TOK)[0].tolist())
        for i in range(3)
    ]
    expected = {
        doc
        for doc in set().union(*sets)
        if sum(doc in s for s in sets) >= 2
    }
    assert set(d.tolist()) == expected


def test_parser_roundtrip_and_eval(zipf_segment):
    ast = parse_query("w0 AND w1", default_fields=["text"])
    d, _ = evaluate_segment(zipf_segment, ast, TOK)
    d2, _ = evaluate_segment(zipf_segment, FullText("text", "w0 w1", "and"), TOK)
    assert set(d.tolist()) == set(d2.tolist())
    ast_or = parse_query("w0 OR w250", default_fields=["text"])
    d3, _ = evaluate_segment(zipf_segment, ast_or, TOK, k=10)
    d4, _ = evaluate_segment(zipf_segment, FullText("text", "w0 w250", "or"), TOK, k=10)
    assert list(d3) == list(d4)
    neg = parse_query("w0 -w1", default_fields=["text"])
    dn, _ = evaluate_segment(zipf_segment, neg, TOK)
    must = evaluate_segment(
        zipf_segment, Bool(must=[Term("text", "w0")], must_not=[Term("text", "w1")]), TOK
    )[0]
    assert set(dn.tolist()) == set(must.tolist())


def test_topk_tiebreak_order():
    d = np.array([5, 3, 9, 1], np.uint32)
    s = np.array([1.0, 2.0, 1.0, 2.0], np.float32)
    dd, ss = topk_tiebreak(d, s, 3)
    assert list(dd) == [3, 1, 9]  # score desc, docid desc
    assert list(ss) == [2.0, 2.0, 1.0]


def test_exists_from_norms():
    from quickwit_spark.query.ast import Exists

    seg = build_segment({"title": ["has text", "", "also here", ""]})
    d, _ = evaluate_segment(seg, Exists("title"), TOK)
    assert set(d.tolist()) == {0, 2}  # empty docs lack the field
    d2, _ = evaluate_segment(seg, Exists("missing_field"), TOK)
    assert len(d2) == 0
    # bool composition: must Exists AND term
    d3, _ = evaluate_segment(
        seg, Bool(must=[Exists("title"), Term("title", "here")]), TOK
    )
    assert set(d3.tolist()) == {2}


def test_term_count_metadata_fast_path(spark, sf_dir):
    # metadata count == kernel count (chunked or not)
    import tempfile

    from quickwit_spark.index.builder import FieldConfig, IndexConfig, build_index
    from quickwit_spark.search.engine import IndexSearcher
    from quickwit_spark.sources.corpus import web_corpus

    idx = tempfile.mkdtemp(prefix="qws_cnt_")
    cfg = IndexConfig(fields=[FieldConfig("text")], doc_key="doc_id", num_partitions=2)
    build_index(spark, web_corpus(spark, sf_dir), idx, cfg)
    s = IndexSearcher(spark, idx)
    fast = s.count(Term("text", "spark"))
    slow = s.match_docs(Term("text", "spark")).count()
    assert fast == slow > 0
    assert s.count(Term("text", "zzz_absent")) == 0


# --------------------------------------------------------------------------
# leaf count: the num_hits a top-k leaf reports is the exhaustive match count
# --------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

from quickwit_spark.codec.postings import (  # noqa: E402
    block_metadata,
    decode_positions,
    decode_postings,
    encode_positions,
    encode_postings,
)
from quickwit_spark.query.ast import Exists, MatchAll, Phrase  # noqa: E402


def _segment_rows(seed: int, n_docs: int):
    """Inverted-index rows of a seeded Zipfian segment over a 12-word
    vocabulary: a positions field (`text`) and a freq field (`tag`)."""
    rng = np.random.default_rng(seed)
    words = [f"w{i}" for i in range(12)]
    p = 1.0 / np.arange(1, 13) ** 1.07
    p /= p.sum()

    def texts(mean):
        return [
            " ".join(rng.choice(words, size=int(rng.poisson(mean)), p=p))
            for _ in range(n_docs)
        ]

    rows = []
    for fld, record, mean in (("text", "position", 6), ("tag", "freq", 2)):
        r, _ = _build_field_rows(
            "seg0", FieldConfig(fld, record=record), pd.Series(texts(mean)),
            1.2, 0.75,
        )
        rows.extend(r)
    return rows


def _chunked(rows):
    """The merge executor's layout: every posting list of ≥ 2 docs split
    into two chunk rows with INTERLEAVED docid ranges (even / odd
    positions), positions chunked alongside, block metadata rebuilt."""
    pos = {(r["field"], r["term"]): r for r in rows if r["kind"] == "pos"}
    out = [r for r in rows if r["kind"] not in ("postings", "pos")]
    for r in rows:
        if r["kind"] != "postings":
            continue
        key = (r["field"], r["term"])
        d, tf = decode_postings(r["payload1"], r["payload2"], r["doc_freq"])
        p = pos.get(key)
        if len(d) < 2:
            out.append(r)
            if p is not None:
                out.append(p)
            continue
        starts = np.concatenate([[0], np.cumsum(tf.astype(np.int64))])
        stream = decode_positions(p["payload1"], tf) if p is not None else None
        for part in (slice(0, None, 2), slice(1, None, 2)):
            cd, ctf = d[part], tf[part]
            p1, p2 = encode_postings(cd.astype(np.uint64), ctf)
            tf32 = ctf.astype(np.float32)
            bl, bm = block_metadata(cd, tf32 / (tf32 + np.float32(0.3)))
            out.append({**r, "doc_freq": len(cd), "payload1": p1,
                        "payload2": p2, "block_last": bl, "block_max": bm})
            if stream is not None:
                idx = np.arange(len(d))[part]
                cpos = np.concatenate(
                    [stream[starts[i]:starts[i + 1]] for i in idx]
                )
                out.append({**p, "doc_freq": len(cpos),
                            "payload1": encode_positions(cpos, ctf),
                            "meta": f"{int(cd[0]):020d}"})
    return out


_word = st.sampled_from([f"w{i}" for i in range(12)] + ["nope"])
_field = st.sampled_from(["text", "tag"])
_leaf = st.one_of(
    st.builds(Term, _field, _word),
    st.builds(TermSet, _field, st.lists(_word, min_size=1, max_size=3)),
    st.builds(
        FullText, _field, st.lists(_word, min_size=1, max_size=3).map(" ".join),
        st.sampled_from(["or", "and"]),
    ),
    st.builds(
        Phrase, st.just("text"),
        st.lists(_word, min_size=2, max_size=3).map(" ".join),
        st.integers(min_value=0, max_value=1),
    ),
    st.builds(Exists, _field),
    st.just(MatchAll()),
)
_query = st.recursive(
    _leaf,
    lambda c: st.builds(
        Bool,
        st.lists(c, max_size=2),
        st.lists(c, max_size=1),
        st.lists(c, max_size=3),
        st.lists(c, max_size=1),
    ),
    max_leaves=4,
)
# pure disjunctions take the block-max WAND path; draw them often
_disjunction = st.one_of(
    st.builds(TermSet, st.just("text"), st.lists(_word, min_size=1, max_size=4)),
    st.builds(
        FullText, st.just("text"),
        st.lists(_word, min_size=1, max_size=4).map(" ".join), st.just("or"),
    ),
    st.builds(Bool, should=st.lists(st.builds(Term, st.just("text"), _word),
                                     min_size=1, max_size=3)),
)


@settings(max_examples=120, deadline=None)
@given(
    seed=st.integers(0, 2**16),
    n_docs=st.sampled_from([7, 90, 300]),
    chunked=st.booleans(),
    query=st.one_of(_disjunction, _query),
    k=st.sampled_from([1, 3, 10]),
    path=st.sampled_from(["wand", "exhaustive", "allowed", "cutoff", "oracle"]),
    cut_rank=st.integers(min_value=0, max_value=5),
)
def test_leaf_count_equals_match_count(seed, n_docs, chunked, query, k, path,
                                       cut_rank):
    """leaf_search's num_hits == len(evaluate_segment(..., k=None)[0])
    on the WAND path, the exhaustive path, the `allowed` fast-filter
    path, the `score_cutoff` (search_after) path and oracle mode, on
    plain and chunked (merged-segment) postings."""
    rows = _segment_rows(seed, n_docs)
    seg = SegmentData.from_rows("seg0", _chunked(rows) if chunked else rows)
    kw: dict = {}
    if path == "exhaustive":
        kw["use_wand"] = False
    elif path == "allowed":
        kw["allowed"] = np.arange(0, n_docs + 5, 3, dtype=np.int64)
    elif path == "oracle":
        kw["mode"] = "oracle"
    full, scores = evaluate_segment(seg, query, TOK, k=None, **kw)
    if path == "cutoff" and len(full):
        kw["score_cutoff"] = float(
            np.sort(scores)[::-1][min(cut_rank, len(full) - 1)]
        )
    docids, _s, num_hits = leaf_search(seg, query, TOK, k=k, **kw)
    assert num_hits == len(full), (query, path)
    assert len(docids) <= len(full)
    # the hits are the same leaf's top-k view
    assert list(docids) == list(evaluate_segment(seg, query, TOK, k=k, **kw)[0])


def test_leaf_count_wand_path_is_exercised():
    """The WAND branch reports the union of the posting lists even when
    block-max pruning drops candidates from the partial hits."""
    seg = SegmentData.from_rows("seg0", _segment_rows(5, 300))
    q = FullText("text", "w0 w1 w11", "or")
    docids, _s, num_hits = leaf_search(seg, q, TOK, k=1)
    union = set()
    for w in ("w0", "w1", "w11"):
        union |= set(seg.postings[("text", w)][0].tolist())
    assert num_hits == len(union) > 64  # > max(4k, 64): pruning ran
    assert len(docids) == 1
