"""Seeded web corpus and query mix (FIXTURES.md §1-2).

Everything here is a pure function of the seed: the same seed gives the
same rows, the same query set and the same request sequence. The engine
only ever sees the rows (as a parquet table) and the ES request bodies.

Tokens are lowercase ASCII words joined by single spaces, so the
engine's `default` tokenizer and DuckDB's `string_split(text, ' ')`
produce the same token stream — the oracle relies on that.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from statistics import NormalDist

import numpy as np
import pyarrow as pa

VOCAB_SIZE = 50_000
ZIPF_S = 1.07
ABSENT_WORDS = 64  # generated like the vocabulary, never emitted
LEN_BLOCK = 10  # docs per length stratum; an ingest batch is one block
LANGS = ("en", "de", "fr", "zh", "und")
LANG_P = (0.8, 0.05, 0.05, 0.05, 0.05)
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
WINDOW_S = 30 * 86400
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass
class Corpus:
    table: pa.Table  # doc_id, url, warc_ts, text, lang
    words: np.ndarray  # vocabulary, index = Zipf rank - 1
    absent: list[str]  # valid words that occur in no document
    doc_freq: np.ndarray  # per vocabulary word
    text_bytes: int

    @property
    def num_docs(self) -> int:
        return self.table.num_rows


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct lowercase words; the i-th has 3 + i % 7 letters, so
    the length of a word of a given Zipf rank, and with it the text
    bytes per token, is the same on every seed."""
    out: list[str] = []
    seen: set[str] = set()
    for i in range(n):
        ln = 3 + i % 7
        while True:
            w = "".join(_LETTERS[rng.integers(0, 26, size=ln)])
            if w not in seen:
                break
        seen.add(w)
        out.append(w)
    return np.array(out, dtype=object)


def block_lengths(rng: np.random.Generator, num_docs: int, median_len: int) -> np.ndarray:
    """Log-normal doc lengths (sigma 0.8, clipped to 20-2000 tokens),
    stratified: every block of LEN_BLOCK consecutive docs holds the same
    LEN_BLOCK quantiles in a seeded order. Sizes then do not depend on
    the seed, so the bytes and throughput of a small batch are the same
    on every seed; only the words and their order change."""
    z = np.array([NormalDist().inv_cdf((j + 0.5) / LEN_BLOCK) for j in range(LEN_BLOCK)])
    quantiles = np.clip(np.rint(median_len * np.exp(0.8 * z)), 20, 2000).astype(np.int64)
    blocks = -(-num_docs // LEN_BLOCK)
    lens = np.concatenate([rng.permutation(quantiles) for _ in range(blocks)])
    return lens[:num_docs]


def make_corpus(seed: int, num_docs: int, median_len: int = 40) -> Corpus:
    """`num_docs` documents with Zipfian tokens and stratified
    log-normal lengths, timestamps monotone in doc_id with jitter over
    a 30-day window, and a categorical `lang`."""
    rng = np.random.default_rng([seed, 1])
    allw = _words(rng, VOCAB_SIZE + ABSENT_WORDS)
    words, absent = allw[:VOCAB_SIZE], list(allw[VOCAB_SIZE:])
    lens = block_lengths(rng, num_docs, median_len)
    cdf = np.cumsum(np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S)
    cdf /= cdf[-1]
    ids = np.searchsorted(cdf, rng.random(int(lens.sum())), side="right")
    ids = np.minimum(ids, VOCAB_SIZE - 1)
    starts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[ids[starts[i] : starts[i + 1]]]) for i in range(num_docs)]
    doc_of = np.repeat(np.arange(num_docs, dtype=np.int64), lens)
    pairs = np.unique(doc_of * VOCAB_SIZE + ids)
    doc_freq = np.bincount(pairs % VOCAB_SIZE, minlength=VOCAB_SIZE)

    doc_id = np.arange(num_docs, dtype=np.int64)
    jitter = rng.normal(0.0, 3600.0, size=num_docs)
    secs = np.clip(doc_id * (WINDOW_S / num_docs) + jitter, 0, WINDOW_S - 1)
    ts = (np.int64(EPOCH.timestamp() * 1_000_000) + (secs * 1e6).astype(np.int64))
    lang = np.array(LANGS, dtype=object)[rng.choice(len(LANGS), size=num_docs, p=LANG_P)]
    table = pa.table(
        {
            "doc_id": pa.array(doc_id),
            "url": pa.array(
                [f"https://site{i % 1000}.example/p/{i}" for i in range(num_docs)]
            ),
            "warc_ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(lang, type=pa.string()),
        }
    )
    text_bytes = int(sum(len(t) for t in texts))
    return Corpus(table, words, absent, doc_freq, text_bytes)


# ------------------------------------------------------------ queries


@dataclass
class Query:
    """One query of the mix: an ES `_search` body plus the set algebra
    the oracle evaluates (`must` AND, `should` OR, `must_not`, an
    optional `[lo, hi)` timestamp window in epoch micros, an optional
    term prefix)."""

    name: str
    qclass: str
    body: dict
    must: list[str] = field(default_factory=list)
    should: list[str] = field(default_factory=list)
    must_not: list[str] = field(default_factory=list)
    ts_range: tuple[int, int] | None = None
    prefix: str | None = None
    agg: bool = False


QUERY_CLASSES = (
    "hot_term",
    "rare_term",
    "absent_term",
    "and2",
    "or3",
    "bool_not",
    "time_filter",
    "wildcard",
    "agg_lang",
)


def _iso(us: int) -> str:
    return (EPOCH + dt.timedelta(microseconds=us - int(EPOCH.timestamp() * 1e6))).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def make_queries(corpus: Corpus, seed: int, per_class: int = 4) -> list[Query]:
    """`per_class` queries of each class, terms drawn by document-
    frequency band: hot = the 40 most frequent words, rare = words in
    at most 0.1% of docs (at least 2), absent = words in no doc."""
    rng = np.random.default_rng([seed, 2])
    df = corpus.doc_freq
    n = corpus.num_docs
    order = np.argsort(-df, kind="stable")
    hot = [corpus.words[i] for i in order[:40]]
    mid = [corpus.words[i] for i in order[40:400]]
    rare_idx = np.nonzero((df >= 2) & (df <= max(2, n // 1000)))[0]
    if len(rare_idx) == 0:  # tiny corpora: the least frequent words present
        rare_idx = np.nonzero(df == df[df > 0].min())[0]
    rare = [corpus.words[i] for i in rare_idx]

    def pick(pool, k=1):
        return [pool[i] for i in rng.choice(len(pool), size=k, replace=False)]

    def match(text, op="or"):
        if op == "and":
            return {"match": {"text": {"query": text, "operator": "and"}}}
        return {"match": {"text": text}}

    def body(query, size=10):
        return {"query": query, "size": size, "track_total_hits": True}

    t0 = int(EPOCH.timestamp() * 1e6)
    out: list[Query] = []
    for i in range(per_class):
        (h,) = pick(hot)
        out.append(Query(f"hot_term.{i}", "hot_term", body(match(h)), should=[h]))
        (r,) = pick(rare)
        out.append(Query(f"rare_term.{i}", "rare_term", body(match(r)), should=[r]))
        a = corpus.absent[int(rng.integers(len(corpus.absent)))]
        out.append(Query(f"absent_term.{i}", "absent_term", body(match(a)), should=[a]))
        a1, a2 = pick(hot, 1) + pick(mid, 1)
        out.append(
            Query(f"and2.{i}", "and2", body(match(f"{a1} {a2}", "and")), must=[a1, a2])
        )
        o = pick(hot, 1) + pick(mid, 1) + pick(rare, 1)
        out.append(Query(f"or3.{i}", "or3", body(match(" ".join(o))), should=o))
        m, x = pick(hot, 2)
        out.append(
            Query(
                f"bool_not.{i}",
                "bool_not",
                body({"bool": {"must": [match(m)], "must_not": [match(x)]}}),
                must=[m],
                must_not=[x],
            )
        )
        (t,) = pick(mid)
        d0 = int(rng.integers(0, 25))
        lo, hi = t0 + d0 * 86400 * 10**6, t0 + (d0 + 5) * 86400 * 10**6
        rng_q = {"range": {"warc_ts": {"gte": _iso(lo), "lt": _iso(hi)}}}
        out.append(
            Query(
                f"time_filter.{i}",
                "time_filter",
                body({"bool": {"must": [match(t)], "filter": [rng_q]}}),
                must=[t],
                ts_range=(lo, hi),
            )
        )
        (w,) = pick(mid)
        p = w[:3]
        out.append(
            Query(
                f"wildcard.{i}",
                "wildcard",
                body({"wildcard": {"text": {"value": p + "*"}}}),
                prefix=p,
            )
        )
        (g,) = pick(hot)
        agg_body = body(match(g), size=0)
        agg_body["aggs"] = {"langs": {"terms": {"field": "lang"}}}
        out.append(Query(f"agg_lang.{i}", "agg_lang", agg_body, should=[g], agg=True))
    return out


# One round of the request mix: the classes with Zipfian popularity
# (s = 1) in QUERY_CLASSES order, 13 requests: the k-th class gets
# 4.24/k of 12 rounded, at least one, spread over the round. The cheap
# term classes then make most of the requests, as in a search log, and
# the median request is one of them.
ROUND = (
    "hot_term", "rare_term", "hot_term", "absent_term", "time_filter",
    "hot_term", "and2", "or3", "wildcard", "hot_term", "bool_not",
    "rare_term", "agg_lang",
)


def request_sequence(queries: list[Query], seed: int, n: int) -> list[int]:
    """Indices into `queries`: ROUND over and over, so every run of a
    given number of rounds sends the same number of requests of each
    class; within a class, Zipfian popularity (s=1) over a seeded
    permutation of its queries, so one query of each class repeats
    often and the others rarely."""
    rng = np.random.default_rng([seed, 3])
    by_class = {c: [i for i, q in enumerate(queries) if q.qclass == c] for c in QUERY_CLASSES}
    picks = {}
    for c, idx in by_class.items():
        p = 1.0 / np.arange(1, len(idx) + 1)
        perm = rng.permutation(idx)
        picks[c] = iter(perm[rng.choice(len(idx), size=n, p=p / p.sum())])
    return [int(next(picks[ROUND[i % len(ROUND)]])) for i in range(n)]
