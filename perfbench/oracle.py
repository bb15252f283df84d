"""DuckDB answers for the generated corpus.

Match sets come from one `toks(doc_id, term)` table built with
`string_split(text, ' ')`, the same token stream the engine's `default`
tokenizer produces on these lowercase space-joined words. Top-k BM25
follows the engine's oracle scoring mode (f64, exact document lengths,
global statistics): the `_bm25_sql` formula of the repository's gate
file, restated here so the benchmark imports nothing outside its own
files and the engine package.
"""

from __future__ import annotations

from collections import Counter

import duckdb
import numpy as np

from perfbench.corpus import Corpus, Query


def _quote(t: str) -> str:
    return "'" + t.replace("'", "''") + "'"


class Oracle:
    def __init__(self, corpus: Corpus, tmp_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(f"SET temp_directory = {_quote(tmp_dir)}")
        self.con.register("docs", corpus.table)
        self.con.execute(
            "CREATE TABLE toks AS SELECT DISTINCT doc_id, term FROM ("
            " SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM docs"
            ") WHERE term <> '' ORDER BY term"
        )

    def close(self) -> None:
        self.con.close()

    def _pred(self, q: Query) -> str:
        def having(terms):
            return (
                "doc_id IN (SELECT doc_id FROM toks WHERE term IN ("
                + ", ".join(_quote(t) for t in terms)
                + "))"
            )

        conds = [having([t]) for t in q.must]
        if q.should:
            conds.append(having(q.should))
        conds += ["NOT " + having([t]) for t in q.must_not]
        if q.ts_range is not None:
            lo, hi = q.ts_range
            conds.append(f"epoch_us(warc_ts) >= {lo} AND epoch_us(warc_ts) < {hi}")
        if q.prefix is not None:
            conds.append(
                "doc_id IN (SELECT doc_id FROM toks WHERE starts_with(term, "
                + _quote(q.prefix)
                + "))"
            )
        return " AND ".join(conds) if conds else "TRUE"

    def matches(self, q: Query) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids ascending, their langs) of every matching doc."""
        tbl = self.con.execute(
            f"SELECT doc_id, lang FROM docs WHERE {self._pred(q)} ORDER BY doc_id"
        ).arrow()
        return (
            tbl.column("doc_id").to_numpy(),
            np.array(tbl.column("lang").to_pylist(), dtype=object),
        )

    def bm25_topk(self, q: Query, max_doc: int, k: int = 10) -> list[tuple[int, float]]:
        """Oracle-mode top-k (doc_id, score) over docs with doc_id <
        `max_doc`: the must/should terms score, must_not excludes."""
        scoring = list(dict.fromkeys(q.must + q.should))
        corpus = f"(SELECT * FROM docs WHERE doc_id < {int(max_doc)})"
        pred = "term IN (" + ", ".join(_quote(t) for t in scoring) + ")"
        conds = [
            f"doc_id IN (SELECT doc_id FROM toks WHERE term = {_quote(t)})"
            for t in q.must
        ] + [
            f"doc_id NOT IN (SELECT doc_id FROM toks WHERE term = {_quote(t)})"
            for t in q.must_not
        ]
        having = " AND ".join(conds) if conds else "TRUE"
        sql = f"""
WITH toks_all AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {corpus} AS c
),
toks_c AS (SELECT doc_id, term FROM toks_all WHERE term <> ''),
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM toks_c GROUP BY doc_id),
stats AS (
  SELECT CAST((SELECT COUNT(*) FROM {corpus} AS c) AS DOUBLE) AS n,
         CAST((SELECT COUNT(*) FROM toks_c) AS DOUBLE) AS total
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks_c WHERE {pred} GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM toks_c WHERE {pred} GROUP BY term
),
contrib AS (
  SELECT tf.doc_id,
         ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5)) * 2.2
           * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (s.total / s.n))) AS sc
  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
),
scored AS (
  SELECT doc_id, ROUND(SUM(sc), 9) AS s9 FROM contrib
  WHERE {having} GROUP BY doc_id
)
SELECT doc_id, s9 FROM scored ORDER BY s9 DESC, doc_id DESC LIMIT {int(k)}
"""
        return [(int(d), float(s)) for d, s in self.con.execute(sql).fetchall()]


class Answer:
    """Expected response of one query, optionally restricted to the
    docs committed so far (doc_id < `max_doc`)."""

    def __init__(self, ids: np.ndarray, langs: np.ndarray):
        self.ids = ids
        self.langs = langs

    def check(self, q: Query, resp: dict, max_doc: int | None = None) -> str | None:
        """None when `resp` is right, else what is wrong."""
        n = len(self.ids) if max_doc is None else int(np.searchsorted(self.ids, max_doc))
        total = resp.get("hits", {}).get("total", {})
        if total.get("value") != n or total.get("relation") != "eq":
            return f"total {total} != {n}"
        hits = resp["hits"]["hits"]
        if len(hits) != min(q.body["size"], n):
            return f"{len(hits)} hits for {n} matches"
        got = np.array([int(h["_id"]) for h in hits], dtype=np.int64)
        if len(got) and not np.isin(got, self.ids[:n]).all():
            return "hit outside the match set"
        scores = [h["_score"] for h in hits]
        if any(a < b for a, b in zip(scores, scores[1:])):
            return "hits not in score order"
        if q.agg:
            want = Counter(self.langs[:n].tolist())
            exp = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
            buckets = resp.get("aggregations", {}).get("langs", {}).get("buckets")
            if [(b["key"], b["doc_count"]) for b in buckets or []] != exp:
                return f"lang buckets {buckets} != {exp}"
        return None
