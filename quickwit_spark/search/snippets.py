"""Fetch-phase snippet generation (hit highlighting).

Re-expresses the reference's snippet step — `fetch_docs.rs:41-167`
builds a per-field tantivy `SnippetGenerator` over the k fetched hits
and returns a highlighted best fragment per hit — as a plain Python
pass over the (≤ k) winner rows the top-k root fetched to the driver
(`IndexSearcher._add_snippets`). Semantics follow tantivy's documented
generator: pick the window of consecutive tokens spanning at most
`max_chars` characters whose matched-term occurrences score highest
(ties → earliest window), then wrap every matched token in that window
in ``<b>…</b>``.

This runs on the TINY side of the plan (the k winners after the global
top-k), mirroring where the reference spends this work; the corpus scan
never sees it.
"""

from __future__ import annotations

import re

_TOKEN_RE = re.compile(r"[0-9A-Za-z]+")


def snippet_for_text(
    text: str | None,
    term_scores: dict[str, float],
    max_chars: int = 150,
) -> str:
    """Best highlighted fragment of `text` for the given query terms;
    empty string when nothing matches (reference returns an empty
    snippet object in that case)."""
    if not text or not term_scores:
        return ""
    toks = [(m.start(), m.end(), m.group(0).lower()) for m in _TOKEN_RE.finditer(text)]
    if not toks:
        return ""
    scores = [term_scores.get(t, 0.0) for _, _, t in toks]
    matched_idx = [i for i, s in enumerate(scores) if s > 0.0]
    if not matched_idx:
        return ""
    # two-pointer over windows starting at a matched token (a start
    # before the first match only wastes character budget)
    best = (-1.0, 0, 0)  # (score, start_tok, end_tok_inclusive)
    j = 0
    for i in matched_idx:
        j = max(j, i)
        while j + 1 < len(toks) and toks[j + 1][1] - toks[i][0] <= max_chars:
            j += 1
        sc = sum(scores[i : j + 1])
        if sc > best[0]:
            best = (sc, i, j)
    _, lo, hi = best
    ws, we = toks[lo][0], toks[hi][1]
    out, cur = [], ws
    for s, e, t in toks[lo : hi + 1]:
        if term_scores.get(t, 0.0) > 0.0:
            out.append(text[cur:s])
            out.append(f"<b>{text[s:e]}</b>")
            cur = e
    out.append(text[cur:we])
    return "".join(out)
