"""Per-segment query evaluation kernel (pure numpy).

This is the leaf-search analog of the reference
(`quickwit-search/src/leaf.rs:437-560`): one segment's posting lists +
fieldnorms + stats in memory, one QueryAst, out come the matching
docids and BM25 scores (already top-k-truncated when k is given) and
the segment's exact match count (`leaf_search`).

Boolean algebra runs on dense masks over the segment's docid space
(segments are bounded — the reference targets 10M docs/split — so a
bool/float array per segment task is the vectorized equivalent of
tantivy's per-segment DocSet iteration).

Top-k with scores uses two-pass block-max pruning, the vectorized
re-expression of block-max WAND (reference runs tantivy's block_wand
when sorting by _score; SURVEY.md §4 #5):
  pass 1  per-doc score UPPER BOUND from per-128-doc-block maxima
          (scatter-add of idf*(k1+1)*block_max — no divisions)
  pass 2  exact-score the k best docs by bound → threshold θ;
          prune every doc whose bound < θ; exact-score survivors.
Docs pruned have score ≤ bound < θ ≤ final k-th score, so the result is
identical to exhaustive scoring (property-tested in tests/test_kernel.py).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field as dc_field

import numpy as np

from quickwit_spark.codec.norms import id_to_fieldnorm
from quickwit_spark.codec.postings import (
    BLOCK_SIZE,
    decode_block_metadata,
    decode_positions,
    permute_position_stream,
    decode_postings,
    varint_decode,
)
from quickwit_spark.codec.postings import block_metadata as _block_meta_blobs


def _block_meta(docids: np.ndarray, comp: np.ndarray):
    bl, bm = _block_meta_blobs(docids, comp)
    return decode_block_metadata(bl, bm)
from quickwit_spark.query.ast import (
    Bool,
    Boost,
    Exists,
    FullText,
    MatchAll,
    MatchNone,
    Phrase,
    PhrasePrefix,
    QueryAst,
    Term,
    TermSet,
)
from quickwit_spark.search.bm25 import bm25_weight, tf_component


@dataclass
class SegmentData:
    segment_id: str
    num_docs: int
    # (field, term) -> (docids u32, tfs u32, block_last u32[], block_max f32[])
    postings: dict = dc_field(default_factory=dict)
    # field -> (norm_ids u8[num_docs], exact_lens u64[num_docs])
    norms: dict = dc_field(default_factory=dict)
    # field -> {"doc_count": int, "total_tokens": int}
    stats: dict = dc_field(default_factory=dict)
    # (field, term) -> absolute token positions aligned with the
    # postings entry's (docids, tfs) spans (record: position only)
    positions: dict = dc_field(default_factory=dict)

    @staticmethod
    def from_rows(segment_id: str, rows) -> "SegmentData":
        """rows: iterable of dict-like with the builder's INV_SCHEMA columns.

        A hot term's postings may arrive as SEVERAL chunk rows (the
        merge executor splits giant posting lists so no single task ever
        holds one whole — the salted-skew contract); chunks carry
        disjoint ascending docid ranges and are concatenated here.
        Norms may likewise arrive as per-docid-range chunk rows.
        """
        seg = SegmentData(segment_id=segment_id, num_docs=0)
        post_chunks: dict = {}
        norm_chunks: dict = {}
        pos_chunks: dict = {}
        for r in rows:
            kind = r["kind"]
            if kind == "pos":
                # chunk order marker in meta (zero-padded first docid;
                # single-row build output has meta="")
                pos_chunks.setdefault((r["field"], r["term"]), []).append(
                    (r.get("meta") or "", r["payload1"], r["doc_freq"])
                )
            elif kind == "postings":
                if r.get("meta") == "bp":  # bitpacked docid deltas
                    from quickwit_spark.codec.bitpack import bitpack_decode

                    deltas = bitpack_decode(r["payload1"], r["doc_freq"])
                    docids = np.cumsum(deltas, dtype=np.uint64).astype(np.uint32)
                    tfs = varint_decode(r["payload2"], r["doc_freq"]).astype(np.uint32)
                    decoded = (docids, tfs)
                else:
                    decoded = decode_postings(
                        r["payload1"], r["payload2"], r["doc_freq"]
                    )
                chunk = (
                    *decoded,
                    np.frombuffer(r["block_last"], dtype="<u4"),
                    np.frombuffer(r["block_max"], dtype="<f4"),
                )
                post_chunks.setdefault((r["field"], r["term"]), []).append(chunk)
            elif kind == "norms":
                # chunked norms rows carry their docid-range start in the
                # (otherwise unused) term column for ordering
                norm_chunks.setdefault(r["field"], []).append(
                    (
                        r["term"],
                        np.frombuffer(r["payload1"], dtype=np.uint8),
                        varint_decode(r["payload2"], r["doc_freq"]),
                    )
                )
            elif kind == "stats":
                seg.stats[r["field"]] = json.loads(r["meta"])
        chunk_tfs: dict = {}
        chunk_order: dict = {}
        for key, chunks in post_chunks.items():
            if len(chunks) == 1:
                seg.postings[key] = chunks[0]
                chunk_tfs[key] = [chunks[0][1]]
            else:
                chunks.sort(key=lambda c: int(c[0][0]) if len(c[0]) else -1)
                docids = np.concatenate([c[0] for c in chunks])
                tfs = np.concatenate([c[1] for c in chunks])
                chunk_tfs[key] = [c[1] for c in chunks]
                # merged-segment chunks come from parallel salt tasks
                # whose docid ranges INTERLEAVE (doc_key-permutation
                # merge) — merge-sort the concatenation; remember the
                # order so the positions stream is gathered identically
                order = None
                if len(docids) > 1 and np.any(docids[1:] <= docids[:-1]):
                    order = np.argsort(docids, kind="stable")
                    docids = docids[order]
                    tfs_sorted = tfs[order]
                else:
                    tfs_sorted = tfs
                chunk_order[key] = (order, tfs)
                # chunk boundaries break the uniform 128-doc block layout
                # the WAND kernel assumes — rebuild block metadata with the
                # norm-free upper bound tf/(tf + k1*(1-b)) (always valid)
                tf32 = tfs_sorted.astype(np.float32)
                comp = tf32 / (tf32 + np.float32(1.2 * (1.0 - 0.75)))
                bl, bm = _block_meta(docids, comp)
                seg.postings[key] = (docids, tfs_sorted, bl, bm)
        for key, pchunks in pos_chunks.items():
            tf_list = chunk_tfs.get(key)
            if tf_list is None or len(pchunks) != len(tf_list):
                continue  # positions without matching postings: ignore
            pchunks.sort(key=lambda c: c[0])
            stream = np.concatenate(
                [
                    decode_positions(blob, tfs_i)
                    for (_, blob, _n), tfs_i in zip(pchunks, tf_list)
                ]
            )
            order, tfs_pre = chunk_order.get(key, (None, None))
            if order is not None:
                # permute the per-doc position slices by the same sort
                stream = permute_position_stream(stream, tfs_pre, order)
            seg.positions[key] = stream
        for fld, chunks in norm_chunks.items():
            chunks.sort(key=lambda c: c[0])
            seg.norms[fld] = (
                np.concatenate([c[1] for c in chunks]),
                np.concatenate([c[2] for c in chunks]),
            )
        if seg.stats:
            seg.num_docs = max(s["doc_count"] for s in seg.stats.values())
        elif seg.norms:
            seg.num_docs = max(len(v[0]) for v in seg.norms.values())
        return seg


class _Ctx:
    def __init__(self, seg: SegmentData, mode, global_stats, k1, b, tokenizer_for_field):
        self.seg = seg
        self.mode = mode  # "parity" (f32/quantized/segment-stats) | "oracle"
        self.global_stats = global_stats or {}
        self.k1 = k1
        self.b = b
        self.dtype = np.float32 if mode == "parity" else np.float64
        self.tokenizer_for_field = tokenizer_for_field
        self._dl_cache: dict = {}

    def field_stats(self, field: str) -> tuple[int, float]:
        """(N, avgdl) per the stats scope."""
        if self.mode == "oracle" and field in self.global_stats.get("fields", {}):
            fs = self.global_stats["fields"][field]
        else:
            fs = self.seg.stats.get(field, {"doc_count": self.seg.num_docs, "total_tokens": 0})
        n = fs["doc_count"]
        avgdl = self.dtype(fs["total_tokens"]) / self.dtype(max(n, 1))
        return n, avgdl

    def doc_freq(self, field: str, term: str, local_df: int) -> int:
        if self.mode == "oracle":
            g = self.global_stats.get("terms", {})
            if (field, term) in g:
                return g[(field, term)]
        return local_df

    def doc_lens(self, field: str) -> np.ndarray:
        key = (field, self.mode)
        if key not in self._dl_cache:
            norm_ids, exact = self.seg.norms.get(
                field, (np.zeros(self.seg.num_docs, np.uint8), np.zeros(self.seg.num_docs, np.uint64))
            )
            if self.mode == "parity":
                self._dl_cache[key] = id_to_fieldnorm(norm_ids).astype(np.float32)
            else:
                self._dl_cache[key] = exact.astype(np.float64)
        return self._dl_cache[key]


def _tf_comp(ctx: _Ctx, tfs, dl, avgdl):
    """tf normalization honoring the index's configured (k1, b)."""
    if (ctx.k1, ctx.b) == (1.2, 0.75):
        return tf_component(tfs, dl, avgdl, ctx.dtype)
    tf = tfs.astype(ctx.dtype)
    norm = ctx.dtype(ctx.k1) * (
        ctx.dtype(1.0 - ctx.b) + ctx.dtype(ctx.b) * dl.astype(ctx.dtype) / avgdl
    )
    return tf / (tf + norm)


def _term_scores(ctx: _Ctx, field: str, term: str, boost: float):
    """(docids, scores) of one term, or (empty, empty)."""
    entry = ctx.seg.postings.get((field, term))
    if entry is None:
        e = np.zeros(0, np.uint32)
        return e, np.zeros(0, ctx.dtype)
    docids, tfs, _, _ = entry
    n, avgdl = ctx.field_stats(field)
    df = ctx.doc_freq(field, term, len(docids))
    w = bm25_weight(df, n, boost, ctx.dtype, k1=ctx.k1)
    dl = ctx.doc_lens(field)[docids]
    tc = _tf_comp(ctx, tfs, dl, avgdl)
    return docids, (w * tc).astype(ctx.dtype)


def _leaf_terms(ctx: _Ctx, node: QueryAst) -> tuple[list[tuple[str, str]], str, float]:
    """(terms, operator) for term-bearing leaves."""
    if isinstance(node, Term):
        return [(node.field, node.value)], "or", 1.0
    if isinstance(node, TermSet):
        return [(node.field, v) for v in node.values], "or", 1.0
    if isinstance(node, FullText):
        toks = ctx.tokenizer_for_field(node.field)(node.text)
        return [(node.field, t) for t in toks], node.operator, 1.0
    raise TypeError(node)


def _eval(ctx: _Ctx, node: QueryAst, boost: float):
    """→ (mask bool[N], scores dtype[N]) — scores only valid where mask."""
    N = ctx.seg.num_docs
    if isinstance(node, MatchAll):
        return np.ones(N, bool), np.zeros(N, ctx.dtype)
    if isinstance(node, MatchNone):
        return np.zeros(N, bool), np.zeros(N, ctx.dtype)
    if isinstance(node, Boost):
        return _eval(ctx, node.query, boost * node.boost)
    if isinstance(node, (Term, TermSet, FullText)):
        terms, op, _ = _leaf_terms(ctx, node)
        if not terms:
            if isinstance(node, FullText) and node.zero_terms_match_all:
                return np.ones(N, bool), np.zeros(N, ctx.dtype)
            return np.zeros(N, bool), np.zeros(N, ctx.dtype)
        scores = np.zeros(N, ctx.dtype)
        counts = np.zeros(N, np.int32)
        for f, t in terms:
            docids, s = _term_scores(ctx, f, t, boost)
            np.add.at(scores, docids, s)
            counts[docids] += 1
        mask = counts >= (len(terms) if op == "and" else 1)
        return mask, scores
    if isinstance(node, (Phrase, PhrasePrefix)):
        return _eval_phrase(ctx, node, boost)
    if isinstance(node, Exists):
        # presence derived from the fieldnorms row (reference
        # `FieldPresence` answers from an index-side presence structure):
        # a doc "has" the field iff it produced ≥1 token — null and
        # empty-string collapse together, which the doc mapping also
        # conflates. Unknown fields match nothing.
        ent = ctx.seg.norms.get(node.field)
        if ent is None:
            return np.zeros(N, bool), np.zeros(N, ctx.dtype)
        norm_ids, exact = ent
        mask = exact > 0 if len(exact) == N else norm_ids > 0
        return np.asarray(mask, bool), np.zeros(N, ctx.dtype)
    if isinstance(node, Bool):
        mask = None
        scores = np.zeros(N, ctx.dtype)
        for cl in node.must:
            m, s = _eval(ctx, cl, boost)
            scores += s
            mask = m if mask is None else (mask & m)
        for cl in node.filter:
            m, _ = _eval(ctx, cl, boost)
            mask = m if mask is None else (mask & m)
        if node.should:
            smask = np.zeros(N, bool)
            scount = np.zeros(N, np.int32)
            for cl in node.should:
                m, s = _eval(ctx, cl, boost)
                scores += np.where(m, s, 0)
                smask |= m
                scount += m
            msm = node.minimum_should_match
            if mask is None:  # pure disjunction
                mask = (scount >= msm) if msm else smask
            elif msm:
                mask &= scount >= msm
        if mask is None:
            # a must_not-only bool is anchored on match-all (everything
            # EXCEPT the negated set — ES/reference semantics); a bool
            # with no clauses at all matches nothing
            mask = np.ones(N, bool) if node.must_not else np.zeros(N, bool)
        for cl in node.must_not:
            m, _ = _eval(ctx, cl, 0.0)
            mask = mask & ~m
        return mask, scores
    raise NotImplementedError(f"unsupported node {type(node).__name__}")


_POS_BITS = np.uint64(32)  # doc-index << 32 | position — globally unique


def _cand_glob_positions(entry, cand: np.ndarray) -> np.ndarray:
    """Concatenated positions of `cand` docs as doc-globalized values
    (cand-index << 32 | position), ascending. Candidates absent from the
    entry's posting list (possible for PhrasePrefix expansion terms)
    contribute nothing. Pure vector ops — the variable-length slice
    gather is the standard repeat/cumsum trick."""
    d, tfs, pos = entry
    if len(d) == 0 or len(cand) == 0:
        return np.zeros(0, np.uint64)
    ends = np.cumsum(tfs.astype(np.int64))
    idx = np.minimum(np.searchsorted(d, cand), len(d) - 1)
    member = d[idx] == cand
    lens = np.where(member, tfs[idx].astype(np.int64), 0)
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, np.uint64)
    out_starts = np.cumsum(lens) - lens
    src_starts = ends[idx] - tfs[idx].astype(np.int64)
    flat = (
        np.arange(total, dtype=np.int64)
        - np.repeat(out_starts, lens)
        + np.repeat(src_starts, lens)
    )
    doc_ix = np.repeat(np.arange(len(cand), dtype=np.uint64), lens)
    return (doc_ix << _POS_BITS) | pos[flat]


def intersect_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """intersect1d for sorted-unique uint64 arrays without the re-sort
    np.intersect1d would do."""
    if len(a) == 0 or len(b) == 0:
        return np.zeros(0, np.uint64)
    if len(a) > len(b):
        a, b = b, a
    idx = np.searchsorted(b, a)
    idx[idx == len(b)] = len(b) - 1
    return a[b[idx] == a]


def _merge_sorted_unique(arrays: list[np.ndarray]) -> np.ndarray:
    arrays = [a for a in arrays if len(a)]
    if not arrays:
        return np.zeros(0, np.uint64)
    if len(arrays) == 1:
        return arrays[0]
    out = np.concatenate(arrays)
    out.sort()
    return out


def _eval_phrase(ctx: _Ctx, node, boost: float):
    """Phrase / PhrasePrefix match with phrase-frequency BM25 scoring:
    tf(doc) = #phrase occurrences (slop>0: #chain-surviving last-term
    positions), df = #matching docs — the reference's positional
    PhraseQuery semantics. PhrasePrefix replaces the last term by the
    union of its dictionary `expansions` (resolved by the engine,
    capped at max_expansions like `phrase_prefix_query.rs:66-93`)."""
    N = ctx.seg.num_docs
    toks = ctx.tokenizer_for_field(node.field)(node.text)
    empty = (np.zeros(N, bool), np.zeros(N, ctx.dtype))
    if not toks:
        return empty
    is_prefix = isinstance(node, PhrasePrefix)
    slop = 0 if is_prefix else node.slop
    fixed = toks[:-1]
    last_terms = tuple(node.expansions or ()) if is_prefix else toks[-1:]
    if is_prefix and not last_terms:
        return empty

    def entry_for(t):
        e = ctx.seg.postings.get((node.field, t))
        if e is None:
            return None
        p = ctx.seg.positions.get((node.field, t))
        if p is None:
            raise NotImplementedError(
                f"phrase query on {node.field!r} requires record: position"
            )
        return (e[0], e[1], p)

    entries = []
    for t in fixed:
        e = entry_for(t)
        if e is None:
            return empty
        entries.append(e)
    last_pairs = [
        (t, e) for t, e in ((t, entry_for(t)) for t in last_terms) if e is not None
    ]
    last_entries = [e for _, e in last_pairs]
    if not last_entries:
        return empty

    if len(fixed) == 0 and len(last_entries) == 1 and not is_prefix:
        # single-term phrase behaves like a term query (same df source
        # and k1/b handling as _term_scores — oracle mode stays
        # partition-invariant via the global doc_freq)
        docids, tfs, _ = last_entries[0]
        n, avgdl = ctx.field_stats(node.field)
        df = ctx.doc_freq(node.field, last_pairs[0][0], len(docids))
        w = bm25_weight(df, n, boost, ctx.dtype, k1=ctx.k1)
        dl = ctx.doc_lens(node.field)[docids]
        scores = np.zeros(N, ctx.dtype)
        scores[docids] = w * _tf_comp(ctx, tfs, dl, avgdl)
        mask = np.zeros(N, bool)
        mask[docids] = True
        return mask, scores

    # candidate docs = docs with ALL fixed terms and ≥1 last-term variant.
    # assume_unique is SOUND here and below only because every operand is
    # a decoded posting docid array (strictly increasing by construction:
    # cumulative positive deltas) or an np.unique output — don't reuse
    # this intersection on arrays without that invariant.
    cand = None
    for d, _, _ in entries:
        cand = d if cand is None else cand[np.isin(cand, d, assume_unique=True)]
    last_docs = (
        last_entries[0][0]
        if len(last_entries) == 1
        else np.unique(np.concatenate([e[0] for e in last_entries]))
    )
    cand = (
        last_docs
        if cand is None
        else cand[np.isin(cand, last_docs, assume_unique=True)]
    )
    if cand is None or len(cand) == 0:
        return empty
    # last position stream = union of the expansion terms' positions
    last_glob = _merge_sorted_unique(
        [_cand_glob_positions(e, cand) for e in last_entries]
    )
    chain = [*( _cand_glob_positions(e, cand) for e in entries ), last_glob]
    counts = _phrase_counts_glob(chain, cand, slop)
    hit = counts > 0
    docids = cand[hit].astype(np.uint32)
    mask = np.zeros(N, bool)
    scores = np.zeros(N, ctx.dtype)
    if len(docids):
        n, avgdl = ctx.field_stats(node.field)
        # parity: phrase-df = this segment's matching docs (tantivy's
        # per-segment PhraseWeight). oracle: that count depends on the
        # partitioning, so use the rarest component term's GLOBAL df as
        # a deterministic bound — partition-invariant like Term scoring.
        if ctx.mode == "oracle":
            dfs = [
                ctx.doc_freq(node.field, t, len(e[0]))
                for t, e in [*zip(fixed, entries), *last_pairs]
            ]
            df = min(dfs) if dfs else len(docids)
        else:
            df = len(docids)
        w = bm25_weight(df, n, boost, ctx.dtype, k1=ctx.k1)
        dl = ctx.doc_lens(node.field)[docids]
        mask[docids] = True
        scores[docids] = w * _tf_comp(ctx, counts[hit], dl, avgdl)
    return mask, scores


def _phrase_counts_glob(glob: list[np.ndarray], cand, slop: int) -> np.ndarray:
    """Per-candidate-doc phrase frequency over pre-globalized position
    streams, fully vectorized across docs.

    slop=0 — exact adjacency: chain left→right by intersecting
    (positions-so-far + 1) with the next term's positions over the
    doc-globalized streams (doc offsets make the concatenated arrays
    globally sorted + unique, so ONE sorted-merge intersection per
    phrase term covers every candidate doc at once — no per-doc loop).

    slop>0 — sloppy chain (the Lucene/tantivy convention: consecutive
    terms' offset-adjusted positions may differ by ≤ slop, so a
    transposition costs 2): forward DP keeping the set of term-i
    positions reachable from term i-1 within the slop window, via two
    searchsorted probes per step. Count = surviving last-term positions.
    """
    nterms = len(glob)
    shift = np.uint64(slop + nterms + 1)
    if slop == 0:
        cur = glob[0] + np.uint64(1)
        for i in range(1, nterms):
            cur = intersect_sorted(cur, glob[i]) + np.uint64(1)
            if len(cur) == 0:
                break
    else:
        cur = glob[0] + shift
        for i in range(1, nterms):
            b = glob[i] + shift - np.uint64(i)
            if len(cur) == 0 or len(b) == 0:
                cur = np.zeros(0, np.uint64)
                break
            s = np.uint64(slop)
            lo = np.searchsorted(cur, b - s, side="left")
            hi = np.searchsorted(cur, b + s, side="right")
            cur = b[hi > lo]  # ∃ prev-adjusted within [b−slop, b+slop]
    if len(cur) == 0:
        return np.zeros(len(cand), np.int64)
    return np.bincount(
        (cur >> _POS_BITS).astype(np.int64), minlength=len(cand)
    ).astype(np.int64)


def _wand_candidates(ctx: _Ctx, terms, k: int):
    """Two-pass block-max pruning for a pure disjunction (parity mode).

    Returns (docids, exact_scores, num_hits): the docids are a SUPERSET
    of the true top-k, num_hits the exact number of matching docs (every
    doc in some posting list, counted before pruning).
    """
    N = ctx.seg.num_docs
    ub = np.zeros(N, np.float32)
    hit = np.zeros(N, bool)
    per_term = []
    for f, t in terms:
        entry = ctx.seg.postings.get((f, t))
        if entry is None:
            continue
        docids, tfs, block_last, block_max = entry
        n, _ = ctx.field_stats(f)
        w = bm25_weight(len(docids), n, 1.0, np.float32, k1=ctx.k1)
        per_term.append((f, t, docids, w))
        hit[docids] = True
        # block bound per posting: expand block_max to posting granularity
        nb = len(block_max)
        reps = np.full(nb, BLOCK_SIZE, np.int64)
        if nb:
            reps[-1] = len(docids) - BLOCK_SIZE * (nb - 1)
        bounds = np.repeat(block_max * w, reps)
        np.add.at(ub, docids, bounds)
    cand = np.flatnonzero(hit)
    if len(cand) == 0:
        return np.zeros(0, np.uint32), np.zeros(0, np.float32), 0

    def exact(doc_subset_mask):
        scores = np.zeros(N, np.float32)
        for f, t, docids, _ in per_term:
            sel = doc_subset_mask[docids]
            if not sel.any():
                continue
            d, s = _term_scores(ctx, f, t, 1.0)
            np.add.at(scores, d[sel], s[sel])
        return scores

    if len(cand) <= max(4 * k, 64):
        sc = exact(hit)
        return cand.astype(np.uint32), sc[cand], len(cand)
    # pass 1: seed = top-k docs by upper bound
    seed = cand[np.argpartition(-ub[cand], k - 1)[:k]]
    seed_mask = np.zeros(N, bool)
    seed_mask[seed] = True
    seed_scores = exact(seed_mask)[seed]
    theta = np.partition(seed_scores, len(seed_scores) - k)[len(seed_scores) - k] if len(seed_scores) >= k else np.float32(0)
    # pass 2: survivors = bound >= θ (ties kept)
    surv = cand[ub[cand] >= theta]
    m = np.zeros(N, bool)
    m[surv] = True
    sc = exact(m)
    return surv.astype(np.uint32), sc[surv], len(cand)


def _is_pure_disjunction(ctx: _Ctx, node: QueryAst):
    """terms list if node is a scoring pure-OR over terms, else None."""
    try:
        if isinstance(node, (Term, TermSet)):
            terms, _, _ = _leaf_terms(ctx, node)
            return terms
        if isinstance(node, FullText) and node.operator == "or":
            terms, _, _ = _leaf_terms(ctx, node)
            return terms or None
        if isinstance(node, Bool) and node.should and not (
            node.must or node.must_not or node.filter or node.minimum_should_match
        ):
            out = []
            for cl in node.should:
                sub = _is_pure_disjunction(ctx, cl)
                if sub is None:
                    return None
                out.extend(sub)
            return out
    except (TypeError, NotImplementedError):
        return None
    return None


def topk_tiebreak(docids: np.ndarray, scores: np.ndarray, k: int | None):
    """Sort by (score desc, docid desc) and truncate — the reference's
    tie-break (`docs/internals/sorting.md:15-25`)."""
    if len(docids) == 0:
        return docids, scores
    order = np.lexsort((docids, scores))[::-1]
    if k is not None:
        order = order[:k]
    return docids[order], scores[order]


def leaf_search(
    seg: SegmentData,
    ast: QueryAst,
    tokenizer_for_field,
    k: int | None = None,
    mode: str = "parity",
    global_stats: dict | None = None,
    allowed: np.ndarray | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    use_wand: bool = True,
    score_cutoff: float | None = None,
):
    """One segment's leaf response → (docids, scores, num_hits): the
    partial hits (top-k-truncated when k is given) plus the segment's
    exact match count — the reference's `LeafSearchResponse{num_hits,
    partial_hits}` from a single collector pass (`leaf.rs:437-560`).

    num_hits counts every matching doc (after the `allowed` fast
    filter) BEFORE the `score_cutoff` and the top-k cut, so a paginated
    request still reports the query's full total.

    `score_cutoff` is the search_after pushdown: only docs with
    score ≤ cutoff are returned, and the per-segment top-k keeps ALL
    ties at exactly the cutoff (the driver still needs them for the
    cursor's doc-key comparison) plus the k best below it — so a
    paginated query stays per-segment-truncated instead of emitting
    every match."""
    ctx = _Ctx(seg, mode, global_stats, k1, b, tokenizer_for_field)
    if seg.num_docs == 0:
        return np.zeros(0, np.uint32), np.zeros(0, ctx.dtype), 0
    if (
        use_wand
        and k is not None
        and mode == "parity"
        and allowed is None
        and score_cutoff is None
        and (k1, b) == (1.2, 0.75)
    ):
        terms = _is_pure_disjunction(ctx, ast)
        if terms:
            docids, scores, num_hits = _wand_candidates(ctx, terms, k)
            return (*topk_tiebreak(docids, scores, k), num_hits)
    mask, scores = _eval(ctx, ast, 1.0)
    if allowed is not None:
        amask = np.zeros(seg.num_docs, bool)
        amask[allowed[allowed < seg.num_docs]] = True
        mask &= amask
    docids = np.flatnonzero(mask).astype(np.uint32)
    num_hits = len(docids)
    sc = scores[mask]
    if score_cutoff is not None:
        # PERMISSIVE pre-filter: the driver re-applies the exact cursor
        # predicate on rounded scores, so the kernel must never drop
        # a legitimate hit. In oracle mode the cursor was rounded with
        # Java HALF_UP while numpy rounds half-even — they can disagree
        # by 1e-9 at digit 9, so keep everything within that margin and
        # extend k by the potential ties (the slots the driver may keep).
        cut = ctx.dtype(score_cutoff)
        margin = ctx.dtype(1.1e-9) if mode == "oracle" else ctx.dtype(0.0)
        keep = sc <= cut + margin
        docids, sc = docids[keep], sc[keep]
        if k is not None:
            k = k + int((sc >= cut - margin).sum())
    return (*topk_tiebreak(docids, sc, k), num_hits)


def evaluate_segment(*args, **kwargs):
    """→ (docids, scores) for this segment (top-k-truncated when k
    given): the hits-only view of `leaf_search`, same arguments."""
    docids, scores, _num_hits = leaf_search(*args, **kwargs)
    return docids, scores
