"""Hierarchical segment merge — policy + distributed executor.

Policy re-implements the arithmetic of the reference's default
StableLogMergePolicy (`quickwit-indexing/src/merge_policy/
stable_log_merge_policy.rs:28-125`, defaults
`quickwit-config/src/merge_policy_config.rs:91-115`): segments are
bucketed into log-scale levels by num_docs (level 0 ends at
3×min_level_num_docs, each next level ×3), a level with ≥ merge_factor
young segments emits a merge of up to max_merge_factor of them, and a
segment with ≥ split_num_docs_target docs is MATURE and never merged
again. Merges only combine segments of the same partition_id, like the
reference's MergePlanner grouping (`merge_planner.rs:41-49`).

Executor re-expresses the reference's MergeExecutor
(`quickwit-indexing/src/actors/merge_executor.rs:230-460`: stack
directories, merge tantivy segments, re-base docids) as DataFrame jobs:

  docid re-basing   a PERMUTATION, not a shift: merged docids are
                    assigned in doc_key-ascending order (sidecar
                    parquet (segment_id, old_id, new_id), computed by
                    one distributed sort + zipWithIndex over the live
                    docmap rows). This preserves the builder invariant
                    "doc_id ascending == doc_key ascending" that the
                    kernel's per-segment top-k tie-break and the
                    engine's match-all truncation rely on — a plain
                    concat-shift breaks it whenever input segments'
                    key ranges interleave (they always do under hash
                    routing), returning wrong tied-score top-k.
  postings merge    groupBy(field, term, salt).applyInPandas — SALTED:
                    each input segment belongs to one of B buckets, so a
                    hot term (Zipfian web text!) is merged by B parallel
                    tasks, each emitting CHUNK rows; the searcher
                    merge-sorts chunks (their docid ranges interleave
                    under the permutation). No single task ever
                    materializes a full hot posting list — this is the
                    explicit skew handling the 1000-executor design
                    requires.
  block-max         recomputed with the NORM-FREE upper bound
                    tf/(tf + k1·(1−b)) under the index's configured
                    k1/b — valid (slightly looser than the builder's
                    avgdl-exact bound) since the true denominator only
                    adds the non-negative k1·b·dl/avgdl term; merged
                    per-doc lengths would need a second norms gather
  norms             one dedicated group per field gathers the dense
                    per-doc arrays through the permutation (num_docs
                    bytes per field — no skew concern) and re-chunks
  docmap            permutation lookup per row (drops doomed docs)
  commit            one manifest commit publishes the merged segment and
                    marks inputs replaced (atomic, resumable: rerunning
                    a crashed merge op overwrites its own batch
                    partition, then commits)
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from quickwit_spark.codec.postings import (
    block_metadata,
    decode_positions,
    decode_postings,
    encode_positions,
    encode_postings,
    permute_position_stream,
    varint_decode,
    varint_encode,
)
from quickwit_spark.index import manifest as mf
from quickwit_spark.index.builder import (
    INV_SCHEMA,
    KIND_NORMS,
    KIND_POS,
    KIND_POSTINGS,
    KIND_SEG,
    KIND_STATS,
    docs_path,
    read_docs,
    read_inv,
)


@dataclass
class MergePolicy:
    merge_factor: int = 10
    max_merge_factor: int = 12
    min_level_num_docs: int = 100_000
    split_num_docs_target: int = 10_000_000
    # age-based maturity (reference `maturation_period`, default 48h,
    # `merge_policy_config.rs` + index-config.md "Merge policies"):
    # a segment older than this is Mature and never merged again
    maturation_period_secs: int = 48 * 3600

    def level_of(self, num_docs: int) -> int:
        end = 3 * self.min_level_num_docs
        level = 0
        while num_docs >= end:
            end *= 3
            level += 1
        return level

    def plan(self, segments: list["mf.SegmentRecord"], now: float | None = None):
        return plan_merges(segments, self, now=now)


@dataclass
class ConstWriteAmplificationMergePolicy:
    """The reference's alternative policy
    (`quickwit-indexing/src/merge_policy/const_write_amplification.rs`,
    defaults `merge_policy_config.rs:99-101`): bound write
    amplification by capping how many times a doc is rewritten —
    merge only segments of EQUAL merge generation, and a segment that
    has been through `max_merge_ops` merges is final."""

    max_merge_ops: int = 4
    merge_factor: int = 10
    max_merge_factor: int = 12
    split_num_docs_target: int = 10_000_000
    maturation_period_secs: int = 48 * 3600

    def plan(
        self, segments: list[mf.SegmentRecord], now: float | None = None
    ) -> list["MergeOp"]:
        ops: list[MergeOp] = []
        groups: dict[tuple[int, int], list[mf.SegmentRecord]] = {}
        for s in segments:
            if s.merge_gen >= self.max_merge_ops:
                continue
            if s.num_docs >= self.split_num_docs_target:
                continue
            if _age_mature(s, self.maturation_period_secs, now):
                continue
            groups.setdefault(
                (s.partition_id, s.merge_gen, s.doc_mapping_uid), []
            ).append(s)
        for (pid, gen, dmu), group in sorted(groups.items()):
            group.sort(key=lambda s: s.segment_id)
            while len(group) >= self.merge_factor:
                take = group[: self.max_merge_factor]
                group = group[len(take) :]
                op_id = f"cw{gen + 1}-p{pid:05d}-{take[0].segment_id}"
                ops.append(
                    MergeOp(
                        op_id,
                        [s.segment_id for s in take],
                        pid,
                        gen + 1,
                        doc_mapping_uid=dmu,
                    )
                )
        return ops


@dataclass
class NopMergePolicy:
    """The reference's `no_merge` policy
    (`quickwit-indexing/src/merge_policy/nop_merge_policy.rs`,
    index-config.md "No merge"): merging entirely disabled — every
    split is Mature from birth."""

    def plan(
        self, segments: list[mf.SegmentRecord], now: float | None = None
    ) -> list["MergeOp"]:
        return []


def merge_policy_from_config(cfg: dict | None):
    """Translate a reference `indexing_settings.merge_policy` document
    (index-config.md "Merge policies") into a policy object. `None`/{} →
    the default stable_log policy; unknown `type` or parameter raises."""
    cfg = dict(cfg or {})
    kind = cfg.pop("type", "stable_log")
    period = cfg.pop("maturation_period", None)
    mat = {"maturation_period_secs": _parse_duration_secs(period)} if period else {}
    known = {
        "stable_log": (
            MergePolicy,
            {"merge_factor", "max_merge_factor", "min_level_num_docs"},
        ),
        "limit_merge": (
            ConstWriteAmplificationMergePolicy,
            {"merge_factor", "max_merge_factor", "max_merge_ops"},
        ),
        "no_merge": (NopMergePolicy, set()),
    }
    if kind not in known:
        raise ValueError(f"unknown merge policy type {kind!r}")
    cls, allowed = known[kind]
    unknown = set(cfg) - allowed
    if unknown:
        raise ValueError(
            f"unknown merge policy parameters for {kind!r}: {sorted(unknown)}"
        )
    if kind == "no_merge" and mat:
        raise ValueError("no_merge takes no maturation_period")
    return cls(**{k: int(v) for k, v in cfg.items()}, **mat)


def _parse_duration_secs(s) -> int:
    """Humantime durations like the reference's `maturation_period`
    ("48h", "30 days", "1w 2d"). `m` is minutes, `M` months."""
    import re

    units = {
        "s": 1, "sec": 1, "secs": 1, "second": 1, "seconds": 1,
        "m": 60, "min": 60, "mins": 60, "minute": 60, "minutes": 60,
        "h": 3600, "hr": 3600, "hrs": 3600, "hour": 3600, "hours": 3600,
        "d": 86400, "day": 86400, "days": 86400,
        "w": 7 * 86400, "week": 7 * 86400, "weeks": 7 * 86400,
        "M": 30 * 86400, "month": 30 * 86400, "months": 30 * 86400,
        "y": 365 * 86400, "year": 365 * 86400, "years": 365 * 86400,
    }
    text = str(s).strip()
    if not re.fullmatch(r"(?:\d+\s*[a-zA-Z]+[\s,]*)+", text):
        raise ValueError(f"invalid duration {s!r}")
    total = 0
    for n, unit in re.findall(r"(\d+)\s*([a-zA-Z]+)", text):
        key = unit if unit in units else unit.lower()
        if key not in units:
            raise ValueError(f"unknown duration unit {unit!r}")
        total += int(n) * units[key]
    if total == 0:
        raise ValueError(f"invalid duration {s!r}")
    return total


def _age_mature(
    s: mf.SegmentRecord, period_secs: int | None, now: float | None
) -> bool:
    """Reference age maturity: a split older than `maturation_period`
    is Mature (never merged). create_timestamp == 0 means a
    pre-timestamp manifest — unknown age stays Immature (conservative:
    keeps merging; the reference always knows the age)."""
    if not period_secs or not s.create_timestamp:
        return False
    if now is None:
        import time

        now = time.time()
    return now - s.create_timestamp >= period_secs


@dataclass
class MergeOp:
    op_id: str
    segment_ids: list[str]
    partition_id: int
    merge_gen: int
    # merges never mix doc-mapping generations (reference MergePartition
    # = {partition_id, doc_mapping_uid}, `merge_planner.rs:41-53`)
    doc_mapping_uid: int = 0


def plan_merges(
    segments: list[mf.SegmentRecord],
    policy: MergePolicy,
    now: float | None = None,
) -> list[MergeOp]:
    """One planning round: group young segments by (partition, level)."""
    ops: list[MergeOp] = []
    by_partition: dict[tuple[int, int], list[mf.SegmentRecord]] = {}
    for s in segments:
        if s.num_docs >= policy.split_num_docs_target:
            continue  # mature — never merged (reference maturity rule)
        if _age_mature(s, getattr(policy, "maturation_period_secs", None), now):
            continue
        # group by (partition, doc-mapping generation): splits built
        # under different doc mappings are never merged together
        # (reference MergePartition, `merge_planner.rs:41-53`)
        by_partition.setdefault(
            (s.partition_id, s.doc_mapping_uid), []
        ).append(s)
    for (pid, dmu), segs in sorted(by_partition.items()):
        levels: dict[int, list[mf.SegmentRecord]] = {}
        for s in segs:
            levels.setdefault(policy.level_of(s.num_docs), []).append(s)
        for lvl, group in sorted(levels.items()):
            group.sort(key=lambda s: s.segment_id)
            while len(group) >= policy.merge_factor:
                take = group[: policy.max_merge_factor]
                group = group[len(take) :]
                gen = max(s.merge_gen for s in take) + 1
                op_id = f"m{gen}-p{pid:05d}-l{lvl}-{take[0].segment_id}"
                ops.append(
                    MergeOp(
                        op_id,
                        [s.segment_id for s in take],
                        pid,
                        gen,
                        doc_mapping_uid=dmu,
                    )
                )
    return ops


def _load_gen_config(index_dir: str, doc_mapping_uid: int) -> dict | None:
    """The persisted index-config document for a doc-mapping
    generation, or None when missing (bare test indexes)."""
    from quickwit_spark.index.builder import config_path

    p = config_path(index_dir, doc_mapping_uid)
    if not os.path.exists(p) and doc_mapping_uid:
        p = config_path(index_dir, 0)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return None


def _merged_tags(index_dir: str, inputs: list[mf.SegmentRecord]) -> list[str]:
    """Union of the inputs' tag sets, field by field. A field's tags
    survive only if EVERY input declares the `field!` marker (an input
    without it has an unknown value set — claiming completeness would
    let pruning wrongly skip its docs) and the union stays under the
    configured cardinality cap. Deleted docs may leave stale value tags;
    that is conservative (less pruning), never incorrect."""
    cap = 1000
    # per-generation config snapshot: merging uid>=1 splits must apply
    # THAT generation's cap, not generation 0's (the builder enforces
    # the per-generation cap the same way)
    cfg_doc = _load_gen_config(
        index_dir, inputs[0].doc_mapping_uid if inputs else 0
    )
    if cfg_doc is not None:
        cap = cfg_doc.get("max_tags_per_field", 1000)
    fields = None
    for s in inputs:
        declared = {t[:-1] for t in (s.tags or []) if t.endswith("!")}
        fields = declared if fields is None else (fields & declared)
    out: list[str] = []
    for fname in sorted(fields or ()):
        vals = sorted(
            {
                t
                for s in inputs
                for t in (s.tags or [])
                if t.startswith(f"{fname}:")
            }
        )
        if len(vals) <= cap:
            out.append(f"{fname}!")
            out.extend(vals)
    return out


# merged norms are re-chunked in contiguous runs of this many docs
_NORMS_CHUNK = 1 << 20

_PERM_CACHE: dict = {}
_PERM_CACHE_MAX = 4  # sidecars are per-op scratch; cap worker memory


def load_permutation(path: str) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Executor-side lazy load of a merge's docid permutation sidecar:
    {segment_id: (old_ids sorted asc, new_ids aligned)}. Doomed docs
    are absent. Cached per python worker process like
    deletes.load_tombstones."""
    cached = _PERM_CACHE.get(path)
    if cached is not None:
        return cached
    out: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    if os.path.isdir(path):
        import pyarrow.parquet as pq

        tbl = pq.read_table(path).to_pandas()
        for sid, g in tbl.groupby("segment_id", sort=False):
            old = g["old_id"].to_numpy(np.int64)
            new = g["new_id"].to_numpy(np.int64)
            o = np.argsort(old, kind="stable")
            out[sid] = (old[o], new[o])
    _PERM_CACHE[path] = out
    while len(_PERM_CACHE) > _PERM_CACHE_MAX:
        _PERM_CACHE.pop(next(iter(_PERM_CACHE)))
    return out


def _perm_lookup(
    perm: dict, sid: str, ids: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Map original docids of `sid` through the permutation.
    → (live_mask over `ids`, new ids for the live entries)."""
    ent = perm.get(sid)
    if ent is None:
        return np.zeros(len(ids), dtype=bool), np.zeros(0, np.int64)
    old, new = ent
    pos = np.searchsorted(old, ids)
    live = (pos < len(old)) & (old[np.minimum(pos, len(old) - 1)] == ids)
    return live, new[pos[live]]


def _write_permutation(
    spark: SparkSession,
    index_dir: str,
    op_id: str,
    input_ids: list[str],
    tomb_path: str,
    doc_mapping_uid: int = 0,
) -> str:
    """Docid permutation for a merge: new_id = rank of doc_key
    ascending over the LIVE docs of all inputs (ties impossible —
    doc_key is unique; (segment_id, doc_id) appended for determinism
    anyway). One distributed range-sort + zipWithIndex over slim
    (segment_id, old_id, doc_key) rows; written as a parquet sidecar
    under the deletes compaction dir so the janitor GCs it with the
    op."""
    docs = (
        read_docs(spark, index_dir, doc_mapping_uid)
        .filter(F.col("segment_id").isin(input_ids))
        .select("segment_id", "doc_id", "doc_key")
    )
    if tomb_path:

        def drop_doomed(batches):
            from quickwit_spark.index.deletes import load_tombstones

            tomb = load_tombstones(tomb_path)
            for pdf in batches:
                parts = []
                for sid, g in pdf.groupby("segment_id", sort=False):
                    dele = tomb.get(sid)
                    if dele is not None and len(dele):
                        ids = g["doc_id"].to_numpy()
                        pos = np.searchsorted(dele, ids)
                        is_del = (pos < len(dele)) & (
                            dele[np.minimum(pos, len(dele) - 1)] == ids
                        )
                        g = g[~is_del]
                    parts.append(g)
                yield pd.concat(parts) if parts else pdf.iloc[0:0]

        docs = docs.mapInPandas(drop_doomed, docs.schema)
    ordered = docs.orderBy("doc_key", "segment_id", "doc_id")
    indexed = ordered.rdd.zipWithIndex().map(
        lambda t: (t[0]["segment_id"], int(t[0]["doc_id"]), int(t[1]))
    )
    perm_df = spark.createDataFrame(
        indexed, "segment_id string, old_id long, new_id long"
    )
    from quickwit_spark.index.deletes import COMPACT_DIR

    # unique per EXECUTION: a rerun of a crashed op writes a fresh
    # path, so a warm python worker can never serve the previous
    # attempt's permutation from its per-process cache (the arrays
    # would be inconsistent with the rerun's tombstone set)
    path = f"{index_dir}/{COMPACT_DIR}/{op_id}_perm_{uuid.uuid4().hex[:8]}"
    perm_df.write.mode("overwrite").parquet(path)
    return path


def execute_merge(
    spark: SparkSession,
    index_dir: str,
    op: MergeOp,
    num_salt_buckets: int = 4,
    chunk_target_docs: int = 1 << 20,
    apply_deletes: bool = True,
) -> mf.SegmentRecord:
    """Run one merge op and commit it (publish merged, replace inputs).

    Pending delete tombstones on the input segments are applied during
    the rewrite (reference merge-side delete application,
    `merge_executor.rs:351-510`): doomed docs are dropped, surviving
    docids COMPACT down, and the published stats reflect live docs only."""
    import time as _time

    t_start = _time.perf_counter()
    segs = {s.segment_id: s for s in mf.live_segments(index_dir)}
    inputs = [segs[sid] for sid in op.segment_ids]
    inputs.sort(key=lambda s: s.segment_id)
    new_segment_id = op.op_id

    # tombstones stay distributed: a Spark job compacts them into a
    # per-op parquet sidecar; merge tasks lazily load it executor-side
    # (deletes.load_tombstones, per-process cached). Only the per-segment
    # COUNTS reach the driver (needed for the merged num_docs).
    tomb_path = ""
    tomb_counts: dict[str, int] = {}
    corrections: dict = {}
    if apply_deletes:
        from quickwit_spark.index.deletes import (
            COMPACT_DIR,
            compact_tombstones,
            corrections_for,
        )

        # execution-unique like the permutation sidecar (stale-cache
        # safety on reruns); GC strips the suffix to find the owner op
        path = f"{index_dir}/{COMPACT_DIR}/{op.op_id}_tomb_{uuid.uuid4().hex[:8]}"
        tomb_counts = compact_tombstones(
            spark, index_dir, [s.segment_id for s in inputs], path
        )
        if tomb_counts:
            tomb_path = path
        corrections = corrections_for(index_dir, [s.segment_id for s in inputs])

    # merged live doc count — known from the manifest before any
    # executor work; docid assignment itself is the doc_key-order
    # permutation sidecar (see module docstring)
    num_docs = sum(
        s.num_docs - tomb_counts.get(s.segment_id, 0) for s in inputs
    )
    input_ids = [s.segment_id for s in inputs]
    perm_path = _write_permutation(
        spark, index_dir, op.op_id, input_ids, tomb_path, op.doc_mapping_uid
    )
    # per-stage wall seconds, stamped into the merge checkpoint like a
    # build's: the tombstone compaction and the permutation sidecar,
    # the inv and docs rewrites, and the manifest records up to the
    # commit
    t_mark = _time.perf_counter()
    stages = {"permutation": round(t_mark - t_start, 4)}

    def stage(name: str) -> None:
        nonlocal t_mark
        now = _time.perf_counter()
        stages[name] = round(now - t_mark, 4)
        t_mark = now

    field_stats: dict[str, dict] = {}
    for s in inputs:
        corr = corrections.get(s.segment_id, {})
        for fld, st in s.field_stats.items():
            agg = field_stats.setdefault(fld, {"doc_count": 0, "total_tokens": 0})
            c = corr.get(fld, {})
            agg["doc_count"] += st["doc_count"] - c.get("deleted_docs", 0)
            agg["total_tokens"] += st["total_tokens"] - c.get("deleted_tokens", 0)
    time_range = None
    ranges = [s.time_range for s in inputs if s.time_range]
    if ranges:
        time_range = [min(r[0] for r in ranges), max(r[1] for r in ranges)]

    # salt: contiguous buckets of input segments — a hot term is still
    # merged by B parallel tasks. NB: under the doc_key permutation the
    # buckets' OUTPUT chunk rows no longer cover disjoint docid ranges;
    # the readers (kernel SegmentData.from_rows, and the chunk handling
    # below for re-merges) merge-sort chunks instead of concatenating.
    buckets = {
        s.segment_id: (i * num_salt_buckets) // max(len(inputs), 1)
        for i, s in enumerate(inputs)
    }
    bucket_of = dict(buckets)
    # the index's CONFIGURED BM25 constants, not hardcoded defaults:
    # the merged block-max bound tf/(tf + k1*(1-b)) is only a valid
    # WAND upper bound under the same k1/b the kernel scores with — a
    # config with k1*(1-b) below the default's 0.3 would otherwise get
    # an under-estimating bound and WAND could prune true top-k docs
    _cfg_doc = _load_gen_config(index_dir, op.doc_mapping_uid) or {}
    k1 = float(_cfg_doc.get("k1", 1.2))
    b = float(_cfg_doc.get("b", 0.75))

    inv = read_inv(spark, index_dir).filter(F.col("segment_id").isin(input_ids))

    def merge_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        fld, term = key[0], key[1]
        pdf = pdf.sort_values("segment_id")
        perm = load_permutation(perm_path)
        # norms rows are routed to their own dedicated group per field
        # (salt = -1 in the pre-projection), because the permutation
        # scatters each input chunk across the merged docid space: the
        # whole field's norms must be gathered into ONE dense array
        # (num_docs bytes — trivially fits one task) before re-chunking
        norms_pdf = pdf[pdf["kind"] == KIND_NORMS]
        if len(norms_pdf):
            merged_ids = np.zeros(num_docs, dtype=np.uint8)
            merged_lens = np.zeros(num_docs, dtype=np.int64)
            for sid, g in norms_pdf.groupby("segment_id", sort=False):
                # reconstruct the segment's dense arrays from its
                # (possibly chunked) rows: term column = chunk start
                for _, r in g.iterrows():
                    chunk_start = int(r["term"]) if r["term"] else 0
                    ids_r = np.frombuffer(r["payload1"], dtype=np.uint8)
                    lens_r = varint_decode(r["payload2"], r["doc_freq"])
                    orig = chunk_start + np.arange(len(ids_r), dtype=np.int64)
                    live, new_ids = _perm_lookup(perm, sid, orig)
                    merged_ids[new_ids] = ids_r[live]
                    merged_lens[new_ids] = lens_r[live]
            out_rows = []
            for lo in range(0, num_docs, _NORMS_CHUNK):
                hi = min(lo + _NORMS_CHUNK, num_docs)
                out_rows.append(
                    {
                        "segment_id": new_segment_id,
                        "kind": KIND_NORMS,
                        "field": fld,
                        "term": f"{lo:020d}",
                        "doc_freq": hi - lo,
                        "payload1": merged_ids[lo:hi].tobytes(),
                        "payload2": varint_encode(merged_lens[lo:hi]),
                        "block_last": b"",
                        "block_max": b"",
                        "meta": "",
                    }
                )
            return pd.DataFrame(
                out_rows,
                columns="segment_id kind field term doc_freq payload1 payload2 block_last block_max meta".split(),
            )
        # postings (+ positions): decode each input segment's chunk rows,
        # order chunks by first docid WITHIN the segment, pair position
        # chunks 1:1 by the same order (mirrors SegmentData.from_rows),
        # apply tombstones, permute docids, concat, then ONE global
        # argsort puts the merged list in ascending docid order
        # (positions gathered by the same order), re-encode in chunks
        post_pdf = pdf[pdf["kind"] == KIND_POSTINGS]
        pos_pdf = pdf[pdf["kind"] == KIND_POS]
        have_pos = len(pos_pdf) > 0
        docs_parts, tf_parts, pos_parts = [], [], []
        for sid in sorted(post_pdf["segment_id"].unique()):
            chunks = []
            for _, r in post_pdf[post_pdf["segment_id"] == sid].iterrows():
                if r["meta"] == "bp":  # bitpacked input row
                    from quickwit_spark.codec.bitpack import bitpack_decode

                    deltas = bitpack_decode(r["payload1"], r["doc_freq"])
                    d = np.cumsum(deltas, dtype=np.uint64).astype(np.uint32)
                    t = varint_decode(r["payload2"], r["doc_freq"]).astype(
                        np.uint32
                    )
                else:
                    d, t = decode_postings(
                        r["payload1"], r["payload2"], r["doc_freq"]
                    )
                chunks.append((d.astype(np.int64), t))
            chunks.sort(key=lambda c: int(c[0][0]) if len(c[0]) else -1)
            pos_decoded = [None] * len(chunks)
            if have_pos:
                pg = pos_pdf[pos_pdf["segment_id"] == sid].sort_values("meta")
                if len(pg) != len(chunks):
                    raise ValueError(
                        f"segment {sid}: {len(pg)} position chunks vs "
                        f"{len(chunks)} posting chunks for term {term!r}"
                    )
                pos_decoded = [
                    decode_positions(blob, chunks[i][1])
                    for i, blob in enumerate(pg["payload1"])
                ]
            for (d, t), p_abs in zip(chunks, pos_decoded):
                # the permutation lookup drops doomed docids itself
                # (they're absent from the sidecar)
                live, new_d = _perm_lookup(perm, sid, d)
                if p_abs is not None:
                    p_abs = p_abs[np.repeat(live, t)]
                docs_parts.append(new_d)
                tf_parts.append(t[live])
                if p_abs is not None:
                    pos_parts.append(p_abs)
        docids = np.concatenate(docs_parts) if docs_parts else np.zeros(0, np.int64)
        tfs = np.concatenate(tf_parts) if tf_parts else np.zeros(0, np.uint32)
        pos_all = np.concatenate(pos_parts) if have_pos and pos_parts else None
        if len(docids) == 0:
            return pd.DataFrame(
                columns="segment_id kind field term doc_freq payload1 payload2 block_last block_max meta".split()
            )
        # permuted docids interleave across input segments — one stable
        # argsort restores ascending order; positions gather by the
        # same per-doc order (vectorized slice gather, no Python loop)
        order = np.argsort(docids, kind="stable")
        if pos_all is not None:
            pos_all = permute_position_stream(pos_all, tfs, order)
        docids = docids[order]
        tfs = tfs[order]
        # block-max needs merged-doc lengths: recovering them from the
        # per-doc norm ids of the inputs would cost a second gather;
        # instead use the norm-free upper bound tf/(tf + k1*(1-b)) —
        # valid (slightly looser) because the true denominator only
        # adds the non-negative k1*b*dl/avgdl term.
        tf32 = tfs.astype(np.float32)
        comp = tf32 / (tf32 + np.float32(k1) * np.float32(1.0 - b))
        rows = []
        pcs = None
        if pos_all is not None:
            pcs = np.zeros(len(tfs) + 1, dtype=np.int64)
            np.cumsum(tfs, out=pcs[1:])
        for lo in range(0, len(docids), chunk_target_docs):
            sl = slice(lo, min(lo + chunk_target_docs, len(docids)))
            p1, p2 = encode_postings(docids[sl].astype(np.uint64), tfs[sl])
            bl, bm = block_metadata(docids[sl].astype(np.uint32), comp[sl])
            rows.append(
                {
                    "segment_id": new_segment_id,
                    "kind": KIND_POSTINGS,
                    "field": fld,
                    "term": term,
                    "doc_freq": int(sl.stop - sl.start),
                    "payload1": p1,
                    "payload2": p2,
                    "block_last": bl,
                    "block_max": bm,
                    "meta": "",
                }
            )
            if pcs is not None:
                # positions chunk aligned with this docid chunk; meta
                # carries the chunk's first docid so readers re-order
                # position chunks exactly like posting chunks
                pslice = pos_all[pcs[sl.start] : pcs[sl.stop]]
                rows.append(
                    {
                        "segment_id": new_segment_id,
                        "kind": KIND_POS,
                        "field": fld,
                        "term": term,
                        "doc_freq": int(len(pslice)),
                        "payload1": encode_positions(pslice, tfs[sl]),
                        "payload2": b"",
                        "block_last": b"",
                        "block_max": b"",
                        "meta": f"{int(docids[sl.start]):020d}",
                    }
                )
        return pd.DataFrame(rows)

    salt_map = F.create_map(
        *[x for sid, bkt in bucket_of.items() for x in (F.lit(sid), F.lit(bkt))]
    )
    # norms route to one dedicated group per field (term key blanked,
    # salt -1): the permutation scatters every input chunk, so the
    # field's dense array must be assembled in one place — num_docs
    # bytes per field, no skew concern. Postings keep (term, salt).
    merged = (
        inv.filter(F.col("kind").isin([KIND_POSTINGS, KIND_NORMS, KIND_POS]))
        .withColumn(
            "_salt",
            F.when(F.col("kind") == KIND_NORMS, F.lit(-1)).otherwise(
                salt_map[F.col("segment_id")]
            ),
        )
        .withColumn(
            "_gterm",
            F.when(F.col("kind") == KIND_NORMS, F.lit("")).otherwise(
                F.col("term")
            ),
        )
        .groupBy("field", "_gterm", "_salt")
        .applyInPandas(lambda key, pdf: merge_group(key, pdf), INV_SCHEMA)
    )
    stats_rows = [
        {
            "segment_id": new_segment_id,
            "kind": KIND_STATS,
            "field": fld,
            "term": "",
            "doc_freq": st["doc_count"],
            "payload1": b"",
            "payload2": b"",
            "block_last": b"",
            "block_max": b"",
            "meta": json.dumps(st, sort_keys=True),
        }
        for fld, st in field_stats.items()
    ]
    seg_meta = {
        "num_docs": num_docs,
        "partition_id": op.partition_id,
        "field_stats": field_stats,
        "time_range": time_range,
    }
    stats_rows.append(
        {
            "segment_id": new_segment_id,
            "kind": KIND_SEG,
            "field": "",
            "term": "",
            "doc_freq": num_docs,
            "payload1": b"",
            "payload2": b"",
            "block_last": b"",
            "block_max": b"",
            "meta": json.dumps(seg_meta, sort_keys=True),
        }
    )
    meta_df = spark.createDataFrame(pd.DataFrame(stats_rows), INV_SCHEMA)
    (
        merged.unionByName(meta_df)
        .withColumn("batch_id", F.lit(op.op_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "kind")
        .parquet(f"{index_dir}/inv")
    )
    stage("inv_rewrite")

    # docmap rewrite: permutation lookup drops doomed rows and assigns
    # the doc_key-order docids; stamp the merged segment id. Merged
    # docmaps store only the typed doc columns, every batch's columns
    # (the read schema covers columns only newer batches carry)
    _ddir = docs_path(index_dir, op.doc_mapping_uid)
    docs = read_docs(spark, index_dir, op.doc_mapping_uid).filter(
        F.col("segment_id").isin(input_ids)
    )

    def remap(batches):
        from quickwit_spark.index.merge import _perm_lookup, load_permutation

        perm = load_permutation(perm_path)
        for pdf in batches:
            parts = []
            for sid, g in pdf.groupby("segment_id", sort=False):
                ids = g["doc_id"].to_numpy(np.int64)
                live, new_ids = _perm_lookup(perm, sid, ids)
                g = g[live].copy()
                g["doc_id"] = new_ids.astype(np.int32)
                parts.append(g)
            yield pd.concat(parts) if parts else pdf.iloc[0:0]

    docs = docs.mapInPandas(remap, docs.schema)
    (
        docs.withColumn("segment_id", F.lit(new_segment_id))
        .withColumn("batch_id", F.lit(op.op_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(_ddir)
    )
    stage("docs_rewrite")

    merge_secs = _time.perf_counter() - t_start
    record = mf.SegmentRecord(
        segment_id=new_segment_id,
        state=mf.PUBLISHED,
        partition_id=op.partition_id,
        num_docs=num_docs,
        field_stats=field_stats,
        lineage={"merge_inputs": [s.segment_id for s in inputs]},
        time_range=time_range,
        tags=_merged_tags(index_dir, inputs),
        merge_gen=op.merge_gen,
        doc_mapping_uid=op.doc_mapping_uid,
        # per-op throughput metrics in the manifest, like the builder's
        # build_secs (north-star: lineage + indexing-throughput metrics
        # checkpointed so a killed job resumes mid-merge)
        metrics={
            "merge_secs": round(merge_secs, 3),
            "docs_per_sec": round(num_docs / max(merge_secs, 1e-9), 2),
        },
    )
    replaced = [
        mf.SegmentRecord(
            segment_id=s.segment_id,
            state=mf.REPLACED,
            partition_id=s.partition_id,
            num_docs=s.num_docs,
            field_stats=s.field_stats,
            lineage=s.lineage,
            time_range=s.time_range,
            tags=s.tags,
            merge_gen=s.merge_gen,
            doc_mapping_uid=s.doc_mapping_uid,
            create_timestamp=s.create_timestamp,
        )
        for s in inputs
    ]
    stage("publish")
    mf.commit(
        index_dir,
        [record, *replaced],
        checkpoint={
            op.op_id: {
                "inputs": [s.segment_id for s in inputs],
                "stage_secs": stages,
            }
        },
        kind="merge",
    )
    return record


def run_merges(
    spark: SparkSession,
    index_dir: str,
    policy: MergePolicy | None = None,
    max_rounds: int = 10,
    max_concurrent: int = 4,
    **exec_kwargs,
) -> list[mf.SegmentRecord]:
    """Plan+execute rounds until no op is emitted (driver-side loop, the
    MergePlanner/MergeScheduler analog). Ops within a round touch
    disjoint segments, so they run CONCURRENTLY on the shared
    SparkSession (`max_concurrent` = the reference's merge permits).
    Already-committed ops are skipped via the manifest checkpoint
    (resume)."""
    from concurrent.futures import ThreadPoolExecutor

    policy = policy or MergePolicy()
    out: list[mf.SegmentRecord] = []
    for _ in range(max_rounds):
        done = set(mf.committed_checkpoints(index_dir, kind="merge"))
        ops = [
            op
            for op in policy.plan(mf.live_segments(index_dir))
            if op.op_id not in done
        ]
        if not ops:
            break
        if len(ops) == 1 or max_concurrent <= 1:
            for op in ops:
                out.append(execute_merge(spark, index_dir, op, **exec_kwargs))
        else:
            with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
                out.extend(
                    pool.map(
                        lambda op: execute_merge(spark, index_dir, op, **exec_kwargs),
                        ops,
                    )
                )
    return out
