"""Segment manifest — the engine's metastore.

Mirrors the role of the reference's metastore `SplitMetadata`
(`quickwit-metastore/src/split_metadata.rs:61-130`: split_id,
partition_id, num_docs, time_range, maturity, num_merge_ops,
delete_opstamp) and its checkpoint mechanism
(`quickwit-metastore/src/checkpoint.rs`: PartitionId → Position map
committed atomically with split publish — the per-partition lineage /
exactly-once resume contract).

Implementation: an append-only log of JSON commit files under
`<index_dir>/_manifest/`. Each commit carries a monotonically increasing
sequence number and a list of segment records; the reconciled view takes
the latest record per segment_id (so a merge commit both publishes the
merged segment and marks its inputs `replaced`). Writes are atomic via
tmp-file + rename. On a real deployment the same records would live in
an Iceberg/Delta table; a JSON log keeps the sandbox dependency-free
while preserving identical commit semantics.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from dataclasses import asdict, dataclass, field

MANIFEST_DIR = "_manifest"

STAGED = "staged"
PUBLISHED = "published"
REPLACED = "replaced"
# explicit operator/janitor retirement (reference
# `SplitState::MarkedForDeletion`, `split_metadata.rs:294-303`); like
# REPLACED it is non-live, prunable by GC
MARKED_FOR_DELETION = "marked_for_deletion"


@dataclass
class SegmentRecord:
    segment_id: str
    state: str = PUBLISHED
    partition_id: int = 0
    num_docs: int = 0
    # per-field stats for BM25: {field: {"total_tokens": int, "doc_count": int}}
    field_stats: dict = field(default_factory=dict)
    # lineage: which input batch/partitions produced this segment
    lineage: dict = field(default_factory=dict)
    # [min_ts_micros, max_ts_micros] or None
    time_range: list | None = None
    # tag-pruning value sets: ["{field}!", "{field}:{value}", ...]
    # (reference: SplitMetadata.tags, `split_metadata.rs:61-130`)
    tags: list = field(default_factory=list)
    merge_gen: int = 0
    # which doc-mapping generation built this split (reference
    # `SplitMetadata.doc_mapping_uid`, `split_metadata.rs` — bumped by
    # non-additive index updates; merges never mix generations)
    doc_mapping_uid: int = 0
    metrics: dict = field(default_factory=dict)
    # unix SECONDS, like the reference's SplitMetadata.create_timestamp
    # / Split.update_timestamp (`split_metadata.rs:32-46,61-130`);
    # stamped by commit() — 0 on records from pre-timestamp manifests
    create_timestamp: int = 0
    update_timestamp: int = 0


def _manifest_dir(index_dir: str) -> str:
    return os.path.join(index_dir, MANIFEST_DIR)


def _commit_files(index_dir: str) -> list[str]:
    d = _manifest_dir(index_dir)
    if not os.path.isdir(d):
        return []
    return sorted(f for f in os.listdir(d) if f.startswith("commit-") and f.endswith(".json"))


def _snapshot_files(index_dir: str) -> list[str]:
    d = _manifest_dir(index_dir)
    if not os.path.isdir(d):
        return []
    return sorted(
        f
        for f in os.listdir(d)
        if f.startswith("snapshot-") and f.endswith(".json")
    )


def _latest_snapshot(index_dir: str) -> dict | None:
    """Highest-seq snapshot document, or None. Tolerates a concurrent
    compaction deleting the file between listdir and open."""
    files = _snapshot_files(index_dir)
    d = _manifest_dir(index_dir)
    for fname in reversed(files):
        try:
            with open(os.path.join(d, fname)) as f:
                return json.load(f)
        except FileNotFoundError:
            continue
    return None


def next_seq(index_dir: str) -> int:
    files = _commit_files(index_dir)
    seqs = [int(f.split("-")[1]) for f in files]
    seqs += [int(f.split("-")[1]) for f in _snapshot_files(index_dir)]
    if not seqs:
        return 0
    return max(seqs) + 1


_COMMIT_LOCK = threading.Lock()


def commit(
    index_dir: str,
    records: list[SegmentRecord],
    checkpoint: dict | None = None,
    kind: str = "build",
) -> str:
    """Atomically append a commit (segment records + source checkpoint).

    Serialized under a process lock: concurrent merge threads
    (merge.run_merges' ThreadPoolExecutor) would otherwise race
    next_seq's read-then-write and emit duplicate sequence numbers.
    Cross-process writers still get atomicity from tmp+rename and
    uniqueness from the uuid suffix; ties on seq are resolved by
    filename order, so same-process serialization keeps seq unique
    where it matters."""
    with _COMMIT_LOCK:
        return _commit_locked(index_dir, records, checkpoint, kind)


def _commit_locked(
    index_dir: str,
    records: list[SegmentRecord],
    checkpoint: dict | None,
    kind: str,
) -> str:
    import time as _time

    d = _manifest_dir(index_dir)
    os.makedirs(d, exist_ok=True)
    seq = next_seq(index_dir)
    # timestamp stamping: every committed record is "updated" now; a
    # record that has never been committed gets its create_timestamp
    # here (state-flip commits rebuild records from reconcile(), so
    # they carry the original create_timestamp through)
    now = int(_time.time())
    for r in records:
        r.update_timestamp = now
        if not r.create_timestamp:
            r.create_timestamp = now
    payload = {
        "seq": seq,
        "kind": kind,
        "checkpoint": checkpoint or {},
        "segments": [asdict(r) for r in records],
    }
    name = f"commit-{seq:08d}-{uuid.uuid4().hex[:8]}.json"
    tmp = os.path.join(d, f".tmp-{name}")
    with open(tmp, "w") as f:
        json.dump(payload, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, os.path.join(d, name))
    # amortized compaction: keep reconcile() O(segments + recent
    # commits) however long the index lives (lock already held)
    if COMPACT_EVERY > 0 and len(_commit_files(index_dir)) >= COMPACT_EVERY:
        _compact_locked(index_dir)
    return name


def read_commits(index_dir: str) -> list[dict]:
    """Commit stream in seq order: the latest snapshot (expanded into
    per-kind pseudo-commits so every checkpoint consumer sees its
    history) followed by the commit files newer than it. Commit files
    at or below the snapshot seq are already folded in — a crash
    between snapshot write and file deletion leaves them behind
    harmlessly (replay is idempotent, but skipping keeps one source of
    truth)."""
    # Lock-free readers vs a concurrent compaction (same process or
    # another): the snapshot is read BEFORE and AFTER listing/loading
    # the commit files. Compaction writes its snapshot before deleting
    # any file, so if a listed file vanished under us, or the latest
    # snapshot seq moved between the two reads, a compaction
    # interleaved and this view may be missing a prefix — retry. A
    # stable snapshot seq with every listed file readable proves
    # (snapshot + files) is one consistent manifest. Cannot take
    # _COMMIT_LOCK here: _compact_locked itself calls read_commits
    # while holding it.
    d = _manifest_dir(index_dir)
    snap, loaded = None, []
    for _ in range(10):
        snap = _latest_snapshot(index_dir)
        loaded = []
        torn = False
        for fname in _commit_files(index_dir):
            try:
                with open(os.path.join(d, fname)) as f:
                    loaded.append(json.load(f))
            except FileNotFoundError:
                torn = True  # deleted mid-read: compaction interleaved
                break
        snap2 = _latest_snapshot(index_dir)
        s1 = -1 if snap is None else int(snap["seq"])
        s2 = -1 if snap2 is None else int(snap2["seq"])
        if not torn and s1 == s2:
            break
    out = []
    base_seq = -1
    if snap is not None:
        base_seq = int(snap["seq"])
        for kind, cp in sorted((snap.get("checkpoints_by_kind") or {}).items()):
            out.append(
                {"seq": base_seq, "kind": kind, "checkpoint": cp, "segments": []}
            )
        out.append(
            {
                "seq": base_seq,
                "kind": "snapshot",
                "checkpoint": {},
                "segments": snap.get("segments") or [],
            }
        )
    for c in loaded:
        if c["seq"] > base_seq:
            out.append(c)
    return sorted(out, key=lambda c: c["seq"])


# one snapshot per this many commit files (the reference's file-backed
# metastore rewrites ONE state document per mutation,
# `metastore/file_backed/mod.rs` put; here the rewrite is amortized so
# manifest reads stay O(segments + recent commits) instead of O(all
# commits ever) on long-lived indexes)
COMPACT_EVERY = 128


def compact_manifest(index_dir: str) -> str | None:
    """Fold the whole commit log into one snapshot document and delete
    the folded files. Crash-safe: the snapshot is tmp+rename'd before
    any deletion, and read_commits ignores commit files at or below the
    snapshot seq. Returns the snapshot filename (None on empty log)."""
    with _COMMIT_LOCK:
        return _compact_locked(index_dir)


def _compact_locked(index_dir: str) -> str | None:
    commits = read_commits(index_dir)
    if not commits:
        return None
    seq = max(c["seq"] for c in commits)
    segs: dict[str, dict] = {}
    cps: dict[str, dict] = {}
    for c in commits:
        for rec in c["segments"]:
            segs[rec["segment_id"]] = rec
        if c["kind"] != "snapshot" and c.get("checkpoint"):
            cps.setdefault(c["kind"], {}).update(c["checkpoint"])
    payload = {
        "seq": seq,
        "segments": [segs[k] for k in sorted(segs)],
        "checkpoints_by_kind": cps,
    }
    d = _manifest_dir(index_dir)
    name = f"snapshot-{seq:08d}-{uuid.uuid4().hex[:8]}.json"
    tmp = os.path.join(d, f".tmp-{name}")
    with open(tmp, "w") as f:
        json.dump(payload, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, os.path.join(d, name))
    # now safe to drop everything the snapshot covers
    for fname in _commit_files(index_dir):
        if int(fname.split("-")[1]) <= seq:
            try:
                os.unlink(os.path.join(d, fname))
            except FileNotFoundError:
                pass
    for fname in _snapshot_files(index_dir):
        if fname != name:
            try:
                os.unlink(os.path.join(d, fname))
            except FileNotFoundError:
                pass
    return name


def reconcile(index_dir: str) -> dict[str, SegmentRecord]:
    """Latest record per segment_id across all commits (in seq order)."""
    segs: dict[str, SegmentRecord] = {}
    for c in read_commits(index_dir):
        for rec in c["segments"]:
            segs[rec["segment_id"]] = SegmentRecord(**rec)
    return segs


def live_segments(index_dir: str) -> list[SegmentRecord]:
    """Published (searchable) segments, stable order."""
    return sorted(
        (r for r in reconcile(index_dir).values() if r.state == PUBLISHED),
        key=lambda r: r.segment_id,
    )


def committed_checkpoints(index_dir: str, kind: str = "build") -> dict:
    """Union of checkpoints from commits of `kind` (batch_id → lineage)."""
    cp: dict = {}
    for c in read_commits(index_dir):
        if c["kind"] == kind:
            cp.update(c.get("checkpoint") or {})
    return cp


def delete_index(index_dir: str) -> int:
    """Delete a whole index: manifest, inverted files, doc store — the
    metastore `delete_index` + storage GC path the reference's ES
    `DELETE /<index>` handler drives (`es_compat_delete_index_handler`).
    Refuses paths that don't contain a manifest directory (never rm an
    arbitrary tree). Returns the number of files removed."""
    import shutil

    if not os.path.isdir(_manifest_dir(index_dir)):
        raise FileNotFoundError(f"not a quickwit_spark index: {index_dir!r}")
    removed = sum(len(files) for _r, _d, files in os.walk(index_dir))
    shutil.rmtree(index_dir)
    return removed


def list_splits(
    index_dir: str,
    states: tuple | None = None,
    time_range: tuple | None = None,
    tags_any: tuple | None = None,
    min_merge_gen: int | None = None,
) -> list[SegmentRecord]:
    """Metastore `ListSplits` analog (reference
    `quickwit-metastore/src/metastore/mod.rs` ListSplitsQuery: filter by
    split state, timestamp-range overlap, tags, and maturity): every
    manifest record matching all given filters, stable segment_id order.

    - `states`: subset of {staged, published, replaced}; default all.
    - `time_range`: (lo_micros, hi_micros) half-open overlap test; a
      record with no time range always matches (it cannot be pruned —
      same convention as query-time pruning).
    - `tags_any`: match if the record carries ANY of these tag strings.
    - `min_merge_gen`: maturity filter (merge generation ≥ n)."""
    out = []
    for r in reconcile(index_dir).values():
        if states and r.state not in states:
            continue
        if time_range and r.time_range is not None:
            lo, hi = time_range
            if r.time_range[1] < lo or r.time_range[0] >= hi:
                continue
        if tags_any and not set(tags_any) & set(r.tags):
            continue
        if min_merge_gen is not None and r.merge_gen < min_merge_gen:
            continue
        out.append(r)
    return sorted(out, key=lambda r: r.segment_id)


def mark_for_deletion(index_dir: str, segment_ids: list[str]) -> list[str]:
    """Metastore `mark_splits_for_deletion` analog
    (`file_backed_index/mod.rs:273-303` via `file_backed/mod.rs:688-707`):
    flip the given segments to `marked_for_deletion` in one commit.
    Unknown ids and already-dead segments are silently skipped (the
    reference passes `return_error_on_splits_not_found=false` and skips
    already-marked splits). Searches prune the segments immediately;
    files stay until GC. Returns the ids actually flipped."""
    segs = reconcile(index_dir)
    records = []
    for sid in segment_ids:
        r = segs.get(sid)
        if r is None or r.state in (MARKED_FOR_DELETION, REPLACED):
            continue
        r.state = MARKED_FOR_DELETION
        records.append(r)
    if records:
        commit(
            index_dir,
            records,
            checkpoint={"mark_for_deletion": sorted(r.segment_id for r in records)},
            kind="mark_for_deletion",
        )
    return sorted(r.segment_id for r in records)
