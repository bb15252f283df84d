"""Generic queue-source machinery: SQS/PubSub-style at-least-once
queues drained into exactly-once index commits.

The reference's queue sources
(`qw/quickwit-indexing/src/source/queue_sources/design.md`,
`coordinator.rs`, `shared_state.rs`, `local_state.rs`,
`visibility.rs`, `sqs_queue.rs`, `memory_queue.rs`) share one design,
independent of the broker:

  - a **Queue** exposes exactly three operations — receive messages
    (hidden from other consumers for a visibility window), extend a
    message's visibility, and acknowledge (delete) it,
  - a **shard table** in the metastore records per-message indexing
    progress: each message content is a shard keyed by its partition
    id (file URI), opened with the pipeline's unique publish token;
    first-token-wins arbitration decides ownership, EOF marks fully
    indexed, stale shards (dead owner) are re-acquired after a grace
    period, and old shards are garbage-collected after a
    deduplication window,
  - a **coordinator** walks messages through ready → read-in-progress
    → awaiting-commit → completed, committing the shard's EOF *in the
    same transaction as the split publish* — that atomicity is the
    exactly-once hinge; the queue's redeliveries are absorbed by the
    shard table, not by the queue.

Spark-native re-expression: the shard table lives inside the index
state file and the EOF mark rides the facade ingest's single atomic
state write (`ingest(_state_mutator=...)` — the same hinge the WAL
drain uses), so a crash leaves either the committed batch AND the EOF
shard, or neither. Two queue implementations ship: `MemoryQueue`
(the reference's test double, `memory_queue.rs`) and `FileQueue`, a
directory-backed at-least-once queue whose visibility leases are
O_EXCL sidecar files — the sandbox stand-in for SQS; binding a real
broker means implementing `receive/extend/acknowledge` against its
SDK, nothing else changes (the reference's `sqs_queue.rs` is exactly
that ~500-line adapter).

The reference's own guidance applies at scale: every message is a
tracked shard, so this design suits LARGE message contents (files of
NDJSON) at modest message rates, not per-event messages
(`design.md` "Onboarding new queues" — ≤ ~50 msg/s; throughput comes
from message size, and each message's docs ingest through the fully
distributed batch path).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field


@dataclass
class QueueMessage:
    """One received message (reference `message.rs` RawMessage):
    `partition_id` identifies the CONTENT (file URI / message dedup
    key), `ack_id` identifies this DELIVERY (changes on redelivery)."""

    ack_id: str
    partition_id: str
    payload: bytes
    deadline: float  # visibility deadline (epoch seconds)


class Queue:
    """The 3-call queue abstraction (reference `mod.rs` Queue trait).
    Implementations guarantee at-least-once delivery: a received
    message stays hidden until its visibility deadline, then becomes
    receivable again unless acknowledged."""

    def receive(
        self, max_messages: int, visibility_secs: float
    ) -> list[QueueMessage]:
        raise NotImplementedError

    def extend_visibility(self, ack_id: str, visibility_secs: float) -> None:
        raise NotImplementedError

    def acknowledge(self, ack_ids: list[str]) -> None:
        raise NotImplementedError


class MemoryQueue(Queue):
    """In-process queue with visibility timeouts (reference
    `memory_queue.rs`): the test double for coordinator semantics —
    duplicates on expiry, ack-by-delivery, O(1) everything."""

    def __init__(self, now_fn=time.time):
        self.now = now_fn
        self._messages: dict[str, tuple[str, bytes]] = {}  # msg key → (pid, payload)
        self._invisible_until: dict[str, float] = {}
        self._ack_to_key: dict[str, str] = {}
        # newest delivery per message: a redelivery supersedes the old
        # ack_id, so a stale consumer's extend/ack is a no-op instead
        # of hiding or deleting a message another consumer now owns
        # (FileQueue gets the same guarantee from its _owns check)
        self._current_ack: dict[str, str] = {}
        self._order: list[str] = []

    def send(self, partition_id: str, payload: bytes) -> None:
        key = f"m{len(self._order):06d}"
        self._messages[key] = (partition_id, payload)
        self._order.append(key)

    def receive(self, max_messages, visibility_secs):
        now = self.now()
        out = []
        for key in self._order:
            if len(out) >= max_messages:
                break
            if key not in self._messages:
                continue
            if self._invisible_until.get(key, 0) > now:
                continue
            deadline = now + visibility_secs
            self._invisible_until[key] = deadline
            ack_id = uuid.uuid4().hex
            self._ack_to_key[ack_id] = key
            self._current_ack[key] = ack_id
            pid, payload = self._messages[key]
            out.append(QueueMessage(ack_id, pid, payload, deadline))
        return out

    def extend_visibility(self, ack_id, visibility_secs):
        key = self._ack_to_key.get(ack_id)
        if (
            key is not None
            and key in self._messages
            and self._current_ack.get(key) == ack_id
        ):
            self._invisible_until[key] = self.now() + visibility_secs

    def acknowledge(self, ack_ids):
        for ack_id in ack_ids:
            key = self._ack_to_key.pop(ack_id, None)
            if key is not None and self._current_ack.get(key) == ack_id:
                self._messages.pop(key, None)
                self._invisible_until.pop(key, None)
                self._current_ack.pop(key, None)


class FileQueue(Queue):
    """Directory-backed at-least-once queue — the local stand-in for
    SQS/PubSub. Message = a file under `<dir>/msgs/` (its NAME is the
    partition id, its CONTENT the payload — the "file source with
    queue notifications" pattern, each message a file of NDJSON docs).
    A visibility lease is `<dir>/leases/<name>.lease` holding
    {ack_id, deadline}; receive claims messages whose lease is absent
    or expired with an O_EXCL create (two local consumer processes
    race safely — exactly one wins the claim), extend rewrites the
    deadline, acknowledge unlinks message + lease. `now_fn` is
    injectable so tests drive visibility expiry deterministically."""

    def __init__(self, root: str, now_fn=time.time):
        self.root = root
        self.now = now_fn
        self.msgs = os.path.join(root, "msgs")
        self.leases = os.path.join(root, "leases")
        os.makedirs(self.msgs, exist_ok=True)
        os.makedirs(self.leases, exist_ok=True)
        # deliveries this instance made: ack_id → message name, so
        # extend/ack are O(1) lease reads instead of a full-directory
        # scan per call (a drain would otherwise be O(messages²));
        # unknown ack_ids (another consumer's) fall back to the scan
        self._ack_names: dict[str, str] = {}

    def send(self, name: str, payload: bytes) -> None:
        if "/" in name or name.startswith("."):
            raise ValueError(f"invalid message name {name!r}")
        tmp = os.path.join(self.msgs, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, os.path.join(self.msgs, name))

    def _lease_path(self, name: str) -> str:
        return os.path.join(self.leases, name + ".lease")

    def receive(self, max_messages, visibility_secs):
        now = self.now()
        out = []
        for name in sorted(os.listdir(self.msgs)):
            if len(out) >= max_messages:
                break
            if name.startswith("."):
                continue
            lease_path = self._lease_path(name)
            try:
                with open(lease_path) as f:
                    lease = json.load(f)
                if lease.get("deadline", 0) > now:
                    continue  # live lease: hidden from this consumer
                expired = True
            except FileNotFoundError:
                expired = False
            except (json.JSONDecodeError, OSError):
                expired = True  # torn lease write: treat as expired
            if expired:
                # break the expired lease by RENAME, not unlink: the
                # rename succeeds for exactly one racing consumer
                # (the loser gets ENOENT), so a racer can never
                # unlink the winner's just-created fresh lease
                doomed = lease_path + f".break-{uuid.uuid4().hex}"
                try:
                    os.rename(lease_path, doomed)
                except (FileNotFoundError, OSError):
                    continue  # another consumer broke (and claimed) it
                os.unlink(doomed)
            ack_id = uuid.uuid4().hex
            deadline = now + visibility_secs
            try:
                # O_EXCL create IS the claim: exactly one racing
                # consumer wins this message
                fd = os.open(lease_path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
            except FileExistsError:
                continue
            with os.fdopen(fd, "w") as f:
                json.dump({"ack_id": ack_id, "deadline": deadline}, f)
            try:
                with open(os.path.join(self.msgs, name), "rb") as f:
                    payload = f.read()
            except FileNotFoundError:
                os.unlink(lease_path)
                continue  # acked by another consumer mid-claim
            self._ack_names[ack_id] = name
            out.append(QueueMessage(ack_id, name, payload, deadline))
        return out

    def _owns(self, name: str, ack_id: str) -> bool:
        try:
            with open(self._lease_path(name)) as f:
                return json.load(f).get("ack_id") == ack_id
        except (FileNotFoundError, json.JSONDecodeError, OSError):
            return False

    def _names_for(self, ack_ids) -> list[str]:
        """Message names for delivery ids: O(1) via this instance's
        delivery map, directory scan only for foreign ack_ids."""
        ids = set(ack_ids)
        named = [
            (ack, self._ack_names[ack]) for ack in ids if ack in self._ack_names
        ]
        unknown = ids - {ack for ack, _ in named}
        if unknown:
            for lease in os.listdir(self.leases):
                name = lease[: -len(".lease")]
                try:
                    with open(self._lease_path(name)) as f:
                        ack = json.load(f).get("ack_id")
                except (FileNotFoundError, json.JSONDecodeError, OSError):
                    continue
                if ack in unknown:
                    named.append((ack, name))
        # a lease may have been broken and re-claimed since delivery —
        # only act on names this ack_id still owns
        return [name for ack, name in named if self._owns(name, ack)]

    def extend_visibility(self, ack_id, visibility_secs):
        for name in self._names_for([ack_id]):
            tmp = self._lease_path(name) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "ack_id": ack_id,
                        "deadline": self.now() + visibility_secs,
                    },
                    f,
                )
            os.replace(tmp, self._lease_path(name))

    def acknowledge(self, ack_ids):
        for name in self._names_for(ack_ids):
            # delete the message first: a crash between the two leaves
            # a dangling lease (harmless — receive skips missing msgs)
            try:
                os.unlink(os.path.join(self.msgs, name))
            except FileNotFoundError:
                pass
            try:
                os.unlink(self._lease_path(name))
            except FileNotFoundError:
                pass
        for ack in ack_ids:
            self._ack_names.pop(ack, None)


# ---------------------------------------------------------------------------
# shard table (QueueSharedState analog over the index state file)
# ---------------------------------------------------------------------------

EOF_POSITION = "eof"


def acquire_shards(
    shards: dict,
    publish_token: str,
    partition_ids: list[str],
    now: float,
    reacquire_grace_secs: float,
) -> list[tuple[str, str]]:
    """First-token-wins shard arbitration
    (`shared_state.rs:acquire_partitions`): MUTATES `shards` (the
    state-file table) and returns [(partition_id, position)] for the
    messages this pipeline should process or ack — a partition is
    returned when this token owns it (position "") or it is already
    EOF (caller acks without indexing); a stale foreign shard
    (update_ts older than the grace period — its owner presumably
    died) is re-acquired with the local token; a FRESH foreign shard
    is dropped entirely (still being processed elsewhere — the
    message will resurface after its visibility deadline)."""
    out: list[tuple[str, str]] = []
    for pid in partition_ids:
        shard = shards.get(pid)
        if shard is None:
            shards[pid] = {
                "token": publish_token,
                "position": "",
                "update_ts": now,
            }
            out.append((pid, ""))
            continue
        position = shard.get("position", "")
        owned = shard.get("token") == publish_token
        if position == EOF_POSITION or (owned and position == ""):
            if owned and position == "":
                # refresh the heartbeat: still working on it — keeps a
                # long commit from looking stale to other pipelines
                shard["update_ts"] = now
            out.append((pid, position))
        elif not owned and now - shard.get("update_ts", 0) > reacquire_grace_secs:
            shard["token"] = publish_token
            shard["update_ts"] = now
            out.append((pid, shard.get("position", "")))
        # else: fresh foreign shard → drop, let visibility expiry retry
    return out


def prune_shards(shards: dict, now: float, max_age_secs: float) -> int:
    """Deduplication-window GC (`PruneShards`): drop shards whose last
    update is older than the window. → number pruned. After a shard is
    pruned, a late duplicate of its message WOULD reindex — sizing the
    window above the queue's maximum redelivery horizon is the
    operator contract, exactly as in the reference."""
    doomed = [
        pid
        for pid, sh in shards.items()
        if now - sh.get("update_ts", 0) > max_age_secs
    ]
    for pid in doomed:
        del shards[pid]
    return len(doomed)


# ---------------------------------------------------------------------------
# coordinator
# ---------------------------------------------------------------------------


class ShardOwnershipLost(RuntimeError):
    """Raised by the EOF mutator when the shard's token no longer
    matches at commit time: a stale-grace re-acquisition moved
    ownership to another pipeline while this one was still processing
    the message. The batch aborts BEFORE publish — the reference's
    commit-time publish-token check at the metastore."""


@dataclass
class QueueCoordinator:
    """Drains a queue into a facade index with exactly-once commits
    (reference `coordinator.rs`). One `run()` call polls until the
    queue yields nothing receivable: each message's NDJSON docs ingest
    as one batch whose atomic state write ALSO marks the shard EOF —
    then the message is acked. Redeliveries of EOF shards ack without
    indexing; messages owned by a live foreign pipeline are left
    untouched.

    `visibility_secs` is the receive deadline; before the (potentially
    long) Spark commit the coordinator requests one last extension of
    2× the commit timeout, the reference's pre-commit extension
    (`visibility.rs` request_last_extension)."""

    facade: object
    index_id: str
    source_id: str
    queue: Queue
    publish_token: str = field(default_factory=lambda: uuid.uuid4().hex)
    visibility_secs: float = 120.0
    commit_timeout_secs: float = 60.0
    dedup_window_secs: float = 7 * 86400.0
    max_messages_per_poll: int = 10
    now_fn: object = time.time

    def _shards(self, state: dict) -> dict:
        src = state["sources"][self.source_id]
        return src.setdefault("shards", {})

    def _mark_eof(self, state: dict, pid: str) -> None:
        """The EOF mutator: rides ingest's atomic state write. Re-checks
        ownership at commit time — if another pipeline re-acquired the
        shard (or already EOF'd it) while this one was processing, the
        commit must abort rather than double-publish or stomp the new
        owner's token."""
        table = self._shards(state)
        shard = table.get(pid)
        if shard is not None and shard.get("token") != self.publish_token:
            raise ShardOwnershipLost(
                f"shard {pid!r} is owned by {shard.get('token')!r} at "
                f"commit time (we are {self.publish_token!r})"
            )
        table[pid] = {
            "token": self.publish_token,
            "position": EOF_POSITION,
            "update_ts": float(self.now_fn()),
        }

    def run(self) -> dict:
        """Drain until empty. → {num_docs, messages_indexed,
        messages_deduped, messages_dropped, shards_pruned}."""
        ingested = 0
        indexed = deduped = dropped = rejected = 0
        errors: list[dict] = []
        while True:
            messages = self.queue.receive(
                self.max_messages_per_poll, self.visibility_secs
            )
            if not messages:
                break
            by_pid = {m.partition_id: m for m in messages}
            now = float(self.now_fn())
            grace = 2 * self.commit_timeout_secs
            # ownership arbitration against the durable shard table —
            # mutate-and-save under the index mutation lock so two
            # local pipelines can't both open the same shard
            with self.facade._index_lock(self.index_id):
                state = self.facade._state(self.index_id)
                shards = self._shards(state)
                acquired = acquire_shards(
                    shards, self.publish_token, sorted(by_pid), now, grace
                )
                self.facade._save_state(self.index_id, state)
            acquired_pids = {pid for pid, _ in acquired}
            dropped += len(by_pid) - len(acquired_pids)
            for pid, position in acquired:
                msg = by_pid[pid]
                if position == EOF_POSITION:
                    # already fully indexed (duplicate delivery):
                    # ack without touching the index
                    self.queue.acknowledge([msg.ack_id])
                    deduped += 1
                    continue
                try:
                    text = msg.payload.decode("utf-8")
                except UnicodeDecodeError as e:
                    # a permanently undecodable payload must not wedge
                    # the source (it would crash every drain forever):
                    # reject-and-audit like a malformed doc — EOF the
                    # shard so redeliveries dedupe, ack, record why
                    try:
                        with self.facade._index_lock(self.index_id):
                            st = self.facade._state(self.index_id)
                            self._mark_eof(st, pid)
                            self.facade._save_state(self.index_id, st)
                    except ShardOwnershipLost:
                        # re-acquired by another pipeline meanwhile:
                        # like the ingest path, skip the message and
                        # leave it unacked for the owner
                        dropped += 1
                        continue
                    rejected += 1
                    errors.append(
                        {"partition_id": pid, "reason": f"not UTF-8: {e}"}
                    )
                    self.queue.acknowledge([msg.ack_id])
                    continue
                lines = [ln for ln in text.splitlines() if ln.strip()]
                # pre-commit visibility extension: the Spark commit
                # may outlast the receive deadline
                self.queue.extend_visibility(
                    msg.ack_id, 2 * self.commit_timeout_secs
                )
                mark_eof = lambda st, pid=pid: self._mark_eof(st, pid)  # noqa: E731
                try:
                    if lines:
                        res = self.facade.ingest(
                            self.index_id, lines, _state_mutator=mark_eof
                        )
                        ingested += res["num_docs"]
                        # acking destroys the message: keep the audit
                        # trail of per-doc rejections (same contract
                        # as the WAL drain)
                        if res.get("rejected"):
                            rejected += res["rejected"]
                            errors.extend(
                                {**e, "partition_id": pid}
                                for e in res.get("errors", [])[:10]
                            )
                    else:
                        # empty message: EOF the shard without a build
                        with self.facade._index_lock(self.index_id):
                            st = self.facade._state(self.index_id)
                            mark_eof(st)
                            self.facade._save_state(self.index_id, st)
                except ShardOwnershipLost:
                    # another pipeline re-acquired this shard while we
                    # held the message (our grace expired): abort OUR
                    # commit, leave the message for the owner
                    dropped += 1
                    continue
                self.queue.acknowledge([msg.ack_id])
                indexed += 1
        # deduplication-window GC (the coordinator owns it, debounced
        # in the reference; here it runs once per drain)
        with self.facade._index_lock(self.index_id):
            state = self.facade._state(self.index_id)
            shards = self._shards(state)
            pruned = prune_shards(
                shards, float(self.now_fn()), self.dedup_window_secs
            )
            if pruned:
                self.facade._save_state(self.index_id, state)
        out = {
            "source_id": self.source_id,
            "num_docs": ingested,
            "messages_indexed": indexed,
            "messages_deduped": deduped,
            "messages_dropped": dropped,
            "shards_pruned": pruned,
        }
        if rejected:
            out["rejected"] = rejected
            out["errors"] = errors
        return out
