"""Queue-source machinery (reference queue_sources/ design):
at-least-once queue deliveries → exactly-once index commits via the
shard table, visibility leases, stale-owner re-acquisition, and
deduplication-window GC."""

import json
import os

import pytest

from quickwit_spark.api import QuickwitSpark
from quickwit_spark.sources.queue import (
    EOF_POSITION,
    FileQueue,
    MemoryQueue,
    QueueCoordinator,
    acquire_shards,
    prune_shards,
)


class Clock:
    def __init__(self, t=1_000.0):
        self.t = t

    def __call__(self):
        return self.t


# ---------------------------------------------------------------- queues


@pytest.mark.parametrize("kind", ["memory", "file"])
def test_queue_visibility_and_ack(tmp_path, kind):
    """Received messages are hidden until their visibility deadline,
    redelivered after it (new ack_id), extendable, and gone after
    ack — the at-least-once contract both implementations share."""
    clock = Clock()
    q = (
        MemoryQueue(now_fn=clock)
        if kind == "memory"
        else FileQueue(str(tmp_path / "q"), now_fn=clock)
    )
    q.send("msg-a", b'{"n": 1}')
    q.send("msg-b", b'{"n": 2}')
    got = q.receive(10, visibility_secs=30)
    assert sorted(m.partition_id for m in got) == ["msg-a", "msg-b"]
    # hidden while the lease is live
    assert q.receive(10, visibility_secs=30) == []
    # redelivered after expiry, under a fresh ack id
    clock.t += 31
    again = q.receive(10, visibility_secs=30)
    assert sorted(m.partition_id for m in again) == ["msg-a", "msg-b"]
    assert {m.ack_id for m in again}.isdisjoint({m.ack_id for m in got})
    # extension keeps it hidden past the original deadline
    q.extend_visibility(again[0].ack_id, 100)
    clock.t += 50
    mid = q.receive(10, visibility_secs=30)
    assert [m.partition_id for m in mid] == [again[1].partition_id]
    # ack deletes for good
    q.acknowledge([m.ack_id for m in again] + [m.ack_id for m in mid])
    clock.t += 1000
    assert q.receive(10, visibility_secs=30) == []


def test_file_queue_claim_is_exclusive(tmp_path):
    """Two consumers racing the same FileQueue directory: each message
    is claimed by exactly one (the O_EXCL lease create)."""
    clock = Clock()
    a = FileQueue(str(tmp_path / "q"), now_fn=clock)
    b = FileQueue(str(tmp_path / "q"), now_fn=clock)
    for i in range(6):
        a.send(f"m{i}", b"{}")
    got_a = a.receive(10, 60)
    got_b = b.receive(10, 60)
    ids_a = {m.partition_id for m in got_a}
    ids_b = {m.partition_id for m in got_b}
    assert ids_a and not ids_b  # a claimed everything first
    clock.t += 61
    got_b = b.receive(3, 60)
    got_a2 = a.receive(10, 60)
    assert {m.partition_id for m in got_b}.isdisjoint(
        {m.partition_id for m in got_a2}
    )
    assert len(got_b) + len(got_a2) == 6


def _lease(q: FileQueue, name: str) -> dict:
    with open(q._lease_path(name)) as f:
        return json.load(f)


@pytest.mark.parametrize("op", ["extend", "ack"])
def test_file_queue_stale_consumer_cannot_stomp_reclaimed_lease(tmp_path, op):
    """Consumer a's lease expires; consumer b breaks and re-claims it in
    the window between a's ownership check and a's write. a's extend
    (or ack) must then leave b's lease alone: the lease on disk always
    belongs to whoever last claimed the message."""
    clock = Clock()
    a = FileQueue(str(tmp_path / "q"), now_fn=clock)
    b = FileQueue(str(tmp_path / "q"), now_fn=clock)
    a.send("m0", b"{}")
    (stale,) = a.receive(10, 30)
    clock.t += 31  # a's lease has expired
    b_got = []
    real_owns = a._owns

    def racing_owns(name, ack_id):
        owned = real_owns(name, ack_id)
        b_got.extend(b.receive(10, 30))  # b acts right after the check
        return owned

    a._owns = racing_owns
    if op == "extend":
        a.extend_visibility(stale.ack_id, 300)
    else:
        a.acknowledge([stale.ack_id])
    assert [m.partition_id for m in b_got] == ["m0"]
    assert _lease(b, "m0")["ack_id"] == b_got[0].ack_id
    assert os.path.exists(os.path.join(b.msgs, "m0"))
    # b still owns it: its extend and ack work
    b.extend_visibility(b_got[0].ack_id, 300)
    assert _lease(b, "m0")["deadline"] == clock.t + 300
    b.acknowledge([b_got[0].ack_id])
    assert os.listdir(b.msgs) == [] and os.listdir(b.leases) == []


def test_file_queue_receive_skips_a_locked_lease(tmp_path):
    """While one consumer holds a lease's lock (mid extend/ack), another
    consumer's receive skips that message instead of claiming it."""
    clock = Clock()
    a = FileQueue(str(tmp_path / "q"), now_fn=clock)
    b = FileQueue(str(tmp_path / "q"), now_fn=clock)
    a.send("m0", b"{}")
    a.send("m1", b"{}")
    with a._lease_lock("m0") as locked:
        assert locked
        assert [m.partition_id for m in b.receive(10, 30)] == ["m1"]
    assert [m.partition_id for m in b.receive(10, 30)] == ["m0"]


@pytest.mark.parametrize("op", ["receive", "extend"])
def test_file_queue_ack_race_leaves_no_lock_files(tmp_path, op):
    """Consumer b acks a message right after consumer a listed it (or
    looked up its own stale lease): a's claim or extend finds it gone
    and must not leave a lease or lock file behind."""
    clock = Clock()
    a = FileQueue(str(tmp_path / "q"), now_fn=clock)
    b = FileQueue(str(tmp_path / "q"), now_fn=clock)
    a.send("m0", b"{}")
    if op == "extend":
        (stale,) = a.receive(10, 30)
        clock.t += 31
    (got,) = b.receive(10, 30)
    real_lock = a._lease_lock

    def racing_lock(name, wait=True):
        b.acknowledge([got.ack_id])  # b acks before a takes the lock
        return real_lock(name, wait)

    a._lease_lock = racing_lock
    if op == "receive":
        clock.t += 31  # b's lease expired: a would claim it
        assert a.receive(10, 30) == []
    else:
        a._names_for = lambda ids: [(stale.ack_id, "m0")]  # looked up pre-ack
        a.extend_visibility(stale.ack_id, 300)
    assert os.listdir(a.msgs) == [] and os.listdir(a.leases) == []


# ------------------------------------------------------------ shard table


def test_acquire_shards_arbitration():
    """First token wins; EOF shards return for ack-only handling;
    stale foreign shards re-acquire after the grace period; fresh
    foreign shards are dropped (shared_state.rs acquire_partitions)."""
    shards = {}
    got = acquire_shards(shards, "tokA", ["p1", "p2"], now=100, reacquire_grace_secs=60)
    assert got == [("p1", ""), ("p2", "")]
    # same owner retries while in progress: still returned
    got = acquire_shards(shards, "tokA", ["p1"], now=110, reacquire_grace_secs=60)
    assert got == [("p1", "")]
    # foreign token, fresh shard: dropped entirely
    got = acquire_shards(shards, "tokB", ["p1"], now=120, reacquire_grace_secs=60)
    assert got == []
    assert shards["p1"]["token"] == "tokA"
    # foreign token, stale shard: re-acquired
    got = acquire_shards(shards, "tokB", ["p1"], now=300, reacquire_grace_secs=60)
    assert got == [("p1", "")]
    assert shards["p1"]["token"] == "tokB"
    # EOF shards return (with position) regardless of token
    shards["p2"]["position"] = EOF_POSITION
    got = acquire_shards(shards, "tokC", ["p2"], now=301, reacquire_grace_secs=60)
    assert got == [("p2", EOF_POSITION)]
    # prune: only entries older than the window go
    assert prune_shards(shards, now=400, max_age_secs=150) == 1  # p2 (ts=100)
    assert "p1" in shards and "p2" not in shards


# ------------------------------------------------------------ coordinator


@pytest.fixture()
def facade(spark, tmp_path):
    qw = QuickwitSpark(spark, str(tmp_path / "root"))
    qw.create_index(
        {
            "index_id": "qidx",
            "doc_mapping": {
                "mode": "dynamic",
                "dynamic_mapping": {"tokenizer": "default", "fast": True},
            },
        }
    )
    return qw


def _payload(lo, hi):
    return "\n".join(
        json.dumps({"body": f"doc {i} from queue", "n": i}) for i in range(lo, hi)
    ).encode()


def test_coordinator_exactly_once_and_dedup(facade, tmp_path):
    """End to end: drain indexes each message once; duplicate
    deliveries (including after a 'crash' that lost the ack) are
    absorbed by the shard table and acked without reindexing."""
    clock = Clock()
    q = MemoryQueue(now_fn=clock)
    q.send("s3://bucket/file-0.ndjson", _payload(0, 5))
    q.send("s3://bucket/file-1.ndjson", _payload(5, 8))
    coord = QueueCoordinator(
        facade=facade, index_id="qidx", source_id="qsrc", queue=q,
        now_fn=clock,
    )
    facade.create_source(
        "qidx",
        {"source_id": "qsrc", "source_type": "queue",
         "params": {"queue_dir": str(tmp_path / "unused")}},
    )
    res = coord.run()
    assert res["num_docs"] == 8
    assert res["messages_indexed"] == 2
    total = facade.es().request("GET", "qidx/_count")["count"]
    assert total == 8

    # duplicate delivery of an already-EOF shard: ack, no reindex
    q.send("s3://bucket/file-0.ndjson", _payload(0, 5))
    res = coord.run()
    assert res["messages_deduped"] == 1 and res["num_docs"] == 0
    assert facade.es().request("GET", "qidx/_count")["count"] == 8

    # 'crash' between ingest and ack: message redelivered, shard is
    # EOF → deduped, doc count unchanged
    q.send("s3://bucket/file-2.ndjson", _payload(8, 10))
    acked = []
    real_ack = q.acknowledge
    q.acknowledge = lambda ids: acked.append(list(ids))  # swallow the ack
    coord.run()
    q.acknowledge = real_ack
    assert facade.es().request("GET", "qidx/_count")["count"] == 10
    clock.t += 1000  # visibility expires → redelivery
    res = coord.run()
    assert res["messages_deduped"] == 1 and res["num_docs"] == 0
    assert facade.es().request("GET", "qidx/_count")["count"] == 10


def test_coordinator_foreign_ownership_and_grace(facade):
    """A message whose shard a live foreign pipeline owns is left
    untouched; once the foreign owner goes stale past the grace
    period, this pipeline re-acquires and indexes it."""
    clock = Clock()
    q = MemoryQueue(now_fn=clock)
    q.send("file-x", _payload(0, 3))
    facade.create_source(
        "qidx",
        {"source_id": "qsrc", "source_type": "queue",
         "params": {"queue_dir": "unused"}},
    )
    # simulate a foreign pipeline having freshly opened the shard
    state = facade._state("qidx")
    state["sources"]["qsrc"]["shards"] = {
        "file-x": {"token": "foreign", "position": "", "update_ts": clock.t}
    }
    facade._save_state("qidx", state)
    coord = QueueCoordinator(
        facade=facade, index_id="qidx", source_id="qsrc", queue=q,
        commit_timeout_secs=60, now_fn=clock,
    )
    res = coord.run()
    assert res["messages_dropped"] == 1 and res["num_docs"] == 0
    # ...the foreign owner dies; past 2× commit timeout the shard is
    # stale and this pipeline takes it over on redelivery
    clock.t += 1000
    res = coord.run()
    assert res["messages_indexed"] == 1 and res["num_docs"] == 3
    assert coord.facade._state("qidx")["sources"]["qsrc"]["shards"][
        "file-x"
    ]["position"] == EOF_POSITION


def test_coordinator_prunes_dedup_window(facade):
    """Shards age out of the dedup window (PruneShards): after GC a
    late duplicate WOULD reindex — the documented window contract."""
    clock = Clock()
    q = MemoryQueue(now_fn=clock)
    q.send("old-file", _payload(0, 2))
    facade.create_source(
        "qidx",
        {"source_id": "qsrc", "source_type": "queue",
         "params": {"queue_dir": "unused"}},
    )
    coord = QueueCoordinator(
        facade=facade, index_id="qidx", source_id="qsrc", queue=q,
        dedup_window_secs=500, now_fn=clock,
    )
    coord.run()
    assert "old-file" in facade._state("qidx")["sources"]["qsrc"]["shards"]
    clock.t += 1000
    res = coord.run()  # empty drain still runs GC
    assert res["shards_pruned"] == 1
    assert facade._state("qidx")["sources"]["qsrc"]["shards"] == {}


def test_run_source_queue_integration(facade, tmp_path):
    """The facade surface: a `queue` source with a FileQueue dir —
    run_source drains it, a second run is a no-op, a duplicate file
    delivery dedupes, and invalid source params 400."""
    qdir = str(tmp_path / "fq")
    fq = FileQueue(qdir)
    fq.send("batch-000.ndjson", _payload(0, 4))
    fq.send("batch-001.ndjson", _payload(4, 6))
    facade.create_source(
        "qidx",
        {"source_id": "sqs-like", "source_type": "queue",
         "params": {"queue_dir": qdir}},
    )
    res = facade.run_source("qidx", "sqs-like")
    assert res["num_docs"] == 6 and res["messages_indexed"] == 2
    assert facade.es().request("GET", "qidx/_count")["count"] == 6
    # drained queue: second run is a no-op
    res = facade.run_source("qidx", "sqs-like")
    assert res["num_docs"] == 0 and res["messages_indexed"] == 0
    # duplicate content under the same message name → deduped
    fq.send("batch-000.ndjson", _payload(0, 4))
    res = facade.run_source("qidx", "sqs-like")
    assert res["messages_deduped"] == 1 and res["num_docs"] == 0
    assert facade.es().request("GET", "qidx/_count")["count"] == 6
    with pytest.raises(ValueError, match="queue_dir"):
        facade.create_source(
            "qidx", {"source_id": "badq", "source_type": "queue", "params": {}}
        )


def test_memory_queue_stale_ack_is_noop():
    """A superseded delivery's ack_id can neither re-hide nor delete a
    message another consumer now owns (same guarantee FileQueue gets
    from its lease-ownership check)."""
    clock = Clock()
    q = MemoryQueue(now_fn=clock)
    q.send("m", b"{}")
    (old,) = q.receive(1, 30)
    clock.t += 31  # expiry → redelivery
    (new,) = q.receive(1, 30)
    q.extend_visibility(old.ack_id, 500)  # stale: must be a no-op
    clock.t += 31
    (again,) = q.receive(1, 30)  # still redeliverable after NEW lease
    q.acknowledge([old.ack_id])  # stale ack: no-op
    clock.t += 31
    assert len(q.receive(1, 30)) == 1  # message survived the stale ack
    assert new.partition_id == again.partition_id == "m"


def test_coordinator_poison_message_rejected_not_wedged(facade):
    """A non-UTF-8 payload is rejected-with-audit (EOF + ack), never a
    drain-crashing poison message."""
    clock = Clock()
    q = MemoryQueue(now_fn=clock)
    q.send("bad.bin", b"\xff\xfe\x00garbage")
    q.send("good.ndjson", _payload(0, 2))
    facade.create_source(
        "qidx",
        {"source_id": "qsrc", "source_type": "queue",
         "params": {"queue_dir": "unused"}},
    )
    coord = QueueCoordinator(
        facade=facade, index_id="qidx", source_id="qsrc", queue=q,
        now_fn=clock,
    )
    res = coord.run()
    assert res["num_docs"] == 2 and res["messages_indexed"] == 1
    assert res["rejected"] == 1
    assert "not UTF-8" in res["errors"][0]["reason"]
    # the poison message is gone and its shard EOF'd: nothing replays
    clock.t += 1000
    res = coord.run()
    assert res["messages_indexed"] == 0 and res.get("rejected") is None


def test_coordinator_reject_path_skips_lost_shard(facade):
    """A non-UTF-8 message whose shard another pipeline re-acquired
    before the reject's EOF commit is skipped and left unacked for the
    new owner; the drain goes on to the next message."""
    clock = Clock()
    q = MemoryQueue(now_fn=clock)
    q.send("bad.bin", b"\xff\xfe\x00garbage")
    q.send("good.ndjson", _payload(0, 2))
    facade.create_source(
        "qidx",
        {"source_id": "qsrc", "source_type": "queue",
         "params": {"queue_dir": "unused"}},
    )
    coord = QueueCoordinator(
        facade=facade, index_id="qidx", source_id="qsrc", queue=q,
        now_fn=clock,
    )
    real_mark_eof = coord._mark_eof

    def hijack_then_mark(state, pid):
        if pid == "bad.bin":
            state["sources"]["qsrc"]["shards"][pid]["token"] = "pipelineB"
        return real_mark_eof(state, pid)

    coord._mark_eof = hijack_then_mark
    res = coord.run()
    assert res["messages_dropped"] == 1
    assert res["num_docs"] == 2 and res["messages_indexed"] == 1
    assert res.get("rejected") is None
    # the poison message was not acked: the owner can still receive it
    clock.t += 1000
    assert [m.partition_id for m in q.receive(10, 30)] == ["bad.bin"]


def test_coordinator_commit_aborts_on_lost_ownership(facade):
    """If another pipeline re-acquires a shard mid-processing, the
    first pipeline's commit aborts (ShardOwnershipLost) instead of
    double-indexing or stomping the new owner's token."""
    clock = Clock()
    q = MemoryQueue(now_fn=clock)
    q.send("contested", _payload(0, 3))
    facade.create_source(
        "qidx",
        {"source_id": "qsrc", "source_type": "queue",
         "params": {"queue_dir": "unused"}},
    )
    coord = QueueCoordinator(
        facade=facade, index_id="qidx", source_id="qsrc", queue=q,
        now_fn=clock,
    )
    # sabotage: after acquisition, flip the shard's token to simulate
    # a concurrent re-acquisition by pipeline B
    real_ingest = facade.ingest

    def hijack_then_ingest(index_id, docs, _state_mutator=None):
        st = facade._state(index_id)
        st["sources"]["qsrc"]["shards"]["contested"]["token"] = "pipelineB"
        facade._save_state(index_id, st)
        return real_ingest(index_id, docs, _state_mutator=_state_mutator)

    facade.ingest = hijack_then_ingest
    try:
        res = coord.run()
    finally:
        facade.ingest = real_ingest
    assert res["messages_dropped"] == 1 and res["num_docs"] == 0
    # the message was NOT acked — B (or a later drain) can still get it
    clock.t += 1000
    assert len(q.receive(10, 30)) == 1
    assert facade.es().request("GET", "qidx/_count")["count"] == 0
