"""In-memory span and counter recorder for the traced run.

Spans are recorded only from the benchmark's side: `Tracer.wrap`
replaces a public function or method of the engine with a wrapper that
opens a span around the original call. Every span carries a request
id, its own id and its parent's id; the per-thread context carries the
request across the HTTP hop (the client passes its ids as a media-type
parameter of the request's Content-Type, which the ES routes ignore).

Nothing is recorded on a thread whose context is not traced, so the
untraced requests of a traced run pay one attribute lookup per wrapped
call. Spans and counters stay in memory and are written out at the end.
"""

from __future__ import annotations

import functools
import itertools
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        # (request id, innermost span id, counter name) -> total
        self.counters: dict[tuple, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple] = []
        self._names: dict[int, str] = {}  # span id -> name

    # ------------------------------------------------------- context

    def _stack(self) -> list | None:
        return getattr(self._local, "stack", None)

    def new_id(self) -> int:
        return next(self._ids)

    @contextmanager
    def request(self, req: int | None = None, parent: int = 0):
        """Make this thread traced for the duration: spans opened here
        belong to request `req` (a fresh id when None) under `parent`."""
        saved = self._stack()
        self._local.stack = [(req if req is not None else self.new_id(), parent)]
        try:
            yield self._local.stack[0][0]
        finally:
            self._local.stack = saved

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        if not st:
            yield None
            return
        req, parent = st[-1]
        sid = self.new_id()
        st.append((req, sid))
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            st.pop()
            rec = {"req": req, "id": sid, "parent": parent, "name": name,
                   "start": t0, "end": t1}
            with self._lock:
                self.spans.append(rec)
                self._names[sid] = name

    def count(self, name: str, value: float = 1.0) -> None:
        """Add to a counter at this thread's innermost open span."""
        st = self._stack()
        if not st:
            return
        req, sid = st[-1]
        with self._lock:
            self.counters[(req, sid, name)] += value

    # ------------------------------------------------------- patching

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not self._stack():
                return original(*args, **kwargs)
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # ------------------------------------------------------- reports

    def by_request(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            out[s["req"]].append(s)
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def per_request_total(self, spans: list[dict], name: str) -> float:
        """Wall time covered by spans called `name` in one request,
        outermost only (a nested span of the same name is not counted
        twice)."""
        ids = {s["id"] for s in spans if s["name"] == name}
        return sum(
            s["end"] - s["start"]
            for s in spans
            if s["name"] == name and s["parent"] not in ids
        )

    @staticmethod
    def self_times(spans: list[dict]) -> dict[str, float]:
        """Per span name: duration minus the union of its children's
        intervals, summed over the request's spans of that name."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in spans:
            kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            covered = 0.0
            cur_lo = cur_hi = None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def counter_in(self, req: int, span_name: str, name: str) -> float:
        """Counter `name` recorded while `span_name` was innermost."""
        return sum(
            v
            for (r, sid, n), v in self.counters.items()
            if r == req and n == name and self._names.get(sid) == span_name
        )

    def dump(self) -> dict:
        return {
            "spans": self.spans,
            "counters": [
                {"req": r, "span": sid, "name": n, "value": v}
                for (r, sid, n), v in self.counters.items()
            ],
        }


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else float("nan")
