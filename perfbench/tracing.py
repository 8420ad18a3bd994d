"""In-memory spans for the traced benchmark run.

A span records name, start, end and parent. Spans are opened by the
benchmark around its calls into the engine, and by two delegating proxies
(`TracedTable`, `TracedStateStore`) that the benchmark hands to `CdcEngine`
so `merge` and `put` are timed without touching engine code.

The benchmark drives one operation at a time: the streaming tail calls its
`foreachBatch` body on another thread, but only while the main thread is
blocked in `awaitTermination`. One shared stack (guarded by a lock) therefore
gives every span the right parent.

A tracer given a `tag` callback calls it with a span's id when the span opens
and with its parent's id when it closes, on the thread that opened it. The
traced run uses it to set a Spark local property, which the event log
records on every job and stage that thread submits: stages are attributed
to spans by that tag, not by time.
"""

from __future__ import annotations

import contextlib
import threading
import time


class Tracer:
    """Collects spans; a disabled tracer records nothing and costs one call."""

    def __init__(self, enabled: bool = True, clock=time.time, tag=None):
        self.enabled = enabled
        self.clock = clock
        self.tag = tag
        self.own_s = 0.0  # seconds spent in the tracer: bookkeeping and tag calls
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {"attrs": {}}
            return
        entered = time.perf_counter()
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "start": self.clock(),
                "end": None,
                "attrs": dict(attrs),
            }
            self.spans.append(rec)
            self._stack.append(rec["id"])
        if self.tag:
            self.tag(rec["id"])
        enter_s = time.perf_counter() - entered
        try:
            yield rec
        finally:
            leaving = time.perf_counter()
            if self.tag:
                self.tag(rec["parent"])
            with self._lock:
                rec["end"] = self.clock()
                self._stack.remove(rec["id"])
                self.own_s += enter_s + time.perf_counter() - leaving

    def wrap(self, name: str, fn):
        """`fn` with every call inside a span called `name`."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, start: float, end: float) -> list[tuple[float, float]]:
    """The parts of `intervals` that fall inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of it that child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(clip(children.get(s["id"], []), s["start"], s["end"]))
        for s in spans
    }


def descendants(spans: list[dict], root: int) -> list[dict]:
    """`root` and every span below it."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] == root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


class TracedTable:
    """Delegates everything to a `SnapshotTable`; `merge` runs in a
    `lake.merge` span that records whether the commit folded generations."""

    def __init__(self, table, tracer: Tracer):
        self._table = table
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._table, name)

    def merge(self, *args, **kwargs):
        with self._tracer.span("lake.merge") as rec:
            result = self._table.merge(*args, **kwargs)
            rec["attrs"]["folded"] = bool(result.get("folded_buckets"))
            return result


class TracedStateStore:
    """Delegates everything to a `StateStore`; `put` runs in a `state.put` span."""

    def __init__(self, store, tracer: Tracer):
        self._store = store
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._store, name)

    def put(self, *args, **kwargs):
        with self._tracer.span("state.put"):
            return self._store.put(*args, **kwargs)
