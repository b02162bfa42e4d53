"""In-memory span recorder for the traced run, and its reduction to self
time per layer.

A span is ``(id, parent, name, layer, start, end)`` with wall-clock
(``time.time``) bounds, so spans taken in Python line up with the
millisecond trigger timestamps Spark puts in ``StreamingQueryProgress``.
Spans are kept in a list and written out once, at the end of the run.

A span's self time is its duration minus the part of that interval its
children cover; summed over a tree, self times add up to the root's wall.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict
from collections.abc import Iterator


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, sid: int | None = None, **attrs) -> int:
        """Record a finished span; returns its id."""
        with self._lock:
            sid = sid or next(self._ids)
            self.spans.append(
                {"id": sid, "parent": parent, "name": name, "layer": layer,
                 "start": start, "end": end, **attrs}
            )
        return sid

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs) -> Iterator[int]:
        """Record a span around the block and yield its id; a span opened
        inside it on the same thread becomes its child."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            stack.pop()
            self.add(name, layer, start, time.time(), parent, sid, **attrs)

    @contextlib.contextmanager
    def wrapped(self, owner: object, attr: str, layer: str, name: str | None = None,
                batch_arg: int | None = None) -> Iterator[None]:
        """Replace ``owner.attr`` with a span-recording wrapper (span name
        ``name``, default ``attr``) for the duration of the block.
        ``batch_arg`` is the position of the argument that carries the
        micro-batch id, recorded as ``batch_id``."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kw):
            attrs = {} if batch_arg is None else {"batch_id": args[batch_arg]}
            with tracer.span(name or attr, layer, **attrs):
                return orig(*args, **kw)

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def dump(self, path: str, **summary) -> None:
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": self.spans}, f)


def _covered(start: float, end: float, kids: list[dict]) -> float:
    """Length of [start, end] covered by the union of the kids' intervals."""
    iv = sorted(
        (max(k["start"], start), min(k["end"], end)) for k in kids
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict], roots: set[int] | None = None) -> dict[str, float]:
    """Seconds of self time per layer, over the trees rooted at ``roots``
    (every parentless span when None)."""
    kids: dict[int | None, list[dict]] = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    todo = [s for s in kids[None] if roots is None or s["id"] in roots]
    out: dict[str, float] = defaultdict(float)
    while todo:
        s = todo.pop()
        ch = kids.get(s["id"], [])
        out[s["layer"]] += (s["end"] - s["start"]) - _covered(s["start"], s["end"], ch)
        todo.extend(ch)
    return dict(out)
