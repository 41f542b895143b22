"""In-memory spans recorded around calls into the program's layers.

The tracer patches public functions and methods from the outside (the
program carries no tracing code of its own), records one span per call
(name, start, end, parent, op id) and writes them out once at the end.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans. A span's parent is the innermost open span on the
    same thread; spans opened on other threads (Spark action threads,
    listener threads, detached jobs) hang off the current op's root."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple] = []
        self.op: int | None = None
        self.root: int | None = None

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sp = Span(next(self._ids), name, time.time(), 0.0,
                  stack[-1] if stack else self.root, self.op, dict(attrs))
        stack.append(sp.sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def op_scope(self, op: int, name: str = "op"):
        """Root span of one benchmark op; every span until it closes,
        on any thread, carries ``op``."""
        self.op = op
        try:
            with self.span(name) as root:
                self.root = root.sid
                yield root
        finally:
            self.root = None
            self.op = None

    def patch(self, owner, attr: str, name: str, describe=None, before=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span
        named ``name``. ``before(args, kwargs)`` and, on success,
        ``describe(args, kwargs, result)`` may return attributes to
        attach to it."""
        own = attr in vars(owner)
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            extra = before(args, kwargs) if before is not None else {}
            with tracer.span(name, **extra) as sp:
                result = original(*args, **kwargs)
                if describe is not None:
                    sp.attrs.update(describe(args, kwargs, result))
                return result

        self._patches.append((owner, attr, vars(owner)[attr] if own else None, own))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original, own = self._patches.pop()
            if own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON line."""
        own = self_times(self.spans)
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({**asdict(sp), "self_s": own[sp.sid]}, default=str) + "\n")


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi
    )
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[int, float]:
    """Each span's duration minus the part its child spans cover."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    return {
        sp.sid: sp.duration - covered(
            [(c.start, c.end) for c in children.get(sp.sid, ())], sp.start, sp.end
        )
        for sp in spans
    }
