"""In-memory spans recorded around calls into the engine's modules.

Spans are taken from the benchmark's side of each call: `Tracer.wrap`
replaces a public function or method at run time, in this process only,
with a wrapper that opens a span around the original. Nothing in the
package is edited. Spans are kept in a list and written out when the
run ends.

The engine is driven by one client at a time: the streaming callback
runs while the thread that started the query waits, so one stack of
open spans serves every thread that calls a wrapped function.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while `active`. A span opened while inactive is
    still timed (its start and end are set) but not kept, so workload
    code can time its rounds through the same call in both modes."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, time.time(), run_id=self.run_id, attrs=dict(attrs))
        if not self.active:
            try:
                yield s
            finally:
                s.end = time.time()
            return
        with self._lock:
            s.parent = self._stack[-1] if self._stack else None
            self.spans.append(s)
            idx = len(self.spans) - 1
            self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.time()
            with self._lock:
                self._stack.remove(idx)

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace `owner.attr` with a spanned wrapper. `on_call(span,
        args, kwargs)` may rewrite the arguments before the call (it
        returns the new (args, kwargs)); the result lands in
        `span.attrs["result"]`."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name) as s:
                if on_call is not None:
                    args, kwargs = on_call(s, args, kwargs)
                out = orig(*args, **kwargs)
                s.attrs["result"] = out
                return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def to_json(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
            }
            for s in self.spans
        ]


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children are counted once)."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in ivs:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.dur - covered


def self_times_by_name(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name over a list of spans whose
    `parent` fields index into that same list."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s.name] = out.get(s.name, 0.0) + self_time(s, kids.get(i, []))
    return out
