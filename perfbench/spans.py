"""In-memory span recorder for the benchmark's own calls into the engine.

A span is (name, start, end, parent) with wall-clock epoch seconds, so
spans line up with the millisecond timestamps of Spark's event log.
Spans stay in memory until the benchmark writes them out at the end.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; the innermost open span is the parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, parent, time.time())
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def named(self, name: str, under: Span | None = None) -> list[Span]:
        """Closed spans called ``name``, optionally only those below ``under``."""
        found = [s for s in self.spans if s.name == name]
        if under is None:
            return found
        return [s for s in found if self.is_below(s, under)]

    def is_below(self, s: Span, ancestor: Span) -> bool:
        p = s.parent
        while p is not None:
            if p == ancestor.id:
                return True
            p = self.spans[p].parent
        return False

    def total(self, name: str, under: Span | None = None) -> float:
        return sum(s.seconds for s in self.named(name, under))

    def as_dicts(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
