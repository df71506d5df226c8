"""Span recorder for the traced run.

Spans are recorded around calls into ``naru_spark``'s public functions by
patching them from the benchmark (the program itself carries no tracing).
Each span is ``(id, name, start, end, parent_id, phase)``; the parent is
the innermost open span of the same thread. Spans stay in memory and are
summarised when the run ends.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict

from perfbench.stats import self_time


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self.phase = "setup"
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    # ------------------------------------------------------------ record
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, *args, **kwargs):
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans[sid] = (sid, name, t0, t1, parent, self.phase)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a recording wrapper until
        ``restore``."""
        orig = owner.__dict__[attr]

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(name, orig, *args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ----------------------------------------------------------- summary
    def of(self, name: str, phase: str | None = None) -> list[tuple]:
        return [
            s for s in self.spans
            if s is not None and s[1] == name and (phase is None or s[5] == phase)
        ]

    def total(self, name: str, phase: str | None = None) -> float:
        return sum(s[3] - s[2] for s in self.of(name, phase))

    def count(self, name: str, phase: str | None = None) -> int:
        return len(self.of(name, phase))

    def self_total(self, name: str, child_names: set[str], phase: str | None = None) -> float:
        """Summed self time of ``name`` spans, counting only children
        whose name is in ``child_names``."""
        kids = defaultdict(list)
        for s in self.spans:
            if s is not None and s[4] is not None and s[1] in child_names:
                kids[s[4]].append((s[2], s[3]))
        return sum(self_time(s[2], s[3], kids[s[0]]) for s in self.of(name, phase))

    def per_span_cost_s(self, calls: int = 20_000) -> float:
        """Calibrated cost of recording one span (wrapped minus bare
        call), for stating the traced run's own overhead."""
        probe = Tracer()

        def noop():
            return None

        t0 = time.perf_counter()
        for _ in range(calls):
            noop()
        bare = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(calls):
            probe.call("probe", noop)
        return max(0.0, (time.perf_counter() - t0 - bare) / calls)
