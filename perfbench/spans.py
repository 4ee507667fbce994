"""In-memory span tracer used by traced runs (``--trace 1``).

A span records name, start, end, parent span and operation id. Spans
are kept in a list and written out once, when the run ends. Public
methods of the program are wrapped from here (``Tracer.wrap``), so no
file of the program changes.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager, nullcontext


class NullTracer:
    """Tracing off: spans cost one attribute lookup."""

    op: int | None = None
    overhead_s = 0.0
    _null = nullcontext()

    def span(self, name: str):
        return self._null

    def reset(self) -> None:
        pass


class Tracer:
    def __init__(self) -> None:
        # one row per span: [name, start, end, parent index, op id]
        self.spans: list[list] = []
        self.op: int | None = None
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        #: seconds spent in tracer bookkeeping and counter reads
        self.overhead_s = 0.0

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def reset(self) -> None:
        """Drop the spans recorded so far (set-up and warm-up)."""
        self.spans.clear()
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        stack = self._stack()
        # a span opened on a helper thread (a streaming sink callback)
        # hangs under the span the main thread is blocked in
        if stack:
            parent = stack[-1]
        elif self._main_stack:
            parent = self._main_stack[-1]
        else:
            parent = None
        idx = len(self.spans)
        self.spans.append([name, 0.0, None, parent, self.op])
        stack.append(idx)
        t0 = time.perf_counter()
        self.spans[idx][1] = t0
        self.overhead_s += t0 - t
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans[idx][2] = t1
            stack.pop()
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self) -> list[float]:
        """Per span: its duration minus the part its children cover."""
        out = [s[2] - s[1] for s in self.spans]
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s[3] is not None:
                children.setdefault(s[3], []).append((s[1], s[2]))
        for idx, ivs in children.items():
            lo, hi = self.spans[idx][1], self.spans[idx][2]
            covered, cur_s, cur_e = 0.0, None, None
            clipped = ((max(a, lo), min(b, hi)) for a, b in ivs)
            for a, b in sorted(iv for iv in clipped if iv[1] > iv[0]):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[idx] -= covered
        return out

    def by_name(self, what: str = "total") -> dict[str, float]:
        """Summed duration (``total``) or self time (``self``) per name."""
        vals = self.self_times() if what == "self" else [
            s[2] - s[1] for s in self.spans
        ]
        acc: dict[str, float] = {}
        for s, v in zip(self.spans, vals):
            acc[s[0]] = acc.get(s[0], 0.0) + v
        return acc

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s[0] == name)

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for i, (s, st) in enumerate(zip(self.spans, selfs)):
                fh.write(json.dumps({
                    "id": i, "name": s[0], "start": s[1], "end": s[2],
                    "parent": s[3], "op": s[4], "self": st,
                }) + "\n")
