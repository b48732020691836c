"""In-memory span recorder for the traced benchmark run.

A span is (name, op id, span id, parent span id, start, end, attrs). The
parent is the innermost open span of the same thread; spans of one
operation share the op id. Nothing is written until :meth:`Tracer.dump`,
which the benchmark calls once at exit. A disabled tracer hands out one
shared no-op context, so the untraced run pays a method call per span and
records nothing.
"""

from __future__ import annotations

import itertools
import json
import threading
import time


class _NoSpan:
    __slots__ = ()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NO_SPAN = _NoSpan()


class _Span:
    __slots__ = ("tracer", "name", "op", "sid", "parent", "t0", "t1", "attrs")

    def __init__(self, tracer: "Tracer", name: str, op):
        self.tracer = tracer
        self.name = name
        self.op = op
        self.attrs: dict = {}

    def __enter__(self):
        stack = self.tracer._stack()
        parent = stack[-1] if stack else None
        self.parent = parent.sid if parent else None
        if self.op is None and parent is not None:
            self.op = parent.op
        self.sid = next(self.tracer._ids)
        stack.append(self)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb):
        self.t1 = time.perf_counter()
        self.tracer._stack().pop()
        if exc_type is not None:
            self.attrs["error"] = exc_type.__name__
        self.tracer._spans.append(self)
        return False


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self._spans: list[_Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, op=None):
        if not self.enabled:
            return _NO_SPAN
        return _Span(self, name, op)

    def spans(self) -> list[_Span]:
        return list(self._spans)

    def cost_per_span_s(self, n: int = 20000) -> float:
        """Measured cost of recording one nested span (enter + exit), on a
        throwaway tracer so the calibration spans are not reported."""
        probe = Tracer(True)
        with probe.span("calibrate"):
            t0 = time.perf_counter()
            for _ in range(n):
                with probe.span("x"):
                    pass
            dt = time.perf_counter() - t0
        return dt / n

    def dump(self, path: str) -> int:
        with open(path, "w") as f:
            for s in self._spans:
                f.write(
                    json.dumps(
                        {
                            "name": s.name,
                            "op": s.op,
                            "id": s.sid,
                            "parent": s.parent,
                            "start": s.t0,
                            "end": s.t1,
                            **({"attrs": s.attrs} if s.attrs else {}),
                        },
                        default=str,
                    )
                    + "\n"
                )
        return len(self._spans)
