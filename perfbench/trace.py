"""Spans around the program's public entry points, recorded from outside.

``Tracer.wrap`` replaces a module or class attribute of the program with
a wrapper that opens a span around each call; nothing inside the program
changes. A span is (name, start, end, parent, request id); spans
are kept in memory and written once by ``write``. A layer's self time is
its span's duration minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import json
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request_id: str | None = None

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str, lazy_collect: bool = False) -> None:
        """Open a span named ``name`` around every call of ``owner.attr``.
        With ``lazy_collect`` the call returns a DataFrame whose later
        ``collect()`` gets its own span ``name`` (the call itself only
        plans)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name + ".plan" if lazy_collect else name):
                out = orig(*a, **kw)
            return _CollectSpan(out, tracer, name) if lazy_collect else out

        setattr(owner, attr, wrapper)

    def write(self, path: str, counts: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, "counts": counts}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        t = self.t
        self.idx = len(t.spans)
        t.spans.append(
            {
                "name": self.name,
                "start": time.perf_counter(),
                "end": None,
                "parent": t._stack[-1] if t._stack else None,
                "request": t.request_id,
            }
        )
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.t._stack.pop()
        self.t.spans[self.idx]["end"] = time.perf_counter()
        return False


class _CollectSpan:
    """A DataFrame stand-in whose ``collect`` is traced; every other
    attribute is the DataFrame's own."""

    def __init__(self, df, tracer: Tracer, name: str):
        self._df = df
        self._tracer = tracer
        self._name = name

    def collect(self):
        with self._tracer.span(self._name):
            return self._df.collect()

    def __getattr__(self, attr):
        return getattr(self._df, attr)
