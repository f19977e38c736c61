"""Spans recorded from the benchmark's own files.

Wrappers are installed around calls into the package's public
functions; nothing inside the package is edited. Spans are kept in
memory and written out once, when the process ends.

A span is (id, parent, request id, layer, name, start, end, attrs).
Times come from time.monotonic(), which is CLOCK_MONOTONIC and so is
comparable between processes on one host.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
import urllib.request

REQUEST_HEADER = "x-request-id"


class Tracer:
    def __init__(self, proc: str):
        self.proc = proc
        self.spans: list[list] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> list | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def begin(self, layer: str, name: str, parent=None, rid=None) -> list:
        top = self.current()
        if parent is None and top is not None:
            parent = top[0]
        if rid is None and top is not None:
            rid = top[2]
        span = [f"{self.proc}:{next(self._ids)}", parent, rid, layer, name,
                time.monotonic(), None, None]
        self._stack().append(span)
        return span

    def end(self, span: list, **attrs) -> None:
        span[6] = time.monotonic()
        if attrs:
            span[7] = attrs
        self._stack().pop()
        self.spans.append(span)

    @contextlib.contextmanager
    def span(self, layer: str, name: str, parent=None, rid=None):
        s = self.begin(layer, name, parent=parent, rid=rid)
        try:
            yield s
        except BaseException as exc:
            self.end(s, error=type(exc).__name__)
            raise
        self.end(s)

    def wrap(self, owner, attr: str, layer: str, after=None) -> None:
        """Replace owner.attr by a function that records a span around
        each call. `after(result, args) -> dict` may add attributes."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, attr) as s:
                out = fn(*args, **kwargs)
            if after is not None:
                s[7] = after(out, args)
            return out

        setattr(owner, attr, traced)

    def propagate_over_http(self) -> None:
        """Send the current span id to the server in the request-id
        header, so server spans can name their parent across processes."""
        real = urllib.request.urlopen
        tracer = self

        def urlopen(req, *args, **kwargs):
            top = tracer.current()
            if top is not None and isinstance(req, urllib.request.Request):
                req.add_header(REQUEST_HEADER, f"{top[0]}|{top[2]}")
            return real(req, *args, **kwargs)

        urllib.request.urlopen = urlopen

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def maybe_span(tracer: Tracer | None, layer: str, name: str, rid=None):
    """A span when tracing, else a context that records nothing."""
    return contextlib.nullcontext() if tracer is None else tracer.span(layer, name, rid=rid)


def parse_request_header(value: str | None) -> tuple[str | None, str | None]:
    if not value or "|" not in value:
        return None, None
    parent, rid = value.split("|", 1)
    return parent, (None if rid == "None" else rid)


# ------------------------------------------------------------ analysis

def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[list]) -> dict[str, float]:
    """Self time (seconds) of each span: its duration minus the part of
    its interval that its child spans cover."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s[1] is not None:
            children.setdefault(s[1], []).append((s[5], s[6]))
    out = {}
    for s in spans:
        start, end = s[5], s[6]
        clipped = [(max(a, start), min(b, end)) for a, b in children.get(s[0], ())
                   if min(b, end) > max(a, start)]
        out[s[0]] = (end - start) - union_length(clipped)
    return out


def adopt_orphans(spans: list[list], proc: str) -> None:
    """Give parent-less spans of process `proc` the innermost span of
    another process that contains them in time. Used for requests the
    program sends from processes the benchmark cannot wrap (Spark's
    Python workers); valid only while one op runs at a time."""
    others = sorted((s for s in spans if not s[0].startswith(proc + ":")),
                    key=lambda s: (s[5], -s[6]))
    for s in spans:
        if s[0].startswith(proc + ":") and s[1] is None:
            best = None
            for o in others:
                if o[5] > s[5]:
                    break
                if o[6] >= s[6] and (best is None or o[6] - o[5] <= best[6] - best[5]):
                    best = o
            if best is not None:
                s[1], s[2] = best[0], best[2]


def under_root(spans: list[list], root_layer: str) -> list[list]:
    """The spans whose root span (following parents) is of `root_layer`."""
    by_id = {s[0]: s for s in spans}

    def root_of(s):
        while s[1] is not None and s[1] in by_id:
            s = by_id[s[1]]
        return s

    return [s for s in spans if root_of(s)[3] == root_layer]


def layer_self_ms(spans: list[list], root_layer: str) -> dict[str, float]:
    """Total self time per layer (ms) over every span under a root span
    of `root_layer`."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for s in under_root(spans, root_layer):
        out[s[3]] = out.get(s[3], 0.0) + selfs[s[0]] * 1000.0
    return out
