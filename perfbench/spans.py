"""Span tracer for the traced benchmark run.

Spans are recorded from outside the engine: `patched` swaps public
functions and methods for `traced` wrappers. A wrapper opens a span
around the call and materializes (caches and counts) the DataFrame the
call returns inside that span, so the layer's lazy work lands there
instead of in whichever later action first consumes it. A snapshot
commit's input is materialized before its span opens, so the commit span
holds the write and the work producing the rows stays with the caller.
Other lazy glue the caller builds between layer calls (unions,
projections, observations) runs inside the next span that consumes it.

A span is (id, name, start, end, parent). Spans stay in memory and are
written out once, by `Tracer.dump`, when the benchmark ends. A span's
self time is its duration minus the part of its interval covered by its
child spans (`self_times`).
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._cached: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        sp = {"id": len(self.spans), "name": name,
              "parent": self._stack[-1] if self._stack else None,
              "start": time.perf_counter(), "end": None}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def materialize(self, df):
        """Compute `df` now and keep its rows cached for later consumers;
        returns (frame to use from here on, row count). Frames cached
        here are released by `release`."""
        if df.is_cached:
            return df, df.count()
        df = df.cache()
        self._cached.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def traced(tracer: Tracer, name: str, fn, sink: bool = False):
    """`fn` inside a span called `name`, its DataFrame result materialized
    inside the span. sink: `fn` writes its DataFrame argument (a snapshot
    commit); that argument is materialized before the span opens, so the
    work producing it is charged to the caller and the span holds the
    write alone."""
    from pyspark.sql import DataFrame

    def wrapper(*args, **kwargs):
        if sink:
            args = [tracer.materialize(a)[0] if isinstance(a, DataFrame)
                    else a for a in args]
        with tracer.span(name) as sp:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out, sp["rows_out"] = tracer.materialize(out)
        return out
    wrapper.__wrapped__ = fn
    return wrapper


@contextlib.contextmanager
def patched(tracer: Tracer, targets):
    """targets: (owner, attribute, span name, sink) tuples; each attribute
    is replaced by its `traced` wrapper and restored on exit, also when
    the body raises."""
    saved = []
    try:
        for owner, attr, name, sink in targets:
            orig = owner.__dict__[attr]
            saved.append((owner, attr, orig))
            setattr(owner, attr, traced(tracer, name, orig, sink))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals
    clipped to the span, so overlapping children are not counted twice."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, lo_run, hi_run = 0.0, None, None
        for lo, hi in sorted((max(c["start"], s["start"]),
                              min(c["end"], s["end"]))
                             for c in children[s["id"]]):
            if hi <= lo:
                continue
            if hi_run is None or lo > hi_run:
                if hi_run is not None:
                    covered += hi_run - lo_run
                lo_run, hi_run = lo, hi
            else:
                hi_run = max(hi_run, hi)
        if hi_run is not None:
            covered += hi_run - lo_run
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
