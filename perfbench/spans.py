"""Spans recorded around the calls the benchmark makes, and the self time
of each layer derived from them."""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory. Disabled
    until the traced part of a run switches it on.

    A span opened on another thread with no span of its own open (Spark's
    stream thread runs the micro-batches, and the compactions in them) is
    a child of the innermost span open on the thread that made the tracer,
    which is the call waiting for that work."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._ids = itertools.count()  # next() on it is atomic under the GIL

    @contextmanager
    def span(self, name: str, phase: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stacks.setdefault(threading.get_ident(), [])
        owner = stack or self._stacks.get(self._main, [])
        top = owner[-1:]  # one read: the owning thread may pop meanwhile
        sid = next(self._ids)
        parent = top[0] if top else None
        stack.append(sid)
        start, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            stack.pop()
            self.spans.append({"id": sid, "name": name, "phase": phase,
                               "parent": parent, "start": start,
                               "end": start + time.perf_counter() - t0,
                               "run_id": self.run_id})


def span_name(module, attr: str) -> str:
    """``<layer>.<function>``, the layer being the engine module's path
    below the package (``codecs.fsst.build_table``)."""
    return f"{module.__name__.removeprefix('orc_format_spark.')}.{attr}"


def layer_of(name: str) -> str:
    return name.rsplit(".", 1)[0]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: the sum over its spans of duration minus the part of it
    that child spans cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids[s["id"]])
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[layer_of(s["name"])] += (s["end"] - s["start"]) - covered
    return dict(out)


@contextmanager
def wrapped(tracer: Tracer, targets, phase: str | None = None):
    """Replace each (module, attribute) function by one that records a
    span around the original; restore the originals on exit."""
    saved = []

    def make(orig, name):
        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name, phase=phase):
                return orig(*a, **kw)
        return traced

    for mod, attr in targets:
        orig = getattr(mod, attr)
        setattr(mod, attr, make(orig, span_name(mod, attr)))
        saved.append((mod, attr, orig))
    try:
        yield
    finally:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)
