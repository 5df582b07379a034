"""In-memory span tracer and layer instrumentation for traced runs.

Spans are plain dicts ``{id, parent, name, start, dur, ...}`` kept in
one list and written once, at the end of the run. Parent ids follow a
per-thread stack, so spans opened in the streaming sink's callback
thread nest correctly. Nothing here edits the package: layer functions
are wrapped in place at run time (:func:`instrument`), and a wrapper
costs one attribute read when tracing is switched off.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "dex_data_ingestor_spark"


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": len(self.spans),
            "parent": stack[-1] if stack else None,
            "name": name,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> own duration minus its children's durations."""
        own = {s["id"]: s["dur"] for s in self.spans if "dur" in s}
        for s in self.spans:
            if s["parent"] is not None and "dur" in s:
                own[s["parent"]] -= s["dur"]
        return own

    def by_name(self, name: str) -> list[float]:
        """Durations of the finished spans called ``name``."""
        return [s["dur"] for s in self.spans if s["name"] == name and "dur" in s]

    def totals_within(self, name: str, parent_name: str) -> dict[int, float]:
        """Parent span id -> summed self time of ``name`` spans below it."""
        own = self.self_times()
        parent_of = {s["id"]: s["parent"] for s in self.spans}
        names = {s["id"]: s["name"] for s in self.spans}
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] != name or s["id"] not in own:
                continue
            p = s["parent"]
            while p is not None and names[p] != parent_name:
                p = parent_of[p]
            if p is not None:
                out[p] += own[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _spanned(tracer: Tracer, orig, span_name: str):
    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        if not tracer.active:
            return orig(*args, **kwargs)
        with tracer.span(span_name):
            return orig(*args, **kwargs)

    return wrapper


def instrument(tracer: Tracer, owner, attr: str, span_name: str) -> None:
    """Wrap ``owner.attr`` (a module function or a class method) in a
    span. Package modules that imported the function by name get the
    wrapper too, so every call path is timed."""
    orig = getattr(owner, attr)
    wrapper = _spanned(tracer, orig, span_name)
    setattr(owner, attr, wrapper)
    for name, mod in list(sys.modules.items()):
        if name.startswith(PACKAGE) and getattr(mod, attr, None) is orig:
            setattr(mod, attr, wrapper)


def wrap_mapping(tracer: Tracer, mapping: dict, key: str, span_name: str) -> None:
    """Wrap one entry of a function registry (e.g. the ETL task table)."""
    mapping[key] = _spanned(tracer, mapping[key], span_name)
