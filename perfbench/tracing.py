"""Spans recorded by the benchmark's own wrappers around the program's
public calls.

A span has a name, a layer, start and end (``perf_counter`` seconds),
the span that caused it and the op it belongs to. Spans stay in memory
and are written once, when the run ends. A layer's self time is the
span duration minus the part of it that child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        # The op a single-client replay is driving. Wrappers that run on
        # a server thread, which has no op of its own, take it from here.
        self.current_op: str | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def op_id(self) -> str | None:
        return getattr(self._local, "op", None) or self.current_op

    @contextmanager
    def op(self, op_id: str):
        """Mark the calling thread's work as op ``op_id``."""
        prev = getattr(self._local, "op", None)
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = prev

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        stack = self._stack()
        rec = {"id": next(self._ids), "name": name, "layer": layer,
               "parent": stack[-1] if stack else None, "op": self.op_id(),
               "start": time.perf_counter(), "end": None, **attrs}
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, layer: str, name: str | None = None,
             before=None, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span.
        ``before(rec, args)`` / ``after(rec, args, result)`` may add
        attributes to the span."""
        original = getattr(owner, attr)
        label = name or f"{layer}.{attr}"
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(label, layer) as rec:
                if before is not None:
                    before(rec, args)
                result = original(*args, **kwargs)
                if after is not None:
                    after(rec, args, result)
                return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_self_s(spans: list[dict]) -> dict[str, float]:
    """Layer → summed self time over all spans of that layer."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out
