"""Span tracing from outside the program.

The tracer wraps public functions of the engine's modules and records
one span per call: name, start, end, parent span and op id.  Each
wrapper replaces the function where its callers look it up -- every
loaded ``locopy_spark`` module that bound the function at import, plus
the defining module or class for callers that import at call time.
Spans are kept in memory; :meth:`Tracer.write` dumps them at the end.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time

from metrics import self_times, union_length


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[bool, dict[str, float]] = {False: {}, True: {}}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []
        self.op_id: int | None = None
        self._op_stack: list[int] | None = None  # the op thread's stack

    # -- recording ----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def count(self, name: str, value: float) -> None:
        """Add ``value`` to counter ``name`` of the current phase (set-up,
        or measured ops)."""
        with self._lock:
            c = self.counters[self.op_id is not None]
            c[name] = c.get(name, 0.0) + value

    def begin(self, name: str) -> dict:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            # a worker thread: its spans nest under whatever the op's
            # own thread is running when they start
            op_stack = self._op_stack
            parent = op_stack[-1] if op_stack else None
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        span = {"id": sid, "name": name, "parent": parent, "op": self.op_id,
                "start": time.perf_counter(), "end": None}
        stack.append(sid)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    def wrap(self, fn, name: str, after=None):
        """``fn`` recording a span ``name`` per call; ``after(tracer,
        result, args, kwargs)`` may record counters once the call
        returns."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.begin(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.end(span)
            if after is not None:
                after(self, result, args, kwargs)
            return result

        return traced

    # -- patching -----------------------------------------------------------
    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def patch_function(self, module, attr: str, name: str, after=None) -> None:
        """Wrap ``module.attr`` and every other loaded ``locopy_spark``
        module attribute bound to the same function object."""
        original = getattr(module, attr)
        traced = self.wrap(original, name, after)
        mods = [module] + [
            m for m in list(sys.modules.values())
            if m is not module and getattr(m, "__name__", "").startswith("locopy_spark")
        ]
        for mod in mods:
            for key, val in list(vars(mod).items()):
                if val is original:
                    self._set(mod, key, traced)

    def patch_method(self, cls, attr: str, name: str, after=None) -> None:
        self._set(cls, attr, self.wrap(cls.__dict__[attr], name, after))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- ops ------------------------------------------------------------------
    def start_op(self, op_id: int, kind: str) -> dict:
        self.op_id = op_id
        span = self.begin(f"op.{kind}")
        self._op_stack = self._stack()
        return span

    def end_op(self, span: dict) -> None:
        self.end(span)
        self.op_id = None
        self._op_stack = None

    # -- summaries ------------------------------------------------------------
    def layer_metrics(self, in_ops: bool) -> dict[str, float]:
        """``<name>.calls``, ``<name>.busy_s`` (union of the name's span
        intervals) and ``<name>.self_s`` for every span name, over the
        spans of measured ops (``in_ops``) or of set-up, plus the
        counters recorded in the same phase."""
        spans = [s for s in self.spans if (s["op"] is not None) == in_ops]
        by_op: dict[object, list[dict]] = {}
        for s in spans:
            by_op.setdefault(s["op"], []).append(s)
        selfs: dict[int, float] = {}
        for group in by_op.values():
            selfs.update(self_times(group))
        names: dict[str, list[dict]] = {}
        for s in spans:
            names.setdefault(s["name"], []).append(s)
        out: dict[str, float] = {}
        for name, group in names.items():
            out[f"{name}.calls"] = float(len(group))
            out[f"{name}.busy_s"] = union_length([(s["start"], s["end"]) for s in group])
            out[f"{name}.self_s"] = sum(selfs[s["id"]] for s in group)
        out.update(self.counters[in_ops])
        return out

    def self_sum_excess(self) -> float:
        """Max over ops of (sum of the op's span self times - op wall
        time); <= 0 when self time is accounted correctly."""
        worst = float("-inf")
        by_op: dict[object, list[dict]] = {}
        for s in self.spans:
            if s["op"] is not None:
                by_op.setdefault(s["op"], []).append(s)
        for spans in by_op.values():
            root = [s for s in spans if s["name"].startswith("op.")]
            if not root:
                continue
            wall = root[0]["end"] - root[0]["start"]
            worst = max(worst, sum(self_times(spans).values()) - wall)
        return worst if worst != float("-inf") else 0.0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
