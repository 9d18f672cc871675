"""Spans around the calls into each layer, recorded from the benchmark's own
files by wrapping entry points of the engine (and, in workloads.py, of
PySpark).

A span has an id, a name, a parent span, a start and an end (ns, from
`time.perf_counter_ns`) and the benchmark operation it belongs to (0 for
set-up and the checks between and after operations).  Spans stay in
memory; `Tracer.dump` writes them out when the run ends.  A span's self
time is its duration minus the part of it that its child spans cover.
Counts recorded at the same boundaries during timed operations go into
`Tracer.counts`.

`install` patches class and module attributes and returns a function that
restores them, so one process can run traced and untraced operations.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from collections import defaultdict
from contextlib import contextmanager


def _sql_chars(counts, sql) -> None:
    counts["frontend.sql_chars"] += len(sql)


# (module, attribute path, span name, result hook): the layer boundaries
ENTRY_POINTS = [
    ("wvlet_spark.server", "WvletServer.execute_request",
     "server.execute_request", None),
    ("wvlet_spark.session", "WvletSession.__init__", "session.init", None),
    ("wvlet_spark.session", "WvletSession.run", "session.run", None),
    ("wvlet_spark.session", "WvletSession.compile_to_sql",
     "session.compile_to_sql", None),
    ("wvlet_spark.parser", "Parser.parse_statements", "frontend.parse", None),
    ("wvlet_spark.analyzer", "Analyzer.resolve", "frontend.analyze", None),
    ("wvlet_spark.generator", "SqlGenerator.generate", "frontend.codegen",
     _sql_chars),
    ("wvlet_spark.joinorder", "reorder_joins", "joinorder.reorder", None),
    ("wvlet_spark.stats", "parquet_table_stats", "joinorder.stats", None),
    ("wvlet_spark.sql_import", "sql_to_wvlet", "sql_import.convert", None),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[int, str, int, int, int, int]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op = 0     # the timed operation running now, 0 outside one
        self.ops = 0    # timed operations started so far
        self._stack: list[tuple[int, str]] = []
        self._next = 1

    @contextmanager
    def span(self, name: str):
        sid = self._next
        self._next += 1
        parent = self._stack[-1][0] if self._stack else 0
        self._stack.append((sid, name))
        start = time.perf_counter_ns()
        try:
            yield
        finally:
            end = time.perf_counter_ns()
            self._stack.pop()
            self.spans.append((sid, name, parent, start, end, self.op))

    def current(self) -> str | None:
        """Name of the innermost open span."""
        return self._stack[-1][1] if self._stack else None

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if on_result is not None and self.op:
                on_result(self.counts, result)
            return result
        return traced

    def timed_spans(self):
        """Spans of timed operations (op > 0), not of set-up or checks."""
        return [s for s in self.spans if s[5] > 0]

    def self_ms(self) -> dict[str, float]:
        """Summed self time per span name over timed operations, in ms."""
        child_ns: dict[int, int] = defaultdict(int)
        for _sid, _name, parent, start, end, _op in self.timed_spans():
            if parent:
                child_ns[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for sid, name, _parent, start, end, _op in self.timed_spans():
            out[name] += (end - start - child_ns[sid]) / 1e6
        return out

    def total_ms(self, name: str, parent: str | None = None) -> float:
        """Summed duration of timed spans called `name`, optionally only
        those whose parent span is called `parent`, in ms."""
        names = {s[0]: s[1] for s in self.spans}
        return sum((end - start) / 1e6
                   for _sid, n, par, start, end, _op in self.timed_spans()
                   if n == name and (parent is None or names.get(par) == parent))

    def longest_ms(self, name: str) -> float:
        """Duration of the longest span called `name`, set-up included."""
        return max(((s[4] - s[3]) / 1e6 for s in self.spans if s[1] == name),
                   default=0.0)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.timed_spans() if s[1] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [{"id": sid, "name": name, "parent": parent,
                           "start_ns": start, "end_ns": end, "op": op}
                          for sid, name, parent, start, end, op in self.spans],
                "counts": dict(self.counts)}, f)


def _owner(module: str, path: str):
    owner = importlib.import_module(module)
    *outer, attr = path.split(".")
    for part in outer:
        owner = getattr(owner, part)
    return owner, attr


def install(tracer: Tracer, extra=()):
    """Wrap every ENTRY_POINTS function in a span, and apply `extra`:
    (owner, attribute, factory) triples where factory(original) returns
    the replacement.  Returns a function that restores the originals."""
    patches = []
    for module, path, name, hook in ENTRY_POINTS:
        owner, attr = _owner(module, path)
        patches.append((owner, attr, functools.partial(
            tracer.wrap, name, on_result=hook)))
    patches.extend(extra)
    originals = []
    for owner, attr, factory in patches:
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        setattr(owner, attr, factory(orig))
        originals.append((owner, attr, orig))

    def restore() -> None:
        for owner, attr, orig in reversed(originals):
            setattr(owner, attr, orig)
    return restore
