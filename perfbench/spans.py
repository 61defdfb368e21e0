"""Spans recorded from outside the package, around calls into its layers.

A ``Tracer`` replaces selected package functions with wrappers that record
one span per call: name, start, end, parent span and trace id (the tick
number or the query key). Spans stay in memory until the run ends.

Two properties of the code under test shape the wrappers:

- A function is replaced everywhere its object is *bound*, not only in the
  module that defines it: ``runner`` imports ``list_objects`` and
  ``materialize`` by name, and operator modules import
  ``session_substrate`` by name.
- DataFrames are lazy, so a layer's cost lands in the ``materialize`` call
  that consumes its frame. Wrappers of frame-producing functions remember
  which layer produced each returned frame, and a ``materialize`` span is
  named after the producer of its input (``materialize:sync.diff``).

Each span sets its own Spark job group (``pb<index>``), so jobs the event
log records can be mapped back to the span that launched them.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import time
from dataclasses import dataclass

PACKAGE = "cloud_data_sync_spark"
MATERIALIZE = "tables.materialize"

# (defining module, function, span name, layer tag given to returned frames)
TARGETS: tuple[tuple[str, str, str, str | None], ...] = (
    ("cloud_data_sync_spark.runner", "sync_buckets", "tick", None),
    ("cloud_data_sync_spark.runner", "count_actions", "runner.report", None),
    ("cloud_data_sync_spark.sources.listing", "list_objects", "listing", None),
    ("cloud_data_sync_spark.sync", "sync_diff", "sync.diff", "sync.diff"),
    ("cloud_data_sync_spark.executor", "execute_plan", "executor", "executor"),
    ("cloud_data_sync_spark.state", "load_state", "state.load", None),
    ("cloud_data_sync_spark.state", "upsert", "state.merge", "state.merge"),
    ("cloud_data_sync_spark.state", "delete_keys", "state.merge", "state.merge"),
    ("cloud_data_sync_spark.state", "save_state", "state.save", None),
    ("cloud_data_sync_spark.state", "clear_mapping_partition", "state.save", None),
    ("cloud_data_sync_spark.tables", "materialize", MATERIALIZE, None),
    ("cloud_data_sync_spark.tables", "session_substrate", "tables.substrate", None),
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end <= reach:
            continue
        total += end - max(start, reach)
        reach = end
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        clipped = [(max(a, s.start), min(b, s.end)) for a, b in children.get(i, [])]
        out.append(s.duration - covered([c for c in clipped if c[1] > c[0]]))
    return out


def subtree(spans: list[Span], root: int) -> list[int]:
    """Indices of ``root`` and all its descendants (children follow parents)."""
    member = {root}
    for i in range(root + 1, len(spans)):
        if spans[i].parent in member:
            member.add(i)
    return sorted(member)


def group_id(index: int) -> str:
    return f"pb{index}"


class Tracer:
    """Records spans while ``active``; wrappers pass straight through
    otherwise, so one run can alternate traced and untraced operations."""

    def __init__(self, spark_context=None) -> None:
        self.sc = spark_context
        self.spans: list[Span] = []
        self.active = False
        self.trace_id = ""
        self._stack: list[int] = []
        self._producer: dict[int, tuple[str, object]] = {}
        self._installed: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def open(self, name: str) -> int:
        index = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.trace_id))
        self._stack.append(index)
        self._set_group(index)
        return index

    def close(self, index: int) -> None:
        self.spans[index].end = time.perf_counter()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around benchmark code; records nothing while inactive."""
        if not self.active:
            yield
            return
        index = self.open(name)
        try:
            yield
        finally:
            self.close(index)

    def _set_group(self, index: int | None) -> None:
        if self.sc is None:
            return
        if index is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group_id(index), self.spans[index].name)

    def begin(self, trace_id: str) -> None:
        """Start one traced operation (a tick or one query)."""
        self.trace_id = trace_id
        self._producer.clear()
        self.active = True

    def end(self) -> None:
        self.active = False
        self._producer.clear()

    # -- wrappers ----------------------------------------------------------
    def wrap(self, name: str, fn, tag: str | None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span = name
            if name == MATERIALIZE:
                df = args[0] if args else kwargs.get("df")
                span = f"materialize:{tracer._producer.get(id(df), ('other',))[0]}"
            index = tracer.open(span)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(index)
            if tag is not None:
                # keep the frame alive so its id() cannot be reused
                tracer._producer[id(out)] = (tag, out)
            return out

        return traced

    def install(self, targets=TARGETS) -> None:
        """Replace every binding of each target function in the package's
        loaded modules (aliases under other names included)."""
        for mod_name, attr, span, tag in targets:
            original = getattr(importlib.import_module(mod_name), attr)
            wrapped = self.wrap(span, original, tag)
            for module in bound_modules():
                for key, value in list(vars(module).items()):
                    if value is original:
                        setattr(module, key, wrapped)
                        self._installed.append((module, key, original))

    def uninstall(self) -> None:
        for module, key, original in reversed(self._installed):
            setattr(module, key, original)
        self._installed.clear()

    def bindings(self) -> list[str]:
        """``module.name`` of every replaced binding."""
        return sorted(f"{m.__name__}.{k}" for m, k, _ in self._installed)


def bound_modules() -> list:
    return [
        m
        for name, m in list(sys.modules.items())
        if m is not None and (name == PACKAGE or name.startswith(PACKAGE + "."))
    ]
