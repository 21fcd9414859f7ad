"""Spans recorded around the calls into each layer, from the benchmark's side.

A span is (id, name, start, end, parent, run id). Spans are kept in memory
and written out once at the end. Patched entry points:

- ``cognee_spark.pipeline.run_stage`` (the pipeline imports it by name, so
  the pipeline module's binding is the one patched) → ``stage:<name>``, and
  the ``build`` thunk it is handed → ``plan:<name>``
- ``TableStore.write`` → ``write:<table>``
- ``TableStore.checkpoint`` → ``checkpoint:<stage>``
- ``cognee_spark.search.search`` → ``search:<TYPE>``
"""

from __future__ import annotations

import itertools
import json
import math
import threading
import time
from contextlib import contextmanager


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of (start, end) intervals."""
    total, cursor = 0.0, -math.inf
    for start, end in sorted(intervals):
        start = max(start, cursor)
        if end > start:
            total += end - start
            cursor = end
    return total


class Tracer:
    def __init__(self):
        self.spans: list[tuple[int, str, float, float, int | None, str]] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root: int | None = None
        self._run_id = ""
        self._restore: list = []

    @contextmanager
    def span(self, name: str, run_id: str | None = None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        # a pool thread (the pipeline's summaries stage) has no span of its
        # own yet: hang it under the operation that started it
        parent = stack[-1] if stack else self._root
        with self._lock:
            span_id = next(self._ids)
        if run_id is not None:
            self._run_id, self._root = run_id, span_id
        stack.append(span_id)
        start = time.perf_counter()
        try:
            yield span_id
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((span_id, name, start, end, parent, self._run_id))
            if run_id is not None:
                self._root = None

    def install(self) -> None:
        import cognee_spark.pipeline as pipeline
        import cognee_spark.search as search_mod
        from cognee_spark.store import TableStore

        tracer = self
        run_stage, write, checkpoint, search = (
            pipeline.run_stage, TableStore.write, TableStore.checkpoint, search_mod.search,
        )

        def traced_run_stage(store, spark, stage, signature, build, *args, **kwargs):
            def traced_build():
                with tracer.span(f"plan:{stage}"):
                    return build()

            with tracer.span(f"stage:{stage}"):
                return run_stage(store, spark, stage, signature, traced_build, *args, **kwargs)

        def traced_write(self, df, name, partition_by=None):
            with tracer.span(f"write:{name}"):
                return write(self, df, name, partition_by=partition_by)

        def traced_checkpoint(self, stage, signature, **metrics):
            with tracer.span(f"checkpoint:{stage}"):
                return checkpoint(self, stage, signature, **metrics)

        def traced_search(spark, tables, search_type, query, *args, **kwargs):
            with tracer.span(f"search:{search_type.upper()}"):
                return search(spark, tables, search_type, query, *args, **kwargs)

        pipeline.run_stage = traced_run_stage
        TableStore.write = traced_write
        TableStore.checkpoint = traced_checkpoint
        search_mod.search = traced_search
        self._restore = [
            (pipeline, "run_stage", run_stage),
            (TableStore, "write", write),
            (TableStore, "checkpoint", checkpoint),
            (search_mod, "search", search),
        ]

    def uninstall(self) -> None:
        for owner, attr, original in self._restore:
            setattr(owner, attr, original)
        self._restore = []

    def self_times(self) -> dict[int, float]:
        """Span id → its duration minus the part of it its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for _id, _name, start, end, parent, _run in self.spans:
            if parent is not None:
                children.setdefault(parent, []).append((start, end))
        out = {}
        for span_id, _name, start, end, _parent, _run in self.spans:
            kids = [(max(c_start, start), min(c_end, end)) for c_start, c_end in children.get(span_id, ())]
            out[span_id] = (end - start) - union_length(kids)
        return out

    def write(self, path) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for span_id, name, start, end, parent, run_id in self.spans:
                f.write(json.dumps({
                    "id": span_id, "name": name, "start": start, "end": end,
                    "parent": parent, "run": run_id, "self_s": selfs[span_id],
                }) + "\n")
