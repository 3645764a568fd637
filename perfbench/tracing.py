"""Spans around the engine's public functions, recorded from the benchmark.

A traced run wraps each layer's entry points where callers look them up
(a module that imports a function by name holds its own reference, so the
wrapper is installed there too). Spans are kept in memory and written out
with the run's details file. Untraced runs install nothing.

The span stack is shared by all threads: a ``foreachBatch`` body runs on a
callback thread while the driver thread blocks in ``awaitTermination``, so
its spans nest under the streaming query's span.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from contextlib import contextmanager

PKG = "datastream_deltalake_connector_spark"

# (module, attribute, span name); every binding of one function gets the
# same span name
FUNCTIONS = [
    ("sources.cdc", "read_table_batch", "sources.read_table_batch"),
    ("streaming.ingest", "read_table_batch", "sources.read_table_batch"),
    ("streaming.ingest", "merge_into_table", "operators.merge_into_table"),
    ("operators.table_merge", "merge_into_table", "operators.merge_into_table"),
    ("operators.table_merge", "prune_candidates", "operators.prune_candidates"),
    ("operators.mor", "prune_candidates", "operators.prune_candidates"),
    ("operators.mor", "merge_into_table_mor", "operators.merge_into_table_mor"),
    ("operators.mor", "apply_deletes", "operators.apply_deletes"),
    ("operators.compaction", "compact", "operators.compact"),
    ("operators.clustering", "cluster", "operators.cluster"),
    ("operators.expire", "expire_snapshots", "operators.expire_snapshots"),
    ("operators.expire", "remove_orphans", "operators.remove_orphans"),
]
# streaming entry points return a started query; their span ends when the
# caller's awaitTermination returns
QUERIES = [
    ("streaming.ingest", "ingest_table_to_log", "streaming.ingest_table_to_log"),
    ("streaming.ingest", "merge_log_to_table", "streaming.merge_log_to_table"),
]
METHODS = [
    ("sources.discovery", "LocalTableSource", "list_tables", "sources.list_tables"),
    ("table.icepack", "IcepackTable", "files", "table.files"),
    ("table.icepack", "IcepackTable", "commit", "table.commit"),
    ("table.icepack", "IcepackTable", "write_data_files", "table.write_data_files"),
    ("table.icepack", "IcepackTable", "collect_file_entries", "table.collect_file_entries"),
    ("table.icepack", "IcepackTable", "delete_hit_candidates", "table.delete_hit_candidates"),
    ("table.icepack", "IcepackTable", "scan", "table.scan"),
    ("sql", "IcepackSQL", "execute", "sql.execute"),
]
STATICS = [("sources.cdc", "TableMetadata", "from_df", "sources.from_df")]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self._wrappers: dict[int, object] = {}
        self.op_id: str | None = None

    # ------------------------------------------------------------- spans
    def open(self, name: str, **attrs) -> dict:
        with self._lock:
            parent = self._stack[-1]["id"] if self._stack else None
            span = {
                "id": len(self.spans),
                "name": name,
                "parent": parent,
                "op": self.op_id,
                "start": time.perf_counter(),
                "end": None,
                **attrs,
            }
            self.spans.append(span)
            self._stack.append(span)
        return span

    def close(self, span: dict) -> None:
        with self._lock:
            span["end"] = time.perf_counter()
            if span in self._stack:
                self._stack.remove(span)

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    # ----------------------------------------------------------- wrapping
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
            except BaseException as exc:
                s["error"] = type(exc).__name__
                raise
            finally:
                tracer.close(s)
            _annotate(s, name, args, kwargs, out)
            return out

        return wrapper

    def _wrap_query(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = tracer.open(name)
            try:
                return _QuerySpan(fn(*args, **kwargs), tracer, s)
            except BaseException:
                tracer.close(s)
                raise

        return wrapper

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def _patch(self, module, attr: str, name: str, wrap) -> None:
        """One wrapper per function, installed at every binding of it."""
        fn = module.__dict__[attr]
        if id(fn) not in self._wrappers:
            self._wrappers[id(fn)] = wrap(fn, name)
        self._set(module, attr, self._wrappers[id(fn)])

    def install(self) -> None:
        # import everything first: a module imported after a patch would
        # bind the wrapper, and patching it again would nest two spans
        for spec in FUNCTIONS + QUERIES + METHODS + STATICS:
            importlib.import_module(f"{PKG}.{spec[0]}")
        for mod, attr, name in FUNCTIONS:
            self._patch(importlib.import_module(f"{PKG}.{mod}"), attr, name, self._wrap)
        for mod, attr, name in QUERIES:
            self._patch(importlib.import_module(f"{PKG}.{mod}"), attr, name, self._wrap_query)
        for mod, cls, attr, name in METHODS:
            c = getattr(importlib.import_module(f"{PKG}.{mod}"), cls)
            self._set(c, attr, self._wrap(c.__dict__[attr], name))
        for mod, cls, attr, name in STATICS:
            c = getattr(importlib.import_module(f"{PKG}.{mod}"), cls)
            self._set(c, attr, staticmethod(self._wrap(c.__dict__[attr].__func__, name)))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)

    def wrapper_cost_s(self, calls: int = 20_000) -> float:
        """Per-call cost of a span wrapper around a no-op function."""
        probe = Tracer()
        f = probe._wrap(lambda: None, "probe")
        t0 = time.perf_counter()
        for _ in range(calls):
            f()
        return (time.perf_counter() - t0) / calls


class _QuerySpan:
    """A started StreamingQuery whose span closes when it terminates."""

    def __init__(self, query, tracer: Tracer, span: dict):
        self._query, self._tracer, self._span = query, tracer, span

    def awaitTermination(self, *args, **kwargs):
        try:
            return self._query.awaitTermination(*args, **kwargs)
        finally:
            self._span["microbatches"] = len(self._query.recentProgress)
            self._tracer.close(self._span)

    def __getattr__(self, attr):
        return getattr(self._query, attr)


def _annotate(span: dict, name: str, args, kwargs, out) -> None:
    """Counts recorded where the work happens."""
    if name == "operators.prune_candidates":
        entries = args[0] if args else kwargs["entries"]
        span["files_in"] = sum(1 for e in entries if e.content == "data")
        span["files_kept"] = len(out[0])


class SparkJobs:
    """Spark jobs, tasks and failed tasks finished since the last ``take``,
    read from the driver's application status store."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._seen = -1
        self.take()

    def take(self) -> dict:
        jobs = self._store.jobsList(None)
        out = {"jobs": 0, "tasks": 0, "failed_tasks": 0}
        newest = self._seen
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._seen:
                continue
            newest = max(newest, jid)
            out["jobs"] += 1
            out["tasks"] += job.numTasks()
            out["failed_tasks"] += job.numFailedTasks()
        self._seen = newest
        return out
