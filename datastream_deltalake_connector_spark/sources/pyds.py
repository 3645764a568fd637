"""icepack as a registered Spark data source (PySpark 4 Python DataSource API).

Makes the table format a first-class citizen of the ordinary reader surface:

    from datastream_deltalake_connector_spark.sources.pyds import register
    register(spark)

    spark.read.format("icepack").option("path", root).load()          # batch
    spark.read.format("icepack").option("path", root) \\
         .option("version", 3).load()                                  # pinned
    ...option("ref", "audit") / option("timestampAsOf", epoch_ms)      # refs/TT
    spark.readStream.format("icepack").option("path", root).load()     # stream

Batch path (``IcepackBatchReader``):
- **Filter pushdown** (``pushFilters``): =, <, <=, >, >=, IN on top-level
  columns translate to the manifest language and prune files BEFORE Spark
  plans the scan — stats min/max + null counts, per-file key Bloom filters,
  and partition-transform values all engage (same machinery as
  ``IcepackTable.scan``). Every filter is returned as unsupported, so Spark
  re-applies them row-level: pruning only has to be conservative, never
  exact. USE ONE load() PER LOGICAL QUERY: Spark 4.1 caches the planned
  (pruned) scan on the relation node, so sibling queries derived from one
  load() DataFrame would share the first query's pruning — an upstream
  sharp edge common to every pushdown-capable Python data source.
- **One input partition per data file**; executors read their file with
  pyarrow directly (no driver fan-out of paths through a parquet reader
  plan), null-fill evolved-away columns, and cast to the exact Arrow schema
  Spark expects.
- **Merge-on-read resolution executor-side**: each partition carries the
  positional-delete paths ``IcepackTable.delete_hit_candidates`` assigns its
  file (the exact set ``scan`` anti-joins); the executor reads the (small)
  position column of its own rows and masks them in the Arrow batch — the
  anti-join parallelizes per file with zero shuffles.

Streaming path (``IcepackStreamReader``): the table as an exactly-once
micro-batch source (Delta streaming-source parity). Offsets are snapshot
versions; each batch reads the data files ADDED by the commits in
(start, end], walking THIS line's parent chain so other branches' commits
never leak in. Non-append commits (a merge/delete rewrites or removes
files) fail the stream by default exactly like Delta; opt-outs:
``skipChangeCommits=true`` (ignore those commits entirely, Delta's
skipChangeCommits). Maintenance and metadata-only commits (the engine's
one ``ROW_PRESERVING_OPS`` set: compact, cluster, apply-deletes, schema,
constraint and partition-spec changes) are transparent: they re-file
existing rows or touch none, so they emit nothing. ``startingVersion``
begins the stream at a historical version (default: the head when the
stream starts, i.e. only NEW commits).

Reference seam: the reference consumes Delta tables as streaming sources via
``spark.readStream.format("delta")`` (DatastreamIO.scala); this gives the
engine's own tables the same surface without a JVM extension.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

__all__ = ["IcepackDataSource", "register"]


def _table(root: str):
    """Metadata-only IcepackTable handle (no SparkSession: schema/manifest
    resolution is pure file I/O; scan() is never called through it here)."""
    from ..table.icepack import IcepackTable

    t = IcepackTable(None, root)
    if not os.path.exists(os.path.join(t.meta_dir, "HEAD")):
        raise FileNotFoundError(f"not an icepack table: {root}")
    return t


def _resolve_version(t, options) -> int:
    version = options.get("version")
    ref = options.get("ref")
    as_of = options.get("timestampasof") or options.get("timestampAsOf")
    if sum(x is not None for x in (version, ref, as_of)) > 1:
        raise ValueError("pass at most one of version / ref / timestampAsOf")
    if version is not None:
        return int(version)
    if ref is not None:
        return t.ref_version(ref)
    if as_of is not None:
        return t.version_as_of(int(as_of))
    return t.head_version()


@dataclass
class _FilePart(InputPartition):
    path: str  # absolute data-file path
    # the manifest-relative path the executor filters delete rows on
    rel_path: str
    # absolute paths of the positional-delete files NAMING this data file
    # (exact, from their __file column) — empty for the common clean case
    delete_paths: tuple = ()


def _arrow_batches(
    part: _FilePart | None, schema: StructType
) -> Iterator["pa.RecordBatch"]:
    """Executor-side file read → Arrow batches in Spark's expected schema.
    Null-fills columns the file predates (schema evolution), casts the rest,
    and masks rows shadowed by the partition's positional-delete files.

    ``part`` is None when pruning eliminated every file: Spark represents an
    empty partitions() result as one None partition — emit nothing."""
    if part is None:
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    tbl = pq.read_table(part.path, columns=None)
    cols = []
    n = tbl.num_rows
    for field in target:
        if field.name in tbl.column_names:
            col = tbl.column(field.name).combine_chunks()
            if col.type != field.type:
                col = col.cast(field.type, safe=False)
            cols.append(col)
        else:
            cols.append(pa.nulls(n, field.type))
    out = pa.table(dict(zip(target.names, cols)), schema=target)

    if part.delete_paths:
        # masked on the ORIGINAL row ordinals (before any other filter):
        # a pos-delete row shadows the file's physical row index
        import numpy as np

        keep = np.ones(n, dtype=bool)
        for dp in part.delete_paths:
            dt = pq.read_table(
                dp, columns=["__pos"], filters=[("__file", "=", part.rel_path)]
            )
            keep[dt.column("__pos").to_numpy()] = False
        out = out.filter(pa.array(keep))

    yield from out.to_batches(max_chunksize=65536)


class IcepackBatchReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.root = options["path"]
        self.schema = schema
        t = _table(self.root)
        self.version = _resolve_version(t, options)
        snap = t.snapshot(self.version)
        self.data, self.deletes = t._split_deletes(t.files(self.version))
        self.table_schema = snap.schema
        self._t = t
        self._pruned: list[tuple] = []  # (col, op, value)

    def pushFilters(self, filters):
        """Translate Spark's pushed filters to the manifest language for
        file pruning. EVERYTHING is handed back as unsupported so Spark
        keeps the row-level application — pruning stays merely conservative
        (exactly the `may_match` contract), never load-bearing for
        correctness within one planned scan.

        Lifecycle note (Spark 4.1): each PLANNING invocation runs in a fresh
        worker with a fresh reader (data_source_pushdown_filters.py creates
        reader → pushFilters → partitions in one pass), so this state is
        scoped to one plan. But the JVM caches the planned scan on the
        relation NODE: two queries derived from the SAME load() DataFrame
        share the first query's pruned partitions — an upstream sharp edge
        for every pushdown-capable Python data source, not engine state.
        Use one load() per logical query (the normal reader pattern);
        tests/test_pyds.py pins the safe pattern."""
        self._pruned = []
        ops = {
            EqualTo: "=",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
            In: "in",
        }
        for f in filters:
            op = ops.get(type(f))
            attr = getattr(f, "attribute", ())
            if op and len(attr) == 1:  # top-level columns only
                self._pruned.append((attr[0], op, f.value))
        return filters

    def partitions(self) -> Sequence[InputPartition]:
        pruned, self._pruned = self._pruned, []  # consume-once (see above)
        t = self._t
        entries = t.prune_files(self.data, pruned, self.table_schema)
        # merge-on-read: each file gets exactly the positional-delete files
        # naming it (the set scan() anti-joins), so executors resolve
        # independently and only named files carry any resolution work
        assigned = t.delete_hit_candidates(entries, self.deletes)
        return [
            _FilePart(
                t.data_path(e.path),
                e.path,
                tuple(t.data_path(d.path) for d in assigned.get(e.path, ())),
            )
            for e in entries
        ]

    def read(self, partition: _FilePart):
        return _arrow_batches(partition, self.schema)


class IcepackStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema: StructType):
        self.root = options["path"]
        self.schema = schema
        self.skip_change = str(
            options.get("skipchangecommits")
            or options.get("skipChangeCommits")
            or "false"
        ).lower() in ("true", "1")
        t = _table(self.root)
        start = options.get("startingversion") or options.get("startingVersion")
        self._start = int(start) if start is not None else t.head_version()

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        return {"version": _table(self.root).head_version()}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        from ..table.icepack import ROW_PRESERVING_OPS

        t = _table(self.root)
        lo, hi = start["version"], end["version"]
        if hi <= lo:
            return []
        # this line's commits only: walk the parent chain (global version
        # numbering means other branches' snapshots interleave the int range)
        path: list[int] = []
        v = hi
        while v is not None and v != lo:
            path.append(v)
            v = t.snapshot(v).parent
        if v != lo:
            raise ValueError(
                f"offset v{lo} is not an ancestor of v{hi} — the table was "
                "rolled back or re-pointed under the stream; restart with a "
                "fresh checkpoint"
            )
        parts: list[InputPartition] = []
        for v in reversed(path):
            snap = t.snapshot(v)
            if snap.operation in ROW_PRESERVING_OPS:
                continue
            prev = {e.path for e in t.files(snap.parent)}
            entries = t.files(v)
            removed = prev - {e.path for e in entries}
            added = [
                e for e in entries if e.path not in prev and e.content == "data"
            ]
            added_dels = [
                e
                for e in entries
                if e.path not in prev and e.content != "data"
            ]
            if removed or added_dels or snap.operation not in ("append", "clone"):
                # a merge/delete/update/overwrite: not an append-only commit
                if self.skip_change:
                    continue
                raise ValueError(
                    f"commit v{v} ({snap.operation}) rewrites or removes "
                    "data — the append-only stream cannot represent it. "
                    "Set skipChangeCommits=true to ignore such commits, or "
                    "consume operators.changes.foreach_changes for the full "
                    "row-level feed."
                )
            parts.extend(
                _FilePart(t.data_path(e.path), e.path) for e in added
            )
        return parts

    def read(self, partition: _FilePart):
        return _arrow_batches(partition, self.schema)

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; nothing table-side

    def stop(self) -> None:
        pass


@dataclass
class _WriteMsg(WriterCommitMessage):
    # table-relative staged parquet paths written by one task (hive-layout
    # partitioning can emit several files per task)
    rel_paths: tuple


def _write_task(
    iterator, root: str, stage: str, schema: StructType, partition_by: tuple
) -> _WriteMsg:
    """Executor-side: drain the task's Arrow batches into staged parquet
    under data/<stage-uuid>/, honoring the table's partition transforms
    (hive dirs from the DRIVER-TWIN transform values — write-side parity
    with write_data_files' Column expressions is pinned by test). One file
    per (task, partition-tuple); empty tasks stage nothing."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..table.icepack import ARROW_WRITE_OPTIONS
    from ..table.transforms import parse_spec

    specs = parse_spec(list(partition_by)) if partition_by else []
    writers: dict[tuple, tuple] = {}  # part-values -> (writer, rel_path)
    task_id = _uuid.uuid4().hex

    def open_writer(part_vals: tuple, aschema) -> tuple:
        segs = [
            f"{t.pname}={v}" for t, v in zip(specs, part_vals)
        ]
        rel = os.path.join(
            stage, *segs, f"part-{task_id}-{len(writers)}.parquet"
        )
        abs_path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(abs_path), exist_ok=True)
        return pq.ParquetWriter(abs_path, aschema, **ARROW_WRITE_OPTIONS), rel

    for batch in iterator:
        tbl = pa.Table.from_batches([batch])
        if not specs:
            groups = {(): tbl}
        else:
            import pandas as pd

            pdf_keys = [
                pd.Series(tbl.column(t.col).to_pandas()).map(t.value).rename(i)
                for i, t in enumerate(specs)
            ]
            key_df = pd.concat(pdf_keys, axis=1)
            groups = {}
            for vals, idx in key_df.groupby(
                list(range(len(specs))), dropna=False, sort=False
            ).groups.items():
                if len(specs) == 1 and not isinstance(vals, tuple):
                    vals = (vals,)
                groups[tuple(vals)] = tbl.take(
                    pa.array(idx.to_numpy(), pa.int64())
                )
        for vals, part_tbl in groups.items():
            if part_tbl.num_rows == 0:
                continue
            if vals not in writers:
                writers[vals] = open_writer(vals, part_tbl.schema)
            writers[vals][0].write_table(part_tbl)
    rels = []
    for w, rel in writers.values():
        w.close()
        rels.append(rel)
    return _WriteMsg(tuple(rels))


class _IcepackWriterCore:
    """Shared by the batch writer and the streaming sink."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        self.root = options["path"]
        self.overwrite = overwrite
        t = _table(self.root)
        table_schema = t.schema()
        want = {(f.name, f.dataType.simpleString()) for f in table_schema.fields}
        got = {(f.name, f.dataType.simpleString()) for f in schema.fields}
        if want != got:
            raise ValueError(
                f"DataFrame schema {sorted(got)} does not match table "
                f"schema {sorted(want)} — evolve_schema() first (the "
                "format writer never evolves implicitly)"
            )
        self.partition_by = tuple(t.partition_spec() or [])
        self.schema = schema
        import uuid as _uuid

        self.stage = f"data/{_uuid.uuid4().hex}"
        # CHECK constraints: validated driver-side at commit via DuckDB over
        # the staged files (no SparkSession exists in the commit worker)
        self.constraints = dict(t.check_constraints() or {})

    def write(self, iterator):
        return _write_task(
            iterator, self.root, self.stage, self.schema, self.partition_by
        )

    def _staged(self, messages) -> list[str]:
        rels: list[str] = []
        for m in messages:
            if m is not None:
                rels.extend(m.rel_paths)
        return rels

    def _validate_constraints(self, abs_paths: list[str]) -> None:
        if not self.constraints or not abs_paths:
            return
        import duckdb

        con = duckdb.connect()
        for name, expr in self.constraints.items():
            bad = con.execute(
                f"SELECT count(*) FROM read_parquet(?) "
                f"WHERE NOT coalesce(({expr}), TRUE) LIMIT 1",
                [abs_paths],
            ).fetchone()[0]
            if bad:
                raise ValueError(
                    f"CHECK constraint {name!r} ({expr}) violated by "
                    f"{bad} staged row(s) — write aborted, nothing committed"
                )

    def _commit(self, extra_summary: dict | None = None) -> None:
        t = _table(self.root)
        stats_cols = set(t.stats_cols())
        entries = [
            t._footer_entry(os.path.join(self.root, rel), rel, stats_cols)
            for rel in self._rels
        ]
        removed: list[str] = []
        if self.overwrite:
            removed = [e.path for e in t.files()]
        t.commit(
            "overwrite" if self.overwrite else "append",
            added=entries,
            removed_paths=removed,
            summary=extra_summary,
        )

    def _abort(self, messages) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.root, self.stage), ignore_errors=True)

    def prepare_commit(self, messages) -> None:
        self._rels = self._staged(messages)
        self._validate_constraints(
            [os.path.join(self.root, r) for r in self._rels]
        )


class IcepackBatchWriter(_IcepackWriterCore, DataSourceArrowWriter):
    def commit(self, messages) -> None:
        self.prepare_commit(messages)
        self._commit()

    def abort(self, messages) -> None:
        self._abort(messages)


class IcepackStreamWriter(_IcepackWriterCore, DataSourceStreamArrowWriter):
    """Exactly-once streaming sink: the committed snapshot records the
    micro-batch id PER QUERY (keyed by the query's checkpointLocation —
    batchIds from two different queries writing the same table must never
    collide, Delta keys its txn ledger by (appId, batchId) the same way);
    on restart-replay of an already-committed batch the staged duplicate is
    discarded instead of committed (the table is the sink-side ledger —
    same idempotence pattern as the foreachBatch sink)."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        super().__init__(options, schema, overwrite)
        import hashlib as _hl

        ckpt = (
            options.get("checkpointlocation")
            or options.get("checkpointLocation")
            or ""
        )
        self._ledger_key = _hl.md5(str(ckpt).encode()).hexdigest()[:16]

    def commit(self, messages, batchId: int) -> None:
        t = _table(self.root)
        done = t.snapshot().summary.get("stream_batch_ids") or {}
        if str(batchId) in {str(b) for b in done.get(self._ledger_key, [])}:
            self._abort(messages)  # replayed batch: drop staged duplicates
            return
        self.prepare_commit(messages)
        ids = list(done.get(self._ledger_key, []))[-63:] + [batchId]
        self._commit(
            extra_summary={
                "stream_batch_ids": {**done, self._ledger_key: ids}
            }
        )

    def abort(self, messages, batchId: int) -> None:
        self._abort(messages)


class IcepackDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "icepack"

    def schema(self) -> StructType:
        t = _table(self.options["path"])
        return t.snapshot(_resolve_version(t, self.options)).schema

    def reader(self, schema: StructType) -> DataSourceReader:
        return IcepackBatchReader(self.options, schema)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return IcepackStreamReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        return IcepackBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return IcepackStreamWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Register the 'icepack' format on a session (idempotent), and turn on
    Python data-source filter pushdown: it is off by default, and Spark
    refuses to read a source that implements ``pushFilters`` without it
    (DATA_SOURCE_PUSHDOWN_DISABLED)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(IcepackDataSource)
