"""Structured Streaming ingest: CDC file dumps → log table → merged icepack.

Port of the reference's two-stream-per-table wiring (reference:
jobs/DatastreamDeltaConnector.scala:35-84, datastream/DatastreamIO.scala:
45-104) with icepack in place of Delta:

    stream 1 (ingest):  readStream(file source, maxFilesPerTrigger)
                        → append-only parquet "log table"           (S5→S7)
    stream 2 (merge):   readStream(log table) → foreachBatch(
                        flatten envelope → merge_into_table_mor
                        or merge_into_table)                        (S6→S8)

Semantics preserved:
- ``maxFilesPerTrigger`` = the reference's ``file-read-concurrency``
  throttle (DatastreamIO.scala:93-94, default 2).
- checkpointLocation per query → exactly-once delivery into the log table
  and at-least-once batch ids into the merge; the merge itself is idempotent
  under replay (the ``<=`` guard), which is what makes the at-least-once
  foreachBatch safe — same argument as the reference (README.md:142,164).
- per-table failure isolation: one table's setup failure logs and continues
  (DatastreamDeltaConnector.scala:79-83 Failure branch).
- ``available_now=True`` drains all currently-visible files then stops — the
  batch-oriented maintenance engine's way to run the same pipeline on a
  schedule instead of a resident stream.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..config import (
    DEFAULT_MERGE_MODE,
    DEFAULT_MOR_MAX_DELETE_FILES,
    DEFAULT_MOR_MAX_DELETE_RATIO,
)
from ..operators.table_merge import merge_into_table
from ..sources.cdc import (
    DatastreamTable,
    TableMetadata,
    discover_tables,
    flatten_envelope,
    read_table_batch,
)
from ..table.icepack import PARQUET_WRITE_OPTIONS, IcepackTable

__all__ = [
    "ingest_table_to_log",
    "merge_log_to_table",
    "run_connector_once",
    "ConnectorDaemon",
]


def ingest_table_to_log(
    spark: SparkSession,
    table: DatastreamTable,
    log_dir: str,
    checkpoint_dir: str,
    fmt: str = "json",
    max_files_per_trigger: int = 2,
    available_now: bool = True,
    microbatch_partitions: int | None = None,
    processing_time: str | None = None,
):
    """Stream 1: file source → append-only parquet log table. Returns the
    started StreamingQuery. Schema comes from a one-record batch probe (the
    reference flips on global streaming schema inference instead,
    DatastreamDeltaStreamingJob.scala:27 — an explicit probe is cheaper and
    pins the schema per query).

    ``microbatch_partitions`` is the reference's DELTA_MICROBATCH_PARTITIONS
    → ``coalesce(n)`` small-file control (Config.scala:51-54, applied at
    DatastreamIO.scala:97): without it each micro-batch writes one file per
    source split, and small-file accumulation is the reference's documented
    #1 failure mode (README.md:146-151). The log table's files are also
    bounded per drain, not only per trigger, because availableNow drains
    write one batch per trigger group."""
    probe = read_table_batch(spark, table, fmt)
    glob = os.path.join(table.table_path, "*/*/*/*/*")
    if fmt == "avro":
        # binaryFile stream + executor-side OCF decode (sources/avro.py);
        # maxFilesPerTrigger throttles identically to the jar-based source
        from ..sources.avro import avro_stream

        stream = avro_stream(spark, glob, max_files_per_trigger)
    else:
        reader = (
            spark.readStream.format(fmt)
            .schema(probe.schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
        )
        if fmt == "json":
            reader = reader.option("multiline", "true").option(
                "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
            )
        stream = reader.load(glob)
    for c in ("read_timestamp", "source_timestamp"):
        if c in stream.columns:
            stream = stream.withColumn(c, F.to_timestamp(c))
    if microbatch_partitions:
        stream = stream.coalesce(microbatch_partitions)
    writer = (
        stream.writeStream.format("parquet")
        .options(**PARQUET_WRITE_OPTIONS)
        .option("path", log_dir)
        .option("checkpointLocation", os.path.join(checkpoint_dir, f"{table.table}_log"))
        .outputMode("append")
        .queryName(f"datastream-ingest-{table.table}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def merge_log_to_table(
    spark: SparkSession,
    log_dir: str,
    target: IcepackTable,
    checkpoint_dir: str,
    meta: TableMetadata,
    available_now: bool = True,
    processing_time: str | None = None,
    log_schema=None,
    query_name: str | None = None,
    auto_compact_min_files: int | None = None,
    max_files_per_trigger: int | None = None,
    merge_mode: str = DEFAULT_MERGE_MODE,
    mor_max_delete_files: int = DEFAULT_MOR_MAX_DELETE_FILES,
    mor_max_delete_ratio: float = DEFAULT_MOR_MAX_DELETE_RATIO,
):
    """Stream 2: log table → foreachBatch merge (reference foreachBatch sink,
    DatastreamDeltaConnector.scala:57-77). Each micro-batch flattens the
    envelope and runs the engine's MERGE; batch replays are absorbed by the
    idempotent ``<=`` guard.

    ``log_schema`` pins the log-table schema explicitly — required when the
    merge stream starts before the ingest stream's first commit (daemon
    mode), when no parquet exists to infer from; an empty log dir then
    simply yields no batches until ingest catches up.

    ``auto_compact_min_files``: run ``maybe_compact`` after each merged
    batch — the reference's Databricks ``autoCompact.enabled`` +
    ``autoCompact.minNumFiles`` confs (application.conf:38-50,
    Config.scala:57-87, wired at DatastreamDeltaConnector.scala:24), which
    Delta executes post-write; this engine owns compaction so the sink
    chains it natively. Streaming micro-batches are THE small-file source
    the reference's README warns about (README.md:146-151); compacting in
    the sink keeps the table scan-healthy without a second scheduler.

    ``merge_mode``: ``"mor"`` (default) applies each batch merge-on-read
    (operators/mor.py) — the batch's own rows plus one small
    positional-delete file, so bytes written follow the change, not the
    table — and chains ``maybe_apply_deletes`` so the deferred rewrite is
    paid in bulk once ``mor_max_delete_files`` delete files or a
    ``mor_max_delete_ratio`` deleted-row share (default 0.3, Iceberg's
    ``delete-ratio-threshold``) pile up, exactly as
    ``auto_compact_min_files`` amortizes small files. While deletes are
    pending, reads of the merged table pay one broadcast anti-join.
    ``"cow"`` rewrites every touched file per batch (the reference's Delta
    MERGE, MergeQueries.scala:91-121)."""
    if merge_mode not in ("cow", "mor"):
        raise ValueError(f"merge_mode must be 'cow' or 'mor', got {merge_mode!r}")
    os.makedirs(log_dir, exist_ok=True)
    if log_schema is None:
        # inference needs at least one committed log file; a missing or
        # still-empty log dir cannot be inferred from — say so instead of
        # surfacing Spark's AnalysisException (round-3 advice). Daemon-mode
        # callers pass log_schema explicitly and may start on an empty dir.
        try:
            log_schema = spark.read.parquet(log_dir).schema
        except Exception as exc:  # noqa: BLE001 — re-raise with the contract
            raise ValueError(
                f"log dir {log_dir!r} is empty or unreadable — pass "
                "log_schema explicitly when starting the merge stream "
                "before the ingest stream's first commit"
            ) from exc
    reader = spark.readStream.schema(log_schema)
    if max_files_per_trigger:
        # bound each merge batch by log-file count (the same ST8 throttle
        # the ingest stream applies to source dumps); availableNow drains
        # then produce several bounded batches instead of one giant one
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(log_dir)

    def upsert(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():  # ST6 empty-batch short-circuit
            return
        # FULL primary-key list: a composite-PK source table must merge on
        # the whole tuple — keying on primary_keys[0] alone would LWW-collapse
        # distinct rows that share the first key column (reference:
        # MergeQueries.scala builds the equi-join over every PK)
        key = list(meta.primary_keys) if meta.primary_keys else "id"
        changes = flatten_envelope(batch_df, meta)
        if merge_mode == "mor":
            from ..operators.mor import maybe_apply_deletes, merge_into_table_mor

            merge_into_table_mor(target, changes, key=key)
            maybe_apply_deletes(
                target,
                max_delete_files=mor_max_delete_files,
                max_delete_ratio=mor_max_delete_ratio,
            )
        else:
            merge_into_table(target, changes, key=key)
        if auto_compact_min_files:
            from ..operators.compaction import maybe_compact

            maybe_compact(
                target,
                min_num_files=auto_compact_min_files,
                job_id=f"stream-autocompact-{batch_id}",
            )

    writer = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "merge"))
        .queryName(query_name or f"datastream-merge-{meta.table}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        # the reference's merge-frequency trigger (Config.scala:41-47)
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_connector_once(
    spark: SparkSession,
    stream_root: str,
    warehouse: str,
    fmt: str = "json",
    max_files_per_trigger: int = 2,
    table_source=None,
    microbatch_partitions: int | None = None,
    auto_compact_min_files: int | None = None,
    merge_mode: str = DEFAULT_MERGE_MODE,
    mor_max_delete_files: int = DEFAULT_MOR_MAX_DELETE_FILES,
    mor_max_delete_ratio: float = DEFAULT_MOR_MAX_DELETE_RATIO,
    bloom_filters: bool = False,
) -> dict[str, str]:
    """Discover every table of the stream and drain it end-to-end
    (ingest → log → merged icepack table), one pair of availableNow streams
    per table. Returns table → merged-table path. Failure of one table's
    setup is logged and the others continue (ST7).

    ``table_source``: any sources.discovery.TableSource (e.g. GCSTableSource
    with an injected client); defaults to the local lister over
    ``stream_root`` — the reference's TableProvider dispatch
    (TableProvider.scala:11-29)."""
    if table_source is None:
        from ..sources.discovery import LocalTableSource

        table_source = LocalTableSource(stream_root)
    results: dict[str, str] = {}
    for table in table_source.list_tables():
        try:
            probe = read_table_batch(spark, table, fmt)
            meta = TableMetadata.from_df(probe)
            if meta is None:
                continue
            log_dir = os.path.join(warehouse, f"{table.table}_log")
            ckpt = os.path.join(warehouse, "_checkpoints", table.table)
            q1 = ingest_table_to_log(
                spark, table, log_dir, ckpt, fmt, max_files_per_trigger,
                microbatch_partitions=microbatch_partitions,
            )
            q1.awaitTermination()

            t, merged_root = _load_or_create_target(
                spark, warehouse, table.table, meta, bloom_filters=bloom_filters
            )
            q2 = merge_log_to_table(
                spark, log_dir, t, ckpt, meta,
                auto_compact_min_files=auto_compact_min_files,
                merge_mode=merge_mode,
                mor_max_delete_files=mor_max_delete_files,
                mor_max_delete_ratio=mor_max_delete_ratio,
            )
            q2.awaitTermination()
            results[table.table] = merged_root
        except Exception as exc:  # noqa: BLE001 — per-table isolation (ST7)
            print(f"table {table.table} failed, continuing: {exc}")
    return results


def _load_or_create_target(
    spark: SparkSession,
    warehouse: str,
    table_name: str,
    meta: TableMetadata,
    bloom_filters: bool = False,
) -> tuple[IcepackTable, str]:
    """Load the merged icepack table for ``table_name`` or create it from
    the CDC payload schema + merge-metadata ordering columns — the engine's
    analogue of the reference's create-DB-if-not-exists + first-batch table
    creation (DatastreamDeltaConnector.scala:43-47,
    DeltaSchemaMigration.scala). ``bloom_filters`` creates the table with
    per-file primary-key Bloom filters (config DELTA_BLOOM_FILTERS) so merge
    pruning works on the arrival-ordered layout CDC ingest produces."""
    from pyspark.sql import types as T

    from ..operators.merge import SEQ_META, TS_META

    merged_root = os.path.join(warehouse, f"{table_name}_merged")
    if os.path.exists(os.path.join(merged_root, "metadata", "HEAD")):
        return IcepackTable.load(spark, merged_root), merged_root
    schema = T.StructType(
        list(meta.payload_schema.fields)
        + [
            T.StructField(TS_META, T.TimestampType()),
            T.StructField(SEQ_META, T.LongType()),
        ]
    )
    bloom_cols = list(meta.primary_keys) if bloom_filters and meta.primary_keys else None
    return (
        IcepackTable.create(spark, merged_root, schema, bloom_cols=bloom_cols),
        merged_root,
    )


class ConnectorDaemon:
    """Resident multi-table connector: the reference's long-running mode
    (``DatastreamDeltaConnector.run`` starting one continuous merge stream
    per discovered table, then ``spark.streams.awaitAnyTermination()`` —
    jobs/DatastreamDeltaStreamingJob.scala:34-36,
    DatastreamDeltaConnector.scala:35-84), with STRONGER failure isolation:
    ``awaitAnyTermination`` propagates the first failed stream and takes the
    whole job down, while this supervisor reaps the dead query, records the
    failure, and keeps every other table's streams committing — extending
    the reference's setup-time Failure branch (ST7) to runtime.

    Lifecycle::

        daemon = ConnectorDaemon(spark, stream_root, warehouse).start()
        ...                       # streams run continuously
        daemon.poll()             # reap failures, returns per-table health
        daemon.await_any_termination(timeout=...)  # reference parity
        daemon.stop()             # clean shutdown: stop + await every query

    At 100-TB scale each table runs exactly two bounded streams (file-source
    ingest throttled by maxFilesPerTrigger, log→merge with idempotent
    replay), so the daemon's state is O(tables), never O(data). A sibling
    stream of a failed table is left running on purpose: a dead ingest
    starves the merge harmlessly; a dead merge lets ingest keep durably
    appending to the log, and the merge resumes from its checkpoint on the
    next :meth:`start_table` / daemon restart.
    """

    def __init__(
        self,
        spark: SparkSession,
        stream_root: str,
        warehouse: str,
        fmt: str = "json",
        max_files_per_trigger: int = 2,
        table_source=None,
        processing_time: str | None = "5 seconds",
        microbatch_partitions: int | None = None,
        auto_compact_min_files: int | None = None,
        merge_mode: str = DEFAULT_MERGE_MODE,
        mor_max_delete_files: int = DEFAULT_MOR_MAX_DELETE_FILES,
        mor_max_delete_ratio: float = DEFAULT_MOR_MAX_DELETE_RATIO,
        bloom_filters: bool = False,
    ) -> None:
        self.spark = spark
        self.stream_root = stream_root
        self.warehouse = warehouse
        self.fmt = fmt
        self.max_files_per_trigger = max_files_per_trigger
        if table_source is None:
            from ..sources.discovery import LocalTableSource

            table_source = LocalTableSource(stream_root)
        self.table_source = table_source
        self.processing_time = processing_time
        self.microbatch_partitions = microbatch_partitions
        self.auto_compact_min_files = auto_compact_min_files
        self.merge_mode = merge_mode
        self.mor_max_delete_files = mor_max_delete_files
        self.mor_max_delete_ratio = mor_max_delete_ratio
        self.bloom_filters = bloom_filters
        self.queries: dict[str, list] = {}
        self.targets: dict[str, str] = {}
        self.failures: dict[str, str] = {}

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> "ConnectorDaemon":
        """Discover tables and start both continuous streams for each; a
        table whose setup fails is recorded and skipped (reference Failure
        branch, DatastreamDeltaConnector.scala:79-83)."""
        for table in self.table_source.list_tables():
            try:
                self.start_table(table)
            except Exception as exc:  # noqa: BLE001 — per-table isolation
                self.failures[table.table] = f"setup: {exc}"
        return self

    def start_table(self, table: DatastreamTable) -> None:
        """Start (or restart after a failure) one table's ingest + merge
        streams. Restart resumes from the per-query checkpoints; any
        still-live queries of the same table are stopped first (two writers
        sharing one checkpoint would race on offsets)."""
        for q in self.queries.get(table.table, []):
            if q.isActive:
                q.stop()
        probe = read_table_batch(self.spark, table, self.fmt)
        meta = TableMetadata.from_df(probe)
        if meta is None:
            raise ValueError(f"no CDC metadata in {table.table_path}")
        log_dir = os.path.join(self.warehouse, f"{table.table}_log")
        ckpt = os.path.join(self.warehouse, "_checkpoints", table.table)
        # the log table's schema is the stream's post-cast schema — derived
        # from the probe so the merge stream can start on an EMPTY log dir
        # (concurrent startup), instead of inferring from written parquet
        log_df = probe
        for c in ("read_timestamp", "source_timestamp"):
            if c in log_df.columns:
                log_df = log_df.withColumn(c, F.to_timestamp(c))
        target, merged_root = _load_or_create_target(
            self.spark, self.warehouse, table.table, meta,
            bloom_filters=self.bloom_filters,
        )
        q1 = ingest_table_to_log(
            self.spark,
            table,
            log_dir,
            ckpt,
            self.fmt,
            self.max_files_per_trigger,
            available_now=False,
            microbatch_partitions=self.microbatch_partitions,
            processing_time=self.processing_time,
        )
        q2 = merge_log_to_table(
            self.spark,
            log_dir,
            target,
            ckpt,
            meta,
            available_now=False,
            processing_time=self.processing_time,
            log_schema=log_df.schema,
            auto_compact_min_files=self.auto_compact_min_files,
            merge_mode=self.merge_mode,
            mor_max_delete_files=self.mor_max_delete_files,
            mor_max_delete_ratio=self.mor_max_delete_ratio,
            # meta.table comes from the CDC envelope and is NOT unique per
            # source dir (two streams can carry the same source table);
            # query names must be unique per SparkSession
            query_name=f"datastream-merge-{table.table}",
        )
        self.queries[table.table] = [q1, q2]
        self.targets[table.table] = merged_root
        self.failures.pop(table.table, None)

    # -- supervision -------------------------------------------------------
    def poll(self) -> dict[str, int]:
        """Reap terminated queries into :attr:`failures`; returns the number
        of live streams per table (2 = healthy)."""
        health: dict[str, int] = {}
        for name, qs in self.queries.items():
            alive = 0
            for q in qs:
                if q.isActive:
                    alive += 1
                else:
                    exc = q.exception()
                    if exc is not None and name not in self.failures:
                        self.failures[name] = f"runtime: {exc}"
            health[name] = alive
        return health

    def active(self) -> bool:
        return any(q.isActive for qs in self.queries.values() for q in qs)

    def await_any_termination(self, timeout: float | None = None) -> str | None:
        """Block until any supervised query terminates (the reference's
        ``spark.streams.awaitAnyTermination``, scoped to THIS daemon's
        queries so co-resident streams are unaffected) or ``timeout``
        seconds pass. Returns the terminated table's name, or None.

        Zero supervised queries (every table failed setup, or discovery
        listed nothing) returns immediately: with ``timeout=None`` the poll
        loop would otherwise spin forever with nothing that could ever
        terminate, silently sitting on the setup failures already recorded
        in :attr:`failures` (round-3 advice)."""
        if not self.queries:
            return None
        deadline = None if timeout is None else time.time() + timeout
        while deadline is None or time.time() < deadline:
            for name, qs in self.queries.items():
                if any(not q.isActive for q in qs):
                    self.poll()
                    return name
            time.sleep(0.2)
        return None

    def stop(self) -> None:
        """Clean shutdown: stop every supervised query and await each."""
        for qs in self.queries.values():
            for q in qs:
                if q.isActive:
                    q.stop()
        for qs in self.queries.values():
            for q in qs:
                try:
                    q.awaitTermination(30)
                except Exception:  # noqa: BLE001 — failed queries re-raise
                    pass
