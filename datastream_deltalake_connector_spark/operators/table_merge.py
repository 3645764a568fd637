"""MERGE INTO an icepack table: dedup → file pruning → join → rewrite → commit.

This is the engine's equivalent of the reference's per-micro-batch
``MergeQueries.upsertToDelta`` (reference: MergeQueries.scala:33-106) plus
the part Delta did for it under the hood (candidate-file finding + touched
file rewrite + transactional commit):

1. Empty-batch short-circuit (ST6, MergeQueries.scala:45-47).
2. Schema evolution first (mergeSchema, DeltaSchemaMigration.scala:51-67).
3. LWW dedup of the batch (W1/W2, MergeQueries.scala:108-121) — one
   ``max_by`` hash aggregation with map-side combine (operators/dedup.py).
4. **Manifest pruning** (``IcepackTable.prune_by_keys``, the pruner scans,
   DML and generic MERGE share): one job collects the winner keys and
   counts them; only files whose key ranges, Bloom filters and partition
   values can hold a winner key are touched. Untouched files are carried
   into the new snapshot unchanged — at 100 TB this is the difference
   between rewriting a few hundred MB and rewriting the table.
5. Full-outer join of the touched subset with the winners (operators/merge.
   apply_winners) — broadcast-hash when the batch is small (decided from the
   deduped batch size), else AQE sort-merge with skew splitting.
6. Rewrite touched files + write inserts; lineage journal; CAS commit.

Anti-join soundness note: inserts are detected against the *touched subset*
only. That is sound because pruning is conservative — any key present in an
untouched file would have passed that file's range, Bloom and partition
tests and pulled the file into the touched set.
"""

from __future__ import annotations

import math
import uuid

from pyspark.sql import functions as F

from ..table.icepack import IcepackTable
from ..table.lineage import LineageJournal
from .dedup import latest_by_keys
from .merge import SEQ_COL, TS_COL, apply_winners, apply_winners_split
from .partitioning import rewrite_sized_splits
from pyspark.sql import DataFrame


# the CDC merges' pruning step, under the name perfbench/tracing.py times
prune_candidates = IcepackTable.prune_by_keys


def _estimate_row_bytes(df: DataFrame) -> float:
    """Average serialized row size of a (cached) DataFrame: measured lengths
    of the variable-width columns plus a fixed per-column overhead. One cheap
    agg over the cache — no sampling bias, no collect of payload rows."""
    from pyspark.sql import types as T

    var_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.BinaryType, T.StringType))
    ]
    fixed = 16.0 * len(df.schema.fields)
    if not var_cols:
        return fixed
    total = None
    for c in var_cols:
        term = F.coalesce(F.length(F.col(c)).cast("double"), F.lit(0.0))
        total = term if total is None else total + term
    row = df.select(F.avg(total).alias("b")).collect()[0]
    return float(row["b"] or 0.0) + fixed


def _rewrite(
    table: IcepackTable,
    target: DataFrame,
    winners: DataFrame,
    *,
    inserts_key: str | list[str],
    rewrite_mode: str,
    small_batch: bool,
    n_winners: int,
    batch_bytes: float,
    touched_bytes: int,
    target_rows_per_file: int | None,
):
    """Stage the merged data files (split or range mode); returns entries."""
    keys = [inserts_key] if isinstance(inserts_key, str) else list(inserts_key)
    kcols = [F.col(c) for c in keys]
    if rewrite_mode == "split":
        # Zero-shuffle rewrite (the common CDC case: small batch, big table):
        # one job reads every touched file at its natural splits, resolves
        # updates/deletes against ONE broadcast of the winners, and writes
        # one output file per split — the pixel bytes NEVER cross an
        # exchange. Updates keep their key, so each output file's key range
        # is a subset of its input's and future pruning still works. Inserts
        # (small) get their own range-partitioned, sorted files. Output
        # splits track spark.sql.files.maxPartitionBytes; small outputs are
        # compaction's job (and the reference's own dominant failure mode —
        # which this engine compacts natively).
        resolved, inserts = apply_winners_split(target, winners, keys)
        added = table.write_data_files(resolved)  # zero-row splits dropped+unlinked
        if target_rows_per_file:
            n_ins_files = max(1, math.ceil(n_winners / target_rows_per_file))
        else:
            n_ins_files = max(1, round(batch_bytes / table.DEFAULT_TARGET_FILE_BYTES))
        ins_df = inserts.repartitionByRange(n_ins_files, *kcols).sortWithinPartitions(*keys)
        added += table.write_data_files(ins_df)
        return added
    merged = apply_winners(target, winners, keys, broadcast_source=small_batch)
    # Range-partition the rewrite on the key and sort within partitions:
    # each output file then covers a tight, disjoint [min,max] key range,
    # so the NEXT merge's manifest pruning touches only the files a
    # batch's keys actually land in. A plain hash write would give every
    # file the full key range and defeat pruning forever.
    if target_rows_per_file:
        num_files = max(1, math.ceil(n_winners / target_rows_per_file))
    else:
        num_files = max(1, round(touched_bytes / table.DEFAULT_TARGET_FILE_BYTES)) or 1
    merged = merged.repartitionByRange(num_files, *kcols).sortWithinPartitions(*keys)
    return table.write_data_files(merged)


def merge_into_table(
    table: IcepackTable,
    batch: DataFrame,
    key: str | list[str] = "image_id",
    broadcast_bytes_threshold: int = 256 * 1024 * 1024,
    target_rows_per_file: int | None = None,
    job_id: str | None = None,
    rewrite_mode: str = "auto",
    schema_evolution: str = "merge",
) -> int | None:
    """Apply one CDC change batch; returns the committed version (None if
    the batch was empty).

    The broadcast-vs-sort-merge decision is BYTE-based: deduped-winner count
    times the measured average row size against ``broadcast_bytes_threshold``
    (default 256 MB — what every executor must hold). A row-count threshold
    (round 1 used 2M rows) is wrong for wide payloads: 2M image rows at
    ~12 KB each would be a ~24 GB broadcast.

    ``key`` may be a list for COMPOSITE primary keys (the reference's
    multi-PK equi-join, MergeQueries.scala:91-101 via TableMetadata
    primary_keys): LWW dedup, the resolve join, the range-partitioned
    rewrite and manifest pruning all run on the full key tuple."""
    keys = [key] if isinstance(key, str) else list(key)
    parent = table.head_version()
    # A CoW merge rewrites touched data files with a fresh data-sequence
    # stamp (un-shadowing rows a pending equality-delete file killed) and
    # re-files rows (stranding a positional delete's (file, pos) refs) —
    # apply pending deletes of either kind first, same guard as
    # compact()/cluster_table().
    if any(e.content != "data" for e in table.files(parent)):
        from .mor import apply_deletes

        apply_deletes(table)
        parent = table.head_version()
    journal = LineageJournal(table.root, job_id or f"merge-{uuid.uuid4().hex[:12]}")

    winners = latest_by_keys(batch, keys, [TS_COL, SEQ_COL]).cache()

    # ---- dedup count + manifest pruning, ONE job shared with the
    # merge-on-read path ----------------------------------------------------
    touched, n_winners = prune_candidates(
        table.files(parent), winners, keys, table.schema(parent)
    )
    touched_paths = [e.path for e in touched]
    if n_winners == 0:
        return None  # ST6 empty-batch short-circuit

    # Schema evolution before resolution, so the rewrite carries new columns.
    payload_schema = batch.drop("change_type", "is_deleted", TS_COL, SEQ_COL).schema
    table.evolve_schema(payload_schema, strategy=schema_evolution)

    touched_bytes = sum(e.bytes for e in touched)
    # Size input splits to the rewrite volume (~2 per core): after compaction
    # the touched set may be a couple of ~512 MB files, and at the default
    # 128 MB maxPartitionBytes the decode + join-resolve + encode + write
    # pipeline would run on a handful of tasks — parallelism-starved, not
    # I/O-bound. Both the read and its write action stay inside the context.
    with rewrite_sized_splits(table.spark, touched_bytes):
        # pending deletes were applied above: the touched files are live
        target = table.read_live(touched, [], table.schema(), [])

        batch_bytes = n_winners * _estimate_row_bytes(winners)
        small_batch = batch_bytes <= broadcast_bytes_threshold
        if rewrite_mode == "auto":
            rewrite_mode = "split" if small_batch else "range"

        added = _rewrite(
            table,
            target,
            winners,
            inserts_key=keys,
            rewrite_mode=rewrite_mode,
            small_batch=small_batch,
            n_winners=n_winners,
            batch_bytes=batch_bytes,
            touched_bytes=touched_bytes,
            target_rows_per_file=target_rows_per_file,
        )
    journal.log_task(
        stage="merge",
        task_id="batch",
        files_in=touched_paths,
        files_out=[e.path for e in added],
        rows_in=n_winners,
        rows_out=sum(e.rows for e in added),
    )
    version = table.commit(
        "merge",
        added=added,
        removed_paths=touched_paths,
        expected_parent=table.head_version(),
        summary={
            "batch_winners": n_winners,
            "touched_files": len(touched_paths),
            "rewrite_mode": rewrite_mode,
            "batch_bytes_est": int(batch_bytes),
            # lets table_changes (operators/changes.py) reconstruct the
            # row-level change feed for this commit without a key argument
            "keys": keys,
        },
    )
    journal.log_commit(version)
    winners.unpersist()
    return version
