"""Merge-on-read MERGE INTO: equality-delete files instead of file rewrites.

The copy-on-write merge (operators/table_merge.py) re-expresses the
reference's ``MergeQueries.upsertToDelta`` (reference: MergeQueries.scala:
33-106) by rewriting every data file a change batch touches. That is the
right plan when batches are large relative to the table — but the common CDC
shape at 100 TB is the opposite: a sub-percent change batch against a huge
table of image rows, where copy-on-write decodes, shuffles nothing, yet still
re-ENCODES and re-writes hundreds of gigabytes of untouched pixels that
happen to share files with touched keys.

This module implements the Iceberg-v2 answer — equality deletes — natively
on icepack:

1. LWW-dedup the batch (same winners as CoW, MergeQueries.scala:108-121).
2. Enforce the ``<=`` replay guard (MergeQueries.scala:124-129) by reading
   ONLY (key, ts) of the candidate files ``IcepackTable.prune_by_keys``
   keeps (ranges, Bloom filters and partition transforms, as for the CoW
   merge) — parquet column pruning means the image bytes are never touched
   — resolved through the snapshot's own merge-on-read view so shadowed
   rows cannot veto.
3. Append the surviving upserts as new data files, and ONE equality-delete
   file holding the keys whose older versions must stop being visible
   (updates and deletes that actually hit an existing row; pure inserts
   write no tombstone at all).
4. Commit both with the snapshot's data-sequence stamp: a delete file
   shadows exactly the data files with a LOWER sequence number, so the rows
   co-committed with it are never shadowed by it (IcepackTable.scan
   resolves this with a broadcast anti-join over candidate files only).

Write amplification per batch: O(batch) instead of O(touched files). The
deferred cost is paid once, in bulk, by :func:`apply_deletes` (major
compaction), which rewrites only the data files a delete file can actually
hit and drops the delete files — policy-driven via :func:`maybe_apply_deletes`
exactly like ``maybe_compact``.

Semantics parity with CoW (pinned by tests/test_mor.py): same visible rows
for any batch sequence, idempotent replay, older-batch discard, delete via
``is_deleted`` with unmatched-delete no-op, and tombstone-then-reinsert
matching the reference's "not matched → insert" clause.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_MOR_MAX_DELETE_FILES, DEFAULT_MOR_MAX_DELETE_RATIO
from ..table.icepack import FileEntry, IcepackTable
from .dedup import latest_by_keys
from .merge import DELETED_COL, SEQ_COL, TS_COL, TS_META, winners_as_merged
from .generic_merge import _estimate_row_bytes
from .table_merge import prune_candidates

__all__ = ["merge_into_table_mor", "apply_deletes", "maybe_apply_deletes"]


def merge_into_table_mor(
    table: IcepackTable,
    batch: DataFrame,
    key: str | list[str] = "image_id",
    target_rows_per_file: int | None = None,
    schema_evolution: str = "merge",
) -> int | None:
    """Apply one CDC change batch merge-on-read; returns the committed
    version (None if the batch had no effect).

    Result-equivalent to ``merge_into_table`` (CoW) — same LWW dedup, same
    ``<=`` guard, same delete semantics — but the only data written is the
    batch itself plus a compact key-only delete file. Existing files are
    read once, column-pruned to (key, ts), and never rewritten."""
    keys = [key] if isinstance(key, str) else list(key)
    parent = table.head_version()

    if any(e.content == "pos_deletes" for e in table.files(parent)):
        # DML positional deletes (rowops.delete_where_mor/update_where_mor)
        # and CDC equality deletes never coexist in one snapshot — fold the
        # pending positions into the data files and proceed on a clean
        # manifest (the pos-delete writers do the same for pending eq files)
        apply_deletes(table)
        parent = table.head_version()

    recorded = table.snapshot(parent).summary.get("eq_delete_cols")
    if recorded and recorded != keys:
        # Pending tombstones recorded under a DIFFERENT key set cannot be
        # resolved by this merge's guard scan — pay the deferred rewrite
        # now and proceed on a clean manifest (raising here instead would
        # permanently wedge a foreachBatch stream whose key set changed,
        # e.g. a composite-PK table upgraded from first-key-only merging:
        # every replayed batch would hit the same error forever).
        apply_deletes(table)
        parent = table.head_version()
        recorded = None

    winners = latest_by_keys(batch, keys, [TS_COL, SEQ_COL]).cache()

    all_entries = table.files(parent)
    pending_deletes = [e for e in all_entries if e.content == "eq_deletes"]
    entries = [e for e in all_entries if e.content == "data"]
    # the pruner the CoW merge's executor uses: the same candidate files
    cand_entries, n_winners = prune_candidates(
        entries, winners, keys, table.schema(parent)
    )
    if n_winners == 0:
        winners.unpersist()
        return None  # ST6 empty-batch short-circuit

    payload_schema = batch.drop("change_type", DELETED_COL, TS_COL, SEQ_COL).schema
    table.evolve_schema(payload_schema, strategy=schema_evolution)

    # ---- replay guard against the VISIBLE (merge-on-read-resolved) rows ----
    # Scoped to the manifest-pruned candidate files only, resolved through
    # the same equality-delete anti-join scan() uses: a key whose old row is
    # already shadowed compares against its live version, and a key deleted
    # earlier compares against nothing (reinsert at any ts — reference
    # insert-clause parity). Catalyst prunes the read to (key, ts): the
    # image bytes in the candidate files are never fetched.
    if cand_entries:
        cand_df = table.read_live(
            cand_entries, pending_deletes, table.schema(parent), recorded or keys
        )
        visible = cand_df.groupBy(*keys).agg(F.max(TS_META).alias("__t_ts"))
        # cached: read twice (upsert data files + tombstone delete file);
        # unpersisted after both writes below
        guard_cached = (
            winners.join(visible, keys, "left")
            .where(F.col("__t_ts").isNull() | (F.col("__t_ts") <= F.col(TS_COL)))
            .cache()
        )
        # Tombstones only for keys that actually shadow an existing row;
        # pure inserts (no visible match) write none.
        tombstones = guard_cached.where(F.col("__t_ts").isNotNull()).select(*keys)
        guarded = guard_cached.drop("__t_ts")
    else:
        guard_cached = None
        guarded = winners
        tombstones = guarded.limit(0).select(*keys)

    upserts = guarded.where(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
    merged = winners_as_merged(upserts, keys)
    if target_rows_per_file:
        n_files = max(1, math.ceil(n_winners / target_rows_per_file))
    else:
        n_files = max(
            1,
            round(
                n_winners
                * _estimate_row_bytes(winners)
                / table.DEFAULT_TARGET_FILE_BYTES
            ),
        )
    merged = merged.repartitionByRange(
        n_files, *[F.col(c) for c in keys]
    ).sortWithinPartitions(*keys)
    added = table.write_data_files(merged)

    # The delete file is tiny (keys only): a single sorted file keeps its
    # footer stats tight so scan-side candidate pruning stays sharp. Sorting
    # after coalesce(1) needs no range-sampling job or shuffle.
    del_entries: list[FileEntry] = []
    if cand_entries:
        del_df = tombstones.coalesce(1).sortWithinPartitions(*keys)
        # key-only tombstones aren't table data; constraint columns are
        # validated where they exist (the co-committed data files)
        del_entries = table.write_data_files(
            del_df, content="eq_deletes", enforce_constraints=False
        )

    if guard_cached is not None:
        guard_cached.unpersist()
    if not added and not del_entries:
        winners.unpersist()
        return None  # every batch row lost the replay guard

    version = table.commit(
        "merge-mor",
        added=added + del_entries,
        # re-resolved, not the captured parent: evolve_schema may have
        # committed a metadata-only version in between
        expected_parent=table.head_version(),
        summary={
            "batch_winners": n_winners,
            "candidate_files": len(cand_entries),
            "eq_delete_cols": keys,
            "tombstone_rows": sum(e.rows for e in del_entries),
        },
    )
    winners.unpersist()
    return version


def apply_deletes(table: IcepackTable) -> int | None:
    """Major compaction of pending delete files — equality (CDC merge
    tombstones) or positional (rowops DML) alike: rewrite exactly the data
    files a pending delete file can hit (eq: newer delete seq + overlapping
    key range/bloom; pos: the exact files the delete rows name), drop every
    delete file, and restore the pure-data manifest. Returns the new
    version, or None when no delete files are pending.

    The rewrite reads each affected file through the same broadcast anti-join
    scan() uses, at its natural splits (one output per split, pixels never
    cross an exchange). Unaffected files are carried over untouched, so the
    cost is proportional to the churned working set — the same bound the
    merge itself had."""
    parent = table.head_version()
    data, deletes, pos_deletes = table._split_deletes(table.files(parent))
    if not deletes and not pos_deletes:
        return None
    key_cols = table.snapshot(parent).summary.get("eq_delete_cols") or []

    if pos_deletes:
        # positional deletes name their victim files exactly — the hit set
        # is the named ∩ live files, no range/bloom refinement needed
        live = {e.path for e in data}
        named = set(table.pos_delete_targets(pos_deletes)) & live
        hit = [e for e in data if e.path in named]
        deletes = pos_deletes
    else:
        # range + (when available) driver-side bloom refinement — on an
        # arrival-ordered layout the blooms are what keep a sparse tombstone
        # set from forcing a full-table rewrite here
        hits = table.delete_hit_candidates(data, deletes, key_cols)
        hit = [e for e in data if e.path in hits]
    removed = [e.path for e in hit] + [e.path for e in deletes]
    added: list[FileEntry] = []
    if hit:
        resolved = table.read_live(hit, deletes, table.schema(parent), key_cols)
        added = table.write_data_files(
            resolved, enforce_constraints=False  # re-files validated rows
        )
    version = table.commit(
        "apply-deletes",
        added=added,
        removed_paths=removed,
        expected_parent=parent,
        summary={
            "eq_delete_cols": None,
            "applied_delete_files": len(deletes),
            "rewritten_files": len(hit),
        },
    )
    return version


def maybe_apply_deletes(
    table: IcepackTable,
    max_delete_files: int = DEFAULT_MOR_MAX_DELETE_FILES,
    max_delete_ratio: float = DEFAULT_MOR_MAX_DELETE_RATIO,
) -> int | None:
    """Auto-maintenance policy for pending equality deletes, the MoR analogue
    of ``maybe_compact``: apply when delete files pile up (every one joins the
    scan's broadcast side) or when tombstones reach ``max_delete_ratio`` of
    the table's rows (scan-side anti-join cost grows with churn). The 0.3
    default is Iceberg's ``delete-ratio-threshold``: a lower ratio folds
    after nearly every CDC batch and turns merge-on-read back into
    copy-on-write. Driver-side manifest math only; returns the new version
    or None (no-op)."""
    entries = table.files()
    dels = [e for e in entries if e.content != "data"]
    if not dels:
        return None
    data_rows = sum(e.rows for e in entries if e.content == "data") or 1
    if (
        len(dels) >= max_delete_files
        or sum(e.rows for e in dels) / data_rows >= max_delete_ratio
    ):
        return apply_deletes(table)
    return None
