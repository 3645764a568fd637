"""Merge-on-read MERGE INTO: positional-delete files instead of file rewrites.

The copy-on-write merge (operators/table_merge.py) re-expresses the
reference's ``MergeQueries.upsertToDelta`` (reference: MergeQueries.scala:
33-106) by rewriting every data file that holds a batch key. That is the
right plan when batches are large relative to the table — but the common
CDC shape at 100 TB is the opposite: a sub-percent change batch against a
huge table of image rows, where copy-on-write re-ENCODES and re-writes
hundreds of gigabytes of untouched pixels that happen to share files with
touched keys.

:func:`merge_into_table_mor` is the same body as the CoW merge — LWW dedup
(MergeQueries.scala:108-121), schema evolution and the reference's three
clauses with the ``<=`` replay guard (MergeQueries.scala:124-129) — on
``generic_merge.merge_into`` with its merge-on-read emitter, which marks
rows by position as Delta's deletion vectors do:

1. The candidate files ``IcepackTable.prune_by_keys`` keeps are read once
   with their row positions, resolved through pending deletes so shadowed
   rows cannot veto, and joined with the winners. Parquet column pruning
   reads only the key, the guard's timestamp and the positions: image
   bytes in the candidate files are never fetched.
2. The updated and inserted rows are appended as new data files, and ONE
   positional-delete file names the old versions of updated and deleted
   rows (pure inserts shadow nothing).
3. Both commit together; the commit requires the files the positions name
   to be live.

Write amplification per batch: O(batch) instead of O(touched files). The
deferred cost is paid once, in bulk, by :func:`apply_deletes` (major
compaction), which rewrites only the data files a delete file names and
drops the delete files — policy-driven via :func:`maybe_apply_deletes`
exactly like ``maybe_compact``.

Semantics parity with CoW (pinned by tests/test_mor.py): same visible rows
for any batch sequence, idempotent replay, older-batch discard, delete via
``is_deleted`` with unmatched-delete no-op, and delete-then-reinsert
matching the reference's "not matched → insert" clause.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import DEFAULT_MOR_MAX_DELETE_FILES, DEFAULT_MOR_MAX_DELETE_RATIO
from ..table.icepack import FileEntry, IcepackTable
# prune_candidates: the pruning step's name, which perfbench's tracer wraps here
from .table_merge import merge_cdc, prune_candidates  # noqa: F401

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

    Result-equivalent to ``merge_into_table`` (CoW) — the same body with
    the positional-delete emitter — but the only data written is the
    batch's updated and inserted rows plus one small positional-delete
    file. Existing files are read once, column-pruned, and never
    rewritten."""
    return merge_cdc(table, batch, key, target_rows_per_file, schema_evolution, "mor")


def apply_deletes(table: IcepackTable) -> int | None:
    """Major compaction of pending positional-delete files (MoR merges and
    rowops DML alike): rewrite exactly the data files they name, drop every
    delete file, and restore the pure-data manifest. Returns the new
    version, or None when no delete files are pending.

    The rewrite reads each named file through the same broadcast anti-join
    scan() uses, at its natural splits (one output per split, pixels never
    cross an exchange). Unnamed files are carried over untouched, so the
    cost is proportional to the churned working set — the same bound the
    merge itself had."""
    parent = table.head_version()
    data, deletes = table._split_deletes(table.files(parent))
    if not deletes:
        return None
    hits = table.delete_hit_candidates(data, deletes)
    hit = [e for e in data if e.path in hits]
    added: list[FileEntry] = []
    if hit:
        resolved = table.read_live(hit, deletes, table.schema(parent))
        added = table.write_data_files(
            resolved, enforce_constraints=False  # re-files validated rows
        )
    return table.commit(
        "apply-deletes",
        added=added,
        removed_paths=[e.path for e in hit + deletes],
        expected_parent=parent,
        summary={
            "applied_delete_files": len(deletes),
            "rewritten_files": len(hit),
        },
    )


def maybe_apply_deletes(
    table: IcepackTable,
    max_delete_files: int = DEFAULT_MOR_MAX_DELETE_FILES,
    max_delete_ratio: float = DEFAULT_MOR_MAX_DELETE_RATIO,
) -> int | None:
    """Auto-maintenance policy for pending deletes, the MoR analogue of
    ``maybe_compact``: apply when delete files pile up (every one joins the
    scan's broadcast side) or when deleted positions reach
    ``max_delete_ratio`` of the table's rows (scan-side anti-join cost
    grows with churn). The 0.3 default is Iceberg's
    ``delete-ratio-threshold``: a lower ratio folds after nearly every CDC
    batch and turns merge-on-read back into copy-on-write. Driver-side
    manifest math only; returns the new version or None (no-op)."""
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
