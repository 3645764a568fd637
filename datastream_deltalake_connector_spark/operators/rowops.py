"""Predicate row-level operations: DELETE FROM / UPDATE ... WHERE.

Delta ``DELETE FROM t WHERE p`` / ``UPDATE t SET c = e WHERE p`` parity for
icepack tables (the reference rides Delta for these, README.md:9 ACID notes;
its own MERGE clauses in MergeQueries.scala cover only the CDC path — the
ad-hoc predicate forms live here).

Every entry point runs one plan (:func:`_plan`), the 100-TB shape:

- **Prune.** Only files whose min/max/bloom stats and partition-transform
  values say the predicate MIGHT match are touched
  (``IcepackTable.prune_files``, the planner ``scan`` uses); at 10^12 rows a
  predicate with any key locality reads a handful of files, never the
  table.
- **Metadata-only drops (DELETE).** A file whose stats PROVE every row
  matches (``FileEntry.must_match_all``: exact bounds inside the predicate
  AND an exact null count of zero) is dropped from the manifest without
  being read — Iceberg's "delete with metadata" fast path. Partition-aligned
  deletes (drop a day, drop a source) cost one manifest write.
- **Locate.** The remaining candidates are read once through
  ``read_with_positions`` (pending positional deletes resolved out),
  and ``IcepackTable.files_holding`` names the files holding a matching
  live row — Delta's "find the touched files first". No hit: no write, no
  commit.
- **Emit.** Copy-on-write rewrites exactly the hit files (pending deletes
  resolved through ``read_live``, so shadowed rows can never resurrect
  with the rewrite's fresh data-sequence number); merge-on-read shadows
  the matched rows with ONE positional-delete file. Both swap in one
  atomic commit whose requirements name every pruned candidate.

Affected-row counts ride the write job (``DataFrame.observe`` for UPDATE)
or manifest row-count arithmetic (DELETE).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..table.icepack import ConflictError, FileEntry, IcepackTable, Snapshot
from .generic_merge import _write_pos_delete_file

__all__ = [
    "delete_where",
    "update_where",
    "delete_where_mor",
    "update_where_mor",
]

Filter = tuple  # (col, op, value) with op in = < <= > >= between in


def _pred_column(filters: list[Filter], residual_sql: str | None) -> Column:
    """Conjunction of structured filters (the prunable part) and an optional
    residual SQL expression (arbitrary, never used for pruning)."""
    conj = IcepackTable.filter_column(filters or [])
    if residual_sql:
        r = F.expr(residual_sql)
        conj = r if conj is None else conj & r
    if conj is None:
        raise ValueError(
            "empty predicate: pass filters and/or residual_sql "
            "(a full-table delete is overwrite_all/expire territory, "
            "never an implicit default)"
        )
    return conj


def _describe_pred(filters: list[Filter], residual_sql: str | None) -> str:
    parts = [f"{c} {op} {v!r}" for c, op, v in filters or []]
    if residual_sql:
        parts.append(residual_sql)
    return " AND ".join(parts)


@dataclass
class _Plan:
    """One DML's view of the table: the snapshot it read, the pending
    delete files, the pruned candidates, the ones metadata alone proves
    fully matching (``dropped``) and the rest, which need a row-level look."""

    table: IcepackTable
    snap: Snapshot
    deletes: list[FileEntry]  # pending positional-delete files
    pred: Column
    cand: list[FileEntry]
    dropped: list[FileEntry]
    rest: list[FileEntry]
    report: dict

    def matches(self, files: list[FileEntry]) -> DataFrame:
        """The live rows of ``files`` the predicate holds on, with their
        (``__abs``, ``__idx``) address; rows pending deletes shadow are
        resolved out, so a deleted row can never re-match."""
        return self.table.read_with_positions(
            files, self.snap.schema, self.deletes
        ).where(F.coalesce(self.pred, F.lit(False)))

    def locate(self) -> list[FileEntry]:
        """The ``rest`` files holding at least one matching live row."""
        if not self.rest:
            return []
        hits = self.table.files_holding(self.rest, self.matches(self.rest))
        return [e for e in self.rest if e.path in hits]

    def read_live(self, files: list[FileEntry]) -> DataFrame:
        return self.table.read_live(files, self.deletes, self.snap.schema)

    def commit(
        self, op: str, added: list[FileEntry], removed: list[FileEntry], summary: dict
    ) -> int:
        try:
            return self.table.commit(
                op,
                added=added,
                removed_paths=[e.path for e in removed],
                # snapshot-isolation DML with optimistic concurrency: rebase
                # over concurrent appends (rows this predicate never saw stay
                # untouched), refuse if a candidate file was removed (a
                # rewrite would resurrect its old rows; positions would
                # dangle) or a delete file landed since the read (a rewrite
                # would drop the file its positions name) — see commit()
                requirements=[
                    ("files-live", [e.path for e in self.cand]),
                    ("no-new-deletes", self.snap.version),
                ],
                summary={"predicate": self.report["predicate"], **summary},
            )
        except ConflictError:
            self.table.discard_staged(added)  # a refused commit leaves no files
            raise


def _plan(
    table: IcepackTable,
    filters: list[Filter] | None,
    residual_sql: str | None,
    metadata_drops: bool,
) -> _Plan:
    """Snapshot, delete split, pruning and (for DELETE) metadata-only drops.
    ``residual_sql`` disables the drops: arbitrary SQL can't be proven from
    stats."""
    snap = table.snapshot()
    data, deletes = table._split_deletes(table.files(snap.version))
    filters = filters or []
    pred = _pred_column(filters, residual_sql)  # validates non-empty early
    cand = table.prune_files(data, filters, snap.schema)
    dropped: list[FileEntry] = []
    if metadata_drops and filters and not residual_sql:
        # a file with pending pos-deleted rows is NOT fully matching — its
        # shadowed rows are logically gone already and must not be
        # double-counted by a metadata drop
        named = set(table.pos_delete_targets(deletes))
        dropped = [
            e
            for e in cand
            if e.path not in named
            and all(e.must_match_all(c, op, v) for (c, op, v) in filters)
        ]
    drop_paths = {e.path for e in dropped}
    rest = [e for e in cand if e.path not in drop_paths]
    report = {
        "files_pruned": len(data) - len(cand),
        "files_scanned": len(rest),
        "predicate": _describe_pred(filters, residual_sql),
    }
    if metadata_drops:
        report["files_dropped_metadata_only"] = len(dropped)
    return _Plan(table, snap, deletes, pred, cand, dropped, rest, report)


def _assignment_types(table: IcepackTable, assignments: dict[str, Any]) -> dict:
    """The declared type of every column, after checking that each
    assignment targets one."""
    field_types = {f.name: f.dataType for f in table.snapshot().schema.fields}
    bad = sorted(set(assignments) - set(field_types))
    if bad:
        raise ValueError(f"unknown column(s) in assignments: {bad}")
    return field_types


def _expr(e: Any) -> Column:
    return F.expr(e) if isinstance(e, str) else e


def delete_where(
    table: IcepackTable,
    filters: list[Filter] | None = None,
    residual_sql: str | None = None,
    num_files: int | None = None,
) -> dict:
    """``DELETE FROM table WHERE <pred>``: metadata-drop fully-matching
    files, rewrite the files holding a match, one atomic commit.

    ``filters``: [(col, op, value)] — the prunable conjunction (same ops as
    ``scan``). ``residual_sql``: extra SQL predicate ANDed in row-level
    (disables metadata-only drops). SQL null semantics: rows where the
    predicate is NULL survive.

    Returns a report dict; ``version`` is None when the delete matched
    nothing (no write, no commit)."""
    plan = _plan(table, filters, residual_sql, metadata_drops=True)
    hit = plan.locate()
    report = {**plan.report, "files_rewritten": len(hit)}
    if not plan.dropped and not hit:
        return {"version": None, "rows_deleted": 0, **report}
    added: list[FileEntry] = []
    if hit:
        kept = plan.read_live(hit).where(~F.coalesce(plan.pred, F.lit(False)))
        # deletes only re-file rows the table already validated
        added = table.write_data_files(
            kept, num_files=num_files, enforce_constraints=False
        )
    removed = plan.dropped + hit
    version = plan.commit(
        "delete",
        added,
        removed,
        {
            "files_dropped_metadata_only": len(plan.dropped),
            "files_rewritten": len(hit),
        },
    )
    # gross arithmetic: with pending MoR deletes resolved at read this also
    # counts previously-shadowed rows (they leave the manifest too)
    rows_deleted = sum(e.rows for e in removed) - sum(e.rows for e in added)
    return {"version": version, "rows_deleted": rows_deleted, **report}


def delete_where_mor(
    table: IcepackTable,
    filters: list[Filter] | None = None,
    residual_sql: str | None = None,
) -> dict:
    """``DELETE FROM table WHERE <pred>``, merge-on-read: metadata-drop
    fully-matching files, and shadow the remaining matches with ONE
    positional-delete file of (file, row-index) pairs instead of rewriting
    their files.

    The copy-on-write twin (:func:`delete_where`) re-encodes every byte of
    every file holding a match; at 100 TB of image rows a predicate that
    deletes 0.1% of rows scattered across the table makes that a full-table
    rewrite. This path writes O(matched rows) — a few longs per deleted
    row — and defers the rewrite to ``apply_deletes`` (policy-batched via
    ``maybe_apply_deletes``, exactly like the MoR CDC merge's).

    Same predicate surface and report shape as ``delete_where``; identical
    visible rows afterwards (pinned by tests/test_pos_deletes.py parity)."""
    plan = _plan(table, filters, residual_sql, metadata_drops=True)
    added: list[FileEntry] = []
    if plan.rest:
        added = _write_pos_delete_file(table, plan.matches(plan.rest), plan.rest)
    rows_deleted = sum(e.rows for e in added)
    report = {**plan.report, "pos_delete_files": len(added)}
    if not plan.dropped and not added:
        return {"version": None, "rows_deleted": 0, **report}
    version = plan.commit(
        "delete-pos",
        added,
        plan.dropped,
        {
            "files_dropped_metadata_only": len(plan.dropped),
            "rows_pos_deleted": rows_deleted,
        },
    )
    return {
        "version": version,
        "rows_deleted": sum(e.rows for e in plan.dropped) + rows_deleted,
        **report,
    }


def update_where_mor(
    table: IcepackTable,
    assignments: dict[str, Any],
    filters: list[Filter] | None = None,
    residual_sql: str | None = None,
    num_files: int | None = None,
) -> dict:
    """``UPDATE table SET <assignments> WHERE <pred>``, merge-on-read:
    append the updated rows as new data files and shadow their old physical
    positions with ONE positional-delete file — write cost O(matched rows),
    never O(files touched).

    Same assignment semantics as :func:`update_where` (all expressions see
    the pre-update row; values cast back to declared types; CHECK
    constraints enforced on the updated rows). The new data files are
    co-committed with the pos-delete file; positions address only the OLD
    physical rows by (file, row-index), so the commit can never shadow its
    own output."""
    field_types = _assignment_types(table, assignments)
    plan = _plan(table, filters, residual_sql, metadata_drops=False)
    report = plan.report
    if not plan.cand:
        return {"version": None, "rows_updated": 0, "pos_delete_files": 0, **report}

    # matched rows only — bounded by the predicate's churn, read twice
    # (postimage data files + pos-delete file); unpersisted after both
    matched = plan.matches(plan.cand).cache()
    post = matched.withColumns(
        {c: _expr(e).cast(field_types[c]) for c, e in assignments.items()}
    ).drop("__abs", "__idx")
    # an UPDATE can introduce CHECK violations: constraints stay enforced
    added_data = table.write_data_files(post, num_files=num_files)
    rows_updated = sum(e.rows for e in added_data)
    if rows_updated == 0:
        matched.unpersist()
        return {"version": None, "rows_updated": 0, "pos_delete_files": 0, **report}

    pos_entries = _write_pos_delete_file(table, matched, plan.cand)
    matched.unpersist()
    pos_rows = sum(e.rows for e in pos_entries)
    if pos_rows != rows_updated:
        # the URI mapping dropped rows — abort loudly before committing a
        # snapshot that would double-count the updated rows
        table.discard_staged(added_data + pos_entries)
        raise RuntimeError(
            f"update_where_mor position mapping mismatch: {rows_updated} "
            f"updated rows but {pos_rows} positions staged"
        )

    version = plan.commit(
        "update-mor",
        added_data + pos_entries,
        [],
        {
            "assignments": {k: str(v) for k, v in assignments.items()},
            "rows_updated": rows_updated,
        },
    )
    return {
        "version": version,
        "rows_updated": rows_updated,
        "pos_delete_files": len(pos_entries),
        **report,
    }


def update_where(
    table: IcepackTable,
    assignments: dict[str, Any],
    filters: list[Filter] | None = None,
    residual_sql: str | None = None,
    num_files: int | None = None,
) -> dict:
    """``UPDATE table SET <assignments> WHERE <pred>``: rewrite only the
    files holding a matching row.

    ``assignments``: {column: SQL expression string | Column}. Expressions
    see the pre-update row (standard UPDATE semantics — all assignments
    evaluate against the old values, so ``{"a": "b", "b": "a"}`` swaps).
    Assigned values are cast back to the column's declared type; CHECK
    constraints are enforced on the rewritten rows (an UPDATE can introduce
    violations, unlike DELETE). Updated-row count rides the write job via
    ``observe``."""
    field_types = _assignment_types(table, assignments)
    plan = _plan(table, filters, residual_sql, metadata_drops=False)
    hit = plan.locate()
    report = {**plan.report, "files_rewritten": len(hit)}
    if not hit:
        return {"version": None, "rows_updated": 0, **report}

    df = plan.read_live(hit)
    match = F.coalesce(plan.pred, F.lit(False))
    # all WHEN branches read OLD values: build every assignment against df's
    # columns before any withColumn rebinds them
    new_cols = {
        c: F.when(match, _expr(e)).otherwise(F.col(c)).cast(field_types[c])
        for c, e in assignments.items()
    }
    obs = Observation()
    # observe BEFORE the projection: an assignment that modifies a predicate
    # column (SET g = g + 100 WHERE g = 2) must count hits against the OLD
    # values — observed after withColumns, the metric re-evaluates the
    # predicate on updated rows and reads 0
    out = df.observe(
        obs, F.sum(match.cast("long")).alias("rows_updated")
    ).withColumns(new_cols)
    added = table.write_data_files(out, num_files=num_files)
    rows_updated = int(obs.get["rows_updated"] or 0)

    version = plan.commit(
        "update",
        added,
        hit,
        {
            "assignments": {k: str(v) for k, v in assignments.items()},
            "rows_updated": rows_updated,
            "files_rewritten": len(hit),
        },
    )
    return {"version": version, "rows_updated": rows_updated, **report}
