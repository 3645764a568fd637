"""Predicate row-level operations: DELETE FROM / UPDATE ... WHERE.

Delta ``DELETE FROM t WHERE p`` / ``UPDATE t SET c = e WHERE p`` parity for
icepack tables (the reference rides Delta for these, README.md:9 ACID notes;
its own MERGE clauses in MergeQueries.scala cover only the CDC path — the
ad-hoc predicate forms live here).

Scale shape (the 100-TB plan):

- **Manifest pruning first.** Only files whose min/max/bloom stats and
  partition-transform values say the predicate MIGHT match are touched
  (``IcepackTable.prune_files``, the planner ``scan`` uses); at 10^12 rows a
  predicate with any key locality rewrites a handful of files, never the
  table.
- **Metadata-only deletes.** A file whose stats PROVE every row matches
  (``FileEntry.must_match_all``: exact bounds inside the predicate AND an
  exact null count of zero) is dropped from the manifest without being
  read — Iceberg's "delete with metadata" fast path. Partition-aligned
  deletes (drop a day, drop a source) cost one manifest write.
- **CoW rewrite for the rest.** Surviving candidate files are read once
  (merge-on-read deletes resolved, so shadowed rows can never resurrect
  with the rewrite's fresh data-sequence number), filtered/rewritten with
  vectorized expressions, and swapped in one atomic commit. Untouched
  files never enter any plan.
- **No extra count jobs.** Affected-row counts ride the write job via
  ``DataFrame.observe`` (update) or manifest row-count arithmetic (delete).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..table.icepack import POS_FILE_COL, POS_IDX_COL, FileEntry, IcepackTable

__all__ = [
    "delete_where",
    "update_where",
    "delete_where_mor",
    "update_where_mor",
]

Filter = tuple  # (col, op, value) with op in = < <= > >= between in


def _reclaim_staged(table: IcepackTable, entries: list[FileEntry]) -> None:
    """Remove the staging dir(s) of never-committed entries entirely —
    including _SUCCESS/.crc markers the entry list doesn't know about.
    Every write_data_files call stages under its own data/<uuid>/ root, so
    the first two path components identify it unambiguously."""
    import shutil

    roots = set()
    for e in entries:
        parts = e.path.split(os.sep)
        if len(parts) >= 2 and parts[0] == "data":
            roots.add(os.path.join(table.root, parts[0], parts[1]))
    for r in roots:
        shutil.rmtree(r, ignore_errors=True)


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


def delete_where(
    table: IcepackTable,
    filters: list[Filter] | None = None,
    residual_sql: str | None = None,
    num_files: int | None = None,
) -> dict:
    """``DELETE FROM table WHERE <pred>``: metadata-drop fully-matching
    files, rewrite partially-matching ones, one atomic commit.

    ``filters``: [(col, op, value)] — the prunable conjunction (same ops as
    ``scan``). ``residual_sql``: extra SQL predicate ANDed in row-level
    (disables metadata-only drops — arbitrary SQL can't be proven from
    stats). SQL null semantics: rows where the predicate is NULL survive.

    Returns a report dict; ``version`` is None when the delete provably
    matched nothing (no commit, staged bytes reclaimed)."""
    snap = table.snapshot()
    data, deletes, pos_pending = table._split_deletes(table.files(snap.version))
    filters = filters or []
    pred = _pred_column(filters, residual_sql)  # validates non-empty early

    cand = table.prune_files(data, filters, snap.schema)
    pos_named = (
        set(table.pos_delete_targets(pos_pending)) if pos_pending else set()
    )
    droppable = (
        []
        if residual_sql
        else [
            e
            for e in cand
            if filters
            # a file with pending pos-deleted rows is NOT fully matching —
            # its shadowed rows are logically gone already and must not be
            # double-counted by a metadata drop
            and e.path not in pos_named
            and all(e.must_match_all(c, op, v) for (c, op, v) in filters)
        ]
    )
    drop_paths = {e.path for e in droppable}
    rewrite = [e for e in cand if e.path not in drop_paths]

    added: list[FileEntry] = []
    rows_gross = sum(e.rows for e in rewrite)
    rows_kept = 0
    if rewrite:
        # pending MoR deletes resolved: the rewrite stamps a fresh (higher)
        # data-sequence number and fresh files, so an unresolved shadowed
        # row would RESURRECT
        df = table.read_live(
            rewrite,
            deletes + pos_pending,
            snap.schema,
            snap.summary.get("eq_delete_cols") or [],
        )
        kept_df = df.where(~F.coalesce(pred, F.lit(False)))
        # deletes only re-file rows the table already validated
        added = table.write_data_files(
            kept_df, num_files=num_files, enforce_constraints=False
        )
        rows_kept = sum(e.rows for e in added)

    # Provable no-op: nothing droppable, no pending MoR deletes muddying the
    # gross/kept arithmetic, and the rewrite kept every row — skip the commit
    # and reclaim the staged bytes instead of churning the manifest.
    if not droppable and not deletes and not pos_pending and rows_kept == rows_gross:
        _reclaim_staged(table, added)
        return {
            "version": None,
            "rows_deleted": 0,
            "files_scanned": len(rewrite),
            "files_dropped_metadata_only": 0,
            "files_rewritten": 0,
            "files_pruned": len(data) - len(cand),
            "predicate": _describe_pred(filters, residual_sql),
        }

    version = table.commit(
        "delete",
        added=added,
        removed_paths=[e.path for e in droppable] + [e.path for e in rewrite],
        # snapshot-isolation DML with optimistic concurrency: rebase over
        # concurrent appends (rows this predicate never saw stay untouched —
        # Iceberg's snapshot-isolation DELETE), refuse if a candidate file
        # was removed or a delete file landed since the read (see commit())
        requirements=[
            ("files-live", [e.path for e in cand]),
            ("no-new-deletes", snap.version),
        ],
        summary={
            "predicate": _describe_pred(filters, residual_sql),
            "files_dropped_metadata_only": len(droppable),
            "files_rewritten": len(rewrite),
        },
    )
    return {
        "version": version,
        # gross arithmetic: with pending MoR deletes resolved at read this
        # also counts previously-shadowed rows (they leave the manifest too)
        "rows_deleted": sum(e.rows for e in droppable) + rows_gross - rows_kept,
        "files_scanned": len(rewrite),
        "files_dropped_metadata_only": len(droppable),
        "files_rewritten": len(rewrite),
        "files_pruned": len(data) - len(cand),
        "predicate": _describe_pred(filters, residual_sql),
    }


def _fold_eq_deletes(table: IcepackTable) -> None:
    """Positional-delete DML never coexists with pending CDC equality
    deletes in one snapshot (delete-kind homogeneity — every reader resolves
    ONE kind): fold pending eq tombstones into the data files first, exactly
    as merge_into_table_mor folds pending positions."""
    if any(e.content == "eq_deletes" for e in table.files()):
        from .mor import apply_deletes

        apply_deletes(table)


def _write_pos_delete_file(
    table: IcepackTable,
    positions: DataFrame,
    cand: list[FileEntry],
) -> list[FileEntry]:
    """Stage ONE positional-delete file from (``__abs``, ``__idx``) rows:
    URIs map back to manifest-relative paths through a broadcast of the
    candidate list (driver-side, exact), sorted (file, pos) so footer stats
    stay tight. Returns the staged entries re-tagged ``pos_deletes``."""
    mapping = table.spark.createDataFrame(
        [(table._file_uri(e.path), e.path) for e in cand],
        "__abs string, __relfile string",
    )
    pos_df = (
        positions.join(F.broadcast(mapping), "__abs")
        .select(
            F.col("__relfile").alias(POS_FILE_COL),
            F.col("__idx").alias(POS_IDX_COL),
        )
        .orderBy(POS_FILE_COL, POS_IDX_COL)
        .coalesce(1)
    )
    added = table.write_data_files(pos_df, enforce_constraints=False)
    for e in added:
        e.content = "pos_deletes"
    return added


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
    every partially-matching file; at 100 TB of image rows a predicate that
    deletes 0.1% of rows scattered across the table makes that a full-table
    rewrite. This path writes O(matched rows) — a few longs per deleted
    row — and defers the rewrite to ``apply_deletes`` (policy-batched via
    ``maybe_apply_deletes``, exactly like CDC equality tombstones).

    Same predicate surface and report shape as ``delete_where``; identical
    visible rows afterwards (pinned by tests/test_pos_deletes.py parity)."""
    _fold_eq_deletes(table)
    snap = table.snapshot()
    data, _eq, pos_pending = table._split_deletes(table.files(snap.version))
    filters = filters or []
    pred = _pred_column(filters, residual_sql)  # validates non-empty early

    cand = table.prune_files(data, filters, snap.schema)
    pos_named = (
        set(table.pos_delete_targets(pos_pending)) if pos_pending else set()
    )
    # metadata-only drops still beat a pos-delete file — but a file with
    # pending pos rows must stay row-level (dropping it would strand its
    # positions and break the metadata-only count arithmetic)
    droppable = (
        []
        if residual_sql
        else [
            e
            for e in cand
            if filters
            and e.path not in pos_named
            and all(e.must_match_all(c, op, v) for (c, op, v) in filters)
        ]
    )
    drop_paths = {e.path for e in droppable}
    rewrite = [e for e in cand if e.path not in drop_paths]

    added: list[FileEntry] = []
    if rewrite:
        # pending positions resolved out: a row a previous MoR DML already
        # deleted can never re-match
        df = table.read_with_positions(rewrite, snap.schema, pos_pending)
        matched = df.where(F.coalesce(pred, F.lit(False))).select("__abs", "__idx")
        added = _write_pos_delete_file(table, matched, rewrite)
    rows_deleted = sum(e.rows for e in added)

    if not droppable and rows_deleted == 0:
        return {
            "version": None,
            "rows_deleted": 0,
            "files_scanned": len(rewrite),
            "files_dropped_metadata_only": 0,
            "pos_delete_files": 0,
            "files_pruned": len(data) - len(cand),
            "predicate": _describe_pred(filters, residual_sql),
        }

    version = table.commit(
        "delete-pos",
        added=added,
        removed_paths=[e.path for e in droppable],
        # positions address candidate files BY PATH: a concurrent rewrite of
        # one (compact/cluster/merge) re-files its rows and this delete's
        # pairs would dangle — the matched rows would silently survive.
        # A delete file landing meanwhile breaks delete-kind homogeneity.
        requirements=[
            ("files-live", [e.path for e in cand]),
            ("no-new-deletes", snap.version),
        ],
        summary={
            "predicate": _describe_pred(filters, residual_sql),
            "files_dropped_metadata_only": len(droppable),
            "rows_pos_deleted": rows_deleted,
        },
    )
    return {
        "version": version,
        "rows_deleted": sum(e.rows for e in droppable) + rows_deleted,
        "files_scanned": len(rewrite),
        "files_dropped_metadata_only": len(droppable),
        "pos_delete_files": len(added),
        "files_pruned": len(data) - len(cand),
        "predicate": _describe_pred(filters, residual_sql),
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
    own output — the path-exact analogue of the eq-delete seq scoping."""
    snap0 = table.snapshot()
    field_types = {f.name: f.dataType for f in snap0.schema.fields}
    bad = sorted(set(assignments) - set(field_types))
    if bad:
        raise ValueError(f"unknown column(s) in assignments: {bad}")
    _fold_eq_deletes(table)
    snap = table.snapshot()
    data, _eq, pos_pending = table._split_deletes(table.files(snap.version))
    filters = filters or []
    pred = _pred_column(filters, residual_sql)

    cand = table.prune_files(data, filters, snap.schema)
    report_base = {
        "files_pruned": len(data) - len(cand),
        "predicate": _describe_pred(filters, residual_sql),
    }
    if not cand:
        return {"version": None, "rows_updated": 0, "pos_delete_files": 0,
                **report_base}

    df = table.read_with_positions(cand, snap.schema, pos_pending)
    # matched rows only — bounded by the predicate's churn, read twice
    # (postimage data files + pos-delete file); unpersisted after both
    matched = df.where(F.coalesce(pred, F.lit(False))).cache()
    new_cols = {
        col: (F.expr(expr) if isinstance(expr, str) else expr).cast(
            field_types[col]
        )
        for col, expr in assignments.items()
    }
    post = matched.withColumns(new_cols).drop("__abs", "__idx")
    added_data = table.write_data_files(
        post,
        num_files=num_files,
        partition_by=table.partition_spec() or None,
        enforce_constraints=True,  # an UPDATE can introduce violations
    )
    rows_updated = sum(e.rows for e in added_data)
    if rows_updated == 0:
        matched.unpersist()
        return {"version": None, "rows_updated": 0, "pos_delete_files": 0,
                **report_base, "files_scanned": len(cand)}

    pos_entries = _write_pos_delete_file(
        table, matched.select("__abs", "__idx"), cand
    )
    matched.unpersist()
    pos_rows = sum(e.rows for e in pos_entries)
    if pos_rows != rows_updated:
        # the URI mapping dropped rows — abort loudly before committing a
        # snapshot that would double-count the updated rows
        _reclaim_staged(table, added_data + pos_entries)
        raise RuntimeError(
            f"update_where_mor position mapping mismatch: {rows_updated} "
            f"updated rows but {pos_rows} positions staged"
        )

    version = table.commit(
        "update-mor",
        added=added_data + pos_entries,
        # same contract as delete-pos: path-addressed positions die with a
        # concurrent rewrite of a candidate file (the update would apply
        # AND its preimage rows would survive — a duplicate, worse than a
        # lost write), and a concurrent delete file breaks homogeneity
        requirements=[
            ("files-live", [e.path for e in cand]),
            ("no-new-deletes", snap.version),
        ],
        summary={
            "predicate": report_base["predicate"],
            "assignments": {k: str(v) for k, v in assignments.items()},
            "rows_updated": rows_updated,
        },
    )
    return {
        "version": version,
        "rows_updated": rows_updated,
        "pos_delete_files": len(pos_entries),
        "files_scanned": len(cand),
        **report_base,
    }


def update_where(
    table: IcepackTable,
    assignments: dict[str, Any],
    filters: list[Filter] | None = None,
    residual_sql: str | None = None,
    num_files: int | None = None,
) -> dict:
    """``UPDATE table SET <assignments> WHERE <pred>``: rewrite only the
    files the predicate might touch.

    ``assignments``: {column: SQL expression string | Column}. Expressions
    see the pre-update row (standard UPDATE semantics — all assignments
    evaluate against the old values, so ``{"a": "b", "b": "a"}`` swaps).
    Assigned values are cast back to the column's declared type; CHECK
    constraints are enforced on the rewritten rows (an UPDATE can introduce
    violations, unlike DELETE). Updated-row count rides the write job via
    ``observe`` — no extra scan."""
    snap = table.snapshot()
    schema = snap.schema
    field_types = {f.name: f.dataType for f in schema.fields}
    bad = sorted(set(assignments) - set(field_types))
    if bad:
        raise ValueError(f"unknown column(s) in assignments: {bad}")
    data, deletes, pos_pending = table._split_deletes(table.files(snap.version))
    filters = filters or []
    pred = _pred_column(filters, residual_sql)

    cand = table.prune_files(data, filters, snap.schema)
    report_base = {
        "files_pruned": len(data) - len(cand),
        "files_rewritten": len(cand),
        "predicate": _describe_pred(filters, residual_sql),
    }
    if not cand:
        return {"version": None, "rows_updated": 0, **report_base}

    df = table.read_live(
        cand,
        deletes + pos_pending,
        schema,
        snap.summary.get("eq_delete_cols") or [],
    )
    hit = F.coalesce(pred, F.lit(False))
    # all WHEN branches read OLD values: build every assignment against df's
    # columns before any withColumn rebinds them
    new_cols = {
        col: F.when(
            hit, F.expr(expr) if isinstance(expr, str) else expr
        )
        .otherwise(F.col(col))
        .cast(field_types[col])
        for col, expr in assignments.items()
    }
    from pyspark.sql import Observation

    obs = Observation()
    # observe BEFORE the projection: an assignment that modifies a predicate
    # column (SET g = g + 100 WHERE g = 2) must count hits against the OLD
    # values — observed after withColumns, the metric re-evaluates the
    # predicate on updated rows, reads 0, and the no-op short-circuit
    # silently reclaims a real update (caught by test_pos_deletes parity)
    out = df.observe(
        obs, F.sum(hit.cast("long")).alias("rows_updated")
    ).withColumns(new_cols)
    added = table.write_data_files(
        out, num_files=num_files, enforce_constraints=True
    )
    rows_updated = int(obs.get["rows_updated"] or 0)

    if rows_updated == 0 and not deletes and not pos_pending:
        # provable no-op (the conservative manifest pruning over-selected):
        # reclaim staged bytes, leave the manifest alone
        _reclaim_staged(table, added)
        return {"version": None, "rows_updated": 0, **report_base,
                "files_rewritten": 0, "files_scanned": len(cand)}

    version = table.commit(
        "update",
        added=added,
        removed_paths=[e.path for e in cand],
        # snapshot-isolation UPDATE: rebase over concurrent appends, refuse
        # if a candidate was removed (rewrite would resurrect its old rows)
        # or a delete file landed (fresh seq would un-shadow its rows)
        requirements=[
            ("files-live", [e.path for e in cand]),
            ("no-new-deletes", snap.version),
        ],
        summary={
            "predicate": report_base["predicate"],
            "assignments": {k: str(v) for k, v in assignments.items()},
            "rows_updated": rows_updated,
            "files_rewritten": len(cand),
        },
    )
    return {"version": version, "rows_updated": rows_updated, **report_base}
