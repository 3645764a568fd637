"""Change-data-feed OUT of an icepack table: ``table_changes`` reconstructs
row-level CDC between two snapshots — Delta Lake CDF (``table_changes(...)``)
/ Iceberg ``create_changelog_view`` parity — WITHOUT storing any change files.

The reference connector is a one-way street: Datastream CDC in, Delta table
out. Real deployments then need the lakehouse table itself to be a CDC
*source* for downstream consumers (feature stores, search indexes, replicas
— the same consumers the reference's Delta tables feed via Databricks CDF).
This module closes that loop natively on icepack.

Why no stored change files: every icepack commit already records exactly
which files it added and removed (the manifest diff), and every merged row
carries its LWW identity (``datastream_metadata_source_timestamp``,
``datastream_metadata_change_seq`` — stamped by ``winners_as_merged``,
operators/merge.py:86). Two rows with the same key and the same (ts, seq)
metadata ARE the same logical row — the merge guard (`<=`,
MergeQueries.scala:124-129 parity) never rewrites a winner without advancing
its ordering tuple, and replaying an identical batch re-stamps identical
metadata (so an idempotent replay correctly emits an EMPTY feed). That
identity rule turns the file diff into a row diff with one file-bounded join
per commit.

Cost model (the 100-TB story): for each commit in the requested range the
feed reads ONLY

  * data files ADDED by that commit (the new/updated rows), and
  * data files REMOVED by that commit (copy-on-write preimages), and
  * for merge-on-read commits, the rows at the positions the commit's
    positional-delete files add or drop (the shadowed preimages), read
    only from the files those positions name,

i.e. the commit's own churn working set — never the table. Maintenance
and metadata-only commits (the engine's one ``ROW_PRESERVING_OPS`` set:
compact, cluster, apply-deletes, schema, constraint and partition-spec
changes) are row-preserving under the resolved scan and emit nothing,
matching Delta CDF's behavior for OPTIMIZE. The per-commit diffs
are assembled with ``unionByName(allowMissingColumns=True)`` so a schema
evolution mid-range null-fills older commits exactly like the scan path.

Change rows follow Delta CDF naming: ``_change_type`` in {insert,
update_preimage, update_postimage, delete} plus ``_commit_version``.
"""

from __future__ import annotations

import json
import os
import tempfile
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import empty_frame
from ..table.icepack import ROW_PRESERVING_OPS, FileEntry, IcepackTable
from .merge import SEQ_META, TS_META

__all__ = ["table_changes", "incremental_changes", "foreach_changes"]


def _keys_for(table: IcepackTable, version: int, key) -> list[str]:
    if key:
        return [key] if isinstance(key, str) else list(key)
    recorded = (table.snapshot(version).summary or {}).get("keys")
    if recorded:
        return list(recorded)
    # walk back: rollback/overwrite commits don't record keys, but the
    # merge that built the table did
    for snap in reversed(table.snapshots()):
        if snap.version >= version:
            continue
        rec = (snap.summary or {}).get("keys")
        if rec:
            return list(rec)
    return []


def _resolved_old(
    table: IcepackTable,
    parent: int,
    entries: list[FileEntry],
    schema: T.StructType,
) -> DataFrame:
    """Rows of ``entries`` as they were VISIBLE at ``parent`` — preimages
    must not include rows a pending delete file had already shadowed
    (they were logically gone before this commit)."""
    if not entries:
        return empty_frame(table.spark, schema)
    _data, pending = table._split_deletes(table.files(parent))
    return table.read_live(entries, pending, schema)


def _rows_at_positions(
    table: IcepackTable,
    files: list[FileEntry],
    pairs: DataFrame,
    schema: T.StructType,
) -> DataFrame:
    """Rows of ``files`` addressed by the (``__dabs``, ``__dpos``) pairs —
    one broadcast semi-join on the physical row ordinal, the exact-lookup
    core of the positional-delete change feed."""
    cond = (F.col("__abs") == F.col("__dabs")) & (
        F.col("__idx") == F.col("__dpos")
    )
    return (
        table.read_with_positions(files, schema)
        .join(F.broadcast(pairs), cond, "left_semi")
        .drop("__abs", "__idx")
    )


def _classify(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    cols: list[str],
) -> DataFrame:
    """Full-outer join preimages vs postimages on the merge key and emit
    Delta-CDF-shaped change rows. Row identity is (key, TS_META, SEQ_META):
    identical tuples are carried rows (copy-on-write rewrites carry
    untouched neighbors through added files) and emit nothing."""
    o = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in cols],
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        F.lit(True).alias("__o_present"),
    )
    n = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in cols],
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        F.lit(True).alias("__n_present"),
    )
    cond = None
    for k in keys:
        c = F.col(f"__ok_{k}") == F.col(f"__nk_{k}")
        cond = c if cond is None else cond & c
    j = o.join(n, cond, "full_outer")

    def img(side: str, change: str):
        return F.struct(
            *[F.col(f"__{side}_{c}").alias(c) for c in cols],
            F.lit(change).alias("_change_type"),
        )

    has_old = F.col("__o_present").isNotNull()
    has_new = F.col("__n_present").isNotNull()
    if TS_META in cols and SEQ_META in cols:
        same = (
            F.col(f"__o_{TS_META}").eqNullSafe(F.col(f"__n_{TS_META}"))
            & F.col(f"__o_{SEQ_META}").eqNullSafe(F.col(f"__n_{SEQ_META}"))
        )
    else:
        # tables without the merge-metadata identity (plain appends +
        # row-level DML): a carried row is one whose every column survived
        # unchanged — null-safe so NULL == NULL counts as carried
        same = None
        for c in cols:
            eq = F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
            same = eq if same is None else same & eq
    # empty branch needs the same element type as the populated ones
    empty = F.slice(F.array(img("n", "x")), 1, 0)
    changes = (
        F.when(~has_old, F.array(img("n", "insert")))
        .when(~has_new, F.array(img("o", "delete")))
        .when(same, empty)
        .otherwise(
            F.array(img("o", "update_preimage"), img("n", "update_postimage"))
        )
    )
    return j.select(F.explode(changes).alias("__c")).select("__c.*")


def table_changes(
    table: IcepackTable,
    from_version: int,
    to_version: int | None = None,
    key: str | list[str] | None = None,
) -> DataFrame:
    """Row-level changes committed AFTER ``from_version`` up to and
    including ``to_version`` (default HEAD), as a DataFrame of the table's
    columns plus ``_change_type`` ('insert' | 'update_preimage' |
    'update_postimage' | 'delete') and ``_commit_version``.

    ``key``: the merge key column(s). Defaults to what the commits
    recorded (every merge records ``keys``); required only for key-less diffs of overwrite/rollback commits on
    tables that never merged.

    Guarantees (pinned by tests/test_changes.py):
      * append commits emit pure inserts;
      * CoW and MoR merges of the same batch emit the SAME feed (carried
        rows in rewritten files are suppressed by the (ts, seq) identity);
      * an idempotent replay emits an empty feed;
      * maintenance commits (compact/cluster/apply-deletes/evolve-schema)
        emit nothing;
      * a rollback emits the exact inverse of the commits it undoes;
      * applying the feed to the ``from_version`` snapshot reproduces the
        ``to_version`` snapshot.
    """
    head = table.head_version()
    to_version = head if to_version is None else to_version
    if from_version < 0 or to_version > head:
        raise ValueError(
            f"invalid version range [{from_version}, {to_version}] "
            f"(head is {head})"
        )
    # Versions are allocated globally across branches, so the commits of
    # THIS ref's line are found by walking the parent chain, never by
    # enumerating version ints (which would interleave other branches'
    # commits into the feed). Linear tables walk the same path either way.
    path: list[int] = []
    v_walk: int | None = to_version
    while v_walk is not None and v_walk != from_version:
        path.append(v_walk)
        v_walk = table.snapshot(v_walk).parent
    if v_walk != from_version:
        raise ValueError(
            f"v{from_version} is not an ancestor of v{to_version} "
            "(different branch?) — no linear change feed exists between them"
        )
    out: DataFrame | None = None
    out_schema = table.schema(to_version)
    out_cols = [f.name for f in out_schema.fields]
    prev_entries = table.files(from_version)
    for v in reversed(path):
        snap = table.snapshot(v)
        entries = table.files(v)
        op = snap.operation
        if op in ROW_PRESERVING_OPS:
            prev_entries = entries
            continue
        old_by_path = {e.path: e for e in prev_entries}
        new_by_path = {e.path: e for e in entries}
        added = [e for e in entries if e.path not in old_by_path]
        removed = [e for e in prev_entries if e.path not in new_by_path]
        prev_entries = entries
        added_data = [e for e in added if e.content == "data"]
        removed_data = [e for e in removed if e.content == "data"]
        affect_pos = [e for e in added + removed if e.content == "pos_deletes"]
        now_pos = [e for e in entries if e.content == "pos_deletes"]

        schema = snap.schema
        cols = [f.name for f in schema.fields]
        # a clone's first commit is an append from the clone's own history:
        # every referenced (source-owned) file is new to THIS version line
        if op in ("append", "clone") and not removed:
            diff = table._read_files(added_data, schema).withColumn(
                "_change_type", F.lit("insert")
            )
        else:
            keys = _keys_for(table, v, key)
            # a ROLLBACK can re-add data files together with the delete
            # files naming some of their rows: resolve through the commit's
            # own view
            new_df = table.read_live(added_data, now_pos, schema)
            old_schema = table.snapshot(v - 1).schema
            old_parts = [
                _resolved_old(table, v - 1, removed_data, old_schema)
            ]
            if affect_pos:
                # Positional-delete files added or removed by this commit
                # flip the visibility of EXACT rows: pair sets diffed across
                # the two manifests give newly-shadowed positions (preimages
                # — delete_where_mor / update_where_mor) and un-shadowed
                # ones (resurrections — rollback), each restricted to the
                # named data files present in BOTH manifests. The pairs ARE
                # the diff, so the feed reads only the addressed files.
                parent_pos = [
                    e
                    for e in old_by_path.values()
                    if e.content == "pos_deletes"
                ]
                empty_pairs = empty_frame(
                    table.spark, "__dabs string, __dpos long"
                )
                p_prev = (
                    table._pos_delete_df(parent_pos)
                    if parent_pos
                    else empty_pairs
                )
                p_now = (
                    table._pos_delete_df(now_pos) if now_pos else empty_pairs
                )
                named = set(table.pos_delete_targets(affect_pos))
                kept_named = [
                    e
                    for e in entries
                    if e.content == "data"
                    and e.path in old_by_path
                    and e.path in named
                ]
                if kept_named:
                    uris = [table._file_uri(e.path) for e in kept_named]
                    newly = p_now.exceptAll(p_prev).where(
                        F.col("__dabs").isin(uris)
                    )
                    unshadowed = p_prev.exceptAll(p_now).where(
                        F.col("__dabs").isin(uris)
                    )
                    old_parts.append(
                        _rows_at_positions(table, kept_named, newly, schema)
                    )
                    new_df = new_df.unionByName(
                        _rows_at_positions(table, kept_named, unshadowed, schema)
                    )
            old_df = old_parts[0]
            for p in old_parts[1:]:
                old_df = old_df.unionByName(p)
            if not keys:
                if op not in ("overwrite", "rollback", "delete-pos"):
                    raise ValueError(
                        f"commit v{v} ({op}) needs a merge key to classify "
                        "changes; pass key=..."
                    )
                # key-less overwrite/rollback: full delete + insert feed
                diff = old_df.withColumn(
                    "_change_type", F.lit("delete")
                ).unionByName(
                    new_df.withColumn("_change_type", F.lit("insert")),
                    allowMissingColumns=True,
                )
            else:
                old_df = old_df.unionByName(
                    empty_frame(table.spark, schema),
                    allowMissingColumns=True,
                ).select(*cols)
                diff = _classify(old_df, new_df, keys, cols)
        diff = diff.withColumn("_commit_version", F.lit(v))
        out = diff if out is None else out.unionByName(
            diff, allowMissingColumns=True
        )
    if out is None:
        empty = empty_frame(table.spark, out_schema)
        return empty.withColumn(
            "_change_type", F.lit("").cast("string")
        ).withColumn("_commit_version", F.lit(0)).limit(0)
    return out.select(*out_cols, "_change_type", "_commit_version")


class ChangeBatch(NamedTuple):
    """One incremental read of the feed: the change rows for
    ``(from_version, to_version]`` plus the ``ack`` that advances the
    durable cursor — call it only AFTER the downstream commit succeeds."""

    df: DataFrame
    from_version: int
    to_version: int
    ack: Callable[[], None]


def _read_cursor(path: str) -> int | None:
    try:
        with open(path) as f:
            return int(json.load(f)["version"])
    except FileNotFoundError:
        return None


def incremental_changes(
    table: IcepackTable,
    cursor_path: str,
    key: str | list[str] | None = None,
    start_version: int = 0,
) -> ChangeBatch | None:
    """Incremental, exactly-once consumption of the change feed — the
    Iceberg incremental-read / Delta ``startingVersion`` streaming analogue
    for downstream replicas, indexes, and feature stores.

    The consumed position is a durable cursor file (atomic temp+rename,
    same discipline as the manifest write). At-least-once delivery with
    a transactional downstream becomes exactly-once: the cursor advances
    only when the caller invokes ``ack()`` after its own commit, so a
    crash between read and ack replays the SAME version range — and the
    feed for a fixed range is deterministic (reconstructed from immutable
    snapshots, not consumed from a queue).

    Returns ``None`` when there is nothing new. Raises ``ValueError`` if
    the cursor is AHEAD of the table head (a cursor file pointed at the
    wrong table — silently re-reading from 0 would double-deliver)."""
    last = _read_cursor(cursor_path)
    if last is None:
        last = start_version
    head = table.head_version()
    if last > head:
        raise ValueError(
            f"cursor {cursor_path} is at v{last} but table head is v{head}: "
            "cursor does not belong to this table"
        )
    if head == last:
        return None
    df = table_changes(table, last, head, key=key)

    def ack() -> None:
        fd, tmp = tempfile.mkstemp(
            dir=os.path.dirname(os.path.abspath(cursor_path)), suffix=".tmp"
        )
        with os.fdopen(fd, "w") as f:
            json.dump({"version": head}, f)
        os.replace(tmp, cursor_path)

    return ChangeBatch(df=df, from_version=last, to_version=head, ack=ack)


def foreach_changes(
    table: IcepackTable,
    cursor_path: str,
    fn: Callable[[DataFrame, int, int], None],
    key: str | list[str] | None = None,
) -> int | None:
    """Drain convenience: run ``fn(df, from_version, to_version)`` on the
    pending feed and ack iff it returns without raising. Returns the new
    cursor version, or ``None`` when there was nothing to consume."""
    batch = incremental_changes(table, cursor_path, key=key)
    if batch is None:
        return None
    fn(batch.df, batch.from_version, batch.to_version)
    batch.ack()
    return batch.to_version
