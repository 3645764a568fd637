"""``MERGE INTO`` with full ANSI/Delta clause semantics — the engine's one
MERGE executor.

Arbitrary ordered ``WHEN MATCHED [AND cond] THEN UPDATE/DELETE``, ``WHEN
NOT MATCHED [AND cond] THEN INSERT``, and Delta's ``WHEN NOT MATCHED BY
SOURCE THEN UPDATE/DELETE`` extension — the statement Delta documents as its
primary upsert surface and the reference leans on Databricks to provide
(README.md:9 ACID notes). Both CDC merges — copy-on-write
(``operators/table_merge.py``) and merge-on-read (``operators/mor.py``) —
are LWW dedup followed by this executor with the reference's fixed three
clauses (MergeQueries.scala:91-121); they differ only in the emitter.

Scale shape (the 100-TB plan):

- **Touch only files that hold a match.** Candidate files are pre-pruned
  driver-side against the source's keys (``IcepackTable.prune_by_keys``:
  ranges, Bloom filters and partition transforms), then resolved EXACTLY by
  a key-column probe join whose rows carry their file
  (``IcepackTable.files_holding``) — the rewrite set is "files holding at
  least one matching key", never the table. (``NOT MATCHED BY SOURCE``
  clauses touch every target row by definition — with one present the
  candidate set is honestly the whole table, same as Delta.)
- **Copy-on-write: two emitters, picked by source bytes** (row count ×
  measured row size against ``SPLIT_MAX_SOURCE_BYTES``):
  - *split* (small source, the common CDC shape): each hit file is read at
    its natural splits and LEFT OUTER joined with the broadcast source; each
    input split writes one output file, so no target row crosses an exchange
    and, since updates keep their key, each output file's key range stays
    inside its input's. Inserts are the source anti-joined with a broadcast
    of the matched keys, range-partitioned and sorted on the key. An
    insert-only merge therefore never rewrites a file.
  - *range* (large source): ONE full-outer join of the hit files with the
    source, range-partitioned and sorted on the key, so every output file
    covers a tight, disjoint key range and later merges keep pruning.
- **Merge-on-read: no rewrite.** The candidates are read once with their
  row positions and joined with the source (broadcast under the same
  bound); that cached frame holds each matched row's clause outcome and
  post-image. Updated and inserted rows go out as one range-partitioned,
  sorted data write; the positions of updated and deleted rows as ONE
  positional-delete file (Delta's deletion vectors, Iceberg's position
  deletes), which ``apply_deletes`` later folds in bulk.
- **No collect of data.** Per-action row counts ride ``DataFrame.observe``
  on every written frame; only file paths and the source's key columns
  reach the driver. The source is cached once for the whole statement.
- **ANSI cardinality check.** A target row matched by >1 source rows while
  a MATCHED or NOT MATCHED BY SOURCE clause exists raises
  ``MergeCardinalityError`` (key-column probe job, no payload shuffle) —
  silently applying one arbitrary match, or keeping the target row once per
  match, is how engines corrupt tables. A source whose collected key set
  holds no duplicate tuple skips the check.
- **Serializable commit.** The commit requires that no data or delete file
  landed since its snapshot (Delta's Serializable level), so a racing
  append raises ``ConflictError`` instead of letting a MERGE insert a key
  that append just wrote; merge-on-read positions also need the files they
  name live. ``IcepackTable.commit`` itself refuses a rewrite whose inputs
  left the table, and drops the delete files a rewrite leaves naming no
  live file (the rewrite read through them).

Clause dicts (the SQL front end in ``sql.py`` builds these from text):

    matched:           {"action": "update", "condition": sql|None,
                        "set": {col: sql_expr} | "*"}
                       {"action": "delete", "condition": sql|None}
    not_matched:       {"action": "insert", "condition": sql|None,
                        "values": {col: sql_expr} | "*"}
    not_matched_by_source: update/delete dicts as above (exprs see only t.*)

Conditions and expressions reference the target as ``t.<col>`` and the
source as ``s.<col>`` (unqualified names resolve only when unambiguous,
standard SQL scoping). First clause whose condition holds wins; a matched
row satisfying no clause condition is kept unchanged.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..table.icepack import (
    POS_FILE_COL,
    POS_IDX_COL,
    ConflictError,
    FileEntry,
    IcepackTable,
)
from .partitioning import rewrite_sized_splits

__all__ = ["merge_into", "MergeCardinalityError", "SPLIT_MAX_SOURCE_BYTES"]

# A source estimated at or under this many bytes is broadcast to every
# executor and the split emitter rewrites each hit file in place; past it
# the range emitter shuffles both sides. Bytes, not rows: 2M image rows at
# ~12 KB each would be a ~24 GB broadcast.
SPLIT_MAX_SOURCE_BYTES = 256 * 1024 * 1024


class MergeCardinalityError(ValueError):
    """>1 source rows matched one target row while a MATCHED or NOT MATCHED
    BY SOURCE clause exists (the ANSI 'MERGE cardinality violation' / Delta
    multiple-match error)."""


def _estimate_row_bytes(df: DataFrame) -> float:
    """Average serialized row size of a (cached) DataFrame: measured lengths
    of the variable-width columns plus a fixed per-column overhead. One
    one-task agg over the cache: a single partition needs no exchange, so
    the agg runs as one job — no sampling bias, no collect of payload
    rows."""
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
        term = F.coalesce(F.length(F.col(f"`{c}`")).cast("double"), F.lit(0.0))
        total = term if total is None else total + term
    row = df.coalesce(1).select(F.avg(total).alias("b")).collect()[0]
    return float(row["b"] or 0.0) + fixed


def _norm_clauses(clauses: Iterable[dict] | None, allowed: set[str]) -> list[dict]:
    out = []
    for c in clauses or ():
        action = c.get("action")
        if action not in allowed:
            raise ValueError(f"clause action {action!r} not in {sorted(allowed)}")
        out.append(c)
    return out


def _cascade(clauses: list[dict], offset: int) -> Column:
    """first-true-clause index (offset+i) as a when-chain, else lit(-1)"""
    expr = F.lit(-1)
    for i in reversed(range(len(clauses))):
        cond = clauses[i].get("condition")
        expr = F.when(F.expr(cond) if cond else F.lit(True), F.lit(offset + i)).otherwise(
            expr
        )
    return expr


def _write_observed(
    table: IcepackTable,
    df: DataFrame,
    counts: dict[str, Column],
    sort_on: list[str] | None = None,
) -> tuple[list[FileEntry], dict[str, int]]:
    """Stage the rows of ``df`` whose ``__keep`` holds, with the ``counts``
    observed on the write job itself. CHECK constraints are validated on the
    unobserved frame first: a constraint probe over the observed one would
    report its partial counts as the write's."""

    def final(d: DataFrame) -> DataFrame:
        d = d.where("__keep").drop("__clause", "__keep")
        return d.sortWithinPartitions(*sort_on) if sort_on else d

    table._enforce_check_constraints(final(df))
    obs = Observation()
    observed = df.observe(obs, *[c.alias(k) for k, c in counts.items()])
    added = table.write_data_files(final(observed), enforce_constraints=False)
    got = obs.get
    return added, {k: int(got[k] or 0) for k in counts}


def _write_pos_delete_file(
    table: IcepackTable, positions: DataFrame, cand: list[FileEntry]
) -> list[FileEntry]:
    """Stage ONE positional-delete file from (``__abs``, ``__idx``) rows
    (none for no rows). One collect brings the rows to the driver; each
    distinct URI maps back to its manifest path through the candidate list,
    and a URI naming no candidate fails loudly instead of dropping rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    got = positions.select("__abs", "__idx").toArrow()
    if not got.num_rows:
        return []
    uris = got.column("__abs").combine_chunks().dictionary_encode()
    by_uri = {table._file_uri(e.path): e.path for e in cand}
    named = uris.dictionary.to_pylist()
    stray = [u for u in named if u not in by_uri]
    if stray:
        raise RuntimeError(
            f"data-file URI mapping failed: Spark reports {stray[0]!r}, "
            "which names no candidate file"
        )
    rels = pa.array([by_uri[u] for u in named], pa.string())
    return [
        table.write_pos_delete_file(
            pa.table(
                {
                    POS_FILE_COL: pc.take(rels, uris.indices),
                    POS_IDX_COL: got.column("__idx"),
                }
            )
        )
    ]


def merge_into(
    table: IcepackTable,
    source: DataFrame,
    on: list[str] | str,
    matched: Iterable[dict] | None = None,
    not_matched: Iterable[dict] | None = None,
    not_matched_by_source: Iterable[dict] | None = None,
    num_files: int | None = None,
    schema_evolution: str = "none",
    emitter: str = "cow",
) -> dict:
    """Apply a general MERGE; returns a report dict (``version`` None when
    the merge provably changed nothing).

    ``on``: equi-join key column name(s) present in both target and source.
    (Generic non-equi ON conditions defeat file pruning by construction —
    express the extra predicate as clause conditions instead, which is also
    the performant formulation in Delta.)

    ``num_files``: how many range-partitioned files the emitter writes —
    the inserts for the split emitter, the whole output for the range one.
    Default: the volume over ``IcepackTable.DEFAULT_TARGET_FILE_BYTES``.

    ``schema_evolution``: ``"none"`` (default) — the target schema is fixed;
    ``UPDATE SET *``/``INSERT *`` project the target's columns and an
    explicit assignment to an unknown column is an error. ``"merge"`` —
    Delta ``MERGE WITH SCHEMA EVOLUTION`` parity: source columns absent
    from the target are appended nullable (metadata-only commit) BEFORE the
    merge executes, so ``SET *``/``INSERT *`` carry them and existing rows
    read them as NULL.

    ``emitter``: ``"cow"`` (default) rewrites the files holding a match;
    ``"mor"`` (merge-on-read) rewrites nothing: it writes the updated and
    inserted rows as new data files and shadows the old versions of
    updated and deleted rows with ONE positional-delete file. It takes no
    NOT MATCHED BY SOURCE clause.

    The commit summary records ``keys``, ``batch_winners`` (source rows),
    ``candidate_files`` (files left after pruning), ``touched_files``
    (files rewritten) and ``rewrite_mode`` (``split``, ``range`` or
    ``mor``), which the change feed and the benches read.
    """
    on = [on] if isinstance(on, str) else list(on)
    if not on:
        raise ValueError("MERGE requires at least one equi-join key")
    matched = _norm_clauses(matched, {"update", "delete"})
    not_matched = _norm_clauses(not_matched, {"insert"})
    nms = _norm_clauses(not_matched_by_source, {"update", "delete"})
    if not (matched or not_matched or nms):
        raise ValueError("MERGE requires at least one WHEN clause")
    if schema_evolution not in ("none", "merge"):
        raise ValueError("schema_evolution must be 'none' or 'merge'")
    if emitter not in ("cow", "mor"):
        raise ValueError("emitter must be 'cow' or 'mor'")
    mor = emitter == "mor"
    if mor and nms:
        raise ValueError("the merge-on-read emitter takes no NOT MATCHED BY SOURCE clause")
    if schema_evolution == "merge":
        table.evolve_schema(source.schema, strategy="merge")

    snap = table.snapshot()
    fields = {f.name: f.dataType for f in snap.schema.fields}
    tcols = [f.name for f in snap.schema.fields]
    missing = [k for k in on if k not in fields]
    if missing:
        raise ValueError(f"MERGE key(s) not in target schema: {missing}")
    # an explicit assignment/values key outside the (possibly just evolved)
    # target schema would otherwise be silently dropped by the projection —
    # fail loudly instead (Delta raises the same; evolution is the opt-in).
    # Resolution is CASE-INSENSITIVE like Spark's own: keys normalize to
    # the target's canonical spelling, and `SET *` requires the source to
    # carry every target column (a silent NULL overwrite is data loss).
    tgt_by_lower = {c.lower(): c for c in fields}
    src_by_lower: dict[str, str] = {}
    for c in source.columns:
        src_by_lower.setdefault(c.lower(), c)

    def _canon_keys(d: dict, what: str) -> dict:
        out = {}
        for k, v in d.items():
            lk = k.lower()
            if lk not in tgt_by_lower:
                raise ValueError(
                    f"{what} targets unknown column(s) [{k!r}] — pass "
                    "schema_evolution='merge' to add new columns"
                )
            out[tgt_by_lower[lk]] = v
        return out

    for c in matched:
        st = c.get("set")
        if isinstance(st, dict):
            c["set"] = _canon_keys(st, "UPDATE SET")
        elif st == "*":
            miss = sorted(k for k in fields if k.lower() not in src_by_lower)
            if miss:
                raise ValueError(
                    f"UPDATE SET * requires the source to carry every "
                    f"target column; missing: {miss}"
                )
    for c in nms:
        st = c.get("set")
        if isinstance(st, dict):
            c["set"] = _canon_keys(st, "UPDATE SET")
    for c in not_matched:
        vals = c.get("values")
        if isinstance(vals, dict):
            c["values"] = _canon_keys(vals, "INSERT")
        elif vals == "*":
            # same contract as UPDATE SET *: a source that silently lacks a
            # target column (e.g. it was renamed upstream) must fail loudly,
            # not insert a whole batch with that column NULLed. An explicit
            # (cols) VALUES list is the opt-in for partial inserts.
            miss = sorted(k for k in fields if k.lower() not in src_by_lower)
            if miss:
                raise ValueError(
                    f"INSERT * requires the source to carry every target "
                    f"column; missing: {miss} — list columns explicitly "
                    "(INSERT (cols) VALUES ...) to null-fill the rest"
                )

    def _scol(col: str) -> Column:
        sc = src_by_lower.get(col.lower())
        return F.col(f"s.`{sc}`") if sc else F.lit(None)

    def _val(col: str, target: bool) -> Column:
        """``col`` of the output row: a cascade over the clause ids the
        frame carries (matched 0.., by-source 100.. when it holds ``target``
        rows; not-matched 200..), defaulting to the target value. The
        merge-on-read emitter writes only updated target rows, so its
        default is NULL and the scan skips target columns no SET reads."""
        t_col = F.col(f"t.`{col}`")
        expr = t_col if target and not mor else F.lit(None)
        for off, clauses in ((0, matched), (100, nms)) if target else ():
            for i, c in enumerate(clauses):
                if c["action"] != "update":
                    continue
                st = c["set"]
                if st == "*":
                    v = _scol(col) if off == 0 else t_col
                else:
                    v = F.expr(st[col]) if col in st else t_col
                expr = F.when(F.col("__clause") == off + i, v).otherwise(expr)
        for i, c in enumerate(not_matched):
            vals = c["values"]
            if vals == "*":
                v = _scol(col)
            else:
                v = F.expr(vals[col]) if col in vals else F.lit(None)
            expr = F.when(F.col("__clause") == 200 + i, v).otherwise(expr)
        return expr.cast(fields[col]).alias(col)

    def _is(kind: str) -> Column:
        ids = [
            off + i
            for off, clauses in ((0, matched), (100, nms), (200, not_matched))
            for i, c in enumerate(clauses)
            if c["action"] == kind
        ]
        return F.col("__clause").isin(ids) if ids else F.lit(False)

    upd, dele, ins = _is("update"), _is("delete"), _is("insert")
    # the pruner, the cardinality check, the size estimate and the emitter
    # all read the source: cache it once, unless the caller already did
    # (then the cache is theirs to drop)
    cached = [] if source.is_cached else [source.cache()]
    try:
        data, deletes = table._split_deletes(table.files(snap.version))

        # raw key projection: pruning and the leftsemi probe are both
        # duplicate-insensitive, so a distinct here would only add a shuffle
        skeys = source.select(*on)

        # ---- candidate discovery ---------------------------------------
        if nms:
            cand, n_rows, dups = list(data), source.count(), None
        else:
            cand, n_rows, dups = table.prune_by_keys(data, skeys, on, snap.schema)
        src_bytes = n_rows * _estimate_row_bytes(source)
        split = src_bytes <= SPLIT_MAX_SOURCE_BYTES
        marked = source.withColumn("__s", F.lit(1)).alias("s")
        join_cond = None
        for k in on:
            c = F.col(f"t.`{k}`") == F.col(f"s.`{k}`")
            join_cond = c if join_cond is None else (join_cond & c)
        # the live target rows holding a source key, with their address,
        # read once: the cardinality check and the inserts' anti-join use
        # it, and so do the exact hit set (copy-on-write) or the clause
        # outcomes, post-images and positions (merge-on-read). Rows pending
        # deletes shadow are resolved out: a deleted row is no match
        held = None
        if cand:
            tdf = table.read_with_positions(cand, snap.schema, deletes)
            if mor:
                j = tdf.alias("t").join(
                    F.broadcast(marked) if split else marked, join_cond
                )
                held = j.withColumn("__clause", _cascade(matched, 0)).select(
                    "__abs",
                    "__idx",
                    "__clause",
                    *[F.col(f"t.`{k}`").alias(k) for k in on],
                    *[_val(c, True).alias(f"__v_{c}") for c in tcols],
                )
            else:
                held = tdf.join(skeys, on=on, how="leftsemi").select("__abs", *on)
            held = held.cache()
            cached.append(held)
        if nms:
            hit = list(data)  # every target row is in scope by definition
            pruned = probed = 0
        else:
            holding = table.files_holding(cand, held) if cand and not mor else {}
            hit = [e for e in cand if e.path in holding]
            pruned, probed = len(data) - len(cand), len(cand)

        # ---- ANSI cardinality check (key columns only, no payload) -----
        # skipped when the pruner's key collect saw no duplicate tuple
        if (matched or nms) and (hit or (mor and held is not None)) and dups is not False:
            dup_keys = (
                source.groupBy(*on).count().where(F.col("count") > 1).drop("count")
            )
            # source-only pre-check first when the pruner could not tell: a
            # duplicate-free source must not cost a scan of the held rows
            if dups or dup_keys.limit(1).count():
                # held rows are the RESOLVED view: a shadowed row must not
                # trigger a spurious cardinality error
                n_dup = held.join(dup_keys, on=on, how="leftsemi").limit(1).count()
                if n_dup:
                    raise MergeCardinalityError(
                        "MERGE cardinality violation: a target row is matched "
                        "by more than one source row and a WHEN MATCHED or "
                        "NOT MATCHED BY SOURCE clause exists — dedupe the "
                        "source (e.g. row_number() = 1) first"
                    )

        rewrite = hit if (matched or nms) else []
        report = {
            "rows_updated": 0,
            "rows_deleted": 0,
            "rows_inserted": 0,
            "files_rewritten": len(rewrite),
            "files_pruned": pruned,
            "files_probed": probed,
        }
        shadows = bool(mor and matched) and held is not None
        if not (rewrite or shadows or (not_matched and n_rows)):
            return {"version": None, **report, "files_rewritten": 0}

        # ---- emit ------------------------------------------------------
        rewrite_bytes = sum(e.bytes for e in rewrite)
        if num_files is None:
            volume = src_bytes if split else src_bytes + rewrite_bytes
            num_files = max(1, round(volume / table.DEFAULT_TARGET_FILE_BYTES))
        s_here = F.col("s.__s").isNotNull()
        added: list[FileEntry] = []
        shadowed: list[FileEntry] = []
        counts = {"u": 0, "d": 0, "i": 0}

        def inserts(broadcast: bool) -> DataFrame:
            """source rows no live target row holds, with their clause id
            (the payload never moves)"""
            fresh = source
            if held is not None:
                held_keys = held.select(*on)
                fresh = source.join(
                    F.broadcast(held_keys) if broadcast else held_keys,
                    on=on,
                    how="left_anti",
                )
            return fresh.alias("s").withColumn("__clause", _cascade(not_matched, 200))

        with rewrite_sized_splits(table.spark, rewrite_bytes):
            if mor:
                if shadows:
                    # the old versions of updated and deleted rows. Written
                    # first: its single read of the held frame builds the
                    # cache, which the data write then reads twice
                    shadowed = _write_pos_delete_file(table, held.where(upd | dele), cand)
                # updated and inserted rows: one range-partitioned, sorted
                # write; counts observed after the range exchange. Both
                # inputs read caches, so one file needs no exchange
                parts = []
                if shadows:
                    parts.append(
                        held.select(
                            *[F.col(f"__v_{c}").alias(c) for c in tcols], "__clause"
                        )
                    )
                if not_matched:
                    parts.append(
                        inserts(split).select(
                            *[_val(c, False) for c in tcols], "__clause"
                        )
                    )
                rows = parts[0]
                for p in parts[1:]:
                    rows = rows.unionByName(p)
                pre = rows.where(upd | ins).withColumn("__keep", F.lit(True))
                pre = (
                    pre.coalesce(1)
                    if num_files == 1
                    else pre.repartitionByRange(num_files, *on)
                )
                try:
                    added, got = _write_observed(
                        table,
                        pre,
                        {k: F.sum(c.cast("long")) for k, c in (("u", upd), ("i", ins))},
                        sort_on=on,
                    )
                except Exception:
                    table.discard_staged(shadowed)
                    raise
                added += shadowed
                counts.update(got)
                counts["d"] = sum(e.rows for e in shadowed) - counts["u"]
            elif rewrite:
                # target rows with pending MoR deletes resolved: a shadowed
                # row left unresolved would resurrect in the rewrite
                tdf = table.read_live(rewrite, deletes, snap.schema)
                tdf = tdf.withColumn("__t", F.lit(1)).alias("t")
                if split:
                    # updates / deletes / keeps: each input split of the hit
                    # files writes one output file, no exchange
                    j = tdf.join(F.broadcast(marked), join_cond, "left_outer")
                else:
                    # one join for every clause, inserts included
                    j = tdf.join(marked, join_cond, "full_outer")
                t_here = F.col("t.__t").isNotNull()
                j = j.withColumn(
                    "__clause",
                    F.when(t_here & s_here, _cascade(matched, 0))
                    .when(t_here, _cascade(nms, 100))
                    .otherwise(_cascade(not_matched, 200)),
                )
                # drop deleted rows and source rows no insert clause takes
                keep = ~dele & (t_here | (F.col("__clause") != -1))
                pre = j.withColumn("__keep", keep).select(
                    *[_val(c, True) for c in tcols], "__clause", "__keep"
                )
                if not split:
                    # observed after the range exchange, whose sampling job
                    # would otherwise count every row twice
                    pre = pre.repartitionByRange(num_files, *on)
                added, counts = _write_observed(
                    table,
                    pre,
                    {k: F.sum(c.cast("long")) for k, c in (("u", upd), ("d", dele), ("i", ins))},
                    sort_on=None if split else on,
                )
            if not mor and not_matched and (split or not rewrite):
                more = table.write_data_files(
                    inserts(split)
                    .where(F.col("__clause") != -1)
                    .select(*[_val(c, False) for c in tcols])
                    .repartitionByRange(num_files, *on)
                    .sortWithinPartitions(*on)
                )
                added += more
                counts["i"] = sum(e.rows for e in more)  # every row an insert

        report.update(
            rows_updated=counts["u"], rows_deleted=counts["d"], rows_inserted=counts["i"]
        )
        if not (counts["u"] or counts["d"] or counts["i"]) and not (rewrite and deletes):
            # provable no-op — reclaim staged bytes, never churn the
            # manifest (unless the rewrite folded pending MoR deletes,
            # which IS a change)
            table.discard_staged(added)
            return {"version": None, **report, "files_rewritten": 0}

        # positions need the files they name live (see the module docstring)
        named = sorted(table.pos_delete_targets(shadowed)) if mor else []
        try:
            version = table.commit(
                "merge-mor" if mor else "merge",
                added=added,
                removed_paths=[e.path for e in rewrite],
                requirements=[
                    ("files-live", named),
                    ("no-new-deletes", snap.version),
                    ("no-new-data", snap.version),
                ],
                summary={
                    "keys": on,
                    "matched": len(matched),
                    "not_matched": len(not_matched),
                    "not_matched_by_source": len(nms),
                    "batch_winners": n_rows,
                    "candidate_files": len(cand),
                    "touched_files": len(rewrite),
                    "rewrite_mode": emitter if mor else "split" if split else "range",
                    **{k: report[k] for k in ("rows_updated", "rows_deleted", "rows_inserted")},
                },
            )
        except ConflictError:
            table.discard_staged(added)  # a refused commit leaves no files
            raise
        return {"version": version, **report}
    finally:
        for df in cached:
            df.unpersist()
