"""General-purpose ``MERGE INTO`` with full ANSI/Delta clause semantics.

The CDC path (``operators/table_merge.py``, the reference's
MergeQueries.scala:18-126 shape) is a fixed three-clause LWW upsert keyed on
``datastream_metadata_*``. This module is the *ad-hoc* MERGE a lakehouse
user writes by hand — arbitrary ordered ``WHEN MATCHED [AND cond] THEN
UPDATE/DELETE``, ``WHEN NOT MATCHED [AND cond] THEN INSERT``, and Delta's
``WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE`` extension — the statement
Delta documents as its primary upsert surface and the reference leans on
Databricks to provide (README.md:9 ACID notes).

Scale shape (the 100-TB plan):

- **Touch only files that can contain a match.** Candidate files are
  pre-pruned driver-side against the source's per-key min/max (one tiny agg
  job), then resolved EXACTLY by a key-column probe join whose rows carry
  their file (``IcepackTable.files_holding``) — the rewrite set is "files
  holding at least one matching key", never the table. A 1k-row source
  against 10^12 rows rewrites a handful of files. (``NOT MATCHED BY SOURCE`` clauses touch
  every target row by definition — with one present the candidate set is
  honestly the whole table, same as Delta.)
- **One pass, no collect of data.** Matched/not-matched/by-source routing,
  clause-condition cascades, update projections, and insert projections all
  ride ONE full-outer join evaluated once; per-action row counts ride
  ``DataFrame.observe`` on that same job. Only file paths and per-key
  min/max scalars ever reach the driver.
- **ANSI cardinality check.** A target row matched by >1 source rows with
  any MATCHED clause present raises ``MergeCardinalityError`` (key-column
  probe job, no payload shuffle) — silently applying one arbitrary match is
  how engines corrupt tables.
- **Append-only fast path.** Insert-only merges (no MATCHED / BY SOURCE
  clauses) never rewrite a file: matched source rows are anti-joined away
  and the remainder is appended — O(new data) like the MoR write path.

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

from typing import Any, Iterable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..table.icepack import FileEntry, IcepackTable

__all__ = ["merge_into", "MergeCardinalityError"]


class MergeCardinalityError(ValueError):
    """>1 source rows matched one target row while a MATCHED clause exists
    (the ANSI 'MERGE cardinality violation' / Delta multiple-match error)."""


def _norm_clauses(clauses: Iterable[dict] | None, allowed: set[str]) -> list[dict]:
    out = []
    for c in clauses or ():
        action = c.get("action")
        if action not in allowed:
            raise ValueError(f"clause action {action!r} not in {sorted(allowed)}")
        out.append(c)
    return out


def _source_key_bounds(skeys: DataFrame, on: list[str]) -> dict[str, tuple]:
    """Per-key min/max of the source — a single tiny agg job whose result
    drives manifest pruning. len(on) scalars cross the driver, nothing else."""
    aggs = []
    for k in on:
        aggs.append(F.min(k).alias(f"__mn_{k}"))
        aggs.append(F.max(k).alias(f"__mx_{k}"))
    row = skeys.agg(*aggs).collect()[0]
    return {k: (row[f"__mn_{k}"], row[f"__mx_{k}"]) for k in on}


def merge_into(
    table: IcepackTable,
    source: DataFrame,
    on: list[str] | str,
    matched: Iterable[dict] | None = None,
    not_matched: Iterable[dict] | None = None,
    not_matched_by_source: Iterable[dict] | None = None,
    num_files: int | None = None,
    schema_evolution: str = "none",
) -> dict:
    """Apply a general MERGE; returns a report dict (``version`` None when
    the merge provably changed nothing).

    ``on``: equi-join key column name(s) present in both target and source.
    (Generic non-equi ON conditions defeat file pruning by construction —
    express the extra predicate as clause conditions instead, which is also
    the performant formulation in Delta.)

    ``schema_evolution``: ``"none"`` (default) — the target schema is fixed;
    ``UPDATE SET *``/``INSERT *`` project the target's columns and an
    explicit assignment to an unknown column is an error. ``"merge"`` —
    Delta ``MERGE WITH SCHEMA EVOLUTION`` parity: source columns absent
    from the target are appended nullable (metadata-only commit) BEFORE the
    merge executes, so ``SET *``/``INSERT *`` carry them and existing rows
    read them as NULL.
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
    if schema_evolution == "merge":
        table.evolve_schema(source.schema, strategy="merge")

    snap = table.snapshot()
    entries = table.files(snap.version)
    data, eq_deletes, pos_deletes = table._split_deletes(entries)
    eq_cols = snap.summary.get("eq_delete_cols") or []

    def read_live(files: list[FileEntry]) -> DataFrame:
        # target rows with pending MoR deletes resolved: a shadowed row is
        # not a match, and a CoW rewrite re-stamps seq, so an unresolved
        # shadowed row would resurrect
        return table.read_live(files, eq_deletes + pos_deletes, snap.schema, eq_cols)

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

    # raw key projection: min/max and the leftsemi probe are both
    # duplicate-insensitive, so a distinct here would only add a shuffle
    skeys = source.select(*on)

    # ---- candidate discovery -------------------------------------------
    if nms:
        hit = list(data)  # every target row is in scope by definition
        pruned = probed = 0
    else:
        bounds = _source_key_bounds(skeys, on)
        # all-NULL source keys match nothing, but conservatively keep the
        # file (inserts may still need the cardinality context; rewrite is
        # skipped later anyway)
        cand = table.prune_files(
            data,
            [(k, "between", bounds[k]) for k in on if bounds[k][0] is not None],
            snap.schema,
        )
        pruned = len(data) - len(cand)
        hit = []
        probed = len(cand)
        if cand and (matched or not_matched):
            # rows pending positional deletes shadow are resolved out: a
            # deleted row is no match and must not force a rewrite
            probe = table.read_with_positions(cand, snap.schema, pos_deletes)
            holding = table.files_holding(
                cand, probe.join(skeys, on=on, how="leftsemi")
            )
            hit = [e for e in cand if e.path in holding]

    # ---- ANSI cardinality check (key columns only, no payload) ---------
    if matched and hit:
        dup_keys = (
            source.groupBy(*on).count().where(F.col("count") > 1).drop("count")
        )
        # source-only pre-check first: a duplicate-free source (the common
        # case) must not cost a key-column scan of the hit files
        if dup_keys.limit(1).count():
            # the probe sees the RESOLVED view: a shadowed row must not
            # trigger a spurious cardinality error
            n_dup = (
                read_live(hit)
                .select(*on)
                .join(dup_keys, on=on, how="leftsemi")
                .limit(1)
                .count()
            )
            if n_dup:
                raise MergeCardinalityError(
                    "MERGE cardinality violation: a target row is matched by "
                    "more than one source row and a WHEN MATCHED clause exists — "
                    "dedupe the source (e.g. row_number() = 1) first"
                )

    rewrite = hit if (matched or nms) else []

    # ---- the single merge job ------------------------------------------
    obs = Observation()
    added: list[FileEntry] = []
    rows_updated = rows_deleted = rows_inserted = 0

    t_alias, s_alias = "t", "s"
    join_cond = None
    for k in on:
        c = F.col(f"{t_alias}.{k}") == F.col(f"{s_alias}.{k}")
        join_cond = c if join_cond is None else (join_cond & c)

    def _clause_cascade(base: Any, clauses: list[dict], offset: int):
        """first-true-clause index (offset+i) as a when-chain, else lit(-1)"""
        expr = F.lit(-1)
        for i in reversed(range(len(clauses))):
            cond = clauses[i].get("condition")
            c = F.expr(cond) if cond else F.lit(True)
            expr = F.when(base & c, F.lit(offset + i)).otherwise(expr)
        return expr

    need_join = bool(rewrite) or bool(not_matched)
    out_df = None
    if need_join:
        tdf = read_live(rewrite or hit)
        if not rewrite:
            # insert-only: target enters the join ONLY to anti-match source
            # rows, so read just the key columns (parquet prunes the
            # payload) and null-fill the rest for the shared projection
            tdf = tdf.select(
                *on,
                *[F.lit(None).cast(fields[c]).alias(c) for c in tcols if c not in on],
            )
        j = (
            tdf.withColumn("__t", F.lit(1)).alias(t_alias)
            .join(
                source.withColumn("__s", F.lit(1)).alias(s_alias),
                on=join_cond,
                how="full_outer",
            )
        )
        t_here = F.col(f"{t_alias}.__t").isNotNull()
        s_here = F.col(f"{s_alias}.__s").isNotNull()
        clause = (
            F.when(t_here & s_here, _clause_cascade(F.lit(True), matched, 0))
            .when(t_here & ~s_here, _clause_cascade(F.lit(True), nms, 100))
            .otherwise(_clause_cascade(F.lit(True), not_matched, 200))
        )
        j = j.withColumn("__clause", clause)

        def _is(kind: str, idx_off: int, clauses: list[dict]) -> Any:
            ids = [idx_off + i for i, c in enumerate(clauses) if c["action"] == kind]
            return F.col("__clause").isin(ids) if ids else F.lit(False)

        upd = _is("update", 0, matched) | _is("update", 100, nms)
        dele = _is("delete", 0, matched) | _is("delete", 100, nms)
        ins = _is("insert", 200, not_matched)
        j = j.observe(
            obs,
            F.sum(upd.cast("long")).alias("u"),
            F.sum(dele.cast("long")).alias("d"),
            F.sum(ins.cast("long")).alias("i"),
        )
        # drop: deleted rows; source rows with no applicable insert clause;
        # and — when not rewriting — every target-side row (those files stay)
        keep = ~dele & ~(~t_here & (F.col("__clause") == -1))
        if not rewrite:
            keep = keep & ~t_here
        j = j.where(keep)

        # per-column projection: cascade over clause ids; source columns
        # resolve case-insensitively (Spark's own identifier semantics)
        def _scol(col: str):
            sc = src_by_lower.get(col.lower())
            return F.col(f"{s_alias}.`{sc}`") if sc else F.lit(None)

        def _val(col: str):
            expr = F.col(f"{t_alias}.{col}")  # default: old target value
            for i, c in enumerate(matched):
                if c["action"] != "update":
                    continue
                st = c["set"]
                if st == "*":
                    v = _scol(col)
                else:
                    v = F.expr(st[col]) if col in st else F.col(f"{t_alias}.{col}")
                expr = F.when(F.col("__clause") == i, v).otherwise(expr)
            for i, c in enumerate(nms):
                if c["action"] != "update":
                    continue
                st = c["set"]
                v = F.expr(st[col]) if st != "*" and col in st else F.col(f"{t_alias}.{col}")
                expr = F.when(F.col("__clause") == 100 + i, v).otherwise(expr)
            for i, c in enumerate(not_matched):
                vals = c["values"]
                if vals == "*":
                    v = _scol(col)
                else:
                    v = F.expr(vals[col]) if col in vals else F.lit(None)
                expr = F.when(F.col("__clause") == 200 + i, v).otherwise(expr)
            return expr.cast(fields[col]).alias(col)

        out_df = j.select(*[_val(c) for c in tcols])

    # ---- commit ---------------------------------------------------------
    if out_df is not None:
        added = table.write_data_files(
            out_df, num_files=num_files, enforce_constraints=True
        )
        rows_updated = int(obs.get["u"] or 0)
        rows_deleted = int(obs.get["d"] or 0)
        rows_inserted = int(obs.get["i"] or 0)

    removed = [e.path for e in rewrite]
    report = {
        "rows_updated": rows_updated,
        "rows_deleted": rows_deleted,
        "rows_inserted": rows_inserted,
        "files_rewritten": len(rewrite),
        "files_pruned": pruned,
        "files_probed": probed,
    }
    if (
        rows_updated == 0
        and rows_deleted == 0
        and rows_inserted == 0
        and not (rewrite and (eq_deletes or pos_deletes))
    ):
        # provable no-op — reclaim staged bytes, never churn the manifest
        # (unless the rewrite folded pending MoR deletes, which IS a change)
        table.discard_staged(added)
        return {"version": None, **report, "files_rewritten": 0}

    version = table.commit(
        "merge",
        added=added,
        removed_paths=removed,
        # snapshot-isolation MERGE with optimistic concurrency: rebase over
        # concurrent appends, refuse if an input file was removed or a
        # delete file landed since the read (see IcepackTable.commit)
        requirements=[
            ("files-live", removed),
            ("no-new-deletes", snap.version),
        ],
        summary={
            "on": on,
            "matched": len(matched),
            "not_matched": len(not_matched),
            "not_matched_by_source": len(nms),
            **{k: report[k] for k in ("rows_updated", "rows_deleted", "rows_inserted")},
        },
    )
    return {"version": version, **report}
