"""``COPY INTO`` — idempotent, retriable batch file loading.

Databricks' ``COPY INTO`` (the batch twin of the reference's streaming file
source, DatastreamIO.scala:87-101: same "load exactly once per file"
contract, but scheduler-driven instead of checkpoint-driven): every source
file is loaded AT MOST ONCE across any number of invocations, so a nightly
job can re-run after a crash, a partial load, or an over-eager retry and
the table never sees a duplicate row.

Ledger design (the exactly-once mechanics):

- Each copy commit writes its loaded-file set — ``(path, size, mtime_ns)``
  identity triples, the same modification-time+size key Databricks uses —
  to ``metadata/copy/copy-<uuid>.json`` BEFORE the snapshot commit, and the
  snapshot summary references the ledger id. A ledger is only *counted* if
  a snapshot references it, so a crash between ledger write and commit
  leaves harmless debris (the files correctly reload next run) — never the
  false "already loaded" that would silently drop data.
- ``expire_snapshots`` folds expiring snapshots' ledger entries into
  ``metadata/copy-retained.json`` before unlinking them (operators/
  expire.py), so history retention never resurrects duplicates: the ledger
  outlives the snapshots that built it.
- The ledger holds file identities, not bytes: ~100 B per loaded file,
  driver-side set arithmetic. A million-file load history is a few tens of
  MB of metadata read once per COPY — negligible against the data volume
  it guards.

``force=True`` bypasses the ledger (Databricks ``COPY_OPTIONS ('force' =
'true')``): files load again and duplicates are the caller's intent.
"""

from __future__ import annotations

import fnmatch
import json
import os
import random
import time
import uuid

from pyspark.sql import functions as F

from ..table.icepack import IcepackTable

__all__ = ["copy_into", "loaded_file_keys"]

_RETAINED = "copy-retained.json"


def _key(path: str, st: os.stat_result) -> str:
    return f"{os.path.abspath(path)}|{st.st_size}|{st.st_mtime_ns}"


def _ledger_dir(table: IcepackTable) -> str:
    d = os.path.join(table.meta_dir, "copy")
    os.makedirs(d, exist_ok=True)
    return d


def loaded_file_keys(table: IcepackTable) -> set[str]:
    """Union of every COMMITTED copy ledger on the CURRENT ref's ancestry,
    plus the retained fold-in from expired history. Ancestry — not every
    snap file on disk — because a copy that only ever landed on a branch
    (possibly since dropped, whose orphan snapshots drop_branch leaves
    behind) must not mark its files 'already loaded' for main: that would
    silently prevent them from ever loading. Copy commits are identified
    by OPERATION; unreferenced ledger files (crash debris of a failed
    commit) are never counted — that would drop those files' data
    forever."""
    keys: set[str] = set()
    d = os.path.join(table.meta_dir, "copy")
    v = table.head_version()
    while v is not None:
        try:
            s = table.snapshot(v)
        except FileNotFoundError:
            break  # expired history — its ledgers live in the retained file
        if s.operation == "copy-into":
            lid = s.summary.get("copy_ledger")
            if lid:
                try:
                    with open(os.path.join(d, f"copy-{lid}.json")) as f:
                        keys.update(json.load(f)["files"])
                except FileNotFoundError:
                    pass  # folded into the retained file by expiry
        v = s.parent
    try:
        with open(os.path.join(table.meta_dir, _RETAINED)) as f:
            keys.update(json.load(f)["files"])
    except FileNotFoundError:
        pass
    return keys


def retain_ledgers(table: IcepackTable, ledger_ids: list[str]) -> None:
    """Fold the given ledgers into ``metadata/copy-retained.json`` and
    delete the per-commit files — called by ``expire_snapshots`` for the
    snapshots it is about to unlink, so load-exactly-once survives history
    retention."""
    if not ledger_ids:
        return
    d = os.path.join(table.meta_dir, "copy")
    keys: set[str] = set()
    for lid in ledger_ids:
        try:
            with open(os.path.join(d, f"copy-{lid}.json")) as f:
                keys.update(json.load(f)["files"])
        except FileNotFoundError:
            continue
    retained_path = os.path.join(table.meta_dir, _RETAINED)
    try:
        with open(retained_path) as f:
            keys.update(json.load(f)["files"])
    except FileNotFoundError:
        pass
    table._atomic_write(retained_path, json.dumps({"files": sorted(keys)}))
    for lid in ledger_ids:
        try:
            os.unlink(os.path.join(d, f"copy-{lid}.json"))
        except FileNotFoundError:
            pass


def _discover(src: str, pattern: str | None) -> list[tuple[str, os.stat_result]]:
    out = []
    for root, _dirs, names in os.walk(src):
        for n in sorted(names):
            if n.startswith((".", "_")):
                continue  # markers and hidden files, never data
            p = os.path.join(root, n)
            if pattern and not fnmatch.fnmatch(os.path.relpath(p, src), pattern):
                continue
            try:
                out.append((p, os.stat(p)))
            except FileNotFoundError:
                continue  # deleted between listing and stat == never listed
    return out


def copy_into(
    table: IcepackTable,
    src: str,
    file_format: str = "parquet",
    pattern: str | None = None,
    force: bool = False,
    num_files: int | None = None,
) -> dict:
    """Load all not-yet-loaded files under ``src`` into the table in one
    atomic commit; returns a report (``version`` None when every file was
    already loaded).

    Input columns are aligned to the target schema: matching names cast to
    the declared types, target columns absent from the file null-filled,
    extra source columns ignored (pass them through a SELECT view + MERGE
    when they matter)."""
    fmt = file_format.lower()
    if fmt not in ("parquet", "json", "csv"):
        raise ValueError(f"unsupported FILEFORMAT {file_format!r}")
    from ..table.icepack import ConflictError
    from ._align import align_to_schema

    files = _discover(src, pattern)
    last_exc: Exception | None = None
    for _attempt in range(4):
        # the base snapshot PINS the ledger read: the commit's
        # no-new-copy-commits requirement refuses if any other COPY landed
        # between this read and the commit lock — without it, two
        # concurrent copies of the same source both see the files as new
        # and every row loads twice
        base = table.head_version()
        already = set() if force else loaded_file_keys(table)
        todo = [(p, st) for p, st in files if _key(p, st) not in already]
        report = {
            "files_found": len(files),
            "files_skipped_already_loaded": len(files) - len(todo),
            "files_loaded": len(todo),
            "force": force,
        }
        if not todo:
            return {"version": None, "rows_loaded": 0, **report}

        schema = table.snapshot().schema
        paths = [p for p, _ in todo]
        spark = table.spark
        if fmt == "parquet":
            df = spark.read.parquet(*paths)
        elif fmt == "json":
            df = spark.read.schema(schema).json(paths)
        else:
            df = spark.read.schema(schema).option("header", "true").csv(paths)
        df = align_to_schema(df, schema)

        ledger_id = uuid.uuid4().hex[:16]
        ledger_path = os.path.join(_ledger_dir(table), f"copy-{ledger_id}.json")
        # ledger BEFORE commit: an unreferenced ledger (commit failed) is
        # inert debris; the reverse order could mark files loaded that
        # never were
        table._atomic_write(
            ledger_path,
            json.dumps({"files": sorted(_key(p, st) for p, st in todo), "src": src}),
        )
        added = table.write_data_files(df, num_files=num_files)
        try:
            version = table.commit(
                "copy-into",
                added=added,
                removed_paths=[],
                requirements=[("no-new-copy-commits", base)],
                summary={
                    "copy_ledger": ledger_id,
                    "copy_source": os.path.abspath(src),
                    "n_files_copied": len(todo),
                },
            )
        except ConflictError as exc:
            # another COPY landed mid-flight: discard this attempt entirely
            # and recompute against its ledger — convergent, since every
            # retry subtracts the other copy's files from `todo`. Jittered
            # backoff keeps N racing copies from re-colliding in lockstep
            # (each wasted attempt is a full dataset write).
            table.discard_staged(added)
            try:
                os.unlink(ledger_path)
            except FileNotFoundError:
                pass
            last_exc = exc
            time.sleep(random.uniform(0.05, 0.3 * (_attempt + 1)))
            continue
        return {
            "version": version,
            "rows_loaded": sum(e.rows for e in added),
            **report,
        }
    raise last_exc
