"""Multi-writer optimistic concurrency.

The reference serializes writers per table (one streaming query per Delta
table); a shared lakehouse table with maintenance daemons + ad-hoc DML
beside streaming CDC cannot. Contract under test (icepack.commit
``requirements`` + operators.concurrency.run_with_commit_retries):

- parallel appends all land (benign unpinned rebase, CAS loop);
- compaction/clustering REBASE over a concurrent append (the appended
  rows survive, untouched) but REFUSE when an input file was removed
  (files-live) or a delete file landed meanwhile (no-new-deletes — the
  rebased rewrite's fresh seq would resurrect the shadowed rows);
- row-level DML holds snapshot isolation over concurrent appends and
  refuses stale-input commits the same way;
- run_with_commit_retries recomputes a refused operation from the fresh
  head and converges to the sequential result.

Race injection is deterministic: the concurrent writer runs via a shim on
the instance's ``commit`` immediately before the operation's own commit —
the exact window a wall-clock race would hit, with no sleeps or luck.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from datastream_deltalake_connector_spark.operators.clustering import cluster
from datastream_deltalake_connector_spark.operators.compaction import compact
from datastream_deltalake_connector_spark.operators.concurrency import (
    run_with_commit_retries,
)
from datastream_deltalake_connector_spark.operators.expire import remove_orphans
from datastream_deltalake_connector_spark.operators.mor import (
    apply_deletes,
    merge_into_table_mor,
)
from datastream_deltalake_connector_spark.operators.rowops import (
    delete_where,
    delete_where_mor,
)
from datastream_deltalake_connector_spark.operators.table_merge import merge_into_table
from datastream_deltalake_connector_spark.sources.generator import (
    MERGED_IMAGE_SCHEMA,
    generate_change_batch,
    generate_images,
)
from datastream_deltalake_connector_spark.table import IcepackTable
from datastream_deltalake_connector_spark.table.icepack import ConflictError

N_BASE = 100


def fresh_table(spark, tmp_path, name="t", num_files=5):
    t = IcepackTable.create(spark, str(tmp_path / name), MERGED_IMAGE_SCHEMA)
    t.append(base_df(spark), num_files=num_files)
    return t


def base_df(spark, n=N_BASE, seed=None):
    kw = {} if seed is None else {"seed": seed}
    return generate_images(spark, n, num_partitions=4, **kw).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )


def extra_df(spark, n=10):
    """Rows with ids disjoint from the base set (fresh uuid-style ids)."""
    return base_df(spark, n, seed=99).withColumn(
        "image_id", F.concat(F.lit("extra-"), F.col("image_id"))
    )


def key_set(t):
    return {r["image_id"] for r in t.scan().select("image_id").collect()}


def inject_before_commit(t: IcepackTable, action):
    """Run ``action`` once, immediately before ``t``'s next commit attempt
    resolves the head — deterministic stand-in for a concurrent writer
    winning the race."""
    real = IcepackTable.commit
    fired = {"done": False}

    def shim(*args, **kwargs):
        if not fired["done"]:
            fired["done"] = True
            action()
        return real(t, *args, **kwargs)

    t.commit = shim  # instance attribute shadows the bound method


def second_handle(spark, t: IcepackTable) -> IcepackTable:
    return IcepackTable(spark, t.root)


# ---------------------------------------------------------------- appends


def test_parallel_appends_all_land(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    dfs = [
        base_df(spark, 10, seed=100 + i).withColumn(
            "image_id", F.concat(F.lit(f"w{i}-"), F.col("image_id"))
        )
        for i in range(4)
    ]
    handles = [second_handle(spark, t) for _ in dfs]

    def do(i):
        return handles[i].append(dfs[i], num_files=1)

    with ThreadPoolExecutor(4) as pool:
        versions = list(pool.map(do, range(4)))

    assert len(set(versions)) == 4  # four distinct snapshots, no clobber
    assert t.count_rows() == N_BASE + 40
    # linear history: every writer's parent chain reaches the base commit
    assert t.snapshot().version == max(versions)


# ----------------------------------------------- maintenance vs appends


def test_compact_rebases_over_concurrent_append(spark, tmp_path):
    t = fresh_table(spark, tmp_path, num_files=8)
    other = second_handle(spark, t)
    inject_before_commit(t, lambda: other.append(extra_df(spark), num_files=1))

    v = compact(t, target_bytes=1 << 30)
    assert v is not None
    assert t.count_rows() == N_BASE + 10
    keys = key_set(t)
    assert sum(1 for k in keys if k.startswith("extra-")) == 10
    # compaction's inputs are gone; the concurrently appended file survived
    ops = [s.operation for s in t.snapshots()]
    assert ops[-2:] == ["append", "compact"]


def test_cluster_rebases_over_concurrent_append(spark, tmp_path):
    t = fresh_table(spark, tmp_path, num_files=8)
    other = second_handle(spark, t)
    inject_before_commit(t, lambda: other.append(extra_df(spark), num_files=1))

    cluster(t, num_files=4)
    assert t.count_rows() == N_BASE + 10
    assert sum(1 for k in key_set(t) if k.startswith("extra-")) == 10


def test_compact_refuses_when_input_removed(spark, tmp_path):
    t = fresh_table(spark, tmp_path, num_files=8)
    other = second_handle(spark, t)
    # the concurrent writer rewrites (removes) compaction's input files
    inject_before_commit(
        t, lambda: delete_where(other, residual_sql="pmod(phash, 2) = 0")
    )
    with pytest.raises(ConflictError, match="files-live"):
        compact(t, target_bytes=1 << 30)
    # the refused compaction changed nothing visible
    assert t.snapshot().operation == "delete"
    assert key_set(t) == key_set(other)


def test_compact_refuses_when_delete_file_lands(spark, tmp_path):
    """THE resurrection race: a MoR merge commits equality tombstones while
    compaction is rewriting. Blind carry-forward would stamp the rewritten
    rows with a seq ABOVE the tombstones' and un-delete them; the
    no-new-deletes requirement refuses instead, and the retried compaction
    folds the deletes first — final state equals the sequential twin."""
    t = fresh_table(spark, tmp_path, num_files=8)
    other = second_handle(spark, t)
    batch = generate_change_batch(
        spark, N_BASE, batch_index=0, num_partitions=4, updates=0, inserts=0, deletes=12
    )
    deleted = {
        r["image_id"]
        for r in batch.where(F.col("change_type") == "DELETE")
        .select("image_id")
        .collect()
    }
    assert deleted
    inject_before_commit(t, lambda: merge_into_table_mor(other, batch))
    with pytest.raises(ConflictError, match="no-new-deletes"):
        compact(t, target_bytes=1 << 30)

    # deleted keys stayed dead through the refused rewrite
    assert key_set(t).isdisjoint(deleted)
    # operation-level retry recomputes from the fresh head (its bins read
    # through the new delete file, which its commit then drops) and lands
    v = run_with_commit_retries(lambda: compact(t, target_bytes=1 << 30))
    assert v is not None
    assert key_set(t).isdisjoint(deleted)
    assert t.count_rows() == N_BASE - len(deleted)


# ------------------------------------------------------ DML vs appends


def test_delete_where_snapshot_isolation_over_append(spark, tmp_path):
    """Snapshot-isolation DELETE: rows appended after the predicate was
    evaluated are NOT deleted, even when they match it (Iceberg DML
    semantics); the delete still lands via rebase."""
    t = fresh_table(spark, tmp_path, num_files=4)
    other = second_handle(spark, t)
    inject_before_commit(t, lambda: other.append(extra_df(spark), num_files=1))

    rep = delete_where(t, residual_sql="image_id like 'extra-%' or pmod(phash, 3) = 0")
    assert rep["version"] is not None
    keys = key_set(t)
    # every concurrently appended row survived — the predicate never saw them
    assert sum(1 for k in keys if k.startswith("extra-")) == 10


def test_delete_where_mor_refuses_after_concurrent_compact(spark, tmp_path):
    """Positional deletes address files BY PATH: a concurrent compaction
    re-files every row, so the staged (file, pos) pairs would dangle and
    the delete would silently no-op. files-live refuses; the retry helper
    recomputes against the compacted layout and deletes exactly the
    matched rows."""
    t = fresh_table(spark, tmp_path, num_files=8)
    other = second_handle(spark, t)
    inject_before_commit(t, lambda: compact(other, target_bytes=1 << 30))

    pred = "pmod(phash, 4) = 0"
    expect_gone = {
        r["image_id"]
        for r in t.scan().where(F.expr(pred)).select("image_id").collect()
    }
    with pytest.raises(ConflictError, match="files-live"):
        delete_where_mor(t, residual_sql=pred)
    assert key_set(t) >= expect_gone  # nothing half-applied
    # the refused commit reclaimed its staged delete file (Spark's _SUCCESS
    # and .crc markers of committed writes are orphans too, so only parquet
    # files count)
    orphans = remove_orphans(t, grace_seconds=0, dry_run=True)["orphans"]
    assert not [p for p in orphans if p.endswith(".parquet")], orphans

    rep = run_with_commit_retries(lambda: delete_where_mor(t, residual_sql=pred))
    assert rep["version"] is not None
    assert key_set(t).isdisjoint(expect_gone)
    assert t.count_rows() == N_BASE - len(expect_gone)
    apply_deletes(t)
    assert t.count_rows() == N_BASE - len(expect_gone)


def test_overwrite_refuses_after_concurrent_compact(spark, tmp_path):
    """An overwrite removes the files it read; a compaction that re-filed
    them first would see its output survive the overwrite. The commit's
    implied files-live check refuses instead, the table keeps its
    pre-overwrite rows, and the refused overwrite leaves no staged file."""
    t = fresh_table(spark, tmp_path, num_files=8)
    before = key_set(t)
    other = second_handle(spark, t)
    inject_before_commit(t, lambda: compact(other, target_bytes=1 << 30))
    with pytest.raises(ConflictError, match="files-live"):
        t.overwrite_all(extra_df(spark), num_files=1)
    assert t.snapshot().operation == "compact"
    assert key_set(t) == before
    assert t.count_rows() == N_BASE
    orphans = remove_orphans(t, grace_seconds=0, dry_run=True)["orphans"]
    assert not [p for p in orphans if p.endswith(".parquet")], orphans


def test_pinned_merge_conflicts_then_retry_converges(spark, tmp_path):
    """The CDC merge pins expected_parent (single-writer discipline). When
    an append races it, the pinned commit refuses; retrying the whole merge
    from the fresh head converges to the sequential result."""
    t = fresh_table(spark, tmp_path, num_files=4)
    other = second_handle(spark, t)
    batch = generate_change_batch(
        spark, N_BASE, batch_index=0, num_partitions=4, updates=15, inserts=8, deletes=6
    )
    inject_before_commit(t, lambda: other.append(extra_df(spark), num_files=1))
    with pytest.raises(ConflictError):
        merge_into_table(t, batch)

    run_with_commit_retries(lambda: merge_into_table(t, batch))

    # sequential twin: append first, then the same merge
    twin = fresh_table(spark, tmp_path, name="twin", num_files=4)
    twin.append(extra_df(spark), num_files=1)
    merge_into_table(twin, batch)
    state = lambda x: sorted(  # noqa: E731
        (r["image_id"], r["caption"])
        for r in x.scan().select("image_id", "caption").collect()
    )
    assert state(t) == state(twin)


def test_retries_exhausted_raises(spark, tmp_path):
    calls = {"n": 0}

    def always_conflicts():
        calls["n"] += 1
        raise ConflictError("synthetic")

    with pytest.raises(ConflictError, match="after 3 attempts"):
        run_with_commit_retries(always_conflicts, attempts=3, base_backoff_s=0.001)
    assert calls["n"] == 3
