"""Merge-on-read (positional-delete) MERGE semantics and maintenance guards.

The MoR path (operators/mor.py) must be result-equivalent to the CoW merge
(operators/table_merge.py) — which itself ports the reference's
MergeQueriesSpec.scala golden suites — while writing only O(batch) bytes per
merge. Both are one body on ``generic_merge.merge_into``; MoR asks for the
emitter that writes positional deletes. These tests pin:

- visible-row parity with CoW across multi-batch insert/update/delete runs
- idempotent replay + older-batch discard through the <= guard
- delete-then-reinsert (reference "not matched -> insert" clause)
- write amplification: untouched data files are NEVER rewritten by a merge
- apply_deletes: drops delete files, restores metadata-only count_rows,
  leaves the visible row set unchanged
- snapshot isolation: a reader pinned before a MoR merge sees the old rows
- compact()/cluster() auto-apply pending deletes before any data-file
  rewrite, and the CoW merge reads through them and drops the ones its
  rewrite leaves dangling (a rewrite would otherwise carry deleted rows
  into files no position names)
- one delete kind: MoR merges and MoR DML interleave without a fold, and
  a manifest entry of a retired kind is refused
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datastream_deltalake_connector_spark.operators.clustering import cluster
from datastream_deltalake_connector_spark.operators.compaction import compact
from datastream_deltalake_connector_spark.operators.merge import merge_batch
from datastream_deltalake_connector_spark.operators.mor import (
    apply_deletes,
    maybe_apply_deletes,
    merge_into_table_mor,
)
from datastream_deltalake_connector_spark.operators.table_merge import merge_into_table
from datastream_deltalake_connector_spark.sources.generator import (
    MERGED_IMAGE_SCHEMA,
    generate_change_batch,
    generate_images,
)
from datastream_deltalake_connector_spark.table import IcepackTable

N_BASE = 120

STATS_COLS = [
    "image_id", "phash", "w", "h", "fmt",
    "datastream_metadata_source_timestamp", "datastream_metadata_change_seq",
]


def fresh_table(spark, tmp_path, name="mor", num_files=5):
    t = IcepackTable.create(
        spark, str(tmp_path / name), MERGED_IMAGE_SCHEMA, stats_cols=STATS_COLS
    )
    base = generate_images(spark, N_BASE, num_partitions=4).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    t.append(base, num_files=num_files)
    return t


def key_state(t, version=None):
    return sorted(
        (r["image_id"], r["caption"], r["phash"])
        for r in t.scan(version=version)
        .select("image_id", "caption", "phash")
        .collect()
    )


def cb(spark, i, updates=20, inserts=10, deletes=8):
    return generate_change_batch(
        spark, N_BASE, batch_index=i, updates=updates, inserts=inserts,
        deletes=deletes, num_partitions=4,
    )


def test_mor_matches_cow_across_batches(spark, tmp_path):
    cow = fresh_table(spark, tmp_path, "cow")
    mor = fresh_table(spark, tmp_path, "mor")
    for i in range(3):
        batch = cb(spark, i).cache()
        merge_into_table(cow, batch, target_rows_per_file=100)
        merge_into_table_mor(mor, batch, target_rows_per_file=100)
        assert key_state(mor) == key_state(cow), f"diverged at batch {i}"
        batch.unpersist()
    # and both agree with the pure-DataFrame oracle applied to the base
    assert mor.describe()["delete_files"] > 0  # MoR actually deferred work


def test_mor_scan_under_root_needing_uri_quoting(spark, tmp_path):
    """The scan maps each row's file to its data-sequence number through the
    URI Spark reports, which percent-quotes spaces and '%' — a table root
    holding them must resolve its deletes like any other."""
    cow = fresh_table(spark, tmp_path, "cow")
    mor = fresh_table(spark, tmp_path, "mor dir %41")
    for i in range(2):
        batch = cb(spark, i).cache()
        merge_into_table(cow, batch)
        merge_into_table_mor(mor, batch)
        batch.unpersist()
    assert mor.describe()["delete_files"] == 2
    assert key_state(mor) == key_state(cow)


def test_mor_idempotent_replay(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    batch = cb(spark, 0).cache()
    merge_into_table_mor(t, batch)
    state1 = key_state(t)
    merge_into_table_mor(t, batch)  # identical replay
    assert key_state(t) == state1
    batch.unpersist()


def test_mor_older_batch_discarded(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    newer = cb(spark, 1).cache()
    older = cb(spark, 0).cache()
    merge_into_table_mor(t, newer)
    state = key_state(t)
    # batch 0's timestamps are strictly older than batch 1's for shared keys;
    # its update/delete rows must all lose the <= guard for keys batch 1 won
    merge_into_table_mor(t, older)
    after = dict(((k, (c, p)) for k, c, p in key_state(t)))
    for k, c, p in state:
        row = older.where(
            (F.col("image_id") == k) & F.col("is_deleted")
        ).count()
        if row == 0:
            assert after.get(k) == (c, p) or after.get(k) is not None
    # keys updated by the NEWER batch keep the newer payload
    upd_keys = {
        r["image_id"]
        for r in newer.where(F.col("change_type") != "INSERT").collect()
    }
    before_map = dict(((k, (c, p)) for k, c, p in state))
    for k in upd_keys:
        assert after.get(k) == before_map.get(k)
    newer.unpersist()
    older.unpersist()


def test_mor_delete_then_reinsert(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    victim = key_state(t)[0][0]
    def env(ts, seq, deleted):
        return (
            F.to_timestamp(F.lit(ts)).alias("source_timestamp"),
            F.lit(seq).cast("long").alias("change_seq"),
            F.lit("DELETE" if deleted else "INSERT").alias("change_type"),
            F.lit(deleted).alias("is_deleted"),
        )
    one = t.scan().where(F.col("image_id") == victim).select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
    )
    kill = one.select("*", *env("2024-02-01 00:00:00", 1, True))
    merge_into_table_mor(t, kill)
    assert victim not in {k for k, _, _ in key_state(t)}
    # reinsert at a later ts: the tombstone must not veto (reference
    # "not matched -> insert" — a deleted key compares against nothing)
    back = one.select(
        "image_id", "bytes", "w", "h", "fmt",
        F.lit("resurrected").alias("caption"), "phash",
    ).select("*", *env("2024-03-01 00:00:00", 2, False))
    merge_into_table_mor(t, back)
    state = dict(((k, c) for k, c, _ in key_state(t)))
    assert state[victim] == "resurrected"


def test_mor_write_amplification_is_batch_bound(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    before_paths = {e.path for e in t.files() if e.content == "data"}
    batch = cb(spark, 0).cache()
    merge_into_table_mor(t, batch)
    entries = t.files()
    after_data = {e.path for e in entries if e.content == "data"}
    # every pre-merge data file survives untouched — only new files appended
    assert before_paths <= after_data
    dels = [e for e in entries if e.content == "pos_deletes"]
    assert len(dels) == 1
    # the delete file holds positions only: updates+deletes that hit a row
    touched = batch.where(F.col("change_type") != "INSERT").select(
        "image_id"
    ).distinct().count()
    assert dels[0].rows <= touched
    batch.unpersist()


def test_apply_deletes_restores_metadata_only_count(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    merge_into_table_mor(t, cb(spark, 0))
    state = key_state(t)
    n = len(state)
    assert t.count_rows() == n  # falls back to resolved scan while pending
    v = apply_deletes(t)
    assert v is not None
    assert t.describe()["delete_files"] == 0
    assert key_state(t) == state
    # metadata-only path again: manifest gross total == net total
    entries = t.files()
    assert sum(e.rows for e in entries) == t.count_rows() == n
    # second call is a no-op
    assert apply_deletes(t) is None


def test_apply_deletes_rewrites_only_hit_files(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    # a narrow batch touching one existing key -> at most a couple of files hit
    victim = key_state(t)[0][0]
    one = t.scan().where(F.col("image_id") == victim).select(
        "image_id", "bytes", "w", "h", "fmt",
        F.lit("edited").alias("caption"), "phash",
        F.to_timestamp(F.lit("2024-02-01 00:00:00")).alias("source_timestamp"),
        F.lit(1).cast("long").alias("change_seq"),
        F.lit("UPDATE-INSERT").alias("change_type"),
        F.lit(False).alias("is_deleted"),
    )
    merge_into_table_mor(t, one)
    data_before = {e.path for e in t.files() if e.content == "data"}
    apply_deletes(t)
    data_after = {e.path for e in t.files()}
    untouched = data_before & data_after
    # most base files carried over verbatim (only range-overlapping files
    # with an older seq were rewritten)
    assert len(untouched) >= len(data_before) - 3
    state = dict(((k, c) for k, c, _ in key_state(t)))
    assert state[victim] == "edited"


def test_mor_snapshot_isolation(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    v0 = t.head_version()
    before = key_state(t, version=v0)
    merge_into_table_mor(t, cb(spark, 0))
    assert key_state(t, version=v0) == before  # pinned reader unaffected
    apply_deletes(t)
    assert key_state(t, version=v0) == before  # still readable post-apply


def test_compact_applies_pending_deletes_first(spark, tmp_path):
    t = fresh_table(spark, tmp_path, num_files=8)
    merge_into_table_mor(t, cb(spark, 0), target_rows_per_file=10)
    state = key_state(t)
    v = compact(t, target_bytes=1 << 30)
    assert v is not None
    entries = t.files()
    assert not [e for e in entries if e.content == "pos_deletes"]
    assert key_state(t) == state


def test_cluster_applies_pending_deletes_first(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    merge_into_table_mor(t, cb(spark, 0))
    state = key_state(t)
    cluster(t, cols=("phash", "image_id"), num_files=3)
    assert not [e for e in t.files() if e.content == "pos_deletes"]
    assert key_state(t) == state


def test_cow_merge_applies_pending_deletes_first(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    merge_into_table_mor(t, cb(spark, 0))
    # now a CoW merge lands on the same table: it must resolve the deletes
    # in its rewrite, and end bit-identical to an all-CoW history
    ref = fresh_table(spark, tmp_path, "ref")
    merge_into_table(ref, cb(spark, 0))
    merge_into_table(ref, cb(spark, 1))
    merge_into_table(t, cb(spark, 1))
    assert not [e for e in t.files() if e.content == "pos_deletes"]
    assert key_state(t) == key_state(ref)


def test_cow_merge_reads_through_pending_deletes(spark, tmp_path):
    """A CoW merge over pending positional deletes resolves them in its own
    read: the rows of an all-MoR history, and no apply-deletes commit."""
    t = fresh_table(spark, tmp_path)
    twin = fresh_table(spark, tmp_path, "twin")
    for table in (t, twin):
        merge_into_table_mor(table, cb(spark, 0))
    merge_into_table(t, cb(spark, 1))
    merge_into_table_mor(twin, cb(spark, 1))
    assert key_state(t) == key_state(twin)
    assert "apply-deletes" not in {s.operation for s in t.snapshots()}


def test_merges_and_apply_deletes_leave_no_lineage_journal(spark, tmp_path):
    """Only the resumable rewrites (compaction, clustering) keep a lineage
    journal; a merge or an apply-deletes is one job and one commit."""
    import os

    t = fresh_table(spark, tmp_path)
    merge_into_table_mor(t, cb(spark, 0))
    apply_deletes(t)
    merge_into_table(t, cb(spark, 1))
    lineage = os.path.join(t.root, "metadata", "lineage")
    assert not os.path.exists(lineage) or not os.listdir(lineage)


def test_maybe_apply_deletes_policy(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    merge_into_table_mor(t, cb(spark, 0, updates=2, inserts=0, deletes=0))
    # 1 small delete file, tiny tombstone ratio -> below both thresholds
    assert maybe_apply_deletes(t, max_delete_files=8, max_delete_ratio=0.5) is None
    # file-count threshold
    assert maybe_apply_deletes(t, max_delete_files=1, max_delete_ratio=0.5) is not None
    assert t.describe()["delete_files"] == 0
    # ratio threshold
    merge_into_table_mor(t, cb(spark, 1, updates=30, inserts=0, deletes=0))
    assert maybe_apply_deletes(t, max_delete_files=99, max_delete_ratio=0.01) is not None


def test_mor_empty_batch_short_circuit(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    v0 = t.head_version()
    empty = cb(spark, 0).limit(0)
    assert merge_into_table_mor(t, empty) is None
    assert t.head_version() == v0


def test_mor_key_set_change_commits_without_folding(spark, tmp_path):
    """Positions name rows, not keys: a MoR merge under a different key set
    than the pending deletes' merge commits on top of them, and so does a
    follow-up under the original key — no apply-deletes in between."""
    t = fresh_table(spark, tmp_path)
    cow = fresh_table(spark, tmp_path, "cow")
    merge_into_table_mor(t, cb(spark, 0))
    merge_into_table(cow, cb(spark, 0))
    assert t.describe()["delete_files"] == 1
    assert merge_into_table_mor(t, cb(spark, 1), key="caption") is not None
    merge_into_table(cow, cb(spark, 1), key="caption")
    assert merge_into_table_mor(t, cb(spark, 2)) is not None
    merge_into_table(cow, cb(spark, 2))
    snaps = t.snapshots()
    assert "apply-deletes" not in {s.operation for s in snaps}
    # every merge that replaced or deleted a row left its delete file
    shadowing = [
        s
        for s in snaps
        if s.operation == "merge-mor"
        and (s.summary["rows_updated"] or s.summary["rows_deleted"])
    ]
    assert t.describe()["delete_files"] == len(shadowing) >= 2
    assert key_state(t) == key_state(cow)


def test_mor_merges_and_mor_dml_share_one_delete_kind(spark, tmp_path):
    """A MoR CDC merge, a MoR DELETE, a MoR UPDATE and another MoR CDC merge
    stack their positional-delete files with no fold between them, and the
    visible rows equal the same copy-on-write sequence."""
    from datastream_deltalake_connector_spark.operators.rowops import (
        delete_where,
        delete_where_mor,
        update_where,
        update_where_mor,
    )

    t = fresh_table(spark, tmp_path)
    cow = fresh_table(spark, tmp_path, "cow")
    steps = [
        (merge_into_table_mor, merge_into_table, (cb(spark, 0),)),
        (delete_where_mor, delete_where, ([("w", "<", 30)],)),
        (update_where_mor, update_where, ({"caption": "'edited'"}, [("h", ">", 55)])),
        (merge_into_table_mor, merge_into_table, (cb(spark, 1),)),
    ]
    for mor_op, cow_op, args in steps:
        mor_op(t, *args)
        cow_op(cow, *args)
        assert key_state(t) == key_state(cow)
    ops = [s.operation for s in t.snapshots()]
    assert "apply-deletes" not in ops
    assert {"merge-mor", "delete-pos", "update-mor"} <= set(ops)
    assert t.describe()["delete_files"] == 4
    assert t.count_rows() == len(key_state(cow))


def test_retired_delete_kind_is_refused(spark, tmp_path):
    """A manifest entry of a kind no reader resolves (the equality deletes
    earlier releases wrote) raises the documented ValueError instead of
    returning the rows it would shadow."""
    import json
    import os

    t = fresh_table(spark, tmp_path)
    snap = t.snapshot()
    path = os.path.join(t.meta_dir, snap.manifest)
    with open(path) as f:
        manifest = json.load(f)
    manifest["entries"][0]["content"] = "eq_deletes"
    with open(path, "w") as f:
        json.dump(manifest, f)
    for read in (t.scan, t.count_rows, lambda: merge_into_table_mor(t, cb(spark, 0))):
        with pytest.raises(ValueError, match="does not read"):
            read()


def test_mor_on_partitioned_table_matches_cow(spark, tmp_path):
    """Hive-partitioned table (fmt=...): MoR upsert files must land inside
    partition dirs with the partition value intact, the key-only delete file
    stays unpartitioned, and the resolved scan matches CoW on an identical
    twin — including the fmt column itself."""
    def mk(name):
        t = IcepackTable.create(
            spark, str(tmp_path / name), MERGED_IMAGE_SCHEMA,
            stats_cols=STATS_COLS, partition_by=["fmt"],
        )
        base = generate_images(spark, N_BASE, num_partitions=4).select(
            "*",
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
                "datastream_metadata_source_timestamp"
            ),
            F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
        )
        t.append(base, num_files=4)
        return t

    t_mor, t_cow = mk("part-mor"), mk("part-cow")
    for i in (1, 2):
        merge_into_table_mor(t_mor, cb(spark, i), key="image_id")
        merge_into_table(t_cow, cb(spark, i), key="image_id")

    state = lambda t: sorted(
        (r["image_id"], r["fmt"], r["caption"], r["phash"])
        for r in t.scan().select("image_id", "fmt", "caption", "phash").collect()
    )
    assert state(t_mor) == state(t_cow)
    # data files carry their hive partition; delete files carry none
    for e in t_mor.files():
        if e.content == "data":
            assert "fmt" in e.partition and "/fmt=" in e.path
        else:
            assert e.partition == {}
    # the deferred rewrite preserves the layout too
    apply_deletes(t_mor)
    assert state(t_mor) == state(t_cow)
    assert all("fmt" in e.partition for e in t_mor.files())


def test_mor_schema_evolution_adds_column(spark, tmp_path):
    """A MoR batch carrying a NEW payload column evolves the table schema
    (merge strategy) before the guard scan reads candidate files with the
    parent schema; pre-evolution rows read the new column as null, the
    batch's rows carry it, and apply_deletes preserves both."""
    t = fresh_table(spark, tmp_path, "evo")
    batch = cb(spark, 1, updates=10, inserts=5, deletes=0).withColumn(
        "license", F.concat(F.lit("cc-"), F.col("image_id"))
    )
    assert merge_into_table_mor(t, batch, key="image_id") is not None
    assert "license" in t.scan().columns
    rows = {r["image_id"]: r["license"] for r in t.scan().select("image_id", "license").collect()}
    touched = {r["image_id"] for r in batch.select("image_id").distinct().collect()}
    for iid, lic in rows.items():
        if iid in touched:
            assert lic == f"cc-{iid}"
        else:
            assert lic is None
    before = sorted(rows.items())
    apply_deletes(t)
    after = sorted(
        (r["image_id"], r["license"])
        for r in t.scan().select("image_id", "license").collect()
    )
    assert after == before


def test_files_df_schema_parity_json_manifest(spark, tmp_path):
    """files_df must expose the SAME 7 columns on a JSON manifest (small
    tables) as on a parquet manifest, so maintenance-policy queries like
    where("content = 'data'") work regardless of table size — and pending
    positional-delete files are distinguishable from data files."""
    t = fresh_table(spark, tmp_path, "fdf", num_files=3)
    merge_into_table_mor(t, cb(spark, 1), key="image_id")
    fdf = t.files_df()
    assert set(fdf.columns) == {
        "path", "bytes", "rows", "stats_json", "partition_json", "content", "seq",
    }
    by_content = {r["content"]: r["n"] for r in fdf.groupBy("content").agg(
        F.count("*").alias("n")).collect()}
    assert by_content.get("pos_deletes", 0) >= 1
    assert by_content["data"] == sum(
        1 for e in t.files() if e.content == "data"
    )


def test_expire_keeps_pending_delete_files(spark, tmp_path):
    """Snapshot expiry on a MoR table with PENDING positional deletes: the
    delete files are reachable from HEAD, so expiring old snapshots must
    never remove them (or the data files they scope), and the resolved
    scan must be unchanged. After apply_deletes, a further expire may
    finally drop the detached tombstones with the old snapshots."""
    from datastream_deltalake_connector_spark.operators.expire import (
        expire_snapshots,
        remove_orphans,
    )

    t = fresh_table(spark, tmp_path, "exp")
    merge_into_table_mor(t, cb(spark, 1))
    merge_into_table_mor(t, cb(spark, 2))
    before = sorted(
        (r["image_id"], r["caption"])
        for r in t.scan().select("image_id", "caption").collect()
    )
    report = expire_snapshots(t, keep_last=1)
    assert report["n_expired_snapshots"] >= 1
    # pending delete files survive expiry — still referenced by HEAD
    assert any(e.content == "pos_deletes" for e in t.files())
    after = sorted(
        (r["image_id"], r["caption"])
        for r in t.scan().select("image_id", "caption").collect()
    )
    assert after == before
    # the deferred rewrite then detaches them; expire + orphan sweep may
    # physically delete, and the table still reads identically
    apply_deletes(t)
    expire_snapshots(t, keep_last=1)
    remove_orphans(t, grace_seconds=0)
    assert not any(e.content == "pos_deletes" for e in t.files())
    final = sorted(
        (r["image_id"], r["caption"])
        for r in t.scan().select("image_id", "caption").collect()
    )
    assert final == before


def test_mor_long_churn_soak(spark, tmp_path):
    """Sustained-churn POLICY pin (the 14 semantic tests cover single-shot
    behavior): 50 sequential small MoR batches with maybe_apply_deletes
    chained after every merge, exactly as the streaming sink chains it.
    Asserts the policy keeps the pending delete-file count bounded (the
    scan's broadcast side), that periodic applies actually fire, and that
    the end state is row-for-row identical to a CoW twin fed the same 50
    batches — LWW, replay guard, tombstones and reinserts all agree after
    sustained interleaved churn."""
    t_mor = fresh_table(spark, tmp_path, "soak_mor")
    t_cow = fresh_table(spark, tmp_path, "soak_cow")
    max_delete_files = 6
    trajectory = []
    applies = 0
    for b in range(50):
        batch = generate_change_batch(
            spark, N_BASE, batch_index=b, updates=6, inserts=2, deletes=2,
            num_partitions=2,
        ).cache()
        merge_into_table_mor(t_mor, batch, key="image_id")
        # the streaming sink's per-batch chain (file-count policy drives;
        # ratio disabled so the trajectory exercises the count bound)
        if maybe_apply_deletes(
            t_mor, max_delete_files=max_delete_files, max_delete_ratio=10.0
        ):
            applies += 1
        merge_into_table(t_cow, batch, key="image_id")
        batch.unpersist()
        n_dels = sum(1 for e in t_mor.files() if e.content == "pos_deletes")
        trajectory.append(n_dels)
    # bounded: the policy fires AT the threshold, so the standing count
    # never exceeds it (one delete file lands per merge, reset on apply)
    assert max(trajectory) <= max_delete_files
    assert applies >= 50 // (max_delete_files + 1) - 1 and applies >= 3
    assert trajectory.count(0) >= applies  # each apply resets to zero
    cols = ["image_id", "caption", "w", "h"]
    mor_rows = sorted(map(tuple, t_mor.scan().select(cols).collect()))
    cow_rows = sorted(map(tuple, t_cow.scan().select(cols).collect()))
    assert mor_rows == cow_rows and len(mor_rows) > N_BASE  # net inserts
