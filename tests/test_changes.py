"""Change-data-feed out of an icepack table (operators/changes.py):
Delta CDF / Iceberg changelog parity reconstructed from the manifest diff +
LWW row identity, with no stored change files. The oracle here is the table
itself: every commit's expected feed is derived driver-side by diffing the
resolved scans at v-1 and v."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datastream_deltalake_connector_spark.operators.changes import (
    foreach_changes,
    incremental_changes,
    table_changes,
)
from datastream_deltalake_connector_spark.operators.clustering import cluster
from datastream_deltalake_connector_spark.operators.compaction import compact
from datastream_deltalake_connector_spark.operators.mor import (
    apply_deletes,
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

TS = "datastream_metadata_source_timestamp"
SEQ = "datastream_metadata_change_seq"


def fresh_table(spark, tmp_path, name="cf", num_files=5):
    t = IcepackTable.create(
        spark, str(tmp_path / name), MERGED_IMAGE_SCHEMA, stats_cols=STATS_COLS
    )
    base = generate_images(spark, N_BASE, num_partitions=4).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(TS),
        F.lit(0).cast("long").alias(SEQ),
    )
    t.append(base, num_files=num_files)
    return t


def cb(spark, i, **kw):
    kw.setdefault("updates", 20)
    kw.setdefault("inserts", 10)
    kw.setdefault("deletes", 8)
    return generate_change_batch(spark, N_BASE, batch_index=i, num_partitions=4, **kw)


def rows_by_key(t, version):
    """Resolved scan at `version` as {image_id: (caption, phash, ts, seq)}."""
    return {
        r["image_id"]: (r["caption"], r["phash"], r[TS], r[SEQ])
        for r in t.scan(version=version)
        .select("image_id", "caption", "phash", TS, SEQ)
        .collect()
    }


def feed_set(df):
    """Feed rows as a comparable set of (key, change_type, commit, payload)."""
    return {
        (r["image_id"], r["_change_type"], r["_commit_version"],
         r["caption"], r["phash"], r[TS], r[SEQ])
        for r in df.select(
            "image_id", "_change_type", "_commit_version",
            "caption", "phash", TS, SEQ,
        ).collect()
    }


def expected_feed(t, from_version, to_version):
    """Ground truth: diff the RESOLVED scans of consecutive snapshots —
    completely independent of the manifest-diff machinery under test."""
    out = set()
    for v in range(from_version + 1, to_version + 1):
        old, new = rows_by_key(t, v - 1), rows_by_key(t, v)
        for k in new.keys() - old.keys():
            out.add((k, "insert", v) + new[k])
        for k in old.keys() - new.keys():
            out.add((k, "delete", v) + old[k])
        for k in old.keys() & new.keys():
            if old[k] != new[k]:
                out.add((k, "update_preimage", v) + old[k])
                out.add((k, "update_postimage", v) + new[k])
    return out


def test_append_emits_pure_inserts(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    feed = table_changes(t, 0)
    got = feed_set(feed)
    assert got == expected_feed(t, 0, t.head_version())
    assert {r[1] for r in got} == {"insert"}
    assert len(got) == N_BASE


def test_cow_merge_feed_matches_scan_diff(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    v1 = t.head_version()
    merge_into_table(t, cb(spark, 0), target_rows_per_file=40)
    v2 = t.head_version()
    got = feed_set(table_changes(t, v1, v2))
    assert got == expected_feed(t, v1, v2)
    kinds = {r[1] for r in got}
    # the batch has updates, inserts AND deletes — all three must appear
    assert kinds == {"insert", "delete", "update_preimage", "update_postimage"}
    # carried rows (CoW rewrites copy untouched neighbors) are suppressed:
    # feed row count is bounded by the batch churn, not the rewrite size
    assert len(got) < N_BASE


def test_mor_merge_feed_identical_to_cow(spark, tmp_path):
    t_cow = fresh_table(spark, tmp_path, name="cow")
    t_mor = fresh_table(spark, tmp_path, name="mor")
    v1 = t_cow.head_version()
    merge_into_table(t_cow, cb(spark, 0), target_rows_per_file=40)
    merge_into_table_mor(t_mor, cb(spark, 0))
    f_cow = feed_set(table_changes(t_cow, v1))
    f_mor = feed_set(table_changes(t_mor, v1))
    assert f_cow == f_mor
    assert f_mor == expected_feed(t_mor, v1, t_mor.head_version())


def test_idempotent_replay_emits_empty_feed(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    merge_into_table(t, cb(spark, 0), target_rows_per_file=40)
    v2 = t.head_version()
    merge_into_table(t, cb(spark, 0), target_rows_per_file=40)
    v3 = t.head_version()
    if v3 == v2:  # merge may short-circuit the no-op batch entirely
        pytest.skip("replay short-circuited: no commit to feed")
    assert table_changes(t, v2, v3).count() == 0


def test_maintenance_commits_emit_nothing(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    merge_into_table_mor(t, cb(spark, 0))
    v_merge = t.head_version()
    apply_deletes(t)
    compact(t, target_bytes=1 << 20)
    cluster(t, curve="zorder")
    head = t.head_version()
    assert head > v_merge
    assert table_changes(t, v_merge, head).count() == 0
    # and the full-range feed equals the scan diff (maintenance transparent)
    assert feed_set(table_changes(t, 0)) == expected_feed(t, 0, head)


def test_metadata_commits_need_no_merge_key(spark, tmp_path):
    """A constraint or partition-spec change on an append-only table is
    row-preserving: the feed stays pure inserts and needs no merge key."""
    t = fresh_table(spark, tmp_path)
    t.add_check_constraint("w_pos", "w > 0")
    t.set_partition_spec(["bucket(2, image_id)"])
    more = generate_images(spark, 6, num_partitions=1, seed=7).select(
        F.concat(F.lit("new-"), "image_id").alias("image_id"),
        *[c for c in MERGED_IMAGE_SCHEMA.names if c not in ("image_id", TS, SEQ)],
        F.to_timestamp(F.lit("2024-01-02 00:00:00")).alias(TS),
        F.lit(0).cast("long").alias(SEQ),
    )
    t.append(more)
    got = feed_set(table_changes(t, 0))
    assert got == expected_feed(t, 0, t.head_version())
    assert {r[1] for r in got} == {"insert"}


def test_rollback_feed_is_exact_inverse(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    v1 = t.head_version()
    merge_into_table(t, cb(spark, 0), target_rows_per_file=40)
    v2 = t.head_version()
    t.rollback(v1)
    v3 = t.head_version()
    fwd = feed_set(table_changes(t, v1, v2))
    inv = feed_set(table_changes(t, v2, v3))
    flip = {"insert": "delete", "delete": "insert",
            "update_preimage": "update_postimage",
            "update_postimage": "update_preimage"}
    assert inv == {(k, flip[c], v3) + payload
                   for (k, c, _v, *payload_) in fwd
                   for payload in [tuple(payload_)]}
    # net feed across merge+rollback cancels to nothing at the row level
    assert feed_set(table_changes(t, v1, v3)) == fwd | inv


def test_rollback_over_mor_pending_deletes(spark, tmp_path):
    """Rollback that re-adds equality-delete files (un-applying an
    apply_deletes) and removes them (undoing a MoR merge): the feed must
    match the resolved-scan diff in both directions."""
    t = fresh_table(spark, tmp_path)
    v1 = t.head_version()
    merge_into_table_mor(t, cb(spark, 0))
    v_pending = t.head_version()
    apply_deletes(t)
    t.rollback(v1)  # removes the delete file AND the merge's data files
    head = t.head_version()
    assert feed_set(table_changes(t, v1, head)) == expected_feed(t, v1, head)
    assert feed_set(table_changes(t, v_pending, head)) == expected_feed(
        t, v_pending, head
    )


def test_feed_replay_reproduces_snapshot(spark, tmp_path):
    """Applying the feed to the from_version state reproduces to_version —
    the contract a downstream replica relies on."""
    t = fresh_table(spark, tmp_path)
    v1 = t.head_version()
    merge_into_table(t, cb(spark, 0), target_rows_per_file=40)
    merge_into_table_mor(t, cb(spark, 1, updates=15, inserts=5, deletes=10))
    head = t.head_version()
    state = dict(rows_by_key(t, v1))
    for r in (
        table_changes(t, v1, head)
        .orderBy("_commit_version")
        .select("image_id", "_change_type", "_commit_version",
                "caption", "phash", TS, SEQ)
        .collect()
    ):
        if r["_change_type"] == "delete":
            state.pop(r["image_id"])
        elif r["_change_type"] in ("insert", "update_postimage"):
            state[r["image_id"]] = (r["caption"], r["phash"], r[TS], r[SEQ])
    assert state == rows_by_key(t, head)


def test_incremental_consumer_exactly_once(spark, tmp_path):
    """Cursor-based consumption: unacked batches replay the same range,
    acked batches advance, caught-up consumers get None."""
    t = fresh_table(spark, tmp_path)
    cursor = str(tmp_path / "cursor.json")

    b1 = incremental_changes(t, cursor)
    assert (b1.from_version, b1.to_version) == (0, t.head_version())
    assert feed_set(b1.df) == expected_feed(t, 0, t.head_version())
    # crash before ack: the SAME range is re-delivered, deterministically
    b1_again = incremental_changes(t, cursor)
    assert (b1_again.from_version, b1_again.to_version) == (0, b1.to_version)
    assert feed_set(b1_again.df) == feed_set(b1.df)
    b1.ack()
    assert incremental_changes(t, cursor) is None

    merge_into_table(t, cb(spark, 0), target_rows_per_file=40)
    b2 = incremental_changes(t, cursor)
    assert b2.from_version == b1.to_version
    assert feed_set(b2.df) == expected_feed(t, b2.from_version, b2.to_version)
    b2.ack()
    assert incremental_changes(t, cursor) is None


def test_foreach_changes_acks_only_on_success(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    cursor = str(tmp_path / "cursor.json")
    seen = []

    def boom(df, lo, hi):
        raise RuntimeError("downstream commit failed")

    with pytest.raises(RuntimeError):
        foreach_changes(t, cursor, boom)
    # failed handler did not advance the cursor: the range replays
    v = foreach_changes(t, cursor, lambda df, lo, hi: seen.append((lo, hi, df.count())))
    assert v == t.head_version()
    assert seen == [(0, v, N_BASE)]
    assert foreach_changes(t, cursor, lambda *a: seen.append(a)) is None
    assert len(seen) == 1


def test_incremental_cursor_ahead_of_head_raises(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    cursor = str(tmp_path / "cursor.json")
    import json

    with open(cursor, "w") as f:
        json.dump({"version": t.head_version() + 5}, f)
    with pytest.raises(ValueError, match="does not belong"):
        incremental_changes(t, cursor)


def test_invalid_range_raises(spark, tmp_path):
    t = fresh_table(spark, tmp_path)
    head = t.head_version()
    # with globally-allocated versions, a reversed range is just "the target
    # is not a descendant" — the ancestry walk reports it
    with pytest.raises(ValueError, match="not an ancestor"):
        table_changes(t, head, head - 1)
    with pytest.raises(ValueError, match="invalid version range"):
        table_changes(t, 0, head + 1)
    # empty (but valid) range: zero rows, stable schema
    empty = table_changes(t, head, head)
    assert empty.count() == 0
    assert "_change_type" in empty.columns
