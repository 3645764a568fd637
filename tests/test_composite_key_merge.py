"""Composite-primary-key MERGE INTO icepack (CoW + MoR).

The reference builds its merge equi-join over EVERY primary key
(MergeQueries.scala via TableMetadata primary_keys); a single-key merge
would LWW-collapse distinct rows that share the first key column. These
tests pin the full-tuple semantics end-to-end: dedup, replay guard,
tombstones, rewrite layout, and the streaming key selection.
"""

import pytest
from pyspark.sql import functions as F

from datastream_deltalake_connector_spark.operators.mor import (
    apply_deletes,
    merge_into_table_mor,
)
from datastream_deltalake_connector_spark.operators.table_merge import (
    merge_into_table,
)
from datastream_deltalake_connector_spark.table import IcepackTable

TS = "datastream_metadata_source_timestamp"
SEQ = "datastream_metadata_change_seq"
KEYS = ["user_id", "event_type"]


def _base(spark):
    # 200 users x 3 event_types: tuples are unique, user_id alone is NOT
    rows = [
        (u, et, float(u * 10 + i))
        for u in range(200)
        for i, et in enumerate(["click", "view", "buy"])
    ]
    return spark.createDataFrame(rows, ["user_id", "event_type", "value"]).select(
        "user_id",
        "event_type",
        "value",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(TS),
        F.lit(0).cast("long").alias(SEQ),
    )


def _batch(spark, rows, ts="2024-06-01 00:00:00"):
    """rows: [(user_id, event_type, value, is_deleted)]"""
    return spark.createDataFrame(
        rows, ["user_id", "event_type", "value", "is_deleted"]
    ).select(
        "user_id",
        "event_type",
        "value",
        F.lit("UPSERT").alias("change_type"),
        "is_deleted",
        F.to_timestamp(F.lit(ts)).alias("source_timestamp"),
        F.lit(1).cast("long").alias("change_seq"),
    )


def _state(t):
    return sorted(
        (r["user_id"], r["event_type"], r["value"])
        for r in t.scan().select("user_id", "event_type", "value").collect()
    )


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_composite_key_merge_touches_only_the_tuple(spark, tmp_path, mode):
    t = IcepackTable.create(spark, str(tmp_path / f"comp-{mode}"), _base(spark).schema)
    t.append(_base(spark), num_files=6)
    batch = _batch(
        spark,
        [
            (7, "click", 999.0, False),   # update ONE tuple of user 7
            (8, "view", None, True),      # delete ONE tuple of user 8
            (9, "signup", 111.0, False),  # brand-new tuple for existing user 9
        ],
    )
    fn = merge_into_table if mode == "cow" else merge_into_table_mor
    assert fn(t, batch, key=KEYS) is not None
    got = dict(((u, et), v) for u, et, v in _state(t))
    assert got[(7, "click")] == 999.0
    assert got[(7, "view")] == 71.0  # sibling tuple of the SAME user survives
    assert got[(7, "buy")] == 72.0
    assert (8, "view") not in got and (8, "click") in got and (8, "buy") in got
    assert got[(9, "signup")] == 111.0
    assert len(got) == 600 - 1 + 1


def test_composite_cow_mor_parity_and_apply_deletes(spark, tmp_path):
    mk = lambda name: IcepackTable.create(
        spark, str(tmp_path / name), _base(spark).schema
    )
    tc, tm = mk("c"), mk("m")
    for t in (tc, tm):
        t.append(_base(spark), num_files=6)
    b1 = _batch(spark, [(1, "click", 500.0, False), (2, "buy", None, True)])
    b2 = _batch(
        spark,
        [(1, "click", 600.0, False), (2, "buy", 700.0, False)],
        ts="2024-07-01 00:00:00",
    )
    for b in (b1, b2):
        merge_into_table(tc, b, key=KEYS)
        merge_into_table_mor(tm, b, key=KEYS)
    assert _state(tc) == _state(tm)
    # the merge records the composite; apply_deletes preserves the view
    assert tm.snapshot().summary.get("keys") == KEYS
    before = _state(tm)
    apply_deletes(tm)
    assert _state(tm) == before
    assert tm.describe()["delete_files"] == 0


def test_composite_replay_and_stale_guard(spark, tmp_path):
    t = IcepackTable.create(spark, str(tmp_path / "replay"), _base(spark).schema)
    t.append(_base(spark), num_files=4)
    b = _batch(spark, [(3, "view", 123.0, False)])
    merge_into_table_mor(t, b, key=KEYS)
    s1 = _state(t)
    merge_into_table_mor(t, b, key=KEYS)  # idempotent replay (<= guard)
    assert _state(t) == s1
    stale = _batch(spark, [(3, "view", 1.0, False)], ts="2023-01-01 00:00:00")
    assert merge_into_table_mor(t, stale, key=KEYS) is None  # older ts discarded
    assert _state(t) == s1


def test_composite_mor_key_set_change_commits_without_folding(spark, tmp_path):
    """A merge under a different key set commits on top of the pending
    composite-key deletes: positions name rows, not keys, so nothing is
    folded first. The visible rows reflect both merges, as on CoW."""
    mk = lambda name: IcepackTable.create(
        spark, str(tmp_path / name), _base(spark).schema
    )
    t, cow = mk("mm"), mk("cow")
    b1 = _batch(spark, [(5, "click", 1.0, False)])
    b2 = _batch(spark, [(5, "zzz", 2.0, False)], ts="2024-08-01 00:00:00")
    for tbl in (t, cow):
        tbl.append(_base(spark), num_files=2)
    merge_into_table_mor(t, b1, key=KEYS)
    merge_into_table(cow, b1, key=KEYS)
    assert t.describe()["delete_files"] == 1
    assert merge_into_table_mor(t, b2, key="user_id") is not None
    merge_into_table(cow, b2, key="user_id")
    assert t.describe()["delete_files"] == 2
    assert "apply-deletes" not in {s.operation for s in t.snapshots()}
    assert _state(t) == _state(cow)
    got = dict(((u, et), val) for u, et, val in _state(t))
    # single-key merge: user 5's LWW winner replaces ALL of user 5's rows
    assert got[(5, "zzz")] == 2.0
    assert (5, "click") not in got and (5, "view") not in got
    assert got[(6, "click")] == 60.0  # untouched user intact


def test_streaming_merge_uses_full_pk_list(spark, tmp_path):
    """merge_log_to_table keys on the WHOLE primary_keys list: two log rows
    sharing pk[0] but differing pk[1] must both land (the collapse bug a
    first-key-only merge would have)."""
    import os

    from datastream_deltalake_connector_spark.sources.cdc import TableMetadata
    from datastream_deltalake_connector_spark.streaming.ingest import (
        _load_or_create_target,
        merge_log_to_table,
    )
    from pyspark.sql import types as T

    payload = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    meta = TableMetadata(
        source_type="datastream",
        table="ev",
        database=None,
        primary_keys=["user_id", "event_type"],
        order_by=["source_timestamp"],
        payload_schema=payload,
    )
    log_dir = str(tmp_path / "log")
    log = spark.createDataFrame(
        [
            (1, "click", 10.0, "INSERT", False, "2024-01-01T10:00:00.000Z"),
            (1, "view", 20.0, "INSERT", False, "2024-01-01T10:00:00.000Z"),
        ],
        ["user_id", "event_type", "value", "ct", "isdel", "ts_raw"],
    ).select(
        F.struct("user_id", "event_type", "value").alias("payload"),
        F.struct(
            F.col("ct").alias("change_type"), F.col("isdel").alias("is_deleted")
        ).alias("source_metadata"),
        F.to_timestamp("ts_raw").alias("source_timestamp"),
    )
    log.write.parquet(log_dir)
    target, root = _load_or_create_target(spark, str(tmp_path / "wh"), "ev", meta)
    q = merge_log_to_table(
        spark, log_dir, target, str(tmp_path / "ckpt"), meta,
        log_schema=log.schema,
    )
    q.awaitTermination()
    t = IcepackTable.load(spark, root)
    rows = sorted(
        (r["user_id"], r["event_type"], r["value"])
        for r in t.scan().select("user_id", "event_type", "value").collect()
    )
    assert rows == [(1, "click", 10.0), (1, "view", 20.0)]
