"""Port of the reference's merge-semantics golden tests to the pure-DataFrame
MERGE operator.

Source suites (reference): spark/src/test/scala/io/badal/databricks/delta/
MergeQueriesSpec.scala (insert-to-empty :18-41, idempotent replay :43-65,
update ordering :66-97, delete :98-126) plus the north_star additions from
FIXTURES.md §3 (delete of absent key, delete+reinsert in one batch, schema
evolution through merge).
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import types as T

from datastream_deltalake_connector_spark.operators.merge import (
    SEQ_META,
    TS_META,
    merge_batch,
    winners_as_merged,
)
from datastream_deltalake_connector_spark.operators import generic_merge
from datastream_deltalake_connector_spark.operators.dedup import latest_by_keys
from datastream_deltalake_connector_spark.operators.table_merge import merge_into_table
from datastream_deltalake_connector_spark.table import IcepackTable

T0 = datetime(2024, 1, 1, 0, 0, 0)

BATCH_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("address", T.StringType()),
        T.StructField("change_type", T.StringType()),
        T.StructField("is_deleted", T.BooleanType()),
        T.StructField("source_timestamp", T.TimestampType()),
        T.StructField("change_seq", T.LongType()),
    ]
)

MERGED_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("address", T.StringType()),
        T.StructField(TS_META, T.TimestampType()),
        T.StructField(SEQ_META, T.LongType()),
    ]
)


def ev(id, name, addr, minutes=0, seq=0, ct="INSERT", deleted=False):
    return (id, name, addr, ct, deleted, T0 + timedelta(minutes=minutes), seq)


def batch(spark, rows):
    return spark.createDataFrame(rows, BATCH_SCHEMA)


def empty_target(spark):
    return spark.createDataFrame([], MERGED_SCHEMA)


def snap(df):
    """Collect to a comparable sorted list of (id, name, address, ts, seq)."""
    return sorted(
        (r["id"], r["name"], r["address"], r[TS_META], r[SEQ_META])
        for r in df.collect()
    )


def test_insert_into_empty_table(spark):
    b = batch(spark, [ev("1", "ann", "a st"), ev("2", "bob", "b st", minutes=1)])
    out = merge_batch(empty_target(spark), b, ["id"])
    assert snap(out) == [
        ("1", "ann", "a st", T0, 0),
        ("2", "bob", "b st", T0 + timedelta(minutes=1), 0),
    ]


def test_idempotent_replay_same_batch(spark):
    # MergeQueriesSpec.scala:43-65 — re-applying the identical batch leaves
    # the table unchanged (the <= guard re-applies equal-ts events).
    b = batch(spark, [ev("1", "ann", "a st"), ev("2", "bob", "b st")])
    t1 = merge_batch(empty_target(spark), b, ["id"])
    t2 = merge_batch(t1, b, ["id"])
    assert snap(t1) == snap(t2)


def test_newer_update_wins(spark):
    t1 = merge_batch(empty_target(spark), batch(spark, [ev("1", "ann", "a st")]), ["id"])
    upd = batch(spark, [ev("1", "ann2", "a2 st", minutes=5, ct="UPDATE-INSERT")])
    t2 = merge_batch(t1, upd, ["id"])
    assert snap(t2) == [("1", "ann2", "a2 st", T0 + timedelta(minutes=5), 0)]


def test_older_update_discarded(spark):
    # MergeQueriesSpec.scala:66-97 — a stale event (older ts) is silently
    # dropped; the target keeps the newer row.
    t1 = merge_batch(
        empty_target(spark), batch(spark, [ev("1", "ann", "a st", minutes=10)]), ["id"]
    )
    stale = batch(spark, [ev("1", "old", "old st", minutes=5, ct="UPDATE-INSERT")])
    t2 = merge_batch(t1, stale, ["id"])
    assert snap(t2) == [("1", "ann", "a st", T0 + timedelta(minutes=10), 0)]


def test_equal_timestamp_reapplies(spark):
    # '<=' not '<' is load-bearing (MergeQueries.scala:124-129): an equal-ts
    # event re-applies, so replays converge even if values changed.
    t1 = merge_batch(empty_target(spark), batch(spark, [ev("1", "ann", "a st")]), ["id"])
    same_ts = batch(spark, [ev("1", "ann-fix", "a st", ct="UPDATE-INSERT")])
    t2 = merge_batch(t1, same_ts, ["id"])
    assert snap(t2) == [("1", "ann-fix", "a st", T0, 0)]


def test_delete_removes_row(spark):
    # MergeQueriesSpec.scala:98-126 — newest event per key with
    # is_deleted=true deletes the row.
    b = batch(spark, [ev("1", "ann", "a st"), ev("2", "bob", "b st")])
    t1 = merge_batch(empty_target(spark), b, ["id"])
    d = batch(spark, [ev("1", "ann", "a st", minutes=1, ct="DELETE", deleted=True)])
    t2 = merge_batch(t1, d, ["id"])
    assert snap(t2) == [("2", "bob", "b st", T0, 0)]


def test_stale_delete_ignored(spark):
    t1 = merge_batch(
        empty_target(spark), batch(spark, [ev("1", "ann", "a st", minutes=10)]), ["id"]
    )
    d = batch(spark, [ev("1", "ann", "a st", minutes=2, ct="DELETE", deleted=True)])
    t2 = merge_batch(t1, d, ["id"])
    assert snap(t2) == [("1", "ann", "a st", T0 + timedelta(minutes=10), 0)]


def test_delete_of_absent_key_is_noop(spark):
    # ST4: unmatched delete produces no tombstone row (insert clause
    # requires is_deleted = false, MergeQueries.scala:103-104).
    t1 = merge_batch(empty_target(spark), batch(spark, [ev("1", "ann", "a st")]), ["id"])
    d = batch(spark, [ev("99", "ghost", "x", minutes=1, ct="DELETE", deleted=True)])
    t2 = merge_batch(t1, d, ["id"])
    assert snap(t2) == [("1", "ann", "a st", T0, 0)]


def test_delete_then_reinsert_same_batch(spark):
    # Within one batch the LWW winner decides: delete@t+1 then insert@t+2 on
    # the same key → row exists with the later values.
    b = batch(
        spark,
        [
            ev("1", "ann", "a st"),
            ev("1", "ann", "a st", minutes=1, seq=1, ct="DELETE", deleted=True),
            ev("1", "ann-back", "new st", minutes=2, seq=2),
        ],
    )
    out = merge_batch(empty_target(spark), b, ["id"])
    assert snap(out) == [("1", "ann-back", "new st", T0 + timedelta(minutes=2), 2)]


def test_insert_then_delete_same_batch_drops_key(spark):
    b = batch(
        spark,
        [
            ev("1", "ann", "a st"),
            ev("1", "ann", "a st", minutes=1, seq=1, ct="DELETE", deleted=True),
        ],
    )
    out = merge_batch(empty_target(spark), b, ["id"])
    assert snap(out) == []


def test_change_seq_breaks_timestamp_ties(spark):
    # Composite ordering key port (TableMetadata.scala:24-32): same ts,
    # higher change_seq (binlog-position analogue) wins.
    b = batch(
        spark,
        [ev("1", "first", "a", seq=1), ev("1", "second", "b", seq=2)],
    )
    out = merge_batch(empty_target(spark), b, ["id"])
    assert snap(out) == [("1", "second", "b", T0, 2)]


def test_schema_evolution_new_column_appended_nullable(spark):
    # DeltaSchemaMigrationSpec.scala:55-152 — new payload column appears
    # nullable; rows merged before the column existed read NULL.
    t1 = merge_batch(empty_target(spark), batch(spark, [ev("1", "ann", "a st")]), ["id"])
    evolved_schema = T.StructType(BATCH_SCHEMA.fields + [T.StructField("gender", T.StringType())])
    b2 = spark.createDataFrame(
        [("2", "bob", "b st", "INSERT", False, T0 + timedelta(minutes=1), 0, "m")],
        evolved_schema,
    )
    t2 = merge_batch(t1, b2, ["id"])
    rows = {r["id"]: r for r in t2.collect()}
    assert set(t2.columns) == {"id", "name", "address", "gender", TS_META, SEQ_META}
    assert rows["1"]["gender"] is None
    assert rows["2"]["gender"] == "m"


def test_schema_evolution_removed_column_retained(spark):
    # Removed source column is kept in the target and null-filled for new rows.
    evolved_schema = T.StructType(BATCH_SCHEMA.fields + [T.StructField("gender", T.StringType())])
    b1 = spark.createDataFrame(
        [("1", "ann", "a st", "INSERT", False, T0, 0, "f")], evolved_schema
    )
    t1 = merge_batch(empty_target(spark), b1, ["id"])
    b2 = batch(spark, [ev("2", "bob", "b st", minutes=1)])  # no gender column
    t2 = merge_batch(t1, b2, ["id"])
    rows = {r["id"]: r for r in t2.collect()}
    assert "gender" in t2.columns
    assert rows["1"]["gender"] == "f"
    assert rows["2"]["gender"] is None


def test_update_does_not_resurrect_columns(spark):
    # An update through the old schema keeps the row's new-schema column from
    # the source (null), matching UPDATE SET * semantics on the full map.
    evolved_schema = T.StructType(BATCH_SCHEMA.fields + [T.StructField("gender", T.StringType())])
    b1 = spark.createDataFrame(
        [("1", "ann", "a st", "INSERT", False, T0, 0, "f")], evolved_schema
    )
    t1 = merge_batch(empty_target(spark), b1, ["id"])
    b2 = batch(spark, [ev("1", "ann2", "a st", minutes=1, ct="UPDATE-INSERT")])
    t2 = merge_batch(t1, b2, ["id"])
    row = t2.collect()[0]
    assert row["name"] == "ann2"
    assert row["gender"] is None


@pytest.mark.parametrize("strategy", ["window", "max_by"])
def test_dedup_strategies_agree(spark, strategy):
    rows = []
    for i in range(200):
        key = str(i % 7)  # hot keys
        rows.append(ev(key, f"n{i}", f"a{i}", minutes=i % 13, seq=i))
    b = batch(spark, rows)
    got = latest_by_keys(
        b, ["id"], ["source_timestamp", "change_seq"], strategy=strategy
    )
    expect = latest_by_keys(b, ["id"], ["source_timestamp", "change_seq"], "window")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))


def test_winners_as_merged_shape(spark):
    b = batch(spark, [ev("1", "ann", "a st")])
    m = winners_as_merged(b, ["id"])
    assert m.columns == ["id", "name", "address", TS_META, SEQ_META]


def _as_table(spark, path, df):
    t = IcepackTable.create(spark, str(path), MERGED_SCHEMA)
    t.append(df)
    return t


@pytest.mark.parametrize("scenario", ["mixed", "all_inserts", "all_deletes"])
def test_broadcast_path_equals_default(spark, tmp_path, monkeypatch, scenario):
    """Both emitters of the table MERGE executor — the split rewrite joined
    with the broadcast batch, and the range-partitioned full-outer join —
    must be row-identical to the full-outer reference plan in every clause
    mix."""
    t1 = merge_batch(
        empty_target(spark),
        batch(spark, [ev("1", "ann", "a st"), ev("2", "bob", "b st"), ev("3", "cy", "c st")]),
        ["id"],
    )
    if scenario == "mixed":
        rows = [
            ev("1", "ann2", "new st", minutes=5, ct="UPDATE-INSERT"),      # update
            ev("2", "bob", "b st", minutes=5, ct="DELETE", deleted=True),  # delete
            ev("4", "dee", "d st", minutes=5),                             # insert
            ev("5", "eve", "e st", minutes=5, ct="DELETE", deleted=True),  # absent delete
            ev("3", "old", "x", minutes=-5, ct="UPDATE-INSERT"),           # stale
        ]
    elif scenario == "all_inserts":
        rows = [ev(str(i), f"n{i}", "s", minutes=9) for i in range(10, 16)]
    else:
        rows = [ev(str(i), "x", "y", minutes=9, ct="DELETE", deleted=True) for i in ("1", "2", "3")]
    b = batch(spark, rows)
    expect = snap(merge_batch(t1, b, ["id"]))
    for mode, limit in (("split", 1 << 40), ("range", 0)):
        monkeypatch.setattr(generic_merge, "SPLIT_MAX_SOURCE_BYTES", limit)
        t = _as_table(spark, tmp_path / mode, t1)
        v = merge_into_table(t, b, key="id")
        assert t.snapshot(v).summary["rewrite_mode"] == mode
        assert snap(t.scan()) == expect, mode


def test_broadcast_path_has_no_target_exchange(spark, tmp_path, monkeypatch):
    """Scale assertion: the split emitter's rewrite of the target never
    shuffles — its one join is a broadcast join and the plan has no range
    or hash exchange outside the cached batch."""
    t = _as_table(
        spark,
        tmp_path / "t",
        merge_batch(empty_target(spark), batch(spark, [ev("1", "ann", "a st")]), ["id"]),
    )
    plans = []
    write = IcepackTable.write_data_files

    def spy(self, df, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write(self, df, **kw)

    monkeypatch.setattr(IcepackTable, "write_data_files", spy)
    b = batch(spark, [ev("1", "ann2", "b st", minutes=1, ct="UPDATE-INSERT")])
    v = merge_into_table(t, b, key="id")
    assert t.snapshot(v).summary["rewrite_mode"] == "split"
    # the scan below the cached batch is not part of the rewrite's plan
    plan = plans[0].split("InMemoryRelation")[0]
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "rangepartitioning" not in plan and "hashpartitioning" not in plan, plan
