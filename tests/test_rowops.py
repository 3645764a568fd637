"""Predicate DELETE FROM / UPDATE ... WHERE (operators/rowops.py) —
Delta row-level-operation parity over icepack tables: manifest pruning,
metadata-only file drops (exact null counts + bounds proofs), CoW rewrite
of partial files, SQL null semantics, CHECK-constraint enforcement on
update, merge-on-read interplay (no shadowed-row resurrection), and
provable no-op short-circuits."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datastream_deltalake_connector_spark.operators.mor import merge_into_table_mor
from datastream_deltalake_connector_spark.operators.rowops import (
    delete_where,
    update_where,
)
from datastream_deltalake_connector_spark.table import (
    ConstraintViolation,
    IcepackTable,
)


def three_file_table(spark, tmp_path, name="rowops"):
    """ids 0..149 split into three range-disjoint files (50 rows each) with
    exact stats incl. null counts — file 0: [0,50), file 1: [50,100),
    file 2: [100,150)."""
    df = spark.range(0, 150).select(
        "id",
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("u"), F.col("id")).alias("tag"),
    )
    t = IcepackTable.create(
        spark, str(tmp_path / name), df.schema, stats_cols=["id", "v", "tag"]
    )
    for lo, hi in ((0, 50), (50, 100), (100, 150)):
        t.append(df.where(f"id >= {lo} and id < {hi}"), num_files=1)
    return t


def test_footer_stats_record_exact_null_counts(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "id long, s string"
    )
    t = IcepackTable.create(spark, str(tmp_path / "nulls"), df.schema)
    t.append(df, num_files=1)
    (e,) = t.files()
    assert e.stats["id"]["nulls"] == 0
    assert e.stats["s"]["nulls"] == 2


def test_must_match_all_proofs(spark, tmp_path):
    t = three_file_table(spark, tmp_path)
    f0, f1, _f2 = sorted(t.files(), key=lambda e: e.stats["id"]["min"])
    assert f0.must_match_all("id", "<", 50)
    assert f0.must_match_all("id", "<=", 49)
    assert f0.must_match_all("id", "between", (0, 49))
    assert not f0.must_match_all("id", "<", 49)  # id=49 would survive
    assert not f1.must_match_all("id", "<", 75)  # partial
    assert f1.must_match_all("id", ">=", 50)
    # unknown nulls (pre-r5 manifests) can never be dropped without a read
    f0.stats["id"]["nulls"] = None
    assert not f0.must_match_all("id", "<", 50)


def test_delete_metadata_only_drop(spark, tmp_path):
    t = three_file_table(spark, tmp_path)
    before_paths = {e.path for e in t.files()}
    rep = delete_where(t, [("id", "<", 50)])
    assert rep["files_dropped_metadata_only"] == 1
    assert rep["files_rewritten"] == 0
    assert rep["files_pruned"] == 2
    assert rep["rows_deleted"] == 50
    assert t.scan().count() == 100
    assert t.count_rows() == 100
    # metadata-only: the dropped file still exists on disk (time travel),
    # and NO new files were staged
    assert {e.path for e in t.files()} < before_paths
    assert t.snapshot().operation == "delete"


def test_delete_partial_rewrite(spark, tmp_path):
    t = three_file_table(spark, tmp_path)
    rep = delete_where(t, [("id", "<", 75)])
    assert rep["files_dropped_metadata_only"] == 1  # [0,50) proven inside
    assert rep["files_rewritten"] == 1  # [50,100) partial
    assert rep["files_pruned"] == 1  # [100,150) untouched
    assert rep["rows_deleted"] == 75
    got = sorted(r.id for r in t.scan().select("id").collect())
    assert got == list(range(75, 150))


def test_delete_in_and_residual_sql(spark, tmp_path):
    t = three_file_table(spark, tmp_path)
    rep = delete_where(
        t, [("id", "in", [3, 77, 141])], residual_sql="id % 2 = 1"
    )
    # residual disables metadata drops even if bounds would prove
    assert rep["files_dropped_metadata_only"] == 0
    assert rep["rows_deleted"] == 3  # 3, 77, 141 all odd
    assert t.scan(filters=[("id", "in", [3, 77, 141])]).count() == 0
    assert t.scan().count() == 147


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 50.0)], "id long, v double"
    )
    t = IcepackTable.create(spark, str(tmp_path / "np"), df.schema)
    t.append(df, num_files=1)
    rep = delete_where(t, [("v", "<", 10.0)])
    # SQL semantics: NULL < 10 is NULL -> not deleted; and the file (with a
    # null) must never be metadata-dropped
    assert rep["files_dropped_metadata_only"] == 0
    assert sorted(r.id for r in t.scan().collect()) == [2, 3]


def test_delete_noop_no_commit_no_leak(spark, tmp_path):
    t = three_file_table(spark, tmp_path)
    head = t.head_version()
    n_data_files = sum(
        len(files) for _, _, files in os.walk(os.path.join(t.root, "data"))
    )
    # candidates exist (bounds overlap) but no row matches the residual
    rep = delete_where(t, [("id", ">=", 0)], residual_sql="id > 100000")
    assert rep["version"] is None and rep["rows_deleted"] == 0
    assert t.head_version() == head
    now = sum(
        len(files) for _, _, files in os.walk(os.path.join(t.root, "data"))
    )
    assert now == n_data_files  # staged bytes reclaimed


def test_delete_empty_predicate_is_loud(spark, tmp_path):
    t = three_file_table(spark, tmp_path)
    with pytest.raises(ValueError, match="empty predicate"):
        delete_where(t)


def test_delete_resolves_pending_mor_deletes(spark, tmp_path):
    """A CoW rewrite stamps a fresh seq; rows shadowed by pending equality
    deletes must not resurrect."""
    df = spark.range(0, 100).select(
        "id",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
        (F.col("id") * 1.0).alias("v"),
    )
    t = IcepackTable.create(spark, str(tmp_path / "mor"), df.schema)
    t.append(df, num_files=2)
    # MoR-delete ids 10..19 via a change batch
    batch = spark.range(10, 20).select(
        "id",
        F.to_timestamp(F.lit("2024-01-02 00:00:00")).alias("source_timestamp"),
        F.lit(1).cast("long").alias("change_seq"),
        F.lit(True).alias("is_deleted"),
        F.lit(0.0).alias("v"),
    )
    merge_into_table_mor(t, batch, key="id")
    assert any(e.content == "pos_deletes" for e in t.files())
    # predicate delete over a range that includes shadowed rows
    rep = delete_where(t, [("id", "<", 30)])
    assert rep["version"] is not None
    got = sorted(r.id for r in t.scan().select("id").collect())
    assert got == list(range(30, 100))  # 0..29 gone, 10..19 NOT resurrected


def test_update_basic_and_pruning(spark, tmp_path):
    t = three_file_table(spark, tmp_path)
    rep = update_where(
        t, {"v": "v + 100", "tag": "upper(tag)"}, [("id", "between", (50, 59))]
    )
    assert rep["rows_updated"] == 10
    assert rep["files_pruned"] == 2 and rep["files_rewritten"] == 1
    rows = {
        r.id: (r.v, r.tag)
        for r in t.scan(filters=[("id", "between", (49, 61))]).collect()
    }
    assert rows[49] == (73.5, "u49")  # untouched
    assert rows[50] == (175.0, "U50")
    assert rows[59] == (188.5, "U59")
    assert rows[60] == (90.0, "u60")
    assert t.snapshot().operation == "update"
    assert t.snapshot().summary["rows_updated"] == 10


def test_update_assignments_see_old_values(spark, tmp_path):
    df = spark.createDataFrame([(1, 10.0, 20.0)], "id long, a double, b double")
    t = IcepackTable.create(spark, str(tmp_path / "swap"), df.schema)
    t.append(df, num_files=1)
    update_where(t, {"a": "b", "b": "a"}, [("id", "=", 1)])
    (row,) = t.scan().collect()
    assert (row.a, row.b) == (20.0, 10.0)  # swapped, not clobbered


def test_update_unknown_column_is_loud(spark, tmp_path):
    t = three_file_table(spark, tmp_path)
    with pytest.raises(ValueError, match="unknown column"):
        update_where(t, {"nope": "1"}, [("id", "=", 1)])


def test_update_enforces_check_constraints(spark, tmp_path):
    t = three_file_table(spark, tmp_path)
    t.add_check_constraint("v_nonneg", "v >= 0")
    head = t.head_version()
    with pytest.raises(ConstraintViolation):
        update_where(t, {"v": "-5.0"}, [("id", "<", 10)])
    assert t.head_version() == head  # atomic rejection
    # and a compliant update still lands
    rep = update_where(t, {"v": "v + 1"}, [("id", "<", 10)])
    assert rep["rows_updated"] == 10


def test_update_noop_short_circuit(spark, tmp_path):
    t = three_file_table(spark, tmp_path)
    head = t.head_version()
    rep = update_where(
        t, {"v": "0.0"}, [("id", ">=", 0)], residual_sql="tag = 'nope'"
    )
    assert rep["version"] is None and rep["rows_updated"] == 0
    assert t.head_version() == head


def test_delete_then_time_travel(spark, tmp_path):
    t = three_file_table(spark, tmp_path)
    v_before = t.head_version()
    delete_where(t, [("id", ">=", 100)])
    assert t.scan().count() == 100
    assert t.scan(version=v_before).count() == 150  # dropped file still read
