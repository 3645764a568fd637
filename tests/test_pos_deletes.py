"""Positional deletes (Iceberg-v2 position delete files) — merge-on-read
DELETE FROM / UPDATE ... WHERE (operators/rowops.py delete_where_mor /
update_where_mor) over icepack tables.

Pins:
- visible-row parity with the copy-on-write twins for the same predicates
- write amplification: a MoR DML never rewrites a data file — it stages ONE
  (file, row-index) delete file (plus postimage data files for UPDATE)
- metadata-only count_rows stays EXACT with pending positions (net = gross
  - shadowed)
- stacking: sequential MoR DMLs resolve prior positions first, so a row
  deleted once can never re-match, and an update can never resurrect it
- apply_deletes folds positions into data files: same visible rows, clean
  manifest
- one delete kind: MoR DML and MoR CDC merges stack their position files
  with no fold between them; a CoW merge / compact / cluster resolves or
  folds pending positions before it rewrites
- snapshot isolation + time travel across pos-delete commits
- CDF: delete-pos emits delete rows, update-mor emits update_pre/postimage
- the registered datasource read path resolves pending positions
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datastream_deltalake_connector_spark.operators.mor import (
    apply_deletes,
    maybe_apply_deletes,
    merge_into_table_mor,
)
from datastream_deltalake_connector_spark.operators.rowops import (
    delete_where,
    delete_where_mor,
    update_where,
    update_where_mor,
)
from datastream_deltalake_connector_spark.table import (
    ConstraintViolation,
    IcepackTable,
)


def make_table(spark, tmp_path, name, n=210, files=3):
    """ids 0..n-1 with g = id % 7, split into range-disjoint files."""
    df = spark.range(0, n).select(
        "id",
        (F.col("id") % 7).alias("g"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    t = IcepackTable.create(
        spark, str(tmp_path / name), df.schema, stats_cols=["id", "g", "v"]
    )
    step = n // files
    for lo in range(0, n, step):
        t.append(df.where(f"id >= {lo} and id < {lo + step}"), num_files=1)
    return t


def make_cdc_table(spark, tmp_path, name, n=210):
    """Like make_table, but with the Datastream LWW metadata columns the
    CDC merge guard reads (test_mor.py fresh_table convention)."""
    df = spark.range(0, n).select(
        "id",
        (F.col("id") % 7).alias("g"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    t = IcepackTable.create(
        spark, str(tmp_path / name), df.schema, stats_cols=["id", "g", "v"]
    )
    t.append(df, num_files=3)
    return t


def rows_of(t, version=None):
    return {
        (r.id, r.g, r.v)
        for r in t.scan(version).select("id", "g", "v").collect()
    }


# ---------------------------------------------------------------- parity


def test_delete_mor_matches_cow(spark, tmp_path):
    mor = make_table(spark, tmp_path, "dm")
    cow = make_table(spark, tmp_path, "dc")
    for args in (
        dict(filters=[("g", "=", 3)]),
        dict(filters=[("id", ">=", 100)], residual_sql="g in (1, 2)"),
        dict(residual_sql="v like 'v1%'"),
    ):
        rm = delete_where_mor(mor, **args)
        rc = delete_where(cow, **args)
        assert rm["rows_deleted"] == rc["rows_deleted"]
        assert rows_of(mor) == rows_of(cow)
        assert mor.count_rows() == cow.count_rows()


def test_update_mor_matches_cow(spark, tmp_path):
    mor = make_table(spark, tmp_path, "um")
    cow = make_table(spark, tmp_path, "uc")
    args = dict(
        assignments={"v": "concat(v, '_x')", "g": "g + 100"},
        filters=[("g", "=", 2)],
    )
    rm = update_where_mor(mor, **args)
    rc = update_where(cow, **args)
    assert rm["rows_updated"] == rc["rows_updated"] == 30
    assert rows_of(mor) == rows_of(cow)
    assert mor.count_rows() == cow.count_rows() == 210


def test_update_assignments_see_old_values_and_cast(spark, tmp_path):
    t = make_table(spark, tmp_path, "swap")
    # g <-> id swap on matched rows: both expressions read pre-update values;
    # the float-ish expr casts back to long (declared type)
    update_where_mor(
        t, {"g": "id", "id": "g + 0.4"}, filters=[("id", "=", 11)]
    )
    (row,) = t.scan().where("g = 11").select("id", "g").collect()
    assert (row.id, row.g) == (4, 11)


# ------------------------------------------------- write amplification


def test_delete_mor_writes_one_pos_file_and_no_data(spark, tmp_path):
    t = make_table(spark, tmp_path, "amp")
    before = {e.path for e in t.files() if e.content == "data"}
    rep = delete_where_mor(t, filters=[("g", "=", 5)])
    assert rep["pos_delete_files"] == 1
    after = {e.path for e in t.files() if e.content == "data"}
    assert after == before  # no data file touched
    pos = [e for e in t.files() if e.content == "pos_deletes"]
    assert len(pos) == 1 and pos[0].rows == rep["rows_deleted"] == 30


def test_metadata_only_drop_still_wins_in_mor(spark, tmp_path):
    t = make_table(spark, tmp_path, "drop")
    # file 0 holds exactly ids [0, 70): fully matching -> manifest drop,
    # ids 70..99 in file 1 -> row-level positions
    rep = delete_where_mor(t, filters=[("id", "<", 100)])
    assert rep["files_dropped_metadata_only"] == 1
    assert rep["pos_delete_files"] == 1
    assert rep["rows_deleted"] == 100
    assert t.count_rows() == 110 and t.scan().count() == 110


def test_count_rows_stays_metadata_only_exact(spark, tmp_path):
    t = make_table(spark, tmp_path, "cnt")
    delete_where_mor(t, filters=[("g", "=", 0)])
    delete_where_mor(t, filters=[("g", "=", 1)])
    # net = gross - shadowed, from the manifest + tiny pos files alone
    assert t.count_rows() == 210 - 30 - 30 == t.scan().count()


def test_pos_file_is_single_and_exact(spark, tmp_path):
    t = make_table(spark, tmp_path, "stats")
    delete_where_mor(t, filters=[("id", "between", (10, 19))])
    (pos,) = [e for e in t.files() if e.content == "pos_deletes"]
    assert pos.rows == 10  # exactly the matched rows, in ONE coalesced file
    # and the manifest's exact target map points at exactly one data file
    assert list(t.pos_delete_targets([pos]).values()) == [10]


def test_pos_file_footer_has_no_path_stats(spark, tmp_path):
    """A delete file is written without min/max: nothing reads those long
    path strings (or the positions) from the footer, so a delete file stays
    small, and count_rows still nets the positions out exactly."""
    import pyarrow.parquet as pq

    t = make_table(spark, tmp_path, "nostats")
    delete_where_mor(t, filters=[("g", "=", 2)])
    (pos,) = [e for e in t.files() if e.content == "pos_deletes"]
    md = pq.ParquetFile(t.data_path(pos.path)).metadata
    for rg in range(md.num_row_groups):
        cols = {
            md.row_group(rg).column(i).path_in_schema: md.row_group(rg).column(i)
            for i in range(md.num_columns)
        }
        for c in ("__file", "__pos"):
            st = cols[c].statistics
            assert st is None or not st.has_min_max, c
    assert "__file" not in pos.stats or "min" not in pos.stats["__file"]
    assert t.count_rows() == 210 - 30 == t.scan().count()


# ------------------------------------------------------------ stacking


def test_sequential_dmls_never_rematch_or_resurrect(spark, tmp_path):
    t = make_table(spark, tmp_path, "stack")
    r1 = delete_where_mor(t, filters=[("g", "=", 3)])
    assert r1["rows_deleted"] == 30
    # same predicate again: every match is already shadowed -> no-op
    r2 = delete_where_mor(t, filters=[("g", "=", 3)])
    assert r2["version"] is None and r2["rows_deleted"] == 0
    # an update predicate overlapping deleted rows must not resurrect them
    r3 = update_where_mor(t, {"v": "'touched'"}, residual_sql="g in (3, 4)")
    assert r3["rows_updated"] == 30  # only the live g=4 rows
    assert t.scan().where("g = 3").count() == 0
    assert t.scan().where("v = 'touched'").count() == 30
    assert t.count_rows() == 180


def test_update_then_delete_hits_postimage_rows(spark, tmp_path):
    t = make_table(spark, tmp_path, "postim")
    update_where_mor(t, {"v": "concat(v, '_u')"}, filters=[("g", "=", 1)])
    rep = delete_where_mor(t, filters=[("g", "=", 1)])
    # the updated rows live in fully-matching postimage files: the delete may
    # drop them metadata-only — either way they are gone
    assert rep["rows_deleted"] == 30
    assert t.scan().where("g = 1").count() == 0
    assert t.count_rows() == 180 == t.scan().count()


# ------------------------------------------------------- apply_deletes


def test_apply_deletes_folds_positions(spark, tmp_path):
    t = make_table(spark, tmp_path, "fold")
    delete_where_mor(t, filters=[("g", "=", 6)])
    update_where_mor(t, {"v": "upper(v)"}, filters=[("g", "=", 2)])
    visible = rows_of(t)
    v = apply_deletes(t)
    assert v is not None
    assert all(e.content == "data" for e in t.files())
    assert rows_of(t) == visible
    assert t.count_rows() == 180
    # second apply is a no-op
    assert apply_deletes(t) is None


def test_apply_deletes_rewrites_only_named_files(spark, tmp_path):
    t = make_table(spark, tmp_path, "narrow")
    # positions land only in file 0 (ids < 70)
    delete_where_mor(t, filters=[("id", "<", 10)])
    untouched_before = {
        e.path for e in t.files()
        if e.content == "data" and e.stats["id"]["min"] >= 70
    }
    apply_deletes(t)
    after = {e.path for e in t.files()}
    assert untouched_before < after  # files without positions carried as-is


def test_maybe_apply_deletes_counts_pos_files(spark, tmp_path):
    t = make_table(spark, tmp_path, "policy")
    delete_where_mor(t, filters=[("id", "=", 1)])
    assert maybe_apply_deletes(t, max_delete_files=3, max_delete_ratio=1.0) is None
    delete_where_mor(t, filters=[("id", "=", 2)])
    delete_where_mor(t, filters=[("id", "=", 3)])
    assert maybe_apply_deletes(t, max_delete_files=3, max_delete_ratio=1.0) is not None
    assert all(e.content == "data" for e in t.files())


# ------------------------------------------------------ one delete kind


def _cdc_batch(spark, rows):
    return spark.createDataFrame(
        rows, "id long, g long, v string, change_type string, is_deleted boolean"
    ).select(
        "id", "g", "v", "change_type", "is_deleted",
        F.to_timestamp(F.lit("2024-02-01 00:00:00")).alias("source_timestamp"),
        F.lit(10).cast("long").alias("change_seq"),
    )


def test_pos_dml_stacks_on_mor_merge_deletes(spark, tmp_path):
    t = make_cdc_table(spark, tmp_path, "mergefirst")
    merge_into_table_mor(t, _cdc_batch(spark, [(5, 99, "gone", "DELETE", True)]), key="id")
    assert [e.content for e in t.files()].count("pos_deletes") == 1
    delete_where_mor(t, filters=[("g", "=", 4)])
    assert [e.content for e in t.files()].count("pos_deletes") == 2
    assert "apply-deletes" not in {s.operation for s in t.snapshots()}
    assert t.scan().where("id = 5").count() == 0
    assert t.scan().where("g = 4").count() == 0
    assert t.count_rows() == 210 - 1 - 30


def test_mor_merge_stacks_on_pending_positions(spark, tmp_path):
    t = make_cdc_table(spark, tmp_path, "posfirst")
    delete_where_mor(t, filters=[("g", "=", 4)])
    # id 7 is live and updated; id 4 was deleted by the DML, so its update
    # matches nothing and inserts (the reference's not-matched clause)
    batch = _cdc_batch(spark, [(7, 7, "upd", "UPDATE", False), (4, 4, "back", "UPDATE", False)])
    merge_into_table_mor(t, batch, key="id")
    assert [e.content for e in t.files()].count("pos_deletes") == 2
    assert "apply-deletes" not in {s.operation for s in t.snapshots()}
    assert t.scan().where("g = 4").select("id", "v").collect() == [(4, "back")]
    assert t.scan().where("id = 7").select("v").first().v == "upd"
    assert t.count_rows() == 210 - 30 + 1


def test_compact_and_cluster_fold_positions_first(spark, tmp_path):
    from datastream_deltalake_connector_spark.operators.compaction import compact
    from datastream_deltalake_connector_spark.operators.clustering import cluster

    t = make_table(spark, tmp_path, "maint")
    delete_where_mor(t, filters=[("g", "=", 0)])
    visible = rows_of(t)
    compact(t)
    assert all(e.content == "data" for e in t.files())
    assert rows_of(t) == visible
    t2 = make_table(spark, tmp_path, "maint2")
    delete_where_mor(t2, filters=[("g", "=", 0)])
    cluster(t2, cols=("id", "g"))
    assert all(e.content == "data" for e in t2.files())
    assert rows_of(t2) == rows_of(t)


def test_cow_dml_resolves_pending_positions(spark, tmp_path):
    t = make_table(spark, tmp_path, "cowmix")
    delete_where_mor(t, filters=[("g", "=", 3)])
    # CoW delete rewrites files that still hold shadowed g=3 rows — those
    # rows must not resurrect with the rewrite's fresh files
    delete_where(t, filters=[("g", "=", 5)])
    assert t.scan().where("g in (3, 5)").count() == 0
    assert t.scan().count() == 150


# ----------------------------------------------- isolation / lifecycle


def test_time_travel_and_snapshot_isolation(spark, tmp_path):
    t = make_table(spark, tmp_path, "tt")
    v_before = t.head_version()
    pinned = rows_of(t, v_before)
    rep = delete_where_mor(t, filters=[("g", "=", 2)])
    assert rows_of(t, v_before) == pinned  # pinned reader unaffected
    assert len(rows_of(t, rep["version"])) == 180
    apply_deletes(t)
    assert rows_of(t, v_before) == pinned  # still reachable post-fold
    assert rows_of(t, rep["version"]) == rows_of(t)


def test_clone_refuses_pending_positions(spark, tmp_path):
    t = make_table(spark, tmp_path, "clonep")
    delete_where_mor(t, filters=[("g", "=", 2)])
    with pytest.raises(ValueError, match="pending delete files"):
        t.clone(str(tmp_path / "clone-dest"))


def test_update_mor_enforces_check_constraints(spark, tmp_path):
    t = make_table(spark, tmp_path, "chk")
    t.add_check_constraint("g_small", "g < 50")
    with pytest.raises(ConstraintViolation):
        update_where_mor(t, {"g": "g + 100"}, filters=[("g", "=", 1)])
    # nothing staged, nothing committed
    assert all(e.content == "data" for e in t.files())
    assert t.scan().count() == 210


def test_null_predicate_rows_survive(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id long, x long"
    )
    t = IcepackTable.create(spark, str(tmp_path / "nulls"), df.schema)
    t.append(df, num_files=1)
    rep = delete_where_mor(t, residual_sql="x > 5")
    # SQL semantics: NULL predicate -> row survives
    assert rep["rows_deleted"] == 2
    assert [r.id for r in t.scan().collect()] == [2]


def test_rollback_across_pos_commit(spark, tmp_path):
    t = make_table(spark, tmp_path, "rb")
    v0 = t.head_version()
    delete_where_mor(t, filters=[("g", "=", 1)])
    t.rollback(v0)
    assert t.count_rows() == 210 and t.scan().count() == 210


# ----------------------------------------------------------------- CDF


def test_cdf_delete_pos_emits_deletes(spark, tmp_path):
    from datastream_deltalake_connector_spark.operators.changes import (
        table_changes,
    )

    t = make_table(spark, tmp_path, "cdfd")
    v0 = t.head_version()
    delete_where_mor(t, filters=[("g", "=", 6)])
    feed = table_changes(t, v0, t.head_version(), key="id")
    rows = feed.select("id", "_change_type").collect()
    assert len(rows) == 30
    assert {r._change_type for r in rows} == {"delete"}
    assert {r.id % 7 for r in rows} == {6}


def test_cdf_update_mor_emits_pre_and_post(spark, tmp_path):
    from datastream_deltalake_connector_spark.operators.changes import (
        table_changes,
    )

    t = make_table(spark, tmp_path, "cdfu")
    v0 = t.head_version()
    update_where_mor(t, {"v": "concat(v, '_u')"}, filters=[("id", "=", 42)])
    feed = table_changes(t, v0, t.head_version(), key="id")
    got = {(r._change_type, r.v) for r in feed.select("_change_type", "v").collect()}
    assert got == {("update_preimage", "v42"), ("update_postimage", "v42_u")}


# ----------------------------------------------------------- datasource


def test_datasource_read_resolves_positions(spark, tmp_path):
    from datastream_deltalake_connector_spark.sources.pyds import register

    t = make_table(spark, tmp_path, "ds")
    delete_where_mor(t, filters=[("g", "=", 3)])
    update_where_mor(t, {"v": "'ds_u'"}, filters=[("id", "=", 100)])
    register(spark)
    got = (
        spark.read.format("icepack")
        .option("path", t.root)
        .load()
        .select("id", "g", "v")
        .collect()
    )
    assert len(got) == 180
    assert not any(r.g == 3 for r in got)
    assert [r.v for r in got if r.id == 100] == ["ds_u"]
