"""The one live-row read path: file pruning (``IcepackTable.prune_files``)
and pending-delete resolution (``read_live`` / ``read_with_positions`` /
``delete_hit_candidates``) are decided in ``table/icepack.py`` only, and
every reader — ``scan``, the ``icepack`` data source, row-level DML —
gets the same answer from them."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from datastream_deltalake_connector_spark.operators.copy_into import copy_into
from datastream_deltalake_connector_spark.operators.generic_merge import merge_into
from datastream_deltalake_connector_spark.operators.mor import merge_into_table_mor
from datastream_deltalake_connector_spark.operators.rowops import (
    delete_where,
    delete_where_mor,
    update_where,
)
from datastream_deltalake_connector_spark.sources.pyds import (
    IcepackBatchReader,
    register,
)
from datastream_deltalake_connector_spark.table import IcepackTable
from datastream_deltalake_connector_spark.table.transforms import Transform

PKG = Path(__file__).resolve().parents[1] / "datastream_deltalake_connector_spark"


def test_delete_resolution_lives_only_in_icepack_table():
    """A second copy of the delete-resolving read cannot come back
    unnoticed: only table/icepack.py may name the resolvers or read
    parquet row addresses."""
    owner = PKG / "table" / "icepack.py"
    needles = (
        "_scan_with_deletes",
        "_scan_with_pos_deletes",
        "_metadata.row_index",
        "_metadata.file_path",
    )
    offenders = [
        f"{path.relative_to(PKG)}: {needle}"
        for path in sorted(PKG.rglob("*.py"))
        if path != owner
        for needle in needles
        if needle in path.read_text()
    ]
    assert not offenders, offenders


def _keyed(spark, n=4000):
    return (
        spark.range(0, n)
        .select(
            # hash-like keys: every file's [min, max] spans the key domain,
            # so only the Bloom filters can tell the files apart
            F.sha1(F.col("id").cast("string")).alias("image_id"),
            (F.col("id") % 100).cast("int").alias("v"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
                "datastream_metadata_source_timestamp"
            ),
            F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
        )
        .repartition(16)
    )


def test_pyds_ships_eq_deletes_only_to_bloom_refined_files(spark, tmp_path):
    register(spark)
    base = _keyed(spark)
    t = IcepackTable.create(
        spark, str(tmp_path / "bloomed"), base.schema, bloom_cols=["image_id"]
    )
    t.append(base, num_files=16)
    # the lowest and highest keys: the tombstone file's range spans the
    # whole key domain, so ranges alone ship it to every older file
    bounds = base.agg(F.min("image_id"), F.max("image_id")).first()
    victims = list(bounds)
    batch = spark.createDataFrame([(k,) for k in victims], ["image_id"]).select(
        "image_id",
        F.lit(999).cast("int").alias("v"),
        F.lit("UPSERT").alias("change_type"),
        F.lit(True).alias("is_deleted"),
        F.to_timestamp(F.lit("2024-06-01 00:00:00")).alias("source_timestamp"),
        F.lit(1).cast("long").alias("change_seq"),
    )
    merge_into_table_mor(t, batch, key="image_id")

    data = [e for e in t.files() if e.content == "data"]
    dels = [e for e in t.files() if e.content == "eq_deletes"]
    ranged = [
        e
        for e in data
        if any(d.seq > e.seq and t._ranges_overlap(e, d, ["image_id"]) for d in dels)
    ]
    hit = t.delete_hit_candidates(data, dels, ["image_id"])
    assert len(hit) < len(ranged)  # the Bloom filters dropped some files

    reader = IcepackBatchReader({"path": t.root}, t.schema())
    shipped = {p.path: set(p.delete_paths) for p in reader.partitions() if p.delete_paths}
    assert shipped == {
        t.data_path(path): {t.data_path(d.path) for d in ds} for path, ds in hit.items()
    }

    got = spark.read.format("icepack").option("path", t.root).load()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, t.scan().collect()))
    assert got.where(F.col("image_id").isin(victims)).count() == 0


def _bucketed_and_twin(spark, tmp_path):
    df = spark.range(0, 200).select(
        "id",
        F.concat(F.lit("u"), F.col("id")).alias("uid"),
        (F.col("id") * 1.0).alias("v"),
    )
    part = IcepackTable.create(
        spark,
        str(tmp_path / "bkt"),
        df.schema,
        partition_by=["bucket(4, uid)", "bucket(4, id)"],
    )
    part.append(df, num_files=1)  # one file per bucket pair
    twin = IcepackTable.create(spark, str(tmp_path / "twin"), df.schema)
    twin.append(df, num_files=4)
    return part, twin


def _rows(t):
    return sorted(map(tuple, t.scan().collect()))


def test_dml_prunes_on_bucket_transform(spark, tmp_path):
    """DELETE and UPDATE on a bucket(...) source column skip the buckets
    that cannot hold the value, beyond what the files' uid ranges prove."""
    part, twin = _bucketed_and_twin(spark, tmp_path)

    def stats_pruned(filters):
        data = [e for e in part.files() if e.content == "data"]
        return sum(
            not all(e.may_match(c, op, v) for c, op, v in filters) for e in data
        )

    eq = [("uid", "=", "u17")]
    floor = stats_pruned(eq)
    rep = delete_where(part, eq)
    delete_where(twin, eq)
    assert rep["files_pruned"] > floor and rep["rows_deleted"] == 1
    assert _rows(part) == _rows(twin)

    isin = [("uid", "in", ["u3", "u5"])]
    floor = stats_pruned(isin)
    rep = update_where(part, {"v": "v + 1000"}, isin)
    update_where(twin, {"v": "v + 1000"}, isin)
    assert rep["files_pruned"] > floor and rep["rows_updated"] == 2
    assert _rows(part) == _rows(twin)


def _upsert_one_insert_one(t):
    src = t.spark.createDataFrame(
        [(5, "u5", 555.0), (500, "u500", 1.0)], "id long, uid string, v double"
    )
    return merge_into(
        t,
        src,
        "id",
        matched=[{"action": "update", "condition": None, "set": "*"}],
        not_matched=[{"action": "insert", "condition": None, "values": "*"}],
    )


def _copy_two_rows(t):
    src = t.root + "-drop"
    t.spark.createDataFrame(
        [(300, "u300", 3.0), (301, "u301", 3.5)], "id long, uid string, v double"
    ).coalesce(1).write.parquet(src + "/a")
    return copy_into(t, src)


@pytest.mark.parametrize(
    "dml",
    [
        lambda t: delete_where(t, [("id", "=", 11.0)]),
        lambda t: update_where(t, {"v": "v + 1000"}, [("v", "<", 30.0)]),
        _upsert_one_insert_one,
        _copy_two_rows,
    ],
    ids=["delete_where", "update_where", "merge_into", "copy_into"],
)
def test_every_writer_keeps_the_partition_layout(spark, tmp_path, dml):
    """The table's partition spec is applied by the writer itself, so no
    DML can forget it: every data file stays under its bucket pair."""
    part, twin = _bucketed_and_twin(spark, tmp_path)
    dml(part)
    dml(twin)
    data = [e for e in part.files() if e.content == "data"]
    assert data and all(e.partition for e in data)
    assert _rows(part) == _rows(twin)


@pytest.mark.parametrize(
    "dml",
    [
        lambda t: delete_where(t, [("id", "=", "018")]),
        lambda t: delete_where(t, [("id", "=", 18)]),
        lambda t: update_where(t, {"v": "v + 1000"}, [("v", "=", 18.0)]),
    ],
    ids=["string-probe", "int-probe", "update"],
)
def test_cow_dml_rewrites_only_the_file_holding_the_match(spark, tmp_path, dml):
    """Candidates that survive pruning but hold no matching row are left
    alone: one matching row, one rewritten file."""
    part, twin = _bucketed_and_twin(spark, tmp_path)
    before = {e.path for e in part.files()}
    rep = dml(part)
    dml(twin)
    assert rep["files_rewritten"] == 1
    assert len(before - {e.path for e in part.files()}) == 1
    assert _rows(part) == _rows(twin)


def test_delete_keeps_later_pruning_intact(spark, tmp_path):
    """A rewritten file keeps its bucket pair, so a later DML on the other
    bucketed column prunes as much as on the untouched table."""
    part, _twin = _bucketed_and_twin(spark, tmp_path)
    eq = [("uid", "=", "u17")]
    data = [e for e in part.files() if e.content == "data"]
    fresh = len(data) - len(part.prune_files(data, eq, part.schema()))
    delete_where(part, [("id", "=", 18)])
    rep = update_where(part, {"v": "v + 1000"}, eq)
    assert rep["rows_updated"] == 1 and rep["files_pruned"] == fresh


def test_cow_delete_of_shadowed_rows_commits_nothing(spark, tmp_path):
    """The locate step reads through pending positional deletes: a CoW
    delete whose only match is already pos-deleted writes no file and
    leaves the head where it was."""
    part, _twin = _bucketed_and_twin(spark, tmp_path)
    delete_where_mor(part, [("id", "=", 5)])
    head = part.head_version()
    files = {e.path for e in part.files()}
    rep = delete_where(part, [("id", "=", 5)])
    assert rep["version"] is None and rep["rows_deleted"] == 0
    assert part.head_version() == head
    assert {e.path for e in part.files()} == files


def test_files_holding_refuses_rows_of_an_unnamed_file(spark, tmp_path):
    """A row whose file URI maps to none of the entries fails loudly
    instead of dropping out of the hit set."""
    part, _twin = _bucketed_and_twin(spark, tmp_path)
    a, b = [e for e in part.files() if e.content == "data"][:2]
    rows = part.read_with_positions([b], part.schema())
    assert part.files_holding([b], rows) == {b.path: b.rows}
    with pytest.raises(RuntimeError, match="URI mapping"):
        part.files_holding([a], rows)


def test_bucket_prunes_only_on_probes_with_the_column_text(spark, tmp_path):
    """Spark matches '0<n>' and 11.0 with the bigints n and 11, but their
    str() hashes to other buckets: DELETE must not prune the row's file."""
    bkt = Transform("bucket", "id", 4)
    n = next(n for n in range(20, 200) if bkt.value(f"0{n}") != bkt.value(n))
    for i, probe in enumerate((f"0{n}", 11.0)):
        part, twin = _bucketed_and_twin(spark, tmp_path / str(i))
        assert part.scan(filters=[("id", "=", probe)]).count() == 1
        rep = delete_where(part, [("id", "=", probe)])
        delete_where(twin, [("id", "=", probe)])
        assert rep["rows_deleted"] == 1
        assert _rows(part) == _rows(twin)


def test_truncate_prunes_only_on_probes_with_the_column_text(spark, tmp_path):
    """truncate(3, id) slices the bigint's text: the probe 11.0 slices to
    '11.' and '011' to '011', yet Spark matches both with the row 11 (its
    partition value is '11'). DELETE and UPDATE must not prune that file."""
    df = spark.createDataFrame(
        [(i, i * 1.0) for i in [11] + list(range(1000, 1040))], "id long, v double"
    )
    part = IcepackTable.create(
        spark, str(tmp_path / "trunc"), df.schema, partition_by=["truncate(3, id)"]
    )
    part.append(df)
    twin = IcepackTable.create(spark, str(tmp_path / "twin"), df.schema)
    twin.append(df, num_files=4)

    rep = update_where(part, {"v": "v + 1000"}, [("id", "=", 11.0)])
    update_where(twin, {"v": "v + 1000"}, [("id", "=", 11.0)])
    assert rep["rows_updated"] == 1
    assert _rows(part) == _rows(twin)
    rep = delete_where(part, [("id", "=", "011")])
    delete_where(twin, [("id", "=", "011")])
    assert rep["rows_deleted"] == 1
    assert _rows(part) == _rows(twin)


def test_bloom_prunes_only_on_probes_of_the_column_kind(spark, tmp_path):
    """A bigint key's Bloom filter hashed the text "17"; Spark matches the
    probe '017' with 17, so the filter must not be asked about '017'."""
    df = spark.range(0, 40).select("id", (F.col("id") * 1.0).alias("v"))
    t = IcepackTable.create(
        spark, str(tmp_path / "bl"), df.schema, bloom_cols=["id"]
    )
    t.append(df, num_files=1)
    assert t.scan(filters=[("id", "=", "017")]).count() == 1
    assert delete_where(t, [("id", "=", "017")])["rows_deleted"] == 1


def test_pyds_refuses_eq_deletes_without_key_columns(spark, tmp_path):
    """Equality deletes with no recorded key are corrupt metadata: the
    data source raises as scan() does instead of returning shadowed rows."""
    df = _keyed(spark, 40)
    t = IcepackTable.create(spark, str(tmp_path / "t"), df.schema)
    t.append(df, num_files=1)
    reader = IcepackBatchReader({"path": t.root}, t.schema())
    reader.deletes = t.files()  # stand-in delete files
    assert reader.eq_cols == ()
    with pytest.raises(ValueError, match="corrupt metadata"):
        reader.partitions()


def test_identity_partition_values_never_mis_prune(spark, tmp_path):
    """Spark hive-escapes identity partition directories (``true``,
    ``a%3Ab``): pruning must not compare them with ``str(value)``, or a
    scan finds nothing and a DELETE silently deletes nothing."""
    df = spark.range(0, 20).select(
        "id",
        (F.col("id") % 2 == 0).alias("flag"),
        F.when(F.col("id") % 2 == 0, F.lit("a:b")).otherwise(F.lit("c d")).alias("s"),
    )
    for col, value in (("flag", True), ("s", "a:b")):
        t = IcepackTable.create(
            spark, str(tmp_path / col), df.schema, partition_by=[col]
        )
        t.append(df)
        assert t.scan(filters=[(col, "=", value)]).count() == 10
        rep = delete_where(t, [(col, "=", value)])
        assert rep["rows_deleted"] == 10 and rep["files_pruned"] > 0
        assert t.scan().where(F.col(col) == value).count() == 0
