"""Table-format core: create → append → scan roundtrip, manifest pruning,
schema evolution, CAS conflicts, snapshot pinning."""

from __future__ import annotations

import os
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datastream_deltalake_connector_spark.table import ConflictError, IcepackTable
from datastream_deltalake_connector_spark.table.icepack import FileEntry

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def make_df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.format_string("k%05d", F.col("id")).alias("k"), F.col("id").alias("v")
    )


def test_create_append_scan_roundtrip(spark, tmp_path):
    t = IcepackTable.create(spark, str(tmp_path / "t"), SCHEMA)
    assert t.head_version() == 0
    assert t.scan().count() == 0
    v1 = t.append(make_df(spark, 0, 100), num_files=2)
    assert v1 == 1
    df = t.scan()
    assert df.count() == 100
    assert sorted(r["v"] for r in df.collect()) == list(range(100))
    entries = t.files()
    assert len(entries) == 2
    assert sum(e.rows for e in entries) == 100
    for e in entries:
        assert e.stats["k"]["min"] is not None
        assert e.bytes > 0


def test_manifest_pruning_skips_files(spark, tmp_path):
    t = IcepackTable.create(spark, str(tmp_path / "t"), SCHEMA)
    # three appends with disjoint key ranges → three files with tight stats
    for lo in (0, 100, 200):
        t.append(make_df(spark, lo, lo + 100), num_files=1)
    assert len(t.files()) == 3

    # equality inside the middle range must prune to 1 file
    pruned = [
        e
        for e in t.files()
        if e.may_match("k", "=", "k00150")
    ]
    assert len(pruned) == 1
    df = t.scan(filters=[("k", "=", "k00150")])
    assert df.count() == 1
    # range filter spanning two files
    pruned2 = [e for e in t.files() if e.may_match("v", "between", (90, 110))]
    assert len(pruned2) == 2
    assert t.scan(filters=[("v", "between", (90, 110))]).count() == 21


def test_schema_evolution_metadata_only(spark, tmp_path):
    t = IcepackTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(make_df(spark, 0, 10), num_files=1)
    new_schema = T.StructType(
        [SCHEMA.fields[0], SCHEMA.fields[1], T.StructField("extra", T.StringType())]
    )
    v = t.evolve_schema(new_schema)
    assert v == 2
    # old files readable through new schema: extra is null-filled
    df = t.scan()
    assert "extra" in df.columns
    assert df.where(F.col("extra").isNull()).count() == 10
    # evolving with same schema is a no-op
    assert t.evolve_schema(new_schema) is None
    # removed column stays (merge semantics): evolving with only (k) changes nothing
    assert t.evolve_schema(T.StructType([SCHEMA.fields[0]])) is None
    assert [f.name for f in t.schema().fields] == ["k", "v", "extra"]


def test_schema_evolution_none_strategy(spark, tmp_path):
    """'none' (reference: SchemaEvolutionStrategy.scala:15-26): evolution is
    forbidden — a batch adding columns fails loudly, a subset batch is fine."""
    from datastream_deltalake_connector_spark.table import SchemaEvolutionError

    t = IcepackTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(make_df(spark, 0, 5), num_files=1)
    wider = T.StructType(list(SCHEMA.fields) + [T.StructField("extra", T.StringType())])
    with pytest.raises(SchemaEvolutionError):
        t.evolve_schema(wider, strategy="none")
    assert t.evolve_schema(SCHEMA, strategy="none") is None
    assert t.evolve_schema(T.StructType([SCHEMA.fields[0]]), strategy="none") is None
    assert [f.name for f in t.schema().fields] == ["k", "v"]


def test_schema_evolution_overwrite_strategy(spark, tmp_path):
    """'overwrite': target schema replaced by the batch's — dropped columns
    disappear from scans, engine metadata columns are retained."""
    meta = T.StructField("datastream_metadata_source_timestamp", T.TimestampType())
    schema = T.StructType(list(SCHEMA.fields) + [meta])
    t = IcepackTable.create(spark, str(tmp_path / "t"), schema)
    df = make_df(spark, 0, 10).withColumn(
        "datastream_metadata_source_timestamp",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")),
    )
    t.append(df, num_files=1)
    narrow = T.StructType([SCHEMA.fields[0], T.StructField("nv", T.LongType())])
    v = t.evolve_schema(narrow, strategy="overwrite")
    assert v is not None
    names = [f.name for f in t.schema().fields]
    assert names == ["k", "nv", "datastream_metadata_source_timestamp"]
    back = t.scan()
    assert "v" not in back.columns  # dropped column no longer read
    assert back.where(F.col("nv").isNull()).count() == 10  # old files null-fill
    assert back.select("k").distinct().count() == 10
    # same schema again is a no-op
    assert t.evolve_schema(narrow, strategy="overwrite") is None
    with pytest.raises(ValueError):
        t.evolve_schema(narrow, strategy="bogus")


def test_cas_conflict_detection(spark, tmp_path):
    t = IcepackTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(make_df(spark, 0, 10))
    with pytest.raises(ConflictError):
        t.commit("overwrite", expected_parent=0)  # HEAD moved to 1


def test_snapshot_pinning_isolation(spark, tmp_path):
    t = IcepackTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(make_df(spark, 0, 50), num_files=1)
    v1 = t.head_version()
    old_rows = sorted(r["v"] for r in t.scan(version=v1).collect())
    # overwrite everything (like a compaction/merge would)
    t.overwrite_all(make_df(spark, 1000, 1100), num_files=1)
    # pinned reader still sees version 1's exact data
    assert sorted(r["v"] for r in t.scan(version=v1).collect()) == old_rows
    assert sorted(r["v"] for r in t.scan().collect()) == list(range(1000, 1100))


def test_file_entry_may_match_edge_cases():
    e = FileEntry(path="p", bytes=1, rows=1, stats={"k": {"min": "b", "max": "d"}})
    assert e.may_match("k", "=", "c")
    assert not e.may_match("k", "=", "a")
    assert not e.may_match("k", ">", "d") is True or True  # hi > value check
    assert e.may_match("k", ">=", "d")
    assert not e.may_match("k", ">", "d")
    assert e.may_match("k", "<", "c")
    assert not e.may_match("k", "<", "b")
    assert e.may_match("missing_col", "=", 5)  # no stats → conservative
    assert e.may_match("k", "between", ("a", "b"))
    assert not e.may_match("k", "between", ("e", "f"))


def test_executor_footer_stats_match_driver(spark, tmp_path):
    """All three footer-stat paths — executor fan-out, driver thread pool
    (>8 files, the sub-threshold default), and serial driver — must produce
    byte-identical manifest entries (same order, same stats, same rounding)."""
    import os
    from dataclasses import asdict

    from datastream_deltalake_connector_spark.sources.generator import (
        MERGED_IMAGE_SCHEMA,
        generate_images,
    )
    from pyspark.sql import functions as F

    root = str(tmp_path / "exec-stats" / "images")
    t = IcepackTable.create(spark, root, MERGED_IMAGE_SCHEMA)
    df = generate_images(spark, 120, num_partitions=4).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    entries = t.write_data_files(df, num_files=20)
    stage_rel = os.path.dirname(entries[0].path)
    # use_executors=False with 20 files exercises the THREAD-POOL path
    via_threads = t.collect_file_entries(stage_rel, use_executors=False)
    via_exec = t.collect_file_entries(stage_rel, use_executors=True)
    assert [asdict(e) for e in via_threads] == [asdict(e) for e in via_exec]
    assert len(via_threads) == 20
    assert via_threads == sorted(via_threads, key=lambda e: e.path)
    # SERIAL path (<=8 files) on a second staging: must match the executor
    # fan-out byte for byte as well
    small = t.write_data_files(df.limit(30), num_files=6)
    small_rel = os.path.dirname(small[0].path)
    via_serial = t.collect_file_entries(small_rel, use_executors=False)
    via_exec2 = t.collect_file_entries(small_rel, use_executors=True)
    assert [asdict(e) for e in via_serial] == [asdict(e) for e in via_exec2]
    assert 0 < len(via_serial) <= 8


def test_metadata_only_count_and_describe(spark, tmp_path):
    """count_rows/describe answer from manifests alone and stay exact
    across append, merge-style overwrite, and version pinning."""
    t = IcepackTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(make_df(spark, 0, 100), num_files=3)
    v1 = t.head_version()
    assert t.count_rows() == 100 == t.scan().count()
    t.append(make_df(spark, 100, 130), num_files=1)
    assert t.count_rows() == 130 == t.scan().count()
    assert t.count_rows(version=v1) == 100  # pinned snapshot count
    d = t.describe()
    assert d["files"] == 4 and d["rows"] == 130 and d["columns"] == 2
    assert d["file_bytes_min"] <= d["file_bytes_p50"] <= d["file_bytes_max"]
    assert d["bytes"] == sum(e.bytes for e in t.files())


def test_partitioned_table_layout_prune_and_compact(spark, tmp_path):
    """Hive-layout partitioning: partition columns stay IN the data files
    (self-describing files, exact min==max stats pruning), the directory
    layout is clean `col=val/`, and compaction never mixes partitions."""
    import json as _json

    from pyspark.sql import functions as F

    from datastream_deltalake_connector_spark.operators.compaction import compact

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    root = str(tmp_path / "ptab")
    t = IcepackTable.create(spark, root, schema, partition_by=["fmt"])
    assert t.partition_spec() == ["fmt"]
    df = spark.range(200).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "png").otherwise("jpeg").alias("fmt"),
        (F.col("id") * 1.5).alias("v"),
    )
    t.append(df, num_files=3)

    # layout: clean hive dirs, no __p_ residue; manifest carries partitions
    entries = t.files()
    assert all(e.partition.get("fmt") in ("png", "jpeg") for e in entries)
    assert all("/fmt=" in e.path and "__p_" not in e.path for e in entries)
    assert {e.partition["fmt"] for e in entries} == {"png", "jpeg"}

    # self-describing data files: full scan has the column, correct values
    full = t.scan()
    assert full.count() == 200
    assert full.where(F.col("fmt") == "png").count() == 100

    # partition predicate prunes at the MANIFEST level (before Spark)
    pruned = [
        e for e in entries
        if all(e.may_match("fmt", "=", "png") for _ in [0])
    ]
    assert 0 < len(pruned) < len(entries)
    got = t.scan(filters=[("fmt", "=", "png")])
    assert got.count() == 100 and got.where(F.col("fmt") != "png").count() == 0

    # compaction groups bins per partition: outputs stay single-partition
    v = compact(t, target_bytes=512 * 1024 * 1024)
    assert v is not None
    after = t.files()
    assert all(e.partition.get("fmt") in ("png", "jpeg") for e in after)
    assert len(after) < len(entries)
    assert t.scan().count() == 200
    # files_df exposes the partition values
    pj = [
        _json.loads(r["partition_json"]) for r in t.files_df().collect()
    ]
    assert {p["fmt"] for p in pj} == {"png", "jpeg"}


def test_cluster_preserves_partition_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    from datastream_deltalake_connector_spark.operators.clustering import cluster

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("phash", T.LongType()),
            T.StructField("fmt", T.StringType()),
        ]
    )
    root = str(tmp_path / "pclu")
    t = IcepackTable.create(spark, root, schema, partition_by=["fmt"])
    df = spark.range(120).select(
        F.concat(F.lit("img-"), F.col("id")).alias("image_id"),
        (F.col("id") * 2654435761).alias("phash"),
        F.when(F.col("id") % 3 == 0, "png").otherwise("jpeg").alias("fmt"),
    )
    t.append(df, num_files=2)
    v = cluster(t, num_files=2)
    assert v == t.head_version()
    after = t.files()
    assert after and all(e.partition.get("fmt") in ("png", "jpeg") for e in after)
    assert t.scan().count() == 120
    assert t.scan(filters=[("fmt", "=", "png")]).count() == 40


def test_concurrent_unpinned_commits_serialize(spark, tmp_path):
    """Two unpinned committers race: the CAS lock + parent re-resolution
    serializes them — both land, on distinct consecutive versions, and the
    final manifest is the union of both additions."""
    from concurrent.futures import ThreadPoolExecutor

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    root = str(tmp_path / "race")
    t = IcepackTable.create(spark, root, schema)
    df1 = spark.range(10).select(F.col("id"), (F.col("id") * 1.0).alias("v"))
    df2 = spark.range(10, 25).select(F.col("id"), (F.col("id") * 2.0).alias("v"))
    e1 = t.write_data_files(df1)
    e2 = t.write_data_files(df2)

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(t.commit, "append", e1)
        f2 = pool.submit(t.commit, "append", e2)
        v1, v2 = f1.result(), f2.result()
    assert sorted([v1, v2]) == [1, 2]
    assert t.count_rows() == 25
    assert t.scan().count() == 25


def test_merge_preserves_partition_layout(spark, tmp_path):
    from datastream_deltalake_connector_spark.operators.table_merge import (
        merge_into_table,
    )
    from datastream_deltalake_connector_spark.sources.generator import (
        MERGED_IMAGE_SCHEMA,
        generate_change_batch,
        generate_images,
    )

    root = str(tmp_path / "pmrg")
    t = IcepackTable.create(spark, root, MERGED_IMAGE_SCHEMA, partition_by=["fmt"])
    base = generate_images(spark, 80, num_partitions=2).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    t.append(base, num_files=2)
    batch = generate_change_batch(
        spark, 80, batch_index=0, updates=10, inserts=5, deletes=5, num_partitions=2
    )
    v = merge_into_table(t, batch)
    assert v == t.head_version()
    after = t.files()
    assert after and all(e.partition.get("fmt") for e in after)
    assert t.scan().count() == 80  # 80 + 5 - 5
    fmts = {e.partition["fmt"] for e in after}
    assert fmts and fmts <= {"png", "jpeg"}


def test_footer_entry_and_overwrite_keep_partitions(spark, tmp_path):
    """Resume paths rebuild entries via _footer_entry and overwrite_all
    rewrites the whole table: both must preserve hive partition values."""
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("fmt", T.StringType())]
    )
    root = str(tmp_path / "pfoot")
    t = IcepackTable.create(spark, root, schema, partition_by=["fmt"])
    df = spark.range(40).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "png").otherwise("jpeg").alias("fmt"),
    )
    t.append(df, num_files=1)
    e = t.files()[0]
    rebuilt = t._footer_entry(
        os.path.join(t.root, e.path), e.path, set(t.stats_cols())
    )
    assert rebuilt.partition == e.partition and rebuilt.partition

    t.overwrite_all(df.where(F.col("id") < 20), num_files=1)
    after = t.files()
    assert after and all(e.partition.get("fmt") in ("png", "jpeg") for e in after)
    assert t.scan().count() == 20


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """Delta TIMESTAMP AS OF parity: version_as_of resolves the FLOOR
    snapshot, scan(as_of_timestamp_ms=...) reads it, pre-creation reads
    fail loudly, and version/as_of are mutually exclusive."""
    import time as _time

    t = IcepackTable.create(spark, str(tmp_path / "t"), SCHEMA)
    for lo in (0, 100, 200):
        t.append(make_df(spark, lo, lo + 100), num_files=1)
        _time.sleep(0.02)  # commits land in the same ms otherwise

    snaps = t.snapshots()
    assert [s.version for s in snaps] == [0, 1, 2, 3]
    for s in snaps:
        # exactly at a commit timestamp → that commit (floor, inclusive)
        assert t.version_as_of(s.timestamp_ms) >= s.version
    # strictly between v1 and v2 commit times → v1
    mid = (snaps[1].timestamp_ms + snaps[2].timestamp_ms) // 2
    if snaps[1].timestamp_ms < mid < snaps[2].timestamp_ms:
        assert t.version_as_of(mid) == 1
        assert t.scan(as_of_timestamp_ms=mid).count() == 100
    # far future → head; far past → loud error
    assert t.version_as_of(snaps[-1].timestamp_ms + 10_000) == 3
    with pytest.raises(ValueError, match="no snapshot exists"):
        t.version_as_of(snaps[0].timestamp_ms - 10_000)
    with pytest.raises(ValueError, match="not both"):
        t.scan(version=1, as_of_timestamp_ms=mid)
    # pinned-timestamp read sees history, not HEAD
    assert t.scan(as_of_timestamp_ms=snaps[1].timestamp_ms).count() in (100, 200, 300)
    assert t.scan().count() == 300


def test_scan_cli_version_and_as_of(spark, tmp_path, capsys):
    import json as _json

    from datastream_deltalake_connector_spark.jobs import main

    root = str(tmp_path / "t")
    t = IcepackTable.create(spark, root, SCHEMA)
    t.append(make_df(spark, 0, 50), num_files=1)
    v1 = t.head_version()
    t.append(make_df(spark, 50, 150), num_files=1)

    def run(*argv):
        assert main(list(argv)) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    out = run("scan", "--table", root, "--version", str(v1))
    assert (out["rows"], out["version"]) == (50, v1)
    out = run("scan", "--table", root)
    assert (out["rows"], out["version"]) == (150, t.head_version())
    out = run("scan", "--table", root, "--as-of-ms",
              str(t.snapshot(v1).timestamp_ms))
    assert out["rows"] in (50, 150) and out["version"] >= v1


def test_decimal_column_appends_scans_and_deletes(spark, tmp_path):
    """A decimal column records no footer min/max (pyarrow cannot convert
    Spark's int-backed decimal bounds, and as text they would compare
    wrongly), so it never prunes — but append, filtered scan and DELETE on
    it all work."""
    from decimal import Decimal

    from datastream_deltalake_connector_spark.operators.rowops import delete_where

    df = spark.createDataFrame(
        [(i, Decimal(f"{i}.25")) for i in range(10)], "id bigint, d decimal(10,2)"
    )
    t = IcepackTable.create(spark, str(tmp_path / "dec"), df.schema)
    t.append(df, num_files=2)
    assert all((e.stats.get("d") or {}).get("min") is None for e in t.files())
    got = t.scan(filters=[("d", ">=", Decimal("5.25"))]).select("id").collect()
    assert sorted(r.id for r in got) == [5, 6, 7, 8, 9]
    rep = delete_where(t, [("d", "<", Decimal("3.00"))])
    assert rep["rows_deleted"] == 3
    assert sorted(r.id for r in t.scan().select("id").collect()) == list(range(3, 10))
