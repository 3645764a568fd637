"""icepack as a registered Spark data source (sources/pyds.py, PySpark 4
Python DataSource API): batch reads with filter pushdown driving manifest
pruning, executor-side merge-on-read resolution, schema-evolution null-fill,
version/ref/timestamp pinning — and the streaming source with exactly-once
checkpoint resume and Delta-parity non-append handling."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import StreamingQueryException

from datastream_deltalake_connector_spark.operators.compaction import compact
from datastream_deltalake_connector_spark.operators.mor import merge_into_table_mor
from datastream_deltalake_connector_spark.operators.rowops import delete_where
from datastream_deltalake_connector_spark.sources.pyds import register
from datastream_deltalake_connector_spark.table import IcepackTable


@pytest.fixture(autouse=True)
def _register(spark):
    register(spark)


def simple_table(spark, tmp_path, name="ds", n=200, partition_by=None):
    df = spark.range(0, n).select(
        "id",
        F.concat(F.lit("u"), F.col("id")).alias("uid"),
        (F.col("id") * 1.0).alias("v"),
    )
    t = IcepackTable.create(
        spark, str(tmp_path / name), df.schema, partition_by=partition_by
    )
    t.append(df, num_files=4)
    return t, df


def read(spark, t, **options):
    r = spark.read.format("icepack").option("path", t.root)
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


def test_batch_read_matches_scan(spark, tmp_path):
    t, _ = simple_table(spark, tmp_path)
    got = read(spark, t)
    assert got.count() == 200
    assert got.schema == t.schema()
    assert {r.id for r in got.collect()} == {r.id for r in t.scan().collect()}


def test_version_ref_timestamp_options(spark, tmp_path):
    t, df = simple_table(spark, tmp_path, name="pin")
    v1 = t.head_version()
    ts1 = t.snapshot(v1).timestamp_ms
    t.create_tag("run1")
    t.append(df.limit(10))
    assert read(spark, t).count() == 210
    assert read(spark, t, version=v1).count() == 200
    assert read(spark, t, ref="run1").count() == 200
    assert read(spark, t, timestampAsOf=ts1).count() == 200
    with pytest.raises(Exception, match="at most one"):
        read(spark, t, version=v1, ref="run1").count()


def test_filter_pushdown_prunes_partitions(spark, tmp_path):
    """One load() per logical query — Spark 4.1 caches the planned (pruned)
    scan on the relation node, so sibling queries off one load() would share
    the first query's pruning (upstream Python-data-source sharp edge)."""
    t, _ = simple_table(
        spark, tmp_path, name="prune", partition_by=["bucket(4, uid)"]
    )
    n_all = read(spark, t).rdd.getNumPartitions()
    flt = read(spark, t).where("uid = 'u17'")
    assert flt.count() == 1
    # bucket transform + string min/max both engage through pushFilters
    assert flt.rdd.getNumPartitions() < n_all
    # pushdown is conservative-only: Spark still row-filters
    assert read(spark, t).where("uid = 'nope'").count() == 0
    # fresh-load pattern: an unfiltered read after a filtered one is FULL
    assert read(spark, t).count() == 200


def test_register_enables_pushdown_on_plain_session(spark, tmp_path):
    """Python data-source filter pushdown is off in a plain SparkSession,
    and Spark then refuses to read a source implementing pushFilters;
    register() turns it on, so reads and file pruning work without
    session.py's confs."""
    conf = "spark.sql.python.filterPushdown.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        register(spark)
        assert spark.conf.get(conf) == "true"
        t, _ = simple_table(
            spark, tmp_path, name="plain", partition_by=["bucket(4, uid)"]
        )
        n_all = read(spark, t).rdd.getNumPartitions()
        flt = read(spark, t).where("uid = 'u17'")
        assert flt.rdd.getNumPartitions() < n_all
        assert flt.count() == 1
    finally:
        spark.conf.set(conf, prev)


def test_schema_evolution_null_fill(spark, tmp_path):
    t, df = simple_table(spark, tmp_path, name="evo", n=50)
    evolved = df.limit(5).withColumn("extra", F.lit("x"))
    t.evolve_schema(evolved.schema)
    t.append(evolved)
    got = read(spark, t)
    assert got.count() == 55
    assert got.where("extra IS NULL").count() == 50  # old files null-filled
    assert got.where("extra = 'x'").count() == 5


def test_mor_resolution_executor_side(spark, tmp_path):
    base = spark.range(0, 100).select(
        "id",
        F.to_timestamp(F.lit("2024-01-01")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
        (F.col("id") * 1.0).alias("v"),
    )
    t = IcepackTable.create(spark, str(tmp_path / "mor"), base.schema)
    t.append(base, num_files=3)
    batch = spark.range(10, 25).select(
        "id",
        F.to_timestamp(F.lit("2024-01-02")).alias("source_timestamp"),
        F.lit(1).cast("long").alias("change_seq"),
        F.lit(True).alias("is_deleted"),
        F.lit(0.0).alias("v"),
    )
    merge_into_table_mor(t, batch, key="id")
    got = read(spark, t)
    assert got.count() == 85
    assert {r.id for r in got.collect()} == {r.id for r in t.scan().collect()}


def _drain(spark, t, out, ckpt, **options):
    r = spark.readStream.format("icepack").option("path", t.root)
    for k, v in options.items():
        r = r.option(k, v)
    q = (
        r.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_stream_exactly_once_resume(spark, tmp_path):
    t, df = simple_table(spark, tmp_path, name="st", n=50)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, t, out, ckpt, startingVersion=0)
    assert spark.read.parquet(out).count() == 50
    t.append(df.limit(10))
    t.append(df.limit(5))
    _drain(spark, t, out, ckpt, startingVersion=0)
    assert spark.read.parquet(out).count() == 65  # no re-reads, no gaps


def test_stream_default_starts_at_head(spark, tmp_path):
    t, df = simple_table(spark, tmp_path, name="sth", n=50)
    out, ckpt = str(tmp_path / "outh"), str(tmp_path / "ckpth")
    _drain(spark, t, out, ckpt)  # no startingVersion: only NEW commits
    assert not os.path.exists(out) or spark.read.parquet(out).count() == 0
    t.append(df.limit(7))
    _drain(spark, t, out, ckpt)
    assert spark.read.parquet(out).count() == 7


def test_stream_maintenance_transparent(spark, tmp_path):
    t, df = simple_table(spark, tmp_path, name="stm", n=50)
    out, ckpt = str(tmp_path / "outm"), str(tmp_path / "ckptm")
    _drain(spark, t, out, ckpt, startingVersion=0)
    compact(t, target_bytes=64 * 1024 * 1024)  # re-files existing rows
    _drain(spark, t, out, ckpt, startingVersion=0)
    assert spark.read.parquet(out).count() == 50  # compaction emitted nothing


def test_stream_metadata_commits_transparent(spark, tmp_path):
    """A constraint or partition-spec change touches no row: the stream
    reads the appends around it and fails on neither."""
    t, df = simple_table(spark, tmp_path, name="stk", n=50)
    out, ckpt = str(tmp_path / "outk"), str(tmp_path / "ckptk")
    _drain(spark, t, out, ckpt, startingVersion=0)
    t.add_check_constraint("id_nonneg", "id >= 0")
    t.set_partition_spec(["bucket(2, uid)"])
    t.append(df.limit(4))
    _drain(spark, t, out, ckpt, startingVersion=0)
    assert spark.read.parquet(out).count() == 54


def test_stream_non_append_fails_then_skip(spark, tmp_path):
    t, df = simple_table(spark, tmp_path, name="stc", n=50)
    out, ckpt = str(tmp_path / "outc"), str(tmp_path / "ckptc")
    _drain(spark, t, out, ckpt, startingVersion=0)
    delete_where(t, [("id", "<", 10)])  # rewrites/removes data files
    with pytest.raises(StreamingQueryException, match="append-only"):
        _drain(spark, t, out, ckpt, startingVersion=0)
    # Delta skipChangeCommits parity: ignore the change commit, keep going.
    # After a failed batch, availableNow first completes only the
    # WAL-recovered batch (stock Structured Streaming recovery) — the next
    # drain reads the new append.
    t.append(df.limit(3))
    _drain(spark, t, out, ckpt, startingVersion=0, skipChangeCommits=True)
    assert spark.read.parquet(out).count() == 50  # recovered batch: skipped
    _drain(spark, t, out, ckpt, startingVersion=0, skipChangeCommits=True)
    assert spark.read.parquet(out).count() == 53


def test_format_writer_append_overwrite_partitioned(spark, tmp_path):
    """df.write.format('icepack'): append + overwrite through the format,
    honoring the table's partition transforms — files written by the format
    writer must prune exactly like write_data_files' layout."""
    df = spark.range(0, 100).select(
        "id",
        F.concat(F.lit("u"), F.col("id")).alias("uid"),
        (F.col("id") * 1.0).alias("v"),
    )
    root = str(tmp_path / "w")
    t = IcepackTable.create(
        spark, root, df.schema, partition_by=["bucket(4, uid)"]
    )
    df.write.format("icepack").mode("append").option("path", root).save()
    assert t.count_rows() == 100 and t.snapshot().operation == "append"
    assert all("uid_bucket4" in e.partition for e in t.files())
    eq = t.scan(filters=[("uid", "=", "u17")])
    assert eq.count() == 1
    assert len(eq.inputFiles()) < len(t.files())  # transform pruning engages
    # round-trip: format writer -> format reader
    assert (
        spark.read.format("icepack").option("path", root).load().count() == 100
    )
    df.limit(10).write.format("icepack").mode("overwrite").option(
        "path", root
    ).save()
    assert t.count_rows() == 10 and t.snapshot().operation == "overwrite"


def test_format_writer_constraints_and_schema_guard(spark, tmp_path):
    df = spark.range(0, 20).select("id", (F.col("id") * 1.0).alias("v"))
    root = str(tmp_path / "wc")
    t = IcepackTable.create(spark, root, df.schema)
    t.add_check_constraint("v_pos", "v >= 0")
    head = t.head_version()
    with pytest.raises(Exception, match="v_pos"):
        df.withColumn("v", F.lit(-1.0)).write.format("icepack").mode(
            "append"
        ).option("path", root).save()
    assert t.head_version() == head and t.count_rows() == 0  # atomic abort
    n_files = sum(len(fs) for _, _, fs in os.walk(os.path.join(root, "data")))
    assert n_files == 0  # staged bytes reclaimed by abort
    with pytest.raises(Exception, match="does not match table"):
        df.drop("v").write.format("icepack").mode("append").option(
            "path", root
        ).save()
    df.write.format("icepack").mode("append").option("path", root).save()
    assert t.count_rows() == 20


def test_stream_writer_exactly_once_replay(spark, tmp_path):
    """The sink records committed micro-batch ids in the snapshot summary:
    a replayed batchId (query restart after offsets were written) discards
    the staged duplicate instead of double-committing."""
    import pyarrow as pa

    from datastream_deltalake_connector_spark.sources.pyds import (
        IcepackStreamWriter,
    )

    df = spark.range(0, 10).select("id", (F.col("id") * 1.0).alias("v"))
    root = str(tmp_path / "sw")
    t = IcepackTable.create(spark, root, df.schema)

    def run_batch(batch_id):
        w = IcepackStreamWriter({"path": root}, df.schema, overwrite=False)
        batch = pa.record_batch(
            {"id": pa.array([1, 2], pa.int64()), "v": pa.array([1.0, 2.0])}
        )
        msg = w.write(iter([batch]))
        w.commit([msg], batch_id)

    run_batch(0)
    assert t.count_rows() == 2
    run_batch(0)  # replay: must be a no-op
    assert t.count_rows() == 2
    run_batch(1)
    assert t.count_rows() == 4


def test_icepack_to_icepack_stream_pipeline(spark, tmp_path):
    """readStream icepack -> writeStream icepack: the table is both an
    exactly-once source and an exactly-once sink."""
    df = spark.range(0, 40).select("id", (F.col("id") * 1.0).alias("v"))
    src = IcepackTable.create(spark, str(tmp_path / "psrc"), df.schema)
    src.append(df)
    dst = IcepackTable.create(spark, str(tmp_path / "pdst"), df.schema)
    ckpt = str(tmp_path / "pckpt")

    def drain():
        q = (
            spark.readStream.format("icepack")
            .option("path", src.root)
            .option("startingVersion", 0)
            .load()
            .writeStream.format("icepack")
            .option("path", dst.root)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    assert dst.count_rows() == 40
    src.append(df.limit(7))
    drain()
    assert dst.count_rows() == 47
    head = dst.head_version()
    drain()  # idle drain: no data, no commit
    assert dst.count_rows() == 47 and dst.head_version() == head
