"""One Parquet writer profile (zstd pages, Parquet v2 page format) for every
file the engine writes, set on the writer rather than in the session conf,
plus compact metadata JSON.

These tests pin:

- a bare ``SparkSession.builder.getOrCreate()`` (no session.py confs) writes
  ZSTD data files, equality-delete files and ``icepack`` data-source files,
  with DELTA_BYTE_ARRAY keys in the Spark-written ones
- the profile wins over a session that asks for another codec
- a table mixing older snappy/v1 files with newer profile files answers
  scan, merge-on-read merge, apply_deletes and compact exactly like an
  all-snappy table
- parquet manifests use the profile; snapshot and JSON manifest files carry
  no indentation
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datastream_deltalake_connector_spark.operators.compaction import compact
from datastream_deltalake_connector_spark.operators.mor import (
    apply_deletes,
    merge_into_table_mor,
)
from datastream_deltalake_connector_spark.sources.generator import (
    MERGED_IMAGE_SCHEMA,
    generate_change_batch,
    generate_images,
)
from datastream_deltalake_connector_spark.table import IcepackTable
from datastream_deltalake_connector_spark.table import icepack

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_BASE = 120
LEGACY_OPTIONS = {"compression": "snappy", "parquet.writer.version": "v1"}


def footer(path: str, key: str | None = None) -> tuple[set, tuple]:
    """(codecs of every column chunk, encodings of ``key``'s first chunk)."""
    md = pq.ParquetFile(path).metadata
    codecs, enc = set(), ()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            codecs.add(col.compression)
            if col.path_in_schema == key and not enc:
                enc = col.encodings
    return codecs, enc


def table_codecs(t: IcepackTable) -> set:
    return set().union(*(footer(t.data_path(e.path))[0] for e in t.files()))


_BARE_SESSION_SCRIPT = textwrap.dedent(
    """
    import json, os, sys
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.builder.getOrCreate()
    from datastream_deltalake_connector_spark.operators.mor import (
        merge_into_table_mor,
    )
    from datastream_deltalake_connector_spark.sources.generator import (
        MERGED_IMAGE_SCHEMA, generate_change_batch, generate_images,
    )
    from datastream_deltalake_connector_spark.sources.pyds import register
    from datastream_deltalake_connector_spark.table import IcepackTable

    def chunks(path, key):
        md = pq.ParquetFile(path).metadata.row_group(0)
        cols = [md.column(i) for i in range(md.num_columns)]
        return {
            "codecs": sorted({c.compression for c in cols}),
            "key": [c.encodings for c in cols if c.path_in_schema == key][0],
        }

    root = sys.argv[1]
    t = IcepackTable.create(spark, os.path.join(root, "img"), MERGED_IMAGE_SCHEMA)
    t.append(
        generate_images(spark, 40, num_partitions=1).select(
            "*",
            F.to_timestamp(F.lit("2024-01-01")).alias(
                "datastream_metadata_source_timestamp"
            ),
            F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
        ),
        num_files=1,
    )
    merge_into_table_mor(
        t,
        generate_change_batch(
            spark, 40, batch_index=0, updates=5, inserts=3, deletes=4,
            num_partitions=1,
        ),
    )
    out = {"codec_conf": spark.conf.get("spark.sql.parquet.compression.codec")}
    for e in t.files():
        key = "__file" if e.content == "pos_deletes" else "image_id"
        out.setdefault(e.content, []).append(chunks(t.data_path(e.path), key))
    register(spark)
    ds_root = os.path.join(root, "ds")
    df = spark.range(0, 200).select(
        F.concat(F.lit("u"), F.col("id")).alias("uid"), "id"
    )
    ds = IcepackTable.create(spark, ds_root, df.schema)
    df.write.format("icepack").mode("append").option("path", ds_root).save()
    out["datasource"] = [chunks(ds.data_path(e.path), "uid") for e in ds.files()]
    print("PROFILE " + json.dumps(out))
    """
)


def test_bare_session_writes_engine_profile(tmp_path):
    """A session built without session.py's confs writes the same dense
    files: the writer options, not the session, choose the codec."""
    script = tmp_path / "bare.py"
    script.write_text(_BARE_SESSION_SCRIPT)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["PYSPARK_SUBMIT_ARGS"] = "--master local[2] pyspark-shell"
    proc = subprocess.run(
        [sys.executable, str(script), str(tmp_path)],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("PROFILE ")
    )
    out = json.loads(line[len("PROFILE "):])
    assert out["codec_conf"] == "snappy"  # the session default was left alone
    assert out["data"] and out["pos_deletes"] and out["datasource"]
    for kind in ("data", "pos_deletes", "datasource"):
        for f in out[kind]:
            assert f["codecs"] == ["ZSTD"], (kind, f)
    for f in out["data"]:
        assert "DELTA_BYTE_ARRAY" in f["key"], f
    # a delete file's few repeated paths stay dictionary-encoded, in the
    # v2 page format's RLE_DICTIONARY (v1 writes PLAIN_DICTIONARY)
    for f in out["pos_deletes"]:
        assert "RLE_DICTIONARY" in f["key"], f


def test_writer_profile_overrides_session_codec(spark, tmp_path):
    conf = "spark.sql.parquet.compression.codec"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "gzip")
    try:
        df = spark.range(0, 300).select(
            F.concat(F.lit("k-"), F.col("id")).alias("k"), "id"
        )
        t = IcepackTable.create(
            spark, str(tmp_path / "t"), df.schema, partition_by=["bucket(2, k)"]
        )
        t.append(df, num_files=2)
    finally:
        spark.conf.set(conf, prev)
    assert table_codecs(t) == {"ZSTD"}
    for e in t.files():
        _, enc = footer(t.data_path(e.path), "id")
        assert "DELTA_BINARY_PACKED" in enc


def fresh_table(spark, tmp_path, name):
    t = IcepackTable.create(spark, str(tmp_path / name), MERGED_IMAGE_SCHEMA)
    base = generate_images(spark, N_BASE, num_partitions=4).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    t.append(base, num_files=4)
    return t


def rows(t):
    return sorted((r.asDict() for r in t.scan().collect()), key=lambda r: r["image_id"])


def test_mixed_profile_table_matches_all_snappy(spark, tmp_path, monkeypatch):
    """Files written before the profile (snappy, v1 pages) and after it sit
    side by side in one table; every read and rewrite path resolves them
    like an all-snappy table."""
    batches = [
        generate_change_batch(
            spark, N_BASE, batch_index=i, updates=20, inserts=10, deletes=8,
            num_partitions=4,
        ).cache()
        for i in range(2)
    ]
    steps = [
        ("merge_mor_0", lambda t: merge_into_table_mor(t, batches[0])),
        ("merge_mor_1", lambda t: merge_into_table_mor(t, batches[1])),
        ("apply_deletes", apply_deletes),
        ("merge_mor_again", lambda t: merge_into_table_mor(t, batches[0])),
        ("compact", compact),
    ]
    with monkeypatch.context() as m:
        m.setattr(icepack, "PARQUET_WRITE_OPTIONS", LEGACY_OPTIONS)
        legacy = fresh_table(spark, tmp_path, "legacy")
        mixed = fresh_table(spark, tmp_path, "mixed")
    assert rows(mixed) == rows(legacy)
    for name, step in steps:
        with monkeypatch.context() as m:
            m.setattr(icepack, "PARQUET_WRITE_OPTIONS", LEGACY_OPTIONS)
            step(legacy)
        step(mixed)
        assert rows(mixed) == rows(legacy), f"diverged after {name}"
        if name == "merge_mor_1":
            assert table_codecs(mixed) == {"SNAPPY", "ZSTD"}
            assert any(e.content == "pos_deletes" for e in mixed.files())
    assert table_codecs(legacy) == {"SNAPPY"}
    assert table_codecs(mixed) == {"ZSTD"}  # compact rewrote the old files
    for b in batches:
        b.unpersist()


def test_metadata_json_compact_and_parquet_manifest_profile(
    spark, tmp_path, monkeypatch
):
    df = spark.range(0, 20).select("id", (F.col("id") * 2).alias("v"))
    t = IcepackTable.create(spark, str(tmp_path / "meta"), df.schema)
    t.append(df, num_files=2)
    v = t.head_version()
    for name in (f"snap-{v}.json", f"manifest-{v}.json", "snap-0.json"):
        text = open(os.path.join(t.meta_dir, name)).read()
        assert "\n" not in text and ": " not in text, name
        assert json.loads(text)
    monkeypatch.setattr(IcepackTable, "MANIFEST_PARQUET_MIN_FILES", 1)
    t.append(df, num_files=1)
    manifest = t.snapshot().manifest
    assert manifest.endswith(".parquet")
    codecs, _ = footer(os.path.join(t.meta_dir, manifest))
    assert codecs == {"ZSTD"}
    assert t.count_rows() == 40 and len(t.files()) == 3

