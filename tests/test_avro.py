"""Pure-Python Avro OCF source (sources/avro.py): container round-trip,
Spark batch + streaming reads of the Datastream envelope (the reference's
DEFAULT dump format, application.conf:10), codec gates."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from datastream_deltalake_connector_spark.sources.avro import (
    avro_to_spark_schema,
    read_avro,
    read_ocf_bytes,
    read_ocf_file,
    write_ocf,
)
from datastream_deltalake_connector_spark.sources.cdc import (
    DatastreamTable,
    TableMetadata,
    flatten_envelope,
    read_table_batch,
)

PRIM_SCHEMA = {
    "type": "record",
    "name": "Prim",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "b", "type": "boolean"},
        {"name": "by", "type": "bytes"},
        {"name": "opt", "type": ["null", "string"]},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "int"}},
        {"name": "e", "type": {"type": "enum", "name": "E", "symbols": ["A", "B"]}},
        {"name": "fx", "type": {"type": "fixed", "name": "FX", "size": 4}},
        {
            "name": "ts",
            "type": {"type": "long", "logicalType": "timestamp-millis"},
        },
    ],
}

PRIM_RECORDS = [
    {
        "s": "héllo",
        "i": -42,
        "l": 2**60,
        "f": 1.5,
        "d": -2.25,
        "b": True,
        "by": b"\x00\xff",
        "opt": None,
        "arr": [1, -2, 3],
        "m": {"x": 1, "y": -9},
        "e": "B",
        "fx": b"abcd",
        "ts": dt.datetime(2024, 1, 1, 10, 0, 1),
    },
    {
        "s": "",
        "i": 0,
        "l": -(2**60),
        "f": 0.0,
        "d": 0.0,
        "b": False,
        "by": b"",
        "opt": "there",
        "arr": [],
        "m": {},
        "e": "A",
        "fx": b"zzzz",
        "ts": dt.datetime(1970, 1, 1, 0, 0, 0),
    },
]


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_ocf_roundtrip(tmp_path, codec):
    p = str(tmp_path / f"prim-{codec}.avro")
    write_ocf(p, PRIM_SCHEMA, PRIM_RECORDS, codec=codec, records_per_block=1)
    schema, records = read_ocf_file(p)
    assert schema["name"] == "Prim"
    assert len(records) == 2
    for got, want in zip(records, PRIM_RECORDS):
        for k, v in want.items():
            if isinstance(v, float):
                assert abs(got[k] - v) < 1e-6, k
            else:
                assert got[k] == v, k


def test_ocf_bad_magic_and_codec(tmp_path):
    with pytest.raises(ValueError):
        read_ocf_bytes(b"PAR1whatever")
    p = str(tmp_path / "x.avro")
    with pytest.raises(ValueError):
        write_ocf(p, PRIM_SCHEMA, PRIM_RECORDS, codec="lz4")


def test_snappy_roundtrip_property():
    """Property: decompress(compress(x)) == x for arbitrary byte strings
    (hypothesis drives sizes from empty to several 64 KiB snappy blocks)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from datastream_deltalake_connector_spark.sources.avro import (
        snappy_compress as compress,
        snappy_decompress as decompress,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.binary(min_size=0, max_size=200_000))
    def check(payload):
        assert decompress(compress(payload)) == payload

    check()


def test_ocf_snappy_crc_guard(tmp_path):
    """A flipped bit in a snappy block's payload trips the Avro-spec CRC32
    (big-endian, over the UNCOMPRESSED data)."""
    p = str(tmp_path / "s.avro")
    write_ocf(p, PRIM_SCHEMA, PRIM_RECORDS, codec="snappy", records_per_block=1)
    raw = bytearray(open(p, "rb").read())
    # corrupt one literal byte inside the last block's payload (before the
    # trailing sync marker + CRC: offset -25 lands in record data)
    raw[-25] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|snappy|corrupt"):
        read_ocf_bytes(bytes(raw))


def test_snappy_block_format():
    """The block codec round-trips, and the decoder handles all three copy
    kinds including overlapping copies, from hand-built streams."""
    from datastream_deltalake_connector_spark.sources.avro import (
        snappy_compress as compress,
        snappy_decompress as decompress,
    )

    for payload in (b"", b"a", b"hello" * 40, bytes(range(256)) * 300):
        assert decompress(compress(payload)) == payload

    # hand-built stream: literal "abcd", then an OVERLAPPING 1-byte-offset
    # copy (len 8, offset 4) -> "abcd" + "abcdabcd"
    stream = bytes([12, (4 - 1) << 2]) + b"abcd" + bytes([((8 - 4) << 2) | 1, 4])
    assert decompress(stream) == b"abcdabcdabcd"

    # 2-byte-offset copy: literal of 64+ bytes, copy 10 from offset 64
    lit = bytes(range(64))
    stream2 = (
        bytes([74, 61 << 2]) + (64 - 1).to_bytes(2, "little") + lit
        + bytes([((10 - 1) << 2) | 2]) + (64).to_bytes(2, "little")
    )
    assert decompress(stream2) == lit + lit[:10]

    # 4-byte-offset copy kind
    stream3 = (
        bytes([74, 61 << 2]) + (64 - 1).to_bytes(2, "little") + lit
        + bytes([((10 - 1) << 2) | 3]) + (64).to_bytes(4, "little")
    )
    assert decompress(stream3) == lit + lit[:10]

    # corrupt: copy offset beyond what's been produced
    bad = bytes([4, (2 - 1) << 2]) + b"ab" + bytes([((4 - 4) << 2) | 1, 200])
    with pytest.raises(ValueError, match="corrupt"):
        decompress(bad)

    # corrupt: preamble length disagrees with decoded size
    with pytest.raises(ValueError, match="corrupt"):
        decompress(bytes([9, (4 - 1) << 2]) + b"abcd")

    # corrupt: element truncated mid-stream (copy tag present, offset byte
    # missing) must raise the module's ValueError contract, not IndexError
    with pytest.raises(ValueError, match="truncated|corrupt"):
        decompress(bytes([12, (4 - 1) << 2]) + b"abcd" + bytes([((8 - 4) << 2) | 1]))
    with pytest.raises(ValueError, match="truncated|corrupt|varint"):
        decompress(bytes([0x80]))  # truncated preamble varint


AVRO_ENVELOPE = {
    "type": "record",
    "name": "DatastreamEvent",
    "fields": [
        {"name": "uuid", "type": "string"},
        {"name": "read_timestamp", "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "source_timestamp", "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "object", "type": "string"},
        {"name": "read_method", "type": "string"},
        {"name": "stream_name", "type": "string"},
        {"name": "schema_key", "type": "string"},
        {
            "name": "source_metadata",
            "type": {
                "type": "record",
                "name": "SourceMetadata",
                "fields": [
                    {"name": "table", "type": "string"},
                    {"name": "database", "type": "string"},
                    {"name": "primary_keys", "type": {"type": "array", "items": "string"}},
                    {"name": "log_file", "type": ["null", "string"]},
                    {"name": "log_position", "type": ["null", "long"]},
                    {"name": "change_type", "type": "string"},
                    {"name": "is_deleted", "type": "boolean"},
                ],
            },
        },
        {
            "name": "payload",
            "type": {
                "type": "record",
                "name": "Payload",
                "fields": [
                    {"name": "pid", "type": "string"},
                    {"name": "name", "type": ["null", "string"]},
                    {"name": "city", "type": ["null", "string"]},
                ],
            },
        },
    ],
}


def _env(uid, ts, pk, name, city, change_type="INSERT", deleted=False, log_position=100):
    return {
        "uuid": f"avro-uuid-{uid}",
        "read_timestamp": ts,
        "source_timestamp": ts,
        "object": "demo.people",
        "read_method": "mysql-cdc-binlog",
        "stream_name": "projects/0/locations/local/streams/test",
        "schema_key": "k0",
        "source_metadata": {
            "table": "people",
            "database": "demo",
            "primary_keys": ["pid"],
            "log_file": "mysql-bin.000001",
            "log_position": log_position,
            "change_type": change_type,
            "is_deleted": deleted,
        },
        "payload": {"pid": pk, "name": name, "city": city},
    }


@pytest.fixture(scope="module")
def avro_stream_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("avro-dumps")
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    batch1 = [
        _env(1, t0 + dt.timedelta(seconds=1), "p1", "ada", "berlin", log_position=100),
        _env(2, t0 + dt.timedelta(seconds=2), "p2", "grace", "paris", log_position=110),
        _env(3, t0 + dt.timedelta(seconds=3), "p3", "alan", "london", log_position=120),
    ]
    batch2 = [
        _env(4, t0 + dt.timedelta(minutes=5), "p1", "ada l", "zurich", "UPDATE-INSERT", log_position=200),
        _env(5, t0 + dt.timedelta(minutes=5, seconds=2), "p3", "alan", "london", "DELETE", True, log_position=210),
    ]
    d1 = root / "people" / "2024" / "01" / "01" / "10" / "00"
    d2 = root / "people" / "2024" / "01" / "01" / "10" / "05"
    write_ocf(str(d1 / "records1.avro"), AVRO_ENVELOPE, batch1, codec="deflate")
    write_ocf(str(d2 / "records2.avro"), AVRO_ENVELOPE, batch2, codec="null")
    return str(root)


def test_avro_spark_schema():
    st = avro_to_spark_schema(AVRO_ENVELOPE)
    assert [f.name for f in st.fields][:3] == ["uuid", "read_timestamp", "source_timestamp"]
    assert st["source_timestamp"].dataType.typeName() == "timestamp"
    assert st["source_metadata"].dataType["primary_keys"].dataType.typeName() == "array"


def test_avro_batch_read_metadata_flatten(spark, avro_stream_root):
    t = DatastreamTable(avro_stream_root, "people")
    df = read_table_batch(spark, t, "avro")
    assert df.count() == 5
    meta = TableMetadata.from_df(df)
    assert meta.source_type == "mysql"
    assert meta.primary_keys == ["pid"]
    flat = flatten_envelope(df, meta)
    rows = {(r["pid"], r["change_seq"]): r for r in flat.collect()}
    assert ((1 << 32) + 200) in [seq for (_, seq) in rows]
    assert flat.schema["source_timestamp"].dataType.typeName() == "timestamp"
    deleted = [r for r in rows.values() if r["is_deleted"]]
    assert {r["pid"] for r in deleted} == {"p3"}


def test_avro_streaming_connector_end_to_end(spark, avro_stream_root, tmp_path):
    from datastream_deltalake_connector_spark.streaming.ingest import run_connector_once
    from datastream_deltalake_connector_spark.table import IcepackTable

    warehouse = str(tmp_path / "avro-warehouse")
    results = run_connector_once(spark, avro_stream_root, warehouse, fmt="avro")
    assert "people" in results
    t = IcepackTable.load(spark, results["people"])
    state = {
        r["pid"]: (r["name"], r["city"])
        for r in t.scan().select("pid", "name", "city").collect()
    }
    # newest update applied, delete applied
    assert state == {"p1": ("ada l", "zurich"), "p2": ("grace", "paris")}
