"""Pure-Python Avro Object Container File (OCF) reader/writer + Spark source.

Avro is the reference's DEFAULT CDC dump format (reference:
spark/src/main/resources/application.conf:10 ``read-format = "avro"``,
dispatch at datastream/DatastreamIO.scala:30-34) — round 1 gated it behind a
NotImplementedError because the external spark-avro jar is not shipped with
pip pyspark. This module closes the gap without the jar: the OCF container
and Avro binary encoding are simple, fully-specified formats (Apache Avro
1.11 spec), decoded here with stdlib only.

Spark integration keeps the decode DISTRIBUTED: files are read as whole
blobs by Spark's ``binaryFile`` source (batch or streaming — so
``maxFilesPerTrigger`` still throttles exactly like the reference's
``file-read-concurrency``), and each executor decodes its files inside
``mapInPandas`` against the Spark schema derived from the writer schema of
the first file. One driver-side header read (a few hundred bytes) pins the
schema; no record crosses the driver.

Supported: all primitive types, record/array/map/enum/fixed/union,
nullable unions, null + deflate + snappy codecs (snappy through pyarrow's
block-format codec, with the Avro spec's big-endian CRC32-of-uncompressed
block check), timestamp-millis/micros and date logical types.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = [
    "read_ocf_bytes",
    "read_ocf_file",
    "write_ocf",
    "avro_to_spark_schema",
    "read_avro",
    "avro_stream",
    "BINARY_FILE_SCHEMA",
]

_MAGIC = b"Obj\x01"


# ---------------------------------------------------------------- primitives
def _read_long(buf: io.BytesIO) -> int:
    """Zigzag varint (Avro int/long share the encoding)."""
    shift = 0
    acc = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _write_long(out: bytearray, v: int) -> None:
    v = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = _read_long(buf)
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("truncated bytes")
    return data


# ------------------------------------------------------------------- decoder
def _norm(schema: Any) -> Any:
    """Schema node → dict form ({'type': ...})."""
    if isinstance(schema, str):
        return {"type": schema}
    if isinstance(schema, list):
        return {"type": "union", "branches": schema}
    return schema


def _decoder(schema: Any, named: dict[str, Any]) -> Callable[[io.BytesIO], Any]:
    """Compile a schema node into a reader function (closure tree — built
    once per file, then applied per record)."""
    s = _norm(schema)
    t = s["type"]
    if isinstance(t, (list, dict)):  # inline nested type
        return _decoder(t, named)
    logical = s.get("logicalType")
    if t in ("record", "error"):
        if s.get("name"):
            named[s["name"]] = s
        fields = [(f["name"], _decoder(f["type"], named)) for f in s["fields"]]
        return lambda buf: {name: dec(buf) for name, dec in fields}
    if t == "union" or "branches" in s:
        branches = [ _decoder(b, named) for b in s.get("branches", s.get("type"))]
        return lambda buf: branches[_read_long(buf)](buf)
    if t == "array":
        item = _decoder(s["items"], named)

        def read_array(buf):
            out = []
            while True:
                n = _read_long(buf)
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    _read_long(buf)  # block byte size, unused
                for _ in range(n):
                    out.append(item(buf))

        return read_array
    if t == "map":
        val = _decoder(s["values"], named)

        def read_map(buf):
            out = {}
            while True:
                n = _read_long(buf)
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    _read_long(buf)
                for _ in range(n):
                    k = _read_bytes(buf).decode("utf-8")
                    out[k] = val(buf)

        return read_map
    if t == "enum":
        symbols = s["symbols"]
        return lambda buf: symbols[_read_long(buf)]
    if t == "fixed":
        size = s["size"]
        return lambda buf: buf.read(size)
    if t == "null":
        return lambda buf: None
    if t == "boolean":
        return lambda buf: buf.read(1) == b"\x01"
    if t in ("int", "long"):
        if logical in ("timestamp-millis", "timestamp-micros"):
            import datetime as _dt

            div = 1_000 if logical == "timestamp-millis" else 1_000_000
            epoch = _dt.datetime(1970, 1, 1)
            return lambda buf: epoch + _dt.timedelta(seconds=_read_long(buf) / div)
        if logical == "date":
            import datetime as _dt

            epoch_d = _dt.date(1970, 1, 1)
            return lambda buf: epoch_d + _dt.timedelta(days=_read_long(buf))
        return _read_long
    if t == "float":
        return lambda buf: struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return lambda buf: struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        return _read_bytes
    if t == "string":
        return lambda buf: _read_bytes(buf).decode("utf-8")
    if t in named:  # named-type reference
        return _decoder(named[t], named)
    raise ValueError(f"unsupported avro type: {t!r}")


def parse_header(buf: io.BytesIO) -> tuple[dict, str, bytes]:
    if buf.read(4) != _MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = _read_long(buf)
        if n == 0:
            break
        if n < 0:
            n = -n
            _read_long(buf)
        for _ in range(n):
            k = _read_bytes(buf).decode("utf-8")
            meta[k] = _read_bytes(buf)
    sync = buf.read(16)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    return schema, codec, sync


def snappy_compress(data: bytes) -> bytes:
    """One snappy block-format stream (no Avro CRC framing)."""
    import pyarrow as pa

    return pa.Codec("snappy").compress(data, asbytes=True)


def snappy_decompress(data: bytes) -> bytes:
    """Decode one snappy block-format stream. The codec needs the output
    size up front: it is the stream's own unsigned varint preamble. Every
    corruption, a truncated preamble included, raises ValueError."""
    import pyarrow as pa

    size = shift = 0
    for b in data[:5]:  # a 32-bit length takes at most 5 varint bytes
        size |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    else:
        raise ValueError("corrupt snappy block: truncated length preamble")
    try:
        return pa.Codec("snappy").decompress(
            data, decompressed_size=size, asbytes=True
        )
    except OSError as exc:
        raise ValueError(f"corrupt snappy block: {exc}") from exc


def read_ocf_bytes(data: bytes) -> tuple[dict, list[Any]]:
    """Decode a whole OCF blob → (writer schema, records)."""
    buf = io.BytesIO(data)
    schema, codec, sync = parse_header(buf)
    if codec not in ("null", "deflate", "snappy"):
        raise ValueError(f"unsupported avro codec: {codec!r}")
    dec = _decoder(schema, {})
    records: list[Any] = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, io.SEEK_CUR)
        count = _read_long(buf)
        block = _read_bytes(buf)
        if codec == "deflate":
            block = zlib.decompress(block, -15)  # raw deflate per spec
        elif codec == "snappy":
            # Avro spec: snappy blocks carry a trailing 4-byte BIG-endian
            # CRC32 of the UNCOMPRESSED data
            crc = int.from_bytes(block[-4:], "big")
            block = snappy_decompress(block[:-4])
            if zlib.crc32(block) & 0xFFFFFFFF != crc:
                raise ValueError("avro snappy block CRC mismatch (corrupt block)")
        bbuf = io.BytesIO(block)
        for _ in range(count):
            records.append(dec(bbuf))
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch (corrupt block)")
    return schema, records


def read_ocf_file(path: str) -> tuple[dict, list[Any]]:
    with open(path, "rb") as f:
        return read_ocf_bytes(f.read())


# ------------------------------------------------------------------- encoder
def _encoder(schema: Any, named: dict[str, Any]) -> Callable[[bytearray, Any], None]:
    s = _norm(schema)
    t = s["type"]
    if isinstance(t, (list, dict)):
        return _encoder(t, named)
    logical = s.get("logicalType")
    if t in ("record", "error"):
        if s.get("name"):
            named[s["name"]] = s
        fields = [(f["name"], _encoder(f["type"], named)) for f in s["fields"]]

        def enc_rec(out, v):
            for name, enc in fields:
                enc(out, v.get(name) if isinstance(v, dict) else getattr(v, name))

        return enc_rec
    if t == "union" or "branches" in s:
        branches = s.get("branches", s.get("type"))
        encs = [(b, _encoder(b, named)) for b in branches]

        def enc_union(out, v):
            for i, (b, enc) in enumerate(encs):
                bt = _norm(b)["type"]
                if v is None and bt == "null":
                    _write_long(out, i)
                    return
                if v is not None and bt != "null":
                    _write_long(out, i)
                    enc(out, v)
                    return
            raise ValueError(f"no union branch for value {v!r}")

        return enc_union
    if t == "array":
        item = _encoder(s["items"], named)

        def enc_arr(out, v):
            if v:
                _write_long(out, len(v))
                for x in v:
                    item(out, x)
            _write_long(out, 0)

        return enc_arr
    if t == "map":
        val = _encoder(s["values"], named)

        def enc_map(out, v):
            if v:
                _write_long(out, len(v))
                for k, x in v.items():
                    kb = k.encode("utf-8")
                    _write_long(out, len(kb))
                    out.extend(kb)
                    val(out, x)
            _write_long(out, 0)

        return enc_map
    if t == "enum":
        symbols = {sym: i for i, sym in enumerate(s["symbols"])}
        return lambda out, v: _write_long(out, symbols[v])
    if t == "fixed":
        return lambda out, v: out.extend(v)
    if t == "null":
        return lambda out, v: None
    if t == "boolean":
        return lambda out, v: out.append(1 if v else 0)
    if t in ("int", "long"):
        if logical in ("timestamp-millis", "timestamp-micros"):
            import datetime as _dt

            mul = 1_000 if logical == "timestamp-millis" else 1_000_000
            epoch = _dt.datetime(1970, 1, 1)

            def enc_ts(out, v):
                if isinstance(v, _dt.datetime):
                    v = round((v.replace(tzinfo=None) - epoch).total_seconds() * mul)
                _write_long(out, int(v))

            return enc_ts
        return lambda out, v: _write_long(out, int(v))
    if t == "float":
        return lambda out, v: out.extend(struct.pack("<f", v))
    if t == "double":
        return lambda out, v: out.extend(struct.pack("<d", v))
    if t == "bytes":

        def enc_bytes(out, v):
            _write_long(out, len(v))
            out.extend(v)

        return enc_bytes
    if t == "string":

        def enc_str(out, v):
            vb = v.encode("utf-8")
            _write_long(out, len(vb))
            out.extend(vb)

        return enc_str
    if t in named:
        return _encoder(named[t], named)
    raise ValueError(f"unsupported avro type: {t!r}")


def write_ocf(
    path: str,
    schema: dict,
    records: list[Any],
    codec: str = "null",
    sync: bytes = b"\x00" * 8 + b"icepack!",
    records_per_block: int = 1000,
) -> None:
    """Minimal deterministic OCF writer (fixtures + round-trip tests; also a
    legitimate export path). codec: 'null', 'deflate', or 'snappy'."""
    if codec not in ("null", "deflate", "snappy"):
        raise ValueError(f"unsupported codec {codec!r}")
    enc = _encoder(schema, {})
    out = bytearray()
    out.extend(_MAGIC)
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    _write_long(out, len(meta))
    for k, v in meta.items():
        kb = k.encode("utf-8")
        _write_long(out, len(kb))
        out.extend(kb)
        _write_long(out, len(v))
        out.extend(v)
    _write_long(out, 0)
    out.extend(sync)
    for i in range(0, len(records), records_per_block):
        chunk = records[i : i + records_per_block]
        body = bytearray()
        for r in chunk:
            enc(body, r)
        payload = bytes(body)
        if codec == "deflate":
            c = zlib.compressobj(9, zlib.DEFLATED, -15)
            payload = c.compress(payload) + c.flush()
        elif codec == "snappy":
            crc = zlib.crc32(payload) & 0xFFFFFFFF
            payload = snappy_compress(payload) + crc.to_bytes(4, "big")
        _write_long(out, len(chunk))
        _write_long(out, len(payload))
        out.extend(payload)
        out.extend(sync)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(bytes(out))


# ------------------------------------------------------------ Spark bridging
def avro_to_spark_schema(schema: Any, named: dict | None = None) -> T.DataType:
    """Writer schema → Spark type. Unions must be [null, X] (nullable X) —
    the Datastream envelope never uses wider unions."""
    named = named if named is not None else {}
    s = _norm(schema)
    t = s["type"]
    if isinstance(t, (list, dict)):
        return avro_to_spark_schema(t, named)
    logical = s.get("logicalType")
    if t in ("record", "error"):
        if s.get("name"):
            named[s["name"]] = s
        return T.StructType(
            [
                T.StructField(f["name"], avro_to_spark_schema(f["type"], named), True)
                for f in s["fields"]
            ]
        )
    if t == "union" or "branches" in s:
        branches = [_norm(b) for b in s.get("branches", s.get("type"))]
        non_null = [b for b in branches if b["type"] != "null"]
        if len(non_null) != 1:
            raise ValueError(f"only [null, X] unions supported, got {branches}")
        return avro_to_spark_schema(non_null[0], named)
    if t == "array":
        return T.ArrayType(avro_to_spark_schema(s["items"], named), True)
    if t == "map":
        return T.MapType(T.StringType(), avro_to_spark_schema(s["values"], named), True)
    if t in ("enum", "string"):
        return T.StringType()
    if t in ("fixed", "bytes"):
        return T.BinaryType()
    if t == "null":
        return T.NullType()
    if t == "boolean":
        return T.BooleanType()
    if t == "int":
        if logical == "date":
            return T.DateType()
        return T.IntegerType()
    if t == "long":
        if logical in ("timestamp-millis", "timestamp-micros"):
            return T.TimestampType()
        return T.LongType()
    if t == "float":
        return T.FloatType()
    if t == "double":
        return T.DoubleType()
    if t in named:
        return avro_to_spark_schema(named[t], named)
    raise ValueError(f"unsupported avro type: {t!r}")


BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def _decode_map_in_pandas(spark_schema: T.StructType):
    """mapInPandas fn: binaryFile rows → decoded envelope rows. Runs on
    executors; each Arrow batch may carry several whole OCF blobs."""
    import pandas as pd

    cols = [f.name for f in spark_schema.fields]

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: list[dict] = []
            for blob in pdf["content"]:
                _schema, records = read_ocf_bytes(bytes(blob))
                rows.extend(records)
            if rows:
                yield pd.DataFrame({c: [r.get(c) for r in rows] for c in cols})
            else:
                yield pd.DataFrame({c: [] for c in cols})

    return fn


def probe_avro_schema(glob_or_paths) -> T.StructType:
    """Driver-side schema pin: parse ONE file's header (few hundred bytes)."""
    import glob as g

    if isinstance(glob_or_paths, str):
        matches = sorted(g.glob(glob_or_paths))
    else:
        matches = list(glob_or_paths)
    # the 5-level Datastream glob matches the minute DIRECTORIES (Spark's
    # load() then reads the files inside); expand those here
    paths: list[str] = []
    for m in matches:
        if os.path.isdir(m):
            paths.extend(
                os.path.join(m, n) for n in sorted(os.listdir(m))
                if os.path.isfile(os.path.join(m, n))
            )
        else:
            paths.append(m)
    if not paths:
        raise FileNotFoundError(f"no avro files match {glob_or_paths}")
    with open(paths[0], "rb") as f:
        schema, _codec, _sync = parse_header(io.BytesIO(f.read(1 << 20)))
    st = avro_to_spark_schema(schema)
    if not isinstance(st, T.StructType):
        raise ValueError("top-level avro schema must be a record")
    return st


def read_avro(spark: SparkSession, glob: str) -> DataFrame:
    """Batch read of Avro OCF dumps: binaryFile scan + executor-side decode
    (the no-jar twin of ``spark.read.format('avro')``, DatastreamIO.scala:30-34)."""
    st = probe_avro_schema(glob)
    raw = spark.read.format("binaryFile").load(glob)
    return raw.select("content").mapInPandas(_decode_map_in_pandas(st), schema=st)


def avro_stream(
    spark: SparkSession, glob: str, max_files_per_trigger: int = 2
) -> DataFrame:
    """Streaming variant: binaryFile file source (maxFilesPerTrigger = the
    reference's file-read-concurrency throttle) + the same executor decode."""
    st = probe_avro_schema(glob)
    raw = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(glob)
    )
    return raw.select("content").mapInPandas(_decode_map_in_pandas(st), schema=st)
