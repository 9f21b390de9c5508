"""Avro Object Container File scan/sink — pure-Python, no spark-avro jar.

The reference ships an Avro scan (datafusion.proto:1155-1158,
AvroScanExecNode). Spark's own Avro support lives in the external
spark-avro module, which is absent from this offline container, so this
module implements the Avro 1.x Object Container File format directly from
the public specification (https://avro.apache.org/docs/current/spec.html):

- OCF framing: magic ``Obj\\x01``, metadata map (``avro.schema`` JSON +
  ``avro.codec``), 16-byte sync marker, then blocks of
  (record-count, byte-size, payload, sync).
- Binary encoding: zigzag-varint ints/longs, little-endian float/double,
  length-prefixed string/bytes, 1-byte boolean, union-index prefix.
- Codecs: ``null`` and ``deflate`` (both in the standard; snappy needs a
  native lib and is rejected with a clear error).
- Schemas: records of primitives and ``["null", T]`` unions — the shape
  every tabular Avro export uses. Nested/complex types raise.

Scale shape: reads and writes run through the ``avro_ocf`` data source
(sources/avro_datasource.py) on the shared file-source mechanism
(sources/datasource.py), which parallelizes over files, the natural Avro
unit, since OCF blocks are delimited by a sync marker that requires a scan
from the header anyway. One read task per file decodes it one block at a
time with ``_iter_file_records``; one write task per partition encodes each
incoming batch as one block. The driver touches only the first file's
header (schema discovery).
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from collections.abc import Iterable, Iterator

from pyspark.sql import types as T

_MAGIC = b"Obj\x01"

# Avro primitive -> (Spark type, reader fn name)
_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}

_SPARK_TYPES = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}


# -- binary primitives ------------------------------------------------------


def _write_long(out: io.BytesIO, n: int) -> None:
    n = (n << 1) ^ (n >> 63)  # zigzag
    while (n & ~0x7F) != 0:
        out.write(bytes([(n & 0x7F) | 0x80]))
        n >>= 7
    out.write(bytes([n]))


def _read_long(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # un-zigzag


def _read_bytes(buf: io.BytesIO) -> bytes:
    return buf.read(_read_long(buf))


# -- schema handling --------------------------------------------------------


def _field_type(ftype) -> tuple[str, bool]:
    """Resolve a field schema to (primitive_name, nullable). Only
    primitives and 2-branch null unions are supported."""
    if isinstance(ftype, str):
        if ftype not in _PRIMITIVES:
            raise ValueError(f"unsupported Avro type: {ftype!r}")
        return ftype, ftype == "null"
    if isinstance(ftype, list):
        branches = [b for b in ftype if b != "null"]
        if len(branches) != 1 or not isinstance(branches[0], str):
            raise ValueError(f"unsupported Avro union: {ftype!r}")
        prim, _ = _field_type(branches[0])
        return prim, True
    raise ValueError(f"unsupported Avro schema node: {ftype!r}")


def _spark_schema(avro_schema: dict) -> T.StructType:
    if avro_schema.get("type") != "record":
        raise ValueError("top-level Avro schema must be a record")
    fields = []
    for f in avro_schema["fields"]:
        prim, nullable = _field_type(f["type"])
        fields.append(T.StructField(f["name"], _SPARK_TYPES[prim], nullable))
    return T.StructType(fields)


def _avro_schema(spark_schema: T.StructType) -> dict:
    """The record schema a DataFrame writes as; nullable fields become
    ``["null", T]`` unions."""
    avro_types = {v: k for k, v in _SPARK_TYPES.items()}
    fields = []
    for f in spark_schema.fields:
        prim = avro_types.get(f.dataType)
        if prim is None:
            raise ValueError(f"unsupported Spark type for Avro: {f.dataType}")
        fields.append({"name": f.name, "type": ["null", prim] if f.nullable else prim})
    return {"type": "record", "name": "topLevelRecord", "fields": fields}


def _read_value(buf: io.BytesIO, prim: str):
    if prim == "null":
        return None
    if prim == "boolean":
        return buf.read(1) == b"\x01"
    if prim in ("int", "long"):
        return _read_long(buf)
    if prim == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if prim == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if prim == "bytes":
        return _read_bytes(buf)
    if prim == "string":
        return _read_bytes(buf).decode("utf-8")
    raise ValueError(f"unsupported primitive: {prim}")


def _write_value(out: io.BytesIO, prim: str, v) -> None:
    if prim == "boolean":
        out.write(b"\x01" if v else b"\x00")
    elif prim in ("int", "long"):
        _write_long(out, int(v))
    elif prim == "float":
        out.write(struct.pack("<f", float(v)))
    elif prim == "double":
        out.write(struct.pack("<d", float(v)))
    elif prim == "bytes":
        _write_long(out, len(v))
        out.write(bytes(v))
    elif prim == "string":
        b = str(v).encode("utf-8")
        _write_long(out, len(b))
        out.write(b)
    else:
        raise ValueError(f"unsupported primitive: {prim}")


# -- container file reader --------------------------------------------------


def _read_header(buf: io.BytesIO) -> tuple[dict, str, bytes]:
    if buf.read(4) != _MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        count = _read_long(buf)
        if count == 0:
            break
        if count < 0:
            # spec: a negative count is followed by ONE block byte-size
            # long for the whole block, then |count| key/value pairs
            _read_long(buf)
        for _ in range(abs(count)):
            k = _read_bytes(buf).decode("utf-8")
            meta[k] = _read_bytes(buf)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise ValueError(
            f"Avro codec {codec!r} needs a native library; only null/deflate "
            "are supported by the pure-Python reader"
        )
    sync = buf.read(16)
    return schema, codec, sync


def _iter_file_records(path: str) -> Iterator[list[dict]]:
    """Yield the dict rows of one OCF file, one list per block."""
    with open(path, "rb") as f:
        buf = io.BytesIO(f.read())
    schema, codec, sync = _read_header(buf)
    fields = [(f["name"], _field_type(f["type"])) for f in schema["fields"]]
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, io.SEEK_CUR)
        n_rec = _read_long(buf)
        n_bytes = _read_long(buf)
        payload = buf.read(n_bytes)
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)  # raw deflate per spec
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch (corrupt Avro block)")
        pb = io.BytesIO(payload)
        rows = []
        for _ in range(n_rec):
            row = {}
            for name, (prim, nullable) in fields:
                if nullable:
                    idx = _read_long(pb)
                    # union index into ["null", T] (writer order below)
                    row[name] = None if idx == 0 else _read_value(pb, prim)
                else:
                    row[name] = _read_value(pb, prim)
            rows.append(row)
        yield rows


# -- container file writer ---------------------------------------------------


def write_avro_ocf(
    rows: list[dict], avro_schema: dict, path: str, codec: str = "null"
) -> None:
    """Single-file OCF writer, all rows in one block (fixtures and tests)."""
    _write_blocks([rows], avro_schema, path, codec)


def _write_blocks(
    blocks: Iterable[list[dict]], avro_schema: dict, path: str, codec: str
) -> None:
    """Write one OCF file with one block per list of dict rows."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec {codec!r}; use null or deflate")
    fields = [(f["name"], _field_type(f["type"])) for f in avro_schema["fields"]]
    out = io.BytesIO()
    out.write(_MAGIC)
    meta = {
        "avro.schema": json.dumps(avro_schema).encode(),
        "avro.codec": codec.encode(),
    }
    _write_long(out, len(meta))
    for k, v in meta.items():
        kb = k.encode()
        _write_long(out, len(kb))
        out.write(kb)
        _write_long(out, len(v))
        out.write(v)
    _write_long(out, 0)
    sync = b"\x00\x01\x02\x03\x04\x05\x06\x07\x08\x09\x0a\x0b\x0c\x0d\x0e\x0f"
    out.write(sync)
    with open(path, "wb") as f:
        f.write(out.getvalue())
        for rows in blocks:
            f.write(_encode_block(rows, fields, codec) + sync)


def _encode_block(rows: list[dict], fields: list, codec: str) -> bytes:
    body = io.BytesIO()
    for row in rows:
        for name, (prim, nullable) in fields:
            v = row.get(name)
            if nullable:
                if v is None:
                    _write_long(body, 0)
                else:
                    _write_long(body, 1)
                    _write_value(body, prim, v)
            else:
                _write_value(body, prim, v)
    payload = body.getvalue()
    if codec == "deflate":
        payload = zlib.compress(payload)[2:-4]  # raw deflate per spec
    out = io.BytesIO()
    _write_long(out, len(rows))
    _write_long(out, len(payload))
    out.write(payload)
    return out.getvalue()
