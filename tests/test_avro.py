"""Pure-Python Avro OCF reader/writer (sources/avro_ocf.py), read and
written through the ``avro_ocf`` data source that ``BallistaSession.read_avro``
falls back to.

Behavior spec: the Avro 1.x specification (container format + binary
encoding); reference scan surface datafusion.proto:1155-1158.
"""

from __future__ import annotations

import io
import os
import re

import pytest
from pyspark.sql.types import DateType, StructField, StructType

from datafusion_ballista_spark.session import BallistaSession
from datafusion_ballista_spark.sources.avro_ocf import (
    _avro_schema,
    _read_header,
    write_avro_ocf,
)
from datafusion_ballista_spark.sources.datasource import register

_SCHEMA = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "score", "type": "double"},
        {"name": "ok", "type": "boolean"},
    ],
}

_ROWS = [
    {"id": 1, "name": "alpha", "score": 1.5, "ok": True},
    {"id": 2, "name": None, "score": -2.25, "ok": False},
    {"id": 3, "name": "γunicode", "score": 0.0, "ok": True},
]


def read_avro(spark, path):
    return BallistaSession(spark).read_avro(path)


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_roundtrip(spark, tmp_path, codec):
    p = str(tmp_path / "t.avro")
    write_avro_ocf(_ROWS, _SCHEMA, p, codec=codec)
    df = read_avro(spark, p)
    got = sorted((r.id, r.name, r.score, r.ok) for r in df.collect())
    want = sorted((r["id"], r["name"], r["score"], r["ok"]) for r in _ROWS)
    assert got == want
    assert dict(df.dtypes) == {
        "id": "bigint", "name": "string", "score": "double", "ok": "boolean"
    }


def test_multi_file_directory(spark, tmp_path):
    write_avro_ocf(_ROWS[:2], _SCHEMA, str(tmp_path / "a.avro"))
    write_avro_ocf(_ROWS[2:], _SCHEMA, str(tmp_path / "b.avro"), codec="deflate")
    df = read_avro(spark, str(tmp_path))
    assert df.count() == 3
    assert df.rdd.getNumPartitions() == 2  # one task per file


def test_bad_magic_rejected(spark, tmp_path):
    p = tmp_path / "junk.avro"
    p.write_bytes(b"PAR1not-avro")
    with pytest.raises(Exception, match="bad magic"):
        read_avro(spark, str(p))


def test_empty_directory_names_the_path(spark, tmp_path):
    with pytest.raises(Exception, match=re.escape(f"no .avro files at '{tmp_path}'")):
        read_avro(spark, str(tmp_path))


def test_unsupported_schema_rejected(spark, tmp_path):
    schema = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "xs", "type": {"type": "array", "items": "long"}}],
    }
    with pytest.raises(ValueError, match="unsupported"):
        write_avro_ocf([{"xs": [1]}], schema, str(tmp_path / "x.avro"))
    with pytest.raises(ValueError, match="unsupported Avro codec 'snappy'"):
        write_avro_ocf(_ROWS, _SCHEMA, str(tmp_path / "s.avro"), codec="snappy")
    with pytest.raises(ValueError, match="unsupported Spark type for Avro"):
        _avro_schema(StructType([StructField("d", DateType())]))


def test_session_read_avro_fallback(spark, tmp_path):
    p = str(tmp_path / "s.avro")
    write_avro_ocf(_ROWS, _SCHEMA, p, codec="deflate")
    df = BallistaSession(spark).read_avro(p)
    assert df.count() == 3


def test_registered_datasource(spark, tmp_path):
    """Spark 4 Python DataSource registration: avro_ocf becomes a normal
    format() source (the reference's custom-TableProvider surface)."""
    register(spark)
    write_avro_ocf(_ROWS[:2], _SCHEMA, str(tmp_path / "a.avro"))
    write_avro_ocf(_ROWS[2:], _SCHEMA, str(tmp_path / "b.avro"), codec="deflate")
    df = spark.read.format("avro_ocf").load(str(tmp_path))
    got = sorted((r.id, r.name, r.score, r.ok) for r in df.collect())
    want = sorted((r["id"], r["name"], r["score"], r["ok"]) for r in _ROWS)
    assert got == want
    assert df.rdd.getNumPartitions() == 2  # one task per file


def test_distributed_sink_one_file_per_partition(spark, tmp_path):
    """The ``avro_ocf`` writer: every partition writes its own OCF file
    executor-side — the scan_avro fixture path never collects the table to
    the driver. Pins: one file per non-empty partition, the ``codec``
    option honored per write (two appends, deflate then null), lossless
    round-trip, and empty partitions leave no file behind."""
    register(spark)
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i) / 2, i % 2 == 0) for i in range(30)],
        "id long, name string, score double, ok boolean",
    ).repartition(3, "id")
    out = str(tmp_path / "dist_avro")
    for codec in ("deflate", "null"):
        df.write.format("avro_ocf").mode("append").option("codec", codec).save(out)
    codecs_by_write: dict[str, list[str]] = {}
    for name in os.listdir(out):
        with open(os.path.join(out, name), "rb") as f:
            _, codec, _ = _read_header(io.BytesIO(f.read()))
        write_id = name.split("-")[2]
        codecs_by_write.setdefault(write_id, []).append(codec)
    assert sorted(codecs_by_write.values()) == [["deflate"] * 3, ["null"] * 3]
    back = read_avro(spark, out)
    got = sorted((r.id, r.name, r.score, r.ok) for r in back.collect())
    want = sorted((i, f"n{i}", float(i) / 2, i % 2 == 0) for i in range(30))
    assert got == sorted(want * 2)
    # an empty DataFrame writes nothing
    out2 = str(tmp_path / "dist_avro_empty")
    df.where("id < 0").repartition(2).write.format("avro_ocf").mode("append").save(out2)
    assert os.listdir(out2) == []


def test_distributed_sink_nullable_numeric_nulls(spark, tmp_path):
    """SQL NULLs in nullable long/double columns survive the ``avro_ocf``
    writer as the Avro null branch: the Avro schema derived from the
    DataFrame makes each nullable field a ``["null", T]`` union, and the
    writer encodes Arrow nulls, not NaN."""
    df = spark.createDataFrame(
        [(1, 10, 1.5, "a"), (2, None, None, None), (3, 30, None, "c")],
        "id long, n long, x double, s string",
    ).repartition(2)
    out = str(tmp_path / "nulls_avro")
    register(spark)
    df.write.format("avro_ocf").mode("overwrite").option("codec", "deflate").save(out)
    back = read_avro(spark, out)
    got = sorted((r.id, r.n, r.x, r.s) for r in back.collect())
    assert got == [(1, 10, 1.5, "a"), (2, None, None, None), (3, 30, None, "c")]
