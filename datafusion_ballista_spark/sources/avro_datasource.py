"""Avro as a registered Spark DataSource — the custom-TableProvider surface.

The reference lets users plug custom table providers into the session
(DataFusion ``TableProvider``; Ballista serializes their scans,
datafusion.proto:1140-1162). Spark 4's Python DataSource API is the
idiomatic equivalent: after ``spark.dataSource.register(AvroOcfDataSource)``
the pure-Python OCF decoder (sources/avro_ocf.py) becomes a first-class
``spark.read.format("avro_ocf").load(path)`` source — usable from SQL via
CREATE TABLE ... USING avro_ocf too. It is the one distributed Avro read:
``BallistaSession.read_avro`` registers it and loads through it when the
spark-avro jar is absent.

Scale shape: ``partitions()`` returns one InputPartition per .avro file, so
Spark schedules one task per file, with the source participating in the
normal DataSource lifecycle (schema discovery, options, future filter
pushdown via pushFilters).
"""

from __future__ import annotations

import io
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from datafusion_ballista_spark.sources.avro_ocf import (
    _iter_file_records,
    _read_header,
    _spark_schema,
)


def _list_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".avro")
        )
    return [path]


class _AvroFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class AvroOcfReader(DataSourceReader):
    def __init__(self, options, schema):
        self._files = _list_files(options["path"])
        self._fields = [f.name for f in schema.fields]

    def partitions(self):
        return [_AvroFilePartition(p) for p in self._files]

    def read(self, partition: _AvroFilePartition):
        for row in _iter_file_records(partition.path):
            yield tuple(row[name] for name in self._fields)


class AvroOcfDataSource(DataSource):
    """``spark.read.format("avro_ocf")`` — pure-Python Avro container scan."""

    @classmethod
    def name(cls) -> str:
        return "avro_ocf"

    def schema(self):
        files = _list_files(self.options["path"])
        if not files:
            raise FileNotFoundError(
                f"no .avro files at {self.options.get('path')!r}"
            )
        with open(files[0], "rb") as f:
            head = io.BytesIO(f.read(1 << 20))
        avro_schema, _, _ = _read_header(head)
        return _spark_schema(avro_schema)

    def reader(self, schema) -> AvroOcfReader:
        return AvroOcfReader(self.options, schema)


def register(spark) -> None:
    spark.dataSource.register(AvroOcfDataSource)
