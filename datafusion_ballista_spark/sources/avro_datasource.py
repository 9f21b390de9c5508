"""Avro Object Container Files as the ``avro_ocf`` data source.

The pure-Python OCF codec (sources/avro_ocf.py) plugs into the shared
file-source mechanism (sources/datasource.py), which makes it a
first-class ``spark.read.format("avro_ocf")`` / ``df.write.format("avro_ocf")``
source. It is the one distributed Avro path: ``BallistaSession.read_avro``
loads through it when the spark-avro jar is absent.

- Read: one task per ``.avro`` file yields one Arrow record batch per OCF
  block; the schema comes from the first file's header.
- Write: one file per non-empty partition, one block per incoming batch.
  The Avro schema is derived from the DataFrame's (a nullable field becomes
  ``["null", T]``), and the ``codec`` write option picks ``null`` (the
  default) or ``deflate``.
"""

from __future__ import annotations

import io
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from datafusion_ballista_spark.sources.avro_ocf import (
    _avro_schema,
    _iter_file_records,
    _read_header,
    _spark_schema,
    _write_blocks,
)
from datafusion_ballista_spark.sources.datasource import FileDataSource


class AvroOcfDataSource(FileDataSource):
    """``spark.read.format("avro_ocf")`` / ``df.write.format("avro_ocf")``."""

    ext = ".avro"

    @classmethod
    def name(cls) -> str:
        return "avro_ocf"

    def file_schema(self, path: str) -> StructType:
        with open(path, "rb") as f:
            head = io.BytesIO(f.read(1 << 20))
        avro_schema, _, _ = _read_header(head)
        return _spark_schema(avro_schema)

    def read_file(self, path: str, schema: StructType) -> Iterator[pa.RecordBatch]:
        arrow_schema = to_arrow_schema(schema)
        for rows in _iter_file_records(path):
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    def write_file(
        self, path: str, schema: StructType, batches: Iterator[pa.RecordBatch]
    ) -> None:
        _write_blocks(
            (b.to_pylist() for b in batches),
            _avro_schema(schema),
            path,
            self.options.get("codec", "null"),
        )
