"""One mechanism for the pure-Python file formats: Spark Python DataSources.

The reference scans Avro and Arrow IPC files as tables and lets users plug
custom table providers into the session (DataFusion ``TableProvider``;
datafusion.proto:1140-1162). Spark 4's Python DataSource API is the
idiomatic equivalent. ``register(spark)`` makes ``arrow_ipc``
(sources/arrow_ipc.py) and ``avro_ocf`` (sources/avro_datasource.py)
first-class ``spark.read.format(...)`` / ``df.write.format(...)`` sources,
usable from SQL via CREATE TABLE ... USING too. Both share what this module
holds:

- the lister: a path is a file, a directory (its files with the format's
  extension) or a glob, and each file is one input partition, so Spark
  schedules one read task per file;
- the reader, which yields each file's Arrow record batches;
- the writer's commit protocol. The driver draws a write id once per
  write and makes a hidden ``.<write id>`` directory, which readers skip.
  Each task writes its file there and reports its name; ``commit`` moves
  every reported file out as ``part-<pid>-<write id>``, so no file is
  readable before the whole write succeeds, two appends never collide and
  a retried task replaces its own file. ``commit`` then removes the
  hidden directory with any failed attempt's file, and an overwrite
  deletes the files this write did not produce, so a failed overwrite
  keeps the old data. ``abort`` removes the hidden directory. A task that
  Spark has given up on can still be running then; with the directory
  gone it cannot create its file.
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil
import uuid
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


def list_files(path: str, ext: str) -> list[str]:
    """The files a read of ``path`` covers; raises naming the path if none."""
    if any(c in path for c in "*?["):
        files = sorted(glob.glob(path))
    elif os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(ext)
        )
    else:
        files = [path]
    if not files:
        raise FileNotFoundError(f"no {ext} files at {path!r}")
    return files


class FileDataSource(DataSource):
    """Base of the file formats: a subclass names its ``ext`` and how to
    read one file's schema and batches and how to write one file."""

    ext: str

    def file_schema(self, path: str) -> StructType:
        raise NotImplementedError

    def read_file(self, path: str, schema: StructType) -> Iterator[pa.RecordBatch]:
        raise NotImplementedError

    def write_file(
        self, path: str, schema: StructType, batches: Iterator[pa.RecordBatch]
    ) -> None:
        raise NotImplementedError

    def schema(self) -> StructType:
        return self.file_schema(list_files(self.options["path"], self.ext)[0])

    def reader(self, schema: StructType) -> DataSourceReader:
        return _FileReader(self, schema)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceArrowWriter:
        return _FileWriter(self, schema, overwrite)


class _FileReader(DataSourceReader):
    def __init__(self, source: FileDataSource, schema: StructType):
        self._source = source
        self._schema = schema
        self._files = list_files(source.options["path"], source.ext)

    def partitions(self):
        return [InputPartition(p) for p in self._files]

    def read(self, partition: InputPartition) -> Iterator[pa.RecordBatch]:
        return self._source.read_file(partition.value, self._schema)


class _Written(WriterCommitMessage):
    def __init__(self, tmp: str | None = None, name: str | None = None):
        self.tmp = tmp  # what the task wrote
        self.name = name  # what commit renames it to


class _FileWriter(DataSourceArrowWriter):
    def __init__(self, source: FileDataSource, schema: StructType, overwrite: bool):
        self._source = source
        self._schema = schema
        self.path = source.options["path"]
        self.overwrite = overwrite
        self.write_id = uuid.uuid4().hex
        self.staging = os.path.join(self.path, f".{self.write_id}")
        os.makedirs(self.staging)

    def write(self, iterator: Iterator[pa.RecordBatch]) -> _Written:
        from pyspark import TaskContext

        batches = (b for b in iterator if b.num_rows)
        first = next(batches, None)
        if first is None:
            return _Written()  # empty partitions leave no file behind
        ctx = TaskContext.get()
        name = f"part-{ctx.partitionId():05d}-{self.write_id}{self._source.ext}"
        tmp = f"{name}.{ctx.attemptNumber()}"
        self._source.write_file(
            os.path.join(self.staging, tmp),
            self._schema,
            itertools.chain([first], batches),
        )
        return _Written(tmp, name)

    def commit(self, messages: list[_Written | None]) -> None:
        produced = set()
        for m in messages:
            if m is not None and m.tmp:
                os.replace(
                    os.path.join(self.staging, m.tmp), os.path.join(self.path, m.name)
                )
                produced.add(m.name)
        shutil.rmtree(self.staging, ignore_errors=True)
        if self.overwrite:
            for entry in os.scandir(self.path):
                if entry.is_file() and entry.name not in produced:
                    os.remove(entry.path)

    def abort(self, messages: list[_Written | None]) -> None:
        # A failed task sends no message but may have left a file.
        shutil.rmtree(self.staging, ignore_errors=True)


def register(spark) -> None:
    """Make ``arrow_ipc`` and ``avro_ocf`` available to ``spark.read`` and
    ``df.write`` in this session."""
    from datafusion_ballista_spark.sources.arrow_ipc import ArrowIpcDataSource
    from datafusion_ballista_spark.sources.avro_datasource import AvroOcfDataSource

    for source in (ArrowIpcDataSource, AvroOcfDataSource):
        spark.dataSource.register(source)
