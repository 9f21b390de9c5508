"""Arrow IPC files as the ``arrow_ipc`` data source.

The reference scans Arrow IPC files as tables (datafusion.proto:1159-1162;
client test should_execute_sql_collect_from_arrow_file,
ballista/client/tests/context_checks.rs:1319). Spark has no native IPC
reader, so this format plugs into the shared file-source mechanism
(sources/datasource.py): one read task per file streams the file's record
batches, and each write task streams its partition's batches into one IPC
file. Reads accept the IPC file format and fall back to the stream format.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
import pyarrow.ipc as ipc
from pyspark.sql.types import StructType

from datafusion_ballista_spark.sources.datasource import FileDataSource


def _open(path: str):
    try:
        return ipc.open_file(path)
    except pa.ArrowInvalid:
        return ipc.open_stream(path)


class ArrowIpcDataSource(FileDataSource):
    """``spark.read.format("arrow_ipc")`` / ``df.write.format("arrow_ipc")``."""

    ext = ".arrow"

    @classmethod
    def name(cls) -> str:
        return "arrow_ipc"

    def file_schema(self, path: str) -> StructType:
        # Straight from the Arrow schema, so nullable ints stay ints and
        # empty files still carry types.
        from pyspark.sql.pandas.types import from_arrow_schema

        with _open(path) as r:
            return from_arrow_schema(r.schema)

    def read_file(self, path: str, schema: StructType) -> Iterator[pa.RecordBatch]:
        with _open(path) as r:
            if isinstance(r, ipc.RecordBatchStreamReader):
                yield from r
            else:
                for i in range(r.num_record_batches):
                    yield r.get_batch(i)

    def write_file(
        self, path: str, schema: StructType, batches: Iterator[pa.RecordBatch]
    ) -> None:
        first = next(batches)
        with ipc.new_file(path, first.schema) as w:
            w.write_batch(first)
            for batch in batches:
                w.write_batch(batch)
