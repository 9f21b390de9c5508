"""Sources/sinks layer (SURVEY.md §2.2): parquet/csv/json are native Spark
readers; Arrow IPC and Avro are Spark Python DataSources on one shared
file-source mechanism (sources/datasource.py); the testdata registry loads
the driver's fixture tables with scale-aware defaults."""

from datafusion_ballista_spark.sources.registry import TABLES, load_table, tables

__all__ = ["TABLES", "load_table", "tables"]
