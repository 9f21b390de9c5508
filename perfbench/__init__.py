"""Benchmark of the datafusion_ballista_spark engine; see run.py."""
