"""Keep every file the benchmarked program writes inside one directory.

Spark, its Python workers and the JVM honour ``SPARK_LOCAL_DIRS``,
``TMPDIR`` and ``java.io.tmpdir``; :func:`environment` points all of them
at the benchmark's work directory, and puts the package root on
``PYTHONPATH`` so Python UDF workers can import the package whatever the
working directory is.

The package also hard-codes two scratch roots, ``/tmp/dbspark_stream``
(streaming ingest staging, sinks, checkpoints) and ``/tmp/dbspark_io``
(write round-trips). :func:`redirect_scratch_roots` rewrites those string
constants in the loaded code, so the benchmark leaves the package's files
untouched and still writes nowhere outside its work directory.
"""

from __future__ import annotations

import importlib
import os
import types

SCRATCH_ROOTS = ("/tmp/dbspark_stream", "/tmp/dbspark_io")
_MODULES = (
    "datafusion_ballista_spark.streaming",
    "datafusion_ballista_spark.inventory.streaming_cov",
    "datafusion_ballista_spark.inventory.io_ops",
)


def environment(repo_root: str, work_dir: str) -> dict[str, str]:
    """Environment variables to set before the JVM is launched."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    return {
        "PYTHONPATH": repo_root + (os.pathsep + path if path else ""),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
    }


def _rewrite(code: types.CodeType, mapping: dict[str, str]) -> types.CodeType:
    consts = tuple(
        mapping.get(c, c)
        if isinstance(c, str)
        else _rewrite(c, mapping)
        if isinstance(c, types.CodeType)
        else c
        for c in code.co_consts
    )
    return code.replace(co_consts=consts)


def redirect_scratch_roots(work_dir: str) -> None:
    """Point the package's hard-coded /tmp scratch roots into ``work_dir``."""
    mapping = {
        root: os.path.join(work_dir, os.path.basename(root)) for root in SCRATCH_ROOTS
    }
    for name in _MODULES:
        mod = importlib.import_module(name)
        for attr, value in vars(mod).items():
            if isinstance(value, str) and value in mapping:
                setattr(mod, attr, mapping[value])
            elif (
                isinstance(value, types.FunctionType)
                and value.__module__ == name
            ):
                value.__code__ = _rewrite(value.__code__, mapping)
