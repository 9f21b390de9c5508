"""The package works outside the test harness: from any working
directory, and with ``assert`` statements stripped by ``python -O``."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent

_CWD_SCRIPT = r"""
import sys

sys.path.insert(0, sys.argv[1])

import pandas as pd
from pyspark.sql.functions import pandas_udf

from datafusion_ballista_spark.inventory.pipeline_train import bpe_token_lengths
from datafusion_ballista_spark.session import get_session

spark = get_session(master="local[2]", shuffle_partitions=2)
try:
    @pandas_udf("int")
    def tok_len(ws: pd.Series) -> pd.Series:
        # unpickled on the worker as a reference into the package
        return bpe_token_lengths(ws, [("a", "b")])

    df = spark.createDataFrame([("abab",), ("xyz",)], "w string")
    print("UDF_ROWS", sorted(r.n for r in df.select(tok_len("w").alias("n")).collect()))
finally:
    spark.stop()
"""


def test_python_udf_workers_import_package_from_any_cwd(tmp_path):
    """A pandas UDF that calls into the package runs from a working
    directory outside the repo: the workers find the package through
    the session's own settings, not through the caller's cwd or
    PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _CWD_SCRIPT, str(REPO)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "UDF_ROWS [2, 3]" in proc.stdout


_SCRATCH_SCRIPT = r"""
import os
import sys

sys.path.insert(0, sys.argv[1])

from datafusion_ballista_spark.inventory import all_queries
from datafusion_ballista_spark.session import get_session

local_dir = os.environ["SPARK_LOCAL_DIRS"]
specs = all_queries()
spark = get_session(master="local[2]", shuffle_partitions=2)
try:
    for name in sys.argv[3:]:
        print("ROWS", name, len(specs[name].spark(spark, sys.argv[2]).collect()))
finally:
    spark.stop()
# what the application left on disk once its context is stopped
for root in (os.getcwd(), local_dir):
    for d, _, files in os.walk(root):
        for f in files:
            print("LEFT", os.path.join(d, f))
"""

# The file-writing builders: each io_ops and streaming_cov entry that
# writes scratch files a different way.
_WRITERS = (
    "write_parquet_roundtrip",
    "bucketed_colocated_join",
    "stream_session_windows",
    "stream_foreach_batch_sink",
    "stream_checkpoint_resume",
)
# The machine-wide roots the builders once wrote to.
_SHARED_ROOTS = ("/tmp/dbspark_io", "/tmp/dbspark_stream")


def _tree(root: str) -> dict[str, int]:
    """Every path under ``root`` with its modification time."""
    out = {}
    for d, dirs, files in os.walk(root):
        for n in dirs + files:
            p = os.path.join(d, n)
            out[p] = os.lstat(p).st_mtime_ns
    return out


def test_builders_write_only_to_the_application_scratch_dir(tmp_path):
    """The file-writing builders keep their files in the application's
    own scratch dir under SPARK_LOCAL_DIRS: they touch no shared root,
    leave only Spark's empty ``spark-warehouse/`` in the working
    directory, and nothing they wrote outlives ``spark.stop()``."""
    from tests.conftest import SF_DIR

    cwd, local = tmp_path / "cwd", tmp_path / "local"
    cwd.mkdir()
    local.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(local)
    before = {r: _tree(r) for r in _SHARED_ROOTS}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRATCH_SCRIPT, str(REPO), SF_DIR, *_WRITERS],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=cwd,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    ran = [ln.split()[1] for ln in proc.stdout.splitlines() if ln.startswith("ROWS")]
    assert ran == list(_WRITERS)
    assert {r: _tree(r) for r in _SHARED_ROOTS} == before
    assert os.listdir(cwd) == ["spark-warehouse"]
    assert os.listdir(cwd / "spark-warehouse") == []
    left = [ln for ln in proc.stdout.splitlines() if ln.startswith("LEFT")]
    assert left == []


def test_package_has_no_assert_statements():
    """``python -O`` strips ``assert``; a guard in the package must raise
    a real exception so it holds under every interpreter flag."""
    pkg = REPO / "datafusion_ballista_spark"
    found = [
        f"{path.relative_to(REPO)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Assert)
    ]
    assert found == []


def _module_level_names(tree: ast.Module) -> list[tuple[str, int]]:
    """(name, line) for every name a module binds at its top level."""
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append((node.name, node.lineno))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out.extend(
                (n.id, node.lineno)
                for t in targets
                for n in ast.walk(t)
                if isinstance(n, ast.Name)
            )
    return out


def test_package_has_no_dead_private_helpers():
    """A private module-level name (``_x``, not a dunder) in the package
    must be used somewhere: a helper whose last caller was deleted is
    deleted with it. A use is a load of the name, an attribute or import
    of it, or a string equal to it (``getattr``/``monkeypatch`` targets),
    in any ``.py`` file of the repo outside the test suites: a helper only
    a test calls is dead code with a test attached."""
    tests = (REPO / "tests", REPO / "perfbench" / "tests")
    files = [
        p
        for p in REPO.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
        and not any(p.is_relative_to(t) for t in tests)
    ]
    used: set[str] = set()
    defined = []
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                used.add(node.value)
        if path.is_relative_to(REPO / "datafusion_ballista_spark"):
            defined += [
                (name, f"{path.relative_to(REPO)}:{line}")
                for name, line in _module_level_names(tree)
                if name.startswith("_") and not name.startswith("__")
            ]
    dead = sorted(where for name, where in defined if name not in used)
    assert dead == []
