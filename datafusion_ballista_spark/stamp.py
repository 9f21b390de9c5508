"""Artifact stamping shared by every bench/gate entry point.

One implementation so the dirty-detection rules cannot drift between
``tools/bench_star.py`` and ``tools/local_correctness.py`` (round-9
ADVICE: verbatim copies could diverge silently).
"""

from __future__ import annotations

import os
import subprocess


def git_sha() -> str:
    """HEAD SHA (``-dirty`` when the tree has uncommitted or untracked
    changes): binds every BENCH_*/LOCAL_CORRECTNESS_* artifact to the
    commit it measured."""
    try:
        root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
        sha = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=root, capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        dirty = subprocess.run(
            ["git", "status", "--porcelain"],
            cwd=root, capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        return (sha + ("-dirty" if dirty else "")) if sha else "unknown"
    except Exception:
        return "unknown"
