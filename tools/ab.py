"""A/B comparison of two commits on the repo benchmark (``perfbench/``).

Usage, from anywhere inside the checkout::

    python tools/ab.py PARENT CHANGE --workload relational --pairs 10

Both refs are checked out as detached ``git worktree``s under the temporary
directory and removed on exit, error included. The refs must agree on
``perfbench/`` and ``BENCHMARK.json``, so both sides run the same benchmark.
Pair ``i`` runs ``perfbench/run.py --seed 1+i --seconds <run_seconds>`` once
per side, PARENT first on even pairs and CHANGE first on odd ones, with
``PYTHONPATH`` unset so each side imports its own package. One traced pair
(``--trace 1``) follows. Progress goes to stderr; the last stdout line is the
JSON summary:

- per end-to-end metric of ``BENCHMARK.json``: each side's runs, median,
  quartiles, spread and minimum, the pairs the change won, and three verdicts
  (:func:`verdicts`);
- per side: runs that failed, and failed / attempted operations;
- the traced pair's per-layer values for both sides (:func:`layer_values`),
  unranked: one traced sample per side does not tell a move from noise.

Exits 2 when the refs cannot be compared, 1 when a run failed, else 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import median, quartiles, spread  # noqa: E402

# The benchmark must be the same on both sides for the runs to compare.
BENCH_PATHS = ("perfbench", "BENCHMARK.json")
# The guide's rule: at least ten pairs, and at least nine tenths of them won.
GAIN_MIN_PAIRS = 10
GAIN_SHARE = 0.9
# Pair i runs with perfbench seed SEED + i on both sides.
SEED = 1


def schedule(pairs: int, seed: int) -> list[tuple[int, int, tuple[str, str]]]:
    """``(pair, seed, order)`` per pair: both sides of a pair share a seed,
    and side ``a`` runs first on even pairs."""
    return [(i, seed + i, ("a", "b") if i % 2 == 0 else ("b", "a")) for i in range(pairs)]


def parse_run(returncode: int, stdout: str) -> dict | None:
    """The result of one perfbench run, or None when it failed: a non-zero
    exit, or a last stdout line that is not a JSON result."""
    lines = stdout.strip().splitlines()
    if returncode != 0 or not lines:
        return None
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        return None
    return result if isinstance(result, dict) and "metrics" in result else None


def _better(x: float, y: float, higher: bool) -> bool:
    return x > y if higher else x < y


def side_stats(runs: list[float]) -> dict:
    q1, q2, q3 = quartiles(runs)
    return {
        "runs": runs,
        "median": median(runs),
        "quartiles": [q1, q2, q3],
        "spread": spread(runs),
        "min": min(runs),
    }


def verdicts(pairs: list[tuple[float | None, float | None]], bound: float, better: str) -> dict:
    """Compare one metric over the pairs run, ``(parent, change)`` per pair,
    None for a failed run.

    - ``gain``: at least ``GAIN_MIN_PAIRS`` pairs, the change wins at least
      ``GAIN_SHARE`` of all pairs run (ties and failed runs win nothing), and
      its median is better than the parent's by more than the distance
      between the parent's quartiles;
    - ``regression``: the change's median is worse than the parent's by more
      than ``bound``, a share of the parent's median;
    - ``unresolved``: either side's quartile spread is wider than ``bound``
      and not every change run beats every parent run, or a side has no
      successful run.
    """
    higher = better == "higher"
    a = [x for x, _ in pairs if x is not None]
    b = [y for _, y in pairs if y is not None]
    wins = sum(
        1 for x, y in pairs if x is not None and y is not None and _better(y, x, higher)
    )
    out = {"wins": wins, "pairs": len(pairs)}
    if not a or not b:
        return dict(out, gain=False, regression=False, unresolved=True)
    sa, sb = side_stats(a), side_stats(b)
    q1, _, q3 = sa["quartiles"]
    lead = sb["median"] - sa["median"] if higher else sa["median"] - sb["median"]
    disjoint = all(_better(y, x, higher) for x in a for y in b)
    return dict(
        out,
        a=sa,
        b=sb,
        gain=len(pairs) >= GAIN_MIN_PAIRS
        and wins >= GAIN_SHARE * len(pairs)
        and lead > q3 - q1,
        regression=-lead > bound * abs(sa["median"]),
        unresolved=max(sa["spread"], sb["spread"]) > bound and not disjoint,
    )


def layer_values(a: dict, b: dict) -> dict:
    """Per-layer metrics of the traced pair: ``{metric: {unit, a, b}}`` for
    the metrics both sides report, parent ``a`` and change ``b``."""
    return {
        name: {"unit": a[name]["unit"], "a": a[name]["value"], "b": b[name]["value"]}
        for name in sorted(set(a) & set(b))
    }


def summarize(bench: dict, runs: list[dict], traced: dict) -> dict:
    """The summary of a finished A/B. ``runs`` holds one record per pair:
    ``{"a": result or None, "b": result or None}``; ``traced`` the traced
    pair's records in the same form."""
    metrics = {}
    for m in bench["end_to_end"]:
        pairs = [
            tuple(r[s]["metrics"][m["name"]]["value"] if r[s] else None for s in "ab")
            for r in runs
        ]
        metrics[m["name"]] = dict(
            unit=m["unit"],
            better=m["better"],
            bound=m["bound"],
            **verdicts(pairs, m["bound"], m["better"]),
        )
    sides = {
        s: {
            "failed_runs": sum(1 for r in (*runs, traced) if r[s] is None),
            "attempted": sum(r[s]["attempted"] for r in (*runs, traced) if r[s]),
            "failed": sum(r[s]["failed"] for r in (*runs, traced) if r[s]),
        }
        for s in "ab"
    }
    layers = (
        layer_values(traced["a"]["metrics"], traced["b"]["metrics"])
        if traced["a"] and traced["b"]
        else None
    )
    if sides["b"]["failed"] > sides["a"]["failed"]:
        # a gain does not count when more operations fail than at the parent
        for m in metrics.values():
            m["gain"] = False
    return {"metrics": metrics, "sides": sides, "layers": layers}


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", ROOT, *args], check=True, capture_output=True, text=True
    ).stdout.strip()


def _stop(proc: subprocess.Popen) -> None:
    """SIGTERM, which perfbench turns into a teardown of its JVM; SIGKILL
    if that has not ended it in two minutes."""
    proc.terminate()
    try:
        proc.communicate(timeout=120)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()


def run_bench(tree: str, command: list[str], args: list[str], timeout: float) -> dict | None:
    """One perfbench run in ``tree``; its result, or None if it failed."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.Popen(
        [*command, *args], cwd=tree, env=env, text=True,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE,
    )
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        _stop(proc)
        out, err = "", f"timed out after {timeout:.0f} s"
    except BaseException:
        _stop(proc)
        raise
    result = parse_run(proc.returncode, out)
    if result is None:
        print(f"ab: run failed (exit {proc.returncode}):\n{err[-2000:]}", file=sys.stderr)
    return result


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent", help="ref of side a, the parent")
    p.add_argument("change", help="ref of side b, the change")
    p.add_argument("--workload", required=True, help="a workload of BENCHMARK.json")
    p.add_argument("--pairs", type=int, required=True)
    args = p.parse_args(argv)
    if args.pairs < 1:
        p.error("--pairs must be at least 1")
    try:
        shas = {s: _git("rev-parse", "--verify", f"{ref}^{{commit}}") for s, ref in
                (("a", args.parent), ("b", args.change))}
    except subprocess.CalledProcessError as ex:
        print(f"ab: unknown ref: {ex.stderr.strip()}", file=sys.stderr)
        return 2
    differ = _git("diff", "--name-only", shas["a"], shas["b"], "--", *BENCH_PATHS)
    if differ:
        print(f"ab: the refs differ in the benchmark:\n{differ}", file=sys.stderr)
        return 2
    bench = json.loads(_git("show", f"{shas['a']}:BENCHMARK.json"))
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"ab: no workload {args.workload!r} in BENCHMARK.json", file=sys.stderr)
        return 2
    seconds = bench["run_seconds"]

    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    tmp = tempfile.mkdtemp(prefix="ab-")
    trees = {s: os.path.join(tmp, s) for s in "ab"}
    try:
        for s in "ab":
            _git("worktree", "add", "--detach", trees[s], shas[s])

        def pair(i: int, seed: int, order, trace: int) -> dict:
            rec = {}
            for s in order:
                print(f"ab: pair {i} side {s} seed {seed} trace {trace}", file=sys.stderr)
                rec[s] = run_bench(
                    trees[s],
                    bench["command"],
                    ["--workload", args.workload, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", str(trace)],
                    timeout=60 * seconds,
                )
            return rec

        plan = schedule(args.pairs + 1, SEED)
        runs = [pair(i, seed, order, 0) for i, seed, order in plan[:-1]]
        traced = pair(*plan[-1], 1)
    finally:
        for s in "ab":
            subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", trees[s]],
                           capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "-C", ROOT, "worktree", "prune"], capture_output=True)

    summary = {
        "workload": args.workload,
        "pairs": args.pairs,
        "run_seconds": seconds,
        "parent": {"ref": args.parent, "commit": shas["a"]},
        "change": {"ref": args.change, "commit": shas["b"]},
        **summarize(bench, runs, traced),
    }
    print(json.dumps(summary))
    failed = any(summary["sides"][s]["failed_runs"] for s in "ab")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
