"""Interleaved A/B of the perfbench end-to-end metrics: a base revision
against this checkout's working tree.

    python tools/ab.py --base HEAD~1 --workload pip_refine --seeds 501-510

The base revision is checked out in a temporary ``git worktree`` (removed
when done).  For every seed, ``perfbench/run.py --trace 0`` runs once in
each checkout for BENCHMARK.json's ``run_seconds``, alternating which side
runs first.  One JSON record goes to standard output: per end-to-end
metric (from BENCHMARK.json) the median and quartiles of each side and the
number of seeds the working tree won, plus every run's ``correct`` /
``attempted`` / ``failed``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    """``"a-b"`` (inclusive) or ``"a"``."""
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def summarize(runs: list[dict], better: dict[str, str]) -> dict:
    """Per-metric summary of *runs* — dicts with ``seed``, ``side``
    (``"base"`` | ``"head"``) and ``metrics`` (name -> value; absent when
    the run failed).  *better* maps each metric to ``"higher"`` or
    ``"lower"``.  A seed counts as a pair when both sides report the
    metric; ``head_wins`` counts pairs where head is strictly better."""
    out = {}
    for name, direction in better.items():
        vals = {"base": {}, "head": {}}
        for r in runs:
            if name in r.get("metrics", {}):
                vals[r["side"]][r["seed"]] = r["metrics"][name]
        rec = {"better": direction}
        for side, by_seed in vals.items():
            if by_seed:
                q1, med, q3 = _quartiles(sorted(by_seed.values()))
                rec[side] = {"median": med, "q1": q1, "q3": q3, "n": len(by_seed)}
        seeds = sorted(set(vals["base"]) & set(vals["head"]))
        sign = 1.0 if direction == "higher" else -1.0
        rec["pairs"] = len(seeds)
        rec["head_wins"] = sum(sign * (vals["head"][s] - vals["base"][s]) > 0
                               for s in seeds)
        out[name] = rec
    return out


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"correct": False, "attempted": 0, "failed": 0,
                "error": f"exit {proc.returncode}: {proc.stderr[-400:]}"}
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range a-b")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    tmp = tempfile.mkdtemp(prefix="karta-ab-")
    base_dir = os.path.join(tmp, "base")
    subprocess.run(["git", "worktree", "add", "--detach", base_dir, args.base],
                   cwd=ROOT, check=True, capture_output=True)
    runs = []
    try:
        for i, seed in enumerate(parse_seeds(args.seeds)):
            sides = [("base", base_dir), ("head", ROOT)]
            for side, checkout in (sides if i % 2 == 0 else sides[::-1]):
                res = run_once(checkout, args.workload, seed, seconds)
                runs.append({"seed": seed, "side": side, **res})
                print(f"ab: seed {seed} {side}: correct={res['correct']}",
                      file=sys.stderr)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", base_dir],
                       cwd=ROOT, capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT, capture_output=True)
    print(json.dumps({
        "workload": args.workload, "base": args.base, "seeds": args.seeds,
        "seconds": seconds, "metrics": summarize(runs, better), "runs": runs,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
