"""Interleaved A/B of the perfbench end-to-end metrics: a base revision
against this checkout's working tree.

    python tools/ab.py --base HEAD~1 --workload pip_refine --seeds 501-510
    python tools/ab.py --base HEAD~1 --workload pip_tile,pip_refine,image_enrich --seeds 501-510

The base revision is extracted with ``git archive`` into a temporary
directory (removed when done).  For every seed and every workload,
``perfbench/run.py --trace 0`` runs once in each checkout for
BENCHMARK.json's ``run_seconds``, alternating which side runs first from
seed to seed.  One JSON record goes to standard output with one section
per workload: per end-to-end metric (from BENCHMARK.json) the median and
quartiles of each side and the number of seeds the working tree won, plus
every run's ``correct`` / ``attempted`` / ``failed``.

Each run also records its host-steal share, ``steal / (busy + steal)`` over
the machine's ``/proc/stat`` CPU ticks from the run's start to its end:
the share of CPU time that a shared host's hypervisor took from runnable
virtual CPUs.  Each workload's section carries the median share per side,
to tell a pair measured under other tenants' load from a real difference;
no run is dropped for it.
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


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over the machine's CPUs."""
    with open("/proc/stat") as f:
        user, nice, system, _, _, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


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


def run_pairs(workloads, seeds, base_dir, seconds, run=run_once, ticks=cpu_ticks) -> dict:
    """Run every workload once per side for each seed, alternating which
    side runs first from seed to seed; the runs, keyed by workload, each
    with its host-steal share."""
    runs = {w: [] for w in workloads}
    sides = [("base", base_dir), ("head", ROOT)]
    for i, seed in enumerate(seeds):
        for workload in workloads:
            for side, checkout in (sides if i % 2 == 0 else sides[::-1]):
                before = ticks()
                res = run(checkout, workload, seed, seconds)
                busy, steal = (t - t0 for t, t0 in zip(ticks(), before))
                runs[workload].append({"seed": seed, "side": side, **res,
                                       "steal_share": steal / (busy + steal)
                                       if busy + steal else 0.0})
                print(f"ab: {workload} seed {seed} {side}: "
                      f"correct={res['correct']}", file=sys.stderr)
    return runs


def steal_medians(runs: list[dict]) -> dict:
    """Median host-steal share of each side's runs."""
    return {side: statistics.median(r["steal_share"] for r in runs if r["side"] == side)
            for side in ("base", "head") if any(r["side"] == side for r in runs)}


def record(base, seeds, seconds, runs, better) -> dict:
    """The JSON record: one section (summary, steal medians and runs) per
    workload."""
    return {"base": base, "seeds": seeds, "seconds": seconds,
            "workloads": {w: {"metrics": summarize(r, better),
                              "steal_share": steal_medians(r), "runs": r}
                          for w, r in runs.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True,
                    help="workload name, or a comma-separated list of them")
    ap.add_argument("--seeds", required=True, help="inclusive range a-b")
    args = ap.parse_args(argv)
    workloads = [w for w in args.workload.split(",") if w]

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    base_dir = tempfile.mkdtemp(prefix="karta-ab-")
    try:
        archive = subprocess.run(["git", "archive", args.base], cwd=ROOT,
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", base_dir], input=archive, check=True)
        runs = run_pairs(workloads, parse_seeds(args.seeds), base_dir, seconds)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    print(json.dumps(record(args.base, args.seeds, seconds, runs, better)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
