"""tools/ab.py: the summary of an interleaved A/B (no Spark, no runs)."""

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "ab", os.path.join(ROOT, "tools", "ab.py"))
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def _run(seed, side, **metrics):
    return {"seed": seed, "side": side, "correct": True, "attempted": 3,
            "failed": 0, "metrics": metrics}


def test_parse_seeds():
    assert ab.parse_seeds("501-505") == [501, 502, 503, 504, 505]
    assert ab.parse_seeds("7") == [7]


def test_summarize_medians_quartiles_and_wins():
    runs = []
    for seed, (b, h) in enumerate([(10, 12), (11, 15), (12, 11), (13, 16), (14, 18)]):
        runs.append(_run(seed, "base", rows_per_s=b, setup_s=2.0 + seed))
        runs.append(_run(seed, "head", rows_per_s=h, setup_s=2.5 + seed))
    runs.append({"seed": 9, "side": "head", "correct": False, "attempted": 0,
                 "failed": 0, "error": "exit 1"})  # a failed run is no pair
    out = ab.summarize(runs, {"rows_per_s": "higher", "setup_s": "lower"})

    rps = out["rows_per_s"]
    assert rps["base"] == {"median": 12, "q1": 11, "q3": 13, "n": 5}
    assert rps["head"]["median"] == 15 and rps["head"]["n"] == 5
    assert rps["pairs"] == 5 and rps["head_wins"] == 4
    # lower is better: head is slower to set up on every seed
    assert out["setup_s"]["head_wins"] == 0 and out["setup_s"]["pairs"] == 5


def test_summarize_missing_metric_and_single_run():
    runs = [_run(1, "base", rows_per_s=3.0)]
    out = ab.summarize(runs, {"rows_per_s": "higher", "ok_frac": "higher"})
    assert out["rows_per_s"]["base"] == {"median": 3.0, "q1": 3.0, "q3": 3.0, "n": 1}
    assert "head" not in out["rows_per_s"] and out["rows_per_s"]["pairs"] == 0
    assert out["ok_frac"] == {"better": "higher", "pairs": 0, "head_wins": 0}


def test_run_pairs_interleaves_every_workload_and_records_sections():
    calls = []

    def fake_run(checkout, workload, seed, seconds):
        side = "base" if checkout == "BASE" else "head"
        calls.append((seed, workload, side))
        return {"correct": True, "attempted": 2, "failed": 0,
                "metrics": {"rows_per_s": seed + (1.0 if side == "head" else 0.0)}}

    runs = ab.run_pairs(["pip_tile", "image_enrich"], [5, 6], "BASE", 3, run=fake_run)
    assert calls == [(5, "pip_tile", "base"), (5, "pip_tile", "head"),
                     (5, "image_enrich", "base"), (5, "image_enrich", "head"),
                     (6, "pip_tile", "head"), (6, "pip_tile", "base"),
                     (6, "image_enrich", "head"), (6, "image_enrich", "base")]
    rec = ab.record("HEAD~1", "5-6", 3, runs, {"rows_per_s": "higher"})
    assert list(rec["workloads"]) == ["pip_tile", "image_enrich"]
    for section in rec["workloads"].values():
        assert len(section["runs"]) == 4
        assert section["metrics"]["rows_per_s"]["pairs"] == 2
        assert section["metrics"]["rows_per_s"]["head_wins"] == 2
    assert (rec["base"], rec["seeds"], rec["seconds"]) == ("HEAD~1", "5-6", 3)
