"""tools/gen_plans.py --only splices sections into a copy of PLANS.md (no
Spark: the section builders and plan_of are stubs)."""

import importlib.util
import os
import shutil

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "gen_plans", os.path.join(ROOT, "tools", "gen_plans.py"))
gen_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(gen_plans)


def _stub_plan_of(df, maxlines):
    return f"STUB PLAN ({maxlines} lines)"


def test_only_rewrites_matching_sections_and_nothing_else(tmp_path):
    path = tmp_path / "PLANS.md"
    shutil.copy(os.path.join(ROOT, "PLANS.md"), path)
    before = path.read_text()
    secs = [(t, lambda: None, n) for t, _, n in gen_plans.sections(None)]
    title, = gen_plans.regenerate(path, secs, _stub_plan_of, "q50")
    head = f"## {title}\n\n```\n"
    start = before.index(head) + len(head)
    end = before.index("\n```\n", start)
    assert path.read_text() == before[:start] + "STUB PLAN (35 lines)" + before[end:]

    before = path.read_text()
    gen_plans.regenerate(path, [("new one", lambda: None, 7)], _stub_plan_of, "new")
    assert path.read_text() == (before.rstrip("\n") + "\n\n## new one\n\n"
                                "```\nSTUB PLAN (7 lines)\n```\n\n")
    with pytest.raises(SystemExit, match="no section title"):
        gen_plans.regenerate(path, secs, _stub_plan_of, "no such title")


def test_full_run_keeps_hand_written_sections(tmp_path):
    path = tmp_path / "PLANS.md"
    shutil.copy(os.path.join(ROOT, "PLANS.md"), path)
    hand = "## hand-written notes\n\n```\nkept as written\n```\n\nprose after it\n"
    path.write_text(path.read_text().rstrip("\n") + "\n\n" + hand)
    before = path.read_text()
    secs = [(t, lambda: None, n) for t, _, n in gen_plans.sections(None)]
    written = gen_plans.regenerate(path, secs, _stub_plan_of)
    text = path.read_text()
    assert written == [t for t, _, _ in secs]
    assert text.count("STUB PLAN") == len(secs)
    generated = {f"## {t}\n" for t in written}
    kept = [sec for sec in before.split("\n\n## ")[1:]
            if f"## {sec.splitlines()[0]}\n" not in generated]
    assert len(kept) >= 2 and all("\n\n## " + sec in text for sec in kept)
