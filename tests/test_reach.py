"""tools/reach.py: the by-name reachability trace (no Spark).

The pinned totals are a ratchet: a change that retires unreached code
lowers them in its diff; a change that raises them fails here."""

import importlib.util
import os
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "reach", os.path.join(ROOT, "tools", "reach.py"))
reach = importlib.util.module_from_spec(_spec)
sys.modules[_spec.name] = reach  # dataclasses look the module up
_spec.loader.exec_module(reach)

UNREACHED_LINES = 9670
DEAD_LINES = 103

SYNTHETIC = {
    "karta_spark/__init__.py": '__version__ = "0"\n',
    "karta_spark/core.py": """
        from karta_spark import other

        __all__ = ["used"]


        def used():
            return helper()


        def helper():
            return other.shared()


        def shared():
            return 0


        def tested():
            return 1


        def gate_only():
            return 2


        def dead():
            return 3


        _DEAD_TABLE = (
            1, 2)
    """,
    "karta_spark/other.py": """
        def shared():
            return 4
    """,
    "karta_spark/session.py": """
        def get():
            return "karta_spark.daemon"
    """,
    "karta_spark/daemon.py": """
        def main():
            return _loop()


        def _loop():
            return 5


        def _unused_in_daemon():
            return 6
    """,
    "__spark_entry__.py": """
        from karta_spark import session
        from karta_spark.core import gate_only, used as run_used


        def entry(spark):
            return session.get()


        def q01_a(spark, sf_dir):
            return run_used()


        def q60_b(spark, sf_dir):
            return gate_only()


        def queries():
            return {"q01_a": q01_a, "q60_b": q60_b}


        def oracle_sql():
            return {"q01_a": "SELECT 1", "q60_b": "SELECT 2"}
    """,
    "bench.py": """
        import __spark_entry__ as entry


        def run(spark, sf_dir):
            return entry.queries()["q01_a"](spark, sf_dir)
    """,
    "tests/test_core.py": """
        from karta_spark.core import tested


        def test_tested():
            assert tested() == 1
    """,
}


def test_tags_on_a_synthetic_package(tmp_path):
    for rel, text in SYNTHETIC.items():
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(textwrap.dedent(text))
    out = reach.summary(tmp_path)
    tags = {(mod, name): tag for mod, name, _, _, tag in out["symbols"]}
    assert tags == {
        # reached only from tests/, and from a gate outside q01-q50
        # (bench.py's queries() lookup reaches only q01-q50)
        ("karta_spark.core", "tested"): "test-only",
        ("karta_spark.core", "gate_only"): "test-only",
        ("karta_spark.core", "dead"): "dead",
        ("karta_spark.core", "_DEAD_TABLE"): "dead",
    }
    # used (through its alias), helper, and both `shared` (one name,
    # two modules) are reached; the daemon module is named by a string,
    # so all of it is a root; dunders are not symbols
    assert out["unreached_lines"] == 2 + 2 + 2 + 2
    assert out["dead_lines"] == 2 + 2


def test_real_tree_totals_are_pinned():
    out = reach.summary()
    assert (out["unreached_lines"], out["dead_lines"]) == (UNREACHED_LINES, DEAD_LINES)
