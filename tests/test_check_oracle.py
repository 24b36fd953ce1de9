"""tools/check_oracle.py: the local replica of the driver's value gate."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(ROOT, "tools", "check_oracle.py")


def test_unknown_query_name_is_rejected(tmp_path):
    """A requested name that queries() lacks must fail before any Spark
    session starts or any parquet is read, not pass with 0 checked."""
    bogus = "q999_no_such_gate"
    r = subprocess.run([sys.executable, TOOL, str(tmp_path), bogus],
                       capture_output=True, text=True, timeout=120)
    out = r.stdout + r.stderr
    assert r.returncode == 2, out
    assert bogus in out
    assert "0 ok" not in out
