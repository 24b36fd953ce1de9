"""Every oracle_sql() text of __spark_entry__ is byte-identical to the one
recorded in tests/data/oracle_sql_sha256.json.  A change that alters a
gate's oracle updates the JSON on purpose; any other change leaves it."""

import hashlib
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_oracle_texts_unchanged():
    import __spark_entry__ as m
    with open(os.path.join(ROOT, "tests", "data", "oracle_sql_sha256.json")) as f:
        want = json.load(f)
    got = {name: hashlib.sha256(sql.encode("utf-8")).hexdigest()
           for name, sql in m.oracle_sql().items()}
    assert sorted(got) == sorted(want)
    assert {n for n in got if got[n] != want[n]} == set()
