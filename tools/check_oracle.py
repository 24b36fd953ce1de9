"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at a given SF, compare row count,
schema shape, and order-insensitive values.

Usage: python tools/check_oracle.py [--json OUT.json] [sf_dir] [query ...]

A query name that queries() does not define exits with status 2 before
Spark starts, so a typo cannot pass with nothing checked.

--json writes a per-query record (status/rows/secs) — used to commit the
round's replica artifact (CORRECTNESS_local_rNN.json) so the gates past
the driver's 50-row snapshot leave a recorded trail.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from karta_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(str)
            except Exception:
                pass
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        problems.append(f"columns spark={sc} oracle={oc}")
        return problems
    if problems:
        return problems
    s, o = canon(spark_pdf), canon(oracle_pdf)
    for c in s.columns:
        sv, ov = s[c].to_numpy(), o[c].to_numpy()
        if np.issubdtype(s[c].dtype, np.floating) or np.issubdtype(o[c].dtype, np.floating):
            sv = sv.astype(float); ov = ov.astype(float)
            both_nan = np.isnan(sv) & np.isnan(ov)
            neq = ~both_nan & (sv != ov)
            if neq.any():
                i = int(np.argmax(neq))
                problems.append(f"col {c}: {int(neq.sum())} diffs, first idx {i}: "
                                f"spark={sv[i]!r} oracle={ov[i]!r} delta={sv[i]-ov[i]:.3e}")
        else:
            neq = sv.astype(str) != ov.astype(str)
            if neq.any():
                i = int(np.argmax(neq))
                problems.append(f"col {c}: {int(neq.sum())} diffs, first idx {i}: "
                                f"spark={sv[i]!r} oracle={ov[i]!r}")
    return problems


def main():
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    qs = entrymod.queries()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"unknown query name(s): {' '.join(unknown)}", file=sys.stderr)
        sys.exit(2)
    records: dict[str, dict] = {}
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    oracles = entrymod.oracle_sql()
    ok = fail = weak = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            records[name] = {"status": "FAIL", "err": f"spark: {e}"}
            fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"weak  {name}: rows={len(spark_pdf)} ({dt:.1f}s, no oracle)")
            records[name] = {"status": "weak", "spark_rows": len(spark_pdf),
                             "secs": round(dt, 2)}
            weak += 1
            continue
        try:
            oracle_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            records[name] = {"status": "FAIL", "err": f"oracle: {e}"}
            fail += 1
            continue
        problems = compare(name, spark_pdf, oracle_pdf)
        if problems:
            print(f"FAIL  {name} ({dt:.1f}s):")
            for p in problems:
                print(f"      {p}")
            records[name] = {"status": "FAIL", "problems": problems,
                             "spark_rows": len(spark_pdf),
                             "oracle_rows": len(oracle_pdf),
                             "secs": round(dt, 2)}
            fail += 1
        else:
            print(f"ok    {name}: rows={len(spark_pdf)} ({dt:.1f}s)")
            records[name] = {"status": "ok", "spark_rows": len(spark_pdf),
                             "oracle_rows": len(oracle_pdf),
                             "secs": round(dt, 2)}
            ok += 1
    print(f"\n{ok} ok, {weak} weak (rows-only), {fail} FAIL")
    if json_out:
        import json
        with open(json_out, "w") as fh:
            json.dump({"sf_dir": sf_dir, "total": len(records),
                       "ok": ok, "weak": weak, "fail": fail,
                       "queries": records}, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    spark.stop()
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
