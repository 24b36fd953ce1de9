"""Extra benchmarks for optimization work (guide §1.4): per-query noop-sink
isolation + explain("formatted") capture.  NOT the frozen driver bench —
bench.py stays the measurement contract; this file exists so plan shapes and
per-stage timings can be recorded without touching it.

Usage:
    python bench_extra.py                    # time headline queries (noop sink)
    python bench_extra.py --explain TAG      # dump plans to plans/r08/<q>_TAG.txt
    python bench_extra.py --only q09_knn     # restrict to one query
    python bench_extra.py --stages q21       # per-stage breakdown for a query

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0 here — optimization
rounds target the driver's escalated scale), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

import __spark_entry__ as entry

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "q01_pricing_summary", "q02_revenue_by_nation", "q06_tile_assign",
    "q07_pip_heptagon", "q09_knn", "q11_gridpoints", "q13_path_length",
    "q14_dedup_exact", "q17_ngram_jaccard", "q18_cosine_topk",
    "q21_minhash_pairs", "q25_pip_join_full",
]


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def get_session():
    from karta_spark.session import get_spark
    return get_spark("bench-extra", master=f"local[{CPUS}]",
                     shuffle_partitions=CPUS)


def time_queries(only=None, runs=2):
    spark = get_session()
    qs = entry.queries()
    names = [n for n in HEADLINE if only is None or n == only]
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    times = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        qs[name](spark, SF_DIR).count()  # warm
        best, n = 1e30, 0
        for _ in range(runs):
            t0 = time.monotonic()
            n = qs[name](spark, SF_DIR).count()
            best = min(best, time.monotonic() - t0)
        times[name] = round(best, 3)
        print(f"# {name}: {times[name]:.3f}s rows={n}", file=sys.stderr)
    print(json.dumps({"sf_dir": SF_DIR, "queries": times,
                      "total": round(sum(times.values()), 3)}))
    spark.stop()


def dump_plans(tag: str, only=None):
    os.makedirs("plans/r08", exist_ok=True)
    spark = get_session()
    qs = entry.queries()
    names = [n for n in HEADLINE if only is None or n == only]
    for name in names:
        df = qs[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = f"plans/r08/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


def stages_q21():
    """Per-stage timing for the q21 MinHash-LSH pipeline."""
    from karta_spark.operators import dedup as _dedup
    from pyspark.sql import functions as F

    spark = get_session()
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    d.count()

    t0 = time.monotonic()
    sigs = _dedup.minhash_signatures(d, "text", "doc_id", 64, 6, 42)
    _noop(sigs)
    t_sig = time.monotonic() - t0
    print(f"# signatures: {t_sig:.2f}s")

    t0 = time.monotonic()
    banded = _dedup._band_buckets(
        _dedup.minhash_signatures(d, "text", "doc_id", 64, 6, 42), 64, 8)
    _noop(banded)
    print(f"# banded: {time.monotonic() - t0:.2f}s")

    t0 = time.monotonic()
    out = _dedup.minhash_lsh_pairs(d, "text", "doc_id", num_perm=64, bands=8,
                                   shingle=6, threshold=0.5, verify=False)
    n_cand = out.count()
    print(f"# candidates (verify=False): {time.monotonic() - t0:.2f}s rows={n_cand}")

    t0 = time.monotonic()
    out = _dedup.minhash_lsh_pairs(d, "text", "doc_id", num_perm=64, bands=8,
                                   shingle=6, threshold=0.5)
    n = out.count()
    print(f"# full verify: {time.monotonic() - t0:.2f}s rows={n}")
    spark.stop()


if __name__ == "__main__":
    only = None
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1]
    if "--explain" in sys.argv:
        dump_plans(sys.argv[sys.argv.index("--explain") + 1], only)
    elif "--stages" in sys.argv:
        stages_q21()
    else:
        time_queries(only)
