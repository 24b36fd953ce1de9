"""Generate driver-shaped synthetic tables at an arbitrary scale factor.

MEASUREMENT-ONLY tool: the driver generates its own data for scoring; this
exists so optimization rounds can measure at the driver's escalated scale
(BENCH_r07.json recorded sf=1.0) when only sf<=0.1 ships in /root/testdata.
Distributions mirror the shipped sf0.1 tables (TPC-H-ish star schema +
events + documents + embeddings); layout matches the driver's too: ONE
parquet file with ONE row group per table, which is exactly the
single-task-scan shape the round-8 operator guards must handle.

Usage:  python tools/gen_sf.py 1.0 [OUT_DIR]

OUT_DIR defaults to sf<N> under the system temp directory, never the
read-only shipped test data.
"""

from __future__ import annotations

import os
import sys
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "join", "shuffle", "cache", "plan",
]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PNOUNS = ["ring", "bolt", "screw", "washer", "nut", "gear", "cog", "pin"]
PADJS = ["large", "hot", "small", "cold", "red", "blue", "green", "dim"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = (["en"] * 8 + ["zh"] * 3 + ["es"] * 3 + ["fr"] * 3 + ["de"] * 3)
ETYPES = ["signup", "purchase", "view", "click", "error"]


def _write(df: pd.DataFrame, out_dir: str, name: str) -> None:
    # default 1Mi-row row groups reproduce the driver's layout (r8 finding:
    # sf1.0 tables are single files with 1-6 row groups; lineitem has 6)
    tbl = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")
    print(f"wrote {name}: {len(df)} rows", file=sys.stderr)


def generate(sf: float, out_dir: str, seed: int = 42) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    }), out_dir, "region")

    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), out_dir, "nation")

    k = np.arange(n_cust)
    _write(pd.DataFrame({
        "c_custkey": k.astype(np.int64),
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }), out_dir, "customer")

    k = np.arange(n_supp)
    _write(pd.DataFrame({
        "s_suppkey": k.astype(np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), out_dir, "supplier")

    k = np.arange(n_part)
    _write(pd.DataFrame({
        "p_partkey": k.astype(np.int64),
        "p_name": [f"{PADJS[i % 8]} {PNOUNS[(i // 8) % 8]}" for i in k],
        "p_brand": [f"Brand#{i % 25}" for i in k],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 2),
    }), out_dir, "part")

    k = np.arange(n_ord)
    odate = (np.datetime64("1995-01-01") +
             rng.integers(0, 2557, n_ord).astype("timedelta64[D]"))
    _write(pd.DataFrame({
        "o_orderkey": k.astype(np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord, p=[0.49, 0.49, 0.02]),
        "o_totalprice": np.round(rng.uniform(850.0, 555000.0, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }), out_dir, "orders")

    sdate = (np.datetime64("1995-01-01") +
             rng.integers(0, 2557, n_li).astype("timedelta64[D]"))
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": sdate.astype("datetime64[us]"),
    }), out_dir, "lineitem")

    ts = (np.datetime64("2024-01-01T00:00:00") +
          np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]"))
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(n_ev // 50, 1), n_ev).astype(np.int64),
        "event_type": rng.choice(ETYPES, n_ev),
        "value": np.round(rng.uniform(0.0, 200.0, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
    }), out_dir, "events")

    # documents: random word sequences from the small vocab (matches the
    # shipped corpus: 44-577 chars, ~297 mean; near-dups arise naturally
    # from vocab collisions at short lengths)
    lens = rng.integers(8, 100, n_doc)
    words = rng.choice(VOCAB, int(lens.sum()))
    texts = []
    pos = 0
    for ln in lens:
        texts.append(" ".join(words[pos:pos + ln]))
        pos += ln
    _write(pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), out_dir, "documents")

    centers = rng.normal(0.0, 1.0, (10, 64)).astype(np.float32)
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] +
            rng.normal(0.0, 0.35, (n_emb, 64)).astype(np.float32))
    _write(pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": [v for v in vecs.astype(np.float32)],
        "label": labels.astype(np.int32),
    }), out_dir, "embeddings")


if __name__ == "__main__":
    sf_arg = sys.argv[1] if len(sys.argv) > 1 else "1.0"
    sf = float(sf_arg)
    out = (sys.argv[2] if len(sys.argv) > 2
           else os.path.join(tempfile.gettempdir(), f"sf{sf_arg}"))
    generate(sf, out)
