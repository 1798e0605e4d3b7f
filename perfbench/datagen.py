"""Seeded generator for the benchmark's input tables.

Writes the engine's ten catalog tables (`hiero_spark.catalog.TABLES`) as
one parquet file each, with the column names, types and value ranges of
the star-schema fixtures the engine is developed against.  Row counts
scale with `sf` like TPC-H (lineitem = 6M x sf).  The same (seed, sf)
always gives byte-identical values, so a run is reproducible from its
seed alone and never reads data from outside the checkout.

    python3 perfbench/datagen.py --seed 1 --sf 0.01 --out /path/to/dir
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["red", "blue", "hot", "cold", "new", "old", "large", "small"]
NOUN = ["bolt", "ring", "rod", "plate", "gear", "anvil", "nut", "pin"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(lo: str, hi: str, n: int, rng) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(a, b + 1, n)
    return d.astype("datetime64[D]").astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(n: int, rng) -> dict:
    lens = rng.integers(10, 101, n)
    ids = rng.integers(0, len(WORDS), int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(WORDS[i] for i in ws) for ws in np.split(ids, cuts)]
    # ~5% near-duplicates (a copy of an earlier document plus one token)
    # and a handful of exact copies: the dedup and near-dup queries need
    # something to find.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for _ in range(max(1, n // 600)):
        i, j = (int(x) for x in rng.integers(0, n, 2))
        texts[j] = texts[i]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_li = max(6_000, round(6_000_000 * sf))
    n_ev = max(1_000, round(1_000_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    i32 = np.int32

    out: dict[str, dict] = {}
    out["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": pa.array(REGIONS),
    }
    out["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
    }
    out["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array(_names("Customer", n_cust)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
        "c_acctbal": pa.array(_money(-999.99, 9999.99, n_cust, rng)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }
    out["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array(_names("Supplier", n_supp)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
        "s_acctbal": pa.array(_money(-999.99, 9999.99, n_supp, rng)),
    }
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(
            [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1)),
    }
    out["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(1000.0, 500000.0, n_ord, rng)),
        "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n_ord, rng)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }
    out["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(i32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(900.0, 105000.0, n_li, rng)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n_li, rng)),
    }
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span, n_ev)) + t0
    out["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    out["documents"] = _documents(n_doc, rng)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(i32)),
    }
    return {name: pa.table(cols) for name, cols in out.items()}


def write(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table to `out_dir/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tb in tables(seed, sf).items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tb.num_rows
    return counts


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(write(a.seed, a.sf, a.out))
