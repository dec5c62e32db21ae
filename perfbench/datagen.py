"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the engine reads (the TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``) as one parquet file each,
with the column names, types and value ranges of the engine's test data.
The same ``(seed, sf)`` always gives byte-identical tables, so the engine
only ever sees generated inputs and a run can be repeated exactly.

Run on its own to inspect a data set::

    python3 perfbench/datagen.py --seed 1 --sf 0.01 --out /path/to/sf0.01
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
WORDS = (
    "a the data spark query table column row key value join merge sort hash "
    "scan filter group agg order part line customer batch stream window "
    "vector big small fast slow"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.145, 0.15]

ORDER_START = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # last order date 2001-08-01
SHIP_START = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2498  # last ship date 2001-11-04
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86400 * 10**6
EMBED_DIM = 64


def _days(start: np.datetime64, offsets: np.ndarray) -> np.ndarray:
    return (start + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _labels(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; row counts scale with ``sf`` the way
    the engine's test data does (lineitem = 6,000,000 x sf)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_docs, n_vecs = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    keys = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": keys,
        "c_name": _labels("Customer", keys),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    keys = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": keys,
        "s_name": _labels("Supplier", keys),
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(ORDER_START, rng.integers(0, ORDER_DAYS + 1, n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _days(SHIP_START, rng.integers(0, SHIP_DAYS + 1, n_line)),
    })
    offs = np.sort(rng.integers(0, EVENTS_SPAN_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": EVENTS_START + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
    })
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts, pos = [], 0
    for n in lengths.tolist():
        texts.append(" ".join(WORDS[w] for w in words[pos:pos + n]))
        pos += n
    # 5% of documents are near-duplicates: another document's text plus
    # one marker token, the shape the dedup operators look for.
    dups = rng.choice(n_docs, size=n_docs // 20, replace=False)
    for i, j in zip(dups.tolist(), rng.integers(0, n_docs, len(dups)).tolist()):
        if i != j:
            texts[i] = texts[j] + " dup"
    doc_ids = np.arange(n_docs, dtype=np.int64)
    t["documents"] = pa.table({
        "doc_id": doc_ids,
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vecs * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)),
            pa.array(vecs.reshape(-1)),
        ),
        "label": rng.integers(0, 10, n_vecs, dtype=np.int32),
    })
    return t


def write_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(write_tables(a.seed, a.sf, a.out))
