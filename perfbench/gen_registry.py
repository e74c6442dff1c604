"""Seeded generator for the registry's driver tables.

Writes the ten parquet tables the query registry reads (`schemas.
DRIVER_TABLES`) with the column types and value domains of the
TPC-H-shaped test data the registry was written against: dense 0-based
keys, uniform marginals, a 30-word document vocabulary, unit-norm
64-d embeddings.  `scale` plays the role of the TPC-H scale factor
(scale 0.1 gives 600k lineitem rows).

Two kinds of document duplicates are planted, and their counts are the
ground truth for the rows-only similarity queries: exact copies
(Jaccard 1, SimHash distance 0) and copies with one extra trailing
token (Jaccard n/(n+1) >= 0.9).  Unplanted documents are independent
draws, so pairs among them sit far below every similarity threshold.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)


@dataclass(frozen=True)
class PlantedDups:
    exact: int  # pairs with identical text
    near: int  # pairs differing by one appended token


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (hi_d - lo_d).astype(np.int64) + 1, n)
    return (lo_d + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, scale: float) -> PlantedDups:
    """Write the driver tables under out_dir; return the planted
    duplicate-pair counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(1, int(v * scale)) for k, v in {
        "customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
        "documents": 50_000, "embeddings": 20_000, "users": 15_000}.items()}

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    i32 = pa.int32()
    put("region", {"r_regionkey": pa.array(range(5), i32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), i32),
                   "n_name": [f"NATION_{k}" for k in range(25)],
                   "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    c = n["customer"]
    put("customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, c)]})
    s = n["supplier"]
    put("supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "green"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"])
    put("part", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, p)], " "),
                              noun[rng.integers(0, 8, p)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                            "PROMO"])[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": 900.0 + (np.arange(p) % 1000) / 10.0})
    o = n["orders"]
    put("orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _dates(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, o)]})
    li = n["lineitem"]
    flag_status = rng.integers(0, 6, li)
    put("lineitem", {
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flag_status % 3],
        "l_linestatus": np.array(["O", "F"])[flag_status // 3],
        "l_shipdate": _dates(rng, li, "1995-01-02", "2001-11-04")})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, e))
    put("events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], e),
        "event_type": np.array(["view", "click", "purchase", "signup",
                                "error"])[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})

    d = n["documents"]
    lens = rng.integers(10, 101, d)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # plant duplicates: a copy replaces a later document, sourced from
    # an earlier one that is itself never overwritten
    n_pairs = max(2, d // 40)
    src = rng.choice(d // 2, n_pairs, replace=False)
    dst = d // 2 + rng.choice(d - d // 2, n_pairs, replace=False)
    exact = n_pairs // 8
    for k, (a, b) in enumerate(zip(src, dst)):
        texts[b] = texts[a] if k < exact else texts[a] + " dup"
    put("documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, d, p=LANG_P)],
        "source": [f"src{k % 20}" for k in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), i32)})
    return PlantedDups(exact=exact, near=n_pairs - exact)
