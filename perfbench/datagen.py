"""Seeded generator of the program's input tables.

Writes the ten parquet tables the registry queries read (`region` ...
`embeddings`) in the column types and parquet layout of the sf0.001 test
data: same schemas, value domains and row counts, with every value drawn
from a numpy Generator seeded by the workload seed. The same seed gives
byte-identical files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
PART_NOUN = ["bolt", "gear", "ring", "widget", "rod", "plate", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small big query customer "
         "order stream filter group vector").split()
EMB_DIM = 64


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def tables(seed):
    """Every table as a pyarrow Table, drawn from one seeded Generator."""
    rng = np.random.default_rng(seed)
    n = ROWS
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    np_ = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(np_), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, np_),
                                              rng.choice(PART_NOUN, np_))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", 2400, no),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", 2500, nl)})
    ne = n["events"]
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, ne))
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["customer"], ne), i64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 90)))) for _ in range(nd)]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(nd), i64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{k % 20}" for k in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    nv = n["embeddings"]
    v = rng.standard_normal((nv, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32)})
    return out


def write(seed, data_dir):
    """Write every table to `data_dir/<name>.parquet`."""
    os.makedirs(data_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
