"""Seeded generators for the benchmark's input tables.

`write_base` writes the ten fixture tables (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
schemas and value domains the registered queries expect, one parquet file
of one row group per table. `write_x10` writes the x10 shifted-union copy:
the fact tables (events, lineitem, orders, documents, embeddings) repeated
ten times with every copy's keys shifted by a seed-chosen offset, the
dimension tables copied once.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
FACTS = ["events", "lineitem", "orders", "documents", "embeddings"]
# the key column each fact copy shifts (events also shifts user_id)
FACT_KEYS = {"events": ["event_id", "user_id"], "lineitem": ["l_orderkey"],
             "orders": ["o_orderkey"], "documents": ["doc_id"],
             "embeddings": ["vec_id"]}
# every copy offset is a multiple of lcm(32, 7, 11) so event_id-derived
# columns (id % 16 slices, % 7 / % 11 window lengths) repeat exactly
OFFSET_STEP = 2464
COPY_STRIDE = 999999616

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green",
            "dark", "tiny", "bright", "smooth", "rough"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _ts(days_from, n_days, rng, n):
    base = np.datetime64(days_from, "D")
    return (base + rng.integers(0, n_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def base_tables(sf=0.1, seed=42):
    """The ten tables at scale factor `sf` as pyarrow Tables."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), int(20000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", 2498, rng, n_li)})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86400 * 1000000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + start
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, int(15000 * sf), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {k}}}' for k in range(100)])[rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(n_doc)]
    # one doc in twenty re-submits an earlier doc's text with a marker word
    for i in np.nonzero(rng.random(n_doc) < 0.05)[0]:
        j = int(rng.integers(0, n_doc))
        texts[i] = texts[j if j != i else (i + 1) % n_doc] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64).cast(
            pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def write_base(out_dir, sf=0.1, seed=42):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in base_tables(sf, seed).items():
        _write(out_dir, name, table)
    return out_dir


def copy_offsets(seed, copies=10):
    """Key offset of each copy: copy k lies in its own 1e9-wide key band,
    at a seed-chosen position inside it; copy 0 keeps the base keys."""
    rng = np.random.default_rng([seed, 10])
    return [0] + [k * COPY_STRIDE + OFFSET_STEP * int(rng.integers(0, 1000))
                  for k in range(1, copies)]


def write_x10(base_dir, out_dir, seed, copies=10):
    """Shifted-union copy of `base_dir`: each fact table becomes a directory
    of `copies` files, one per key-shifted copy; dimensions stay 1x."""
    os.makedirs(out_dir, exist_ok=True)
    offsets = copy_offsets(seed, copies)
    for name in TABLES:
        table = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        if name not in FACTS:
            _write(out_dir, name, table)
            continue
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        for k, off in enumerate(offsets):
            shifted = table
            for c in FACT_KEYS[name]:
                i = shifted.schema.get_field_index(c)
                shifted = shifted.set_column(
                    i, c, pa.compute.add(shifted.column(c), pa.scalar(off, pa.int64())))
            pq.write_table(shifted, os.path.join(tdir, f"part-{k:05d}.parquet"),
                           row_group_size=max(1, shifted.num_rows))
    return out_dir
