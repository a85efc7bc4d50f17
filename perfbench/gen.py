"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-ish star the engine reads (region, nation, customer,
supplier, part, orders, lineitem, documents) as single-file parquet,
with the same physical types as the repo's reference test data:
INT64 keys, UTF8 strings, TIMESTAMP(MICROS, not UTC-adjusted) dates.
The same (sf, seed) always yields byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = ["cold", "small", "red", "hot", "old", "large", "blue", "new"]
NOUN = ["widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window data order join small customer query big column group "
         "stream filter vector").split()
EPOCH_1995 = 788_918_400  # 1995-01-01T00:00:00Z, seconds


def _ts(days):
    return pa.array((EPOCH_1995 + days.astype(np.int64) * 86400) * 1_000_000,
                    type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tables(sf, seed):
    """Returns {table name: {column: pyarrow array}} for scale `sf`."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(150, int(150_000 * sf)), max(12, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)}
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900.0, 450_000.0, n_ord), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord)),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}
    # ~4 lines per order (0..13); line numbers repeat within an order by
    # design, like the reference data.
    per = np.clip(rng.binomial(13, 0.3, n_ord), 0, 13)
    okey = np.repeat(np.arange(n_ord), per)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(1, 2500, n_li))}
    # Documents: random word strings; every 70th document is a shuffled
    # copy of the one 10 ids earlier, so the near-dup queries find pairs.
    texts = []
    for i in range(n_docs):
        if i % 70 == 0 and i >= 10:
            w = texts[i - 10].split()
            rng.shuffle(w)
        else:
            w = list(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(8, 90))])
        texts.append(" ".join(w))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    t["documents"] = {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, 7, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())}
    return t


def write(out, sf, seed, delta_frac=0.0, delta_dir=None):
    """Writes the tables under `out`. With `delta_dir`, also writes a
    delta copy there: a seeded `delta_frac` sample of orders with all
    their lineitems, every other table copied unchanged."""
    os.makedirs(out, exist_ok=True)
    t = tables(sf, seed)
    for name, cols in t.items():
        _write(out, name, cols)
    if delta_dir:
        os.makedirs(delta_dir, exist_ok=True)
        orders = pa.table(t["orders"])
        keep = np.random.default_rng(seed + 1).random(orders.num_rows) < delta_frac
        picked = orders.filter(pa.array(keep))
        li = pa.table(t["lineitem"])
        in_delta = np.isin(li.column("l_orderkey").to_numpy(),
                           picked.column("o_orderkey").to_numpy())
        for name in t:
            if name == "orders":
                pq.write_table(picked, os.path.join(delta_dir, "orders.parquet"))
            elif name == "lineitem":
                pq.write_table(li.filter(pa.array(in_delta)),
                               os.path.join(delta_dir, "lineitem.parquet"))
            else:
                _write(delta_dir, name, t[name])
    return {name: len(next(iter(cols.values()))) for name, cols in t.items()}
