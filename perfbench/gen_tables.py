"""Seeded TPC-H-shaped tables for the `topology` workload.

Every value is a hash of (seed, row id, field tag), so one seed always
yields the same tables. Sku popularity follows u^2 over the part keys (a
few hot skus), and 5% of orders carry one item whose sku is missing from
`part`, so those orders never complete. Each table is written as
`<dir>/<name>.parquet/part-00000.parquet`, the layout Spark writes.
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDERS = 10000
CUSTOMERS = 2000
PARTS = 4000
SUPPLIERS = 200
MAX_ITEMS = 7
SKU_SKEW = 2.0
UNPRICED_PCT = 5

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH_1992 = 694224000  # 1992-01-01 in seconds


def _mix(x):
    """splitmix64 finalizer on a uint64 array (wrapping arithmetic)."""
    x = x ^ (x >> np.uint64(30))
    x = x * np.uint64(0xBF58476D1CE4E5B9)
    x = x ^ (x >> np.uint64(27))
    x = x * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def draw(seed, tag, n, *ids):
    """Uniform draw in [0, n) per row, keyed by the seed and a field tag."""
    h = np.full(len(ids[0]), (seed * 0x9E3779B97F4A7C15 + zlib.crc32(tag.encode()))
                & 0xFFFFFFFFFFFFFFFF, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i in ids:
            h = _mix(h ^ np.asarray(i, dtype=np.int64).astype(np.uint64))
    return (h % np.uint64(n)).astype(np.int64)


def retail_price(key):
    """TPC-H retail price of a part key, exact to the cent."""
    return (90000 + (key // 10) % 20001 + 100 * (key % 1000)) / 100.0


def _pick(names, idx):
    return pa.array(np.array(names, dtype=object)[idx], type=pa.string())


def _ts(seconds):
    return pa.array(seconds.astype("datetime64[s]").astype("datetime64[us]"),
                    type=pa.timestamp("us", tz="UTC"))


def _write(dir_, name, cols):
    os.makedirs(os.path.join(dir_, f"{name}.parquet"), exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet", "part-00000.parquet"))


def topology_tables(dir_, seed):
    r = np.arange(5)
    _write(dir_, "region", {"r_regionkey": pa.array(r, pa.int32()),
                            "r_name": _pick(REGIONS, r)})
    n = np.arange(25)
    _write(dir_, "nation", {"n_nationkey": pa.array(n, pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in n]),
                            "n_regionkey": pa.array(n % 5, pa.int32())})
    c = np.arange(1, CUSTOMERS + 1)
    _write(dir_, "customer", {
        "c_custkey": pa.array(c, pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in c]),
        "c_nationkey": pa.array(draw(seed, "c_nation", 25, c), pa.int32()),
        "c_acctbal": pa.array((draw(seed, "c_bal", 1100000, c) - 100000) / 100.0),
        "c_mktsegment": _pick(SEGMENTS, draw(seed, "c_seg", 5, c))})
    p = np.arange(1, PARTS + 1)
    _write(dir_, "part", {
        "p_partkey": pa.array(p, pa.int64()),
        "p_name": pa.array([f"part {i}" for i in p]),
        "p_brand": pa.array([f"Brand#{a + 1}{b + 1}" for a, b in
                             zip(draw(seed, "p_b1", 5, p), draw(seed, "p_b2", 5, p))]),
        "p_size": pa.array(draw(seed, "p_size", 50, p) + 1, pa.int32()),
        "p_retailprice": pa.array(retail_price(p))})
    o = np.arange(1, ORDERS + 1)
    _write(dir_, "orders", {
        "o_orderkey": pa.array(o, pa.int64()),
        "o_custkey": pa.array(draw(seed, "o_cust", CUSTOMERS, o) + 1, pa.int64()),
        "o_orderstatus": _pick(["F", "O", "P"], draw(seed, "o_status", 3, o)),
        "o_totalprice": pa.array((draw(seed, "o_price", 50000000, o) + 100000) / 100.0),
        "o_orderdate": _ts(EPOCH_1992 + draw(seed, "o_date", 2400 * 86400, o)),
        "o_orderpriority": _pick(PRIORITIES, draw(seed, "o_prio", 5, o))})

    items = draw(seed, "n_items", MAX_ITEMS, o) + 1
    ok = np.repeat(o, items)
    ln = np.arange(len(ok)) - np.repeat(np.cumsum(items) - items, items) + 1
    u = draw(seed, "sku", 1000000, ok, ln) / 1000000.0
    hot = np.floor(u ** SKU_SKEW * PARTS).astype(np.int64) + 1
    unpriced = (np.repeat(draw(seed, "unpriced", 100, o), items) < UNPRICED_PCT) & (ln == 1)
    partkey = np.where(unpriced, PARTS + 1 + draw(seed, "ghost", 1000, ok), hot)
    qty = (draw(seed, "qty", 50, ok, ln) + 1).astype(np.float64)
    _write(dir_, "lineitem", {
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(draw(seed, "supp", SUPPLIERS, ok, ln) + 1, pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(qty * retail_price(partkey)),
        "l_discount": pa.array(draw(seed, "disc", 11, ok, ln) / 100.0),
        "l_tax": pa.array(draw(seed, "tax", 9, ok, ln) / 100.0),
        "l_returnflag": _pick(["A", "N", "R"], draw(seed, "rflag", 3, ok, ln)),
        "l_linestatus": _pick(["F", "O"], draw(seed, "lstatus", 2, ok, ln)),
        "l_shipdate": _ts(EPOCH_1992 + draw(seed, "ship", 2500 * 86400, ok, ln))})
