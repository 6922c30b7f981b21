"""Deterministic synthetic inputs for the benchmark.

The tables follow the schema and value domains of graft's TPC-H-ish
test corpus (region, nation, customer, supplier, part, orders and lineitem),
so every relational query in graft runs on them unchanged. Every value is drawn from a numpy generator seeded by the
caller: the same seed writes byte-identical parquet.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit of scale factor, as in the test corpus
CUSTOMERS, SUPPLIERS, PARTS, ORDERS, LINEITEMS = 150_000, 10_000, 200_000, 1_500_000, 6_000_000
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "green", "black", "small", "large", "shiny", "rusty"]
PART_NOUN = ["anvil", "bolt", "widget", "ring", "gear", "spring", "valve", "nut"]
ORDER_DAY0 = np.datetime64("1995-01-01")
SHIP_DAY0 = np.datetime64("1995-01-02")
ROW_GROUP = 100_000


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=ROW_GROUP)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(day0, rng, span, n):
    return pa.array((day0 + rng.integers(0, span, n)).astype("datetime64[us]"),
                    pa.timestamp("us"))


def _keyed(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys])


def relational(out_dir, sf, seed):
    """The star schema at scale factor `sf` (lineitem = 6M × sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(CUSTOMERS * sf), int(SUPPLIERS * sf), int(PARTS * sf)
    n_ord, n_line = int(ORDERS * sf), int(LINEITEMS * sf)
    i32 = lambda a: pa.array(a, pa.int32())
    _write(out_dir, "region", {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    _write(out_dir, "nation", {"n_nationkey": i32(range(25)),
                               "n_name": [f"NATION_{k}" for k in range(25)],
                               "n_regionkey": i32([k % 5 for k in range(25)])})
    ck = np.arange(n_cust)
    _write(out_dir, "customer", {
        "c_custkey": ck, "c_name": _keyed("Customer", ck),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp)
    _write(out_dir, "supplier", {
        "s_suppkey": sk, "s_name": _keyed("Supplier", sk),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(out_dir, "part", {
        "p_partkey": pk, "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{b}" for b in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord), "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(ORDER_DAY0, rng, 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(SHIP_DAY0, rng, 2498, n_line)})
