"""Seeded generator for the benchmark's input tables.

Writes TPC-H-shaped `orders` and `lineitem` tables, one parquet file per
table, with the same column names and types as the engine's test data.
The same (seed, sf) always writes the same rows.

Usage: python3 perfbench/gen.py <out_dir> <seed> <sf> [table ...]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("orders", "lineitem")

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in us


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tables(seed, sf, wanted):
    rng = np.random.default_rng(seed)
    # one child stream per table, so generating a subset of the tables
    # gives the same rows as generating all of them
    streams = dict(zip(TABLES, rng.spawn(len(TABLES))))
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    out = {}

    def want(name):
        return name in wanted

    if want("orders"):
        r = streams["orders"]
        out["orders"] = pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1000, 500_000, n_ord),
            "o_orderdate": _ts(EPOCH_1995 + r.integers(0, 2404, n_ord) * DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    if want("lineitem"):
        r = streams["lineitem"]
        flags = np.array(["A", "N", "R"])[r.integers(0, 3, n_line)]
        out["lineitem"] = pa.table({
            "l_orderkey": r.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": r.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": r.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(r, 900, 105_000, n_line),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": flags,
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
            "l_shipdate": _ts(EPOCH_1995 + r.integers(1, 2500, n_line) * DAY_US)})
    return out


def write(out_dir, seed, sf, wanted=TABLES):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in gen_tables(seed, sf, set(wanted)).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
          sys.argv[4:] or TABLES)
