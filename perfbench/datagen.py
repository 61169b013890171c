"""Deterministic TPC-H-shaped input tables for the benchmark.

Writes the tables ``grip_spark.tpch.tpch_graph`` maps onto a property
graph (region, nation, customer, supplier, part, orders, lineitem) as
single parquet files.  The content depends only on ``scale``: the
benchmark seed drives the query stream and write batches, not the
data, so runs with different seeds time the same graph.

Row counts follow the TPC-H ratios (per ``scale`` = 1.0: 150k
customers, 10k suppliers, 200k parts, 1.5M orders, ~4 lineitems per
order, 4 suppliers per part), floored so the tiny test scale still
has every label populated.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20140901
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
FLAGS = ["A", "N", "R"]
LINESTATUS = ["F", "O"]
TYPE_SIZE = ["SMALL", "MEDIUM", "LARGE", "STANDARD", "ECONOMY", "PROMO"]
TYPE_METAL = ["BRASS", "COPPER", "NICKEL", "STEEL", "TIN"]
NAME_WORDS = ["red", "blue", "small", "large", "steel", "ring", "rod", "widget", "gear", "plate"]


def sizes(scale: float) -> dict[str, int]:
    return {
        "customer": max(60, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(80, int(200_000 * scale)),
        "orders": max(400, int(1_500_000 * scale)),
    }


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns ``{table: rows}``."""
    rng = np.random.default_rng(DATA_SEED)
    n = sizes(scale)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    words = np.asarray(NAME_WORDS, dtype=object)
    w1 = words[rng.integers(0, len(words), npart)]
    w2 = words[rng.integers(0, len(words), npart)]
    tsize = np.asarray(TYPE_SIZE, dtype=object)[rng.integers(0, len(TYPE_SIZE), npart)]
    tmetal = np.asarray(TYPE_METAL, dtype=object)[rng.integers(0, len(TYPE_METAL), npart)]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(w1, w2)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [f"{a} {b}" for a, b in zip(tsize, tmetal)],
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": _money(rng, 900.0, 2000.0, npart),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": _pick(rng, STATUSES, no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    # 1..7 lines per order (mean 4); each line's supplier is one of the
    # part's 4 suppliers, so `supplied` has ~4 edges per part
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    l_order = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = (np.arange(nl) - starts + 1).astype(np.int32)
    l_part = rng.integers(0, npart, nl).astype(np.int64)
    l_supp = ((l_part + rng.integers(0, 4, nl) * max(1, ns // 4)) % ns).astype(np.int64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": l_part,
            "l_suppkey": l_supp,
            "l_linenumber": l_num,
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_returnflag": _pick(rng, FLAGS, nl),
            "l_linestatus": _pick(rng, LINESTATUS, nl),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def generate_documents(out_dir: str, seed: int) -> int:
    """Write ``documents.parquet`` (``workloads.corpus_documents``)."""
    from workloads import corpus_documents

    rows, _ = corpus_documents(seed)
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                      "text": [r[1] for r in rows], "source": [r[2] for r in rows]})
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return table.num_rows


def main(argv=None) -> int:
    """``datagen.py OUT_DIR --scale S [--docs-seed N]``: run as its own
    process, so generating the inputs never counts toward the
    benchmark's peak memory."""
    import argparse

    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument("out_dir")
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--docs-seed", type=int)
    args = ap.parse_args(argv)
    generate(args.out_dir, args.scale)
    if args.docs_seed is not None:
        generate_documents(args.out_dir, args.docs_seed)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
