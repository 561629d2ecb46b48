"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, table, size)``: numpy's
``SeedSequence`` derives one independent stream per table, and pyarrow
writes the files, so the same seed gives byte-identical parquet and a
different seed gives different rows. The program under test only ever
sees these files.

Two input sets, both in the ``sf_dir`` layout the query registry reads
(``{sf_dir}/{table}.parquet``):

- ``star``: the TPC-H-shaped star schema;
- ``text``: ``documents`` shaped like the registry's test corpus
  (31-word vocabulary, 10-99 tokens per doc, planted exact and near
  duplicates).
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 UTC in µs

VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()


def _rng(seed: int, table: str) -> np.random.Generator:
    # crc32, not hash(): str hashing is salted per process
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def _write(out_dir: str, name: str, cols: dict) -> dict:
    path = os.path.join(out_dir, f"{name}.parquet")
    table = pa.table(cols)
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def star_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Region/nation/customer/supplier/part/orders/lineitem at ``sf``
    (sf0.01 = 60k lineitem rows). Returns ``{table: {"rows", "bytes"}}``."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(40, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = n_ord * 4
    sizes = {}
    sizes["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    sizes["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    sizes["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[r.integers(0, 5, n_cust)],
    })
    r = _rng(seed, "supplier")
    sizes["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    r = _rng(seed, "part")
    adj = np.array(["large", "hot", "blue", "small", "green", "red", "cold", "shiny"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring"])
    sizes["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(
            np.char.add(adj[r.integers(0, 8, n_part)], " "),
            noun[r.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", (r.integers(1, 26, n_part)).astype(str)),
        "p_type": np.array(
            ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
        )[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    r = _rng(seed, "orders")
    days = 2400  # 1995-01-01 .. ~2001-08
    sizes["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995 + r.integers(0, days, n_ord) * DAY_US),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[r.integers(0, 5, n_ord)],
    })
    r = _rng(seed, "lineitem")
    sizes["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(r.uniform(900, 105_000, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995 + r.integers(0, days + 90, n_line) * DAY_US),
    })
    return sizes


def text_tables(out_dir: str, seed: int, n_docs: int) -> dict:
    """``documents`` with planted exact and near duplicates."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    lens = r.integers(10, 100, n_docs)
    texts = [" ".join(vocab[r.integers(0, len(vocab), n)]) for n in lens]
    # n_docs/50 planted copies, alternately exact and near (one marker
    # token appended)
    n_dup = max(2, n_docs // 50)
    for k in range(n_dup):
        src, dst = (int(x) for x in r.integers(0, n_docs, 2))
        if src != dst:
            texts[dst] = texts[src] if k % 2 else texts[src] + " dup"
    return {"documents": _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "de", "fr", "es", "zh"])[r.integers(0, 6, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })}
