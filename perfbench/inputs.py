"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: numpy's PCG64
generator drives all values, and files are written with pyarrow so
the bytes do not depend on Spark's partitioning. The program under
test only ever sees the files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# sf0.1 cardinalities of the TPC-H tables the batch workload mimics
LINEITEM_ROWS = 600_000
ORDERS_ROWS = 150_000
CUSTOMERS = 15_000
SMALL_ROWS = 6_000
GRAPH_EDGES = 12_000
GRAPH_NODES = 3_000

SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_WORDS = (
    "furiously quickly blithely carefully special pending final ironic "
    "regular express bold even silent deposits requests accounts packages "
    "theodolites pinto beans foxes ideas"
).split()
_EPOCH_1992 = np.datetime64("1992-01-01", "D")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def _comments(rng: np.random.Generator, n: int, pool: int = 512) -> np.ndarray:
    words = np.array(_WORDS, dtype=object)
    picks = rng.integers(0, len(words), size=(pool, 3))
    bank = np.array([" ".join(words[p]) for p in picks], dtype=object)
    return bank[rng.integers(0, pool, n)]


def _dates(rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    return _EPOCH_1992 + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=128 * 1024)


def _write_csv(table: pa.Table, path: str) -> None:
    pacsv.write_csv(table, path)


def _write_ndjson(table: pa.Table, path: str) -> None:
    with open(path, "w") as fh:
        for row in table.to_pylist():
            fh.write(json.dumps(row) + "\n")


def _file_stats(paths: dict[str, str], rows: dict[str, int]) -> dict:
    return {
        name: {"path": p, "rows": rows[name], "bytes": os.path.getsize(p)}
        for name, p in paths.items()
    }


def batch_inputs(seed: int, root: str) -> dict:
    """lineitem + orders (parquet) and a customer extract (CSV whose
    columns are all text, as an export from another system would be)."""
    rng = _rng(seed, 1)
    n = LINEITEM_ROWS
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(1, ORDERS_ROWS + 1, n),
            "l_partkey": rng.integers(1, 20_001, n),
            "l_suppkey": rng.integers(1, 1_001, n),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n)],
            "l_shipdate": _dates(rng, n, 2500),
            "l_shipmode": np.array(SHIPMODES, dtype=object)[rng.integers(0, 7, n)],
            "l_comment": _comments(rng, n),
        }
    )
    m = ORDERS_ROWS
    orders = pa.table(
        {
            "o_orderkey": np.arange(1, m + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, CUSTOMERS + 1, m),
            "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, m)],
            "o_totalprice": np.round(rng.uniform(1000.0, 400_000.0, m), 2),
            "o_orderdate": _dates(rng, m, 2400),
            "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, m)],
        }
    )
    c = CUSTOMERS
    acct = np.round(rng.uniform(-999.99, 9999.99, c), 2)
    acct_txt = np.array([f"{v:.2f}" for v in acct], dtype=object)
    # a few unparseable balances: type_conversion turns them to NULL
    acct_txt[rng.random(c) < 0.01] = "n/a"
    extract = pa.table(
        {
            "c_custkey": np.array([str(k) for k in range(1, c + 1)], dtype=object),
            "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, c)],
            "c_acctbal": acct_txt,
        }
    )
    paths = {
        "lineitem": os.path.join(root, "lineitem.parquet"),
        "orders": os.path.join(root, "orders.parquet"),
        "customers": os.path.join(root, "customers.csv"),
    }
    _write_parquet(lineitem, paths["lineitem"])
    _write_parquet(orders, paths["orders"])
    _write_csv(extract, paths["customers"])
    return _file_stats(paths, {"lineitem": n, "orders": m, "customers": c})


def small_inputs(seed: int, root: str) -> dict:
    """Four ~6k-row inputs in CSV, NDJSON and parquet."""
    rng = _rng(seed, 2)
    n = SMALL_ROWS
    tickets = pa.table(
        {
            "id": np.arange(n, dtype=np.int64),
            "status": np.array(["open", "closed", "pending"], dtype=object)[rng.integers(0, 3, n)],
            "note": _comments(rng, n, pool=64),
            "amount": np.round(rng.uniform(0.0, 500.0, n), 2),
        }
    )
    events = pa.table(
        {
            "user": np.array([f"u{k}" for k in rng.integers(0, 400, n)], dtype=object),
            "kind": np.array(["view", "click", "buy", "share"], dtype=object)[rng.integers(0, 4, n)],
            "amount": rng.integers(1, 1_000, n),
        }
    )
    left = pa.table(
        {
            "id": rng.permutation(np.arange(n, dtype=np.int64)),
            "region": np.array(["north", "south", "east", "west"], dtype=object)[rng.integers(0, 4, n)],
            "score": np.round(rng.normal(50.0, 15.0, n), 3),
        }
    )
    right_ids = rng.choice(np.arange(int(n * 1.5), dtype=np.int64), size=n, replace=False)
    right = pa.table(
        {
            "id": right_ids,
            "tier": np.array(["gold", "silver", "bronze"], dtype=object)[rng.integers(0, 3, n)],
        }
    )
    qty = rng.integers(0, 1_000, n).astype(object)
    qty_txt = np.array([str(v) for v in qty], dtype=object)
    qty_txt[rng.random(n) < 0.02] = "lots"
    active_txt = np.array(["true", "false", "yes", "no", "1", "0"], dtype=object)[rng.integers(0, 6, n)]
    active_txt[rng.random(n) < 0.02] = "maybe"
    ids = np.array([f"r{k}" for k in range(n)], dtype=object)
    ids[rng.random(n) < 0.03] = None
    raw = pa.table(
        {
            "id": pa.array(ids, type=pa.string()),
            "qty": pa.array(qty_txt, type=pa.string()),
            "active": pa.array(active_txt, type=pa.string()),
        }
    )
    paths = {
        "tickets": os.path.join(root, "tickets.csv"),
        "events": os.path.join(root, "events.ndjson"),
        "left": os.path.join(root, "left.parquet"),
        "right": os.path.join(root, "right.parquet"),
        "raw": os.path.join(root, "raw.csv"),
    }
    _write_csv(tickets, paths["tickets"])
    _write_ndjson(events, paths["events"])
    _write_parquet(left, paths["left"])
    _write_parquet(right, paths["right"])
    _write_csv(raw, paths["raw"])
    return _file_stats(paths, {k: n for k in paths})


def graph_inputs(seed: int, root: str) -> dict:
    """A directed part -> supplier style edge list (lineitem's
    partkey/suppkey pairs folded onto GRAPH_NODES ids). Nodes above the
    source range only receive edges, so the graph has dangling nodes
    and PageRank runs its redistribution path."""
    rng = _rng(seed, 3)
    n = GRAPH_EDGES
    part = rng.integers(1, 20_001, n)
    supp = rng.integers(1, 1_001, n)
    src = part % (GRAPH_NODES * 4 // 5)
    dst = (part * 7 + supp) % GRAPH_NODES
    edges = pa.table({"src": src.astype(np.int64), "dst": dst.astype(np.int64)})
    paths = {"edges": os.path.join(root, "edges.parquet")}
    _write_parquet(edges, paths["edges"])
    return _file_stats(paths, {"edges": n})


GENERATORS = {"batch": batch_inputs, "small": small_inputs, "graph": graph_inputs}


if __name__ == "__main__":
    # python3 inputs.py <seed> <out_dir> <set> [<set> ...]
    # Runs as its own process so the generator's arrays never count
    # toward the measured driver's peak RSS. Prints the file stats.
    import sys

    seed, out_dir = int(sys.argv[1]), sys.argv[2]
    stats = {}
    for name in sys.argv[3:]:
        stats.update(GENERATORS[name](seed, out_dir))
    print(json.dumps(stats))
