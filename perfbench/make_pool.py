#!/usr/bin/env python3
"""Extract the benchmark's input pool from the engine's sf0.1 fixture set.

    python3 perfbench/make_pool.py SF01_DIR

SF01_DIR is the sf0.1 fixture directory (the one `tools/make_sf1.py`
replicates). The pool is committed under perfbench/pool/, so a benchmark run
reads nothing outside the repository; gen.py draws every workload's inputs
from it. The pool keeps whole referential slices, so the seeded samples keep
the fixture's own distributions (orders per customer, lines per order,
events per user):

- region, nation, supplier, part, documents, embeddings: every row;
- customer: every 20th customer, with all its orders and their lineitems;
- events: every event of every 5th user, in event_id order.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb

POOL = Path(__file__).resolve().parent / "pool"

SELECTS = {
    "region": "SELECT * FROM region ORDER BY r_regionkey",
    "nation": "SELECT * FROM nation ORDER BY n_nationkey",
    "supplier": "SELECT * FROM supplier ORDER BY s_suppkey",
    "part": "SELECT * FROM part ORDER BY p_partkey",
    "customer": "SELECT * FROM customer WHERE c_custkey % 20 = 1 ORDER BY c_custkey",
    "orders": "SELECT * FROM orders WHERE o_custkey % 20 = 1 ORDER BY o_orderkey",
    "lineitem": (
        "SELECT * FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_custkey % 20 = 1) "
        "ORDER BY l_orderkey, l_linenumber"
    ),
    "events": "SELECT * FROM events WHERE user_id % 5 = 0 ORDER BY event_id",
    "documents": "SELECT * FROM documents ORDER BY doc_id",
    "embeddings": "SELECT * FROM embeddings ORDER BY vec_id",
}


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    src = sys.argv[1]
    POOL.mkdir(exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")  # one writer thread keeps row order and bytes stable
    for t in SELECTS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(src, t)}.parquet')")
    for t, q in SELECTS.items():
        path = POOL / f"{t}.parquet"
        con.execute(f"COPY ({q}) TO '{path}' (FORMAT PARQUET, COMPRESSION ZSTD)")
        n = con.execute(f"SELECT COUNT(*) FROM '{path}'").fetchone()[0]
        print(f"{t}: {n} rows, {path.stat().st_size} bytes")
    return 0


if __name__ == "__main__":
    sys.exit(main())
