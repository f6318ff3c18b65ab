"""Seeded input generator for the benchmark.

Writes one directory with the engine's ten fixture tables, drawn with DuckDB
from the pool in perfbench/pool/ (an extract of the sf0.1 fixture set, see
make_pool.py). Like `tools/make_sf1.py`, it copies real rows and only
remaps keys; it makes up no values. DuckDB runs single-threaded, so one
seed gives byte-identical files on every run.

What the seed (with the workload name and batch number) controls:
- which customers, orders, event users, documents and embeddings are drawn;
- the row order of every table but events;
- the key offsets of customer, supplier, part, orders and events (foreign
  keys move with their parents, so join shapes do not change);
- for documents and embeddings, the share of rows that duplicate another
  drawn row: 1-4 % exact document copies, 2-5 % near copies (the copied
  text without its first word) and 1-4 % exact embedding copies. The exact
  share stays below the engine's 5 % exact-collapse gate, so the plan of
  the near-dup chain does not flip with the seed.

Events keep event_id order, because the stream operators replay them in
arrival order. Document and embedding ids are renumbered from 0, because
the ANN serve operators use ids <= 10 as standing queries.
"""

from __future__ import annotations

import math
import os
import random
from pathlib import Path

import duckdb

POOL = Path(__file__).resolve().parent / "pool"

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# drawn users per requested event row: the pool has about 66 events per
# user, so 1/50 of a user per row always leaves enough to draw from
EVENTS_PER_USER = 50


def _selects(sizes: dict[str, int], rnd: random.Random) -> dict[str, str]:
    """One SELECT per table over the pool views, for one seeded draw."""
    salt = rnd.randrange(1 << 31)
    c_off, s_off, p_off, o_off, e_off = (rnd.randrange(100) * 1_000_000 for _ in range(5))
    n_cust, n_ord, n_ev = sizes["customer"], sizes["orders"], sizes["events"]
    n_doc, n_emb = sizes["documents"], sizes["embeddings"]
    d_exact = int(n_doc * rnd.uniform(0.01, 0.04))
    d_near = int(n_doc * rnd.uniform(0.02, 0.05))
    d_base = n_doc - d_exact - d_near
    e_dup = int(n_emb * rnd.uniform(0.01, 0.04))
    e_base = n_emb - e_dup
    h = f"hash({{}}, {salt})"  # the seeded draw and row order

    return {
        "region": "SELECT * FROM region ORDER BY r_regionkey",
        "nation": "SELECT * FROM nation ORDER BY n_nationkey",
        "customer": (
            f"SELECT c_custkey + {c_off} AS c_custkey, * EXCLUDE (c_custkey) FROM cust "
            f"ORDER BY {h.format('c_custkey + 1')}"
        ),
        "supplier": (
            f"SELECT s_suppkey + {s_off} AS s_suppkey, * EXCLUDE (s_suppkey) FROM supplier "
            f"ORDER BY {h.format('s_suppkey')}"
        ),
        "part": (
            f"SELECT p_partkey + {p_off} AS p_partkey, * EXCLUDE (p_partkey) FROM part "
            f"ORDER BY {h.format('p_partkey')}"
        ),
        "orders": (
            f"SELECT o_orderkey + {o_off} AS o_orderkey, o_custkey + {c_off} AS o_custkey, "
            f"* EXCLUDE (o_orderkey, o_custkey) FROM ord ORDER BY {h.format('o_orderkey + 1')}"
        ),
        "lineitem": (
            f"SELECT l_orderkey + {o_off} AS l_orderkey, l_partkey + {p_off} AS l_partkey, "
            f"l_suppkey + {s_off} AS l_suppkey, * EXCLUDE (l_orderkey, l_partkey, l_suppkey) "
            f"FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM ord) "
            f"ORDER BY {h.format('l_orderkey * 8 + l_linenumber')}"
        ),
        "events": (
            f"SELECT event_id + {e_off} AS event_id, * EXCLUDE (event_id) FROM ("
            f"  SELECT * FROM events WHERE user_id IN (SELECT user_id FROM (SELECT DISTINCT user_id FROM events) "
            f"    ORDER BY {h.format('user_id')} LIMIT {math.ceil(n_ev / EVENTS_PER_USER)}) "
            f"  ORDER BY {h.format('event_id')} LIMIT {n_ev}) ORDER BY event_id"
        ),
        # drawn rows ranked 0..n-1; ranks from `base` on copy the row of a
        # seeded rank below `base`
        "documents": (
            f"WITH d AS (SELECT row_number() OVER (ORDER BY {h.format('doc_id')}) - 1 AS rk, * FROM documents "
            f"  ORDER BY {h.format('doc_id')} LIMIT {n_doc}), "
            f"t AS (SELECT d.rk, d.lang, d.source, CASE "
            f"    WHEN d.rk >= {d_base + d_near} THEN s.text "
            f"    WHEN d.rk >= {d_base} THEN regexp_replace(s.text, '^\\S+ ', '') "
            f"    ELSE d.text END AS text "
            f"  FROM d JOIN d s ON s.rk = CASE WHEN d.rk >= {d_base} "
            f"    THEN {h.format('d.rk + 1')} % {d_base} ELSE d.rk END) "
            f"SELECT rk AS doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars "
            f"FROM t ORDER BY {h.format('rk + 7')}"
        ),
        "embeddings": (
            f"WITH e AS (SELECT row_number() OVER (ORDER BY {h.format('vec_id')}) - 1 AS rk, * FROM embeddings "
            f"  ORDER BY {h.format('vec_id')} LIMIT {n_emb}) "
            f"SELECT e.rk AS vec_id, s.embedding, s.label "
            f"FROM e JOIN e s ON s.rk = CASE WHEN e.rk >= {e_base} "
            f"  THEN {h.format('e.rk + 1')} % {e_base} ELSE e.rk END "
            f"ORDER BY {h.format('e.rk + 7')}"
        ),
        # the drawn customers and their orders, read by customer and orders
        # above and by lineitem's order filter
        "_cust": f"SELECT * FROM customer ORDER BY {h.format('c_custkey')} LIMIT {n_cust}",
        "_ord": (
            f"SELECT * FROM orders WHERE o_custkey IN (SELECT c_custkey FROM cust) "
            f"ORDER BY {h.format('o_orderkey')} LIMIT {n_ord}"
        ),
    }


def write_dir(out_dir: str, sizes: dict[str, int], seed: int, workload: str, batch: int = 0) -> dict[str, int]:
    """Write every fixture table into `out_dir`; return the row counts.

    `sizes` gives the rows of customer, orders, events, documents and
    embeddings; region, nation, supplier and part are copied whole and
    lineitem holds every line of the drawn orders."""
    os.makedirs(out_dir, exist_ok=True)
    q = _selects(sizes, random.Random(f"{seed}/{workload}/{batch}"))
    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{POOL / t}.parquet')")
        con.execute(f"CREATE TEMP TABLE cust AS {q['_cust']}")
        con.execute(f"CREATE TEMP TABLE ord AS {q['_ord']}")
        counts = {}
        for t in TABLES:
            path = os.path.join(out_dir, f"{t}.parquet")
            con.execute(f"COPY ({q[t]}) TO '{path}' (FORMAT PARQUET)")
            counts[t] = con.execute(f"SELECT COUNT(*) FROM read_parquet('{path}')").fetchone()[0]
        for t in ("customer", "orders", "events", "documents", "embeddings"):
            if counts[t] != sizes[t]:
                raise ValueError(f"{t}: drew {counts[t]} rows, {sizes[t]} asked; the pool is too small")
        return counts
    finally:
        con.close()
