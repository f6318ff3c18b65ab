#!/usr/bin/env python
"""Generate an sf1-equivalent fixture by 10x-replicating sf0.1 with
key-space remapping (primary/foreign keys shift together per replica, so
join cardinalities scale linearly and keys stay unique; text/embedding
payloads repeat, which only makes the dedup operators work HARDER).

Usage: python tools/make_sf1.py [OUT_DIR] [REPLICAS]   (--help prints usage)
Defaults: /tmp/sdp_sf1, 10. DuckDB does the replication (no JVM needed);
output is one parquet file per table, same layout as /root/testdata/sf*.

Purpose: scale-evidence runs beyond the driver's sf0.1 —
  SPARK_GRAFT_SF_DIR=/tmp/sdp_sf1 SPARK_GRAFT_HEADLINE_ONLY=1 python bench.py
throughput should track rows/s from sf0.1 (plans are scan+shuffle-linear);
results recorded in SCALING.md.
"""

from __future__ import annotations

import argparse
import os

import duckdb

SRC = "/root/testdata/sf0.1"

# per-table key remap expressions; {i} is the replica index, K the shift
# base (chosen far above any real key). Foreign keys shift with their
# parents so referential joins keep 1:N shape per replica.
K = 10_000_000
REMAP = {
    "region": None,  # fixed dims: copy once, do not replicate
    "nation": None,
    "customer": "c_custkey + {i} * " + str(K),
    "supplier": "s_suppkey + {i} * " + str(K),
    "part": "p_partkey + {i} * " + str(K),
    "orders": None,  # custom select below
    "lineitem": None,
    "events": None,
    "documents": None,
    "embeddings": None,
}

SELECTS = {
    "customer": f"SELECT c_custkey + {{i}} * {K} AS c_custkey, * EXCLUDE (c_custkey) FROM t",
    "supplier": f"SELECT s_suppkey + {{i}} * {K} AS s_suppkey, * EXCLUDE (s_suppkey) FROM t",
    "part": f"SELECT p_partkey + {{i}} * {K} AS p_partkey, * EXCLUDE (p_partkey) FROM t",
    "orders": (
        f"SELECT o_orderkey + {{i}} * {K} AS o_orderkey, "
        f"o_custkey + {{i}} * {K} AS o_custkey, "
        "* EXCLUDE (o_orderkey, o_custkey) FROM t"
    ),
    "lineitem": (
        f"SELECT l_orderkey + {{i}} * {K} AS l_orderkey, "
        f"l_partkey + {{i}} * {K} AS l_partkey, "
        f"l_suppkey + {{i}} * {K} AS l_suppkey, "
        "* EXCLUDE (l_orderkey, l_partkey, l_suppkey) FROM t"
    ),
    "events": (
        f"SELECT event_id + {{i}} * {K} AS event_id, "
        "* EXCLUDE (event_id) FROM t"
    ),
    "documents": (
        f"SELECT doc_id + {{i}} * {K} AS doc_id, * EXCLUDE (doc_id) FROM t"
    ),
    "embeddings": (
        f"SELECT vec_id + {{i}} * {K} AS vec_id, * EXCLUDE (vec_id) FROM t"
    ),
}

FIXED = ("region", "nation")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out", nargs="?", default="/tmp/sdp_sf1", help="output dir (default %(default)s)")
    ap.add_argument("replicas", nargs="?", type=int, default=10, help="replica count (default %(default)s)")
    args = ap.parse_args(argv)
    out, reps = args.out, args.replicas
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for tbl in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE OR REPLACE VIEW t AS SELECT * FROM read_parquet('{SRC}/{tbl}.parquet')"
        )
        if tbl in FIXED:
            q = "SELECT * FROM t"
        else:
            q = " UNION ALL ".join(SELECTS[tbl].format(i=i) for i in range(reps))
        con.execute(
            f"COPY ({q}) TO '{out}/{tbl}.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 262144)"
        )
        n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{out}/{tbl}.parquet')").fetchone()[0]
        print(f"{tbl}: {n} rows")
    print(f"wrote {out} (x{reps})")


if __name__ == "__main__":
    main()
