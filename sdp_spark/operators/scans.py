"""Sources & sinks — SURVEY.md §2.1.

Reference semantics: table scans / LOAD DATA INFILE / INSERT..SELECT /
TRUNCATE+reload of the deployed MySQL 5.6 engine
(mysql-persistent-template.json:68), plus the SQL service endpoint on port
3306 (mysql-persistent-template.json:20-25) which maps to the JDBC source.

Scale notes: every reader here is a lazy, splittable scan — parquet gets the
vectorized reader + row-group pushdown; CSV/JSON split by file/line blocks.
Sinks write partitioned parquet; at 100 TB `partitionBy` + AQE coalescing
control file sizes. No collect() anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from sdp_spark.functions.num import DEC, dround, dsum, sql_dsum
from sdp_spark.memo import memo, scratch
from sdp_spark.plans.registry import register
from sdp_spark.sources.fixtures import cache_dir, table

_SEC = "2.1 sources/sinks"


def _converted_dir(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fmt: str,
    columns: list[str] | None = None,
    **options: str,
) -> str:
    """One cache policy for every converted-copy format (csv/json/xml):
    session memo + an on-disk _SUCCESS guard so a partially-written
    dir from a killed process is rewritten, never trusted.

    The staging *spec* — column subset and writer options — is folded into
    both the memo key and the directory name (ADVICE r5): two operators
    staging the same table/format with different columns or options get
    distinct dirs, and a staged copy written by an older code version is
    invalidated the moment the spec changes.
    """
    cols = tuple(columns) if columns else None
    return _stage_converted(spark, sf_dir, name, fmt, cols, tuple(sorted(options.items())))


@memo
def _stage_converted(
    spark: SparkSession, sf_dir: str, name: str, fmt: str, columns, options
) -> str:
    import hashlib

    spec = repr((list(columns) if columns else None, list(options)))
    digest = hashlib.sha256(spec.encode()).hexdigest()[:8]
    out = cache_dir(sf_dir, f"{name}_{fmt}_{digest}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        df = table(spark, sf_dir, name)
        if columns:
            df = df.select(*columns)
        writer = df.write.mode("overwrite").format(fmt)
        if fmt == "csv":
            writer = writer.option("header", "true")
        for k, v in options:
            writer = writer.option(k, v)
        writer.save(out)
    return out


@register(
    "scan_parquet",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    section=_SEC,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full table scan over parquet (vectorized reader, column pruning)."""
    return table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")


@register(
    "scan_csv",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    section=_SEC,
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited load (LOAD DATA INFILE analogue) with an explicit schema."""
    path = _converted_dir(spark, sf_dir, "nation", "csv")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return spark.read.csv(path, schema=schema, header=True)


@register(
    "scan_json",
    oracle="""
    SELECT event_id, user_id, event_type, ROUND(value, 6) AS value_r
    FROM events
    """,
    section=_SEC,
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingest with explicit schema (no inference pass at scale)."""
    path = _converted_dir(spark, sf_dir, "events", "json")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return (
        spark.read.json(path, schema=schema)
        .select("event_id", "user_id", "event_type", F.round("value", 6).alias("value_r"))
    )


def jdbc_conn(sf_dir: str) -> tuple[str, dict[str, str], bool]:
    """JDBC endpoint for the reference's SQL-over-TCP role
    (mysql-persistent-template.json:20-25): ``SDP_JDBC_URL`` when a real DB
    service is deployed, else an EMBEDDED Derby database (Spark ships
    derby*.jar for its Hive metastore, so the driver is always on the
    classpath) — the real ``.format("jdbc")`` code path executes in every
    environment; nothing falls back to parquet.

    Returns (url, extra reader/writer options, is_embedded). The Derby path
    is keyed by pid: embedded Derby allows ONE booting JVM per database
    directory, so concurrent processes (pytest + driver sweep) must never
    share one. At scale the url points at the managed DB and
    partitionColumn/numPartitions do parallel range reads.
    """
    url = os.environ.get("SDP_JDBC_URL")
    if url:
        return url, {}, False
    base = cache_dir(sf_dir, f"derby_{os.getpid()}")
    os.makedirs(base, exist_ok=True)
    return (
        f"jdbc:derby:{base}/db;create=true",
        {"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
        True,
    )


# Derby DBs start empty: seed source tables once per session and table.
@memo
def _seed_jdbc_table(spark: SparkSession, sf_dir: str, name: str, column_types: str) -> None:
    url, extra, _ = jdbc_conn(sf_dir)
    w = (
        table(spark, sf_dir, name)
        .coalesce(1)
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", name)
        .option("createTableColumnTypes", column_types)
        .option("batchsize", "1000")
        .mode("overwrite")
    )
    for k, v in extra.items():
        w = w.option(k, v)
    w.save()


@register(
    "scan_jdbc",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    section=_SEC,
)
def scan_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL service endpoint scan (reference exposes MySQL over TCP 3306,
    mysql-persistent-template.json:20-25): parallel range read over JDBC —
    ``partitionColumn``/``numPartitions`` split the table into concurrent
    per-task queries (the only way a JDBC scan parallelizes; a single
    connection would serialize 100 TB behind one socket). Embedded Derby
    stands in for the DB service when ``SDP_JDBC_URL`` is unset; the
    embedded DB is seeded from the fixture once per process, so the oracle
    (same table from parquet) pins the full round-trip."""
    url, extra, embedded = jdbc_conn(sf_dir)
    if embedded:
        _seed_jdbc_table(
            spark, sf_dir, "nation",
            "n_nationkey INTEGER, n_name VARCHAR(64), n_regionkey INTEGER",
        )
    r = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation")
        .option("partitionColumn", "n_nationkey")
        .option("lowerBound", "0")
        .option("upperBound", "25")
        .option("numPartitions", "4")
    )
    for k, v in extra.items():
        r = r.option(k, v)
    return r.load().select("n_nationkey", "n_name", "n_regionkey")


@register(
    "sink_jdbc",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    section=_SEC,
)
def sink_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational sink over JDBC — the reference's actual platform role: the
    deployed MySQL service IS the sink (mysql-persistent-template.json:20-25,
    README.md:2,4 'surveillance data ... services'). Writes `nation` to
    table ``sdp_sink_nation`` (overwrite + truncate keeps the target table's
    DDL/grants once it exists) and reads it back over the same connection;
    embedded Derby stands in when no DB service is configured, so the real
    write/read branches execute everywhere and the oracle pins the values.

    Scale notes: ``numPartitions`` bounds concurrent connections (each task
    opens one), ``batchsize`` sets rows per INSERT batch, and
    ``isolationLevel=NONE`` avoids long write transactions; repartition(N)
    upstream to match the DB's ingest headroom — 1000 executors hammering
    one MySQL is a DDoS, not a sink.
    """
    src = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    url, extra, _ = jdbc_conn(sf_dir)
    w = (
        src.coalesce(4)
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", "sdp_sink_nation")
        .option("createTableColumnTypes",
                "n_nationkey INTEGER, n_name VARCHAR(64), n_regionkey INTEGER")
        .option("truncate", "true")
        .option("batchsize", "1000")
        .option("isolationLevel", "NONE")
        .mode("overwrite")
    )
    for k, v in extra.items():
        w = w.option(k, v)
    w.save()
    r = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "sdp_sink_nation")
    )
    for k, v in extra.items():
        r = r.option(k, v)
    return r.load().select("n_nationkey", "n_name", "n_regionkey")


@register(
    "sink_append",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    """,
    section=_SEC,
)
def sink_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO ... SELECT: append write, then read back (round-trip check)."""
    out = scratch(spark, sf_dir, "sdp_sink_append_")
    src = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    src.write.mode("append").parquet(out)
    return spark.read.parquet(out)


@register(
    "sink_overwrite",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000
    """,
    section=_SEC,
)
def sink_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATE + reload semantics: second write replaces the first."""
    out = scratch(spark, sf_dir, "sdp_sink_overwrite_")
    orders = table(spark, sf_dir, "orders")
    orders.select("o_orderkey", "o_totalprice").write.mode("overwrite").parquet(out)
    (
        orders.filter(F.col("o_totalprice") > 100000)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out)


@register(
    "sink_partitioned",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
    """,
    section=_SEC,
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned storage (MySQL range/hash partition analogue).

    At 100 TB this is the layout primitive: partition pruning turns
    point/range queries on the partition key into O(selected partitions).
    """
    out = scratch(spark, sf_dir, "sdp_sink_partitioned_")
    orders = table(spark, sf_dir, "orders")
    (
        orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    # partition column round-trips as string; restore column order/types
    return back.select("o_orderkey", "o_totalprice", F.col("o_orderstatus").cast("string"))


@register(
    "scan_partition_pruned",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    """,
    section=_SEC,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning: hive-style partitioned layout + a partition-key
    predicate → only the matching directory is listed/read (PartitionFilters
    in the plan, zero IO for other statuses). At 100 TB this is the
    difference between scanning one partition and the whole table."""
    back = spark.read.parquet(_orders_parted(spark, sf_dir)).filter(F.col("o_orderstatus") == "F")
    return back.select("o_orderkey", "o_totalprice", F.col("o_orderstatus").cast("string"))


@memo
def _orders_parted(spark: SparkSession, sf_dir: str) -> str:
    out = cache_dir(sf_dir, "orders_parted")
    (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    return out


@register(
    "sink_upsert",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice, 'U' AS o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT o_orderkey,
           FLOOR(o_totalprice * 100 + 0.5) / 100 AS o_totalprice,
           o_orderstatus
    FROM orders WHERE o_orderkey % 10 <> 0
    UNION ALL
    SELECT o_orderkey,
           FLOOR(o_totalprice * 100 + 0.5) / 100 AS o_totalprice,
           o_orderstatus
    FROM updates
    """,
    section=_SEC,
)
def sink_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert (MySQL INSERT ... ON DUPLICATE KEY UPDATE) without a
    transactional table format: anti-join the target against the update
    keys, union the updates, rewrite. At scale this is the
    partition-overwrite merge pattern (rewrite only partitions containing
    matched keys); a lakehouse format (Delta/Iceberg MERGE) replaces it
    when available."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("o_orderstatus", F.lit("U"))
    )
    merged = orders.join(
        updates.select("o_orderkey"), "o_orderkey", "left_anti"
    ).unionByName(updates)
    out = scratch(spark, sf_dir, "sdp_sink_upsert_")
    merged.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.select(
        "o_orderkey",
        dround(F.col("o_totalprice")).alias("o_totalprice"),
        "o_orderstatus",
    )


@register(
    "dml_update_delete",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderpriority = '1-URGENT'
                THEN FLOOR(o_totalprice * 0.95 * 100 + 0.5) / 100
                ELSE FLOOR(o_totalprice * 100 + 0.5) / 100 END AS o_totalprice,
           o_orderstatus
    FROM orders
    WHERE NOT (o_orderstatus = 'P' AND o_totalprice < 50000)
    """,
    section=_SEC,
)
def dml_update_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE + DELETE semantics as declarative transforms: DELETE is a
    negated filter, UPDATE is a conditional projection — then rewrite the
    table (copy-on-write). This is how an immutable-storage engine provides
    the reference's OLTP verbs (SURVEY.md §7 hard part 5: no MVCC
    pretense — idempotent rewrite instead)."""
    orders = table(spark, sf_dir, "orders")
    deleted = orders.filter(
        ~((F.col("o_orderstatus") == "P") & (F.col("o_totalprice") < 50000))
    )
    updated = deleted.select(
        "o_orderkey",
        F.when(
            F.col("o_orderpriority") == "1-URGENT",
            dround(F.col("o_totalprice") * 0.95),
        )
        .otherwise(dround(F.col("o_totalprice")))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    out = scratch(spark, sf_dir, "sdp_sink_dml_")
    updated.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@register(
    "scan_orc",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    section=_SEC,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source (second columnar format; vectorized reader + predicate
    pushdown like parquet). Converted copy cached per sf."""
    return spark.read.orc(_nation_orc(spark, sf_dir)).select("n_nationkey", "n_name", "n_regionkey")


@memo
def _nation_orc(spark: SparkSession, sf_dir: str) -> str:
    out = cache_dir(sf_dir, "nation_orc")
    table(spark, sf_dir, "nation").write.mode("overwrite").orc(out)
    return out


@register(
    "scan_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, CAST(NULL AS BIGINT), o_totalprice
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    section=_SEC,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two writer generations land files with
    DIFFERENT column sets in one dataset dir; mergeSchema=true unions the
    schemas and fills missing columns with NULL. The 100 TB reality — a
    table written over years never has one schema; evolving readers beat
    rewriting petabytes. (Spark merges parquet footers at planning time;
    pin spark.sql.parquet.mergeSchema or pass the option per read.)
    The mixed-generation dataset is built once per sf_dir into the shared
    cache_dir layout (stable across sessions — no per-session /tmp litter);
    overwrite-then-append keeps the build idempotent if a prior run died
    mid-write."""
    back = spark.read.option("mergeSchema", "true").parquet(_orders_schema_evo(spark, sf_dir))
    return back.select("o_orderkey", "o_custkey", "o_totalprice")


@memo
def _orders_schema_evo(spark: SparkSession, sf_dir: str) -> str:
    out = cache_dir(sf_dir, "orders_schema_evo")
    done = os.path.join(out, "_GENERATIONS_DONE")
    if not os.path.exists(done):
        o = table(spark, sf_dir, "orders")
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey"
        ).write.mode("overwrite").parquet(out)
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("append").parquet(out)
        with open(done, "w") as fh:
            fh.write("ok")
    return out


@register(
    "sink_insert_ignore",
    oracle="""
    WITH target AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    ), incoming AS (
      SELECT o_orderkey, FLOOR(o_totalprice * 0.5 * 100 + 0.5) / 100 AS o_totalprice,
             'N' AS o_orderstatus
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT o_orderkey,
           FLOOR(o_totalprice * 100 + 0.5) / 100 AS o_totalprice,
           o_orderstatus
    FROM target
    UNION ALL
    SELECT i.o_orderkey, i.o_totalprice, i.o_orderstatus
    FROM incoming i
    WHERE i.o_orderkey NOT IN (SELECT o_orderkey FROM target)
    """,
    section=_SEC,
)
def sink_insert_ignore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT IGNORE semantics (MySQL 5.6 DML verb): rows whose primary key
    already exists in the target are silently skipped, existing rows WIN
    (the dual of REPLACE INTO / sink_replace). On immutable storage this is
    an anti-join of the incoming batch against the target's key set, then a
    plain append — the incoming side shuffles on the PK, the target is
    read-only. At scale the key-set probe prunes to the partitions the
    incoming keys touch (partition filter on the PK range)."""
    orders = table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", dround(F.col("o_totalprice")).alias("o_totalprice"), "o_orderstatus"
    )
    incoming = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        dround(F.col("o_totalprice") * 0.5).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
    )
    fresh = incoming.join(target.select("o_orderkey"), "o_orderkey", "left_anti")
    out = scratch(spark, sf_dir, "sdp_sink_insert_ignore_")
    target.unionByName(fresh).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@register(
    "sink_replace",
    oracle="""
    WITH target AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    ), incoming AS (
      SELECT o_orderkey, FLOOR(o_totalprice * 0.5 * 100 + 0.5) / 100 AS o_totalprice,
             'N' AS o_orderstatus
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT o_orderkey,
           FLOOR(o_totalprice * 100 + 0.5) / 100 AS o_totalprice,
           o_orderstatus
    FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM incoming)
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderstatus FROM incoming
    """,
    section=_SEC,
)
def sink_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLACE INTO semantics (MySQL 5.6 DML verb): delete any target row
    with a matching primary key, then insert the incoming row — incoming
    WINS (the dual of sink_insert_ignore). Same copy-on-write shape as
    dml_update_delete: target anti-joined against incoming keys + union,
    one rewrite. The same incoming/target slices as sink_insert_ignore so
    the two verbs' outcomes are directly comparable in tests."""
    orders = table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", dround(F.col("o_totalprice")).alias("o_totalprice"), "o_orderstatus"
    )
    incoming = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        dround(F.col("o_totalprice") * 0.5).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
    )
    survivors = target.join(incoming.select("o_orderkey"), "o_orderkey", "left_anti")
    out = scratch(spark, sf_dir, "sdp_sink_replace_")
    survivors.unionByName(incoming).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@register(
    "sink_outfile_csv",
    oracle="""
    SELECT n_nationkey,
           n_name || ';' AS n_name_semi,
           CASE WHEN n_nationkey % 5 = 0 THEN NULL
                ELSE '"' || n_name || '";' || n_name END AS maybe_quoted
    FROM nation
    """,
    section=_SEC,
)
def sink_outfile_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT ... INTO OUTFILE parity (the MySQL CSV export path): write a
    query result as delimited text with explicit FIELDS TERMINATED BY ';',
    OPTIONALLY ENCLOSED BY '\"', and a NULL marker, then read it back with
    the same dialect + explicit schema. The projection plants adversarial
    values on purpose — a trailing delimiter inside a quoted field and real
    NULLs — so the oracle hash pins quote/escape/null round-trip fidelity,
    not just happy-path tokens. Unlike MySQL's single server-side file the
    write is sharded (one file per partition): at 100 TB an export IS a
    distributed dataset, and any single-file requirement belongs to the
    consumer's cat, not the engine's plan."""
    out = scratch(spark, sf_dir, "sdp_sink_outfile_csv_")
    src = table(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.concat(F.col("n_name"), F.lit(";")).alias("n_name_semi"),
        F.when(F.col("n_nationkey") % 5 == 0, F.lit(None)).otherwise(
            F.concat(F.lit('"'), F.col("n_name"), F.lit('";'), F.col("n_name"))
        ).alias("maybe_quoted"),
    )
    opts = {"sep": ";", "quote": '"', "escape": '"', "nullValue": "\\N", "header": "true"}
    src.write.mode("overwrite").options(**opts).csv(out)
    return spark.read.options(**opts).schema(
        "n_nationkey INT, n_name_semi STRING, maybe_quoted STRING"
    ).csv(out)


_COMPACT_SRC_FILES = 64
_COMPACT_TARGET_FILES = 4
_LAST_COMPACT_OUT: str | None = None


@memo
def _small_files_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage events once per sf as _COMPACT_SRC_FILES tiny parquet files —
    the classic streaming-ingest debris a compaction job consumes."""
    out = cache_dir(sf_dir, "events_small_files")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            table(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type", "value")
            .repartition(_COMPACT_SRC_FILES)
            .write.mode("overwrite")
            .parquet(out)
        )
    return out


@register(
    "sink_compact",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_ids,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
    section=_SEC,
)
def sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance job every streaming
    ingest needs (micro-batches leave KB-scale files; file-open overhead
    then dominates scans). Reads the 64-file debris dir, rewrites it as
    _COMPACT_TARGET_FILES right-sized files via repartition, and returns a
    content aggregate computed FROM THE COMPACTED OUTPUT — the oracle (same
    aggregate from the source table) proves compaction is lossless, and the
    file-count collapse is asserted in tests. At 100 TB: pick target file
    count from bytes/128MB per partition of the table, run per-partition
    (compact only partitions whose small-file count crosses a threshold),
    and swap repartition for a sorted write when downstream wants
    clustering. repartition (not coalesce) so the rewrite redistributes —
    coalesce would chain the skew of the debris files into the output."""
    global _LAST_COMPACT_OUT
    src_dir = _small_files_dir(spark, sf_dir)
    out = scratch(spark, sf_dir, "sdp_sink_compacted_")
    (
        spark.read.parquet(src_dir)
        .repartition(_COMPACT_TARGET_FILES)
        .write.mode("overwrite")
        .parquet(out)
    )
    _LAST_COMPACT_OUT = out  # tests assert the file-count collapse here
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("event_id").alias("sum_ids"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "sink_autoincrement",
    oracle="""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) AS BIGINT) AS row_id,
           o_orderkey, o_custkey
    FROM orders
    """,
    section=_SEC,
)
def sink_autoincrement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTO_INCREMENT surrogate keys — the highest-traffic MySQL 5.6 DDL
    surface still unmapped (mysql-persistent-template.json:68 pins the
    engine; every CREATE TABLE a platform user writes starts with
    `id BIGINT AUTO_INCREMENT PRIMARY KEY`). Contract provided: dense
    1..N BIGINT ids, unique and monotone in "insertion order", which this
    batch engine defines as the order of a declared unique key (here
    o_orderkey). Documented gap vs MySQL: ids are assigned per batch-load,
    not per-row-at-a-time, and re-running a load re-derives the same ids
    (idempotent) rather than continuing a persistent counter.

    Scale design — NO global sort, no single-partition window:
    1. bucket rows by equi-width ranges of the key (width_bucket; min/max
       is one metadata-scale aggregate);
    2. count per bucket, cumulative-sum the counts driver-side (B tiny
       rows) into per-bucket starting offsets, broadcast them back;
    3. id = bucket_offset + row_number() within bucket — ONE shuffle on
       bucket id, each bucket sorts locally. At 100 TB raise _AI_BUCKETS
       to ~#cores so bucket sorts stay in-memory; skewed keys get
       quantile-based boundaries (approxQuantile) instead of equi-width."""
    ids = _autoincrement_ids(spark, sf_dir)
    out = scratch(spark, sf_dir, "sdp_sink_autoincrement_")
    ids.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def _autoincrement_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-write id-assignment plan (exposed so plan tests can assert
    the no-global-sort property — the registered sink returns the parquet
    read-back, whose plan is just a scan)."""
    B = 16  # id-assignment buckets (size to cluster parallelism at scale)
    src = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lo, hi = src.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    bucketed = src.withColumn(
        "_b", F.width_bucket("o_orderkey", F.lit(lo), F.lit(hi + 1), F.lit(B))
    )
    counts = {r["_b"]: r["n"] for r in bucketed.groupBy("_b").agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    off_df = F.broadcast(
        spark.createDataFrame([(b, o) for b, o in offsets.items()], "_b BIGINT, _off BIGINT")
    )
    w = Window.partitionBy("_b").orderBy("o_orderkey")
    return bucketed.join(off_df, "_b").select(
        (F.col("_off") + F.row_number().over(w)).alias("row_id"),
        "o_orderkey",
        "o_custkey",
    )


@register(
    "scan_text",
    oracle="SELECT text AS value FROM documents",
    section=_SEC,
)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-lines ingest (`spark.read.text`) — the LOAD DATA INFILE
    analogue for unstructured corpora, and the entry format of most LLM
    training pipelines (one document per line). Staged once per sf from the
    documents fixture (each text is single-line by construction), then read
    back as a line-per-row `value` column. Splittable: Spark assigns line
    blocks of each file to tasks, so one 100 GB text file still fans out;
    at 100 TB land many ~1 GB files and listing parallelizes too. The
    oracle pins the lossless line round-trip."""
    from sdp_spark.sources.fixtures import cache_dir

    out = cache_dir(sf_dir, "documents_text")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        table(spark, sf_dir, "documents").select("text").write.mode("overwrite").text(out)
    return spark.read.text(out)


@register(
    "sink_jsonl",
    oracle="SELECT doc_id, lang, text FROM documents",
    section=_SEC,
)
def sink_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines export/ingest round-trip — the interchange format of LLM
    training corpora (one JSON object per line; every tokenizer/trainer
    reads it). Write is a partitioned multi-file dump (splittable on read:
    line-delimited JSON splits by block, unlike a JSON array); read-back
    uses an EXPLICIT schema so no inference job runs and types round-trip
    exactly. The oracle pins lossless export of every field. At 100 TB:
    same plan, more files — compression (zstd) and ~1 GB targets come from
    the same writer options."""
    out = scratch(spark, sf_dir, "sdp_sink_jsonl_")
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    d.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return spark.read.schema(schema).json(out).select("doc_id", "lang", "text")


_SCD2_EPOCH = "2024-01-01"
_SCD2_CHANGE_DAY = "2024-06-15"


@register(
    "dml_merge_scd2",
    oracle=f"""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment FROM customer
    ), changed AS (
      SELECT c_custkey FROM dim WHERE c_custkey % 7 = 0
    )
    SELECT d.c_custkey, d.c_mktsegment AS segment,
           '{_SCD2_EPOCH}' AS valid_from,
           CASE WHEN ch.c_custkey IS NOT NULL THEN '{_SCD2_CHANGE_DAY}' END AS valid_to,
           ch.c_custkey IS NULL AS is_current,
           1 AS version
    FROM dim d LEFT JOIN changed ch USING (c_custkey)
    UNION ALL
    SELECT c_custkey, 'WEB' AS segment,
           '{_SCD2_CHANGE_DAY}' AS valid_from,
           CAST(NULL AS VARCHAR) AS valid_to,
           TRUE AS is_current,
           2 AS version
    FROM changed
    """,
    section=_SEC,
)
def dml_merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 merge — the warehouse-standard
    history-preserving upsert (MySQL users hand-roll it with
    ON DUPLICATE KEY + audit tables): an incoming change set closes the
    current version (valid_to stamped, is_current=false) and appends a new
    open version, never updating in place. Change set here: customers with
    custkey % 7 == 0 move to segment 'WEB' on the change day
    (deterministic stand-in for a CDC feed). Copy-on-write plan: dim LEFT
    JOIN changes (broadcast — change sets are small relative to the
    dimension) closes rows, UNION ALL appends versions; at 100 TB the
    rewrite touches only partitions containing changed keys (partition the
    dimension by key range + dynamic partition overwrite)."""
    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    changed = F.broadcast(
        dim.filter(F.col("c_custkey") % 7 == 0).select("c_custkey").withColumn("_chg", F.lit(1))
    )
    closed_or_kept = dim.join(changed, "c_custkey", "left").select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(_SCD2_EPOCH).alias("valid_from"),
        F.when(F.col("_chg").isNotNull(), F.lit(_SCD2_CHANGE_DAY)).alias("valid_to"),
        F.col("_chg").isNull().alias("is_current"),
        F.lit(1).alias("version"),
    )
    new_versions = changed.select(
        "c_custkey",
        F.lit("WEB").alias("segment"),
        F.lit(_SCD2_CHANGE_DAY).alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
        F.lit(2).alias("version"),
    )
    merged = closed_or_kept.unionByName(new_versions)
    out = scratch(spark, sf_dir, "sdp_sink_scd2_")
    merged.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


_CSV_BAD_LINES = (
    "xx,not_a_number_row,0",
    "12,typed_wrong,notanint",
    '1000,"unterminated quote,5',
)


@register(
    "scan_csv_malformed",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    section=_SEC,
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row handling on delimited ingest (LOAD DATA INFILE meets
    real-world files): the staged csv carries deterministic corrupt lines
    (wrong arity, bad types, broken quoting); the reader runs PERMISSIVE
    with columnNameOfCorruptRecord, corrupt rows are diverted into the
    quarantine column and filtered out — the oracle pins that exactly the
    clean rows survive with exact values (no good row lost, no bad row
    leaked). pytest additionally pins the quarantine count and the
    DROPMALFORMED mode equivalence. At 100 TB: same reader, plus writing
    the quarantine column to a dead-letter dir for replay."""
    import shutil as _sh

    base = _converted_dir(spark, sf_dir, "nation", "csv")
    bad_dir = cache_dir(sf_dir, "nation_csv_malformed")
    if not os.path.exists(os.path.join(bad_dir, "_done")):
        os.makedirs(bad_dir, exist_ok=True)
        for f in os.listdir(base):
            if f.endswith(".csv"):
                _sh.copy(os.path.join(base, f), os.path.join(bad_dir, f))
        with open(os.path.join(bad_dir, "bad_rows.csv"), "w") as fh:
            fh.write("n_nationkey,n_name,n_regionkey\n")
            for line in _CSV_BAD_LINES:
                fh.write(line + "\n")
        with open(os.path.join(bad_dir, "_done"), "w") as fh:
            fh.write("ok")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    df = spark.read.csv(
        bad_dir,
        schema=schema,
        header=True,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
    )
    return (
        df.filter(F.col("_corrupt").isNull())
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@register(
    "scan_multiformat_union",
    oracle="""
    SELECT fmt, n_nationkey, n_name, n_regionkey
    FROM (SELECT 'parquet' AS fmt, * FROM nation
          UNION ALL SELECT 'csv', * FROM nation
          UNION ALL SELECT 'json', * FROM nation)
    """,
    section=_SEC,
)
def scan_multiformat_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format federated ingest: the same logical table arriving as
    parquet + csv + json (the real shape of a landing zone fed by several
    producers), harmonized to one schema and unioned — each branch keeps
    its native pushdown (parquet row-groups, csv/json line splitting) and
    the union is plan-level (no shuffle, branches scan in parallel). The
    oracle pins that format round-trips agree field-for-field. At 100 TB:
    this is the migration-period query shape (old csv feed + new parquet
    feed), retired by rewriting csv partitions to parquet (sink_compact)."""
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    pq = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    csv = spark.read.csv(_converted_dir(spark, sf_dir, "nation", "csv"), schema=schema, header=True)
    js = spark.read.json(_converted_dir(spark, sf_dir, "nation", "json"), schema=schema)
    return (
        pq.withColumn("fmt", F.lit("parquet"))
        .unionByName(csv.withColumn("fmt", F.lit("csv")))
        .unionByName(js.withColumn("fmt", F.lit("json")))
        .select("fmt", "n_nationkey", "n_name", "n_regionkey")
    )


@register(
    "dml_truncate_partition",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderstatus <> 'F'
    """,
    section=_SEC,
)
def dml_truncate_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level TRUNCATE (ALTER TABLE ... TRUNCATE PARTITION /
    MySQL partition maintenance): drop one partition of a partitioned
    table WITHOUT touching any other data — the operation is metadata +
    one directory removal, not a table rewrite. That is exactly why
    partition layout is the retention primitive at 100 TB: expiring a day
    of data costs O(1) regardless of table size (contrast row-level DELETE
    in dml_update_delete, which rewrites affected files). The oracle pins
    that surviving partitions are byte-identical to the source."""
    import shutil as _sh

    out = scratch(spark, sf_dir, "sdp_sink_truncate_part_")
    (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    _sh.rmtree(os.path.join(out, "o_orderstatus=F"))
    back = spark.read.parquet(out)
    return back.select(
        "o_orderkey", "o_totalprice", F.col("o_orderstatus").cast("string")
    )


def _z16_sql(xcol: str, ycol: str) -> str:
    """16-bit Morton (z-order) key: interleave 8 bits of x and y using
    pure FLOOR/%/× arithmetic — identical semantics in Spark SQL and
    DuckDB (both divide ints as doubles; FLOOR+CAST restores exactness),
    so ONE generated expression string serves implementation and oracle."""
    terms = []
    for i in range(8):
        terms.append(f"(CAST(FLOOR({xcol} / {1 << i}) AS BIGINT) % 2) * {1 << (2 * i)}")
        terms.append(f"(CAST(FLOOR({ycol} / {1 << i}) AS BIGINT) % 2) * {1 << (2 * i + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "sink_zorder",
    oracle=f"""
    WITH keyed AS (
      SELECT o_orderkey,
             o_custkey % 256 AS xb,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 256 AS yb
      FROM orders
    ), z AS (
      SELECT o_orderkey, xb, yb, {_z16_sql("xb", "yb")} AS zkey FROM keyed
    )
    SELECT CAST(FLOOR(zkey / 4096) AS INTEGER) AS zblock,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(xb) AS INTEGER) AS min_x, CAST(MAX(xb) AS INTEGER) AS max_x,
           CAST(MIN(yb) AS INTEGER) AS min_y, CAST(MAX(yb) AS INTEGER) AS max_y
    FROM z GROUP BY 1
    """,
    section=_SEC,
)
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered layout (the Delta/Iceberg OPTIMIZE ZORDER BY
    analogue, built from primitives): interleave the bits of two filter
    dimensions (customer bucket × order-day bucket) into a Morton key,
    range-repartition + sort the write by it — parquet files/row-groups
    then carry TIGHT min/max ranges on BOTH dimensions, so selective
    filters on either column prune IO. At 100 TB data layout is the
    difference between scanning everything and reading a few files: a
    single-column sort clusters one dimension only; the z-curve bounds
    both (each 1/16 key block spans ≤ a quarter of each dimension's
    range).

    The returned relation is the per-block clustering audit (count +
    per-dimension bounding box) — layout-independent, so the DuckDB
    oracle pins the key math exactly; the physical file-level win is
    asserted in tests/test_plans.py::test_zorder_files_cluster_both_dims.
    The z-key is pure codegen arithmetic (shared expression string with
    the oracle — no engine bit-op divergence)."""
    back = spark.read.parquet(_orders_zorder(spark, sf_dir))
    return back.groupBy(
        F.floor(F.col("zkey") / 4096).cast("int").alias("zblock")
    ).agg(
        F.count("*").alias("n"),
        F.min("xb").cast("int").alias("min_x"),
        F.max("xb").cast("int").alias("max_x"),
        F.min("yb").cast("int").alias("min_y"),
        F.max("yb").cast("int").alias("max_y"),
    )


@memo
def _orders_zorder(spark: SparkSession, sf_dir: str) -> str:
    out = cache_dir(sf_dir, "orders_zorder")
    keyed = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("xb"),
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
            % 256
        ).alias("yb"),
    ).withColumn("zkey", F.expr(_z16_sql("xb", "yb")))
    (
        keyed.repartitionByRange(16, "zkey")
        .sortWithinPartitions("zkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


@register(
    "sink_odku",
    oracle="""
    WITH target AS (
      SELECT o_orderkey, FLOOR(o_totalprice * 100 + 0.5) / 100 AS o_totalprice,
             o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    ), incoming AS (
      SELECT o_orderkey, FLOOR(o_totalprice * 0.5 * 100 + 0.5) / 100 AS o_totalprice,
             'N' AS o_orderstatus
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT t.o_orderkey,
           FLOOR((t.o_totalprice + COALESCE(i.o_totalprice, 0.0)) * 100 + 0.5) / 100
             AS o_totalprice,
           t.o_orderstatus
    FROM target t LEFT JOIN incoming i ON t.o_orderkey = i.o_orderkey
    UNION ALL
    SELECT i.o_orderkey, i.o_totalprice, i.o_orderstatus
    FROM incoming i
    WHERE i.o_orderkey NOT IN (SELECT o_orderkey FROM target)
    """,
    section=_SEC,
)
def sink_odku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT ... ON DUPLICATE KEY UPDATE (MySQL 5.6's third conflict verb,
    completing the trio with INSERT IGNORE and REPLACE INTO): rows whose
    key exists get a COLUMN-LEVEL update referencing both the old row and
    VALUES() of the incoming one — here the accumulate idiom
    `o_totalprice = o_totalprice + VALUES(o_totalprice)` with the target's
    other columns preserved — while unmatched incoming rows insert as-is.
    Unlike REPLACE (whole-row swap) the matched output is a MERGE of both
    sides, which is why this maps to a LEFT JOIN + COALESCE, not an
    anti-join union.

    Same target/incoming slices as its two siblings so the three verbs'
    outcomes are directly comparable. Copy-on-write shape: one custkey-free
    left join on the PK (shuffle carries key+delta, not whole rows), one
    anti-join for the fresh inserts, one rewrite. At 100 TB dynamic
    partition overwrite limits the rewrite to touched partitions."""
    orders = table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey",
        dround(F.col("o_totalprice")).alias("o_totalprice"),
        "o_orderstatus",
    )
    incoming = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        dround(F.col("o_totalprice") * 0.5).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
    )
    inc = incoming.select(
        F.col("o_orderkey").alias("_ik"), F.col("o_totalprice").alias("_delta")
    )
    updated = (
        target.join(inc, target.o_orderkey == inc._ik, "left")
        .select(
            "o_orderkey",
            dround(
                F.col("o_totalprice") + F.coalesce(F.col("_delta"), F.lit(0.0))
            ).alias("o_totalprice"),
            "o_orderstatus",
        )
    )
    fresh = incoming.join(target.select("o_orderkey"), "o_orderkey", "left_anti")
    out = scratch(spark, sf_dir, "sdp_sink_odku_")
    updated.unionByName(fresh).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


_SIZED_MAX_RECORDS = 50_000


@register(
    "sink_sized_files",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem WHERE EXTRACT(YEAR FROM l_shipdate) = 1997
    """,
    section=_SEC,
)
def sink_sized_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-size governance on write: `maxRecordsPerFile` caps every output
    file (here 50k records) regardless of partition sizes — the writer-side
    half of the small/huge-file problem (`sink_compact` is the reader-side
    half). A 100 TB table written by 1000 executors with skewed partitions
    otherwise emits multi-GB files that defeat split planning and row-group
    pruning; the cap bounds scan task granularity at a config, not a
    repartition (no extra shuffle — files split within each task).
    tests/test_properties.py asserts every produced file honors the cap
    and that the multi-file read-back is lossless (the oracle here)."""
    src = table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate") == 1997
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    out = scratch(spark, sf_dir, "sdp_sink_sized_files_")
    src.write.mode("overwrite").option(
        "maxRecordsPerFile", _SIZED_MAX_RECORDS
    ).parquet(out)
    return spark.read.parquet(out)


@register(
    "scan_recursive_glob",
    oracle="""
    SELECT n_nationkey, n_name FROM nation WHERE n_regionkey IN (0, 1)
    """,
    section=_SEC,
)
def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive landing-zone ingestion: `recursiveFileLookup` walks an
    arbitrarily nested directory tree (upstream systems drop files under
    per-team/per-day folders that are NOT hive partitions) and
    `pathGlobFilter` admits only the data files, skipping sidecars
    (_SUCCESS, manifests, .tmp debris). At 100 TB both happen at file
    LISTING time — the scan plan never opens a skipped file. The fixture
    stages two nested subtrees plus a decoy .json sidecar; the oracle is
    the union of the real files' content."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(_glob_landing(spark, sf_dir))
    )


@memo
def _glob_landing(spark: SparkSession, sf_dir: str) -> str:
    root = cache_dir(sf_dir, "glob_landing")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    n.filter(F.col("n_regionkey") == 0).drop("n_regionkey").write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "team_a", "day=01"))
    n.filter(F.col("n_regionkey") == 1).drop("n_regionkey").write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "team_b", "nested", "deeper"))
    with open(os.path.join(root, "team_a", "manifest.json"), "w") as fh:
        fh.write('{"decoy": true}')
    return root


_RESTATE_MONTH = "1997-03"


@register(
    "sink_dynamic_overwrite",
    oracle=f"""
    SELECT o_orderkey,
           CASE WHEN strftime(o_orderdate, '%Y-%m') = '{_RESTATE_MONTH}'
                THEN FLOOR(FLOOR(o_totalprice * 100 + 0.5) / 100 * 0.9 * 100 + 0.5) / 100
                ELSE FLOOR(o_totalprice * 100 + 0.5) / 100 END AS o_totalprice,
           strftime(o_orderdate, '%Y-%m') AS m
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    """,
    section=_SEC,
)
def sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the incremental batch-load verb at
    scale: restating ONE month rewrites ONLY that month's partition
    (partitionOverwriteMode=dynamic), while static overwrite mode would
    TRUNCATE THE WHOLE TABLE first (the classic data-loss footgun this
    key pins against). The restatement writes month {_RESTATE_MONTH} at
    0.9× price into a 12-month table; the read-back proves the other 11
    partitions kept their original bytes. At 100 TB this is how daily
    loads land: overwrite-by-partition is idempotent (safe re-runs) and
    touches O(day), not O(table)."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    base = o.select(
        "o_orderkey",
        dround("o_totalprice").alias("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM").alias("m"),
    )
    out = scratch(spark, sf_dir, "sdp_sink_dyn_overwrite_")
    base.write.mode("overwrite").partitionBy("m").parquet(out)
    restated = base.filter(F.col("m") == _RESTATE_MONTH).withColumn(
        "o_totalprice", dround(F.col("o_totalprice") * 0.9)
    )
    (
        restated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("m")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.select(
        "o_orderkey", "o_totalprice", F.col("m").cast("string").alias("m")
    )


@register(
    "scan_numbers_table",
    oracle="""
    WITH nums AS (SELECT i AS n FROM generate_series(1, 1000) AS t(i))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n) AS BIGINT) AS total,
           CAST(SUM(CASE WHEN n % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS sevens,
           CAST(MIN(n * n) AS BIGINT) AS min_sq,
           CAST(MAX(n * n) AS BIGINT) AS max_sq
    FROM nums
    """,
    section=_SEC,
)
def scan_numbers_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numbers-table generation — the scaffold idiom MySQL 5.6 users
    build with auxiliary tables (no generate_series there) and this
    engine produces inline via spark.range(N) — a partitioned range
    source with no data movement (each partition generates its own
    slice). The same generator family underlies calendar scaffolds
    (ts_gap_fill uses the per-row sequence()/explode variant) and tally
    expansions; both forms stay entirely map-side."""
    nums = spark.range(1, 1001).select(F.col("id").alias("n"))
    return nums.agg(
        F.count("*").alias("n_rows"),
        F.sum("n").cast("bigint").alias("total"),
        F.sum(F.when(F.col("n") % 7 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("sevens"),
        F.min(F.col("n") * F.col("n")).cast("bigint").alias("min_sq"),
        F.max(F.col("n") * F.col("n")).cast("bigint").alias("max_sq"),
    )


@register(
    "scan_xml",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_size
    FROM part WHERE p_size <= 10
    """,
    section=_SEC,
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest via Spark 4's built-in XML source (no external package)
    — the LOAD XML INFILE analogue of the reference's MySQL surface. The
    fixture's part table is staged once per sf as row-tagged XML (Spark's
    own XML writer, _SUCCESS-guarded like every converted-copy cache),
    then read back with an EXPLICIT schema: at 100 TB schema inference
    would be a second full pass over the corpus, and XML files split by
    row tag, so the read parallelizes like CSV. Filter and projection
    still prune parsing work per record (non-projected elements are
    skipped by the pull parser)."""
    path = _converted_dir(
        spark,
        sf_dir,
        "part",
        "xml",
        columns=["p_partkey", "p_name", "p_brand", "p_size"],
        rowTag="part",
    )
    schema = T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
        ]
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "part")
        .schema(schema)
        .load(path)
        .filter(F.col("p_size") <= 10)
        .select("p_partkey", "p_name", "p_brand", "p_size")
    )


@register(
    "scan_python_datasource",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    section=_SEC,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Python DataSource API (Spark 4) — the
    extension point a user of the reference's engine would use where
    MySQL offers a storage-engine/FEDERATED plugin. The source splits by
    parquet ROW GROUP: partitions() lists row groups driver-side (file
    metadata only), each read() opens ONLY its group via pyarrow — so a
    100 TB directory fans out to thousands of independent tasks with no
    driver data movement, exactly how the built-in reader parallelizes.

    Everything is defined nested so cloudpickle ships the classes by
    value (the driver's cwd is not the repo; by-reference pickling would
    fail to import on workers)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    path = os.path.join(sf_dir, "supplier.parquet")

    class RowGroupPartition(InputPartition):
        def __init__(self, path: str, index: int):
            self.path = path
            self.index = index

    class SupplierReader(DataSourceReader):
        def __init__(self, options):
            self.path = options["path"]

        def partitions(self):
            import pyarrow.parquet as pq

            n = pq.ParquetFile(self.path).num_row_groups
            return [RowGroupPartition(self.path, i) for i in range(n)]

        def read(self, partition):
            import pyarrow.parquet as pq

            tbl = pq.ParquetFile(partition.path).read_row_group(
                partition.index,
                columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
            )
            for batch in tbl.to_batches():
                yield from zip(
                    batch.column(0).to_pylist(),
                    batch.column(1).to_pylist(),
                    batch.column(2).to_pylist(),
                    batch.column(3).to_pylist(),
                )

    class SupplierDataSource(DataSource):
        @classmethod
        def name(cls):
            return "sdp_rowgroups"

        def schema(self):
            return (
                "s_suppkey bigint, s_name string, s_nationkey int,"
                " s_acctbal double"
            )

        def reader(self, schema):
            return SupplierReader(self.options)

    spark.dataSource.register(SupplierDataSource)
    return spark.read.format("sdp_rowgroups").option("path", path).load()


@register(
    "scan_file_metadata",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_files
    FROM lineitem GROUP BY flag ORDER BY flag
    """,
    section=_SEC,
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden _metadata columns (file_path / file_name) — per-file
    lineage surfaced as ordinary columns, read from the reader's task
    context at zero I/O cost. This is how a lakehouse answers "which
    file did this row come from" (skew forensics, bad-file quarantine,
    incremental reconciliation) where MySQL users would query the
    binlog. The fixture stage writes lineitem partitioned by returnflag
    with ONE file per partition (repartition on the partition key), so
    the partition value recovered by regexp from _metadata.file_path and
    the per-dir distinct file count are both deterministic — and the
    oracle states them from the source table directly."""
    df = spark.read.parquet(_lineitem_meta_part(spark, sf_dir))
    return (
        df.select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"l_returnflag=([A-Z])", 1
            ).alias("flag"),
            F.col("_metadata.file_name").alias("fname"),
        )
        .groupBy("flag")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count_distinct("fname").cast("bigint").alias("n_files"),
        )
        .orderBy("flag")
    )


@memo
def _lineitem_meta_part(spark: SparkSession, sf_dir: str) -> str:
    out = cache_dir(sf_dir, "lineitem_meta_part")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_quantity", "l_returnflag")
            .repartition("l_returnflag")
            .write.mode("overwrite")
            .partitionBy("l_returnflag")
            .parquet(out)
        )
    return out


@register(
    "sink_compressed",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,8))), 2)
                AS DOUBLE) AS total
    FROM lineitem WHERE l_orderkey % 13 = 0
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    section=_SEC,
)
def sink_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-controlled parquet write (zstd) + read-back aggregate — the
    storage-efficiency dial that matters more than any query knob at
    100 TB (zstd typically halves footprint vs snappy at similar scan
    speed, and scan cost IS the workload). The round-trip is the
    certification: rows, grouping, and exact decimal totals survive the
    codec; the parquet footer carries the codec per column chunk so
    readers need no configuration. MySQL analogue: ROW_FORMAT=COMPRESSED,
    but chosen per-write here, not per-table."""
    out = cache_dir(sf_dir, "lineitem_zstd")
    sample = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 13 == 0)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            sample.select("l_orderkey", "l_returnflag", "l_extendedprice")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(out)
        )
    back = spark.read.parquet(out)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum(F.col("l_extendedprice").cast(DEC)), 2)
            .cast("double")
            .alias("total"),
        )
        .orderBy("l_returnflag")
    )


# Changelog-trigger change set over orders (deterministic stand-ins for a
# transaction batch): DELETE closed low-value 'P' orders, UPDATE urgent
# orders to 95% price, INSERT re-keyed copies of every 97th order.
_CLG_INS_OFFSET = 100000000


@register(
    "dml_changelog_trigger",
    oracle=f"""
    SELECT 'DELETE' AS op, o_orderkey,
           FLOOR(o_totalprice * 100 + 0.5) / 100 AS old_price,
           CAST(NULL AS DOUBLE) AS new_price,
           o_orderstatus AS old_status,
           CAST(NULL AS VARCHAR) AS new_status
    FROM orders
    WHERE o_orderstatus = 'P' AND o_totalprice < 50000
    UNION ALL
    SELECT 'UPDATE', o_orderkey,
           FLOOR(o_totalprice * 100 + 0.5) / 100,
           FLOOR(o_totalprice * 0.95 * 100 + 0.5) / 100,
           o_orderstatus, o_orderstatus
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
      AND NOT (o_orderstatus = 'P' AND o_totalprice < 50000)
    UNION ALL
    SELECT 'INSERT', o_orderkey + {_CLG_INS_OFFSET},
           CAST(NULL AS DOUBLE),
           FLOOR(o_totalprice * 100 + 0.5) / 100,
           CAST(NULL AS VARCHAR), 'N'
    FROM orders
    WHERE o_orderkey % 97 = 0
    ORDER BY op, o_orderkey
    """,
    section=_SEC,
)
def dml_changelog_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AFTER INSERT/UPDATE/DELETE trigger analogue ([ENGINE] 5.6 triggers
    write audit tables row-by-row inside the transaction): the SAME
    declarative change set `dml_update_delete` applies — plus an insert
    batch — emitted as its CHANGELOG (op, key, before-image, after-image)
    instead of as the rewritten table. An immutable-storage engine derives
    the audit trail from the batch diff, not from per-row trigger
    procedures; the replay invariant (base + changelog == post-state) is
    pytest-pinned, which is exactly the guarantee a trigger-maintained
    audit table provides.

    Plan: three filter+project branches over ONE scan lineage, UNION ALL,
    no join and no shuffle beyond the sink — the changelog is row-local
    because each branch's before/after images derive from the row itself.
    At 100 TB this is the copy-on-write DML family's audit side-channel:
    the rewrite (dml_update_delete) and its changelog share the scan, and
    the changelog streams to an append sink partitioned by op/day."""
    o = table(spark, sf_dir, "orders")
    deleted = (F.col("o_orderstatus") == "P") & (F.col("o_totalprice") < 50000)
    d_rows = o.filter(deleted).select(
        F.lit("DELETE").alias("op"),
        "o_orderkey",
        dround(F.col("o_totalprice")).alias("old_price"),
        F.lit(None).cast("double").alias("new_price"),
        F.col("o_orderstatus").alias("old_status"),
        F.lit(None).cast("string").alias("new_status"),
    )
    u_rows = o.filter((F.col("o_orderpriority") == "1-URGENT") & ~deleted).select(
        F.lit("UPDATE").alias("op"),
        "o_orderkey",
        dround(F.col("o_totalprice")).alias("old_price"),
        dround(F.col("o_totalprice") * 0.95).alias("new_price"),
        F.col("o_orderstatus").alias("old_status"),
        F.col("o_orderstatus").alias("new_status"),
    )
    i_rows = o.filter(F.col("o_orderkey") % 97 == 0).select(
        F.lit("INSERT").alias("op"),
        (F.col("o_orderkey") + _CLG_INS_OFFSET).alias("o_orderkey"),
        F.lit(None).cast("double").alias("old_price"),
        dround(F.col("o_totalprice")).alias("new_price"),
        F.lit(None).cast("string").alias("old_status"),
        F.lit("N").alias("new_status"),
    )
    return d_rows.unionByName(u_rows).unionByName(i_rows)


def changelog_replay(base: DataFrame, changelog: DataFrame) -> DataFrame:
    """Replay a (op, key, images) changelog onto the base table — the
    audit-trail consumer a trigger system enables: DELETE keys drop,
    UPDATE keys take the after-image, INSERT keys append. Used by the
    pytest invariant (replay == the post-state computed directly); a
    recovery/branching workflow at scale runs the same three-way plan
    with the changelog broadcast when small."""
    dels = changelog.filter(F.col("op") == "DELETE").select("o_orderkey")
    upds = changelog.filter(F.col("op") == "UPDATE").select(
        "o_orderkey",
        F.col("new_price").alias("u_price"),
        F.col("new_status").alias("u_status"),
    )
    ins = changelog.filter(F.col("op") == "INSERT").select(
        "o_orderkey",
        F.col("new_price").alias("o_totalprice"),
        F.col("new_status").alias("o_orderstatus"),
    )
    survived = base.join(dels, "o_orderkey", "left_anti")
    updated = survived.join(upds, "o_orderkey", "left").select(
        "o_orderkey",
        F.coalesce("u_price", dround(F.col("o_totalprice"))).alias("o_totalprice"),
        F.coalesce("u_status", F.col("o_orderstatus")).alias("o_orderstatus"),
    )
    return updated.unionByName(ins)


# ---------------------------------------------------------------------------
# CDC replication apply (r14, VERDICT r13 work list #6) — the MySQL-binlog
# consumption pattern the reference platform's replication story implies:
# a log of (lsn, op, key, values) rows replayed into final table state.
# The log is SYNTHESIZED deterministically from orders so both engines can
# derive it: every order INSERTs at lsn 3k; keys % 5 == 0 then UPDATE at
# 3k+1 (status 'U', price +10.0); keys % 7 == 0 then DELETE at 3k+2 —
# deletes beat updates on % 35 keys exactly as binlog order dictates.
# Apply semantics: per key the max-lsn op wins; 'D' removes the key.
# ---------------------------------------------------------------------------

_CDC_LOG_SQL = """
      SELECT o_orderkey * 3 AS lsn, 'I' AS op,
             o_orderkey, o_orderstatus, o_totalprice
      FROM orders
      UNION ALL
      SELECT o_orderkey * 3 + 1, 'U', o_orderkey, 'U', o_totalprice + 10.0
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey * 3 + 2, 'D', o_orderkey,
             CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
      FROM orders WHERE o_orderkey % 7 = 0
"""

_CDC_ORACLE = f"""
    WITH cdc AS ({_CDC_LOG_SQL}),
    last AS (
      SELECT o_orderkey, op, o_orderstatus, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY lsn DESC)
               AS rn
      FROM cdc
    ),
    final AS (
      SELECT o_orderstatus, o_totalprice FROM last
      WHERE rn = 1 AND op <> 'D'
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum("o_totalprice")} AS sum_price
    FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def cdc_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lsn, op, o_orderkey, o_orderstatus, o_totalprice) — the synthetic
    replication log, one DataFrame expression shared by the batch apply,
    the streaming landing-dir builder, and (as SQL text) the oracle."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    ins = o.select(
        (F.col("o_orderkey") * 3).alias("lsn"),
        F.lit("I").alias("op"),
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
    )
    upd = o.filter(F.col("o_orderkey") % 5 == 0).select(
        (F.col("o_orderkey") * 3 + 1).alias("lsn"),
        F.lit("U").alias("op"),
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
    )
    dels = o.filter(F.col("o_orderkey") % 7 == 0).select(
        (F.col("o_orderkey") * 3 + 2).alias("lsn"),
        F.lit("D").alias("op"),
        "o_orderkey",
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    return ins.unionByName(upd).unionByName(dels)


def cdc_last_state(log: DataFrame) -> DataFrame:
    """Replay a (chronologically complete) log slice to final row state:
    max-lsn op per key wins, deletes drop the key. Shared verbatim by
    the batch apply and the streaming foreachBatch merge, so
    stream == batch is structural."""
    w = Window.partitionBy("o_orderkey").orderBy(F.col("lsn").desc())
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .filter(F.col("op") != "D")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "lsn")
    )


def cdc_final_agg(state: DataFrame) -> DataFrame:
    """(o_orderstatus, n_orders, sum_price) over an applied table state —
    the bounded certification projection both keys return."""
    return (
        state.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


@register("dml_cdc_apply", oracle=_CDC_ORACLE, section=_SEC)
def dml_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH replication-log apply — replay the full CDC log into final
    table state in one query: window max-lsn per key (ONE shuffle on the
    replication key), drop deletes, aggregate the surviving rows. The
    semantics MySQL row-based replication applies serially, expressed as
    a data-parallel plan: at 100 TB the log shuffles once on o_orderkey
    and every key's ops settle independently — no serial replay thread.
    `stream_cdc_apply` is the streaming twin (same cdc_last_state core
    per micro-batch + copy-on-write merge); this key certifies the
    apply arithmetic against the full-log SQL oracle."""
    return cdc_final_agg(cdc_last_state(cdc_log(spark, sf_dir)))


# ---------------------------------------------------------------------------
# Multi-statement transaction emulation (r14, VERDICT r13 "missing" #3) —
# the durability/ACID knob the reference platform provisions
# (mysql-persistent-template.json:227-231 tunes InnoDB flush behavior)
# re-expressed for immutable storage: a transaction is a SEQUENCE of DML
# statements whose effects compose declaratively into ONE copy-on-write
# snapshot, published atomically by linking a fully-written manifest into
# the per-version commit file (the commit-marker discipline the ANN index
# and the streaming sinks use, hardened to create-if-absent). Readers
# always resolve the commit log first, so they see either the whole
# transaction or none of it (atomicity) and never an in-flight version
# (snapshot isolation). ROLLBACK deletes the staged attempt before any
# commit file names it — a no-op for every reader.
#
# No MVCC pretense (SURVEY §7 hard part 5): optimistic versioning,
# exactly the Delta/Iceberg commit model. Concurrent writers arbitrate by
# CREATE-IF-ABSENT on the per-version commit file (os.link of a fully
# written tmp manifest — atomic on POSIX; if-none-match PUT on object
# stores): exactly one writer wins a contended version, losers re-derive
# on the new snapshot and retry. Every attempt stages into a PRIVATE
# data directory named in its manifest, so a loser can never scribble
# over the winner's published data. The statement fusion below means a
# 3-statement transaction costs one rewrite job, not three.
# ---------------------------------------------------------------------------

_TXN_INS_OFFSET = 20_000_000


class TxnConflict(Exception):
    """Another writer committed this version first — re-run the
    transaction's statements against the NEW snapshot and retry (the
    optimistic-concurrency loop every log-structured table format runs)."""


def _txn_commit_file(root: str, version: int) -> str:
    return os.path.join(root, f"_commit_v{version}.json")


def txn_current_version(root: str) -> int:
    """Highest committed version = max N with a `_commit_vN.json` present.
    Commit files are the ONLY truth; data dirs without one are invisible
    (a crashed or rolled-back attempt). 0 = table does not exist yet."""
    import re

    best = 0
    if os.path.isdir(root):
        for name in os.listdir(root):
            m = re.fullmatch(r"_commit_v(\d+)\.json", name)
            if m:
                best = max(best, int(m.group(1)))
    return best


def _txn_manifest(root: str, version: int) -> dict:
    import json

    with open(_txn_commit_file(root, version)) as f:
        return json.load(f)


def txn_stage(df: DataFrame, root: str, version: int) -> str:
    """Write a snapshot ATTEMPT for `version` into a private data dir
    (unique suffix — concurrent attempts at the same version never share
    a path; the winner's commit file records which dir won). Returns the
    staged path to pass to txn_commit/txn_rollback."""
    import uuid

    path = os.path.join(root, f"v{version}-{uuid.uuid4().hex[:12]}")
    df.write.mode("overwrite").parquet(path)
    return path


def txn_commit(root: str, version: int, staged_path: str, n_statements: int) -> None:
    """COMMIT by create-if-absent: the manifest (version, data dir,
    statement count) is fully written to a tmp name, then os.link'd to
    `_commit_v{N}.json` — link atomically fails with FileExistsError if
    the version is already taken, so a contended commit raises
    TxnConflict having published NOTHING, and a reader can never observe
    a torn manifest (the link target is complete before it exists)."""
    import json

    final = _txn_commit_file(root, version)
    tmp = f"{final}.tmp.{os.getpid()}.{os.path.basename(staged_path)}"
    with open(tmp, "w") as f:
        json.dump(
            {
                "version": version,
                "path": os.path.basename(staged_path),
                "n_statements": n_statements,
            },
            f,
        )
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise TxnConflict(f"version {version} already committed under {root}") from None
    finally:
        os.unlink(tmp)


def txn_rollback(root: str, staged_path: str) -> None:
    """Discard a staged (uncommitted) attempt. No commit file ever named
    this dir, so no reader ever observed the transaction."""
    import shutil

    if os.path.exists(staged_path):
        shutil.rmtree(staged_path, ignore_errors=True)


def txn_vacuum(root: str) -> list[str]:
    """Garbage-collect data dirs no commit file references (crashed
    attempts, conflict losers that didn't roll back). Safe at any time:
    referenced dirs and commit files are never touched. Returns removed
    paths — the maintenance face every log-structured format ships."""
    import re
    import shutil

    live = set()
    for name in os.listdir(root):
        if re.fullmatch(r"_commit_v(\d+)\.json", name):
            live.add(_txn_manifest(root, int(re.findall(r"\d+", name)[0]))["path"])
    removed = []
    for name in os.listdir(root):
        if re.fullmatch(r"v\d+-[0-9a-f]+", name) and name not in live:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
            removed.append(name)
    return removed


def txn_expire(root: str, keep_last: int = 1) -> list[int]:
    """Retention: drop the commit files of all but the newest
    `keep_last` versions, then vacuum their (now unreferenced) data.
    Time travel to an expired version raises from then on; the current
    version can never expire (keep_last >= 1 enforced). The
    storage/history dial every lakehouse table exposes — history cost
    becomes bounded by churn within the retention window."""
    import re

    if keep_last < 1:
        raise ValueError("txn_expire: keep_last must be >= 1")
    cutoff = txn_current_version(root) - keep_last
    expired = []
    for name in os.listdir(root):
        m = re.fullmatch(r"_commit_v(\d+)\.json", name)
        if m and int(m.group(1)) <= cutoff:
            os.remove(os.path.join(root, name))
            expired.append(int(m.group(1)))
    txn_vacuum(root)
    return sorted(expired)


def txn_read(spark: SparkSession, root: str) -> DataFrame:
    """Reader entry point: resolve the highest commit file, scan exactly
    the data dir its manifest names."""
    v = txn_current_version(root)
    if v == 0:
        raise RuntimeError(f"txn_read: no committed version under {root}")
    return spark.read.parquet(os.path.join(root, _txn_manifest(root, v)["path"]))


def _txn_stmt_update(state: DataFrame) -> DataFrame:
    """Statement 1: UPDATE ... SET price = round(price*0.98) WHERE status='F'."""
    return state.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderstatus") == "F", dround(F.col("o_totalprice") * 0.98)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )


def _txn_stmt_insert(state: DataFrame) -> DataFrame:
    """Statement 2: INSERT ... SELECT derived from the CURRENT state — the
    inserted price reads statement 1's discount, so statement order is
    observable (and certified) in the committed snapshot."""
    ins = state.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + _TXN_INS_OFFSET).alias("o_orderkey"),
        F.lit("T").alias("o_orderstatus"),
        dround(F.col("o_totalprice") * 0.5).alias("o_totalprice"),
    )
    return state.unionByName(ins)


def _txn_stmt_delete(state: DataFrame) -> DataFrame:
    """Statement 3: DELETE WHERE status='F' AND price < 20000 — its
    predicate bites rows statement 1 pushed under the threshold."""
    return state.filter(
        ~((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 20000))
    )


_TXN_STATEMENTS = (_txn_stmt_update, _txn_stmt_insert, _txn_stmt_delete)


def txn_apply(
    spark: SparkSession, root: str, statements=_TXN_STATEMENTS, max_retries: int = 3
) -> int:
    """BEGIN; <statements>; COMMIT with optimistic retry — the statements
    fold left over the current committed snapshot (each sees its
    predecessors' effects, exactly SQL's in-transaction visibility) into
    ONE staged write; the create-if-absent commit publishes all of them
    at once. On TxnConflict (another writer took the version) the LOSER's
    work is discarded and the whole transaction re-derives against the
    new snapshot — serializable by construction, never lost-update.
    Returns the committed version."""
    for _ in range(max_retries):
        base = txn_current_version(root)
        state = txn_read(spark, root)
        for stmt in statements:
            state = stmt(state)
        staged = txn_stage(state, root, base + 1)
        if txn_current_version(root) < base:  # still invisible pre-commit
            raise RuntimeError("txn_apply: committed version went backwards")
        try:
            txn_commit(root, base + 1, staged, len(statements))
            return base + 1
        except TxnConflict:
            txn_rollback(root, staged)
    raise TxnConflict(f"gave up after {max_retries} conflicted attempts on {root}")


@register(
    "dml_txn_multi",
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus,
             FLOOR(o_totalprice * 100 + 0.5) / 100 AS o_totalprice
      FROM orders
    ),
    s1 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'F'
                  THEN FLOOR(o_totalprice * 0.98 * 100 + 0.5) / 100
                  ELSE o_totalprice END AS o_totalprice
      FROM v1
    ),
    s2 AS (
      SELECT * FROM s1
      UNION ALL
      SELECT o_orderkey + {_TXN_INS_OFFSET}, 'T',
             FLOOR(o_totalprice * 0.5 * 100 + 0.5) / 100
      FROM s1 WHERE o_orderkey % 11 = 0
    ),
    s3 AS (
      SELECT * FROM s2
      WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 20000)
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum("o_totalprice")} AS sum_price
    FROM s3 GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    section=_SEC,
)
def dml_txn_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-statement transaction with atomic commit, snapshot isolation
    and ROLLBACK over immutable storage (the reference platform's ACID
    surface, mysql-persistent-template.json:227-231, re-expressed as
    versioned snapshots + create-if-absent commit files — VERDICT r13
    "missing" #3):

    - seed v1 from orders (the CREATE TABLE ... AS state),
    - TXN A = UPDATE -> INSERT..SELECT -> DELETE, folded into ONE
      copy-on-write job and published atomically (txn_apply); statement 2
      reads statement 1's discount and statement 3's predicate bites rows
      statement 1 moved — in-transaction visibility is value-certified,
    - TXN B = UPDATE + DELETE staged, then ROLLBACK — no commit file
      ever names it, so the committed state provably excludes it,
    - the certification projection reads THROUGH the commit log (txn_read).

    The oracle replays the same statement chain as CTEs s1->s2->s3 — the
    SQL serial-execution semantics this machinery promises. Concurrent
    writers: txn_commit is create-if-absent on `_commit_v{N}.json`
    (atomic os.link of a complete manifest; if-none-match PUT on object
    stores), each attempt stages a PRIVATE data dir — exactly-one-winner
    per version, losers re-derive and retry (pytest-pinned race).

    Plan: each transaction is one scan -> conditional-projection ->
    union -> filter pipeline (whole-stage codegen, no shuffle until the
    final certification agg) + one parquet write; commit/rollback/vacuum
    are O(1) driver-side metadata ops. At 100 TB statement fusion means a
    K-statement transaction still costs one rewrite of the affected
    partitions, and the commit-file protocol is the same cost at every
    scale."""
    import shutil

    root = cache_dir(sf_dir, "txn_orders")
    shutil.rmtree(root, ignore_errors=True)  # deterministic rebuild per call
    os.makedirs(root, exist_ok=True)

    seed = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        dround(F.col("o_totalprice")).alias("o_totalprice"),
    )
    txn_commit(root, 1, txn_stage(seed, root, 1), 1)

    committed = txn_apply(spark, root)  # TXN A
    if committed != 2:
        raise RuntimeError(f"dml_txn_multi: expected v2 committed, got v{committed}")

    # TXN B: stage, then ROLLBACK — no reader ever sees it.
    doomed = txn_read(spark, root).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    ).filter(F.col("o_orderkey") % 2 != 0)
    txn_rollback(root, txn_stage(doomed, root, 3))
    if txn_current_version(root) != 2 or txn_vacuum(root):
        raise RuntimeError("dml_txn_multi: rollback left state behind")

    return (
        txn_read(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Time travel + change data feed over the transaction commit log — the two
# read faces a versioned-snapshot table gets for free: committed versions
# are immutable and their commit files persist (txn_vacuum only removes
# UNreferenced attempt dirs), so `AS OF` is just "resolve commit file N
# instead of max", and the change feed between two versions is a key-wise
# diff of their snapshots. Both keys build one shared 2-version history
# (seed -> TXN A), memoized per session.
# ---------------------------------------------------------------------------


def txn_read_at(spark: SparkSession, root: str, version: int) -> DataFrame:
    """SELECT ... AS OF <version>: resolve that version's commit file and
    scan exactly its data dir. Retention: every committed version stays
    readable until an (operator-driven) expire removes its commit file —
    at 100 TB this is the storage/history trade every lakehouse table
    tunes; vacuum never breaks time travel because it only collects dirs
    NO commit file references."""
    if not os.path.exists(_txn_commit_file(root, version)):
        raise RuntimeError(f"txn_read_at: version {version} not committed in {root}")
    return spark.read.parquet(
        os.path.join(root, _txn_manifest(root, version)["path"])
    )


@memo
def _txn_history_root(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per session) the shared 2-version history table:
    v1 = the orders seed, v2 = TXN A's three statements. Both time-travel
    keys read from it; a leftover root from a prior process is reused
    only if both commit files are present (content is deterministic)."""
    import shutil

    root = cache_dir(sf_dir, "txn_history")
    complete = all(
        os.path.exists(_txn_commit_file(root, v)) for v in (1, 2)
    )
    if not complete:
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        seed = table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            dround(F.col("o_totalprice")).alias("o_totalprice"),
        )
        txn_commit(root, 1, txn_stage(seed, root, 1), 1)
        txn_apply(spark, root)
    return root


# The oracle-side seed + statement chain, shared by both read faces
# (identical text to dml_txn_multi's chain — one history, three lenses).
_TXN_CHAIN_SQL = f"""
    v1 AS (
      SELECT o_orderkey, o_orderstatus,
             FLOOR(o_totalprice * 100 + 0.5) / 100 AS o_totalprice
      FROM orders
    ),
    s1 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'F'
                  THEN FLOOR(o_totalprice * 0.98 * 100 + 0.5) / 100
                  ELSE o_totalprice END AS o_totalprice
      FROM v1
    ),
    s2 AS (
      SELECT * FROM s1
      UNION ALL
      SELECT o_orderkey + {_TXN_INS_OFFSET}, 'T',
             FLOOR(o_totalprice * 0.5 * 100 + 0.5) / 100
      FROM s1 WHERE o_orderkey % 11 = 0
    ),
    s3 AS (
      SELECT * FROM s2
      WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 20000)
    )
"""


@register(
    "dml_txn_time_travel",
    oracle=f"""
    WITH {_TXN_CHAIN_SQL}
    SELECT CAST(1 AS INTEGER) AS version, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum("o_totalprice")} AS sum_price
    FROM v1 GROUP BY o_orderstatus
    UNION ALL
    SELECT CAST(2 AS INTEGER), o_orderstatus,
           CAST(COUNT(*) AS BIGINT), {sql_dsum("o_totalprice")}
    FROM s3 GROUP BY o_orderstatus
    ORDER BY version, o_orderstatus
    """,
    section=_SEC,
)
def dml_txn_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT ... AS OF <version> (time travel) over the transaction
    commit log: the same table is read at v1 (pre-transaction) AND v2
    (post-transaction) in one plan, certifying that committed history is
    immutable and reproducible — the audit/debug/ML-reproducibility read
    face MySQL serves with point-in-time binlog recovery and a lakehouse
    serves from retained snapshots.

    Plan: two parquet scans (one per version dir) -> two partial aggs ->
    union; versions never join, so the shuffle carries only group states.
    At 100 TB old versions share unchanged data files in a real format
    (copy-on-write rewrites only touched partitions); history cost is
    bounded by churn, not by version count x table size."""
    root = _txn_history_root(spark, sf_dir)

    def agg(df: DataFrame, version: int) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum("o_totalprice").alias("sum_price"),
        ).select(
            F.lit(version).alias("version"),
            "o_orderstatus",
            "n_rows",
            "sum_price",
        )

    return (
        agg(txn_read_at(spark, root, 1), 1)
        .unionByName(agg(txn_read_at(spark, root, 2), 2))
        .orderBy("version", "o_orderstatus")
    )


@register(
    "dml_txn_changes",
    oracle=f"""
    WITH {_TXN_CHAIN_SQL},
    ch AS (
      SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             CASE WHEN a.o_orderkey IS NULL THEN 'INSERT'
                  WHEN b.o_orderkey IS NULL THEN 'DELETE'
                  ELSE 'UPDATE' END AS op,
             a.o_orderstatus AS old_status, b.o_orderstatus AS new_status,
             a.o_totalprice AS old_price, b.o_totalprice AS new_price
      FROM v1 a FULL OUTER JOIN s3 b ON a.o_orderkey = b.o_orderkey
    )
    SELECT * FROM ch
    WHERE op <> 'UPDATE' OR old_price <> new_price
       OR old_status <> new_status
    ORDER BY o_orderkey
    """,
    section=_SEC,
)
def dml_txn_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED between two committed versions (table_changes /
    CDC-from-snapshots): key-wise diff of v1 and v2 emitting
    (op, key, before-image, after-image) rows — INSERTs have no before,
    DELETEs no after, UPDATEs both with at least one changed column
    (identical rows are NOT changes and are filtered). The derived twin
    of `dml_changelog_trigger`'s write-side audit log: same shape, but
    computed from immutable history after the fact, so a consumer that
    missed the live feed can always reconstruct it.

    Plan: ONE shuffle join on the table key between the two version
    scans, then a row-local op classifier — the diff is embarrassingly
    key-parallel. At 100 TB a real format stores the per-commit row
    deltas instead (this plan is the bootstrap/backfill path, and its
    cost is the join, bounded by the two snapshots' co-partitioned
    scan); the changed-row filter prunes the unchanged majority before
    anything reaches the sink."""
    root = _txn_history_root(spark, sf_dir)
    a = txn_read_at(spark, root, 1).select(
        F.col("o_orderkey").alias("a_key"),
        F.col("o_orderstatus").alias("old_status"),
        F.col("o_totalprice").alias("old_price"),
    )
    b = txn_read_at(spark, root, 2).select(
        F.col("o_orderkey").alias("b_key"),
        F.col("o_orderstatus").alias("new_status"),
        F.col("o_totalprice").alias("new_price"),
    )
    ch = a.join(b, a.a_key == b.b_key, "full_outer").select(
        F.coalesce("a_key", "b_key").alias("o_orderkey"),
        F.when(F.col("a_key").isNull(), "INSERT")
        .when(F.col("b_key").isNull(), "DELETE")
        .otherwise("UPDATE")
        .alias("op"),
        "old_status",
        "new_status",
        "old_price",
        "new_price",
    )
    return ch.filter(
        (F.col("op") != "UPDATE")
        | (F.col("old_price") != F.col("new_price"))
        | (F.col("old_status") != F.col("new_status"))
    ).orderBy("o_orderkey")
