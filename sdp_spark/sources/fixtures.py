"""Fixture table loaders (SURVEY.md §2.1 `scan_parquet`).

The platform's unit of deployment is a named database of typed relational
tables (reference: MYSQL_DATABASE param,
openshift_resources/db-templates/mysql-persistent-template.json:207-212).
Here a "database" is a directory of parquet tables; loading registers each
as a temp view so both the DataFrame API and spark.sql see the same names —
the analogue of the reference's SQL session over port 3306
(mysql-persistent-template.json:20-25).

Scale notes: `spark.read.parquet` gives the vectorized reader, column
pruning, row-group predicate pushdown and partition splitting for free; at
100 TB the same call reads a partitioned directory tree and Catalyst prunes
partitions statically + dynamically.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from sdp_spark.memo import memo, stamp

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to always broadcast at any scale factor (the TPC-H
# region/nation tables are fixed-size; supplier/part grow slowly). Used by
# operators to hint broadcast joins.
SMALL_DIMS = ("region", "nation")


def _pin_session_confs(spark: SparkSession) -> None:
    """Pin runtime-settable confs the cross-engine contract depends on.

    The driver runs queries() under its own vanilla SparkSession, so nothing
    set in sdp_spark.session.get_spark is guaranteed here. Everything the
    DuckDB oracle comparison assumes must be (re-)pinned at load time:

    - session timeZone=UTC: DuckDB timestamps are naive; on a non-UTC host
      Spark's date_format/year/unix_timestamp and literal->timestamp casts
      would shift relative to the oracle.
    - shuffle partitions: the driver's vanilla session ships Spark's default
      200 — at sf<=0.1 that is ~170 empty tasks per exchange and slows the
      budget-bounded correctness sweep. Detection is by VALUE: a session
      where someone explicitly chose "200" is indistinguishable from the
      untouched default and gets replaced too — accepted edge case, since
      results are partitioning-independent by construction (DECIMAL sums,
      floor-form rounding) and 200→32 is purely a small-sf latency knob.
      Any other explicit choice is respected.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", "32")


def table_fingerprint(sf_dir: str, name: str) -> tuple[int, int]:
    """(mtime_ns, size) of the table's parquet path — one table's share of
    the data version every memo key carries (memo.stamp). A Spark overwrite
    deletes and recreates the directory (or file), so the mtime moves on
    ANY rewrite; a memo keyed without it would keep serving the old file
    list after a test (or a caller) rewrites a table in place — the exact
    FAILED_READ_FILE.FILE_NOT_EXIST this round's first full-suite run hit.
    One os.stat per call: microseconds, vs the ~0.1 s footer read it
    guards."""
    try:
        st = os.stat(os.path.join(sf_dir, f"{name}.parquet"))
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return (0, 0)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan).

    `events.ts` is stored as parquet TIMESTAMP(NANOS). Engines differ in how
    they surface it — Spark 4.1 reads it natively as TIMESTAMP_NTZ(µs);
    older readers reject nanos unless the legacy nanosAsLong conf maps them
    to a raw long. Normalize BOTH shapes to a session-zoned microsecond
    TimestampType (session tz is pinned UTC, so ntz→ltz preserves
    wall-clock): every consumer — batch windows, streaming watermarks
    (which require TIMESTAMP, not NTZ), date_format oracles — sees one
    documented type regardless of engine. Sub-microsecond ordering ties are
    broken by event_id in every consumer.
    """
    _pin_session_confs(spark)
    return _scan(spark, sf_dir, name)


@memo
def _scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The analyzed scan behind `table`, memoized. A bare
    `spark.read.parquet` costs ~0.1 s per call on this box (file listing +
    footer/schema read, all driver-side), and `load_tables` paid it 10x
    plus 10 temp-view re-registrations on EVERY `_sql`-based operator
    invocation (~1.4 s/rep measured — more than most queries themselves;
    guide §1.2 "don't compute things you throw away", applied to the
    driver). Logical plans are immutable, so handing every caller the same
    DataFrame changes nothing about results; the data version in the memo
    key retires an entry the moment a table is rewritten. This memoizes
    PLAN OBJECTS only — no data, no results, nothing persisted across
    runs."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_t = df.schema["ts"].dataType
        if isinstance(ts_t, T.LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
        elif isinstance(ts_t, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# applicationId -> (abs sf_dir, data version) whose views are currently
# registered; re-registration is skipped only when the SAME dir with the
# SAME file fingerprints is already live, so a session that alternates sf
# dirs or rewrites a table in place (tests do both) stays correct.
_VIEWS_REGISTERED: dict[str, tuple[str, tuple]] = {}


@memo
def _scan_parts(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Scan partition count, so the wide_table parallelism probe lists
    files once per session and data version, not per call."""
    return table(spark, sf_dir, name).rdd.getNumPartitions()


def wide_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """`table()` plus a landing-file parallelism guard for CPU-heavy
    consumers (n-gram explode, MinHash, embedding math).

    A single small parquet landing file scans as ONE split, which serializes
    every downstream per-row computation on one core — the local-mode twin
    of the classic "one giant gzip file" ingest hazard. When the scan yields
    fewer splits than `defaultParallelism`, repartition up to it (the data
    is by definition small — one narrow shuffle of a few MB buys full-width
    CPU). On a real multi-split scan (100 TB = thousands of row groups)
    the condition is false and this is `table()` verbatim: no extra
    exchange, pushdown/pruning untouched."""
    df = table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if _scan_parts(spark, sf_dir, name) < target:
        df = df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all fixture tables and register them as temp views.

    View registration is skipped when this session already has THIS sf_dir's
    views live (see `_VIEWS_REGISTERED`) — registration is driver-side
    catalog mutation, identical each time, and it dominated the per-rep cost
    of every `spark.sql`-based operator."""
    out: dict[str, DataFrame] = {name: table(spark, sf_dir, name) for name in TABLES}
    app = spark.sparkContext.applicationId
    live = (os.path.abspath(sf_dir), stamp(sf_dir))
    if _VIEWS_REGISTERED.get(app) != live:
        for name, df in out.items():
            df.createOrReplaceTempView(name)
        _VIEWS_REGISTERED[app] = live
    return out


def cache_tag(sf_dir: str) -> str:
    """Stable identifier for an sf_dir's data: basename + hash of the
    NORMALIZED absolute path and the data version (trailing slashes /
    relative spellings map to one tag; distinct dirs sharing a basename
    never collide; a table rewritten in place moves every staged artifact
    derived from the dir to a fresh path)."""
    norm = os.path.abspath(sf_dir.rstrip("/") or "/")
    digest = hashlib.md5(repr((norm, stamp(sf_dir))).encode()).hexdigest()[:8]
    return os.path.basename(norm) + "-" + digest


def cache_dir(sf_dir: str, *parts: str) -> str:
    """Collision-proof /tmp cache path for per-sf derived artifacts."""
    return os.path.join(tempfile.gettempdir(), "sdp_spark_cache", cache_tag(sf_dir), *parts)
