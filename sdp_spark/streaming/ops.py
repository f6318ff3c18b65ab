"""Structured Streaming operators — SURVEY.md §2.10 (+ §2.1 stream source/sink).

Platform role: the reference exists to continuously ingest surveillance data
into a SQL store (README.md:2,4; the deployed MySQL service *is* the sink,
mysql-persistent-template.json:20-25). Here that is `readStream` file
sources → windowed/stateful transforms → sinks, per the Structured
Streaming model (SIGMOD'18, PAPERS.md).

Determinism: every op runs with `trigger(availableNow=True)` and a memory
sink, so the incremental result is comparable to the equivalent batch query
(batch-equivalence testing, SURVEY.md §5.2). Ops whose availableNow result
is bit-deterministic carry a full SQL oracle; watermark-eviction behavior is
rows-only (checked by pytest batch-equivalence instead).

Scale notes: state stores (dedup keys, session windows, running state) are
bounded by watermarks — at 100 TB/day the watermark is what keeps state
finite. foreachBatch sinks write idempotently by batchId (the exactly-once
discipline replacing the reference's fsync-per-commit durability,
mysql-persistent-template.json:227-231).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sdp_spark.functions.num import DEC
from sdp_spark.memo import memo, memory_sink, scratch
from sdp_spark.plans.registry import register
from sdp_spark.sources.fixtures import cache_dir, table

_SEC = "2.10 streaming"

_N_LANDING_FILES = 4


@memo
def _events_landing_dir(spark: SparkSession, sf_dir: str) -> str:
    """File-stream sources need a *directory* to watch; stage the events
    parquet into a per-sf landing dir once (the 'continuously arriving
    files' shape the platform ingests) as _N_LANDING_FILES CHRONOLOGICAL
    slices with increasing mtimes. Chronological file order means the
    file-source's multi-batch availableNow run replays history in event-time
    order: watermarks only move forward and no event is ever late, so the
    incremental result stays equal to the batch query (the property the SQL
    oracles pin). Built into a temp dir + atomic rename: a concurrent
    process never streams a half-built landing dir."""
    # landing5: key bumped when the on-disk ts schema changed from INT64
    # nano-long to TIMESTAMP_NTZ(µs) — a warm landing4 dir built by
    # pre-change code would fail the new explicit NTZ stream schema
    out = cache_dir(sf_dir, "events_landing5")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp.{os.getpid()}"
        # Normalize ts to TIMESTAMP_NTZ(µs) in the landing files so the
        # stream-side schema is engine-independent. Spark 4 reads the
        # fixture's TIMESTAMP(NANOS) natively as ntz (the legacy
        # nanosAsLong conf is a no-op there); older engines need the
        # long-ns fallback. Session tz is pinned UTC by table(), so an
        # ltz->ntz cast preserves wall-clock.
        src = table(spark, sf_dir, "events")
        ts_t = src.schema["ts"].dataType
        if isinstance(ts_t, T.TimestampType):
            src = src.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        from pyspark.sql import Window

        sliced = src.withColumn(
            "_slice",
            F.ntile(_N_LANDING_FILES).over(
                Window.orderBy("ts", "event_id")
            ),
        )
        base = 1_600_000_000  # fixed epoch: mtime order == slice order
        for i in range(1, _N_LANDING_FILES + 1):
            stage = os.path.join(tmp, f"_stage_{i}")
            (
                sliced.filter(F.col("_slice") == i)
                .drop("_slice")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            part = next(
                p for p in os.listdir(stage)
                if p.endswith(".parquet") and not p.startswith((".", "_"))
            )
            dst = os.path.join(tmp, f"events_{i:03d}.parquet")
            os.replace(os.path.join(stage, part), dst)
            shutil.rmtree(stage, ignore_errors=True)
            os.utime(dst, (base + i, base + i))
        try:
            os.rename(tmp, out)
        except OSError:  # lost the build race: another process landed it
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (explicit schema — no
    inference job). Landing files carry ts as TIMESTAMP_NTZ(µs) (normalized
    at build, _events_landing_dir); cast to session-zoned TimestampType
    (UTC-pinned ⇒ identical wall-clock) so every downstream window /
    watermark / date_format sees the type batch consumers see.
    maxFilesPerTrigger=2 over the 4-file landing dir makes every
    availableNow run a genuine MULTI-batch incremental execution (2
    micro-batches) — state handoff, watermark progression and sink
    idempotence are exercised on the operators themselves, not only in
    dedicated tests."""
    # Pin session tz=UTC unconditionally: the warm-cache path skips table()
    # (which normally pins it), and the ntz->ltz cast below plus all window /
    # session_window bucketing depend on it — an unpinned non-UTC session
    # (esp. fractional offsets like +05:30) would shift window boundaries
    # away from the DuckDB oracle.
    from sdp_spark.sources.fixtures import _pin_session_confs

    _pin_session_confs(spark)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(_events_landing_dir(spark, sf_dir))
    )
    return sdf.withColumn("ts", F.col("ts").cast("timestamp"))


# State-store parallelism for local availableNow runs. A streaming query
# pins its state-partition count from spark.sql.shuffle.partitions at FIRST
# batch (recorded in the checkpoint) — 32 partitions means 32 state-store
# instances committing per micro-batch, pure overhead at fixture scale. 8 is
# right for local[8..32]; a production deployment sizes this to the cluster
# BEFORE the query first starts (it cannot change across restarts).
_STREAM_SHUFFLE = os.environ.get("SDP_STREAM_SHUFFLE", "8")


def _run_to_memory(sdf: DataFrame, sf_dir: str, mode: str, prefix: str) -> DataFrame:
    writer, name = memory_sink(sdf, sf_dir, prefix)
    spark = sdf.sparkSession
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _STREAM_SHUFFLE)
    try:
        q = writer.outputMode(mode).trigger(availableNow=True).start()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    return spark.table(name)


@register(
    "stream_ingest",
    oracle="""
    SELECT event_id, user_id, event_type, ROUND(value, 6) AS value_r,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM events
    """,
    section=_SEC,
)
def stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only ingest: file stream → memory table, no transform loss."""
    sdf = _events_stream(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 6).alias("value_r"),
        F.date_format(F.date_trunc("second", "ts"), "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )
    return _run_to_memory(sdf, sf_dir, "append", "ingest")


@register(
    "source_stream_files",
    oracle="""
    SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    """,
    section=_SEC,
)
def source_stream_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous file-directory ingest (the platform's surveillance-feed
    role): stream over a JSON landing dir, running counts per type."""
    from sdp_spark.operators.scans import _converted_dir

    path = _converted_dir(spark, sf_dir, "events", "json")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    sdf = spark.readStream.schema(schema).json(path)
    agg = sdf.groupBy("event_type").agg(F.count("*").alias("n"))
    return _run_to_memory(agg, sf_dir, "complete", "src_files")


@register(
    "sink_stream_foreachBatch",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    """,
    section=_SEC,
)
def sink_stream_foreachBatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream → relational store via foreachBatch (the DB-as-sink role the
    reference deploys). Idempotence discipline: overwrite by batchId
    partition so redelivered batches replace, not duplicate."""
    out = scratch(spark, sf_dir, "sdp_stream_sink_")
    sdf = _events_stream(spark, sf_dir).select("event_id", "user_id", "event_type")

    def write_batch(df: DataFrame, batch_id: int) -> None:
        (
            df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out)
        )

    q = sdf.writeStream.foreachBatch(write_batch).trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.read.parquet(out).select("event_id", "user_id", "event_type")


@register(
    "sink_stream_jdbc",
    oracle="SELECT event_id, user_id, event_type FROM events",
    section=_SEC,
)
def sink_stream_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream → relational DB via foreachBatch JDBC writes (the reference's
    continuous-ingest-into-MySQL role, mysql-persistent-template.json:20-25).
    Each micro-batch appends to ``sdp_stream_events`` with bounded
    connections/batch size; embedded Derby stands in when no DB service is
    configured, so the real JDBC branch executes everywhere. The target is
    RESET (overwrite an empty frame: DROP+CREATE) before the stream starts —
    repeat invocations (bench reps, driver re-runs) are idempotent, never
    accumulating duplicates. Exactly-once discipline: the `_batch_id` column
    + the target's primary key make redelivered batches detectable — Spark's
    JDBC writer has no upsert, so production pairs this with an INSERT-dedup
    constraint DB-side (MySQL PK or unique index)."""
    from sdp_spark.operators.scans import jdbc_conn

    url, extra, _ = jdbc_conn(sf_dir)
    sdf = _events_stream(spark, sf_dir).select("event_id", "user_id", "event_type")

    staged_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("_batch_id", T.LongType()),
        ]
    )

    def _writer(df: DataFrame, mode: str):
        w = (
            df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", "sdp_stream_events")
            .option("createTableColumnTypes",
                    "event_id BIGINT, user_id BIGINT, event_type VARCHAR(32), _batch_id BIGINT")
            .option("batchsize", "1000")
            .option("isolationLevel", "NONE")
            .mode(mode)
        )
        for k, v in extra.items():
            w = w.option(k, v)
        return w

    # idempotency reset: recreate the target empty for THIS run
    _writer(spark.createDataFrame([], staged_schema), "overwrite").save()

    def write_batch(df: DataFrame, batch_id: int) -> None:
        _writer(df.withColumn("_batch_id", F.lit(batch_id)).coalesce(4), "append").save()

    q = sdf.writeStream.foreachBatch(write_batch).trigger(availableNow=True).start()
    q.awaitTermination()
    r = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "sdp_stream_events")
    )
    for k, v in extra.items():
        r = r.option(k, v)
    return r.load().select("event_id", "user_id", "event_type")


@register(
    "stream_tumbling",
    oracle="""
    SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, COUNT(*) AS n, CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    section=_SEC,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type."""
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("sum_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _run_to_memory(agg, sf_dir, "complete", "tumbling")


@register(
    "stream_sliding",
    oracle="""
    WITH expanded AS (
      SELECT e.event_id, e.value,
             TIMESTAMP '1970-01-01 00:00:00'
               + INTERVAL (CAST(floor(epoch(CAST(e.ts AS TIMESTAMP)) / 900) * 900 - i.i * 900 AS BIGINT)) SECOND
               AS win_start
      FROM events e, UNNEST([0, 1, 2, 3]) AS i(i)
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start_s,
           COUNT(*) AS n, CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_value
    FROM expanded
    GROUP BY 1
    """,
    section=_SEC,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h window, 15min slide — each event lands in 4 windows. The
    oracle expands event×offset, pinning Spark's window-assignment math."""
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count("*").alias("n"), F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("sum_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start_s"),
            "n",
            "sum_value",
        )
    )
    return _run_to_memory(agg, sf_dir, "complete", "sliding")


@register(
    "stream_session",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch(CAST(ts AS TIMESTAMP))
                       - epoch(CAST(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP))
                       >= 1800 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts, value,
             -- same total order (ts, event_id) as the LAG window: with tied
             -- timestamps at a boundary an ORDER BY ts cumsum could assign
             -- the tied rows to the previous session arbitrarily
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    )
    SELECT user_id,
           strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events, CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_value
    FROM sess
    GROUP BY user_id, session_id
    """,
    section=_SEC,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user. Oracle emulates via
    lag + gap-cumsum sessionization — same session boundaries."""
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("sum_value"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, sf_dir, "complete", "session")


@register(
    "stream_tumbling_wm",
    oracle="""
    SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    HAVING date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) + INTERVAL 1 HOUR
           <= (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 2 HOUR FROM events)
    """,
    section=_SEC,
)
def stream_tumbling_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape twin of stream_tumbling: 2h watermark + APPEND mode.
    State for sealed windows is evicted and each window is emitted exactly
    once — bounded state and bounded re-emission at 100 TB/day, unlike the
    complete-mode demo twin (unbounded state, full re-emit per trigger).

    Oracle (promoted from rows-only, round 7): chronological landing files
    + availableNow make the final watermark deterministic (max ts − 2h),
    and Spark emits exactly the windows with end <= watermark — equality
    INCLUDED, pinned by test_wm_seal_boundary_semantics with a synthetic
    end==watermark fixture. The oracle is the batch aggregate filtered to
    those sealed windows."""
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _run_to_memory(agg, sf_dir, "append", "tumbling_wm")


@register(
    "stream_sliding_wm",
    oracle="""
    WITH expanded AS (
      SELECT e.event_id, e.value,
             TIMESTAMP '1970-01-01 00:00:00'
               + INTERVAL (CAST(floor(epoch(CAST(e.ts AS TIMESTAMP)) / 900) * 900 - i.i * 900 AS BIGINT)) SECOND
               AS win_start
      FROM events e, UNNEST([0, 1, 2, 3]) AS i(i)
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start_s,
           COUNT(*) AS n, CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_value
    FROM expanded
    GROUP BY 1, win_start
    HAVING win_start + INTERVAL 1 HOUR
           <= (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 2 HOUR FROM events)
    """,
    section=_SEC,
)
def stream_sliding_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape twin of stream_sliding: 1h/15min windows, 2h
    watermark, APPEND mode (bounded state; each of the 4 overlapping windows
    emits once when sealed). Oracle (promoted round 7): the event×offset
    window expansion of stream_sliding filtered to sealed windows
    (end <= max ts − 2h; boundary equality included — see
    test_wm_seal_boundary_semantics)."""
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start_s"),
            "n",
            "sum_value",
        )
    )
    return _run_to_memory(agg, sf_dir, "append", "sliding_wm")


@register(
    "stream_session_wm",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch(CAST(ts AS TIMESTAMP))
                       - epoch(CAST(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP))
                       >= 1800 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    )
    SELECT user_id,
           strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events, CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_value
    FROM sess
    GROUP BY user_id, session_id
    HAVING MAX(CAST(ts AS TIMESTAMP)) + INTERVAL 30 MINUTE
           <= (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 2 HOUR FROM events)
    """,
    section=_SEC,
)
def stream_session_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape twin of stream_session: session windows with a 2h
    watermark in APPEND mode — sessions emit once, when the watermark passes
    session end + gap (the state bound that keeps per-user session state
    finite). Oracle (promoted round 7): the gap-cumsum sessionization of
    stream_session filtered to sealed sessions — a session's window end is
    last event + 30 min gap, sealed when end <= max ts − 2h (equality
    included)."""
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, sf_dir, "append", "session_wm")


@register(
    "stream_watermark",
    oracle="""
    SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS win_start,
           COUNT(*) AS n
    FROM events
    GROUP BY 1
    HAVING date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) + INTERVAL 1 HOUR
           <= (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 2 HOUR FROM events)
    """,
    section=_SEC,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling windows with a 2h watermark in append mode — only windows
    the watermark has sealed are emitted; state for sealed windows is
    evicted (the 100 TB state-bound). Oracle (promoted from rows-only,
    round 7): under availableNow over the chronological landing files the
    final watermark is exactly max ts − 2h and the emission set is exactly
    the windows with end <= watermark, so the batch aggregate with that
    HAVING filter replays the emission deterministically."""
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n",
        )
    )
    return _run_to_memory(agg, sf_dir, "append", "watermark")


@register(
    "stream_dedup",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    """,
    section=_SEC,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once event dedup with watermark-bounded state. The event-time
    column is part of the dedup key — that is what lets the watermark evict
    state (dedup on event_id alone would keep one state row per id
    forever); event_id is unique per ts in the fixture, so the deduped
    stream equals the input and the oracle pins no row lost/duplicated."""
    sdf = _events_stream(spark, sf_dir)
    deduped = (
        sdf.withWatermark("ts", "2 hours")
        .dropDuplicates(["event_id", "ts"])
        .select("event_id", "user_id", "event_type")
    )
    return _run_to_memory(deduped, sf_dir, "append", "dedup")


@register(
    "stream_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
    section=_SEC,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-user running state via applyInPandasWithState — the escape
    hatch for logic windowed aggs can't express. Emits each user's state
    once per batch; single availableNow batch → one final row per user."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    sdf = _events_stream(spark, sf_dir).select("user_id", "value")

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("total", T.LongType())]
    )

    def update(key, pdfs, state: GroupState):
        import numpy as np

        # accumulate in integer cents: order-independent + exact (values are
        # 2dp; matches the oracle's DECIMAL sum)
        n, total_cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total_cents += int(np.rint(pdf["value"].to_numpy() * 100).astype(np.int64).sum())
        state.update((n, total_cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total_cents / 100.0]}
        )

    result = sdf.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    emitted = _run_to_memory(result, sf_dir, "update", "stateful")
    # update-mode memory sink APPENDS one emission per (batch, active user);
    # with the multi-batch landing dir a user emits up to once per batch.
    # n_events is strictly increasing per user, so the final state is the
    # max-n row — select it (one row per user, matching the batch oracle).
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        emitted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@register(
    "stream_join_dim",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment, c.c_name
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    section=_SEC,
)
def stream_join_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: events stream ⋈ broadcast customer dim —
    the per-batch dim lookup never shuffles the stream."""
    sdf = _events_stream(spark, sf_dir)
    dim = F.broadcast(table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_name"))
    joined = sdf.join(dim, sdf.user_id == dim.c_custkey).select(
        "event_id", "user_id", "c_mktsegment", "c_name"
    )
    return _run_to_memory(joined, sf_dir, "append", "join_dim")


@register(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id
    FROM events p JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    """,
    section=_SEC,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases ⋈ views of the same user
    within the prior hour. Watermarks on both sides + the time-range
    conjunct bound the join state (the buffered window per side is exactly
    watermark + interval — without it, stream-stream state grows forever).
    availableNow processes all data in one batch, so the result equals the
    batch interval join (SQL oracle)."""
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    joined = purchases.join(
        views,
        F.expr(
            "p_user = v_user AND v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts"
        ),
    ).select("purchase_id", "view_id", F.col("p_user").alias("user_id"))
    return _run_to_memory(joined, sf_dir, "append", "ss_join")


@register(
    "stream_stream_join_outer",
    oracle="""
    WITH p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
               FROM events WHERE event_type = 'purchase'),
         v AS (SELECT event_id AS view_id, user_id, CAST(ts AS TIMESTAMP) AS v_ts
               FROM events WHERE event_type = 'view')
    SELECT p.purchase_id, v.view_id, p.user_id
    FROM p LEFT JOIN v
      ON p.user_id = v.user_id AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR AND v.v_ts <= p.p_ts
    WHERE v.view_id IS NOT NULL
       OR p.p_ts < (SELECT least(
              (SELECT max(CAST(ts AS TIMESTAMP)) FROM events WHERE event_type = 'purchase'),
              (SELECT max(CAST(ts AS TIMESTAMP)) FROM events WHERE event_type = 'view')
            ) - INTERVAL 2 HOUR)
    """,
    section=_SEC,
)
def stream_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase, matched to
    same-user views in the prior hour, with NULL view_id when no view
    exists. Outer stream-stream joins are the state-eviction milestone:
    Spark can only emit the NULL-padded row once the watermark proves no
    matching view can still arrive, so unmatched results trail the inner
    ones by the watermark delay — state stays bounded by
    watermark + interval exactly as in the inner twin (stream_stream_join).

    Oracle (promoted from rows-only, round 7): matched rows equal the batch
    interval join unconditionally; a NULL-padded purchase is emitted iff
    its match interval is sealed, i.e. p_ts STRICTLY below the final global
    watermark — min of both streams' (max event time − 2h), and strictly,
    unlike the window seal's <=: pinned by
    test_ssjoin_outer_eviction_boundary with a synthetic p_ts==watermark
    fixture."""
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    joined = purchases.join(
        views,
        F.expr(
            "p_user = v_user AND v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts"
        ),
        "left_outer",
    ).select("purchase_id", "view_id", F.col("p_user").alias("user_id"))
    return _run_to_memory(joined, sf_dir, "append", "ss_join_outer")


@register(
    "sink_stream_upsert",
    oracle="""
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY user_id, event_type
    """,
    section=_SEC,
)
def sink_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE/upsert via foreachBatch (the CDC-apply pattern:
    INSERT ... ON DUPLICATE KEY UPDATE per micro-batch, accumulating
    running (user_id, event_type) counts across batches). Copy-on-write
    without a transactional format: each batch writes the merged state to
    the version dir for its batch id (v0/v1 alternating), reading the
    previous version — never overwriting the files it is reading. The
    multi-batch landing dir (2 micro-batches) makes the merge arithmetic
    real: batch 1's counts must sum into batch 0's, and the SQL oracle
    (global batch GROUP BY) only matches if every batch merged exactly
    once. At scale the versioned rewrite becomes a lakehouse MERGE
    (Delta/Iceberg) or partition-scoped overwrite keyed on the upsert
    key's partition."""
    base = scratch(spark, sf_dir, "sdp_stream_upsert_")
    sdf = _events_stream(spark, sf_dir).select("user_id", "event_type")
    state = {"last": -1}

    def merge_batch(df: DataFrame, batch_id: int) -> None:
        batch_counts = df.groupBy("user_id", "event_type").agg(
            F.count("*").alias("cnt")
        )
        prev = state["last"]
        if prev >= 0:
            prior = df.sparkSession.read.parquet(f"{base}/v{prev % 2}")
            batch_counts = (
                batch_counts.unionByName(prior)
                .groupBy("user_id", "event_type")
                .agg(F.sum("cnt").alias("cnt"))
            )
        batch_counts.write.mode("overwrite").parquet(f"{base}/v{batch_id % 2}")
        state["last"] = batch_id

    q = sdf.writeStream.foreachBatch(merge_batch).trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.read.parquet(f"{base}/v{state['last'] % 2}")


@memo
def _events_landing_ooo(spark: SparkSession, sf_dir: str) -> str:
    """OUT-OF-ORDER landing dir: 4 slices by user_id % 4, each spanning the
    FULL time range (unlike the chronological dir, whose file order keeps
    every event on-time). Once the watermark advances past the first
    micro-batch's max event time minus the delay, later files' early events
    arrive LATE — the adversarial input that makes watermark drop/eviction
    behavior observable instead of vacuous."""
    out = cache_dir(sf_dir, "events_landing_ooo1")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp.{os.getpid()}"
        src = table(spark, sf_dir, "events")
        ts_t = src.schema["ts"].dataType
        if isinstance(ts_t, T.TimestampType):
            src = src.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        base = 1_600_000_000
        os.makedirs(tmp, exist_ok=True)
        for i in range(4):
            stage = os.path.join(tmp, f"_stage_{i}")
            (
                src.filter(F.col("user_id") % 4 == i)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            part = next(
                p for p in os.listdir(stage)
                if p.endswith(".parquet") and not p.startswith((".", "_"))
            )
            dst = os.path.join(tmp, f"events_{i:03d}.parquet")
            os.replace(os.path.join(stage, part), dst)
            shutil.rmtree(stage, ignore_errors=True)
            os.utime(dst, (base + i, base + i))
        try:
            os.rename(tmp, out)
        except OSError:  # lost the build race
            shutil.rmtree(tmp, ignore_errors=True)
    return out


@register("stream_late_metrics", oracle=None, section=_SEC)
def stream_late_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark observability — the per-run StreamingQueryProgress account
    a production deployment monitors: batches executed, rows ingested,
    watermark advance, sealed-window emissions, and the FINAL STATE SIZE
    (the bounded-state guarantee made measurable). Runs the tumbling
    watermarked aggregation over the OUT-OF-ORDER landing dir (user-sliced
    files, each spanning the full time range) — the adversarial input for
    state bounds. Empirical Spark 4.1 semantics pinned by the pytest twin:
    late input is still AGGREGATED (the engine holds emission, not
    ingestion, to the watermark under availableNow), append-mode emission
    equals exactly the windows the final watermark sealed, and state after
    the run holds only the unsealed tail (a handful of rows for 10^3+
    inputs — the 100 TB state bound). rows-only by nature (driver-side
    query introspection); file order + availableNow make every number
    deterministic. At 100 TB these counters feed the ingest SLO dashboard
    and the choose-your-watermark feedback loop."""
    from sdp_spark.sources.fixtures import _pin_session_confs

    _pin_session_confs(spark)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(_events_landing_ooo(spark, sf_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        sdf.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n",
        )
    )
    import json

    writer, name = memory_sink(agg, sf_dir, "late_metrics")
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _STREAM_SHUFFLE)
    try:
        q = writer.outputMode("append").trigger(availableNow=True).start()
        q.awaitTermination()
        rows_in = 0
        state_rows_final = 0
        final_wm = ""
        n_batches = len(q.recentProgress)
        for p in q.recentProgress:
            d = json.loads(p.json)
            rows_in += d["numInputRows"]
            final_wm = d.get("eventTime", {}).get("watermark", final_wm)
            ops = d.get("stateOperators", [])
            if ops:
                state_rows_final = ops[0].get("numRowsTotal", 0)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    emitted = spark.table(name).count()
    return spark.createDataFrame(
        [(n_batches, rows_in, emitted, state_rows_final, final_wm)],
        "n_batches INT, rows_in BIGINT, windows_emitted BIGINT,"
        " state_rows_final BIGINT, final_watermark STRING",
    )


@register(
    "stream_ohlc",
    oracle="""
    WITH d AS (
      SELECT event_type,
             strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')
               AS win_start,
             ts, event_id, value
      FROM events
    ), r AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY event_type, win_start
                           ORDER BY ts, event_id) AS rn_a,
        ROW_NUMBER() OVER (PARTITION BY event_type, win_start
                           ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM d
    )
    SELECT win_start, event_type,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM r GROUP BY 1, 2
    """,
    section=_SEC,
)
def stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars — the real-time twin of `agg_ohlc_resample`:
    per event_type per 1-hour event-time window, open/high/low/close via
    declarative min_by/max_by arg-picks INSIDE the streaming aggregate
    (no custom state code — the same expression vocabulary as batch, which
    is the Structured Streaming contract this key certifies). The
    (ts, event_id) struct key makes the open/close picks deterministic
    under any micro-batch split, so the complete-mode result equals the
    batch oracle regardless of trigger boundaries.

    Production shape: add withWatermark + append mode exactly as the
    `stream_*_wm` twins do — per-window state is O(1) (the four partial
    arg-pick states), sealed bars emit once."""
    sdf = _events_stream(spark, sf_dir)
    key = F.struct("ts", "event_id")
    agg = (
        sdf.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count("*").alias("n"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n",
        )
    )
    return _run_to_memory(agg, sf_dir, "complete", "ohlc")


@register(
    "stream_stateful_timeout",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch(CAST(ts AS TIMESTAMP))
                       - epoch(CAST(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP))
                       >= 1800 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    ), agg AS (
      SELECT user_id, session_id,
             MAX(session_id) OVER (PARTITION BY user_id) AS last_session_id,
             strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS session_start,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value,
             MAX(CAST(ts AS TIMESTAMP)) AS last_ts
      FROM sess
      GROUP BY user_id, session_id
    )
    SELECT user_id, session_start, n_events, total_value
    FROM agg
    WHERE session_id < last_session_id
       OR last_ts + INTERVAL 30 MINUTE
          < (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 2 HOUR FROM events)
    """,
    section=_SEC,
)
def stream_stateful_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sessionization with EVENT-TIME TIMEOUT — the
    applyInPandasWithState feature the fixed-gap `session_window` can't
    replace: arbitrary per-session state (here: event count + exact cents
    total + first/last ts) that EMITS ONLY WHEN THE SESSION CLOSES, i.e.
    when the event-time watermark passes last_event + 30 min. Open
    sessions at end-of-stream stay in state and emit nothing — exactly the
    once-per-session output a downstream sink wants (vs the per-batch
    re-emission of `stream_stateful`).

    State is per-user O(1); the timeout bound (watermark lag + gap) is
    what keeps state finite at 100 TB/day. Oracle (promoted from
    rows-only, round 7): a session emits iff it was closed by a
    SUCCESSOR event in the data (any non-last session of its user —
    gap-close inside update() fires regardless of the watermark) OR its
    event-time timeout (last event + 30 min) lies STRICTLY below the
    final watermark (max ts − 2h; hasTimedOut fires only when the
    watermark passes BEYOND the timeout, pinned by
    test_event_time_timeout_boundary — note the asymmetry with the
    window seal's <=). Exact-cents sums make the values
    engine-independent."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    sdf = _events_stream(spark, sf_dir).withWatermark("ts", "2 hours").select(
        "user_id", "ts", "event_id", "value"
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.StringType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("cents", T.LongType()),
        ]
    )
    _GAP_MS = 30 * 60 * 1000

    def update(key, pdfs, state: GroupState):
        import datetime as _dt

        import numpy as np

        def _emit(start_us, n, cents):
            start = _dt.datetime.utcfromtimestamp(int(start_us) / 1_000_000)
            return pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "session_start": [start.strftime("%Y-%m-%d %H:%M:%S")],
                    "n_events": [int(n)],
                    "total_value": [int(cents) / 100.0],
                }
            )

        if state.hasTimedOut:
            start_us, _last, n, cents = state.get
            state.remove()
            yield _emit(start_us, n, cents)
            return

        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        ts_us = (rows["ts"].astype("int64") // 1000).to_numpy()  # ns -> µs
        vals = np.rint(rows["value"].to_numpy() * 100).astype(np.int64)
        if state.exists:
            start_us, last_us, n, cents = state.get
        else:
            start_us = last_us = n = cents = None
        for t, v in zip(ts_us.tolist(), vals.tolist()):
            if start_us is None:
                start_us, last_us, n, cents = t, t, 1, v
            elif t - last_us >= _GAP_MS * 1000:
                # gap exceeded WITHIN the data: close the old session now
                yield _emit(start_us, n, cents)
                start_us, last_us, n, cents = t, t, 1, v
            else:
                last_us, n, cents = max(last_us, t), n + 1, cents + v
        state.update((int(start_us), int(last_us), int(n), int(cents)))
        # close when the EVENT-TIME watermark passes last event + gap
        state.setTimeoutTimestamp(int(last_us) // 1000 + _GAP_MS)

    result = sdf.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )
    return _run_to_memory(result, sf_dir, "append", "stateful_timeout")


@register(
    "stream_topk_windowed",
    oracle="""
    WITH counts AS (
      SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                      '%Y-%m-%d %H:%M:%S') AS win_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT win_start, event_type, n, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY win_start
                    ORDER BY n DESC, event_type) AS rk
          FROM counts) t
    WHERE rk <= 3
    """,
    section=_SEC,
)
def stream_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-items dashboard shape: top-3 event types per 1-hour window
    over the stream. Structured Streaming cannot rank inside the streaming
    query (window functions aren't incremental), so the production pattern
    is the two-stage split certified here: the STREAM maintains the
    windowed counts (bounded per-window state, incremental), and the RANK
    runs batch-side over the materialized aggregate — a metadata-scale
    table (windows × event types), so the row_number window is cheap no
    matter the stream volume. The oracle pins the composite end-to-end:
    incremental counts == batch counts, then identical ranking."""
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "n",
        )
    )
    from pyspark.sql import Window

    snap = _run_to_memory(agg, sf_dir, "complete", "topkwin")
    w = Window.partitionBy("win_start").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        snap.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
    )


@register("stream_approx_distinct", oracle=None, section=_SEC)
def stream_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cardinality: approx distinct users per tumbling hour —
    the 100 TB way to count uniques on a stream. Exact streaming
    COUNT(DISTINCT) needs per-window SETS of every key ever seen
    (unbounded state, and Spark rejects it in streaming aggregates);
    the HLL++ sketch is O(kilobytes) per window and MERGEABLE, so
    micro-batch partials combine associatively — state stays bounded no
    matter how many users flow through. rows-only key: the sketch has no
    DuckDB twin; the pytest contract is batch-equivalence (same sketch,
    same data → streaming result == batch approx_count_distinct exactly)
    plus the rsd error bound against the exact count."""
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour"))
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "approx_users",
            "n_events",
        )
    )
    return _run_to_memory(agg, sf_dir, "complete", "approxdistinct")


from sdp_spark.operators.analytics import _EARS_Z as _EARS_Z_SHARED  # noqa: E402
from sdp_spark.operators.analytics import EARS_SCORED_SQL  # noqa: E402


@register(
    "stream_ears_alerts",
    oracle=f"""
    SELECT event_type, day_s, n, c2_score
    FROM ({EARS_SCORED_SQL}) t
    WHERE c2_score > {_EARS_Z_SHARED}
    ORDER BY event_type, day_s
    """,
    section=_SEC,
)
def stream_ears_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE outbreak monitoring — the streaming twin of
    `query_outbreak_ears` and the composite the reference platform's
    mission statement describes (continuous surveillance ingest →
    aberration alerts): the STREAM maintains per-(type, day) counts
    (incremental, bounded per-day state), and the EARS C2 scoring —
    the SAME `ears_c2_scored` core the batch capstone calls, so the
    stream==batch invariant is structural — runs batch-side over the
    materialized daily table after each trigger (window frames aren't
    incremental; same two-stage split as `stream_topk_windowed`).
    Emits only firing alerts (rounded z > the shared _EARS_Z). At
    100 TB/day the streaming half shuffles grouped day-states, never
    events, and the scoring half runs over |types × days| rows —
    metadata scale. The oracle pins stream==batch end-to-end."""
    from sdp_spark.operators.analytics import _EARS_Z, ears_c2_scored

    sdf = _events_stream(spark, sf_dir)
    daily = (
        sdf.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    snap = _run_to_memory(daily, sf_dir, "complete", "earsdaily")
    return (
        ears_c2_scored(snap)
        .filter(F.col("c2_score") > _EARS_Z)
        .orderBy("event_type", "day_s")
    )


from sdp_spark.operators.analytics import EARS_FAMILY_SQL  # noqa: E402


@register(
    "stream_ears_family_alerts",
    oracle=f"""
    SELECT variant, event_type, day_s, n, score, alert_cdc
    FROM ({EARS_FAMILY_SQL}) fam
    WHERE score > {_EARS_Z_SHARED}
    ORDER BY variant, event_type, day_s
    """,
    section=_SEC,
)
def stream_ears_family_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE monitoring over the COMPLETE EARS family — the ELEVENTH
    batch+stream detector pair, the streaming twin of
    `query_outbreak_ears_family`: the stream maintains per-(type, day)
    counts (incremental, bounded per-day state) and all three variant
    scores — C1 no-gap, C2 gapped, C3 cumulative carryover — run
    batch-side through the SAME `ears_family_scored` core after each
    trigger (window frames aren't incremental; the two-stage split
    every detector twin uses). Emits only firing alerts, labeled by
    variant, so the alert feed itself tells the epidemiologist WHICH
    statistic fired — the n-of-m escalation input
    `query_detector_concordance` quantifies. The oracle pins
    stream==batch across all three variants end-to-end."""
    from sdp_spark.operators.analytics import _EARS_Z, ears_family_scored

    sdf = _events_stream(spark, sf_dir)
    daily = (
        sdf.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    snap = _run_to_memory(daily, sf_dir, "complete", "earsfamdaily")
    return (
        ears_family_scored(snap)
        .filter(F.col("score") > _EARS_Z)
        .select(
            "variant", "event_type", "day_s", "n", "score", "alert_cdc"
        )
        .orderBy("variant", "event_type", "day_s")
    )


from sdp_spark.operators.analytics import (  # noqa: E402
    EPIDEMIC_ONSET_SQL,
    EXCESS_BURDEN_SQL,
)


@register(
    "stream_epidemic_onset",
    oracle=EPIDEMIC_ONSET_SQL,
    section=_SEC,
)
def stream_epidemic_onset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE epidemic season timing — the THIRTEENTH batch+stream pair,
    the streaming twin of `ts_epidemic_onset`: incremental daily counts,
    then the Serfling fit + two-consecutive onset/offset rule (the SAME
    serfling_scored / epidemic_onset_rollup cores) re-evaluate after
    each trigger, so 'has the season started?' updates as reports land —
    the question a surveillance shop asks its dashboard every morning of
    flu season. NULL onset = not yet. The oracle pins stream==batch."""
    from sdp_spark.operators.analytics import (
        epidemic_onset_rollup,
        serfling_scored,
    )

    sdf = _events_stream(spark, sf_dir)
    daily = (
        sdf.groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.count("*").cast("double").alias("c"))
    )
    snap = _run_to_memory(daily, sf_dir, "complete", "onsetdaily")
    return epidemic_onset_rollup(serfling_scored(snap))


@register(
    "stream_excess_burden",
    oracle=EXCESS_BURDEN_SQL,
    section=_SEC,
)
def stream_excess_burden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE seasonal excess-burden monitoring — the TWELFTH batch+stream
    pair, the streaming twin of `ts_excess_burden`: the stream maintains
    per-(type, day) counts incrementally and the Serfling fit + burden
    rollup (the SAME serfling_scored / excess_burden_rollup cores) run
    batch-side after each trigger, so the health department's
    'X% above expected this season' number updates continuously as
    reports land instead of waiting for the season-end batch job. The
    oracle pins stream==batch end-to-end: same observed/expected/excess
    totals, same alert-day counts, same ratio."""
    from sdp_spark.operators.analytics import (
        excess_burden_rollup,
        serfling_scored,
    )

    sdf = _events_stream(spark, sf_dir)
    daily = (
        sdf.groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.count("*").cast("double").alias("c"))
    )
    snap = _run_to_memory(daily, sf_dir, "complete", "excessdaily")
    return excess_burden_rollup(serfling_scored(snap))


@register(
    "sink_stream_partitioned",
    oracle="""
    SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
           event_id, event_type, user_id
    FROM events
    """,
    section=_SEC,
)
def sink_stream_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream → date-partitioned lake layout: THE production landing
    pattern (continuous ingest appending into day= partitions that batch
    consumers prune). foreachBatch writes each micro-batch partitioned by
    event day; partition dirs accumulate across batches (append mode) and
    idempotence comes from the per-run target + batchId-deterministic
    content. The read-back must equal the batch source — files moved
    through 2 micro-batches into day partitions losslessly. At 100 TB/day
    the day partition is what makes yesterday immutable, retention a
    directory delete (dml_truncate_partition), and backfills
    partition-scoped (sink_dynamic_overwrite)."""
    sdf = _events_stream(spark, sf_dir).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_id",
        "event_type",
        "user_id",
    )
    out = scratch(spark, sf_dir, "sdp_stream_parted_")

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.write.mode("append").partitionBy("day").parquet(out)

    q = (
        sdf.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(out, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out)
    return back.select(
        F.col("day").cast("string").alias("day"), "event_id", "event_type", "user_id"
    )


@register(
    "scan_incremental_files",
    oracle="""
    WITH sliced AS (
      SELECT event_id, user_id, event_type,
             NTILE(4) OVER (ORDER BY CAST(ts AS TIMESTAMP), event_id) AS slc
      FROM events
    )
    SELECT event_id, user_id, event_type
    FROM sliced WHERE slc >= 3
    """,
    section=_SEC,
)
def scan_incremental_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental BATCH ingestion without streaming machinery: re-read a
    landing directory picking up only files newer than the last
    high-water mark (`modifiedAfter` — evaluated at FILE LISTING time,
    zero IO for already-ingested files). The watermark-file pattern every
    hourly batch loader runs when Structured Streaming is overkill; the
    streaming twin over the same landing dir is `source_stream_files`
    (checkpoint-tracked instead of mtime-tracked). The fixture's 4
    chronological landing slices carry mtimes base+1..base+4; the cutoff
    admits slices 3-4 — exactly the NTILE(4) ∈ {3,4} half of the stream,
    which is what the oracle pins."""
    import datetime

    # pin session tz=UTC: with a WARM landing dir this operator performs no
    # table() call, and the naive modifiedAfter cutoff below parses in the
    # session zone — unpinned non-UTC hosts would admit the wrong file set
    from sdp_spark.sources.fixtures import _pin_session_confs

    _pin_session_confs(spark)
    path = _events_landing_dir(spark, sf_dir)
    # cutoff between slice 2 and 3 (mtimes are base+i, base = 1.6e9)
    cutoff = datetime.datetime.fromtimestamp(
        1_600_000_000 + 2, tz=datetime.timezone.utc
    ).strftime("%Y-%m-%dT%H:%M:%S")
    return (
        spark.read.option("modifiedAfter", cutoff)
        .parquet(path)
        .select("event_id", "user_id", "event_type")
    )


@register(
    "stream_dedup_wm",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    """,
    section=_SEC,
)
def stream_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark — dedup WITHOUT the event-time
    column in the key. Plain dropDuplicates(["event_id"]) would hold one
    state row per id FOREVER (unbounded state — the 100 TB killer);
    the WithinWatermark variant instead guarantees dedup only among
    events whose times fall inside the watermark delay and EVICTS state
    as the watermark advances — the practical at-least-once-source
    dedup, where duplicates arrive close together in event time (retried
    writes, replayed batches) and an id may legitimately recur later.
    event_ids are unique in the fixture, so output == input and the
    batch oracle pins no row lost or duplicated; the chronological
    landing dir (maxFilesPerTrigger=2) makes the multi-batch run
    advance the watermark and exercise eviction for real."""
    sdf = _events_stream(spark, sf_dir)
    deduped = (
        sdf.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _run_to_memory(deduped, sf_dir, "append", "dedupwm")


@register(
    "stream_matview_upkeep",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    """,
    section=_SEC,
)
def stream_matview_upkeep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental materialized-view maintenance — the
    continuous twin of catalog_matview_incremental: each micro-batch's
    per-user partials (COUNT, exact DECIMAL SUM) fold into a persistent
    state table via foreachBatch, so the view is query-able between
    batches and refresh cost is O(batch)+O(|view|), never O(history).
    This is the reference platform's "summary tables kept fresh by the
    feed" pattern (continuous MySQL ingest role) without triggers. The
    oracle is the full batch aggregate over every event — certifying the
    streaming fold's exactness, not an approximation of it.

    The state merge is the same exact algebra as the batch matview:
    partials add associatively in DECIMAL, so batch boundaries (here a
    genuine 2-micro-batch availableNow run, maxFilesPerTrigger=2) cannot
    drift the result. Idempotence discipline: a batch-id ledger column
    lets a redelivered batch be detected and skipped — with availableNow's
    deterministic batching the guard never fires here, but the check is
    the production contract (same rationale as sink_stream_jdbc).

    Scale: state is |users| rows — the view, not the stream; at 100 TB
    the merge join co-partitions on the view key and overwrites touched
    partitions only (the batch matview's scale note applies verbatim)."""
    out = scratch(spark, sf_dir, "sdp_stream_mv_")

    # Crash-safe state fold (ADVICE r6): every fold writes a NEW versioned
    # dir (state_v{batch_id}) and readers pick the highest version whose
    # _SUCCESS marker landed — an interrupted write leaves a markerless
    # dir that is simply ignored, so state can roll back one batch but can
    # never be silently lost to a half-overwrite. Obsolete versions are
    # pruned only AFTER the new version is durable (a crash between the
    # two leaves harmless garbage, not data loss).
    def _latest_state() -> str | None:
        vs = [
            d
            for d in os.listdir(out)
            if d.startswith("state_v")
            and os.path.exists(os.path.join(out, d, "_SUCCESS"))
        ]
        if not vs:
            return None
        return os.path.join(out, max(vs, key=lambda d: int(d[len("state_v"):])))

    sdf = _events_stream(spark, sf_dir).select("user_id", "value")

    def fold_batch(df: DataFrame, batch_id: int) -> None:
        part = df.groupBy("user_id").agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("sum_dec"),
        ).withColumn("last_batch", F.lit(batch_id).cast("bigint"))
        prev_dir = _latest_state()
        if prev_dir is not None:
            prev = df.sparkSession.read.parquet(prev_dir)
            # redelivery guard: a batch already folded into the ledger is
            # dropped whole (availableNow never redelivers; restarts can)
            seen = prev.agg(F.max("last_batch")).collect()[0][0]
            if seen is not None and batch_id <= seen:
                return
            from sdp_spark.operators.catalog import merge_count_sum_partials

            merged = merge_count_sum_partials(
                prev, part, "user_id", "n_events", "sum_dec"
            ).withColumn("last_batch", F.lit(batch_id).cast("bigint"))
        else:
            merged = part
        merged.write.mode("overwrite").parquet(
            os.path.join(out, f"state_v{batch_id}")
        )
        if prev_dir is not None:  # new version durable -> prune the old
            import shutil

            shutil.rmtree(prev_dir, ignore_errors=True)

    q = sdf.writeStream.foreachBatch(fold_batch).trigger(availableNow=True).start()
    q.awaitTermination()
    final = spark.read.parquet(_latest_state())
    # the availableNow run over the 4-file landing dir is 2 micro-batches —
    # prove the fold path actually merged (not one giant batch)
    n_batches = final.agg(F.max("last_batch")).collect()[0][0] + 1
    if n_batches < 2:
        raise RuntimeError("stream_matview_upkeep: expected a multi-batch fold")
    return final.select(
        "user_id",
        "n_events",
        F.round(F.col("sum_dec"), 2).cast("double").alias("sum_value"),
    )


from sdp_spark.operators.analytics import _CUSUM_H as _CUSUM_H_SHARED  # noqa: E402
from sdp_spark.operators.analytics import _CUSUM_K as _CUSUM_K_SHARED  # noqa: E402
from sdp_spark.operators.analytics import _CUSUM_SPLIT as _CUSUM_SPLIT_SHARED  # noqa: E402
from sdp_spark.operators.analytics import _CUSUM_SQL  # noqa: E402


@register(
    "stream_cusum_alerts",
    oracle=f"""
    SELECT event_type, day, n_events, cusum
    FROM ({_CUSUM_SQL.format(SPLIT=_CUSUM_SPLIT_SHARED, K=_CUSUM_K_SHARED,
                             H=_CUSUM_H_SHARED,
                             DAYFMT="strftime(d, '%Y-%m-%d')")}) t
    WHERE alert
    ORDER BY event_type, day
    """,
    section=_SEC,
)
def stream_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE CUSUM monitoring — the streaming twin of
    `query_outbreak_cusum`, completing the surveillance pair (EARS C2 has
    `stream_ears_alerts`; CUSUM is the drift-sensitive complement that
    accumulates small sustained excess instead of reacting to one spike).
    Same split as every windowed-scoring stream here: the STREAM
    incrementally maintains per-(type, day) counts — bounded state, one
    row per type × day — and the `cusum_scored` core (the SAME function
    the batch capstone calls, so stream==batch is structural) runs over
    the materialized daily table after each trigger, emitting firing
    alerts. At 100 TB/day the stream shuffles grouped day-states, never
    events; scoring is |types × days| metadata. The DuckDB oracle pins
    the live alerts to the batch recurrence end-to-end."""
    from sdp_spark.operators.analytics import cusum_scored

    sdf = _events_stream(spark, sf_dir)
    daily = sdf.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count("*").cast("double").alias("c"))
    snap = _run_to_memory(daily, sf_dir, "complete", "cusumdaily")
    return (
        cusum_scored(snap)
        .filter(F.col("alert"))
        .select("event_type", "day", "n_events", "cusum")
        .orderBy("event_type", "day")
    )


from sdp_spark.operators.analytics import _EWMACH_SQL  # noqa: E402


@register(
    "stream_ewma_alerts",
    oracle=f"""
    SELECT event_type, day, n_events, ewma, ucl
    FROM ({_EWMACH_SQL}) t
    WHERE alert
    ORDER BY event_type, day
    """,
    section=_SEC,
)
def stream_ewma_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE EWMA control-chart monitoring — the streaming twin of
    `query_outbreak_ewma`, completing the third surveillance pair (EARS
    C2 and CUSUM each have one; EWMA is the small-sustained-shift
    detector between them). Same architecture as the other two twins:
    the STREAM incrementally maintains per-(type, day) counts — bounded
    state, one row per type × day — and the `ewma_scored` core (the SAME
    function the batch capstone calls, so stream==batch is structural)
    runs over the materialized daily table after each trigger, emitting
    the days whose smoothed statistic breaches its variance-converged
    control limit. At 100 TB/day the stream shuffles grouped day-states,
    never events; scoring is |types × days| metadata. The DuckDB oracle
    pins the live alerts to the batch closed form end-to-end."""
    from sdp_spark.operators.analytics import ewma_scored

    sdf = _events_stream(spark, sf_dir)
    daily = sdf.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count("*").cast("double").alias("c"))
    snap = _run_to_memory(daily, sf_dir, "complete", "ewmadaily")
    return (
        ewma_scored(snap)
        .filter(F.col("alert"))
        .select("event_type", "day", "n_events", "ewma", "ucl")
        .orderBy("event_type", "day")
    )


from sdp_spark.operators.stats import _RT_SQL, RT_ALERT  # noqa: E402


@register(
    "stream_rt_alerts",
    oracle=f"""
    SELECT event_type, day_s, n, w_denom, rt
    FROM ({_RT_SQL}) t
    WHERE rt > {RT_ALERT}
    ORDER BY event_type, day_s
    """,
    section=_SEC,
)
def stream_rt_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE reproduction-number monitoring — the streaming twin of
    `ts_rt_ratio`, emitting the days whose Rt exceeds the 1.2 growth
    threshold ('this signal is not just elevated, it is actively
    spreading' — the question Rt answers that the level detectors EARS /
    CUSUM / histlimits / EWMA do not). Same architecture as the other
    four detector twins: the STREAM incrementally maintains per-(type,
    day) counts — bounded state, one row per type × day — and the
    `rt_scored` core (the SAME function the batch key calls, so
    stream==batch is structural) runs over the materialized daily table
    after each trigger. At 100 TB/day the stream shuffles grouped
    day-states, never events; the serial-interval join is |types×days|
    metadata. The DuckDB oracle pins the live alerts to the batch ratio
    end-to-end."""
    from sdp_spark.operators.stats import rt_scored

    sdf = _events_stream(spark, sf_dir)
    daily = sdf.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    snap = _run_to_memory(daily, sf_dir, "complete", "rtdaily")
    return (
        rt_scored(snap)
        .filter(F.col("rt") > RT_ALERT)
        .select("event_type", "day_s", "n", "w_denom", "rt")
        .orderBy("event_type", "day_s")
    )


# ---------------------------------------------------------------------------
# Round 8: live distribution-drift monitoring (streaming PSI)
# ---------------------------------------------------------------------------

_PSI_EV_W = 25  # value-bucket width (8 buckets: 0-25 ... 175+)
_PSI_EV_SPLIT = "2024-01-15"  # days before = reference distribution


@register(
    "stream_drift_psi",
    oracle=f"""
    WITH bucketed AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
             CAST(LEAST(FLOOR(value / {_PSI_EV_W}), 7) AS INTEGER) AS bucket
      FROM events
    ), ref AS (
      SELECT bucket, COUNT(*) AS n FROM bucketed
      WHERE d < DATE '{_PSI_EV_SPLIT}' GROUP BY bucket
    ), days AS (
      SELECT DISTINCT d FROM bucketed WHERE d >= DATE '{_PSI_EV_SPLIT}'
    ), grid AS (
      SELECT days.d, b.bucket
      FROM days, (SELECT unnest(generate_series(0, 7)) AS bucket) b
    ), cur AS (
      SELECT d, bucket, COUNT(*) AS n FROM bucketed
      WHERE d >= DATE '{_PSI_EV_SPLIT}' GROUP BY d, bucket
    ), pct AS (
      SELECT grid.d, grid.bucket,
             GREATEST(CAST(COALESCE(ref.n, 0) AS DOUBLE)
                      / SUM(COALESCE(ref.n, 0)) OVER (PARTITION BY grid.d), 1e-6)
               AS ref_pct,
             GREATEST(CAST(COALESCE(cur.n, 0) AS DOUBLE)
                      / SUM(COALESCE(cur.n, 0)) OVER (PARTITION BY grid.d), 1e-6)
               AS cur_pct,
             COALESCE(cur.n, 0) AS n
      FROM grid
      LEFT JOIN ref ON ref.bucket = grid.bucket
      LEFT JOIN cur ON cur.d = grid.d AND cur.bucket = grid.bucket
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(SUM(CAST(FLOOR((cur_pct - ref_pct) * LN(cur_pct / ref_pct)
                                * 100000000 + 0.5) / 100000000
                         AS DECIMAL(30,8))) AS DOUBLE) AS psi,
           CAST(SUM(n) AS BIGINT) AS n_events
    FROM pct
    GROUP BY d
    ORDER BY day
    """,
    section=_SEC,
)
def stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE input-drift monitoring — the streaming twin of `dq_drift_psi`:
    the stream incrementally maintains per-(day, value-bucket) counts
    (bounded state: 8 buckets × days, never raw events), and after each
    trigger the PSI of every post-split day against the frozen pre-split
    reference distribution is scored on the materialized snapshot. The
    monitor a feature store runs beside every model: 'did today's input
    distribution drift from what we trained/calibrated on?'.

    Cross-engine determinism: the 8 per-bucket PSI terms are rounded to 8
    decimals and summed as DECIMAL — the per-day total is order-free, so Spark's
    partial aggregation and DuckDB's sequential sum cannot diverge in the
    last ulp. Missing buckets enter at the 1e-6 epsilon on both sides via a
    dense day×bucket grid. At 100 TB/day the shuffle carries grouped
    (day, bucket) states only; scoring is |days × 8| metadata."""
    sdf = _events_stream(spark, sf_dir)
    bucketed = sdf.select(
        F.date_trunc("day", "ts").alias("d"),
        F.least(F.floor(F.col("value") / _PSI_EV_W), F.lit(7))
        .cast("int")
        .alias("bucket"),
    )
    counts = bucketed.groupBy("d", "bucket").agg(F.count("*").alias("n"))
    snap = _run_to_memory(counts, sf_dir, "complete", "driftpsi")

    split = F.lit(_PSI_EV_SPLIT).cast("timestamp")
    ref = (
        snap.filter(F.col("d") < split)
        .groupBy("bucket")
        .agg(F.sum("n").alias("ref_n"))
    )
    cur = snap.filter(F.col("d") >= split)
    days = cur.select("d").distinct()
    buckets = spark.range(8).select(F.col("id").cast("int").alias("bucket"))
    grid = days.crossJoin(F.broadcast(buckets))
    # rename cur's keys before the join: grid and cur share the snapshot's
    # lineage, and duplicate exprIds in a self-join confuse the resolver
    cur_r = cur.select(
        F.col("d").alias("cd"), F.col("bucket").alias("cb"), "n"
    )
    joined = (
        grid.join(F.broadcast(ref), "bucket", "left")
        .join(
            cur_r,
            (F.col("d") == F.col("cd")) & (F.col("bucket") == F.col("cb")),
            "left",
        )
        .select(
            "d",
            "bucket",
            F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )
    from pyspark.sql.window import Window

    day_w = Window.partitionBy("d")
    ref_pct = F.greatest(
        F.col("ref_n").cast("double") / F.sum("ref_n").over(day_w), F.lit(1e-6)
    )
    cur_pct = F.greatest(
        F.col("n").cast("double") / F.sum("n").over(day_w), F.lit(1e-6)
    )
    term = F.floor(
        (cur_pct - ref_pct) * F.log(cur_pct / ref_pct) * F.lit(100000000) + F.lit(0.5)
    ) / F.lit(100000000)
    scored = joined.select(
        "d", "n", term.cast(DEC).alias("term")
    )
    return (
        scored.groupBy("d")
        .agg(
            F.sum("term").cast("double").alias("psi"),
            F.sum("n").cast("bigint").alias("n_events"),
        )
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "psi", "n_events")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Round 8 (batch 19): live historical-limits monitoring — the third
# batch+stream surveillance pair (EARS C2, CUSUM, now historical limits)
# ---------------------------------------------------------------------------

from sdp_spark.operators.insights import _HL_Z as _HL_Z_SHARED  # noqa: E402
from sdp_spark.operators.insights import HISTLIM_SCORED_SQL  # noqa: E402


@register(
    "stream_histlimits_alerts",
    oracle=f"""
    SELECT event_type, day_s, n, n_base, hl_score
    FROM ({HISTLIM_SCORED_SQL}) t
    WHERE hl_score > {_HL_Z_SHARED}
    ORDER BY event_type, day_s
    """,
    section=_SEC,
)
def stream_histlimits_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE historical-limits monitoring — the streaming twin of
    `query_outbreak_histlimits`, completing the third surveillance
    batch+stream pair (EARS C2 reacts to spikes vs a moving baseline,
    CUSUM to sustained drift, historical limits to departures from the
    SAME-WEEKDAY seasonal norm). Same two-stage split as the other
    pairs: the STREAM incrementally maintains per-(type, day) counts —
    bounded state, one row per type × day — and `histlimits_scored`
    (the SAME core the batch capstone calls, so stream==batch is
    structural) runs over the materialized daily table after each
    trigger, emitting firing alerts. At 100 TB/day the stream shuffles
    grouped day-states, never events; scoring is |types × days|
    metadata. The DuckDB oracle pins the live alerts to the batch
    recurrence end-to-end."""
    from sdp_spark.operators.insights import _HL_Z, histlimits_scored

    sdf = _events_stream(spark, sf_dir)
    daily = (
        sdf.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    snap = _run_to_memory(daily, sf_dir, "complete", "histlimdaily")
    return (
        histlimits_scored(snap)
        .filter(F.col("hl_score") > _HL_Z)
        .select("event_type", "day_s", "n", "n_base", "hl_score")
        .orderBy("event_type", "day_s")
    )


from sdp_spark.operators.analytics import _SERF_SQL  # noqa: E402


@register(
    "stream_serfling_alerts",
    oracle=f"""
    SELECT event_type, day, n_events, expected, threshold
    FROM ({_SERF_SQL}) t
    WHERE alert
    ORDER BY event_type, day
    """,
    section=_SEC,
)
def stream_serfling_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE seasonally-adjusted monitoring — the streaming twin of
    `query_outbreak_serfling`, completing the SIXTH detector pair (EARS,
    CUSUM, histlimits, EWMA and Rt each have one; Serfling is the only
    member whose baseline is a fitted CYCLE, so it alone stays quiet
    through a day-of-week peak the level detectors would flag). Same
    architecture as the other five twins: the STREAM incrementally
    maintains per-(type, day) counts — bounded state, one row per type x
    day — and the `serfling_scored` core (the SAME function the batch
    capstone calls, so stream==batch is structural) runs over the
    materialized daily table after each trigger, emitting the days whose
    count exceeds the seasonal expectation + 2 sigma. At 100 TB/day the
    stream shuffles grouped day-states, never events; the closed-form
    refit is |types x days| metadata per trigger. The DuckDB oracle pins
    the live alerts to the batch regression end-to-end."""
    from sdp_spark.operators.analytics import serfling_scored

    sdf = _events_stream(spark, sf_dir)
    daily = sdf.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count("*").cast("double").alias("c"))
    snap = _run_to_memory(daily, sf_dir, "complete", "serfdaily")
    return (
        serfling_scored(snap)
        .filter(F.col("alert"))
        .select("event_type", "day", "n_events", "expected", "threshold")
        .orderBy("event_type", "day")
    )


from sdp_spark.operators.analytics import _FARR_SQL  # noqa: E402


@register(
    "stream_farrington_alerts",
    oracle=f"""
    SELECT event_type, day, n_events, expected, threshold
    FROM ({_FARR_SQL}) t
    WHERE alert
    ORDER BY event_type, day
    """,
    section=_SEC,
)
def stream_farrington_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE Farrington monitoring — the streaming twin of
    `query_outbreak_farrington`, completing the SEVENTH detector pair.
    Farrington is the pair agencies actually schedule: each scored day
    re-derives its own reference-window regression and overdispersion,
    so the live recurrence needs no global refit when a new day arrives
    — exactly the incremental shape a micro-batch trigger wants. Same
    two-stage split as the other six twins: the STREAM incrementally
    maintains per-(type, day) counts — bounded state, one row per type x
    day — and the `farrington_scored` core (the SAME function the batch
    capstone calls, so stream == batch is structural) runs over the
    materialized daily table after each trigger, emitting the days whose
    count exceeds the trend-adjusted overdispersed prediction bound. At
    100 TB/day the stream shuffles grouped day-states, never events;
    per-day scoring is |types x days| metadata per trigger. The DuckDB
    oracle pins the live alerts to the batch regression end-to-end."""
    from sdp_spark.operators.analytics import farrington_scored

    sdf = _events_stream(spark, sf_dir)
    daily = sdf.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count("*").cast("double").alias("c"))
    snap = _run_to_memory(daily, sf_dir, "complete", "farrdaily")
    return (
        farrington_scored(snap)
        .filter(F.col("alert"))
        .select("event_type", "day", "n_events", "expected", "threshold")
        .orderBy("event_type", "day")
    )


from sdp_spark.operators.analytics import _NC_SQL  # noqa: E402


@register(
    "stream_nowcast_delay",
    oracle=f"""
    SELECT event_type, day, age, n_reported, completeness, n_nowcast
    FROM ({_NC_SQL}) t
    WHERE completeness < 1.0
    ORDER BY event_type, day
    """,
    section=_SEC,
)
def stream_nowcast_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE reporting-delay nowcasting — the streaming twin of
    `ts_nowcast_delay`, and the form the correction actually runs in: a
    surveillance dashboard re-nowcasts the still-maturing days after
    EVERY ingest trigger, because each arriving report batch changes
    both the numerators (reported-so-far) and, for newly-matured days,
    the delay CDF itself. Same two-stage split as the seven detector
    twins: the STREAM incrementally maintains per-(type, day, delay)
    report counts — bounded state, |types x days x Dmax| rows — and the
    `nowcast_scored` core (the SAME function the batch capstone calls,
    so stream == batch is structural) recomputes the CDF and corrected
    counts over the materialized count table after each trigger,
    emitting the days whose reporting is still incomplete
    (completeness < 1). At 100 TB/day the stream shuffles grouped
    delay-states, never events; scoring is metadata-sized. The DuckDB
    oracle pins the live corrected counts to the batch recurrence
    end-to-end (n_true is omitted from the live emission — a live
    system cannot see it; the oracle drops the same column)."""
    from sdp_spark.functions.num import KNUTH, KNUTH_MOD
    from sdp_spark.operators.analytics import (
        _NC_DMAX,
        _NC_SALT,
        nowcast_scored,
    )

    sdf = _events_stream(spark, sf_dir)
    counts = sdf.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("d"),
        (
            ((F.col("event_id") + _NC_SALT) * F.lit(KNUTH))
            % F.lit(KNUTH_MOD)
            % _NC_DMAX
        ).alias("delay"),
    ).agg(F.count("*").alias("n"))
    snap = _run_to_memory(counts, sf_dir, "complete", "nowcastcnt")
    return (
        nowcast_scored(snap)
        .filter(F.col("completeness") < 1.0)
        .select(
            "event_type", "day", "age", "n_reported", "completeness", "n_nowcast"
        )
        .orderBy("event_type", "day")
    )


def _spacetime_stream_oracle() -> str:
    from sdp_spark.operators.stats import _st_scan_oracle

    return f"""
    SELECT * FROM ({_st_scan_oracle()}) t
    WHERE llr > 0.0
    ORDER BY llr DESC, cx, cy, r, win_days
    """


@register(
    "stream_spacetime_alerts",
    oracle=_spacetime_stream_oracle(),
    section=_SEC,
)
def stream_spacetime_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE prospective space-time scan — the streaming twin of
    `query_spacetime_scan` and the NINTH batch+stream pair. This is the
    algorithm's native habitat: SaTScan's prospective mode exists
    precisely to re-evaluate 'is a cluster emerging ENDING NOW?' after
    every ingest, and the permutation-model expectation (space marginal
    x time marginal / C) self-updates as cases arrive. Same two-stage
    split as the other eight twins: the STREAM incrementally maintains
    per-(cell, day) case counts — bounded state, |cells x days| rows —
    and the `spacetime_scored` core (the SAME function the batch
    capstone calls, so stream == batch is structural) re-ranks the
    cylinders after each trigger, emitting those in genuine excess
    (LLR > 0). At 100 TB/day the stream shuffles grouped cell-day
    states, never events; cylinder scoring is O(cells x radii x
    windows) metadata per trigger. The DuckDB oracle pins the live
    alerts to the batch ranking end-to-end."""
    from sdp_spark.functions.num import KNUTH, KNUTH_MOD
    from sdp_spark.operators.stats import _ST_EPOCH, spacetime_scored

    sdf = _events_stream(spark, sf_dir)
    counts = sdf.groupBy(
        F.floor(
            (((F.col("user_id") + 31) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 3600)
            / 10.0
            / 15.0
            - 12.0
        )
        .cast("int")
        .alias("cx"),
        F.floor(
            (((F.col("user_id") + 17) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 1200)
            / 10.0
            / 15.0
            - 4.0
        )
        .cast("int")
        .alias("cy"),
        F.datediff(
            F.date_trunc("day", "ts"), F.lit(_ST_EPOCH).cast("date")
        ).alias("t"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    snap = _run_to_memory(counts, sf_dir, "complete", "stscancnt")
    return (
        spacetime_scored(snap)
        .filter(F.col("llr") > 0.0)
        .orderBy(F.col("llr").desc(), "cx", "cy", "r", "win_days")
    )


# ---------------------------------------------------------------------------
# Round 11: live Bayesian Rt monitoring — the TENTH batch+stream pair
# ---------------------------------------------------------------------------

from sdp_spark.operators.stats import _rt_cori_oracle  # noqa: E402


@register(
    "stream_rt_cori_alerts",
    oracle=(
        f"SELECT * FROM ({_rt_cori_oracle()}) t"
        " WHERE trend = 'growing' ORDER BY event_type, day_s"
    ),
    section=_SEC,
)
def stream_rt_cori_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE Bayesian reproduction-number monitoring — the streaming twin
    of `ts_rt_cori` and the TENTH batch+stream detector pair: alerts
    only when the Gamma-posterior 95% interval EXCLUDES 1 (rt_low > 1),
    the statistically-disciplined upgrade of `stream_rt_alerts`' point
    threshold — a small-count blip with a wide posterior stays silent
    where the 1.2-ratio rule would page. Same architecture as every
    twin: the stream incrementally maintains per-(type, day) counts
    (bounded state, one row per type × day) and the `rt_cori_scored`
    core — the SAME function the batch key calls, so stream==batch is
    structural — runs over the materialized daily table after each
    trigger. At 100 TB/day the stream shuffles grouped day-states,
    never events; both scoring joins are |types×days| metadata. The
    DuckDB oracle pins the live alerts to the batch posterior
    end-to-end."""
    from sdp_spark.operators.stats import rt_cori_scored

    sdf = _events_stream(spark, sf_dir)
    daily = sdf.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    snap = _run_to_memory(daily, sf_dir, "complete", "rtcoridaily")
    return (
        rt_cori_scored(snap)
        .filter(F.col("trend") == "growing")
        .orderBy("event_type", "day_s")
    )


# ---------------------------------------------------------------------------
# Round 11: incremental record linkage — arriving reports vs the master
# ---------------------------------------------------------------------------

from sdp_spark.operators.stats import _rl_phone_sql  # noqa: E402

# Incoming "case reports": the sampled event feed (event_id % 7 = 0),
# carrying a patient name + phone derived from user_id (user_id IS in
# customer key space — the stream_join_dim precedent) with per-REPORT
# corruption: case-folded name on event_id % 3, last-digit phone typo
# on event_id % 5. Two-field Fellegi-Sunter scoring with the
# query_record_linkage weight constants; both agree = auto-link
# (17.797 >= 12), one agrees = clerical review (7.2-7.9 in [2, 12)),
# both corrupted (event_id % 15) = correctly lost.
_SLK_NAME_RAW = (
    "concat('Customer#', lpad(CAST(user_id AS STRING), 9, '0'))"
)
_SLK_B_NAME = (
    f"CASE WHEN event_id % 3 = 0 THEN lower({_SLK_NAME_RAW})"
    f" ELSE {_SLK_NAME_RAW} END"
)
_SLK_B_PHONE = (
    f"CASE WHEN event_id % 5 = 0"
    f" THEN concat(substr({_rl_phone_sql('user_id')}, 1, 6), '9')"
    f" ELSE {_rl_phone_sql('user_id')} END"
)
_SLK_SCORE = (
    "CAST(CASE WHEN a_name = b_name THEN 8.8099 ELSE -1.1086 END AS DOUBLE)"
    " + CAST(CASE WHEN a_phone = b_phone THEN 8.9872 ELSE -1.6093 END"
    " AS DOUBLE)"
)


def _slk_oracle() -> str:
    from sdp_spark.functions.num import sql_dround

    return f"""
    WITH m AS (
      SELECT c_custkey AS a_key, c_name AS a_name,
             {_rl_phone_sql('c_custkey')} AS a_phone
      FROM customer
    ), r AS (
      SELECT event_id, {_SLK_B_NAME} AS b_name, {_SLK_B_PHONE} AS b_phone
      FROM events WHERE event_id % 7 = 0
    ), pairs AS (
      SELECT r.event_id, r.b_name, r.b_phone, m.a_key, m.a_name, m.a_phone
      FROM r JOIN m ON substr(r.b_phone, 1, 3) = substr(m.a_phone, 1, 3)
      UNION
      SELECT r.event_id, r.b_name, r.b_phone, m.a_key, m.a_name, m.a_phone
      FROM r JOIN m
        ON substr(upper(r.b_name), 1, 17) = substr(upper(m.a_name), 1, 17)
    ), scored AS (
      SELECT event_id, a_key,
             CAST(CASE WHEN a_name = b_name THEN 1 ELSE 0 END AS INT)
               AS agree_name,
             CAST(CASE WHEN a_phone = b_phone THEN 1 ELSE 0 END AS INT)
               AS agree_phone,
             {sql_dround(_SLK_SCORE, 4)} AS score
      FROM pairs
    )
    SELECT event_id, a_key AS master_key, agree_name, agree_phone, score,
           CASE WHEN score >= 12.0 THEN 'link' ELSE 'possible' END
             AS match_class
    FROM scored WHERE score >= 2.0
    ORDER BY event_id, master_key
    """


@register("stream_linkage_incremental", oracle=_slk_oracle(), section=_SEC)
def stream_linkage_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL record linkage — the streaming operational mode of
    `query_record_linkage`: case reports arrive on the event stream and
    must be matched against the STATIC master registry as they land
    (the nightly-batch linkage's intake-desk twin). The stream side is
    pure projection (derive the report's name/phone, apply the
    per-report corruption model); arrived reports append to the
    memory-sink snapshot (bounded: one row per sampled report), and the
    two-pass blocked Fellegi-Sunter core — phone-prefix block + the
    case-normalized name-prefix block, UNION-deduped, scored with the
    SAME literal weights and cutoffs as the batch key — runs over the
    snapshot against the broadcast master after each trigger. Reports
    with both fields corrupted (event_id % 15) score below review and
    are correctly lost, the same owned false-negative band.

    At 100 TB/day: the stream never shuffles (projection only); the
    master is the broadcast dim (stream_join_dim doctrine); both
    candidate joins are equi-joins on stable block prefixes — the typo
    corruption touches only the phone's LAST digit and blocking uses
    the FIRST 3, so recall is structural, not lucky."""
    sdf = _events_stream(spark, sf_dir)
    reports = sdf.filter(F.col("event_id") % 7 == 0).select(
        "event_id",
        F.expr(_SLK_B_NAME).alias("b_name"),
        F.expr(_SLK_B_PHONE).alias("b_phone"),
    )
    snap = _run_to_memory(reports, sf_dir, "append", "linkinc")
    m = F.broadcast(
        table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("a_key"),
            F.col("c_name").alias("a_name"),
            F.expr(_rl_phone_sql("c_custkey")).alias("a_phone"),
        )
    )
    pair_cols = ["event_id", "b_name", "b_phone", "a_key", "a_name", "a_phone"]
    p1 = snap.join(
        m,
        F.expr("substr(b_phone, 1, 3) = substr(a_phone, 1, 3)"),
    ).select(*pair_cols)
    p2 = snap.join(
        m,
        F.expr("substr(upper(b_name), 1, 17) = substr(upper(a_name), 1, 17)"),
    ).select(*pair_cols)
    pairs = p1.unionByName(p2).distinct()
    from sdp_spark.functions.num import dround as _dr

    scored = pairs.select(
        "event_id",
        F.col("a_key").alias("master_key"),
        F.expr("CASE WHEN a_name = b_name THEN 1 ELSE 0 END")
        .cast("int")
        .alias("agree_name"),
        F.expr("CASE WHEN a_phone = b_phone THEN 1 ELSE 0 END")
        .cast("int")
        .alias("agree_phone"),
        _dr(F.expr(_SLK_SCORE), 4).alias("score"),
    )
    return (
        scored.filter(F.col("score") >= 2.0)
        .withColumn(
            "match_class",
            F.when(F.col("score") >= 12.0, F.lit("link")).otherwise(
                F.lit("possible")
            ),
        )
        .orderBy("event_id", "master_key")
    )


@register("stream_ann_ingest", oracle=None, section=_SEC)
def stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE vector ingest — the FOURTEENTH batch+stream pair, the
    streaming twin of `llm_ann_index_update`: arrival embeddings land as
    files, a checkpointed availableNow query processes them in genuine
    micro-batches (maxFilesPerTrigger=1 over a 2-file landing dir), and
    each batch attaches to the PERSISTED index via the SAME direction-
    or member-grain machinery the batch key certifies — assign against
    the persisted centroids (no refit), candidate-join the persisted
    posting lists, exact-rescore top-8. Per-batch results write
    parquet partitioned by _batch_id with DYNAMIC partition overwrite
    (a redelivered batch REPLACES its partition — the idempotent-
    redelivery discipline the JDBC crash proof certifies for that
    sink family).

    stream == batch is EXACT here, not just windows-aligned: an
    arrival's edge list depends only on (its vector, the standing
    index) — arrivals never link to each other in the attach
    discipline — so processing in any batch split yields bit-identical
    per-arrival edges; the pytest diffs this key against
    llm_ann_index_update row-for-row. rows-only oracle (graph attach is
    not replayable SQL)."""
    from sdp_spark.operators.llm import (
        _KNNG_IVF_NASSIGN,
        _NSW_K,
        _ann_update_collapsed,
        _cell_topk_edges,
        _emb_normed,
        _km_assign,
        _vec_dup_dense,
        ann_index_build,
    )

    path = ann_index_build(spark, sf_dir)
    emb = _emb_normed(spark, sf_dir)
    max_id = int(emb.agg(F.max("vec_id")).collect()[0][0])
    unit = F.transform("dvec", lambda x: x / F.col("norm"))
    arrivals = emb.filter(F.col("vec_id") % 5 == 3).select(
        (F.col("vec_id") + F.lit(max_id + 1)).alias("vec_id"),
        F.col("dvec").alias("rvec"),
        unit.alias("dvec"),
    )
    # landing dir: the day's arrivals as 2 chronological files (by id
    # range), built once per (sf, index-version) — the 'vectors keep
    # arriving' shape a live embedding pipeline emits
    from sdp_spark.operators.llm import _ANN_INDEX_VERSION

    landing = cache_dir(sf_dir, f"ann_arrivals_{_ANN_INDEX_VERSION}")
    marker = os.path.join(landing, "_READY")
    if not os.path.exists(marker):
        shutil.rmtree(landing, ignore_errors=True)
        mid = arrivals.approxQuantile("vec_id", [0.5], 0.0)[0]
        arrivals.filter(F.col("vec_id") < mid).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(landing, "f0"))
        arrivals.filter(F.col("vec_id") >= mid).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(landing, "f1"))
        with open(marker, "w") as f:
            f.write("ok")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("rvec", T.ArrayType(T.DoubleType())),
            T.StructField("dvec", T.ArrayType(T.DoubleType())),
        ]
    )
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(landing)
    )
    out_dir = cache_dir(sf_dir, f"ann_ingest_out_{_ANN_INDEX_VERSION}")
    chk = os.path.join(out_dir, "_chk")
    shutil.rmtree(out_dir, ignore_errors=True)
    cents = [
        r["centroid"]
        for r in spark.read.parquet(os.path.join(path, "centroids"))
        .orderBy("cell")
        .collect()
    ]
    dup_dense = _vec_dup_dense(spark, sf_dir)

    def attach_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if dup_dense:
            edges, _ = _ann_update_collapsed(
                spark, sf_dir, path, batch_df, cents, _NSW_K
            )
        else:
            assigned = _km_assign(
                batch_df.select("vec_id", "dvec"),
                cents,
                probe_n=min(_KNNG_IVF_NASSIGN, len(cents)),
            )
            arr_cells = assigned.select(
                "vec_id", "dvec", F.explode("cells").alias("cell")
            )
            indexed = (
                spark.read.parquet(os.path.join(path, "assignments"))
                .select("vec_id", F.explode("cells").alias("cell"))
                .join(emb.select("vec_id", unit.alias("dvec")), "vec_id")
                .select("vec_id", "dvec", "cell")
            )
            edges = _cell_topk_edges(arr_cells, indexed, _NSW_K)
        # per-WRITE dynamic mode, not a session conf: foreachBatch frames
        # belong to the stream's CLONED session, so a conf set on the
        # outer session does not reach this write (observed: batch 1's
        # static overwrite deleted batch 0's partition)
        (
            edges.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(os.path.join(out_dir, "edges"))
        )

    q = (
        sdf.writeStream.foreachBatch(attach_batch)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(os.path.join(out_dir, "edges"))
    return back.select("vec_id", "neighbor_id", "cos_sim", "rnk").orderBy(
        "vec_id", "rnk"
    )


# ---------------------------------------------------------------------------
# CDC replication stream (r14) — the 15th batch+stream pair
# ---------------------------------------------------------------------------

@memo
def _cdc_landing_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the synthetic replication log (scans.cdc_log) into 4
    CHRONOLOGICAL parquet slices by lsn quartile — binlog segments in
    commit order, mtime-ordered so the file source replays them the way
    a replica reads its relay log. Built once per sf (atomic tmp+rename,
    the landing-dir discipline)."""
    from sdp_spark.operators.scans import cdc_log

    out = cache_dir(sf_dir, "cdc_landing2")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp.{os.getpid()}"
        log = cdc_log(spark, sf_dir)
        # RANGE-slice on o_orderkey (lsn = 3k+{0,1,2} is monotone in
        # it, so key ranges ARE lsn ranges): parallel map-side
        # bucketing from a 1-row min/max agg — the first cut used
        # ntile over a global single-partition sort, the one
        # anti-scale pattern in the chain (20.6M rows through one
        # task at the 100x fixture)
        mn, mx = log.agg(
            F.min("o_orderkey"), F.max("o_orderkey")
        ).first()
        span = int(mx) - int(mn) + 1
        sliced = log.withColumn(
            "slice",
            F.least(
                F.lit(4),
                F.floor(
                    (F.col("o_orderkey") - F.lit(int(mn)))
                    * 4
                    / F.lit(span)
                ).cast("int")
                + 1,
            ),
        )
        base = 1_600_000_000
        os.makedirs(tmp, exist_ok=True)
        for i in range(4):
            stage = os.path.join(tmp, f"_stage_{i}")
            (
                sliced.filter(F.col("slice") == i + 1)
                .drop("slice")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            part = next(
                p for p in os.listdir(stage)
                if p.endswith(".parquet") and not p.startswith((".", "_"))
            )
            dst = os.path.join(tmp, f"binlog_{i:03d}.parquet")
            os.replace(os.path.join(stage, part), dst)
            shutil.rmtree(stage, ignore_errors=True)
            os.utime(dst, (base + i, base + i))
        try:
            os.rename(tmp, out)
        except OSError:  # lost the build race
            shutil.rmtree(tmp, ignore_errors=True)
    return out


@register(
    "stream_cdc_apply",
    oracle=None,  # set below — shares the batch twin's oracle text
    section=_SEC,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING replication apply — the 15th batch+stream pair
    (VERDICT r13 work list #6): consume the binlog landing dir as a file
    stream (maxFilesPerTrigger=2 over 4 lsn-ordered segments → a genuine
    2-micro-batch run) and APPLY each micro-batch onto the accumulated
    table state via foreachBatch copy-on-write (the sink_stream_upsert
    versioned-dir discipline: write v(batch%2) while reading
    v(prev%2), never overwriting what is being read). Per batch: the
    SAME cdc_last_state core the batch twin runs settles the batch's
    ops per key (chronological segments guarantee every key's later ops
    arrive in later batches), then keys touched in this batch REPLACE
    their prior-state rows (left_anti + union) and deletes drop out.
    Final state aggregates through the shared cdc_final_agg, so
    stream == batch == oracle end-to-end. At 100 TB the versioned
    rewrite becomes a lakehouse MERGE keyed on the replication key —
    the plan shape (per-batch key-settle + keyed anti-join) is already
    that MERGE's."""
    from sdp_spark.operators.scans import cdc_final_agg

    landing = _cdc_landing_dir(spark, sf_dir)
    base = scratch(spark, sf_dir, "sdp_stream_cdc_")
    q = (
        _cdc_source(spark, landing)
        .writeStream.foreachBatch(_cdc_apply_batch_fn(base))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = spark.read.parquet(f"{base}/v{_cdc_last_committed(base) % 2}")
    return cdc_final_agg(final)


def _cdc_source(spark: SparkSession, landing: str) -> DataFrame:
    """The binlog file stream: explicit schema, 2 segments per trigger."""
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(landing)
    )


def _cdc_apply_batch_fn(base: str):
    """The foreachBatch CDC-apply closure over a versioned state dir —
    CRASH-SAFE BY DERIVATION, not by mutable driver state: batch N
    always reads v((N-1)%2) and writes v(N%2), so a batch REDELIVERED
    after a crash (written to its version dir but never committed to
    the stream checkpoint) re-reads the intact PRIOR version and simply
    overwrites its own partial — the copy-on-write twin of the JDBC
    sink's DELETE-by-batch_id idempotency (r12 recovery proof). A
    `_LAST` marker commits each batch's version id atomically AFTER the
    parquet write (the manifest discipline) so the final read never
    trusts an uncommitted directory."""
    import json as _json

    from sdp_spark.operators.scans import cdc_last_state

    def apply_batch(df: DataFrame, batch_id: int) -> None:
        settled = cdc_last_state(df)
        new_state = settled
        if batch_id > 0:
            prior = df.sparkSession.read.parquet(
                f"{base}/v{(batch_id - 1) % 2}"
            )
            kept = prior.join(
                df.select("o_orderkey").distinct(), "o_orderkey", "left_anti"
            )
            new_state = kept.unionByName(settled)
        new_state.write.mode("overwrite").parquet(f"{base}/v{batch_id % 2}")
        tmp = os.path.join(base, "_LAST.tmp")
        with open(tmp, "w") as f:
            _json.dump({"batch_id": batch_id}, f)
        os.replace(tmp, os.path.join(base, "_LAST"))

    return apply_batch


def _cdc_last_committed(base: str) -> int:
    import json as _json

    with open(os.path.join(base, "_LAST")) as f:
        return int(_json.load(f)["batch_id"])


def _patch_cdc_oracle() -> None:
    """stream_cdc_apply registered before its oracle text could be read
    from scans (import-order): bind the SHARED batch oracle now — the
    pair certifies against literally the same SQL."""
    from dataclasses import replace

    from sdp_spark.operators.scans import _CDC_ORACLE
    from sdp_spark.plans.registry import REGISTRY

    spec = REGISTRY["stream_cdc_apply"]
    if spec.oracle is None:
        REGISTRY["stream_cdc_apply"] = replace(spec, oracle=_CDC_ORACLE)


_patch_cdc_oracle()
