"""Structured Streaming jobs — the streaming half of §2.3.

Each job is the streaming twin of a batch operator in
``operators/events.py``: tumbling/sliding windowed aggregation with
a watermark, gap-based sessionization via ``session_window``, and
idempotency dedup via ``dropDuplicatesWithinWatermark``.

The event-time column is rebuilt from the parquet nanos column like
the batch reader, but as TIMESTAMP (LTZ) because Spark watermarks
reject TIMESTAMP_NTZ; with the session pinned to UTC the two paths
agree on wall-clock values. Tests drive these with a file source
(maxFilesPerTrigger) into a memory sink via processAllAvailable().

Scale notes: watermarks bound state; the windowed aggregate's state
key is (window, event_type) — small; sessionization state is per
user; dedup state is bounded by the watermark horizon. These are
the exact operators you'd run against a Kafka source at 100 TB/day,
with checkpointing on durable storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # nanos (read with nanosAsLong)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over the events parquet with the same NTZ
    timestamp reconstruction as the batch path.

    Driver testdata has shipped ``ts`` as both TIMESTAMP(NANOS)
    (readable only as raw long via ``nanosAsLong``) and plain
    TIMESTAMP(MICROS); a cheap footer probe via the batch reader
    picks the matching declared stream schema."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    ts_is_long = isinstance(probe["ts"].dataType, T.LongType)
    schema = EVENTS_RAW_SCHEMA if ts_is_long else T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", probe["ts"].dataType)
            for f in EVENTS_RAW_SCHEMA.fields
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        # directory source + filename filter (a bare file path breaks
        # the source's basePath handling)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # watermarks require TIMESTAMP (with-local-tz), not NTZ — build
    # LTZ from the epoch micros (or cast NTZ wall-clock under the
    # session's UTC default; same instants either way)
    if ts_is_long:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_counts(
    stream: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling (or sliding, when `slide` given) windowed counts and
    value sums per event type, late data bounded by the watermark."""
    win = (
        F.window("ts", window) if slide is None else F.window("ts", window, slide)
    )
    # watermark only applies to streaming frames; gating on
    # isStreaming lets the IDENTICAL job run in batch, which is how
    # the equivalence tests prove the streaming result correct
    # (stream == batch on the same data), not merely non-empty
    if stream.isStreaming:
        stream = stream.withWatermark("ts", watermark)
    return (
        stream
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("decimal(38,2)").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_aggregates(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Gap-based sessionization with ``session_window`` — the native
    streaming form of the batch lag/cumsum sessionizer."""
    if stream.isStreaming:
        stream = stream.withWatermark("ts", watermark)
    return (
        stream
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("decimal(38,2)").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(stream: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming idempotency: drop duplicate (user_id, event_type,
    ts) rows arriving within the watermark horizon."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "ts"]
    )


def view_purchase_join(
    stream: DataFrame, *, horizon: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join: each purchase joins
    the same user's views in the preceding ``horizon`` — the
    streaming attribution join.

    Scale/state story: an un-bounded stream-stream join buffers both
    sides forever; the interval condition + watermarks on BOTH
    sides let Spark expire view state ``horizon + watermark`` past
    the event time and purchase state at the watermark — state is
    bounded by rate × horizon, not by history. Inner joins emit
    eagerly on match (no watermark hold-back), so a drained file
    source yields the complete pair set.

    The isStreaming gate lets the IDENTICAL plan run in batch — the
    equivalence test proves stream == batch row-for-row."""
    v = stream.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = stream.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    if stream.isStreaming:
        v = v.withWatermark("v_ts", watermark)
        p = p.withWatermark("p_ts", watermark)
    cond = (
        (v["v_user"] == p["p_user"])
        & (p["p_ts"] >= v["v_ts"])
        & (p["p_ts"] <= v["v_ts"] + F.expr(f"INTERVAL {horizon}"))
    )
    return v.join(p, cond, "inner").select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("delay_micros"),
    )


def run_to_memory(df: DataFrame, name: str, mode: str = "append") -> DataFrame:
    """Drive a streaming frame to completion into a memory sink and
    return the materialized table (test/debug harness). Use
    mode='complete' for aggregations (a static file source never
    advances the watermark past the final events, so append-mode
    would hold back the trailing windows)."""
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.table(name)


# ------------------------------------------------ driver-gate query

_JOIN_GATE_SEQ = iter(range(1_000_000))


def stream_join_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate: the view→purchase interval join CONSUMED AS A
    STREAM-STREAM JOIN (file source → watermarked state → memory
    sink), rolled up to exact integers. Oracle: the same interval
    self-join in DuckDB over the raw parquet — the streamed join
    must lose/dup nothing vs the batch semantics."""
    seq = next(_JOIN_GATE_SEQ)
    name = f"stream_join_gate_{seq}"
    s = events_stream(spark, sf_dir)
    joined = view_purchase_join(s)
    # a stateful streaming query instantiates FOUR state stores per
    # shuffle partition (two join sides × key/index); the partition
    # count is fixed at query start, so size it to the STATE volume
    # (KB here, bounded by rate × horizon) rather than the session's
    # CPU-oriented default — measured 15.5 s → 3.2 s at sf0.1. On a
    # real cluster this is the same deliberate knob
    # (spark.sql.shuffle.partitions at stream start).
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        got = run_to_memory(joined, name, mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    out = got.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum("delay_micros").cast("long").alias("sum_delay_micros"),
        F.max("delay_micros").cast("long").alias("max_delay_micros"),
    )
    rows = out.collect()  # materialize, then release the sink
    spark.catalog.dropTempView(name)
    return local_frame(spark, rows, out.schema)


STREAM_JOIN_SQL = """
WITH v AS (
  SELECT user_id, ts AS v_ts FROM events WHERE event_type = 'view'),
p AS (
  SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
pairs AS (
  SELECT v.user_id, epoch_us(p.p_ts) - epoch_us(v.v_ts) AS delay_micros
  FROM v JOIN p USING (user_id)
  WHERE p.p_ts >= v.v_ts AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR)
SELECT COUNT(*) AS n_pairs,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(delay_micros) AS BIGINT) AS sum_delay_micros,
       CAST(MAX(delay_micros) AS BIGINT) AS max_delay_micros
FROM pairs
"""
