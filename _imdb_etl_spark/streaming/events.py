"""Structured Streaming forms of the events analytics.

The reference has no streaming surface (SURVEY.md §2.9); these are the
additive north-star operators, built on the public Structured Streaming
API: file source -> watermarked event-time windows / session windows ->
sink. In production the source line is the only thing that changes
(kafka instead of parquet-dir).

Driver/oracle integration: the registered queries drain the stream to
a bounded completion over the parquet input through the one memory-sink
runner, `_run_to_memory` (processAllAvailable, checkpoint under the
scratch root), and return the materialized batch result. On bounded
input the windowed aggregates must equal their batch twins in
plans/events.py, so the same DuckDB oracle SQL applies — the driver
checks the streaming path end-to-end, not a stub.

Watermarks: 1 hour on event time. On an unbounded stream this bounds
state (late rows beyond the watermark are dropped and hour/session
windows finalize); on the bounded replay nothing is late, so parity
with batch holds exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import dec, dsum, ordered
from _imdb_etl_spark.registry import register


def read_table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over one driver parquet table: schema pinned
    from the catalog's memoised `parquet_schema`, directory source
    narrowed to the table's file by pathGlobFilter. The single
    definition of the stream-source pattern — events and documents
    streams both build on it."""
    from _imdb_etl_spark.sources.catalog import _tune, parquet_schema

    _tune(spark)
    path = os.path.join(sf_dir, f"{table}.parquet")
    return (
        spark.readStream.schema(parquet_schema(spark, path))
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events stream (physical ts type normalized by the shared
    sources.catalog.normalize_event_ts helper — works whether the file
    stores TIMESTAMP(NANOS) or timestamp[us])."""
    from _imdb_etl_spark.sources.catalog import normalize_event_ts

    return normalize_event_ts(read_table_stream(spark, sf_dir, "events"))


def streaming_sessionize(events: DataFrame) -> DataFrame:
    """Session windows with a 30-minute gap — the streaming twin of the
    lag-based batch sessionization."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def _run_to_memory(df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drain a bounded stream into a memory sink and return its rows:
    the one runner of every memory-sink face. The query names itself,
    runs on the default trigger until processAllAvailable() returns
    (availableNow runs Python sources as one micro-batch, so it cannot
    be the shared drain), and checkpoints under the scratch owner's
    ``stream_ckpt`` directory, which is removed when the run ends."""
    import shutil
    import uuid

    from _imdb_etl_spark.sources.catalog import scratch_dir

    spark = df.sparkSession
    name = f"stream_{uuid.uuid4().hex}"
    ckpt = os.path.join(scratch_dir("stream_ckpt"), name)
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    # the resolved plan holds the memory sink's rows; dropping the view
    # keeps a long-lived session from gaining one catalog table per call
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


_STREAM_HOURLY_SQL = """
SELECT
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_bucket,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY hour_bucket, event_type
"""


@register(
    "streaming_hourly_rollup",
    _STREAM_HOURLY_SQL,
    doc="End-to-end Structured Streaming run (file source -> watermarked "
    "1h windows -> processAllAvailable -> memory sink), materialized and "
    "compared to the batch oracle. Exact distinct users is omitted: "
    "streams only support approx_count_distinct.",
)
def streaming_hourly_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(dec("value"), "total_value"),
        )
    )
    out = _run_to_memory(agg)
    return ordered(
        out.select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:00:00").alias(
                "hour_bucket"
            ),
            "event_type",
            "n_events",
            "total_value",
        ),
        "hour_bucket",
        "event_type",
    )


# shared with the batch twin, plans/events.py:events_sessionize
_SESSION_SQL = """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM gaps
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "streaming_sessionize",
    _SESSION_SQL,
    doc="End-to-end session_window streaming run, aggregated to per-user "
    "session counts and checked against the batch lag-based oracle "
    "(equal on bounded input).",
)
def streaming_sessionize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    sessions = streaming_sessionize(events)
    out = _run_to_memory(sessions)
    return ordered(
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        ),
        "user_id",
    )


_STREAM_DEDUP_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "streaming_dedup_events",
    _STREAM_DEDUP_SQL,
    doc="Streaming ingest deduplication: two file-source streams over the "
    "same events (simulating at-least-once redelivery, every event "
    "arriving twice) are unioned, watermarked, and deduplicated on "
    "event_id with dropDuplicatesWithinWatermark — state is bounded by "
    "the 1h watermark, the production shape for exactly-once ingest on "
    "top of an at-least-once bus. The deduplicated append stream then "
    "rolls up per event type and must equal the batch oracle over the "
    "ORIGINAL (un-doubled) events: the oracle fails if even one "
    "duplicate survives or one event is lost.",
)
def streaming_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two independent source instances -> a genuine self-union of the
    # stream, i.e. every event delivered exactly twice
    first = read_events_stream(spark, sf_dir)
    replay = read_events_stream(spark, sf_dir)
    deduped = (
        first.unionAll(replay)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = _run_to_memory(deduped, output_mode="append")
    return ordered(
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(dec("value"), "total_value"),
        ),
        "event_type",
    )


_STREAM_SS_JOIN_SQL = """
SELECT p.user_id,
       p.event_id AS p_event_id,
       v.event_id AS v_event_id,
       epoch_ms(p.ts) - epoch_ms(v.ts) AS gap_ms
FROM events p
JOIN events v
  ON v.user_id = p.user_id
 AND p.event_type = 'purchase' AND v.event_type = 'view'
 AND v.ts BETWEEN p.ts - INTERVAL '30 minutes' AND p.ts
ORDER BY p_event_id, v_event_id
"""


@register(
    "streaming_join_view_purchase",
    _STREAM_SS_JOIN_SQL,
    doc="Stream-STREAM interval join (the stateful join Structured "
    "Streaming is built for, distinct from the stream-static enrich): "
    "a purchases stream inner-joins a views stream on user with an "
    "event-time range (view within 30 minutes before the purchase). "
    "Both sides carry 1h watermarks and the range predicate bounds "
    "the join state — views older than watermark + 30min are evicted, "
    "so state is O(window), never O(stream). Emitted in append mode; "
    "on bounded replay the pair set must equal the batch interval "
    "join, which is the oracle.",
)
def streaming_ss_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_p = read_events_stream(spark, sf_dir)
    ev_v = read_events_stream(spark, sf_dir)
    purchases = (
        ev_p.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    views = (
        ev_v.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_event_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    joined = purchases.join(
        views,
        F.expr(
            "v_user = p_user AND "
            "v_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"
        ),
    )
    out = _run_to_memory(joined, output_mode="append")
    return ordered(
        out.select(
            F.col("p_user").alias("user_id"),
            "p_event_id",
            "v_event_id",
            (F.unix_millis("p_ts") - F.unix_millis("v_ts")).alias("gap_ms"),
        ),
        "p_event_id",
        "v_event_id",
    )


_STREAM_ENRICH_SQL = """
SELECT n.n_name AS nation,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY nation
"""


@register(
    "streaming_enrich_events",
    _STREAM_ENRICH_SQL,
    doc="Stream-static enrichment join — the standard streaming ingest "
    "shape: the event stream joins the slowly-changing customer/nation "
    "dims (static batch side, re-read per micro-batch, broadcast-sized "
    "here; at scale the static side is a compacted dim table) and rolls "
    "up per nation. Stateless except the final aggregation; oracle = "
    "the batch join.",
)
def streaming_enrich_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from _imdb_etl_spark.sources import load_tables

    events = read_events_stream(spark, sf_dir)
    customer, nation = load_tables(spark, sf_dir, "customer", "nation")
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    ).join(nation, F.col("c_nationkey") == F.col("n_nationkey")).select(
        "user_id", F.col("n_name").alias("nation")
    )
    agg = (
        events.join(dim, "user_id")
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(dec("value"), "total_value"),
        )
    )
    out = _run_to_memory(agg)
    return ordered(out, "nation")


# --- foreachBatch idempotent upsert sink -------------------------------

_FB_UPSERT_SQL = """
WITH agg AS (
  SELECT user_id, COUNT(*) AS n_events,
         CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) AS total_cents
  FROM events GROUP BY user_id
),
last AS (
  SELECT user_id, event_type AS last_event_type,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts
  FROM (
    SELECT user_id, event_type, ts,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS r
    FROM events
  ) WHERE r = 1
)
SELECT a.user_id, a.n_events, a.total_cents, l.last_event_type, l.last_ts
FROM agg a JOIN last l USING (user_id)
ORDER BY a.user_id
"""


@register(
    "streaming_foreachbatch_upsert",
    _FB_UPSERT_SQL,
    doc="The production exactly-once SINK pattern: foreachBatch writes "
    "each micro-batch's per-user partial aggregates to a directory "
    "keyed by batch_id (overwrite mode), so a redelivered batch "
    "replaces rather than appends — idempotence by key, the "
    "no-transactional-sink recipe the Structured Streaming guide "
    "recommends. The run here is adversarial: the 8-file source is "
    "streamed TWICE (second run with a fresh checkpoint = the whole "
    "stream redelivered, possibly with different file->batch "
    "assignments), and the merged state must still equal the batch "
    "oracle — one leaked duplicate partial flips the hash. Partials "
    "are mergeable (counts, exact integer cents, max last-event "
    "struct), so the final state read aggregates 8 tiny files, never "
    "the raw stream.",
)
def streaming_foreachbatch_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    from _imdb_etl_spark.sources import load_tables, scratch_dir, write_read_back

    base = scratch_dir("fb_upsert")
    src = os.path.join(base, "src")
    state = os.path.join(base, "state")
    shutil.rmtree(base, ignore_errors=True)

    (events,) = load_tables(spark, sf_dir, "events")
    schema = write_read_back(events.repartition(8), src).schema

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        part = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((dec("value") * 100).cast("long")).alias("cents"),
            F.max(F.struct("ts", "event_id", "event_type")).alias("last"),
        )
        # overwrite per batch_id = idempotent under redelivery
        part.write.mode("overwrite").parquet(
            os.path.join(state, f"batch={batch_id}")
        )

    for attempt in range(2):  # second pass = full at-least-once redelivery
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        ckpt = os.path.join(base, f"ckpt{attempt}")
        q = (
            stream.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    merged = (
        spark.read.parquet(state)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("cents").alias("total_cents"),
            F.max("last").alias("last"),
        )
        .select(
            "user_id",
            "n_events",
            "total_cents",
            F.col("last.event_type").alias("last_event_type"),
            F.date_format("last.ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "last_ts"
            ),
        )
        .orderBy("user_id")
    )
    return merged
