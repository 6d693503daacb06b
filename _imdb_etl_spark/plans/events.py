"""Event-stream analytics over the ``events`` table (batch forms; the
Structured Streaming variants live in _imdb_etl_spark.streaming).

Timestamp parity notes: the loader pins session timezone to UTC, bucket
timestamps are emitted as formatted strings, and gap arithmetic uses
exact epoch milliseconds (unix_millis / epoch_ms) — never float seconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import (
    dec,
    dsum,
    hex_prefix_int,
    md5_prefix_int_sql,
    ordered,
)
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables
from _imdb_etl_spark.streaming.events import _SESSION_SQL

_HOURLY_SQL = """
SELECT
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_bucket,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
  COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY hour_bucket, event_type
"""


@register(
    "events_hourly_rollup",
    _HOURLY_SQL,
    doc="Tumbling-window rollup (batch form of a streaming windowed agg): "
    "per (hour, type) counts, exact decimal value sums, distinct users. "
    "COUNT(DISTINCT) is the one extra shuffle; at scale swap for "
    "approx_count_distinct.",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    return ordered(
        events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias(
                "hour_bucket"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(dec("value"), "total_value"),
            F.countDistinct("user_id").alias("n_users"),
        ),
        "hour_bucket",
        "event_type",
    )


@register(
    "events_sessionize",
    _SESSION_SQL,
    doc="Sessionization via lag + gap>30min cut (the batch twin of "
    "streaming session_window): one shuffle on user_id serves both the "
    "window sort and the final aggregate.",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ms = F.lag(F.unix_millis("ts")).over(w)
    new_session = F.when(
        prev_ms.isNull() | (F.unix_millis("ts") - prev_ms > 1_800_000), 1
    ).otherwise(0)
    return ordered(
        events.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        ),
        "user_id",
    )


_PROPS_SQL = """
SELECT event_type,
       COUNT(json_extract_string(props, '$.k')) AS n_with_k,
       SUM(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE))
         / COUNT(json_extract_string(props, '$.k')) AS avg_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "events_props_json",
    _PROPS_SQL,
    doc="Semi-structured props: JSON-path extraction inside codegen "
    "(get_json_object), exact integer aggregation.",
)
def events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    # try_cast to DOUBLE on both sides: engines agree on NULL for
    # non-numeric and on fractional values (BIGINT casts diverge —
    # DuckDB rounds '1.5', Spark nulls/errors); integer sums in double
    # are exact below 2^53
    kd = k.try_cast("double")
    return ordered(
        events.groupBy("event_type")
        .agg(
            F.count(k).alias("n_with_k"),
            (F.sum(kd) / F.count(k)).alias("avg_k"),
        ),
        "event_type",
    )


_UDTF_SQL = """
WITH kv AS (
  SELECT event_id, unnest(json_keys(props)) AS prop_key, props
  FROM events
  WHERE props IS NOT NULL
)
SELECT event_id, prop_key,
       json_extract_string(props, '$.' || prop_key) AS prop_value
FROM kv
"""


@register(
    "events_props_udtf",
    _UDTF_SQL,
    doc="Python UDTF (table function, new in Spark 4): one event row in, "
    "one row out per JSON property — the lateral-join escape hatch for "
    "row-expanding logic that isn't a simple explode. Arrow-batched; "
    "oracle via DuckDB's json_keys. This is the registry's documented "
    "Python-boundary face for row expansion (~12 us/row through the "
    "UDTF at 100x vs ~2 s for the codegen siblings events_props_json/"
    "_variant); unordered output — the global sort of the exploded "
    "relation (~30M rows, 78 of 200 s at 100x) carried no information "
    "without a LIMIT, so neither engine sorts.",
)
def events_props_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import lit, udtf

    @udtf(
        returnType="event_id bigint, prop_key string, prop_value string",
        useArrow=True,
    )
    class ExplodeProps:
        def eval(self, event_id, props):  # noqa: ANN001
            import json

            if props:
                for k, v in json.loads(props).items():
                    # mirror json_extract_string: strings raw, null as
                    # SQL NULL, bools/numbers/containers as minified JSON
                    if v is None:
                        out = None
                    elif isinstance(v, str):
                        out = v
                    elif isinstance(v, bool):
                        out = "true" if v else "false"
                    else:
                        out = json.dumps(v, separators=(",", ":"))
                    yield event_id, str(k), out

    (events,) = load_tables(spark, sf_dir, "events")
    events.select("event_id", "props").createOrReplaceTempView("udtf_events_src")
    spark.udtf.register("explode_props", ExplodeProps)
    return spark.sql(
        "SELECT t.event_id, t.prop_key, t.prop_value "
        "FROM udtf_events_src, LATERAL explode_props(event_id, props) t"
    )


_PIVOT_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) FILTER (event_type = 'view') AS views,
       COUNT(*) FILTER (event_type = 'click') AS clicks,
       COUNT(*) FILTER (event_type = 'purchase') AS purchases,
       COUNT(*) FILTER (event_type = 'signup') AS signups,
       COUNT(*) FILTER (event_type = 'error') AS errors
FROM events
GROUP BY 1
ORDER BY day
"""


@register(
    "events_daily_pivot",
    _PIVOT_SQL,
    doc="Pivot (absent from the reference, SURVEY.md §2.9): day x "
    "event_type counts. Explicit pivot values keep it a single-pass "
    "aggregate (no extra distinct-values job).",
)
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    out = (
        events.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .pivot("event_type", ["view", "click", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return ordered(
        out.select(
            "day",
            F.col("view").alias("views"),
            F.col("click").alias("clicks"),
            F.col("purchase").alias("purchases"),
            F.col("signup").alias("signups"),
            F.col("error").alias("errors"),
        ),
        "day",
    )


_UNPIVOT_SQL = """
WITH wide AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         COUNT(*) FILTER (event_type = 'view') AS views,
         COUNT(*) FILTER (event_type = 'click') AS clicks,
         COUNT(*) FILTER (event_type = 'purchase') AS purchases
  FROM events GROUP BY 1
)
SELECT day, kind, n
FROM wide
UNPIVOT (n FOR kind IN (views, clicks, purchases))
ORDER BY day, kind
"""


@register(
    "events_unpivot_daily",
    _UNPIVOT_SQL,
    doc="Unpivot/melt (the DataFrame.unpivot API): the wide day x "
    "event-type count matrix back to long (day, kind, n) triples — "
    "wide-to-long is a narrow 1->K row fan-out in codegen (Expand "
    "node), no shuffle beyond the source aggregation.",
)
def events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    wide = (
        events.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.when(F.col("event_type") == "view", 1)).alias("views"),
            F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "purchases"
            ),
        )
    )
    return ordered(
        wide.unpivot(
            ids=["day"],
            values=["views", "clicks", "purchases"],
            variableColumnName="kind",
            valueColumnName="n",
        ),
        "day",
        "kind",
    )


_VARIANT_SQL = """
SELECT event_type,
       CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type, k_bucket
ORDER BY event_type, k_bucket
"""


@register(
    "events_props_variant",
    _VARIANT_SQL,
    doc="VARIANT semi-structured type (new in Spark 4): parse_json once "
    "into the binary variant encoding, then typed variant_get paths — "
    "at scale this beats repeated get_json_object string re-parsing "
    "because the parse happens once per row and extraction is a typed "
    "binary probe. DuckDB twin extracts the same path from the JSON "
    "text.",
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    v = F.try_parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return ordered(
        events.select("event_type", k.alias("k"))
        .groupBy("event_type", (F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
        ),
        "event_type",
        "k_bucket",
    )


_GAPFILL_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi FROM hourly GROUP BY 1),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
  FROM bounds
)
SELECT s.event_type,
       strftime(s.hr, '%Y-%m-%d %H:00:00') AS hour_bucket,
       COALESCE(h.n, 0) AS n_events,
       CAST(last_value(h.total_value IGNORE NULLS)
              OVER (PARTITION BY s.event_type ORDER BY s.hr
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS filled_value
FROM spine s
LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hr = h.hr
ORDER BY s.event_type, hour_bucket
"""


def _hour_spine(hourly: DataFrame) -> DataFrame:
    """Every (event_type, hr) hour between each type's first and last
    observed ``hr`` — the dense spine the gap-filling faces left-join
    their sparse hourly rows onto."""
    return (
        hourly.groupBy("event_type")
        .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("hr"),
        )
    )


@register(
    "events_gapfill_hourly",
    _GAPFILL_SQL,
    doc="Time-series gap fill (the hypertable pattern): a dense hourly "
    "spine per event type (sequence + explode — generated, never "
    "materialized as a table), left-joined to the observed hourly "
    "rollup; missing hours report zero events and carry the last "
    "observed value forward (last_value IGNORE NULLS over an "
    "unbounded-preceding frame). The spine and the fill window both "
    "partition on the series key, so series parallelize independently; "
    "at production cardinality the key becomes (entity, day-range) to "
    "bound any one window.",
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (events,) = load_tables(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(dec("value"), "total_value"),
    )
    spine = _hour_spine(hourly)
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ordered(
        spine.join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:00:00").alias("hour_bucket"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.last("total_value", ignorenulls=True)
            .over(w)
            .cast("double")
            .alias("filled_value"),
        ),
        "event_type",
        "hour_bucket",
    )


_FUNNEL_SQL = """
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         MIN(CASE WHEN event_type = 'view' THEN ts END) OVER w AS fv_run
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
staged AS (
  SELECT user_id, ts, event_type, fv_run,
         MIN(CASE WHEN event_type = 'click' AND fv_run IS NOT NULL
                   AND fv_run < ts THEN ts END) OVER w AS fc_run
  FROM seq
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
per_user AS (
  SELECT user_id,
         MAX(fv_run) IS NOT NULL AS did_view,
         MAX(fc_run) IS NOT NULL AS did_click_after_view,
         MAX(CASE WHEN event_type = 'purchase' AND fc_run IS NOT NULL
                   AND fc_run < ts THEN 1 ELSE 0 END) = 1
           AS did_purchase_after_click
  FROM staged
  GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(*) FILTER (did_view) AS BIGINT) AS n_view,
       CAST(COUNT(*) FILTER (did_click_after_view) AS BIGINT) AS n_click_after_view,
       CAST(COUNT(*) FILTER (did_purchase_after_click) AS BIGINT)
         AS n_purchase_after_click,
       CAST((1000 * COUNT(*) FILTER (did_purchase_after_click))
            // GREATEST(COUNT(*) FILTER (did_view), 1) AS BIGINT)
         AS view_to_purchase_permille
FROM per_user
"""


@register(
    "events_funnel_analysis",
    _FUNNEL_SQL,
    doc="Ordered conversion funnel (view -> click strictly after the "
    "first view -> purchase strictly after that click), the sequence "
    "analytics every product-event pipeline runs. One pass: running "
    "per-user MIN-over-window (user-keyed sort, deterministic "
    "(ts, event_id) order) establishes each user's first qualifying "
    "stage timestamp without a per-stage self-join — then a single "
    "user-level aggregate and a one-row rollup. Exactly one "
    "user-keyed shuffle for the windows + agg (the per-stage-join "
    "formulation would shuffle once PER STAGE); conversion emitted as "
    "integer permille (exact integer division, no float drift).",
)
def events_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w).alias(
            "fv_run"
        ),
    )
    staged = seq.select(
        "user_id",
        "ts",
        "event_type",
        "fv_run",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & F.col("fv_run").isNotNull()
                & (F.col("fv_run") < F.col("ts")),
                F.col("ts"),
            )
        )
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("fc_run"),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("fv_run").isNotNull().alias("did_view"),
        F.max("fc_run").isNotNull().alias("did_click_after_view"),
        (
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & F.col("fc_run").isNotNull()
                    & (F.col("fc_run") < F.col("ts")),
                    1,
                ).otherwise(0)
            )
            == 1
        ).alias("did_purchase_after_click"),
    )
    cnt = lambda c: F.count(F.when(F.col(c), 1))  # noqa: E731
    # exact integer division (div), not double '/' + cast: at large
    # counts an IEEE-rounded quotient can cross an integer boundary
    # and truncate differently than the oracle's floor division
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        cnt("did_view").alias("n_view"),
        cnt("did_click_after_view").alias("n_click_after_view"),
        cnt("did_purchase_after_click").alias("n_purchase_after_click"),
    ).select(
        "n_users",
        "n_view",
        "n_click_after_view",
        "n_purchase_after_click",
        F.expr(
            "(1000 * n_purchase_after_click) div greatest(n_view, 1L)"
        ).alias("view_to_purchase_permille"),
    )


# --- z-order (Morton) layout locality -------------------------------
#
# Multi-dimensional clustering for data skipping (the technique behind
# Delta/Iceberg OPTIMIZE ZORDER): interleaving the bits of two scan
# dimensions gives a 1-D sort key whose contiguous ranges cover small
# RECTANGLES of the (dim1, dim2) space, so min/max file statistics
# prune scans filtered on EITHER dimension — a plain sort would only
# serve its leading column. The interleave is pure integer arithmetic
# (((x div 2^i) mod 2) * 4^i), bitwise-identical in Spark and DuckDB.

_Z_BITS = 8


def _z_terms(a: str, b: str, div: str) -> str:
    """Engine-portable Morton interleave of two {0..2^bits-1} ints.
    ``div`` is the integer-division keyword ('div' Spark, '//' DuckDB).
    """
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({a} {div} {2**i}) % 2) * {4**i}")
        terms.append(f"(({b} {div} {2**i}) % 2) * {2 * 4**i}")
    return " + ".join(terms)


_ZORDER_SQL = f"""
WITH dims AS (
  SELECT user_id % 256 AS ua,
         (date_part('day', ts) * 24 + date_part('hour', ts))::BIGINT % 256 AS hb
  FROM events
),
z AS (SELECT ua, hb, {_z_terms('ua', 'hb', '//')} AS zval FROM dims)
SELECT zval // 4096 AS z_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(ua) - MIN(ua) AS BIGINT) AS user_span,
       CAST(MAX(hb) - MIN(hb) AS BIGINT) AS hour_span
FROM z
GROUP BY z_bucket
ORDER BY z_bucket
"""


@register(
    "zorder_events_locality",
    _ZORDER_SQL,
    doc="Z-order (Morton) clustering key over (user bucket, hour "
    "bucket) with per-z-range locality proof: each of the 16 coarse "
    "z buckets covers a <= 64x64 rectangle of the 256x256 key space, "
    "so files written in z order carry tight min/max stats on BOTH "
    "dimensions and scans filtered on either prune — the "
    "multi-dimensional data-skipping layout a single-column sort "
    "cannot give. The interleave is integer arithmetic only; "
    "tests/test_sinks.py writes the layout to parquet and asserts "
    "the per-file bounding boxes actually tighten vs hash layout.",
)
def zorder_events_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    dims = events.select(
        (F.col("user_id") % 256).alias("ua"),
        (
            (F.dayofmonth("ts").cast("long") * 24 + F.hour("ts").cast("long"))
            % 256
        ).alias("hb"),
    )
    z = dims.select(
        "ua", "hb", F.expr(_z_terms("ua", "hb", "div")).alias("zval")
    )
    return ordered(
        z.groupBy(F.expr("zval div 4096").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("ua") - F.min("ua")).alias("user_span"),
            (F.max("hb") - F.min("hb")).alias("hour_span"),
        ),
        "z_bucket",
    )


_COHORT_SQL = """
WITH anchor AS (
  SELECT user_id,
         date_diff('day', DATE '2024-01-01', MIN(ts)::DATE) // 7 AS cohort_wk
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '2024-01-01', ts::DATE) // 7 AS wk
  FROM events
),
cells AS (
  SELECT c.cohort_wk, a.wk - c.cohort_wk AS week_offset,
         COUNT(DISTINCT a.user_id) AS n_active
  FROM activity a JOIN anchor c USING (user_id)
  GROUP BY 1, 2
),
sizes AS (SELECT cohort_wk, n_active AS cohort_size FROM cells WHERE week_offset = 0)
SELECT c.cohort_wk, c.week_offset,
       CAST(c.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       CAST((1000 * c.n_active) // s.cohort_size AS BIGINT) AS retention_permille
FROM cells c JOIN sizes s USING (cohort_wk)
ORDER BY c.cohort_wk, c.week_offset
"""


@register(
    "events_retention_cohorts",
    _COHORT_SQL,
    doc="Weekly retention cohort matrix: users anchored to their "
    "first-activity week, each later active week a (cohort, offset) "
    "cell with distinct-user counts and retention permille vs the "
    "cohort's own week-0 size. Two user-keyed aggregations (anchor + "
    "distinct activity reuse the same shuffle key) and one "
    "cohort-keyed rollup; the week-0 size join is |cohorts| rows — "
    "broadcast at any scale. Integer date arithmetic only, so the "
    "matrix is engine-exact.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    # floor(), not cast('long'): the cast truncates toward zero, which
    # diverges from the oracle's // for any event before the epoch
    # anchor (floor(-3/7) = -1, trunc = 0)
    wk = F.floor(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) / 7
    ).cast("long")
    anchor = events.groupBy("user_id").agg(
        F.floor(
            F.datediff(F.min(F.to_date("ts")), F.lit("2024-01-01").cast("date"))
            / 7
        )
        .cast("long")
        .alias("cohort_wk")
    )
    activity = events.select("user_id", wk.alias("wk")).distinct()
    cells = (
        activity.join(anchor, "user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset"))
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    sizes = cells.where(F.col("week_offset") == 0).select(
        "cohort_wk", F.col("n_active").alias("cohort_size")
    )
    return ordered(
        cells.join(F.broadcast(sizes), "cohort_wk")
        .select(
            "cohort_wk",
            "week_offset",
            "n_active",
            "cohort_size",
            F.expr("(1000 * n_active) div cohort_size").alias(
                "retention_permille"
            ),
        ),
        "cohort_wk",
        "week_offset",
    )


_DRIFT_SQL = """
WITH daily AS (
  SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         COUNT(*) AS n_events,
         quantile_disc(value, 0.5) AS p50,
         quantile_disc(value, 0.9) AS p90
  FROM events
  GROUP BY 1, 2
)
SELECT day, n_events, p50, p90,
       lag(p50) OVER w AS p50_prev,
       COALESCE(abs(p50 - lag(p50) OVER w) > 5.0, FALSE) AS drift_flag
FROM daily
WINDOW w AS (PARTITION BY month ORDER BY day)
ORDER BY day
"""


@register(
    "events_value_drift_daily",
    _DRIFT_SQL,
    doc="Data-quality drift monitor: exact per-day value quantiles "
    "(percentile_disc picks a real element — no interpolation drift "
    "between engines) compared day-over-day with a lag window, "
    "flagging |p50 - prev| > 5. The lag partitions by MONTH, not "
    "globally: the post-aggregation frame is one row per day, and a "
    "month-keyed exchange keeps the plan free of single-partition "
    "funnels at any timeline length (first-of-month rows compare "
    "within their month — the per-partition restart every "
    "partitioned monitor accepts).",
)
def events_value_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").alias("p90"),
    )
    w = Window.partitionBy("month").orderBy("day")
    prev = F.lag("p50").over(w)
    return ordered(
        daily.select(
            "day",
            "n_events",
            "p50",
            "p90",
            prev.alias("p50_prev"),
            F.coalesce(F.abs(F.col("p50") - prev) > 5.0, F.lit(False)).alias(
                "drift_flag"
            ),
        ),
        "day",
    )


_MARKOV_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (SELECT prev_type, SUM(n) AS row_total FROM trans GROUP BY prev_type)
SELECT t.prev_type, t.next_type,
       CAST(t.n AS BIGINT) AS n_transitions,
       CAST((1000 * t.n) // tot.row_total AS BIGINT) AS prob_permille
FROM trans t JOIN tot USING (prev_type)
ORDER BY t.prev_type, t.next_type
"""


@register(
    "events_markov_transitions",
    _MARKOV_SQL,
    doc="First-order behavior model: the event-type transition matrix "
    "from per-user consecutive event pairs (lag over the user-keyed "
    "deterministic (ts, event_id) order), with row-normalized "
    "probabilities in exact integer permille. One user-keyed window "
    "shuffle + a |types|^2-cell aggregate; the row-total join is "
    "|types| rows — broadcast at any scale.",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    tot = trans.groupBy("prev_type").agg(
        F.sum("n_transitions").alias("row_total")
    )
    return ordered(
        trans.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n_transitions",
            F.expr("(1000 * n_transitions) div row_total").alias(
                "prob_permille"
            ),
        ),
        "prev_type",
        "next_type",
    )


_SESSION_NATIVE_SQL = """
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM gaps
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS BIGINT) AS duration_ms
FROM islands
GROUP BY user_id, session_no
ORDER BY user_id, session_start
"""


@register(
    "events_session_window_native",
    _SESSION_NATIVE_SQL,
    doc="Native session_window aggregation (the built-in Spark "
    "session-gap operator, batch form): groupBy(user, "
    "session_window(ts, '30 minutes')) — Spark merges overlapping "
    "gap-extended intervals inside the aggregate, one user-keyed "
    "shuffle, no window-function pass at all. The oracle derives the "
    "identical sessions with the classic gaps-and-islands form "
    "(lag -> new-session flag -> running sum), proving the built-in "
    "operator's semantics against the manual formulation it "
    "replaces. Emitted per session: start, event count, exact "
    "epoch-ms duration.",
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    return ordered(
        events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts"))).alias(
                "duration_ms"
            ),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
        )
        .select("user_id", "session_start", "n_events", "duration_ms"),
        "user_id",
        "session_start",
    )


# --- robust anomaly detection (median / MAD) -------------------------
#
# The monitoring face a pipeline puts on its event volume: hourly value
# sums per event type, flagged when they sit more than 3 MADs from the
# type's median (median/MAD, not mean/stddev — robust to the very
# outliers being hunted). Hourly sums follow the exact-decimal policy,
# so both engines interpolate medians over IDENTICAL doubles; median
# interpolation fractions are only ever 0 or .5, which both engines
# evaluate to the same bits (halving is exact scaling). Two shuffles:
# (type, hour) rollup, then per-type percentile; anomaly flags are a
# map-side comparison after the tiny per-type stats broadcast back.

_MAD_SQL = """
WITH hourly AS (
  SELECT event_type,
         date_trunc('hour', ts) AS hb,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS hsum
  FROM events
  GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         quantile_cont(hsum, 0.5) AS med
  FROM hourly GROUP BY event_type
),
mad AS (
  SELECT h.event_type,
         quantile_cont(abs(h.hsum - s.med), 0.5) AS mad
  FROM hourly h JOIN stats s USING (event_type)
  GROUP BY h.event_type
)
SELECT h.event_type,
       COUNT(*) AS n_hours,
       ROUND(MAX(s.med), 6) AS median_hourly,
       ROUND(MAX(m.mad), 6) AS mad_hourly,
       CAST(SUM(CASE WHEN abs(h.hsum - s.med) > 3 * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM hourly h
JOIN stats s USING (event_type)
JOIN mad m USING (event_type)
GROUP BY h.event_type
ORDER BY h.event_type
"""


@register(
    "events_anomaly_mad",
    _MAD_SQL,
    doc="Robust volume-anomaly monitor: hourly exact-decimal value sums "
    "per event type, flagged beyond 3 MADs from the type's median "
    "(median/MAD, immune to the outliers being hunted). Hourly sums "
    "shuffle once on (type, hour); the per-type median/MAD tables are "
    "type-cardinality-bounded and broadcast back for the map-side "
    "flag comparison.",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hb")
    ).agg(dsum(dec("value"), "hsum"))
    stats = hourly.groupBy("event_type").agg(
        F.expr("percentile(hsum, 0.5D)").alias("med")
    )
    mad = (
        hourly.join(stats, "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(hsum - med), 0.5D)").alias("mad"))
    )
    joined = hourly.join(stats, "event_type").join(mad, "event_type")
    return ordered(
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.round(F.max("med"), 6).alias("median_hourly"),
            F.round(F.max("mad"), 6).alias("mad_hourly"),
            F.sum(
                F.when(
                    F.abs(F.col("hsum") - F.col("med")) > 3 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_anomalies"),
        ),
        "event_type",
    )


# --- incremental rollup maintenance ----------------------------------
#
# Incremental view maintenance, the warehouse capability behind every
# streaming foreachBatch sink: a materialized daily rollup is NOT
# recomputed when a new day arrives — the delta day aggregates alone
# and MERGES into the base by summing partials (count and decimal-sum
# are self-mergeable; that is exactly why the rollup stores them
# rather than averages). This query states the maintenance invariant
# the sink relies on: base-rollup ⊎ delta-rollup == full recompute,
# with the full recompute as the oracle. At 100 TB the base rollup is
# a stored table and only the delta day's partition is read — the
# merge shuffles rollup-sized (days x types) data, never event-sized.

_INCR_ROLLUP_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_bucket,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY day_bucket, event_type
"""


@register(
    "events_rollup_incremental",
    _INCR_ROLLUP_SQL,
    doc="Incremental view maintenance: the daily rollup is maintained "
    "by aggregating ONLY the newest day and merging partial "
    "aggregates (count + exact decimal sum, both self-mergeable) "
    "into the base rollup built from prior days — never touching "
    "base events again. The oracle is the full recompute, so the "
    "hash check IS the maintenance-invariant proof. The merge "
    "shuffles rollup-sized data only.",
)
def events_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    # scalar split point: newest day = the arriving delta partition
    cutoff = events.agg(F.max(day).alias("cut"))
    tagged = events.crossJoin(F.broadcast(cutoff))  # 1-row scalar
    # NULL-ts rows belong to the base branch (day < cut is NULL for
    # them, so a bare where() would drop them from BOTH branches while
    # the oracle's full recompute keeps a NULL day_bucket group)
    base = tagged.where((day < F.col("cut")) | day.isNull())
    delta = tagged.where(day >= F.col("cut"))

    def rollup(part: DataFrame) -> DataFrame:
        return part.groupBy(
            F.date_format(day, "yyyy-MM-dd").alias("day_bucket"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("value_dec"),  # mergeable partial
        )

    return ordered(
        rollup(base)
        .unionByName(rollup(delta))
        .groupBy("day_bucket", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_dec").cast("double").alias("total_value"),
        ),
        "day_bucket",
        "event_type",
    )


# --- mergeable-sketch sliding distinct -------------------------------
#
# The sketch-MERGE capability exact COUNT(DISTINCT) can never have: a
# 7-day rolling distinct-user count where each day is scanned ONCE
# into a Datasketches HLL sketch and every window is answered by
# UNIONING seven daily sketches — at 100 TB the daily sketches are a
# stored table of KB-sized blobs and the rolling series never rereads
# an event (re-scan cost -> zero; HLL bucket-max updates are
# order-independent, so the estimate is deterministic). The oracle
# pins the exact rolling distinct plus the HLL error contract as a
# hash-checked boolean (the approx_distinct_users pattern).

_HLL_LGK = 12  # ~1.6% rsd; bound below uses 3x + small-count floor

_SLIDING_HLL_SQL = """
WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS d FROM events),
pairs AS (
  SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
)
SELECT strftime(a.d, '%Y-%m-%d') AS day_bucket,
       COUNT(DISTINCT p.user_id) AS exact_users_7d,
       TRUE AS within_bound
FROM days a
JOIN pairs p ON p.d BETWEEN a.d - INTERVAL 6 DAY AND a.d
GROUP BY a.d
ORDER BY day_bucket
"""


@register(
    "events_sliding_distinct_hll",
    _SLIDING_HLL_SQL,
    doc="Rolling 7-day distinct users from MERGED daily HLL sketches "
    "(hll_sketch_agg per day once, hll_union_agg per window) — the "
    "mergeable-sketch rollup that answers every window without "
    "rereading events; daily sketches are KB-sized blobs. The exact "
    "rolling distinct is computed alongside and the HLL error "
    "contract (<= max(5%, 5) at lgK=12) is the hash-checked boolean.",
)
def events_sliding_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("d")
    daily_sk = events.groupBy(day).agg(
        F.expr(f"hll_sketch_agg(user_id, {_HLL_LGK})").alias("sk")
    )
    pairs = events.select(day, "user_id").distinct()
    # sliding window as EQUI-joins: each day fans out to the <= 7
    # target windows it contributes to (a range join would compile to
    # a nested-loop; the 7x fan-out of KB sketches / distinct pairs is
    # the standard shuffle-keyed sliding-window shape), then a semi
    # join keeps only observed target days
    fan = F.explode(
        F.sequence(
            F.col("d"),
            F.col("d") + F.expr("INTERVAL 6 DAY"),
            F.expr("INTERVAL 1 DAY"),
        )
    ).alias("tgt")
    spine = daily_sk.select("d")
    est = (
        daily_sk.select(fan, "sk")
        .join(spine, F.col("tgt") == F.col("d"), "left_semi")
        .groupBy("tgt")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
        )
    )
    exact = (
        pairs.select(fan, "user_id")
        .join(spine, F.col("tgt") == F.col("d"), "left_semi")
        .withColumnRenamed("tgt", "tgt2")
        .groupBy("tgt2")
        .agg(F.countDistinct("user_id").alias("exact_users_7d"))
    )
    bound = F.greatest(F.col("exact_users_7d") * 0.05, F.lit(5.0))
    return ordered(
        est.join(exact, est["tgt"] == exact["tgt2"])
        .select(
            F.date_format("tgt", "yyyy-MM-dd").alias("day_bucket"),
            "exact_users_7d",
            (
                F.abs(F.col("est") - F.col("exact_users_7d")) <= bound
            ).alias("within_bound"),
        ),
        "day_bucket",
    )


# --- Welch's t-test --------------------------------------------------
#
# The experimentation face: per event type, Welch's unequal-variance
# t-test of the type's event values against all OTHER events. Group
# and complement moments (n, sum, sum of squares) are EXACT decimals —
# the complement is the global moment minus the group moment, also
# exact — so both engines enter the closed-form t/df arithmetic with
# identical doubles and every subsequent IEEE op is deterministic.
# One scan, one tiny per-type aggregate; the test itself is map-side
# arithmetic on a type-cardinality-bounded table.

_TTEST_SQL = """
WITH g AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(12,2))) AS s,
         SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)))
           AS ss
  FROM events GROUP BY event_type
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn, SUM(s) AS ts, SUM(ss) AS tss FROM g
),
m AS (
  SELECT g.event_type,
         CAST(g.n AS BIGINT) AS n,
         CAST(g.s AS DOUBLE) / g.n AS m1,
         (CAST(g.ss AS DOUBLE) - CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE) / g.n)
           / (g.n - 1) AS v1,
         (t.tn - g.n) AS n0,
         (CAST(t.ts AS DOUBLE) - CAST(g.s AS DOUBLE)) / (t.tn - g.n) AS m0,
         ((CAST(t.tss AS DOUBLE) - CAST(g.ss AS DOUBLE))
          - (CAST(t.ts AS DOUBLE) - CAST(g.s AS DOUBLE))
            * (CAST(t.ts AS DOUBLE) - CAST(g.s AS DOUBLE)) / (t.tn - g.n))
           / (t.tn - g.n - 1) AS v0
  FROM g CROSS JOIN tot t
)
SELECT event_type, n,
       ROUND(m1, 6) AS mean_value,
       ROUND((m1 - m0) / sqrt(v1 / n + v0 / n0), 6) + 0.0 AS t_stat,
       ROUND((v1 / n + v0 / n0) * (v1 / n + v0 / n0)
             / ((v1 / n) * (v1 / n) / (n - 1)
                + (v0 / n0) * (v0 / n0) / (n0 - 1)), 2) AS welch_df,
       (abs((m1 - m0) / sqrt(v1 / n + v0 / n0)) > 1.96) AS significant
FROM m
ORDER BY event_type
"""


@register(
    "events_welch_ttest",
    _TTEST_SQL,
    doc="Welch's unequal-variance t-test per event type against the "
    "complement (the A/B experimentation primitive): group moments "
    "are exact decimal sums, the complement is global-minus-group "
    "(also exact), and the closed-form t statistic and "
    "Welch-Satterthwaite df are deterministic IEEE arithmetic from "
    "identical inputs in both engines. One scan, one "
    "type-cardinality-bounded aggregate.",
)
def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    vdec = dec("value")
    g = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).alias("s"),
        F.sum(vdec * vdec).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("tn"), F.sum("s").alias("ts"), F.sum("ss").alias("tss")
    )
    j = g.crossJoin(F.broadcast(tot))  # 1-row scalar: bounded, safe hint
    n = F.col("n")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    tsd = F.col("ts").cast("double")
    tssd = F.col("tss").cast("double")
    n0 = F.col("tn") - n
    m1 = sd / n
    v1 = (ssd - sd * sd / n) / (n - F.lit(1))
    m0 = (tsd - sd) / n0
    v0 = ((tssd - ssd) - (tsd - sd) * (tsd - sd) / n0) / (n0 - F.lit(1))
    se2 = v1 / n + v0 / n0
    t = (m1 - m0) / F.sqrt(se2)
    df_w = (se2 * se2) / (
        (v1 / n) * (v1 / n) / (n - F.lit(1))
        + (v0 / n0) * (v0 / n0) / (n0 - F.lit(1))
    )
    return ordered(
        j.select(
            "event_type",
            n.alias("n"),
            F.round(m1, 6).alias("mean_value"),
            (F.round(t, 6) + 0.0).alias("t_stat"),
            F.round(df_w, 2).alias("welch_df"),
            (F.abs(t) > 1.96).alias("significant"),
        ),
        "event_type",
    )


# --- CUSUM change-point detection ------------------------------------
#
# Drift localization, the step after events_anomaly_mad's outlier
# counting: the CUSUM statistic (running sum of deviations from the
# series mean) peaks AT a level shift, so its arg-max localizes the
# change point. Hourly sums follow the exact-decimal policy and the
# running sum is order-defined (window ROWS UNBOUNDED PRECEDING inside
# a per-type partition), so both engines accumulate identical doubles
# in identical order — bitwise-equal CUSUM paths. Two shuffles: the
# (type, hour) rollup and the per-type window; per-type stats broadcast.

_CUSUM_SQL = """
WITH hourly AS (
  SELECT event_type,
         date_trunc('hour', ts) AS hb,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS hsum
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, SUM(hsum) / COUNT(*) AS mu, COUNT(*) AS n_hours
  FROM hourly GROUP BY event_type
),
path AS (
  SELECT h.event_type, h.hb, m.n_hours,
         SUM(h.hsum - m.mu) OVER (
           PARTITION BY h.event_type ORDER BY h.hb
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
  FROM hourly h JOIN m USING (event_type)
)
SELECT event_type,
       CAST(n_hours AS BIGINT) AS n_hours,
       strftime(hb, '%Y-%m-%d %H:00:00') AS changepoint_hour,
       ROUND(abs(cusum), 6) AS max_abs_cusum
FROM (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY abs(cusum) DESC, hb) AS rnk
  FROM path
)
WHERE rnk = 1
ORDER BY event_type
"""


@register(
    "events_cusum_changepoint",
    _CUSUM_SQL,
    doc="CUSUM change-point localization per event type: the running "
    "sum of deviations from the series mean peaks at a level shift, "
    "so its arg-max hour is the change point. The running sum is "
    "order-defined inside a per-type window over exact-decimal hourly "
    "sums — bitwise-equal paths in both engines. Two shuffles total.",
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hb")
    ).agg(dsum(dec("value"), "hsum"))
    m = hourly.groupBy("event_type").agg(
        (F.sum("hsum") / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    run = (
        Window.partitionBy("event_type")
        .orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    path = hourly.join(m, "event_type").select(
        "event_type",
        "hb",
        "n_hours",
        F.sum(F.col("hsum") - F.col("mu")).over(run).alias("cusum"),
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("cusum"))), F.asc("hb")
    )
    return ordered(
        path.withColumn("rnk", F.row_number().over(pick))
        .where(F.col("rnk") == 1)
        .select(
            "event_type",
            F.col("n_hours").cast("bigint").alias("n_hours"),
            F.date_format("hb", "yyyy-MM-dd HH:00:00").alias(
                "changepoint_hour"
            ),
            F.round(F.abs(F.col("cusum")), 6).alias("max_abs_cusum"),
        ),
        "event_type",
    )


# --- conversion latency ----------------------------------------------
#
# Funnel TIMING, the question events_funnel_analysis's counts don't
# answer: how long from a user's first view to their first subsequent
# purchase? First-touch extraction is one user-keyed aggregate (min ts
# per side with the purchase filtered to >= first view via a
# conditional min), latencies are exact integer milliseconds, and the
# percentile interpolation runs over those exact integers. One row
# out; the percentile state is per-group bounded.

_CONVERSION_SQL = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view
  FROM events GROUP BY user_id
),
conv AS (
  SELECT f.user_id,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= f.first_view
                  THEN epoch_ms(e.ts) - epoch_ms(f.first_view) END)
           AS latency_ms
  FROM firsts f
  JOIN events e USING (user_id)
  WHERE f.first_view IS NOT NULL
  GROUP BY f.user_id
)
SELECT COUNT(*) AS n_viewers,
       CAST(SUM(CASE WHEN latency_ms IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_converted,
       CAST((1000 * SUM(CASE WHEN latency_ms IS NOT NULL THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS conversion_permille,
       ROUND(quantile_cont(latency_ms, 0.5) / 60000, 6) AS p50_minutes,
       ROUND(quantile_cont(latency_ms, 0.9) / 60000, 6) AS p90_minutes
FROM conv
"""


@register(
    "events_conversion_latency",
    _CONVERSION_SQL,
    doc="Funnel timing: first-view -> first-subsequent-purchase latency "
    "per user (conditional-min first-touch extraction, one user-keyed "
    "shuffle), summarized as conversion permille and p50/p90 minutes "
    "over exact integer-millisecond latencies.",
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("first_view")
    )
    conv = (
        firsts.where(F.col("first_view").isNotNull())
        .join(events, "user_id")
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("first_view")),
                    F.unix_millis("ts") - F.unix_millis("first_view"),
                )
            ).alias("latency_ms")
        )
    )
    converted = F.sum(
        F.when(F.col("latency_ms").isNotNull(), 1).otherwise(0)
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_viewers"),
        converted.alias("n_converted"),
        F.expr(
            "1000 * sum(CASE WHEN latency_ms IS NOT NULL THEN 1 ELSE 0 END)"
            " div count(1)"
        ).alias("conversion_permille"),
        F.round(F.expr("percentile(latency_ms, 0.5D)") / 60000, 6).alias(
            "p50_minutes"
        ),
        F.round(F.expr("percentile(latency_ms, 0.9D)") / 60000, 6).alias(
            "p90_minutes"
        ),
    )


# --- leakage-safe temporal split -------------------------------------
#
# The time-series companion of split_train_val_test (content split) and
# split_leakage_audit (near-dup leakage): train/test must separate in
# TIME, with an embargo gap absorbing boundary-straddling correlation
# (the standard walk-forward evaluation hygiene for event models).
# The boundary is percentile_disc(0.75) of event time in exact integer
# milliseconds — a real element, no interpolation float — and the
# returned scorecard includes the user-overlap count between train and
# test, the metric that tells you whether a user-level split is needed
# instead. Two event scans (boundary percentile, labeled pass) + one
# user-keyed shuffle; the event counts derive from the per-user rollup
# so the labeled lineage runs exactly once.

_EMBARGO_MS = 3_600_000  # 1 hour


_TEMPORAL_SPLIT_SQL = f"""
WITH e AS (SELECT epoch_ms(ts) AS ms, user_id FROM events),
b AS (SELECT CAST(quantile_disc(ms, 0.75) AS BIGINT) AS t FROM e),
pu AS (
  SELECT user_id, MAX(t) AS t,
         SUM(CASE WHEN ms <= t THEN 1 ELSE 0 END) AS u_train,
         SUM(CASE WHEN ms > t AND ms <= t + {_EMBARGO_MS}
             THEN 1 ELSE 0 END) AS u_embargo,
         SUM(CASE WHEN ms > t + {_EMBARGO_MS} THEN 1 ELSE 0 END) AS u_test
  FROM e CROSS JOIN b
  GROUP BY user_id
)
SELECT CAST(MAX(t) AS BIGINT) AS boundary_ms,
       CAST(SUM(u_train) AS BIGINT) AS n_train,
       CAST(SUM(u_embargo) AS BIGINT) AS n_embargo,
       CAST(SUM(u_test) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN u_train > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS train_users,
       CAST(SUM(CASE WHEN u_test > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS test_users,
       CAST(SUM(CASE WHEN u_train > 0 AND u_test > 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS overlap_users
FROM pu
"""


@register(
    "split_temporal_embargo",
    _TEMPORAL_SPLIT_SQL,
    doc="Leakage-safe temporal train/test split with a 1h embargo gap: "
    "boundary = percentile_disc(0.75) of event time in exact integer "
    "milliseconds, scorecard = per-split event counts, per-split "
    "distinct users, and the train/test user overlap (the number that "
    "says whether a user-level split is required instead). Two event "
    "scans (the boundary percentile, then the labeled pass), one "
    "user-keyed shuffle; event counts derive from the per-user rollup "
    "so the labeled lineage runs exactly once.",
)
def split_temporal_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    e = events.select(
        F.unix_millis(F.col("ts")).alias("ms"), "user_id"
    )
    b = e.agg(
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY ms)")
        .cast("long")
        .alias("t")
    )
    in_train = (F.col("ms") <= F.col("t")).cast("long")
    in_embargo = (
        (F.col("ms") > F.col("t"))
        & (F.col("ms") <= F.col("t") + _EMBARGO_MS)
    ).cast("long")
    in_test = (F.col("ms") > F.col("t") + _EMBARGO_MS).cast("long")
    pu = (
        e.crossJoin(F.broadcast(b))  # 1-row scalar: bounded, safe hint
        .groupBy("user_id")
        .agg(
            F.max("t").alias("t"),
            F.sum(in_train).alias("u_train"),
            F.sum(in_embargo).alias("u_embargo"),
            F.sum(in_test).alias("u_test"),
        )
    )
    return pu.agg(
        F.max("t").alias("boundary_ms"),
        F.sum("u_train").alias("n_train"),
        F.sum("u_embargo").alias("n_embargo"),
        F.sum("u_test").alias("n_test"),
        F.sum((F.col("u_train") > 0).cast("long")).alias("train_users"),
        F.sum((F.col("u_test") > 0).cast("long")).alias("test_users"),
        F.sum(
            ((F.col("u_train") > 0) & (F.col("u_test") > 0)).cast("long")
        ).alias("overlap_users"),
    )


# --- time-constrained funnel -----------------------------------------
#
# The bounded-window variant of events_funnel_analysis: each stage
# only converts if it happens within 1 hour of the PREVIOUS stage's
# qualifying moment (the product-analytics default — an unbounded
# funnel credits a purchase weeks after the view). Stage times chain
# sequentially (t_click depends on t_view), expressed as three MIN
# windows over the SAME user partition — Spark plans them as stacked
# WindowExecs behind ONE user-keyed exchange, and the final rollup is
# a per-user agg plus a scalar combine. Exact integer milliseconds
# and integer permille conversions throughout.

_FUNNEL_WINDOW_MS = 3_600_000  # 1 hour per stage


_FUNNEL_TB_SQL = f"""
WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
s1 AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ms END)
              OVER (PARTITION BY user_id) AS t_view
  FROM e
),
s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ms > t_view
                      AND ms <= t_view + {_FUNNEL_WINDOW_MS}
                     THEN ms END)
              OVER (PARTITION BY user_id) AS t_click
  FROM s1
),
s3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ms > t_click
                      AND ms <= t_click + {_FUNNEL_WINDOW_MS}
                     THEN ms END)
              OVER (PARTITION BY user_id) AS t_purchase
  FROM s2
),
pu AS (
  SELECT user_id, MAX(t_view) AS t_view, MAX(t_click) AS t_click,
         MAX(t_purchase) AS t_purchase
  FROM s3 GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       CAST(COUNT(t_view) AS BIGINT) AS n_viewed,
       CAST(COUNT(t_click) AS BIGINT) AS n_clicked_1h,
       CAST(COUNT(t_purchase) AS BIGINT) AS n_purchased_1h,
       CAST(1000 * COUNT(t_click) // COUNT(t_view) AS BIGINT)
         AS click_conv_permille,
       CAST(1000 * COUNT(t_purchase) // COUNT(t_view) AS BIGINT)
         AS purchase_conv_permille
FROM pu
"""


@register(
    "events_funnel_time_bound",
    _FUNNEL_TB_SQL,
    doc="Time-constrained view->click->purchase funnel: each stage "
    "converts only within 1 hour of the previous stage's qualifying "
    "moment. The sequentially-dependent stage times are three MIN "
    "windows over the same user partition (stacked WindowExecs behind "
    "ONE user-keyed exchange), then a per-user rollup and scalar "
    "combine. Exact integer milliseconds; integer permille "
    "conversions. The bounded-window companion of "
    "events_funnel_analysis.",
)
def events_funnel_time_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    e = events.select(
        "user_id", "event_type", F.unix_millis(F.col("ts")).alias("ms")
    )
    s1 = e.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ms"))).over(w),
    )
    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ms") > F.col("t_view"))
                & (F.col("ms") <= F.col("t_view") + _FUNNEL_WINDOW_MS),
                F.col("ms"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ms") > F.col("t_click"))
                & (F.col("ms") <= F.col("t_click") + _FUNNEL_WINDOW_MS),
                F.col("ms"),
            )
        ).over(w),
    )
    pu = s3.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    # no-view slice: conversion undefined -> NULL in both engines
    # (DuckDB's // by zero is NULL; Spark's div under ANSI throws)
    return pu.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_1h"),
        F.count("t_purchase").alias("n_purchased_1h"),
        F.expr(
            "CASE WHEN count(t_view) = 0 THEN NULL"
            " ELSE 1000 * count(t_click) div count(t_view) END"
        ).alias("click_conv_permille"),
        F.expr(
            "CASE WHEN count(t_view) = 0 THEN NULL"
            " ELSE 1000 * count(t_purchase) div count(t_view) END"
        ).alias("purchase_conv_permille"),
    )


# --- interval union (coalesce overlapping activity windows) -----------

_TTL_MS = 300_000  # each event keeps its user "active" for 5 minutes

_INTERVAL_COALESCE_SQL = f"""
WITH iv AS (
  SELECT user_id, ts, event_id,
         epoch_ms(ts) AS start_ms,
         epoch_ms(ts) + {_TTL_MS} AS end_ms
  FROM events
),
flagged AS (
  SELECT user_id, start_ms, end_ms,
         CASE WHEN max(end_ms) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR start_ms > max(end_ms) OVER (PARTITION BY user_id
                ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island,
         ts, event_id
  FROM iv
),
islands AS (
  SELECT user_id, start_ms, end_ms,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM flagged
),
per_island AS (
  SELECT user_id, island_id,
         MAX(end_ms) - MIN(start_ms) AS span_ms,
         COUNT(*) AS n_events
  FROM islands
  GROUP BY user_id, island_id
)
SELECT user_id,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       COUNT(*) AS n_islands,
       CAST(SUM(span_ms) AS BIGINT) AS covered_ms
FROM per_island
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "events_interval_coalesce",
    _INTERVAL_COALESCE_SQL,
    doc="Interval union: each event opens a 5-minute activity interval "
    "[ts, ts+300s); overlapping/contiguous intervals coalesce into "
    "islands via a running MAX(end) over the per-user time order — "
    "the gaps-and-islands interval-merge, no self-join, no "
    "range-condition join. Per-user coverage (total active ms) is the "
    "billing/engagement primitive interval overlap joins approximate. "
    "ONE user-keyed exchange serves the running-max window, the "
    "island-id running sum (same sort order), and both aggregates; "
    "pure integer epoch-ms arithmetic keeps the twins bitwise-equal. "
    "At 100 TB parallelism is user-cardinality; no per-user state "
    "exceeds its own event count.",
)
def events_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    return interval_coalesce(events, _TTL_MS)


def interval_coalesce(events: DataFrame, ttl_ms: int) -> DataFrame:
    """The interval-union core, split from the registered face so
    pytest can drive it with arbitrary synthetic timelines (hypothesis
    exercises the exact-touch boundary: contiguous [a,b) [b,c) merge,
    a 1 ms gap does not)."""
    start_ms = F.unix_millis("ts")
    iv = events.select(
        "user_id",
        "ts",
        "event_id",
        start_ms.alias("start_ms"),
        (start_ms + ttl_ms).alias("end_ms"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_max_end = F.max("end_ms").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "ts",
        "event_id",
        "start_ms",
        "end_ms",
        F.when(
            prev_max_end.isNull() | (F.col("start_ms") > prev_max_end), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "user_id",
        "start_ms",
        "end_ms",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island_id"),
    )
    per_island = islands.groupBy("user_id", "island_id").agg(
        (F.max("end_ms") - F.min("start_ms")).alias("span_ms"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        per_island.groupBy("user_id")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).alias("n_islands"),
            F.sum("span_ms").cast("bigint").alias("covered_ms"),
        )
        .orderBy("user_id")
    )


# --- sequence pattern matching (MATCH_RECOGNIZE / CEP analog) ---------

_SEQ_PATTERN_SQL = """
WITH seqs AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events
  GROUP BY user_id
)
SELECT user_id,
       CAST(len(seq) AS INT) AS n_events,
       CAST(len(regexp_extract_all(seq, 'vc*p')) AS INT) AS n_funnels,
       CAST(coalesce(list_max(list_transform(
              regexp_extract_all(seq, 'e+'), x -> len(x))), 0) AS INT)
         AS longest_error_run
FROM seqs
ORDER BY user_id
"""


@register(
    "events_sequence_pattern",
    _SEQ_PATTERN_SQL,
    doc="Sequence-pattern detection (the MATCH_RECOGNIZE / CEP analog "
    "Spark SQL lacks): per user, the time-ordered event-type stream "
    "collapses to a symbol string (initials are distinct across the "
    "five types) and PATTERN (view click* purchase) is counted as "
    "non-overlapping regex matches — AFTER MATCH SKIP PAST LAST ROW "
    "semantics; longest consecutive-error run via e+ match lengths. "
    "One user-keyed exchange; per-user state is its own event count "
    "(the same bound every per-user window op carries), regex runs "
    "codegen-side on the collapsed string, not per-row Python. At "
    "100 TB the string collapse is the standard sessionized-sequence "
    "trick: pattern work scales with users x mean-sequence, never "
    "pairwise.",
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("sym"))
                )
            ),
            lambda x: x["sym"],
        ),
        "",
    )
    seqs = events.groupBy("user_id").agg(seq.alias("seq"))
    runs = F.regexp_extract_all("seq", F.lit("e+"), 0)
    return ordered(
        seqs.select(
            "user_id",
            F.length("seq").cast("int").alias("n_events"),
            F.size(F.regexp_extract_all("seq", F.lit("vc*p"), 0))
            .cast("int")
            .alias("n_funnels"),
            F.coalesce(
                F.array_max(F.transform(runs, lambda x: F.length(x))), F.lit(0)
            )
            .cast("int")
            .alias("longest_error_run"),
        ),
        "user_id",
    )


# --- last-touch attribution ------------------------------------------

_ATTR_WINDOW_MS = 24 * 3600 * 1000  # lookback: touch within 24h converts

_ATTR_SQL = f"""
WITH s AS (
  SELECT event_id, user_id, ts, event_type, value FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
seq AS (
  SELECT *, MAX(CASE WHEN event_type IN ('view', 'click') THEN ts END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         AS prev_touch_ts
  FROM s
),
tk AS (
  SELECT user_id, ts, arg_max(event_type, event_id) AS touch_type
  FROM s WHERE event_type IN ('view', 'click') GROUP BY user_id, ts
),
p AS (
  SELECT q.user_id, q.ts, q.value, q.prev_touch_ts, t.touch_type
  FROM seq q
  LEFT JOIN tk t ON t.user_id = q.user_id AND t.ts = q.prev_touch_ts
  WHERE q.event_type = 'purchase'
)
SELECT CASE WHEN prev_touch_ts IS NOT NULL
             AND epoch_ms(ts) - epoch_ms(prev_touch_ts) <= {_ATTR_WINDOW_MS}
             AND touch_type IS NOT NULL
        THEN touch_type ELSE 'none' END AS touch_type,
       COUNT(*) AS conversions,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS attributed_value
FROM p
GROUP BY 1
ORDER BY 1
"""


@register(
    "events_attribution_last_touch",
    _ATTR_SQL,
    doc="Marketing-style last-touch attribution: each purchase credits "
    "the user's most recent earlier view/click if it happened within "
    "24 h, else falls into the 'none' bucket. Built from the asof "
    "conditional-running-MAX pattern (one shuffle on user_id, no range "
    "join) plus one join back to the touch rows to recover the touch "
    "TYPE — ties of several touches at the identical microsecond are "
    "broken deterministically by max event_id (max_by/arg_max in both "
    "engines). Attributed revenue follows the exact-decimal sum "
    "policy. At 100 TB this stays two key-partitioned exchanges "
    "(user_id window, then the touch-key join); no per-pair work.",
)
def events_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    s = events.where(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("event_id", "user_id", "ts", "event_type", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_ts = F.max(
        F.when(F.col("event_type").isin("view", "click"), F.col("ts"))
    ).over(w)
    purch = (
        s.withColumn("prev_touch_ts", prev_ts)
        .where(F.col("event_type") == "purchase")
        .select("user_id", "ts", "value", "prev_touch_ts")
    )
    tk = (
        s.where(F.col("event_type").isin("view", "click"))
        .groupBy("user_id", F.col("ts").alias("tts"))
        .agg(F.expr("max_by(event_type, event_id)").alias("touch_type"))
    )
    j = purch.join(
        tk,
        (purch["user_id"] == tk["user_id"])
        & (purch["prev_touch_ts"] == tk["tts"]),
        "left",
    ).select(purch["user_id"], "ts", "value", "prev_touch_ts", "touch_type")
    in_win = F.col("prev_touch_ts").isNotNull() & (
        F.unix_millis(F.col("ts")) - F.unix_millis(F.col("prev_touch_ts"))
        <= _ATTR_WINDOW_MS
    )
    label = F.when(
        in_win & F.col("touch_type").isNotNull(), F.col("touch_type")
    ).otherwise(F.lit("none"))
    return ordered(
        j.groupBy(label.alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            dsum(dec("value"), "attributed_value"),
        ),
        "touch_type",
    )


# --- linear (multi-touch) attribution ----------------------------------

_LATTR_SQL = f"""
WITH s AS (
  SELECT event_id, user_id, ts, event_type FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
tn AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN ts END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
         AS next_pts
  FROM s
),
touches AS (
  SELECT user_id, next_pts, event_type AS touch_type
  FROM tn
  WHERE event_type IN ('view', 'click') AND next_pts IS NOT NULL
    AND epoch_ms(next_pts) - epoch_ms(ts) <= {_ATTR_WINDOW_MS}
),
purch AS (
  SELECT user_id, ts AS pts, COUNT(*) AS n_purch
  FROM s WHERE event_type = 'purchase' GROUP BY user_id, ts
),
grp AS (
  SELECT user_id, next_pts, COUNT(*) AS n_touch
  FROM touches GROUP BY user_id, next_pts
),
credited AS (
  SELECT t.touch_type,
         COUNT(*) AS touches,
         CAST(SUM(p.n_purch) AS BIGINT) AS conversions,
         CAST(SUM(CAST(floor(p.n_purch * 1000000.0 / g.n_touch)
                       AS BIGINT)) AS BIGINT) AS credit_micro
  FROM touches t
  JOIN grp g ON g.user_id = t.user_id AND g.next_pts = t.next_pts
  JOIN purch p ON p.user_id = t.user_id AND p.pts = t.next_pts
  GROUP BY t.touch_type
),
unattributed AS (
  SELECT 'none' AS touch_type,
         0 AS touches,
         CAST(SUM(p.n_purch) AS BIGINT) AS conversions,
         CAST(SUM(p.n_purch) * 1000000 AS BIGINT) AS credit_micro
  FROM purch p
  LEFT JOIN grp g ON g.user_id = p.user_id AND g.next_pts = p.pts
  WHERE g.user_id IS NULL
)
SELECT * FROM credited
UNION ALL SELECT * FROM unattributed
ORDER BY touch_type
"""


@register(
    "events_attribution_linear",
    _LATTR_SQL,
    doc="Linear multi-touch attribution, the fan-out sibling of "
    "events_attribution_last_touch: every view/click within 24 h "
    "before the user's NEXT purchase shares that conversion's credit "
    "equally. Credit is integer micro-units with floor — per-group "
    "floor(n_purch*1e6/n_touch) — because summing fractional doubles "
    "is shuffle-order-dependent and would break hash determinism; "
    "conservation (total credit ~ 1e6 per purchase) is pinned in "
    "pytest. Touch->conversion assignment is the conditional running "
    "MIN over the following frame (journey resets at each purchase); "
    "one user_id window plus two key-partitioned joins, no range "
    "explosion at 100 TB.",
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    s = events.where(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("event_id", "user_id", "ts", "event_type")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_pts = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    touches = (
        s.withColumn("next_pts", next_pts)
        .where(
            F.col("event_type").isin("view", "click")
            & F.col("next_pts").isNotNull()
            & (
                F.unix_millis(F.col("next_pts")) - F.unix_millis(F.col("ts"))
                <= _ATTR_WINDOW_MS
            )
        )
        .select("user_id", "next_pts", F.col("event_type").alias("touch_type"))
    )
    purch = (
        s.where(F.col("event_type") == "purchase")
        .groupBy(
            F.col("user_id").alias("pu"), F.col("ts").alias("pts")
        )
        .agg(F.count(F.lit(1)).alias("n_purch"))
    )
    grp = touches.groupBy("user_id", "next_pts").agg(
        F.count(F.lit(1)).alias("n_touch")
    )
    credited = (
        touches.join(grp, ["user_id", "next_pts"])
        .join(
            purch,
            (F.col("user_id") == F.col("pu"))
            & (F.col("next_pts") == F.col("pts")),
        )
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("touches"),
            F.sum("n_purch").alias("conversions"),
            F.sum(
                F.floor(
                    F.col("n_purch") * 1000000.0 / F.col("n_touch")
                ).cast("long")
            ).alias("credit_micro"),
        )
    )
    unattributed = (
        purch.join(
            grp,
            (F.col("pu") == grp["user_id"])
            & (F.col("pts") == grp["next_pts"]),
            "left_anti",
        )
        .agg(F.sum("n_purch").alias("conversions"))
        .select(
            F.lit("none").alias("touch_type"),
            F.lit(0).cast("long").alias("touches"),
            "conversions",
            (F.col("conversions") * 1000000).alias("credit_micro"),
        )
    )
    return ordered(credited.unionByName(unattributed), "touch_type")


# --- gap fill with linear interpolation --------------------------------
#
# The interpolating sibling of events_gapfill_hourly (which carries the
# last observation forward): missing hours get the straight line between
# the nearest observed neighbors — the fill policy for continuous-valued
# sensor/metric series where LOCF introduces step artifacts. Two
# IGNORE-NULLS window passes per series (prev neighbor over an
# unbounded-preceding frame, next neighbor over an unbounded-following
# frame) — both partition on the series key, so series parallelize
# independently and no window ever sees more than one series. Interp
# arithmetic runs on epoch-millis BIGINTs and a decimal-summed hourly
# mean, so both engines divide identical operands; ROUND(6) seals it.

_INTERP_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_v
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi FROM hourly GROUP BY 1),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
  FROM bounds
),
nbr AS (
  SELECT s.event_type, s.hr, h.avg_v,
         last_value(h.avg_v IGNORE NULLS) OVER w_prev AS prev_v,
         last_value(CASE WHEN h.avg_v IS NOT NULL THEN epoch_ms(s.hr) END
                    IGNORE NULLS) OVER w_prev AS prev_ms,
         first_value(h.avg_v IGNORE NULLS) OVER w_next AS next_v,
         first_value(CASE WHEN h.avg_v IS NOT NULL THEN epoch_ms(s.hr) END
                     IGNORE NULLS) OVER w_next AS next_ms
  FROM spine s
  LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hr = h.hr
  WINDOW
    w_prev AS (PARTITION BY s.event_type ORDER BY s.hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY s.event_type ORDER BY s.hr
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type,
       strftime(hr, '%Y-%m-%d %H:00:00') AS hour_bucket,
       (avg_v IS NOT NULL) AS is_observed,
       ROUND(CASE
         WHEN avg_v IS NOT NULL THEN avg_v
         WHEN prev_v IS NULL THEN next_v
         WHEN next_v IS NULL THEN prev_v
         ELSE prev_v + (next_v - prev_v)
              * CAST(epoch_ms(hr) - prev_ms AS DOUBLE) / (next_ms - prev_ms)
       END, 6) AS v_interp
FROM nbr
ORDER BY event_type, hour_bucket
"""


@register(
    "events_gapfill_interpolate",
    _INTERP_SQL,
    doc="Dense hourly spine per series with LINEAR interpolation across "
    "gaps (nearest-neighbor fallback at series edges) — the fill "
    "policy events_gapfill_hourly's LOCF can't express. Per-series "
    "windows only; the spine is generated, never materialized.",
)
def events_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    hourly = (
        events.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(
            (
                dsum(F.col("value").cast("decimal(18,6)"), "s")
                / F.count(F.lit(1))
            ).alias("avg_v")
        )
    )
    spine = _hour_spine(hourly)
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_ms = F.when(
        F.col("avg_v").isNotNull(), F.unix_millis(F.col("hr").cast("timestamp"))
    )
    nbr = (
        spine.join(hourly, ["event_type", "hr"], "left")
        .withColumn("prev_v", F.last("avg_v", ignorenulls=True).over(w_prev))
        .withColumn("prev_ms", F.last(obs_ms, ignorenulls=True).over(w_prev))
        .withColumn("next_v", F.first("avg_v", ignorenulls=True).over(w_next))
        .withColumn("next_ms", F.first(obs_ms, ignorenulls=True).over(w_next))
    )
    here_ms = F.unix_millis(F.col("hr").cast("timestamp"))
    interp = (
        F.when(F.col("avg_v").isNotNull(), F.col("avg_v"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (here_ms - F.col("prev_ms")).cast("double")
            / (F.col("next_ms") - F.col("prev_ms"))
        )
    )
    return ordered(
        nbr.select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:00:00").alias("hour_bucket"),
            F.col("avg_v").isNotNull().alias("is_observed"),
            F.round(interp, 6).alias("v_interp"),
        ),
        "event_type",
        "hour_bucket",
    )


# --- Mann-Whitney U (rank-sum) test ------------------------------------
#
# The nonparametric sibling of events_welch_ttest: does 'purchase'
# value stochastically dominate 'view' value, without assuming
# normality. The hard part at scale is GLOBAL ranking; this uses the
# two-stage distributed ranking pattern (the TeraSort shape): values
# bucket by floor(value) (order-preserving), stage 1 computes per-bucket
# totals and prefix offsets (a window over #buckets rows — bounded by
# the value range, never by row count), stage 2 ranks WITHIN buckets
# (windows partitioned on bkt). Average ranks are carried as exact
# integers (2*avg_rank = 2*rank_min + ties - 1), so every rank sum is
# integer arithmetic and the only float ops are the final closed-form
# z — identical IEEE expressions in both engines, rounded to 6.

_MWU_A, _MWU_B = "purchase", "view"

_MWU_SQL = f"""
WITH d AS (
  SELECT event_type, value FROM events
  WHERE event_type IN ('{_MWU_A}', '{_MWU_B}')
),
vc AS (
  SELECT CAST(floor(value) AS BIGINT) AS bkt, value,
         COUNT(*) FILTER (WHERE event_type = '{_MWU_A}') AS n1v,
         COUNT(*) FILTER (WHERE event_type = '{_MWU_B}') AS n2v
  FROM d GROUP BY 1, 2
),
bt AS (SELECT bkt, CAST(SUM(n1v + n2v) AS BIGINT) AS nb FROM vc GROUP BY bkt),
off AS (
  SELECT bkt,
         COALESCE(CAST(SUM(nb) OVER (ORDER BY bkt
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS bkt_off
  FROM bt
),
rk AS (
  SELECT v.n1v, v.n2v, (v.n1v + v.n2v) AS t,
         o.bkt_off + COALESCE(CAST(SUM(v.n1v + v.n2v) OVER (
             PARTITION BY v.bkt ORDER BY v.value
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS rank0
  FROM vc v JOIN off o USING (bkt)
),
agg AS (
  SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
         CAST(SUM(n2v) AS BIGINT) AS n2,
         CAST(SUM(n1v * (2 * rank0 + t + 1)) AS BIGINT) AS r1_twice,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_sum
  FROM rk
),
stat AS (
  SELECT n1, n2,
         r1_twice / 2.0 - n1 * (n1 + 1) / 2.0 AS u1,
         n1 * CAST(n2 AS DOUBLE) / 2.0 AS mu,
         (n1 * CAST(n2 AS DOUBLE) / 12.0)
           * ((n1 + n2 + 1)
              - CAST(tie_sum AS DOUBLE)
                / ((n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE))) AS var
  FROM agg
)
SELECT n1, n2, u1 AS u_stat,
       ROUND((u1 - mu) / sqrt(var), 6) + 0.0 AS z_stat,
       (abs((u1 - mu) / sqrt(var)) > 1.96) AS significant
FROM stat
"""


@register(
    "events_mannwhitney_u",
    _MWU_SQL,
    doc=f"Mann-Whitney U test ({_MWU_A} vs {_MWU_B} value), "
    "tie-corrected normal approximation — exact average ranks via "
    "two-stage distributed ranking: order-preserving floor(value) "
    "buckets, prefix offsets over the (range-bounded) bucket table, "
    "per-bucket windows for within-bucket ranks. Rank sums stay in "
    "integer space (2*avg_rank is an integer) so the twins agree "
    "bit-for-bit before the one closed-form float step.",
)
def events_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    d = events.where(F.col("event_type").isin(_MWU_A, _MWU_B))
    vc = d.groupBy(
        F.floor("value").cast("long").alias("bkt"), "value"
    ).agg(
        F.count_if(F.col("event_type") == _MWU_A).alias("n1v"),
        F.count_if(F.col("event_type") == _MWU_B).alias("n2v"),
    )
    bt = vc.groupBy("bkt").agg(
        F.sum(F.col("n1v") + F.col("n2v")).cast("long").alias("nb")
    )
    # prefix offsets over the bucket table WITHOUT a single-partition
    # window: a broadcast triangular self-join (b.bkt < a.bkt, summed).
    # Quadratic only in the BUCKET count — bounded by the value range,
    # never by row count — and fully parallel.
    off = (
        bt.alias("a")
        .join(
            F.broadcast(bt.select(F.col("bkt").alias("bkt_b"), F.col("nb").alias("nb_b"))),
            F.col("bkt_b") < F.col("a.bkt"),
            "left",
        )
        .groupBy(F.col("a.bkt").alias("bkt"))
        .agg(F.coalesce(F.sum("nb_b"), F.lit(0)).cast("long").alias("bkt_off"))
    )
    w_v = (
        Window.partitionBy("bkt")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rk = (
        vc.join(off, "bkt")
        .withColumn("t", F.col("n1v") + F.col("n2v"))
        .withColumn(
            "rank0",
            F.col("bkt_off")
            + F.coalesce(
                F.sum(F.col("n1v") + F.col("n2v")).over(w_v), F.lit(0)
            ).cast("long"),
        )
    )
    agg = rk.agg(
        F.sum("n1v").cast("long").alias("n1"),
        F.sum("n2v").cast("long").alias("n2"),
        F.sum(
            F.col("n1v") * (2 * F.col("rank0") + F.col("t") + 1)
        ).cast("long").alias("r1_twice"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).cast("long").alias("tie_sum"),
    )
    u1 = F.col("r1_twice") / 2.0 - F.col("n1") * (F.col("n1") + 1) / 2.0
    mu = F.col("n1") * F.col("n2").cast("double") / 2.0
    var = (F.col("n1") * F.col("n2").cast("double") / 12.0) * (
        (F.col("n1") + F.col("n2") + 1)
        - F.col("tie_sum").cast("double")
        / (
            (F.col("n1") + F.col("n2"))
            * (F.col("n1") + F.col("n2") - 1).cast("double")
        )
    )
    z = (u1 - mu) / F.sqrt(var)
    return agg.select(
        "n1",
        "n2",
        u1.alias("u_stat"),
        (F.round(z, 6) + 0.0).alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant"),
    )


# --- seasonal-baseline anomaly detection -------------------------------
#
# The seasonality-aware sibling of events_anomaly_mad: raw hourly
# volume has a daily rhythm, so a flat global baseline flags every
# evening peak. Here each hour compares against ITS OWN
# hour-of-day baseline (mean/std of the same clock hour across the
# month) — one-pass exact moments (counts are integers, so s and ss
# are BIGINT-exact and both engines derive identical doubles), then a
# broadcast-sized (type x 24) baseline join back to the hourly series.
# This is the degenerate-but-real form of STL: seasonal component by
# cyclic subseries mean, residual z-scored.

_SEASONAL_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
baseline AS (
  SELECT event_type, CAST(hour(hr) AS BIGINT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM(n) AS BIGINT) AS s,
         CAST(SUM(n * n) AS BIGINT) AS ss
  FROM hourly GROUP BY 1, 2
),
scored AS (
  SELECT h.event_type,
         strftime(h.hr, '%Y-%m-%d %H:00:00') AS hour_bucket,
         h.n,
         CAST(b.s AS DOUBLE) / b.n_obs AS mu,
         sqrt((CAST(b.ss AS DOUBLE) - CAST(b.s AS DOUBLE) * b.s / b.n_obs)
              / (b.n_obs - 1)) AS sigma
  FROM hourly h
  JOIN baseline b ON b.event_type = h.event_type
                 AND b.hod = CAST(hour(h.hr) AS BIGINT)
  WHERE b.n_obs > 1
)
SELECT event_type, hour_bucket, n,
       ROUND((n - mu) / sigma, 6) + 0.0 AS z_seasonal,
       (abs((n - mu) / sigma) > 3.0) AS is_anomaly
FROM scored
WHERE sigma > 0
ORDER BY event_type, hour_bucket
"""


@register(
    "events_seasonal_anomaly",
    _SEASONAL_SQL,
    doc="Hour-of-day seasonal baseline anomaly detection: per "
    "(type, clock-hour) exact integer moments -> mean/std, broadcast "
    "join back to the hourly series, |z| > 3 flags. The cyclic-"
    "subseries seasonal baseline a flat threshold (events_anomaly_mad) "
    "cannot express; baseline table is (types x 24) rows at any scale.",
)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    baseline = hourly.groupBy(
        "event_type", F.hour("hr").cast("long").alias("hod")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("ss"),
    ).where(F.col("n_obs") > 1)
    mu = F.col("s").cast("double") / F.col("n_obs")
    sigma = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n_obs")
        )
        / (F.col("n_obs") - 1)
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return ordered(
        hourly.withColumn("hod", F.hour("hr").cast("long"))
        .join(
            F.broadcast(
                baseline.select(
                    F.col("event_type").alias("bt"),
                    F.col("hod").alias("bhod"),
                    mu.alias("mu"),
                    sigma.alias("sigma"),
                )
            ),
            (F.col("event_type") == F.col("bt")) & (F.col("hod") == F.col("bhod")),
        )
        .where(F.col("sigma") > 0)
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:00:00").alias("hour_bucket"),
            "n",
            (F.round(z, 6) + 0.0).alias("z_seasonal"),
            (F.abs(z) > 3.0).alias("is_anomaly"),
        ),
        "event_type",
        "hour_bucket",
    )


# --- cohort lifetime-value (LTV) curves --------------------------------
#
# The revenue sibling of events_retention_cohorts: customers cohorted
# by first-order month, revenue bucketed by account age in months, and
# the running cumulative LTV per cohort — the curve a growth team
# reads payback periods from. Cohort assignment is one min-aggregate
# joined back (broadcast at dimension cardinality); the cumulative
# window partitions by cohort, so cohorts parallelize and no window
# sees more than one cohort's months. Month arithmetic is integer
# (year*12 + month) in both engines; revenue is decimal-exact.

_LTV_SQL = """
WITH firsts AS (
  SELECT o_custkey AS custkey,
         MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
  FROM orders GROUP BY o_custkey
),
facts AS (
  SELECT f.cohort_m,
         (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m
           AS age_month,
         o.o_custkey,
         CAST(o.o_totalprice AS DECIMAL(12,2)) AS price
  FROM orders o JOIN firsts f ON f.custkey = o.o_custkey
),
grid AS (
  SELECT cohort_m, age_month,
         COUNT(DISTINCT o_custkey) AS n_active,
         CAST(SUM(price) AS DOUBLE) AS revenue,
         SUM(price) AS revenue_dec
  FROM facts GROUP BY 1, 2
)
-- floor((m-1)/12): December (m % 12 = 0) belongs to year m/12 - 1;
-- explicit floor because DuckDB's / is float division and its
-- double->int CAST rounds while Spark's truncates
SELECT CAST(floor((cohort_m - 1) / 12.0) AS BIGINT) || '-' ||
         CASE WHEN cohort_m % 12 = 0 THEN '12'
              ELSE lpad(CAST(cohort_m % 12 AS VARCHAR), 2, '0') END
         AS cohort_month,
       CAST(age_month AS BIGINT) AS age_month,
       CAST(n_active AS BIGINT) AS n_active,
       revenue,
       CAST(SUM(revenue_dec) OVER (PARTITION BY cohort_m ORDER BY age_month
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS cum_ltv
FROM grid
ORDER BY cohort_month, age_month
"""


@register(
    "orders_cohort_ltv",
    _LTV_SQL,
    doc="Cohort LTV curves: first-order-month cohorts, integer month "
    "arithmetic (year*12+month, identical in both engines), "
    "decimal-exact revenue per (cohort, age) cell, and cumulative LTV "
    "via a cohort-partitioned running window. The cohort-month label "
    "needs care: month 12 belongs to year m/12 - 1's December "
    "(m % 12 == 0), mirrored in both twins.",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    m = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    # cohort month as a whole-partition window MIN rather than the
    # oracle's self-join with a per-customer aggregate (round 12: the
    # 1000x sweep flagged 18.6x/decade — the SMJ plan scanned orders
    # twice and exchanged the fact table twice; min-over-partition
    # states the same value off ONE custkey exchange). Identical
    # semantics: min(m) over (partition by custkey) = the joined
    # per-customer min, row for row.
    facts = orders.withColumn(
        "cohort_m", F.min(m).over(Window.partitionBy("o_custkey"))
    ).select(
        "cohort_m",
        (m - F.col("cohort_m")).alias("age_month"),
        "o_custkey",
        dec("o_totalprice").alias("price"),
    )
    grid = facts.groupBy("cohort_m", "age_month").agg(
        F.count_distinct("o_custkey").cast("long").alias("n_active"),
        F.sum("price").cast("double").alias("revenue"),
        F.sum("price").alias("revenue_dec"),
    )
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("age_month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    label = F.concat(
        F.floor((F.col("cohort_m") - 1) / 12.0).cast("long").cast("string"),
        F.lit("-"),
        F.when(F.col("cohort_m") % 12 == 0, F.lit("12")).otherwise(
            F.lpad((F.col("cohort_m") % 12).cast("string"), 2, "0")
        ),
    )
    return ordered(
        grid.withColumn(
            "cum_ltv", F.sum("revenue_dec").over(w).cast("double")
        )
        .select(
            label.alias("cohort_month"),
            F.col("age_month").cast("long").alias("age_month"),
            "n_active",
            "revenue",
            "cum_ltv",
        ),
        "cohort_month",
        "age_month",
    )


# --- A/B sample-ratio-mismatch (SRM) check -----------------------------
#
# The experiment-integrity gate that runs BEFORE any effect test
# (events_welch_ttest / events_mannwhitney_u): users hash-assigned
# 50/50 by the content-stable md5 bucket; if observed assignment
# counts deviate from the design ratio beyond chi-square(1) at
# p < 0.001 (10.83), the experiment is corrupted and effect tests are
# void. Assignment is map-side (one hash per user), counting is one
# distinct-user aggregate; everything is integer until the chi-square
# terms.

_SRM_SQL = f"""
WITH users AS (
  SELECT DISTINCT user_id FROM events
),
assigned AS (
  SELECT CASE WHEN {md5_prefix_int_sql("CAST(user_id AS VARCHAR)", 1)} % 2 = 0
              THEN 'A' ELSE 'B' END AS variant
  FROM users
),
counts AS (
  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM assigned GROUP BY variant
),
tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS nt FROM counts)
SELECT variant, n_users,
       CAST(nt AS DOUBLE) / 2 AS expected,
       ROUND((n_users - CAST(nt AS DOUBLE) / 2)
             * (n_users - CAST(nt AS DOUBLE) / 2)
             / (CAST(nt AS DOUBLE) / 2), 6) AS chi2_term,
       ((SELECT SUM((c.n_users - CAST(t.nt AS DOUBLE) / 2)
                    * (c.n_users - CAST(t.nt AS DOUBLE) / 2)
                    / (CAST(t.nt AS DOUBLE) / 2))
         FROM counts c, tot t) > 10.83) AS srm_detected
FROM counts, tot
ORDER BY variant
"""


@register(
    "events_ab_srm_check",
    _SRM_SQL,
    doc="Sample-ratio-mismatch gate for hash-assigned A/B splits: "
    "md5-first-nibble parity assigns users 50/50 (content-stable, "
    "map-side), observed counts tested against the design ratio with "
    "chi-square(1) at p < 0.001. A clean hash SHOULD pass — "
    "srm_detected=false is the expected verdict, and both engines "
    "agreeing on the full decision path is what the hash checks.",
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    users = events.select("user_id").distinct()
    variant = F.when(
        hex_prefix_int(F.md5(F.col("user_id").cast("string")), 1) % 2 == 0,
        "A",
    ).otherwise("B")
    counts = users.select(variant.alias("variant")).groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    tot = counts.agg(F.sum("n_users").cast("long").alias("nt"))
    exp = F.col("nt").cast("double") / 2
    term = (F.col("n_users") - exp) * (F.col("n_users") - exp) / exp
    with_tot = counts.crossJoin(F.broadcast(tot))  # 1-row broadcast scalar
    verdict = with_tot.agg((F.sum(term) > 10.83).alias("srm_detected"))
    return ordered(
        with_tot.crossJoin(F.broadcast(verdict))  # 1-row broadcast scalar
        .select(
            "variant",
            "n_users",
            exp.alias("expected"),
            F.round(term, 6).alias("chi2_term"),
            "srm_detected",
        ),
        "variant",
    )


# --- month-over-month / year-over-year growth --------------------------
#
# The BI staple: monthly revenue with MoM and YoY growth rates via LAG
# over the month series. The series is month-cardinality (bounded by
# the calendar, not the fact table), so the un-partitioned LAG window
# runs over a table the size of the date range — the fact-scale work
# is all in the one decimal-exact monthly aggregate.

_YOY_SQL = """
WITH monthly AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
           AS rev
  FROM orders GROUP BY 1
),
laged AS (
  -- keyed self-joins instead of a global LAG window: no
  -- single-partition exchange anywhere, same offsets
  SELECT c.m, c.rev, pm.rev AS prev_m, py.rev AS prev_y
  FROM monthly c
  LEFT JOIN monthly pm ON pm.m = c.m - 1
  LEFT JOIN monthly py ON py.m = c.m - 12
)
SELECT CAST(floor((m - 1) / 12.0) AS BIGINT) || '-' ||
         CASE WHEN m % 12 = 0 THEN '12'
              ELSE lpad(CAST(m % 12 AS VARCHAR), 2, '0') END AS month,
       CAST(rev AS DOUBLE) AS revenue,
       ROUND(CAST(rev - prev_m AS DOUBLE) / CAST(prev_m AS DOUBLE), 6)
         + 0.0 AS mom_growth,
       ROUND(CAST(rev - prev_y AS DOUBLE) / CAST(prev_y AS DOUBLE), 6)
         + 0.0 AS yoy_growth
FROM laged
ORDER BY month
"""


@register(
    "orders_mom_yoy_growth",
    _YOY_SQL,
    doc="Monthly revenue with MoM and YoY growth (offset 1 / 12) "
    "over the month series — the window input is calendar-bounded "
    "(months), never fact-bounded, so the global LAG window is benign "
    "at any scale; growth ratios divide identical decimal-exact "
    "revenues. Month labels share orders_cohort_ltv's explicit "
    "floor((m-1)/12) convention.",
)
def orders_mom_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    m = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    monthly = orders.groupBy(m.alias("m")).agg(
        F.sum(dec("o_totalprice")).cast("decimal(18,2)").alias("rev")
    )
    # keyed self-joins instead of a global LAG window: the month table
    # is calendar-bounded, but even so no single-partition funnel
    pm = monthly.select(F.col("m").alias("m1"), F.col("rev").alias("prev_m"))
    py = monthly.select(F.col("m").alias("m12"), F.col("rev").alias("prev_y"))
    laged = (
        monthly.join(pm, F.col("m1") == F.col("m") - 1, "left")
        .join(py, F.col("m12") == F.col("m") - 12, "left")
        .select("m", "rev", "prev_m", "prev_y")
    )
    label = F.concat(
        F.floor((F.col("m") - 1) / 12.0).cast("long").cast("string"),
        F.lit("-"),
        F.when(F.col("m") % 12 == 0, F.lit("12")).otherwise(
            F.lpad((F.col("m") % 12).cast("string"), 2, "0")
        ),
    )
    growth = lambda cur, prev: F.round(  # noqa: E731
        (F.col(cur) - F.col(prev)).cast("double") / F.col(prev).cast("double"),
        6,
    ) + 0.0
    return ordered(
        laged.select(
            label.alias("month"),
            F.col("rev").cast("double").alias("revenue"),
            growth("rev", "prev_m").alias("mom_growth"),
            growth("rev", "prev_y").alias("yoy_growth"),
        ),
        "month",
    )


# --- DAU / WAU / MAU engagement ladder ---------------------------------
#
# Exact rolling distinct actives: users active on day d (DAU), in the
# trailing 7 days (WAU), and trailing 30 (MAU), plus stickiness
# DAU/MAU. COUNT(DISTINCT) does not slide, so WAU/MAU come from an
# interval sweep instead: per user, the days it contributes to WAU(d)
# form the union of [a, a+6] over its activity days a — merged into
# disjoint coverage islands by the standard gaps-and-islands window
# (one user-keyed exchange, shared by both window widths), each island
# emitting a +1 at its start date and a -1 the day after it ends.
# Because islands are disjoint per user, WAU(d) is EXACTLY the number
# of open intervals at d = the prefix sum of the per-day deltas — a
# triangular prefix-sum over the per-DAY delta table (bounded by the
# calendar span + 30, never by users or events; the rank-statistics
# family's bounded shape, cf. events_new_vs_returning). The previous
# form fanned every (user, day) activity row out 7x + 30x and ran
# COUNT(DISTINCT) over the result — 3.4B rows and 345 s at 1000x,
# where the sweep touches each activity row twice and the distinct
# disappears entirely. The approximate sibling
# (events_sliding_distinct_hll) replaces exactness with mergeable
# sketches at 100 TB; this is the exact face the sketch verifies
# against.

_DAU_SQL = """
WITH activity AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
),
spine AS (SELECT DISTINCT d FROM activity),
wau AS (
  SELECT t.sd AS d, COUNT(DISTINCT a.user_id) AS wau
  FROM activity a,
       LATERAL (SELECT unnest(generate_series(a.d, a.d + INTERVAL 6 DAY,
                        INTERVAL 1 DAY))::DATE AS sd) t
  WHERE t.sd IN (SELECT d FROM spine)
  GROUP BY t.sd
),
mau AS (
  SELECT t.sd AS d, COUNT(DISTINCT a.user_id) AS mau
  FROM activity a,
       LATERAL (SELECT unnest(generate_series(a.d, a.d + INTERVAL 29 DAY,
                        INTERVAL 1 DAY))::DATE AS sd) t
  WHERE t.sd IN (SELECT d FROM spine)
  GROUP BY t.sd
),
dau AS (SELECT d, COUNT(*) AS dau FROM activity GROUP BY d)
SELECT strftime(dau.d, '%Y-%m-%d') AS day,
       CAST(dau.dau AS BIGINT) AS dau,
       CAST(wau.wau AS BIGINT) AS wau,
       CAST(mau.mau AS BIGINT) AS mau,
       ROUND(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
FROM dau JOIN wau ON wau.d = dau.d JOIN mau ON mau.d = dau.d
ORDER BY day
"""


@register(
    "events_dau_wau_mau",
    _DAU_SQL,
    doc="Exact DAU/WAU/MAU + stickiness via interval sweep: per-user "
    "trailing-window coverage islands (gaps-and-islands over ONE "
    "user-keyed exchange, both widths) emit +1/-1 day deltas; the "
    "rolling active count is the prefix sum of the per-day delta "
    "table — bounded by the calendar span, never by users or events, "
    "so no COUNT(DISTINCT) and no per-row window fan-out anywhere "
    "(the fan-out form ran 3.4B rows / 345 s at 1000x). The exact "
    "face of events_sliding_distinct_hll's sketch path — at 100 TB "
    "the sketch slides in O(1) state while this verifies it at audit "
    "scale.",
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    activity = events.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    spine = activity.select("d").distinct()
    dau = activity.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )

    def coverage(days: int, name: str) -> DataFrame:
        # user's covered days = union of [a, a+days-1] over activity
        # days a, merged to disjoint islands; islands being disjoint,
        # the count of users covering day d is the prefix sum of
        # (+1 at island start, -1 after island end) — exact, no
        # distinct. Both widths reuse the same user-keyed exchange.
        win = Window.partitionBy("user_id").orderBy("d")
        prev_end = F.max(F.date_add("d", days - 1)).over(
            win.rowsBetween(Window.unboundedPreceding, -1)
        )
        brk = F.when(
            prev_end.isNull() | (F.col("d") > prev_end), 1
        ).otherwise(0)
        islands = (
            activity.withColumn("_brk", brk)
            .withColumn(
                "_isl",
                F.sum("_brk").over(
                    win.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
            .groupBy("user_id", "_isl")
            .agg(
                F.min("d").alias("s"),
                F.date_add(F.max("d"), days - 1).alias("e"),
            )
        )
        deltas = islands.select(
            F.col("s").alias("dd"), F.lit(1).alias("delta")
        ).unionByName(
            islands.select(
                F.date_add("e", 1).alias("dd"), F.lit(-1).alias("delta")
            )
        )
        # per-day delta table: bounded by calendar span + window width
        daily = deltas.groupBy("dd").agg(F.sum("delta").alias("delta"))
        return (
            spine.join(F.broadcast(daily), F.col("dd") <= F.col("d"))
            .groupBy("d")
            .agg(F.sum("delta").cast("long").alias(name))
        )

    wau = coverage(7, "wau").withColumnRenamed("d", "wd")
    mau = coverage(30, "mau").withColumnRenamed("d", "md")
    return ordered(
        dau.join(wau, F.col("d") == F.col("wd"))
        .join(mau, F.col("d") == F.col("md"))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            "mau",
            F.round(
                F.col("dau").cast("double") / F.col("mau"), 6
            ).alias("stickiness"),
        ),
        "day",
    )


# --- first-touch attribution ------------------------------------------
#
# Completes the attribution family (last-touch, linear -> first-touch):
# each purchase credits the EARLIEST view/click inside its 24 h
# lookback. Unlike last-touch (conditional running MAX over all prior
# rows), first-touch needs the window's lower bound — a RANGE frame
# over epoch-millis bounded at 24 h PRECEDING, so the running MIN only
# sees in-window touches. Same one user-keyed exchange, same
# deterministic tie policy (min event_id at the tied first millisecond
# via arg_min/min_by).

_FIRST_ATTR_SQL = f"""
WITH s AS (
  SELECT event_id, user_id, ts, event_type, value FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
seq AS (
  SELECT *, MIN(CASE WHEN event_type IN ('view', 'click') THEN ts END)
         OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
               RANGE BETWEEN {_ATTR_WINDOW_MS} PRECEDING AND 1 PRECEDING)
         AS first_touch_ts
  FROM s
),
tk AS (
  SELECT user_id, ts, arg_min(event_type, event_id) AS touch_type
  FROM s WHERE event_type IN ('view', 'click') GROUP BY user_id, ts
),
p AS (
  SELECT q.user_id, q.value, q.first_touch_ts, t.touch_type
  FROM seq q
  LEFT JOIN tk t ON t.user_id = q.user_id AND t.ts = q.first_touch_ts
  WHERE q.event_type = 'purchase'
)
SELECT CASE WHEN first_touch_ts IS NOT NULL AND touch_type IS NOT NULL
        THEN touch_type ELSE 'none' END AS touch_type,
       COUNT(*) AS conversions,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS attributed_value
FROM p
GROUP BY 1
ORDER BY 1
"""


@register(
    "events_attribution_first_touch",
    _FIRST_ATTR_SQL,
    doc="First-touch attribution: each purchase credits the EARLIEST "
    "view/click in its 24 h lookback via a RANGE-framed running MIN "
    "over epoch-millis (the frame's lower bound IS the lookback, so "
    "no post-filter); touch type recovered by one keyed join with "
    "min-event_id tie-break. One user-keyed exchange, no range join.",
)
def events_attribution_first_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    s = events.where(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("event_id", "user_id", "ts", "event_type", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis("ts"))
        .rangeBetween(-_ATTR_WINDOW_MS, -1)
    )
    first_ts = F.min(
        F.when(F.col("event_type").isin("view", "click"), F.col("ts"))
    ).over(w)
    purch = (
        s.withColumn("first_touch_ts", first_ts)
        .where(F.col("event_type") == "purchase")
        .select("user_id", "value", "first_touch_ts")
    )
    tk = (
        s.where(F.col("event_type").isin("view", "click"))
        .groupBy("user_id", F.col("ts").alias("tts"))
        .agg(F.expr("min_by(event_type, event_id)").alias("touch_type"))
    )
    j = purch.join(
        tk,
        (purch["user_id"] == tk["user_id"])
        & (purch["first_touch_ts"] == tk["tts"]),
        "left",
    ).select(purch["user_id"], "value", "first_touch_ts", "touch_type")
    bucket = F.when(
        F.col("first_touch_ts").isNotNull() & F.col("touch_type").isNotNull(),
        F.col("touch_type"),
    ).otherwise("none")
    return ordered(
        j.groupBy(bucket.alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            dsum(dec("value"), "attributed_value"),
        ),
        "touch_type",
    )


# --- bot / automation detection heuristics -----------------------------
#
# Abuse-filtering primitive: scripted clients fire events at
# near-constant intervals, humans don't. Per user: inter-event gaps
# (LAG over the user's own ordered stream), exact integer millisecond
# moments -> coefficient of variation of the gap distribution; low CV
# with enough events flags automation. One user-keyed exchange; the
# gap moments are BIGINT-exact (ms gaps squared stay under int64 for
# month-scale spans), so both engines compute identical doubles.

_BOT_SQL = """
WITH gaps AS (
  SELECT user_id,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
  FROM events
),
m AS (
  SELECT user_id,
         CAST(COUNT(gap_ms) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_ms) AS BIGINT) AS s,
         CAST(SUM(gap_ms * gap_ms) AS BIGINT) AS ss
  FROM gaps WHERE gap_ms IS NOT NULL
  GROUP BY user_id
  HAVING COUNT(gap_ms) >= 20
)
SELECT user_id, n_gaps,
       ROUND(CAST(s AS DOUBLE) / n_gaps / 1000, 6) AS mean_gap_s,
       ROUND(sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_gaps)
                  / (n_gaps - 1))
             / (CAST(s AS DOUBLE) / n_gaps), 6) AS gap_cv,
       (sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_gaps)
             / (n_gaps - 1))
        / (CAST(s AS DOUBLE) / n_gaps) < 0.3) AS regular_flag
FROM m
ORDER BY gap_cv, user_id
LIMIT 50
"""


@register(
    "events_bot_regularity",
    _BOT_SQL,
    doc="Automation detection by inter-event regularity: per-user gap "
    "stream via LAG over the user's own ordered events (user-keyed "
    "window), BIGINT-exact millisecond moments, coefficient of "
    "variation with a support floor; the 50 most-regular users "
    "surface first. CV < 0.3 is the scripted-client heuristic — on "
    "this synthetic arrival process the flag is expected to stay "
    "false, and both engines agreeing on the full decision path is "
    "what the hash checks.",
)
def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        "user_id",
        (
            F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w)
        ).alias("gap_ms"),
    ).where(F.col("gap_ms").isNotNull())
    m = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_ms").cast("long").alias("n_gaps"),
            F.sum("gap_ms").cast("long").alias("s"),
            F.sum(F.col("gap_ms") * F.col("gap_ms")).cast("long").alias("ss"),
        )
        .where(F.col("n_gaps") >= 20)
    )
    mean = F.col("s").cast("double") / F.col("n_gaps")
    sd = F.sqrt(
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n_gaps"))
        / (F.col("n_gaps") - 1)
    )
    cv = sd / mean
    return (
        m.select(
            "user_id",
            "n_gaps",
            F.round(mean / 1000, 6).alias("mean_gap_s"),
            F.round(cv, 6).alias("gap_cv"),
            (cv < 0.3).alias("regular_flag"),
        )
        .orderBy("gap_cv", "user_id")
        .limit(50)
    )


# --- differentially-private noisy counts (seeded Laplace) --------------
#
# The DP release mechanism, made oracle-checkable: per-type event
# counts plus Laplace(1/eps) noise drawn by inverse-CDF from a
# DETERMINISTIC uniform (md5 of seed:type -> (0,1)) — both engines
# compute bit-identical noise, so the full mechanism (sensitivity-1
# count, scale, quantile transform, post-processing round) is what the
# hash verifies. Production swaps the seeded uniform for a CSPRNG and
# nothing else changes; the docstring IS the privacy caveat: a
# content-derived seed is NOT private, it is the test harness.

_DP_EPS = 0.5
_DP_SEED = "dp0"


def _dp_u_sql() -> str:
    h = md5_prefix_int_sql(f"'{_DP_SEED}:' || event_type", 8)
    return f"(({h}) + 1.0) / {float(16**8 + 1)}"


_DP_SQL = f"""
WITH c AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM events GROUP BY event_type
),
noised AS (
  SELECT event_type, true_count,
         {_dp_u_sql()} AS u
  FROM c
)
SELECT event_type,
       true_count,
       ROUND(CASE WHEN u < 0.5
              THEN (1.0 / {_DP_EPS}) * ln(2 * u)
              ELSE -(1.0 / {_DP_EPS}) * ln(2 * (1 - u)) END, 6) + 0.0 AS noise,
       CAST(greatest(0, CAST(round(true_count + CASE WHEN u < 0.5
              THEN (1.0 / {_DP_EPS}) * ln(2 * u)
              ELSE -(1.0 / {_DP_EPS}) * ln(2 * (1 - u)) END) AS BIGINT))
            AS BIGINT) AS released_count
FROM noised
ORDER BY event_type
"""


@register(
    "privacy_dp_noisy_counts",
    _DP_SQL,
    doc=f"Laplace mechanism for count release (eps={_DP_EPS}, "
    "sensitivity 1): inverse-CDF noise from a seeded md5 uniform so "
    "both engines draw bit-identical samples and the WHOLE mechanism "
    "(scale, transform, clamp-to-nonnegative post-processing) is "
    "hash-verified; production replaces the seeded uniform with a "
    "CSPRNG — the seeded draw here is the test harness, not a privacy "
    "claim. Map-side per group; one type-cardinality aggregate.",
)
def privacy_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    c = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    h = hex_prefix_int(
        F.md5(F.concat(F.lit(f"{_DP_SEED}:"), F.col("event_type"))), 8
    )
    u = (h + F.lit(1.0)) / F.lit(float(16**8 + 1))
    scale = 1.0 / _DP_EPS
    noise = F.when(u < 0.5, scale * F.log(2 * u)).otherwise(
        -scale * F.log(2 * (1 - u))
    )
    released = F.greatest(
        F.lit(0).cast("long"),
        F.round(F.col("true_count") + noise).cast("long"),
    )
    return ordered(
        c.select(
            "event_type",
            "true_count",
            (F.round(noise, 6) + 0.0).alias("noise"),
            released.alias("released_count"),
        ),
        "event_type",
    )


# --- Kolmogorov-Smirnov two-sample test --------------------------------
#
# Completes the nonparametric family (Welch -> mean shift,
# Mann-Whitney -> stochastic dominance, KS -> ANY distributional
# difference): D = max |ECDF_1 - ECDF_2| over the pooled support. The
# ECDFs come from the same two-stage machinery as events_mannwhitney_u
# — per-distinct-value group counts, bucket offsets via the broadcast
# triangular join, per-bucket cumulative windows — so the cumulative
# counts are exact integers and D is a max over exact rationals
# divided once. The asymptotic alpha=0.01 threshold
# c(a)*sqrt((n1+n2)/(n1*n2)) with c(0.01)=1.628 gates the verdict.

_KS_A, _KS_B = "purchase", "view"

_KS_SQL = f"""
WITH d AS (
  SELECT event_type, value FROM events
  WHERE event_type IN ('{_KS_A}', '{_KS_B}')
),
vc AS (
  SELECT CAST(floor(value) AS BIGINT) AS bkt, value,
         COUNT(*) FILTER (WHERE event_type = '{_KS_A}') AS n1v,
         COUNT(*) FILTER (WHERE event_type = '{_KS_B}') AS n2v
  FROM d GROUP BY 1, 2
),
bt AS (
  SELECT bkt, CAST(SUM(n1v) AS BIGINT) AS b1, CAST(SUM(n2v) AS BIGINT) AS b2
  FROM vc GROUP BY bkt
),
off AS (
  SELECT a.bkt,
         CAST(COALESCE(SUM(b.b1), 0) AS BIGINT) AS off1,
         CAST(COALESCE(SUM(b.b2), 0) AS BIGINT) AS off2
  FROM bt a LEFT JOIN bt b ON b.bkt < a.bkt GROUP BY a.bkt
),
cum AS (
  SELECT o.off1 + CAST(SUM(v.n1v) OVER w AS BIGINT) AS c1,
         o.off2 + CAST(SUM(v.n2v) OVER w AS BIGINT) AS c2
  FROM vc v JOIN off o USING (bkt)
  WINDOW w AS (PARTITION BY v.bkt ORDER BY v.value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (
  SELECT CAST(SUM(n1v) AS BIGINT) AS n1, CAST(SUM(n2v) AS BIGINT) AS n2
  FROM vc
)
SELECT n1, n2,
       ROUND(MAX(abs(CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)), 6)
         AS ks_d,
       ROUND(1.628 * sqrt((n1 + CAST(n2 AS DOUBLE)) / (n1 * CAST(n2 AS DOUBLE))), 6)
         AS crit_01,
       (MAX(abs(CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2))
        > 1.628 * sqrt((n1 + CAST(n2 AS DOUBLE)) / (n1 * CAST(n2 AS DOUBLE))))
         AS reject_01
FROM cum, tot
GROUP BY n1, n2
"""


@register(
    "events_ks_two_sample",
    _KS_SQL,
    doc=f"Kolmogorov-Smirnov two-sample test ({_KS_A} vs {_KS_B} "
    "value): D = max ECDF gap over the pooled support, cumulative "
    "counts exact via the shared two-stage ranking shape "
    "(range-bounded buckets, broadcast triangular offsets, per-bucket "
    "windows), asymptotic alpha=0.01 verdict. The distribution-shape "
    "sibling of events_welch_ttest / events_mannwhitney_u.",
)
def events_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    d = events.where(F.col("event_type").isin(_KS_A, _KS_B))
    vc = d.groupBy(
        F.floor("value").cast("long").alias("bkt"), "value"
    ).agg(
        F.count_if(F.col("event_type") == _KS_A).alias("n1v"),
        F.count_if(F.col("event_type") == _KS_B).alias("n2v"),
    )
    bt = vc.groupBy("bkt").agg(
        F.sum("n1v").cast("long").alias("b1"),
        F.sum("n2v").cast("long").alias("b2"),
    )
    off = (
        bt.alias("a")
        .join(
            F.broadcast(
                bt.select(
                    F.col("bkt").alias("bkt_b"),
                    F.col("b1").alias("b1b"),
                    F.col("b2").alias("b2b"),
                )
            ),
            F.col("bkt_b") < F.col("a.bkt"),
            "left",
        )
        .groupBy(F.col("a.bkt").alias("bkt"))
        .agg(
            F.coalesce(F.sum("b1b"), F.lit(0)).cast("long").alias("off1"),
            F.coalesce(F.sum("b2b"), F.lit(0)).cast("long").alias("off2"),
        )
    )
    w = (
        Window.partitionBy("bkt")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        vc.join(off, "bkt")
        .withColumn("c1", F.col("off1") + F.sum("n1v").over(w).cast("long"))
        .withColumn("c2", F.col("off2") + F.sum("n2v").over(w).cast("long"))
    )
    tot = vc.agg(
        F.sum("n1v").cast("long").alias("n1"),
        F.sum("n2v").cast("long").alias("n2"),
    )
    gap = F.abs(
        F.col("c1").cast("double") / F.col("n1")
        - F.col("c2").cast("double") / F.col("n2")
    )
    crit = 1.628 * F.sqrt(
        (F.col("n1") + F.col("n2").cast("double"))
        / (F.col("n1") * F.col("n2").cast("double"))
    )
    return (
        cum.crossJoin(F.broadcast(tot))  # 1-row broadcast scalar
        .groupBy("n1", "n2")
        .agg(F.max(gap).alias("d_raw"))
        .select(
            "n1",
            "n2",
            F.round(F.col("d_raw"), 6).alias("ks_d"),
            F.round(crit, 6).alias("crit_01"),
            (F.col("d_raw") > crit).alias("reject_01"),
        )
    )


# --- time-decay multi-touch attribution --------------------------------
#
# Fourth member of the attribution family: touches closer to the
# conversion earn exponentially more credit, w = exp(-age/tau),
# tau = 6 h. Determinism contract: weights quantize to integer
# NANO-units (round(exp*1e9) -> BIGINT) before any summation, so the
# per-conversion normalizer is an exact integer sum (float exp
# last-bit noise is absorbed by the 1e-9 grid) and the credit split
# floor(1e6 * w_n / sum_w_n) is pure integer arithmetic — the same
# reasoning as linear attribution's micro-unit floors, extended to
# weighted shares.

_DECAY_TAU_MS = 6 * 3600 * 1000

_TDATTR_SQL = f"""
WITH s AS (
  SELECT event_id, user_id, ts, event_type FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
tn AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN ts END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
         AS next_pts
  FROM s
),
touches AS (
  SELECT user_id, next_pts, event_type AS touch_type,
         CAST(round(exp(-(epoch_ms(next_pts) - epoch_ms(ts))
                        / {float(_DECAY_TAU_MS)}) * 1000000000) AS BIGINT)
           AS w_nano
  FROM tn
  WHERE event_type IN ('view', 'click') AND next_pts IS NOT NULL
    AND epoch_ms(next_pts) - epoch_ms(ts) <= {_ATTR_WINDOW_MS}
),
purch AS (
  SELECT user_id, ts AS pts, CAST(COUNT(*) AS BIGINT) AS n_purch
  FROM s WHERE event_type = 'purchase' GROUP BY user_id, ts
),
grp AS (
  SELECT user_id, next_pts, CAST(SUM(w_nano) AS BIGINT) AS sum_w
  FROM touches GROUP BY user_id, next_pts
)
SELECT t.touch_type,
       COUNT(*) AS touches,
       CAST(SUM(CAST(floor(p.n_purch * 1000000.0 * t.w_nano / g.sum_w)
                     AS BIGINT)) AS BIGINT) AS credit_micro
FROM touches t
JOIN grp g ON g.user_id = t.user_id AND g.next_pts = t.next_pts
JOIN purch p ON p.user_id = t.user_id AND p.pts = t.next_pts
GROUP BY t.touch_type
ORDER BY t.touch_type
"""


@register(
    "events_attribution_time_decay",
    _TDATTR_SQL,
    doc="Time-decay multi-touch attribution (tau = 6 h): per-touch "
    "exp(-age/tau) weights quantized to integer nano-units BEFORE "
    "summation, so the per-conversion normalizer and the "
    "floor(1e6 * w/sum_w) credit split are exact integer arithmetic — "
    "no order-sensitive float sums anywhere. Same one user-keyed "
    "window + two keyed joins as the linear face.",
)
def events_attribution_time_decay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    s = events.where(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("event_id", "user_id", "ts", "event_type")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_pts = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    age_ms = F.unix_millis(F.col("next_pts")) - F.unix_millis(F.col("ts"))
    touches = (
        s.withColumn("next_pts", next_pts)
        .where(
            F.col("event_type").isin("view", "click")
            & F.col("next_pts").isNotNull()
            & (age_ms <= _ATTR_WINDOW_MS)
        )
        .select(
            "user_id",
            "next_pts",
            F.col("event_type").alias("touch_type"),
            F.round(F.exp(-age_ms / float(_DECAY_TAU_MS)) * 1e9)
            .cast("long")
            .alias("w_nano"),
        )
    )
    purch = (
        s.where(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("pu"), F.col("ts").alias("pts"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_purch"))
    )
    grp = touches.groupBy("user_id", "next_pts").agg(
        F.sum("w_nano").cast("long").alias("sum_w")
    )
    return ordered(
        touches.join(grp, ["user_id", "next_pts"])
        .join(
            purch,
            (F.col("user_id") == F.col("pu"))
            & (F.col("next_pts") == F.col("pts")),
        )
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("touches"),
            F.sum(
                F.floor(
                    F.col("n_purch") * 1000000.0 * F.col("w_nano") / F.col("sum_w")
                ).cast("long")
            ).cast("long").alias("credit_micro"),
        ),
        "touch_type",
    )


# --- classical additive time-series decomposition ----------------------
#
# STL-lite: hourly series = trend (centered 25-hour moving average)
# + seasonal (mean of the detrended values at each clock hour)
# + residual. The moving-average window and the residual join both
# partition on the series key; the seasonal table is (type x 24).
# Counts are integers, the moving average divides an exact integer sum
# by an exact window size (counted, not assumed, so series edges are
# correct), and every emitted component rounds at 6 — the established
# accumulate-f64/round-at-boundary policy, applied twice (detrended
# means are computed from ROUNDED trend, so both engines seasonalize
# identical inputs).

_DECOMP_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
trend AS (
  SELECT event_type, hr, n,
         ROUND(CAST(SUM(n) OVER w AS DOUBLE) / COUNT(n) OVER w, 6) AS trend
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
seasonal AS (
  SELECT event_type, CAST(hour(hr) AS BIGINT) AS hod,
         ROUND(AVG(n - trend), 6) AS seasonal
  FROM trend GROUP BY 1, 2
)
-- + 0.0 collapses IEEE negative zero: ROUND can yield -0.0 in one
-- engine and 0.0 in the other, equal by == but not by canonical hash
SELECT t.event_type,
       strftime(t.hr, '%Y-%m-%d %H:00:00') AS hour_bucket,
       t.n, t.trend, s.seasonal + 0.0 AS seasonal,
       ROUND(t.n - t.trend - s.seasonal, 6) + 0.0 AS residual
FROM trend t
JOIN seasonal s ON s.event_type = t.event_type
               AND s.hod = CAST(hour(t.hr) AS BIGINT)
ORDER BY t.event_type, hour_bucket
"""


@register(
    "events_decompose_additive",
    _DECOMP_SQL,
    doc="Classical additive decomposition of the hourly series: "
    "centered 25-hour moving-average trend (window size COUNTED so "
    "series edges divide by the true neighbor count), cyclic-"
    "subseries seasonal means of the detrended values, residual — "
    "the explainable form of events_seasonal_anomaly's z-scores. "
    "Series-keyed windows only; the seasonal model is (types x 24).",
)
def events_decompose_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-12, 12)
    )
    trend = hourly.withColumn(
        "trend",
        F.round(
            F.sum("n").over(w).cast("double") / F.count("n").over(w), 6
        ),
    )
    seasonal = trend.groupBy(
        F.col("event_type").alias("st"),
        F.hour("hr").cast("long").alias("shod"),
    ).agg(F.round(F.avg(F.col("n") - F.col("trend")), 6).alias("seasonal"))
    return ordered(
        trend.withColumn("hod", F.hour("hr").cast("long"))
        .join(
            F.broadcast(seasonal),
            (F.col("event_type") == F.col("st")) & (F.col("hod") == F.col("shod")),
        )
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:00:00").alias("hour_bucket"),
            "n",
            "trend",
            # + 0.0 collapses -0.0 (hash-visible, ==-invisible)
            (F.col("seasonal") + 0.0).alias("seasonal"),
            (
                F.round(F.col("n") - F.col("trend") - F.col("seasonal"), 6)
                + 0.0
            ).alias("residual"),
        ),
        "event_type",
        "hour_bucket",
    )


# --- lag-1 autocorrelation of the hourly series ------------------------
#
# Time-series diagnostic closing the toolkit (decomposition says WHAT
# the structure is; autocorrelation says HOW MUCH memory the series
# has): Pearson correlation between consecutive hourly counts per
# event type. The lagged pairing is a keyed self-join on hr - 1 hour
# (the orders_mom_yoy_growth pattern — no window funnel), and every
# Pearson sum is an exact BIGINT (counts and count products), so the
# one float step is the closed form, + 0.0-collapsed and rounded.

_ACF_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT c.event_type, c.n AS x, p.n AS y
  FROM hourly c
  JOIN hourly p ON p.event_type = c.event_type
               AND p.hr = c.hr - INTERVAL 1 HOUR
),
sums AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY event_type
)
SELECT event_type, n AS n_pairs,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
             6) + 0.0 AS acf_lag1,
       (abs((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
            / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
               * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)))
        > 2.0 / sqrt(n)) AS significant
FROM sums
ORDER BY event_type
"""


@register(
    "events_acf_lag1",
    _ACF_SQL,
    doc="Lag-1 autocorrelation per hourly series: consecutive-hour "
    "pairing by keyed self-join on hr-1 (no window funnel), "
    "BIGINT-exact Pearson sums, |r| > 2/sqrt(n) white-noise "
    "significance band. The memory diagnostic next to the "
    "decomposition and seasonal-anomaly faces.",
)
def events_acf_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    prev = hourly.select(
        F.col("event_type").alias("pt"),
        F.col("hr").alias("phr"),
        F.col("n").alias("y"),
    )
    pairs = hourly.join(
        prev,
        (F.col("pt") == F.col("event_type"))
        & (F.col("phr") == F.col("hr") - F.expr("interval 1 hour")),
    ).select("event_type", F.col("n").alias("x"), "y")
    sums = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    r = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        F.sqrt(nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * F.sqrt(nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return ordered(
        sums.select(
            "event_type",
            F.col("n").alias("n_pairs"),
            (F.round(r, 6) + 0.0).alias("acf_lag1"),
            (F.abs(r) > 2.0 / F.sqrt(nd)).alias("significant"),
        ),
        "event_type",
    )


# --- Kaplan-Meier time-to-conversion survival --------------------------
#
# The survival-analysis family (absent until now): time from a user's
# first view to their first purchase, right-censored at the end of the
# observation window for users who never convert. The KM estimator
# S(t) = prod_{t_i <= t} (1 - d_i / n_i) runs entirely on the
# DURATION-DISTRIBUTION table (one row per distinct duration hour —
# bounded by the time range, never by users): at-risk counts n(t) and
# the cumulative log-factor sum both come from the same triangular
# prefix shape as the rank-statistics family, so no user-sized or
# single-partition window exists. d/n are exact integers; the ln/exp
# step rounds at 6 (the entropy policy).

_KM_SQL = """
WITH fv AS (
  SELECT user_id, MIN(ts) AS first_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
fp AS (
  SELECT e.user_id, MIN(e.ts) AS first_purchase
  FROM events e JOIN fv ON fv.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > fv.first_view
  GROUP BY e.user_id
),
horizon AS (SELECT MAX(ts) AS h FROM events),
obs AS (
  SELECT fv.user_id,
         CASE WHEN fp.first_purchase IS NOT NULL
              THEN CAST(floor((epoch_ms(fp.first_purchase)
                               - epoch_ms(fv.first_view)) / 3600000.0)
                   AS BIGINT)
              ELSE CAST(floor((epoch_ms(h.h) - epoch_ms(fv.first_view))
                              / 3600000.0) AS BIGINT) END AS dur_hr,
         CASE WHEN fp.first_purchase IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM fv LEFT JOIN fp ON fp.user_id = fv.user_id CROSS JOIN horizon h
),
dist AS (
  SELECT dur_hr, CAST(SUM(ev) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS leave_cnt
  FROM obs GROUP BY dur_hr
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM obs),
risk AS (
  SELECT a.dur_hr, a.d,
         t.n_all - CAST(COALESCE(SUM(b.leave_cnt), 0) AS BIGINT) AS n_risk
  FROM dist a
  LEFT JOIN dist b ON b.dur_hr < a.dur_hr
  CROSS JOIN tot t
  GROUP BY a.dur_hr, a.d, t.n_all
),
logs AS (
  SELECT a.dur_hr, a.d, a.n_risk,
         SUM(CASE WHEN b.d > 0 AND b.d < b.n_risk
                  THEN ln(1.0 - CAST(b.d AS DOUBLE) / b.n_risk) END)
           AS cum_log,
         -- a step where EVERY at-risk subject converts drives S to 0
         MAX(CASE WHEN b.d > 0 AND b.d >= b.n_risk THEN 1 ELSE 0 END)
           AS hit_zero
  FROM risk a
  JOIN risk b ON b.dur_hr <= a.dur_hr
  GROUP BY a.dur_hr, a.d, a.n_risk
)
SELECT dur_hr, n_risk, d AS n_events,
       CASE WHEN hit_zero = 1 THEN 0.0
            ELSE ROUND(exp(COALESCE(cum_log, 0.0)), 6) END AS km_survival
FROM logs
WHERE d > 0
ORDER BY dur_hr
"""


@register(
    "events_survival_km",
    _KM_SQL,
    doc="Kaplan-Meier survival of time-to-first-purchase (hours since "
    "first view), right-censored at the observation horizon: at-risk "
    "counts and cumulative log factors both via triangular prefix "
    "joins over the duration-DISTRIBUTION table (bounded by the time "
    "range, never user count) — no user-sized window. Exact integer "
    "d/n; one ln/exp rounding at 6.",
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    fv = events.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("first_view")
    )
    fp = (
        events.where(F.col("event_type") == "purchase")
        .join(fv.select(F.col("user_id").alias("fu"), "first_view"),
              F.col("user_id") == F.col("fu"))
        .where(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
        .select(F.col("user_id").alias("pu"), "first_purchase")
    )
    horizon = events.agg(F.max("ts").alias("h"))
    dur_ms = F.when(
        F.col("first_purchase").isNotNull(),
        F.unix_millis("first_purchase") - F.unix_millis("first_view"),
    ).otherwise(F.unix_millis("h") - F.unix_millis("first_view"))
    obs = (
        fv.join(fp, F.col("user_id") == F.col("pu"), "left")
        .crossJoin(F.broadcast(horizon))  # 1-row broadcast scalar
        .select(
            F.floor(dur_ms / 3600000.0).cast("long").alias("dur_hr"),
            F.when(F.col("first_purchase").isNotNull(), 1)
            .otherwise(0)
            .alias("ev"),
        )
    )
    dist = obs.groupBy("dur_hr").agg(
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leave_cnt"),
    )
    tot = obs.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    # triangular prefix over the duration-distribution table (bounded
    # by the time range) — the rank-statistics family shape
    risk = (
        dist.alias("a")
        .join(
            F.broadcast(
                dist.select(
                    F.col("dur_hr").alias("db"), F.col("leave_cnt").alias("lb")
                )
            ),
            F.col("db") < F.col("a.dur_hr"),
            "left",
        )
        .groupBy(F.col("a.dur_hr").alias("dur_hr"), F.col("a.d").alias("d"))
        .agg(F.coalesce(F.sum("lb"), F.lit(0)).cast("long").alias("left_before"))
        .crossJoin(F.broadcast(tot))  # 1-row broadcast scalar
        .select(
            "dur_hr", "d", (F.col("n_all") - F.col("left_before")).alias("n_risk")
        )
    )
    logs = (
        risk.alias("a")
        .join(
            F.broadcast(
                risk.select(
                    F.col("dur_hr").alias("db"),
                    F.col("d").alias("dbd"),
                    F.col("n_risk").alias("nbr"),
                )
            ),
            F.col("db") <= F.col("a.dur_hr"),
        )
        .groupBy(
            F.col("a.dur_hr").alias("dur_hr"),
            F.col("a.d").alias("n_events"),
            F.col("a.n_risk").alias("n_risk"),
        )
        .agg(
            F.sum(
                F.when(
                    (F.col("dbd") > 0) & (F.col("dbd") < F.col("nbr")),
                    F.log(1.0 - F.col("dbd").cast("double") / F.col("nbr")),
                )
            ).alias("cum_log"),
            # a step where every at-risk subject converts -> S = 0
            F.max(
                F.when(
                    (F.col("dbd") > 0) & (F.col("dbd") >= F.col("nbr")), 1
                ).otherwise(0)
            ).alias("hit_zero"),
        )
    )
    return ordered(
        logs.where(F.col("n_events") > 0)
        .select(
            "dur_hr",
            "n_risk",
            "n_events",
            F.when(F.col("hit_zero") == 1, F.lit(0.0))
            .otherwise(
                F.round(F.exp(F.coalesce(F.col("cum_log"), F.lit(0.0))), 6)
            )
            .alias("km_survival"),
        ),
        "dur_hr",
    )


# --- two-proportion conversion z-test ----------------------------------
#
# The proportions member of the experimentation suite (SRM gates the
# split; Welch tests means, Mann-Whitney ranks, KS shapes — this
# tests CONVERSION RATES): users hash-assigned A/B exactly as
# events_ab_srm_check, converted = has >= 1 purchase; pooled
# two-proportion z = (p_a - p_b) / sqrt(p(1-p)(1/n_a + 1/n_b)).
# Counts are exact integers; the closed form is one float step,
# rounded and -0.0-collapsed.

_PZ_SQL = f"""
WITH users AS (
  -- conversion = HIGH-VALUE user (>= 3 purchases): nearly every user
  -- has one purchase in this synthetic stream, which would make the
  -- pooled rate 1 and the variance 0
  SELECT user_id,
         CAST(CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) >= 3
              THEN 1 ELSE 0 END AS BIGINT) AS converted
  FROM events GROUP BY user_id
),
assigned AS (
  SELECT CASE WHEN {md5_prefix_int_sql("CAST(user_id AS VARCHAR)", 1)} % 2 = 0
              THEN 'A' ELSE 'B' END AS variant,
         converted
  FROM users
),
c AS (
  SELECT CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(SUM(CASE WHEN variant = 'A' THEN converted ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN variant = 'B' THEN converted ELSE 0 END)
              AS BIGINT) AS cb
  FROM assigned
),
s AS (
  SELECT na, nb, ca, cb,
         CAST(ca AS DOUBLE) / na AS pa,
         CAST(cb AS DOUBLE) / nb AS pb,
         CAST(ca + cb AS DOUBLE) / (na + nb) AS pp
  FROM c
)
SELECT na AS n_a, nb AS n_b, ca AS conv_a, cb AS conv_b,
       ROUND(pa, 6) AS rate_a,
       ROUND(pb, 6) AS rate_b,
       CASE WHEN pp > 0 AND pp < 1
            THEN ROUND((pa - pb)
                 / sqrt(pp * (1 - pp) * (1.0 / na + 1.0 / nb)), 6) + 0.0
            ELSE 0.0 END AS z_stat,
       CASE WHEN pp > 0 AND pp < 1
            THEN (abs((pa - pb)
                  / sqrt(pp * (1 - pp) * (1.0 / na + 1.0 / nb))) > 1.96)
            ELSE FALSE END AS significant
FROM s
"""


@register(
    "events_ab_conversion_ztest",
    _PZ_SQL,
    doc="Pooled two-proportion z-test on user conversion between the "
    "hash-assigned A/B variants (same assignment as the SRM gate): "
    "exact integer user/conversion counts, one closed-form float "
    "step. On a hash split of identical populations the expected "
    "verdict is NOT significant — both engines agreeing on the whole "
    "decision path is what the hash checks.",
)
def events_ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    users = events.groupBy("user_id").agg(
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 3
        ).cast("long").alias("converted")
    )
    variant = F.when(
        hex_prefix_int(F.md5(F.col("user_id").cast("string")), 1) % 2 == 0,
        "A",
    ).otherwise("B")
    c = users.select(variant.alias("v"), "converted").agg(
        F.count_if(F.col("v") == "A").cast("long").alias("na"),
        F.count_if(F.col("v") == "B").cast("long").alias("nb"),
        F.sum(F.when(F.col("v") == "A", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("v") == "B", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    pa = F.col("ca").cast("double") / F.col("na")
    pb = F.col("cb").cast("double") / F.col("nb")
    pp = (F.col("ca") + F.col("cb")).cast("double") / (F.col("na") + F.col("nb"))
    nondeg = (pp > 0) & (pp < 1)
    z = (pa - pb) / F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    return c.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.col("ca").alias("conv_a"),
        F.col("cb").alias("conv_b"),
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.when(nondeg, F.round(z, 6) + 0.0).otherwise(F.lit(0.0)).alias(
            "z_stat"
        ),
        F.when(nondeg, F.abs(z) > 1.96).otherwise(F.lit(False)).alias(
            "significant"
        ),
    )


# --- dyadic EWMA burst detector over hourly counts ---------------------
#
# The batch form of the classic streaming anomaly rule: compare each
# hour's event count against an exponentially-weighted moving average
# of the 16 PRIOR hours. alpha = 1/2 with weights truncated at 16 terms
# makes every weight a dyadic rational, so the whole detector runs in
# EXACT integer arithmetic once scaled by 2^15 = 32768: weight(k) =
# 2^(15-k) for lags 1..15 plus a 2^-15 tail mass at lag 16 (weights sum
# to exactly 32768). No floats anywhere — an EWMA with a generic alpha
# would accumulate pow() ulps that differ across engines, while the
# dyadic form is bit-identical by construction. Gaps are densified to
# zero-count hours first (sequence spine), so LAG row distance equals
# hour distance; the first 16 hours of each series are warm-up and
# excluded. Burst rule, integerized: n > 2 * ewma + 3
# <=> n * 32768 > 2 * ewma_x32768 + 3 * 32768.

_EWMA_LAGS = 16
_EWMA_SCALE = 32768  # 2^15


def _ewma_weight(k: int) -> int:
    return 2 ** (15 - k) if k <= 15 else 1


_EWMA_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi FROM hourly GROUP BY 1
),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
  FROM bounds
),
dense AS (
  SELECT s.event_type, s.hr, COALESCE(h.n, 0) AS n,
         ROW_NUMBER() OVER (PARTITION BY s.event_type ORDER BY s.hr) AS rn
  FROM spine s
  LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hr = h.hr
),
scored AS (
  SELECT event_type, hr, n, rn,
         {" + ".join(f"LAG(n, {k}, 0) OVER w * {_ewma_weight(k)}" for k in range(1, _EWMA_LAGS + 1))}
           AS ewma_x32768
  FROM dense
  WINDOW w AS (PARTITION BY event_type ORDER BY hr)
)
SELECT event_type,
       strftime(hr, '%Y-%m-%d %H:00:00') AS hour_bucket,
       CAST(n AS BIGINT) AS n_events,
       CAST(ewma_x32768 AS BIGINT) AS ewma_x32768,
       CAST(n * {_EWMA_SCALE} - ewma_x32768 AS BIGINT) AS resid_x32768,
       CAST(CASE WHEN n * {_EWMA_SCALE} > 2 * ewma_x32768 + 3 * {_EWMA_SCALE}
                 THEN 1 ELSE 0 END AS INT) AS is_burst
FROM scored
WHERE rn > {_EWMA_LAGS}
ORDER BY event_type, hour_bucket
"""


@register(
    "events_ewma_burst",
    _EWMA_SQL,
    doc="EWMA burst detector over hourly event counts — the batch twin "
    "of the streaming anomaly rule. alpha = 1/2 truncated at 16 lags "
    "makes every weight dyadic, so the baseline is carried as the "
    "EXACT integer ewma_x32768 (weights 2^(15-k) for lags 1..15 plus "
    "a 1-unit tail at lag 16, summing to 2^15) — zero float "
    "arithmetic, bit-identical across engines where a generic-alpha "
    "EWMA would drift on pow() ulps. The hourly rollup densifies onto "
    "a per-series sequence spine first so LAG row distance equals "
    "hour distance (a gap would otherwise shift every weight), "
    "warm-up rows (first 16 hours per series) are excluded, and the "
    "burst rule n > 2*ewma + 3 is integerized as n*32768 > "
    "2*ewma_x32768 + 3*32768. One shuffle on the series key; the 16 "
    "LAGs share a single window sort — at production cardinality the "
    "key widens to (entity, day-range) to bound any one partition.",
)
def events_ewma_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (events,) = load_tables(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    spine = _hour_spine(hourly)
    w = Window.partitionBy("event_type").orderBy("hr")
    dense = spine.join(hourly, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce("n", F.lit(0)).alias("n"),
    )
    ewma = sum(
        F.lag("n", k, 0).over(w) * F.lit(_ewma_weight(k))
        for k in range(1, _EWMA_LAGS + 1)
    )
    scored = dense.select(
        "event_type",
        "hr",
        "n",
        F.row_number().over(w).alias("rn"),
        ewma.alias("ewma_x32768"),
    )
    n_scaled = F.col("n") * _EWMA_SCALE
    return ordered(
        scored.where(F.col("rn") > _EWMA_LAGS)
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:00:00").alias("hour_bucket"),
            F.col("n").cast("long").alias("n_events"),
            F.col("ewma_x32768").cast("long").alias("ewma_x32768"),
            (n_scaled - F.col("ewma_x32768"))
            .cast("long")
            .alias("resid_x32768"),
            F.when(
                n_scaled > 2 * F.col("ewma_x32768") + 3 * _EWMA_SCALE, 1
            )
            .otherwise(0)
            .cast("int")
            .alias("is_burst"),
        ),
        "event_type",
        "hour_bucket",
    )


# --- new vs returning users + cumulative adoption -----------------------
#
# The growth-accounting readout next to events_dau_wau_mau: per day,
# how many active users are NEW (first-ever activity) vs RETURNING,
# plus the cumulative adoption curve. Shapes chosen for 100 TB: the
# first-activity day is one user-keyed aggregate (map-side partial
# min), daily actives one (user, day) dedup aggregate, and the
# cumulative sum is a triangular self-join over the per-DAY rollup —
# bounded by the calendar (<= days^2 pairs over ~31 rows here), the
# same bounded-prefix shape as the rank-statistics family, where a
# global running window would funnel the day table through one
# partition (harmless at 31 rows, a habit that kills at 10k series —
# the audit trail prefers the shape that never regresses).

_NEWRET_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
first_day AS (
  SELECT user_id, MIN(day) AS fday FROM ud GROUP BY user_id
),
daily AS (
  SELECT day,
         COUNT(*) AS n_active,
         SUM(CASE WHEN day = fday THEN 1 ELSE 0 END) AS n_new
  FROM ud JOIN first_day USING (user_id)
  GROUP BY day
)
SELECT d1.day,
       CAST(d1.n_active AS BIGINT) AS n_active,
       CAST(d1.n_new AS BIGINT) AS n_new,
       CAST(d1.n_active - d1.n_new AS BIGINT) AS n_returning,
       CAST(SUM(d2.n_new) AS BIGINT) AS cum_users
FROM daily d1 JOIN daily d2 ON d2.day <= d1.day
GROUP BY d1.day, d1.n_active, d1.n_new
ORDER BY d1.day
"""


@register(
    "events_new_vs_returning",
    _NEWRET_SQL,
    doc="Growth accounting: per day, active users split into NEW "
    "(first-ever activity that day) and RETURNING, plus the "
    "cumulative adoption curve. One user-keyed aggregate finds each "
    "user's first day (map-side partial MIN), one (user, day) dedup "
    "aggregate finds daily actives, and the cumulative sum is the "
    "rank-statistics family's triangular self-join over the per-DAY "
    "rollup — bounded by the calendar, never by user count, where the "
    "tempting global running window would single-partition the day "
    "table. Completes the engagement suite next to events_dau_wau_mau "
    "and events_retention_cohorts.",
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    first_day = ud.groupBy("user_id").agg(F.min("day").alias("fday"))
    daily = (
        ud.join(first_day, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(
                F.when(F.col("day") == F.col("fday"), 1).otherwise(0)
            ).alias("n_new"),
        )
    )
    d2 = daily.select(
        F.col("day").alias("day2"), F.col("n_new").alias("n_new2")
    )
    return ordered(
        daily.join(F.broadcast(d2), F.col("day2") <= F.col("day"))
        .groupBy("day", "n_active", "n_new")
        .agg(F.sum("n_new2").cast("long").alias("cum_users"))
        .select(
            "day",
            F.col("n_active").cast("long").alias("n_active"),
            F.col("n_new").cast("long").alias("n_new"),
            (F.col("n_active") - F.col("n_new"))
            .cast("long")
            .alias("n_returning"),
            "cum_users",
        ),
        "day",
    )


# --- pseudonymization with analytics-preservation proof ------------------
#
# GDPR-style pipelines replace user ids with consistent pseudonyms
# before analytics. The contract has three clauses: CONSISTENT (one
# user -> one pseudonym, so per-user analytics survive), COLLISION-FREE
# at corpus scale (two users never merge), and DERIVED-ONLY (the raw id
# never reaches the output). This query computes the events-per-user
# engagement histogram ENTIRELY over md5 pseudonyms while its oracle
# computes the same histogram over raw ids — the value-hash equality IS
# the preservation proof — and carries the distinct-count audit
# (n pseudonyms == n users) in-row so a collision or inconsistency
# flips the result, not just a log line. Pseudonym derivation is one
# map-side expression; nothing about the plan changes at 100 TB.

_PSEUDO_SALT = "graft-2026"

_PSEUDO_SQL = f"""
WITH per_user AS (
  SELECT md5('{_PSEUDO_SALT}:' || CAST(user_id AS VARCHAR)) AS pseudo_id,
         COUNT(*) AS n_events
  FROM events GROUP BY user_id
),
audit AS (
  SELECT COUNT(*) AS n_users, COUNT(DISTINCT pseudo_id) AS n_pseudo
  FROM per_user
)
SELECT pu.n_events AS events_per_user,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(MAX(a.n_users) AS BIGINT) AS total_users,
       CAST(MAX(a.n_pseudo) AS BIGINT) AS total_pseudonyms
FROM per_user pu CROSS JOIN audit a
GROUP BY pu.n_events
ORDER BY events_per_user
"""


@register(
    "privacy_pseudonymize_users",
    _PSEUDO_SQL,
    doc="Consistent pseudonymization with the preservation proof "
    "in-band: the events-per-user engagement histogram is computed "
    "entirely over salted-md5 pseudonyms while the oracle computes it "
    "over raw ids — hash equality proves per-user analytics survive "
    "the substitution — and the total_users == total_pseudonyms audit "
    "columns make a pseudonym collision (two users merging) a value "
    "diff rather than a silent undercount. Derivation is one map-side "
    "expression before the same user-keyed aggregate the raw pipeline "
    "runs; the raw id never appears in the output schema.",
)
def privacy_pseudonymize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    per_user = (
        events.select(
            F.md5(
                F.concat_ws(":", F.lit(_PSEUDO_SALT), F.col("user_id"))
            ).alias("pseudo_id")
        )
        .groupBy("pseudo_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    audit = per_user.agg(
        F.count(F.lit(1)).alias("total_users"),
        F.count_distinct("pseudo_id").alias("total_pseudonyms"),
    )
    return ordered(
        per_user.crossJoin(F.broadcast(audit))  # 1-row scalar audit
        .groupBy(F.col("n_events").alias("events_per_user"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.max("total_users").cast("long").alias("total_users"),
            F.max("total_pseudonyms").cast("long").alias("total_pseudonyms"),
        ),
        "events_per_user",
    )


# --- feature-store materialization: per-user daily training rows --------
#
# The ML feature-engineering face: churn/propensity models train on
# (entity, as-of-day) rows whose features are trailing aggregates and
# whose label peeks exactly one step ahead. Everything here is the
# shape a feature store materializes nightly: rows exist only for
# ACTIVE user-days (sparse, not a dense spine — the training set is
# label-driven), trailing windows use RANGE frames over an integer
# day index so calendar gaps weigh correctly (a ROWS frame would
# silently stretch across gaps), the label is leak-free (strictly
# future, exactly next-day), and monetary sums follow the decimal
# policy. One user-keyed exchange serves every window.

_FEATURES_SQL = """
WITH ud AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         COUNT(*) AS n_events_day,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_day
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT *, date_diff('day', DATE '2024-01-01', day) AS d FROM ud
)
SELECT user_id,
       strftime(day, '%Y-%m-%d') AS day,
       CAST(n_events_day AS BIGINT) AS n_events_day,
       value_day,
       CAST(SUM(n_events_day) OVER (PARTITION BY user_id ORDER BY d
              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS ev_7d,
       CAST(SUM(CAST(value_day AS DECIMAL(14,2))) OVER (
              PARTITION BY user_id ORDER BY d
              RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS val_30d,
       CAST(COALESCE(d - LAG(d) OVER (PARTITION BY user_id ORDER BY d),
                     -1) AS BIGINT) AS days_since_prev,
       CAST(SUM(n_events_day) OVER (PARTITION BY user_id ORDER BY d
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_events,
       CAST(CASE WHEN LEAD(d) OVER (PARTITION BY user_id ORDER BY d)
                      = d + 1
                 THEN 1 ELSE 0 END AS INT) AS label_active_next_day
FROM idx
ORDER BY user_id, day
"""


@register(
    "features_user_daily",
    _FEATURES_SQL,
    doc="Feature-store materialization for next-day-activity models: "
    "one training row per ACTIVE (user, day) with trailing-7d event "
    "and trailing-30d value features over RANGE frames keyed on an "
    "integer day index (calendar gaps weigh correctly — a ROWS frame "
    "would stretch across them), recency (days since previous "
    "activity, -1 for first), lifetime cumulative events, and a "
    "leak-free next-day label (LEAD of the day index == d+1, strictly "
    "future). Monetary sums follow the decimal policy; ONE user-keyed "
    "exchange serves all five windows. At production cardinality the "
    "partition key widens to (user, month) with a carry-in row — the "
    "standard feature-backfill sharding.",
)
def features_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (events,) = load_tables(spark, sf_dir, "events")
    ud = events.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events_day"),
        dsum(dec("value"), "value_day"),
    )
    idx = ud.withColumn(
        "d", F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
    )
    w = Window.partitionBy("user_id").orderBy("d")
    w7 = w.rangeBetween(-6, 0)
    w30 = w.rangeBetween(-29, 0)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    return ordered(
        idx.select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n_events_day").cast("long").alias("n_events_day"),
            "value_day",
            F.sum("n_events_day").over(w7).cast("long").alias("ev_7d"),
            F.sum(F.col("value_day").cast("decimal(14,2)"))
            .over(w30)
            .cast("double")
            .alias("val_30d"),
            F.coalesce(
                F.col("d") - F.lag("d").over(w), F.lit(-1)
            )
            .cast("long")
            .alias("days_since_prev"),
            F.sum("n_events_day").over(wcum).cast("long").alias("cum_events"),
            F.when(F.lead("d").over(w) == F.col("d") + 1, 1)
            .otherwise(0)
            .cast("int")
            .alias("label_active_next_day"),
        ),
        "user_id",
        "day",
    )


# --- leak-free target encoding (out-of-self category means) --------------
#
# Target encoding replaces a categorical feature with the target rate
# of its category — and done naively it LEAKS: row i's own label is
# inside its category mean, and a high-cardinality category memorizes
# its labels outright. The production form is leave-one-out PLUS prior
# smoothing: enc_i = (S_c - y_i + m * p_global) / (n_c - 1 + m). Both
# corrections are per-row arithmetic against a broadcast category
# table (|categories| rows) and one global scalar — no window, no
# shuffle beyond the category aggregate, the right shape at any row
# count. Everything is carried in exact integer permille with the
# global prior kept as an exact rational (numerator x denominator),
# so both engines agree bit-for-bit; the naive (leaky) encoding is
# emitted beside it so the self-exclusion is visible in-row.

_TENC_THRESHOLD = 150000.0
_TENC_M = 10  # prior pseudo-count

_TENC_SQL = f"""
WITH base AS (
  SELECT o_orderkey, o_orderpriority AS priority,
         CASE WHEN CAST(o_totalprice AS DOUBLE) > {_TENC_THRESHOLD}
              THEN 1 ELSE 0 END AS y
  FROM orders
),
cat AS (SELECT priority, SUM(y) AS s, COUNT(*) AS n FROM base GROUP BY priority),
g AS (SELECT SUM(y) AS sg, COUNT(*) AS ng FROM base)
SELECT b.o_orderkey,
       b.priority,
       CAST(b.y AS INT) AS y,
       CAST((1000 * c.s) // c.n AS BIGINT) AS naive_enc_permille,
       CAST((1000 * (c.s - b.y)) // (c.n - 1) AS BIGINT)
         AS loo_enc_permille,
       CAST((1000 * ((c.s - b.y) * g.ng + {_TENC_M} * g.sg))
            // ((c.n - 1 + {_TENC_M}) * g.ng) AS BIGINT)
         AS smoothed_enc_permille
FROM base b JOIN cat c ON b.priority = c.priority CROSS JOIN g
ORDER BY b.o_orderkey
"""


@register(
    "features_target_encoding",
    _TENC_SQL,
    doc=f"Leak-free target encoding of order priority against the "
    "high-value label: the naive category rate (emitted for "
    "contrast), the leave-one-out rate excluding each row's own "
    "label, and the production form — LOO with m={_TENC_M} "
    "pseudo-counts of the global prior, the smoothing that stops "
    "high-cardinality categories from memorizing labels. All three "
    "are exact integer permille, the global prior carried as an "
    "exact rational, so engines agree bit-for-bit; the encode pass "
    "is per-row arithmetic against a broadcast |categories|-row "
    "table plus one scalar — no window, no per-row shuffle, the "
    "same plan at any training-set size. Self-exclusion pinned in "
    "pytest.",
)
def features_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.when(
            F.col("o_totalprice").cast("double") > _TENC_THRESHOLD, 1
        )
        .otherwise(0)
        .alias("y"),
    )
    cat = base.groupBy("priority").agg(
        F.sum("y").alias("s"), F.count(F.lit(1)).alias("n")
    )
    g = base.agg(
        F.sum("y").alias("sg"), F.count(F.lit(1)).alias("ng")
    )
    return ordered(
        base.join(F.broadcast(cat), "priority")
        .crossJoin(F.broadcast(g))  # 1-row global prior scalar
        .select(
            "o_orderkey",
            "priority",
            F.col("y").cast("int").alias("y"),
            F.expr("(1000 * s) div n")
            .cast("long")
            .alias("naive_enc_permille"),
            F.expr("(1000 * (s - y)) div (n - 1)")
            .cast("long")
            .alias("loo_enc_permille"),
            F.expr(
                f"(1000 * ((s - y) * ng + {_TENC_M} * sg))"
                f" div ((n - 1 + {_TENC_M}) * ng)"
            )
            .cast("long")
            .alias("smoothed_enc_permille"),
        ),
        "o_orderkey",
    )


# --- PSI feature-drift monitor (ref deciles, smoothed) -------------------
#
# The Population Stability Index is the industry's default
# feature-monitoring metric (model-risk teams grade PSI < 0.1 stable,
# 0.1-0.25 watch, > 0.25 retrain); it completes the drift trio next to
# the KS two-sample test (distribution shift significance) and JSD
# (token-distribution divergence). Reference window = the first half
# of the period, current = the second; buckets are the REFERENCE
# deciles — exact percentiles computed as one 9-value scalar aggregate
# and broadcast, the RFM anti-NTILE discipline, so bucketing is a
# map-side comparison at any row count. Counts are exact integers with
# add-one smoothing (PSI's ln explodes on empty buckets); the
# probabilities both engines derive from identical integers, so the
# per-bucket terms and the total agree to the rounding grid.

_PSI_SPLIT_DAY = "2024-01-16"  # ref = days before, cur = days from


@register(
    "features_psi_drift",
    f"""
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CAST(ts AS DATE) >= DATE '{_PSI_SPLIT_DAY}' AS is_cur
  FROM events
),
bounds AS (
  SELECT quantile_cont(v, 0.1) AS b1, quantile_cont(v, 0.2) AS b2,
         quantile_cont(v, 0.3) AS b3, quantile_cont(v, 0.4) AS b4,
         quantile_cont(v, 0.5) AS b5, quantile_cont(v, 0.6) AS b6,
         quantile_cont(v, 0.7) AS b7, quantile_cont(v, 0.8) AS b8,
         quantile_cont(v, 0.9) AS b9
  FROM base WHERE NOT is_cur
),
bucketed AS (
  SELECT is_cur,
         CAST(v > b1 AS INT) + CAST(v > b2 AS INT) + CAST(v > b3 AS INT)
       + CAST(v > b4 AS INT) + CAST(v > b5 AS INT) + CAST(v > b6 AS INT)
       + CAST(v > b7 AS INT) + CAST(v > b8 AS INT) + CAST(v > b9 AS INT)
           AS bucket_id
  FROM base, bounds
),
counts AS (
  SELECT bucket_id,
         SUM(CASE WHEN is_cur THEN 0 ELSE 1 END) AS n_ref,
         SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) AS n_cur
  FROM bucketed GROUP BY bucket_id
),
tot AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM counts),
terms AS (
  SELECT bucket_id, n_ref, n_cur,
         (CAST(n_cur + 1 AS DOUBLE) / (tc + 10)
          - CAST(n_ref + 1 AS DOUBLE) / (tr + 10))
         * ln((CAST(n_cur + 1 AS DOUBLE) / (tc + 10))
              / (CAST(n_ref + 1 AS DOUBLE) / (tr + 10))) AS term
  FROM counts CROSS JOIN tot
)
SELECT CAST(bucket_id AS INT) AS bucket_id,
       CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       ROUND(term, 6) AS psi_term,
       ROUND(SUM(term) OVER (), 6) AS psi_total
FROM terms
ORDER BY bucket_id
""",
    doc="PSI feature-drift monitor between the period's first half "
    "(reference) and second half (current): buckets are the exact "
    "REFERENCE deciles computed as one 9-value scalar aggregate and "
    "broadcast (map-side comparison bucketing, no NTILE funnel — the "
    "RFM discipline), counts are exact integers with add-one "
    "smoothing so ln never sees an empty bucket, and per-bucket PSI "
    "terms plus the total ride every row. Completes the drift trio "
    "next to events_ks_two_sample (significance) and "
    "corpus_js_divergence (token distributions); the total is a "
    "1-row scalar aggregate broadcast back onto the 10 bucket rows — "
    "no global window funnel, per this repo's own lint.",
)
def features_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    base = events.select(
        F.col("value").cast("double").alias("v"),
        (
            F.col("ts").cast("date")
            >= F.lit(_PSI_SPLIT_DAY).cast("date")
        ).alias("is_cur"),
    )
    qs = [i / 10 for i in range(1, 10)]
    bounds = base.where(~F.col("is_cur")).agg(
        *[F.percentile("v", F.lit(q)).alias(f"b{int(q * 10)}") for q in qs]
    )
    bucket = sum(
        (F.col("v") > F.col(f"b{i}")).cast("int") for i in range(1, 10)
    )
    counts = (
        base.crossJoin(F.broadcast(bounds))  # 1-row decile scalar
        .select("is_cur", bucket.alias("bucket_id"))
        .groupBy("bucket_id")
        .agg(
            F.sum(F.when(F.col("is_cur"), 0).otherwise(1)).alias("n_ref"),
            F.sum(F.when(F.col("is_cur"), 1).otherwise(0)).alias("n_cur"),
        )
    )
    tot = counts.agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    p_ref = (F.col("n_ref") + 1).cast("double") / (F.col("tr") + 10)
    p_cur = (F.col("n_cur") + 1).cast("double") / (F.col("tc") + 10)
    terms = counts.crossJoin(F.broadcast(tot)).select(  # 1-row totals
        "bucket_id",
        "n_ref",
        "n_cur",
        ((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("term"),
    )
    # total as a 1-row scalar aggregate broadcast back — the same
    # 10 bucket rows a global window would funnel, without the funnel
    total = terms.agg(F.sum("term").alias("psi_sum"))
    return ordered(
        terms.crossJoin(F.broadcast(total))
        .select(
            F.col("bucket_id").cast("int").alias("bucket_id"),
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            F.round("term", 6).alias("psi_term"),
            F.round("psi_sum", 6).alias("psi_total"),
        ),
        "bucket_id",
    )


# --- forecast backtest: naive vs seasonal-naive, exact MASE ---------------
#
# The detector family (MAD, CUSUM, EWMA, decomposition) flags
# anomalies; a FORECASTING pipeline also needs backtests — and the
# standard scale-free yardstick is MASE (Hyndman & Koehler): a model's
# absolute error scaled by the one-step naive walk's. Both baselines
# here are the canonical ones every forecast must beat — naive
# (y_hat = yesterday's hour) and seasonal-naive (y_hat = the same hour
# one day earlier, period 24) — and because hourly counts are
# integers, every error, error sum, and the MASE ratio (integer
# permille) is EXACT: the rare forecast metric with no float in it.
# Dense spine first so LAG distance equals hour distance; evaluation
# starts after the longest lookback so both baselines score the same
# rows.

_BACKTEST_PERIOD = 24

_BACKTEST_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi FROM hourly GROUP BY 1
),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
  FROM bounds
),
dense AS (
  SELECT s.event_type, s.hr, COALESCE(h.n, 0) AS n,
         ROW_NUMBER() OVER (PARTITION BY s.event_type ORDER BY s.hr) AS rn
  FROM spine s
  LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hr = h.hr
),
scored AS (
  SELECT event_type, n, rn,
         LAG(n, 1) OVER w AS f_naive,
         LAG(n, {_BACKTEST_PERIOD}) OVER w AS f_seasonal
  FROM dense
  WINDOW w AS (PARTITION BY event_type ORDER BY hr)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(ABS(n - f_naive)) AS BIGINT) AS sae_naive,
       CAST(SUM(ABS(n - f_seasonal)) AS BIGINT) AS sae_seasonal,
       CAST(CASE WHEN SUM(ABS(n - f_naive)) = 0 THEN NULL
                 ELSE (1000 * SUM(ABS(n - f_seasonal)))
                      // SUM(ABS(n - f_naive)) END AS BIGINT)
         AS mase_permille
FROM scored
WHERE rn > {_BACKTEST_PERIOD}
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "events_forecast_backtest",
    _BACKTEST_SQL,
    doc=f"Forecast backtest on the hourly series: the two canonical "
    "baselines every model must beat — naive (previous hour) and "
    f"seasonal-naive (same hour {_BACKTEST_PERIOD} hours earlier) — "
    "scored with MASE, the scale-free standard (seasonal absolute "
    "error over naive absolute error, here as exact integer permille "
    "because hourly counts are integers: the rare forecast metric "
    "with no float anywhere). Dense per-series spine so LAG distance "
    "equals hour distance; evaluation starts after the longest "
    "lookback so both baselines score identical rows; one series-"
    "keyed exchange serves both lags. mase_permille < 1000 means "
    "daily seasonality is real and a seasonal model is worth "
    "training — the go/no-go readout a forecasting pipeline gates "
    "on.",
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (events,) = load_tables(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    spine = _hour_spine(hourly)
    w = Window.partitionBy("event_type").orderBy("hr")
    dense = spine.join(hourly, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce("n", F.lit(0)).alias("n"),
    )
    scored = dense.select(
        "event_type",
        "n",
        F.row_number().over(w).alias("rn"),
        F.lag("n", 1).over(w).alias("f_naive"),
        F.lag("n", _BACKTEST_PERIOD).over(w).alias("f_seasonal"),
    )
    return ordered(
        scored.where(F.col("rn") > _BACKTEST_PERIOD)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(F.abs(F.col("n") - F.col("f_naive")))
            .cast("long")
            .alias("sae_naive"),
            F.sum(F.abs(F.col("n") - F.col("f_seasonal")))
            .cast("long")
            .alias("sae_seasonal"),
            F.expr(
                "CASE WHEN sum(abs(n - f_naive)) = 0 THEN NULL"
                " ELSE (1000 * sum(abs(n - f_seasonal)))"
                " div sum(abs(n - f_naive)) END"
            )
            .cast("long")
            .alias("mase_permille"),
        ),
        "event_type",
    )
