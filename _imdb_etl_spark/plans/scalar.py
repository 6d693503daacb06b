"""Scalar-surface parity suites (SURVEY.md §2.8): null semantics,
string functions, and date/time functions, each pinned against the
DuckDB oracle so engine-specific edge behavior (null propagation,
1-based indexing, week-day numbering) is proven, not assumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import ordered
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.sources import load_tables

_NULL_SQL = """
WITH t AS (
  SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg, c_acctbal
  FROM customer
),
d AS (SELECT DISTINCT seg FROM t)
SELECT d.seg,
       COUNT(*) AS n_rows,
       COUNT(t.seg) AS n_nonnull,
       COALESCE(d.seg, 'SUPPRESSED') AS seg_label,
       ROUND(SUM(t.c_acctbal), 2) AS sum_bal
FROM t JOIN d ON t.seg IS NOT DISTINCT FROM d.seg
GROUP BY d.seg
ORDER BY d.seg NULLS FIRST
"""


@register(
    "scalar_null_suite",
    _NULL_SQL,
    doc="Null-semantics suite: NULLIF-manufactured nulls, a NULL-safe "
    "equality join key (eqNullSafe <-> IS NOT DISTINCT FROM — still an "
    "equi predicate, so it hash-joins, never nested-loops), COUNT(*) vs "
    "COUNT(col) null skipping, COALESCE labeling, and NULLS FIRST "
    "ordering.",
)
def scalar_null_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    (customer,) = load_tables(spark, sf_dir, "customer")
    t = customer.select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
        "c_acctbal",
    )
    d = t.select(F.col("seg").alias("dseg")).distinct()
    return ordered(
        t.join(d, F.col("seg").eqNullSafe(F.col("dseg")))
        .groupBy("dseg")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("seg").alias("n_nonnull"),
            F.sum("c_acctbal").alias("raw_bal"),
        )
        .select(
            F.col("dseg").alias("seg"),
            "n_rows",
            "n_nonnull",
            F.coalesce("dseg", F.lit("SUPPRESSED")).alias("seg_label"),
            F.round("raw_bal", 2).alias("sum_bal"),
        ),
        F.asc_nulls_first("seg"),
    )


_STRING_SQL = """
SELECT p_partkey,
       UPPER(p_name) AS name_upper,
       substr(p_name, 1, 8) AS name_prefix,
       lpad(p_brand, 12, '*') AS brand_padded,
       replace(p_type, ' ', '_') AS type_snake,
       reverse(p_brand) AS brand_rev,
       levenshtein(p_brand, 'Brand#1') AS brand_dist,
       strpos(p_type, ' ') AS first_space,
       length(p_name) AS name_len
FROM part
ORDER BY p_partkey
"""


@register(
    "scalar_string_suite",
    _STRING_SQL,
    doc="String-function parity: case mapping, 1-based substr/instr, "
    "lpad, replace, reverse, Levenshtein distance, length — all "
    "codegen'd narrow expressions.",
)
def scalar_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = load_tables(spark, sf_dir, "part")
    return ordered(
        part.select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.substring("p_name", 1, 8).alias("name_prefix"),
            F.lpad("p_brand", 12, "*").alias("brand_padded"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
            F.reverse("p_brand").alias("brand_rev"),
            F.levenshtein("p_brand", F.lit("Brand#1")).alias("brand_dist"),
            F.instr("p_type", " ").alias("first_space"),
            F.length("p_name").alias("name_len"),
        ),
        "p_partkey",
    )


_DATE_SQL = """
SELECT o_orderkey,
       EXTRACT(year FROM o_orderdate) AS order_year,
       EXTRACT(quarter FROM o_orderdate) AS order_quarter,
       EXTRACT(month FROM o_orderdate) AS order_month,
       EXTRACT(day FROM o_orderdate) AS order_day,
       dayofweek(o_orderdate) + 1 AS order_dow,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d')
         AS due_date,
       datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_95
FROM orders
"""


@register(
    "scalar_date_suite",
    _DATE_SQL,
    doc="Date/time parity: EXTRACT fields, day-of-week (Spark's 1=Sunday "
    "vs DuckDB's 0=Sunday reconciled explicitly), month truncation, "
    "last_day, interval arithmetic, and day difference from an epoch. "
    "No global ORDER BY (round 10): with no LIMIT it carries no "
    "information (the driver hash is order-insensitive) yet range-"
    "sorts the full projection — the widest of the scalar suites "
    "(orders x 10 columns, three of them formatted strings) — and the "
    "1000x probe measured that sort at 20.7x per decade (86.8 s at "
    "272M rows) where the sibling suites on the 15x-smaller part "
    "table run ~5 s; dropped from BOTH engines, the "
    "events_props_udtf precedent.",
)
def scalar_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).alias("order_year"),
        F.quarter(d).alias("order_quarter"),
        F.month(d).alias("order_month"),
        F.dayofmonth(d).alias("order_day"),
        F.dayofweek(d).alias("order_dow"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_add(d.cast("date"), 30), "yyyy-MM-dd").alias("due_date"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
    )


_GSETS_SQL = """
SELECT o_orderpriority AS priority,
       EXTRACT(year FROM o_orderdate) AS order_year,
       GROUPING(o_orderpriority, EXTRACT(year FROM o_orderdate)) AS gid,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (EXTRACT(year FROM o_orderdate)))
ORDER BY gid, priority NULLS FIRST, order_year NULLS FIRST
"""


@register(
    "grouping_sets_mixed",
    _GSETS_SQL,
    doc="Arbitrary (non-hierarchical) GROUPING SETS: per-priority and "
    "per-year marginals in one Expand pass — what rollup/cube cannot "
    "express, one scan instead of a UNION of two aggregations.",
)
def grouping_sets_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    projected = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").alias("order_year"),
    )
    prio, yr = F.col("priority"), F.col("order_year")
    return ordered(
        projected.groupingSets([[prio], [yr]], prio, yr)
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
        ),
        "gid",
        F.asc_nulls_first("priority"),
        F.asc_nulls_first("order_year"),
    )


_ARRAY_SQL = """
SELECT vec_id,
       round(CAST(embedding[1] AS DOUBLE), 6) AS first_dim,
       round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_dim,
       list_position(embedding, list_max(embedding)) AS argmax_1based,
       round(CAST(list_sum(list_transform(embedding[1:8],
             x -> CAST(x AS DOUBLE))) AS DOUBLE), 6) AS head_sum,
       len(list_filter(embedding, x -> x > 0)) AS n_positive,
       round(CAST(list_sort(list_transform(embedding,
             x -> CAST(x AS DOUBLE)))[1] AS DOUBLE), 6) AS min_dim
FROM embeddings
ORDER BY vec_id
"""


@register(
    "scalar_array_suite",
    _ARRAY_SQL,
    doc="Array-function parity over the embedding column: 1-based "
    "element_at/array_position, array_max, slice + fold, lambda filter "
    "counts, array_sort — the Spark array surface against DuckDB's "
    "list functions.",
)
def scalar_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return ordered(
        emb.select(
            "vec_id",
            F.round(F.element_at(e, 1).cast("double"), 6).alias("first_dim"),
            F.round(F.array_max(e).cast("double"), 6).alias("max_dim"),
            F.array_position(e, F.array_max(e)).alias("argmax_1based"),
            F.round(
                F.aggregate(
                    F.slice(e, 1, 8), F.lit(0.0), lambda a, x: a + x.cast("double")
                ),
                6,
            ).alias("head_sum"),
            F.size(F.filter(e, lambda x: x > 0)).alias("n_positive"),
            F.round(F.element_at(F.array_sort(e), 1).cast("double"), 6).alias(
                "min_dim"
            ),
        ),
        "vec_id",
    )


_COLLATION_SQL = """
WITH mixed AS (
  SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_type) ELSE lower(p_type) END AS t,
         p_partkey
  FROM part
)
SELECT lower(t) AS type_lc,
       COUNT(*) AS n,
       CAST(SUM(p_partkey) AS BIGINT) AS sum_key
FROM mixed
GROUP BY lower(t)
ORDER BY type_lc
"""


@register(
    "collation_ci_group",
    _COLLATION_SQL,
    doc="Collation-aware grouping (new in Spark 4): a deterministically "
    "case-mixed key grouped under UTF8_LCASE merges case variants "
    "inside the hash aggregate itself — no lower() copy of the column, "
    "and at scale no double-materialization of a normalized key. The "
    "group key is projected through lower() afterwards because the "
    "collation-group representative is an arbitrary case variant; the "
    "DuckDB twin groups by lower(t) directly.",
)
def collation_ci_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = load_tables(spark, sf_dir, "part")
    mixed = (
        F.when(F.col("p_partkey") % 2 == 0, F.upper("p_type"))
        .otherwise(F.lower("p_type"))
    )
    return ordered(
        part.select(F.collate(mixed, "UTF8_LCASE").alias("t"), "p_partkey")
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("p_partkey").cast("long").alias("sum_key"),
        )
        .select(F.lower("t").alias("type_lc"), "n", "sum_key"),
        "type_lc",
    )


_TS_SQL = """
SELECT event_id,
       epoch_ms(ts) AS ts_millis,
       CAST(floor(epoch_ms(ts) / 1000) AS BIGINT) AS ts_seconds,
       EXTRACT(hour FROM ts) AS ts_hour,
       EXTRACT(minute FROM ts) AS ts_minute,
       EXTRACT(second FROM ts) AS ts_second,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S')
         AS minute_start,
       strftime(ts + INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S')
         AS ts_plus_90m,
       CAST(datediff('day', TIMESTAMP '2024-01-01 00:00:00', ts)
            AS BIGINT) AS days_since_2024,
       strftime(make_timestamp(
         CAST(EXTRACT(year FROM ts) AS BIGINT),
         CAST(EXTRACT(month FROM ts) AS BIGINT),
         CAST(EXTRACT(day FROM ts) AS BIGINT),
         CAST(EXTRACT(hour FROM ts) AS BIGINT), 0, 0.0),
         '%Y-%m-%d %H:%M:%S') AS rebuilt_hour
FROM events
WHERE event_id < 200
ORDER BY event_id
"""


@register(
    "scalar_timestamp_suite",
    _TS_SQL,
    doc="Timestamp parity: epoch round trips in exact integer "
    "millis/seconds, EXTRACT of hour/minute/second, hour and minute "
    "truncation rendered through each engine's formatter, interval "
    "arithmetic (+90 minutes), whole-day difference against a "
    "timestamp literal (both engines count date boundaries), and "
    "make_timestamp reassembly from extracted parts. The session "
    "timezone is pinned UTC on the driver path (sources/catalog.py), "
    "which is what makes every one of these engine-identical.",
)
def scalar_timestamp_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    ts = F.col("ts")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return ordered(
        events.where(F.col("event_id") < 200)
        .select(
            "event_id",
            F.unix_millis(ts).alias("ts_millis"),
            # floor, not div: div truncates toward zero, which diverges
            # from DuckDB's floor semantics for pre-1970 (negative
            # epoch-milli) timestamps — floor keeps the twins
            # engine-identical for all inputs
            F.expr("CAST(floor(unix_millis(ts) / 1000) AS BIGINT)").alias(
                "ts_seconds"
            ),
            F.hour(ts).alias("ts_hour"),
            F.minute(ts).alias("ts_minute"),
            F.second(ts).alias("ts_second"),
            F.date_format(F.date_trunc("hour", ts), fmt).alias("hour_start"),
            F.date_format(F.date_trunc("minute", ts), fmt).alias(
                "minute_start"
            ),
            F.date_format(
                ts + F.expr("INTERVAL 90 MINUTES"), fmt
            ).alias("ts_plus_90m"),
            F.datediff(
                ts.cast("date"), F.lit("2024-01-01").cast("date")
            )
            .cast("long")
            .alias("days_since_2024"),
            F.date_format(
                F.make_timestamp(
                    F.year(ts),
                    F.month(ts),
                    F.dayofmonth(ts),
                    F.hour(ts),
                    F.lit(0),
                    F.lit(0),
                ),
                fmt,
            ).alias("rebuilt_hour"),
        ),
        "event_id",
    )


# --- map-function suite ------------------------------------------------

_MAP_SQL = """
WITH o AS (
  SELECT o_orderkey,
         o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
         CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr
  FROM orders WHERE o_orderkey <= 400
)
SELECT o_orderkey,
       2 AS m_size,
       o_orderstatus AS status_val,
       array_to_string(list_sort(['price=' || CAST(cents * 2 AS VARCHAR),
                                  'year=' || CAST(yr * 2 AS VARCHAR)]), ',')
         AS doubled,
       array_to_string(list_sort(list_filter(
           ['price=' || CAST(cents AS VARCHAR), 'year=' || CAST(yr AS VARCHAR)],
           x -> CAST(string_split(x, '=')[2] AS BIGINT) > 100000)), ',')
         AS big_entries,
       array_to_string(list_sort(['price=' || CAST(cents + yr AS VARCHAR),
                                  'year=' || CAST(yr + cents AS VARCHAR)]), ',')
         AS zipped,
       array_to_string(list_sort(['prio', 'status']), ',') AS keys_sorted
FROM o
ORDER BY o_orderkey
"""


def _map_str(m) -> "F.Column":
    """Canonical cross-engine map rendering: sorted 'k=v' entry list."""
    return F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries(m),
                lambda e: F.concat_ws("=", e.key, e.value.cast("string")),
            )
        ),
        ",",
    )


@register(
    "scalar_map_suite",
    _MAP_SQL,
    doc="Map-type function parity: create_map / map_from_arrays "
    "construction, element_at lookup, transform_values, map_filter "
    "(lambda over entries), map_zip_with (per-key combine), map_keys, "
    "size — the Spark map surface. Maps have no deterministic physical "
    "entry order in either engine, so every map-valued result is "
    "rendered through ONE canonical serialization (sorted 'k=v' entry "
    "strings); the DuckDB twin computes the expected entries directly "
    "from the same construction, so the hash pins lookup, lambda, and "
    "combine semantics, not storage order. All codegen-side, "
    "per-row-narrow — no shuffle beyond the final presentation sort.",
)
def scalar_map_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    o = orders.where(F.col("o_orderkey") <= 400).select(
        "o_orderkey",
        "o_orderstatus",
        # decimal first: a double*100 truncates vs rounds differently
        # across engines on .xx5 representations
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
        F.year("o_orderdate").cast("long").alias("yr"),
    )
    nums = F.map_from_arrays(
        F.array(F.lit("price"), F.lit("year")),
        F.array(F.col("cents"), F.col("yr")),
    )
    strs = F.map_concat(
        F.create_map(F.lit("status"), F.col("o_orderstatus")),
        F.create_map(F.lit("prio"), F.lit("std")),
    )
    return ordered(
        o.select(
            "o_orderkey",
            F.size(nums).alias("m_size"),
            F.element_at(strs, "status").alias("status_val"),
            _map_str(F.transform_values(nums, lambda k, v: v * 2)).alias(
                "doubled"
            ),
            _map_str(F.map_filter(nums, lambda k, v: v > 100000)).alias(
                "big_entries"
            ),
            _map_str(
                F.map_zip_with(
                    nums,
                    F.map_from_arrays(
                        F.array(F.lit("price"), F.lit("year")),
                        F.array(F.col("yr"), F.col("cents")),
                    ),
                    lambda k, v1, v2: v1 + v2,
                )
            ).alias("zipped"),
            F.array_join(F.array_sort(F.map_keys(strs)), ",").alias(
                "keys_sorted"
            ),
        ),
        "o_orderkey",
    )


# --- bitwise scalar + aggregate surface --------------------------------
#
# Bit-manipulation parity: shifts, masks, xor folding, popcount, and
# the BIT_AND/BIT_OR/BIT_XOR aggregate family — the primitives behind
# bitmap indexes (distinct_users_bitmap_exact), bloom filters, and
# simhash-style signatures, surfaced as a first-class scalar suite.
# Integer-only: every value is exact in both engines.

_BITWISE_SQL = """
SELECT user_id % 64 AS bucket,
       COUNT(*) AS n,
       CAST(BIT_AND(event_id & 255) AS BIGINT) AS and_mask,
       CAST(BIT_OR(event_id & 255) AS BIGINT) AS or_mask,
       CAST(BIT_XOR(event_id) AS BIGINT) AS xor_fold,
       CAST(SUM(bit_count(CAST(event_id & 1023 AS BIGINT))) AS BIGINT)
         AS total_popcount,
       CAST(MAX((event_id & 15) << 2) AS BIGINT) AS max_shifted,
       CAST(MIN(event_id >> 4) AS BIGINT) AS min_shifted_down
FROM events
GROUP BY 1
ORDER BY bucket
"""


@register(
    "scalar_bitwise_suite",
    _BITWISE_SQL,
    doc="Bitwise parity suite: &, |, xor-fold, shifts, popcount "
    "(bit_count) and the BIT_AND/BIT_OR/BIT_XOR aggregates per user "
    "bucket — integer-exact in both engines, the primitive layer under "
    "the bitmap/bloom/simhash operators.",
)
def scalar_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    eid = F.col("event_id")
    return ordered(
        events.groupBy((F.col("user_id") % 64).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_and(eid.bitwiseAND(255)).cast("long").alias("and_mask"),
            F.bit_or(eid.bitwiseAND(255)).cast("long").alias("or_mask"),
            F.bit_xor(eid).cast("long").alias("xor_fold"),
            F.sum(F.bit_count(eid.bitwiseAND(1023).cast("long")))
            .cast("long")
            .alias("total_popcount"),
            F.max(F.shiftleft(eid.bitwiseAND(15), 2))
            .cast("long")
            .alias("max_shifted"),
            F.min(F.shiftright(eid, 4)).cast("long").alias("min_shifted_down"),
        ),
        "bucket",
    )


# --- error-safe scalar surface (try_*) ------------------------------------
#
# Spark 4 runs ANSI mode by default: a bad cast, a division by zero,
# an integer overflow, or an invalid array index is a QUERY-KILLING
# error — which is correct for a warehouse but fatal for a 100 TB
# ingest pass where one malformed row of a trillion must become a
# NULL, not an abort. The try_* family is that contract, and this
# suite pins each member against a DuckDB twin that manufactures the
# identical NULLs (TRY_CAST where DuckDB has it, explicit CASE
# mirrors where it does not): try_cast on a dirty string column,
# try_divide on a zero-cycling denominator, try_add at the int64
# ceiling, try_element_at on out-of-range indexes (index 0 is invalid
# USAGE — try_* forgives bad data, not bad queries — so the cycle
# stays 1-based). Dirty
# inputs are manufactured deterministically from the key so every
# error path has rows.
#
# add_val domain pin (round 10, ADVICE; corrected round 11 — the
# testdata DOES contain pk = 0): pk = p_partkey >= 0 always (pinned
# by test_try_suite_add_val_domain_holds), and both engines'
# formulations are written to that domain — the
# oracle CASE arms carry explicit pk > 0 / pk >= 0 guards so the
# equivalence with Spark's try_add(max_long-or-0, pk) is visible: for
# a hypothetical NEGATIVE multiple of 1024 (outside the domain) Spark
# would yield max_long + pk while the guarded oracle falls through to
# pk; neither arm claims to cover it.

_TRY_SQL = """
WITH base AS (
  SELECT p_partkey AS pk,
         CASE WHEN p_partkey % 3 = 0 THEN CAST(p_retailprice AS VARCHAR)
              WHEN p_partkey % 3 = 1 THEN 'not-a-number'
              ELSE '' END AS dirty,
         p_partkey % 5 AS denom,
         CAST(p_retailprice AS DECIMAL(12,2)) AS price
  FROM part
)
SELECT pk,
       ROUND(TRY_CAST(dirty AS DOUBLE), 2) AS cast_val,
       CAST(CASE WHEN denom = 0 THEN NULL
                 ELSE CAST(price AS DOUBLE) / denom END AS DOUBLE)
         AS div_val,
       CASE WHEN pk % 1024 = 0 AND pk > 0 THEN NULL
            WHEN pk % 1024 = 0 AND pk >= 0 THEN 9223372036854775807
            ELSE pk END AS add_val,
       CASE WHEN 1 + pk % 4 = 1 THEN 'a' WHEN 1 + pk % 4 = 2 THEN 'b'
            ELSE NULL END AS elem_val
FROM base
ORDER BY pk
"""


@register(
    "scalar_try_suite",
    _TRY_SQL,
    doc="Error-safe scalar suite for ANSI mode (the Spark 4 default, "
    "where a bad cast or division by zero kills the query): try_cast "
    "over a deterministically dirty string column, try_divide on a "
    "zero-cycling denominator, try_add saturating at the int64 "
    "ceiling, try_element_at on out-of-range indexes — "
    "each producing NULL for exactly the rows the oracle's explicit "
    "CASE mirrors produce. This is the one-malformed-row-in-a-"
    "trillion contract a 100 TB ingest pass needs: errors become "
    "NULLs to count and quarantine, never aborts.",
)
def scalar_try_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = load_tables(spark, sf_dir, "part")
    dirty = (
        F.when(F.col("p_partkey") % 3 == 0, F.col("p_retailprice").cast("string"))
        .when(F.col("p_partkey") % 3 == 1, F.lit("not-a-number"))
        .otherwise(F.lit(""))
    )
    base = part.select(
        F.col("p_partkey").alias("pk"),
        dirty.alias("dirty"),
        (F.col("p_partkey") % 5).alias("denom"),
        F.col("p_retailprice").cast("decimal(12,2)").alias("price"),
    )
    max_long = F.lit(9223372036854775807).cast("long")
    # the overflowing addend hits 1 row in 1024, NOT every row: Spark's
    # try_* error path is exception-driven in the JVM (~8 us/row
    # measured — an all-overflow column cost 16.4 s of this suite's
    # 31.7 s at 100x, 30x its siblings), so the suite exercises the
    # documented rare-malformed-row contract rather than inverting it.
    # A real ingest pass should do the same: try_* for rare errors, a
    # cheap guard first when a column is majority-malformed.
    overflow_base = F.when(F.col("pk") % 1024 == 0, max_long).otherwise(
        F.lit(0).cast("long")
    )
    return ordered(
        base.select(
            "pk",
            F.round(F.expr("try_cast(dirty AS DOUBLE)"), 2).alias("cast_val"),
            F.try_divide(F.col("price").cast("double"), F.col("denom"))
            .cast("double")
            .alias("div_val"),
            F.try_add(overflow_base, F.col("pk")).alias("add_val"),
            # index cycles 1..4: 1-2 resolve, 3-4 are out of range -> NULL
            # (index 0 is invalid USAGE, which try_element_at still raises)
            F.try_element_at(
                F.array(F.lit("a"), F.lit("b")),
                (1 + F.col("pk") % 4).cast("int"),
            ).alias("elem_val"),
        ),
        "pk",
    )
