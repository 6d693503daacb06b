"""Custom stateful streaming operator via applyInPandasWithState — the
escape hatch for semantics the built-in windowed aggregates can't
express (per-key running state with arbitrary Python transition logic).

The example operator keeps per-user running totals (event count + value
sum). Money accumulates as integer cents inside the state, so the state
transition is exact and order-independent — the same discipline as the
engine's decimal-sum policy, which is what lets the bounded run
hash-match a declarative DuckDB oracle.

Scale: state lives in the state store keyed by user_id (one shuffle on
the grouping key); watermark-driven timeouts would bound state for
abandoned keys in a production config (GroupStateTimeout.NoTimeout here
since the driver check replays a bounded input).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from _imdb_etl_spark.functions import ordered
from _imdb_etl_spark.registry import register
from _imdb_etl_spark.streaming.events import _run_to_memory, read_events_stream

_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("cents", LongType())]
)


def _update_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # per-row integer-cents accumulation: exact, order-independent
        cents += int((pdf["value"] * 100).round().astype("int64").sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_totals,
            _OUTPUT_SCHEMA,
            _STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


_TOTALS_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "streaming_stateful_user_totals",
    _TOTALS_SQL,
    doc="applyInPandasWithState custom stateful operator: per-user "
    "running totals with integer-cents state, run end-to-end "
    "(file source -> state store -> memory sink) and hash-matched "
    "against the declarative oracle on the bounded input.",
)
def streaming_stateful_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    totals = running_user_totals(events)
    # update-mode memory sink appends one row per (batch, user); keep the
    # final state per user (max n_events is the latest)
    out = _run_to_memory(totals, output_mode="update")
    return ordered(
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        ),
        "user_id",
    )


# --- transformWithStateInPandas (Spark 4 arbitrary-state API) --------
#
# The successor API to applyInPandasWithState: a StatefulProcessor
# object with named, individually-evolvable state variables
# (value/list/map), TTL support, and timers — registered here as its
# own end-to-end query so both stateful APIs are exercised against the
# same oracle discipline. State is integer cents again: exact,
# order-independent transitions are what make a replayed bounded run
# hash-match the declarative DuckDB twin.

_TWS_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("max_value", DoubleType()),
        StructField("min_value", DoubleType()),
    ]
)


def _make_processor():
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class UserExtremes(StatefulProcessor):
        def init(self, handle):
            self._state = handle.getValueState(
                "extremes", "n BIGINT, maxc BIGINT, minc BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, maxc, minc = self._state.get()
            else:
                n, maxc, minc = 0, None, None
            for pdf in rows:
                cents = (pdf["value"] * 100).round().astype("int64")
                n += len(pdf)
                batch_max, batch_min = int(cents.max()), int(cents.min())
                maxc = batch_max if maxc is None else max(maxc, batch_max)
                minc = batch_min if minc is None else min(minc, batch_min)
            self._state.update((n, maxc, minc))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "max_value": [maxc / 100.0],
                    "min_value": [minc / 100.0],
                }
            )

        def close(self):
            pass

    return UserExtremes()


def running_user_extremes(events: DataFrame) -> DataFrame:
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_make_processor(),
            outputStructType=_TWS_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
    )


_TWS_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(CAST(MAX(CAST(value AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS DOUBLE)
         AS max_value,
       CAST(CAST(MIN(CAST(value AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS DOUBLE)
         AS min_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def _have_protobuf() -> bool:
    # the transformWithState state-server protocol is protobuf-based;
    # without the package the spawned state client crashes. Gate the
    # registration (not just the run) so the driver gate only sees
    # runnable queries; the operator code itself is environment-free.
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _register_tws(fn):
    if not _have_protobuf():
        return fn
    return register(
        "streaming_transform_with_state",
        _TWS_SQL,
        doc=_TWS_DOC,
    )(fn)


_TWS_DOC = (
    "Spark 4 transformWithStateInPandas stateful operator (the "
    "successor to applyInPandasWithState): per-user running count and "
    "value extremes kept in a named ValueState with a typed schema — "
    "the API that adds individually-evolvable state variables, TTL, "
    "and timers. Integer-cents transitions keep the state exact and "
    "order-independent, so the bounded end-to-end run (file source -> "
    "state store -> memory sink) hash-matches the declarative oracle. "
    "Registered only when protobuf (the state-server wire format) is "
    "importable; tests skip likewise."
)


@_register_tws
def streaming_tws_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    extremes = running_user_extremes(events)
    out = _run_to_memory(extremes, output_mode="update")
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("max_value", "n_events").alias("max_value"),
            F.max_by("min_value", "n_events").alias("min_value"),
        )
        .orderBy("user_id")
    )
