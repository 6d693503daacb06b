from _imdb_etl_spark.streaming.events import (
    read_events_stream,
    streaming_sessionize,
)
from _imdb_etl_spark.streaming import stateful  # noqa: F401  (registers query)
from _imdb_etl_spark.streaming import corpus as _corpus  # noqa: F401  (registers query)

__all__ = ["read_events_stream", "streaming_sessionize"]
