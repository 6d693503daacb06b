"""foreachBatch idempotent parquet sink: completeness on first run,
no duplication on checkpointed re-run."""

from __future__ import annotations

from _imdb_etl_spark.sources import load_tables
from _imdb_etl_spark.streaming import read_events_stream
from _imdb_etl_spark.streaming.sinks import idempotent_parquet_sink


def _run(spark, sf_dir, out, ckpt):
    stream = read_events_stream(spark, sf_dir).select("event_id", "user_id", "value")
    q = idempotent_parquet_sink(stream, out, ckpt).start()
    q.awaitTermination()
    q.stop()


def test_foreachbatch_sink_exactly_once_effect(spark, sf_dir, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (events,) = load_tables(spark, sf_dir, "events")

    _run(spark, sf_dir, out, ckpt)
    first = spark.read.parquet(out)
    assert first.count() == events.count()
    assert first.select("event_id").distinct().count() == events.count()

    # replay with the same checkpoint: source fully consumed -> no new
    # batches, no duplicated rows
    _run(spark, sf_dir, out, ckpt)
    again = spark.read.parquet(out)
    assert again.count() == events.count()


def test_checkpoint_restart_consumes_only_new_files(spark, sf_dir, tmp_path):
    """Restart recovery: a second run against the same checkpoint must
    process ONLY files that appeared after the first run — offsets
    survive the restart, nothing is reprocessed, nothing is missed."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (events,) = load_tables(spark, sf_dir, "events")
    first_half = events.where(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value"
    )
    second_half = events.where(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "value"
    )
    first_half.write.mode("append").parquet(src)

    def run_once():
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        q = idempotent_parquet_sink(stream, out, ckpt).start()
        q.awaitTermination()
        q.stop()

    run_once()
    got = spark.read.parquet(out)
    assert got.count() == first_half.count()

    # new files land AFTER the first run; the restart consumes only them
    second_half.write.mode("append").parquet(src)
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()


def test_memory_sink_queries_match_oracle_and_leave_no_table(spark, sf_dir):
    """The memory-sink runs equal their batch oracles, and each drops
    its sink's temp view once resolved, so a long-lived session gains
    no catalog table per call."""
    import duckdb

    from _imdb_etl_spark.plans import REGISTRY
    from _imdb_etl_spark.sources.catalog import DRIVER_TABLES
    from _imdb_etl_spark.testing import canon_rows

    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{sf_dir}/{t}.parquet')")
    for name in ("streaming_hourly_rollup", "streaming_sessionize"):
        df = REGISTRY[name].spark(spark, sf_dir)
        got = canon_rows(df.columns, [tuple(r) for r in df.collect()])
        rel = con.sql(REGISTRY[name].oracle)
        want = canon_rows([d[0] for d in rel.description], rel.fetchall())
        assert got == want, name
    con.close()
    left = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_")]
    assert left == []
