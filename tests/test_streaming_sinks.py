"""Streaming sinks: a file sink's checkpoint survives a restart, and
every memory-sink face matches its batch oracle and leaves no table or
checkpoint behind."""

from __future__ import annotations

from _imdb_etl_spark.sources import load_tables


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
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
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

    # a replay with nothing new adds no batch and duplicates no row
    run_once()
    assert spark.read.parquet(out).count() == events.count()


_MEMORY_SINK_FACES = (
    "streaming_hourly_rollup",
    "streaming_sessionize",
    "streaming_dedup_events",
    "streaming_join_view_purchase",
    "streaming_enrich_events",
    "streaming_corpus_ingest",
    "streaming_stateful_user_totals",
    "streaming_transform_with_state",  # registered only with protobuf
    "streaming_pysource_bucket_counts",
)


def test_memory_sink_queries_match_oracle_and_leave_no_table(
    spark, sf_dir, monkeypatch
):
    """Every memory-sink face equals its batch oracle, checkpoints under
    the scratch root and removes that checkpoint before returning, and
    drops its sink's temp view once resolved, so a long-lived session
    gains no catalog table or checkpoint directory per call."""
    import os

    import duckdb
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from _imdb_etl_spark.plans import REGISTRY
    from _imdb_etl_spark.sources.catalog import DRIVER_TABLES, _scratch_root
    from _imdb_etl_spark.testing import canon_rows

    ckpts: list[str] = []
    real_option = DataStreamWriter.option

    def spy_option(writer, key, value):
        if key == "checkpointLocation":
            ckpts.append(str(value))
        return real_option(writer, key, value)

    monkeypatch.setattr(DataStreamWriter, "option", spy_option)
    root = _scratch_root()
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{sf_dir}/{t}.parquet')")
    names = [n for n in _MEMORY_SINK_FACES if n in REGISTRY]
    assert set(_MEMORY_SINK_FACES) - set(names) <= {"streaming_transform_with_state"}
    for name in names:
        ckpts.clear()
        df = REGISTRY[name].spark(spark, sf_dir)
        assert len(ckpts) == 1, (name, ckpts)
        assert os.path.commonpath([ckpts[0], root]) == root, (name, ckpts)
        assert not os.path.exists(ckpts[0]), (name, ckpts)
        got = canon_rows(df.columns, [tuple(r) for r in df.collect()])
        rel = con.sql(REGISTRY[name].oracle)
        want = canon_rows([d[0] for d in rel.description], rel.fetchall())
        assert got == want, name
    con.close()
    left = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_")]
    assert left == []
