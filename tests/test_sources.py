"""CSV source semantics (SURVEY.md §2.1 S4/S5): literal-NULL handling,
quoted fields, malformed-row tolerance."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from _imdb_etl_spark.schemas import MOVIES_STAGING, NAME_STAGING
from _imdb_etl_spark.sources.csv_source import read_staging_csv


def test_null_literal_becomes_sql_null(spark, imdb_stage):
    df = read_staging_csv(spark, os.path.join(imdb_stage, "movie.csv"), MOVIES_STAGING)
    # fixture writes literal "NULL" strings into gross income
    assert df.where(F.col("worlwide_gross_income").isNull()).count() > 0
    assert df.where(F.col("worlwide_gross_income") == "NULL").count() == 0


def test_quoted_fields_with_commas_and_quotes(spark, imdb_stage):
    df = read_staging_csv(spark, os.path.join(imdb_stage, "movie.csv"), MOVIES_STAGING)
    # titles contain commas and embedded double quotes; the row must not split
    assert df.where(F.col("title").contains(',') & F.col("title").contains('"')).count() > 0
    # and no column bleed: year is always a plausible int
    assert df.where(~F.col("year").isin(2017, 2018, 2019)).count() == 0


def test_drop_malformed_mirrors_on_error_continue(spark, imdb_stage):
    path = os.path.join(imdb_stage, "names.csv")
    permissive = read_staging_csv(spark, path, NAME_STAGING, on_error="permissive")
    dropped = read_staging_csv(spark, path, NAME_STAGING, drop_malformed=True)
    # the injected bad-date rows survive permissive (nulled) but not continue
    assert permissive.count() == dropped.count() + 2


def test_on_error_abort_fails_loudly(spark, imdb_stage):
    # Snowflake COPY INTO default: a type error aborts the load
    import pytest

    from _imdb_etl_spark.sources.csv_source import MalformedRowsError

    path = os.path.join(imdb_stage, "names.csv")
    with pytest.raises(MalformedRowsError, match="fail typed or structural"):
        read_staging_csv(spark, path, NAME_STAGING, on_error="abort").count()


def test_structural_malformation_detected(spark, tmp_path):
    # Snowflake's ABORT_STATEMENT also rejects rows with the wrong field
    # count; the PERMISSIVE string-typed read would silently null-pad or
    # truncate them, so the corrupt-record channel must flag them even
    # when every column is a string (no type casts to fail).
    import pytest

    from _imdb_etl_spark.sources.csv_source import MalformedRowsError

    p = tmp_path / "struct.csv"
    p.write_text('a,b,c\n1,x,2\n2,y\n3,z,4,9\n4,"q,uoted",5\n')
    schema = StructType(
        [StructField(c, StringType()) for c in ("a", "b", "c")]
    )
    with pytest.raises(MalformedRowsError, match="fail typed or structural"):
        read_staging_csv(spark, str(p), schema, on_error="abort").count()

    kept = read_staging_csv(spark, str(p), schema, on_error="continue")
    assert {r["a"] for r in kept.collect()} == {"1", "4"}

    padded = read_staging_csv(spark, str(p), schema, on_error="permissive")
    assert padded.count() == 4


def test_cached_staging_keeps_copy_into_semantics(spark, tmp_path):
    """The once-parsed staging load flags the same structural rows as
    the lazy read: abort raises and frees its cache, continue keeps the
    well-formed rows in memory so they outlive the file."""
    import pytest

    from _imdb_etl_spark.sources.csv_source import MalformedRowsError, cache_staging_csv

    p = tmp_path / "struct.csv"
    p.write_text('a,b,c\n1,x,2\n2,y\n3,z,4,9\n4,"q,uoted",5\n')
    schema = StructType(
        [StructField(c, StringType()) for c in ("a", "b", "c")]
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(MalformedRowsError, match="2 row\\(s\\)"):
        cache_staging_csv(spark, str(p), schema)
    assert jsc.getPersistentRDDs().size() == before

    kept = cache_staging_csv(spark, str(p), schema, drop_malformed=True)
    p.unlink()
    assert {r["a"] for r in kept.collect()} == {"1", "4"}
    kept.unpersist()
    assert jsc.getPersistentRDDs().size() == before


def test_explicit_schema_no_inference(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text('a,b\n"1","x"\nNULL,y\n')
    schema = StructType(
        [StructField("a", IntegerType()), StructField("b", StringType())]
    )
    df = read_staging_csv(spark, str(p), schema)
    rows = {tuple(r) for r in df.collect()}
    assert rows == {(1, "x"), (None, "y")}


def test_python_datasource_partition_planning(spark):
    from _imdb_etl_spark.sources.pysource import read_synthetic_docs

    df = read_synthetic_docs(spark, rows=100, partitions=5)
    assert df.rdd.getNumPartitions() == 5
    assert df.count() == 100
    # re-registration is idempotent (every query call registers)
    df2 = read_synthetic_docs(spark, rows=10, partitions=2)
    assert df2.count() == 10
    # deterministic payload: same row ids -> same md5 sigs across reads
    a = {r.doc_id: r.sig for r in df2.collect()}
    b = {r.doc_id: r.sig for r in read_synthetic_docs(spark, 10, 3).collect()}
    assert a == b


def test_python_stream_source_batches_and_replay(spark):
    from _imdb_etl_spark.plans import REGISTRY
    from _imdb_etl_spark.sources.pysource import SyntheticStreamReader, _payload

    # drained result is exactly the deterministic closed-form totals
    rows = REGISTRY["streaming_pysource_bucket_counts"].spark(spark, "").collect()
    assert sum(r.n_docs for r in rows) == 2000
    assert sum(r.sum_id for r in rows) == 2000 * 1999 // 2
    # replay contract: readBetweenOffsets reproduces read()'s rows exactly
    r = SyntheticStreamReader({"rows": 100, "batch": 37})
    it, nxt = r.read({"off": 37})
    assert nxt == {"off": 74}
    assert list(it) == list(r.readBetweenOffsets({"off": 37}, {"off": 74}))
    assert r.read({"off": 100})[1] == {"off": 100}  # finite: offsets stop
    assert _payload(5)[0] == 5


def test_events_ts_normalizes_for_both_physical_types(spark, tmp_path):
    """Round-3 regression armor: the testdata's events.parquet has
    shipped both TIMESTAMP(NANOS) (read as bigint under nanosAsLong)
    and timestamp[us]; the reader must yield identical TIMESTAMP values
    for either physical encoding of the same instants."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from _imdb_etl_spark.sources.catalog import _tune, normalize_event_ts, table

    _tune(spark)  # nanosAsLong + UTC, as every production read path sets

    instants_us = [1704067200_000_000, 1704070800_123_456]
    arrays = {
        "ns": pa.array([v * 1000 for v in instants_us], pa.timestamp("ns")),
        "us": pa.array(instants_us, pa.timestamp("us")),
    }
    got = {}
    for unit, arr in arrays.items():
        d = tmp_path / unit
        d.mkdir()
        path = str(d / "events.parquet")
        pq.write_table(pa.table({"ts": arr}), path)
        # the raw read, and the catalog open with its memoised schema
        for how, df in (
            ("read", normalize_event_ts(spark.read.parquet(path))),
            ("table", table(spark, str(d), "events")),
        ):
            assert dict(df.dtypes)["ts"] == "timestamp", (unit, how, df.dtypes)
            got[unit, how] = sorted(r.ts for r in df.collect())
    assert len(set(map(tuple, got.values()))) == 1, got


def test_reap_stale_pid_dirs(tmp_path):
    import os
    import subprocess

    from _imdb_etl_spark.sources.catalog import reap_stale_pid_dirs

    base = str(tmp_path)
    # a pid that existed but is gone (child reaped by wait())
    dead = subprocess.Popen(["true"])
    dead.wait()
    os.makedirs(os.path.join(base, f"foo_{dead.pid}"))
    os.makedirs(os.path.join(base, f"foo_{os.getpid()}"))  # live: ours
    os.makedirs(os.path.join(base, "other_dir"))  # non-matching prefix
    reap_stale_pid_dirs(base, "foo")
    assert sorted(os.listdir(base)) == sorted(
        [f"foo_{os.getpid()}", "other_dir"]
    )


def test_scratch_claim_reaps_dead_pid_roots(tmp_path, monkeypatch):
    """The first scratch_dir call in a process (the claim) reaps
    ``spark-graft-<pid>`` roots of dead processes under the scratch
    base, keeps live ones, and creates nothing itself."""
    import os
    import subprocess

    from _imdb_etl_spark.sources import catalog

    dead = subprocess.Popen(["true"])
    dead.wait()
    os.makedirs(tmp_path / f"spark-graft-{dead.pid}" / "stage_run0")
    os.makedirs(tmp_path / "spark-graft-1")  # init: alive
    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{tmp_path},/elsewhere")
    monkeypatch.setattr(catalog, "_scratch_claimed", False)
    path = catalog.scratch_dir("jsonl_docs")
    assert path == str(tmp_path / f"spark-graft-{os.getpid()}" / "jsonl_docs")
    assert sorted(os.listdir(tmp_path)) == ["spark-graft-1"]


def test_scratch_run_caps_in_session_retention():
    """Within one long session scratch_run caps retention itself: per
    tag, the current run dir plus its immediate predecessor survive,
    older runs are deleted; other tags are untouched."""
    import os
    import shutil

    from _imdb_etl_spark.sources import catalog
    from _imdb_etl_spark.sources.catalog import scratch_run

    dirs = []
    for _ in range(4):
        d = scratch_run("t_retention")
        os.makedirs(d, exist_ok=True)
        dirs.append(d)
    other = scratch_run("t_other")
    os.makedirs(other, exist_ok=True)
    assert not os.path.isdir(dirs[0]) and not os.path.isdir(dirs[1])
    assert os.path.isdir(dirs[2]) and os.path.isdir(dirs[3])
    assert os.path.isdir(other)
    assert catalog._RUN_DIRS["t_retention"] == dirs[-2:]
    for d in dirs[2:] + [other]:
        shutil.rmtree(d, ignore_errors=True)
    catalog._RUN_DIRS.pop("t_retention", None)
    catalog._RUN_DIRS.pop("t_other", None)


def test_winnow_staging_keeps_two_runs_per_tag(spark, sf_dir):
    """Three dedup_winnow_clusters runs in one session each match the
    oracle, and each winnow staging tag keeps at most _STAGE_RETAIN
    run directories afterwards (one per call before the shared
    retention)."""
    import glob

    import duckdb

    from _imdb_etl_spark.plans import REGISTRY
    from _imdb_etl_spark.sources.catalog import _STAGE_RETAIN, scratch_dir
    from _imdb_etl_spark.testing import canon_rows

    spec = REGISTRY["dedup_winnow_clusters"]
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    rel = con.sql(spec.oracle)
    _, want = canon_rows([d[0] for d in rel.description], rel.fetchall())
    con.close()
    for _ in range(3):
        df = spec.spark(spark, sf_dir)
        _, got = canon_rows(df.columns, [tuple(r) for r in df.collect()])
        assert got == want
    for tag in ("winnow_fp", "winnow_groups"):
        runs = glob.glob(f"{scratch_dir(tag)}_run*")
        assert 1 <= len(runs) <= _STAGE_RETAIN, (tag, runs)


def test_python_source_filter_pushdown_prunes_partitions(spark):
    """pushFilters must prune partition planning to the accepted
    bounds (4 of 8 splits survive), and Spark must drop the pushed
    doc_id predicates from the post-scan Filter."""
    from pyspark.sql import functions as F

    from _imdb_etl_spark.sources.pysource import read_pushdown_range

    df = read_pushdown_range(spark, rows=2000, step=250).where(
        (F.col("doc_id") >= 500) & (F.col("doc_id") < 1500)
    )
    assert df.count() == 1000
    assert df.rdd.getNumPartitions() == 4  # pruned from 8 splits
    plan = df._jdf.queryExecution().executedPlan().toString()
    post_scan_filters = [
        ln for ln in plan.splitlines() if "Filter" in ln and "Scan" not in ln
    ]
    for ln in post_scan_filters:
        assert ">=" not in ln and "<" not in ln, ln
    mn, mx = df.agg(F.min("doc_id"), F.max("doc_id")).first()
    assert (mn, mx) == (500, 1499)


def test_schema_evolution_merge_semantics(spark, sf_dir):
    """The merged read must union the footers (quality_score present),
    materialize the batch partition column from the directory layout,
    and fill exactly the batch-1 rows with NULL scores."""
    from _imdb_etl_spark.plans import REGISTRY
    from _imdb_etl_spark.sources import load_tables

    REGISTRY["source_schema_evolution"].spark(spark, sf_dir).collect()
    import os

    from _imdb_etl_spark.sources import scratch_dir

    tbl = scratch_dir("schema_evo")
    assert os.path.isdir(tbl), "schema_evo table dir missing"
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", tbl)
        .parquet(tbl)
    )
    assert "quality_score" in merged.columns
    assert "batch" in merged.columns
    rows = merged.collect()
    (docs,) = load_tables(spark, sf_dir, "documents")
    n_docs = docs.count()
    assert len(rows) == n_docs
    for r in rows:
        if r.doc_id % 2 == 0:
            assert r.batch == 1 and r.quality_score is None
        else:
            assert r.batch == 2 and r.quality_score == r.n_chars % 100


def test_stage_to_parquet_retention_names_run_in_error(spark):
    """A DataFrame held past the per-tag retention depth fails with an
    error naming its retired ``<tag>_run<N>`` directory, and the
    newest run still reads."""
    import os

    import pytest

    from _imdb_etl_spark.sources import catalog

    tag = "retention_pytest"
    held = catalog.stage_to_parquet(spark.range(5).toDF("x"), tag)
    held_path = catalog._RUN_DIRS[tag][-1]
    assert held.count() == 5
    for _ in range(catalog._STAGE_RETAIN):
        catalog.stage_to_parquet(spark.range(5).toDF("x"), tag)
    assert not os.path.exists(held_path)
    # the held frame replays remembered file names, so its error names
    # the retired run dir
    with pytest.raises(Exception, match=tag + "_run"):
        held.count()
    # the newest run is untouched
    assert catalog.stage_to_parquet(spark.range(3).toDF("x"), tag).count() == 3


def test_scoped_conf_restores_on_exception(spark):
    """scoped_conf (the centralized conf-scoped eager-staging helper,
    ADVICE r10/r11) must restore previously-set keys to their old
    value and previously-unset keys to UNSET, including when the body
    raises."""
    import pytest

    from _imdb_etl_spark.sources import scoped_conf

    set_key = "spark.sql.shuffle.partitions"
    unset_key = "spark.sql.cbo.joinReorder.dp.threshold"
    old = spark.conf.get(set_key)
    spark.conf.unset(unset_key)
    default = spark.conf.get(unset_key)  # SQLConf default, not a session pin

    with scoped_conf(spark, {set_key: "7", unset_key: "5"}):
        assert spark.conf.get(set_key) == "7"
        assert spark.conf.get(unset_key) == "5"
    assert spark.conf.get(set_key) == old
    assert spark.conf.get(unset_key) == default

    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {set_key: "9", unset_key: "3"}):
            assert spark.conf.get(set_key) == "9"
            raise RuntimeError("boom")
    assert spark.conf.get(set_key) == old
    assert spark.conf.get(unset_key) == default


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under job group ``group``; return (its result, the
    IDs of the jobs it launched). A marker job in a second group runs
    after it: the status store reports jobs in submission order, so
    once the marker is reported every job of ``group`` is too."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    marker = f"{group}-marker"
    try:
        sc.setJobGroup(group, group)
        out = fn()
        sc.setJobGroup(marker, marker)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reported"
        time.sleep(0.05)
    return out, sorted(tracker.getJobIdsForGroup(group))


def test_table_schema_equals_inference_for_driver_tables(spark, sf_dir):
    """The memoised schema of every driver table is exactly what
    inference gives, so an open with it resolves NANOS, micros and NTZ
    columns as a plain ``spark.read.parquet`` would."""
    from _imdb_etl_spark.sources.catalog import (
        DRIVER_TABLES,
        _tune,
        normalize_event_ts,
        parquet_schema,
        table,
    )

    _tune(spark)
    for name in DRIVER_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        inferred = spark.read.parquet(path)
        assert parquet_schema(spark, path) == inferred.schema, name
        if name == "events":
            inferred = normalize_event_ts(inferred)
        assert table(spark, sf_dir, name).schema == inferred.schema, name


def test_second_table_open_launches_no_job(spark, sf_dir):
    from _imdb_etl_spark.sources.catalog import table

    path = os.path.join(sf_dir, "orders.parquet")
    # control: inference does launch a job this probe can see
    _, infer_jobs = _jobs_in_group(
        spark, "schema-infer", lambda: spark.read.parquet(path)
    )
    assert infer_jobs
    table(spark, sf_dir, "orders")
    df, jobs = _jobs_in_group(
        spark, "table-reopen", lambda: table(spark, sf_dir, "orders")
    )
    assert jobs == []
    assert df.count() > 0


def test_table_reinfers_a_rewritten_file(spark, sf_dir, tmp_path):
    """The memo is keyed by the file's stat: rewriting the file with
    one more column shows that column on the next open."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from _imdb_etl_spark.sources.catalog import table

    path = tmp_path / "nation.parquet"
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), path)
    before = table(spark, str(tmp_path), "nation").columns
    assert "extra" not in before
    t = pq.read_table(path)
    t = t.append_column("extra", pa.array(range(t.num_rows), pa.int64()))
    pq.write_table(t, path)
    after = table(spark, str(tmp_path), "nation")
    assert after.columns == before + ["extra"]
    assert sorted(r.extra for r in after.collect()) == list(range(t.num_rows))


def test_stage_to_parquet_is_one_job_with_inferred_schema(spark):
    """Staging launches exactly one job, the write, and reopens with
    the schema inference would find, for every column kind the
    pipelines stage."""
    from _imdb_etl_spark.sources import catalog

    df = spark.sql(
        """
        SELECT id,
               timestamp_seconds(1704067200 + id * 3601) AS ts,
               CAST(timestamp_seconds(1704067200 + id) AS TIMESTAMP_NTZ) AS ntz,
               CAST(id * 1.25 AS DECIMAL(12, 2)) AS dec,
               array(id, id + 1) AS arr,
               named_struct('a', id, 'b', CAST(id AS STRING)) AS st,
               map(CAST(id AS STRING), id) AS m
        FROM range(5)
        """
    )
    tag = "schema_pytest"
    staged, jobs = _jobs_in_group(
        spark, "stage-one-job", lambda: catalog.stage_to_parquet(df, tag)
    )
    assert len(jobs) == 1
    inferred = spark.read.parquet(catalog._RUN_DIRS[tag][-1])
    assert staged.schema == inferred.schema
    def rows(d):
        return sorted(d.collect(), key=lambda r: r.id)

    assert rows(staged) == rows(inferred) == rows(df)


def test_documents_doc_id_unique(sf_dir, tmp_path):
    """The winnow postings (operators/text.py:_winnow_rare_postings)
    take (doc_id, v) rows straight from a per-document array_distinct
    as globally distinct, which holds only while doc_id is unique in
    ``documents``. Pinned here over every test scale and the
    benchmark's generated tables, instead of a runtime check that
    would add a job to every open."""
    import pyarrow.parquet as pq

    from perfbench import tpchgen

    tpchgen.write(str(tmp_path), 0.001, seed=1)
    root = os.path.dirname(sf_dir)
    for d in (sf_dir, os.path.join(root, "sf0.01"), os.path.join(root, "sf0.1"),
              str(tmp_path)):
        ids = pq.read_table(
            os.path.join(d, "documents.parquet"), columns=["doc_id"]
        ).column("doc_id").to_pylist()
        assert len(ids) == len(set(ids)) > 0, d


# one registered query per scratch family: stage, CC frontier, winnow,
# jsonl, orc, xml, pysink, bucketed join, backfill, schema evolution,
# foreachBatch, the IVF, MinHash and both PPJoin indexes
_SCRATCH_FAMILY_QUERIES = (
    "embedding_norms_arrow",
    "dedup_clusters",
    "dedup_winnow_clusters",
    "jsonl_roundtrip_source",
    "orc_roundtrip_source",
    "xml_roundtrip_source",
    "pysink_roundtrip_docs",
    "bucketed_join_orders_lineitem",
    "sink_dynamic_partition_backfill",
    "source_schema_evolution",
    "streaming_foreachbatch_upsert",
    "sim_knn_ivf_persisted",
    "dedup_minhash_index_persisted",
    "dedup_jaccard_prefix_persisted",
    "dedup_jaccard_prefix_incremental",
)


def test_hermetic_run_leaves_no_scratch(tmp_path, sf_dir):
    """A process started in another directory, with SPARK_LOCAL_DIRS
    pointed there, runs every scratch family against its oracle and
    exits leaving nothing behind: no entry under ./spark-warehouse and
    no spark-graft-* root."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    local = tmp_path / "local"
    env = dict(
        os.environ,
        SPARK_LOCAL_DIRS=str(local),
        PYTHONPATH=os.pathsep.join(
            p for p in (repo, os.environ.get("PYTHONPATH")) if p
        ),
    )
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "check.py"), sf_dir,
         *_SCRATCH_FAMILY_QUERIES],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    n = len(_SCRATCH_FAMILY_QUERIES)
    assert proc.returncode == 0, proc.stdout[-4000:] + proc.stderr[-4000:]
    assert f"{n}/{n} passed" in proc.stdout, proc.stdout[-4000:]
    warehouse = tmp_path / "spark-warehouse"
    assert not warehouse.exists() or not os.listdir(warehouse)
    assert not list(local.glob("spark-graft-*"))
