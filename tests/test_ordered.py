"""``functions.ordered``, the closing-sort helper, the small-input gate
``single_partition`` it sorts over, and ``rows_upper``, the row bound
they and the broadcast gate's short-circuit rely on.

A result the bound proves small is sorted in one task (``coalesce(1)``
then a sort that needs no range exchange); anything else keeps the
global ``orderBy`` and its range partitioning. The oracle hash sorts
rows before hashing, so the order tests here are the only check of the
helper's output order.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from _imdb_etl_spark import functions
from _imdb_etl_spark.functions import ordered, rows_upper, single_partition
from _imdb_etl_spark.plans import REGISTRY
from _imdb_etl_spark.sources import load_tables

# the registered queries of perfbench's dashboard workload
DASHBOARD = [
    "graf1_orders_by_priority",
    "tpch_q1_pricing_summary",
    "dedup_exact",
    "sim_knn_bruteforce",
    "text_stats",
    "tokenizer_bpe_first_merges",
    "streaming_hourly_rollup",
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", DASHBOARD)
def test_routed_query_keeps_global_sort_order(spark, sf_dir, monkeypatch, name):
    """Each query sorts in one task at fixture scale, and its rows equal,
    in order, the rows of the same builder forced to the global sort."""
    df = REGISTRY[name].spark(spark, sf_dir)
    plan = _plan(df)
    assert "Coalesce 1" in plan and "rangepartitioning" not in plan, plan
    got = [tuple(r) for r in df.collect()]
    monkeypatch.setattr(functions, "SMALL_ROWS_MAX", -1)
    forced = REGISTRY[name].spark(spark, sf_dir)
    assert "Coalesce 1" not in _plan(forced)
    assert got == [tuple(r) for r in forced.collect()]


def test_unproven_frame_keeps_range_partitioning(spark, sf_dir, monkeypatch):
    """No bound (explode with no limit above it) or a bound above the cap
    leaves the global sort in place."""
    (nation,) = load_tables(spark, sf_dir, "nation")
    exploded = nation.select(F.explode(F.array("n_nationkey", "n_regionkey")).alias("k"))
    assert rows_upper(exploded) is None
    assert "rangepartitioning" in _plan(ordered(exploded, "k"))
    keys = nation.select("n_nationkey")
    assert "rangepartitioning" not in _plan(ordered(keys, "n_nationkey"))
    monkeypatch.setattr(functions, "SMALL_ROWS_MAX", rows_upper(keys) - 1)
    assert "rangepartitioning" in _plan(ordered(keys, "n_nationkey"))


@pytest.fixture()
def two_files(spark, tmp_path):
    """Parquet frames of 5 and 3 rows, so each bound rule gives a
    distinct figure."""
    frames = []
    for name, n in (("a", 5), ("b", 3)):
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"k": pa.array(range(n), pa.int64())}), path)
        frames.append(spark.read.parquet(path))
    return frames


def test_bound_limit(two_files):
    a, _ = two_files
    assert rows_upper(a.limit(2)) == 2
    assert rows_upper(a.limit(9)) == 5
    # a limit bounds a frame whose child has no bound
    assert rows_upper(a.select(F.explode(F.array("k", "k"))).limit(4)) == 4


def test_bound_semi_and_anti_join_is_left_side(two_files):
    a, b = two_files
    assert rows_upper(a.join(b, "k", "left_semi")) == 5
    assert rows_upper(b.join(a, "k", "left_anti")) == 3
    # the right side of a semi join needs no bound
    assert rows_upper(a.join(b.select(F.explode(F.array("k")).alias("k")), "k", "left_semi")) == 5


def test_bound_join_product(two_files):
    a, b = two_files
    assert rows_upper(a.join(b, "k")) == 15
    assert rows_upper(a.crossJoin(b.withColumnRenamed("k", "j"))) == 15
    # an outer join may add every unmatched row of either side
    assert rows_upper(a.join(b, "k", "full_outer")) == 15 + 5 + 3
    assert rows_upper(a.join(b, "k", "left_outer").groupBy("k").count()) == 23


def test_bound_memory_sink_and_local_relation(spark, two_files, tmp_path):
    from _imdb_etl_spark.streaming.events import _run_to_memory

    a, _ = two_files
    stream = spark.readStream.schema(a.schema).parquet(str(tmp_path))
    out = _run_to_memory(stream, output_mode="append")
    assert out.count() == 8
    assert rows_upper(out.select("k")) == 8
    assert rows_upper(spark.sql("SELECT * FROM VALUES (1), (2) AS t(a)")) == 2


def test_bound_generate_and_other_sources_are_none(spark, two_files):
    a, b = two_files
    assert rows_upper(a.select(F.explode(F.array("k", "k")))) is None
    assert rows_upper(a.union(b)) is None
    assert rows_upper(spark.range(10)) is None


def test_bound_loaded_cache_is_its_row_count(spark):
    """A cache counts its rows once loaded, below a node that has no
    bound of its own, so a cached read of any source is bounded. Before
    it is loaded, Spark's estimate for the cached plan proves nothing."""
    df = spark.range(7).select(F.explode(F.array("id", "id")).alias("k")).cache()
    ids = spark.range(5).cache()
    try:
        assert rows_upper(df) is None and rows_upper(ids) is None  # not loaded yet
        assert df.count() == 14
        assert rows_upper(df) == 14
        assert rows_upper(df.where(F.col("k") > 3).groupBy("k").count()) == 14
    finally:
        df.unpersist()
        ids.unpersist()


def test_bound_unpersisted_cache_is_none(spark):
    df = spark.range(5).cache()
    df.count()
    assert rows_upper(df) == 5
    df.unpersist(blocking=True)
    assert rows_upper(df) is None


def test_single_partition_is_all_or_none(two_files):
    a, b = two_files
    small = single_partition(a, b)
    assert [df.rdd.getNumPartitions() for df in small] == [1, 1]
    assert [sorted(r.k for r in df.collect()) for df in small] == [[0, 1, 2, 3, 4], [0, 1, 2]]
    unproven = b.select(F.explode(F.array("k")).alias("k"))
    assert single_partition(a, unproven) == (a, unproven)
    # a frame above the cap leaves both as they were
    assert single_partition(a, b, max_rows=4) == (a, b)


def test_planlint_coalesce_is_benign_only_under_ordered_sort():
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    import planlint

    plan = (
        "AdaptiveSparkPlan isFinalPlan=false\n"
        "+- Sort [k#1 ASC NULLS FIRST], {glob}, 0\n"
        "   +- Coalesce 1\n"
        "      +- FileScan parquet [k#1]\n"
    )
    assert planlint.lint_plan("q", plan.format(glob="true")) == []
    assert planlint.lint_plan("q", plan.format(glob="false"))
    assert planlint.lint_plan("q", plan.replace("Sort [k#1 ASC NULLS FIRST], {glob}, 0", "Project [k#1]"))
