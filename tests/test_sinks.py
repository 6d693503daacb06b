"""Catalog-managed (CTAS/DROP) tables incl. bucketing, and the
file-layout properties the engine relies on: partition pruning and
dynamic pruning on partitioned parquet, ORC pruning and pushdown,
z-ordered file stats."""

from __future__ import annotations

from pyspark.sql import functions as F

from _imdb_etl_spark.sources import load_tables, sinks


def test_partitioned_parquet_roundtrip(spark, sf_dir, tmp_path):
    (orders,) = load_tables(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_part")
    orders.withColumn("order_year", F.year("o_orderdate")).write.partitionBy(
        "order_year"
    ).parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    # partition pruning: a year filter must prune input files
    pruned = back.where(F.col("order_year") == 1996)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == orders.where(F.year("o_orderdate") == 1996).count()
    assert "PartitionFilters: [isnotnull(order_year" in plan


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Joining a partitioned fact with a filtered dim must inject a
    dynamic pruning subquery on the partition column."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    out = str(tmp_path / "orders_by_year")
    orders.withColumn("order_year", F.year("o_orderdate")).write.partitionBy(
        "order_year"
    ).parquet(out)
    fact = spark.read.parquet(out)
    # DPP requires the join key to be the partition column
    dim = (
        orders.withColumn("order_year", F.year("o_orderdate"))
        .select("order_year", "o_orderpriority")
        .distinct()
        .where(F.col("o_orderpriority") == "1-URGENT")
    )
    joined = fact.join(dim.hint("broadcast"), "order_year")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower()


def test_ctas_bucketed_table_and_drop(spark, sf_dir):
    (orders,) = load_tables(spark, sf_dir, "orders")
    sinks.save_as_table(orders, "orders_bucketed", bucket_by=(4, ["o_custkey"]))
    t = spark.table("orders_bucketed")
    assert t.count() == orders.count()
    # a groupBy on the bucket key must not need a shuffle exchange
    agg = t.groupBy("o_custkey").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(o_custkey" not in plan
    sinks.drop_table(spark, "orders_bucketed")
    assert "orders_bucketed" not in [x.name for x in spark.catalog.listTables()]


def test_bucketed_fact_star_join_skips_both_exchanges(spark, sf_dir):
    """The named scale lever for fact_star_left_joins
    (plans/relational.py): pre-bucketing lineitem AND orders on the
    order key at matching bucket counts makes the fact-assembly join
    exchange-free on BOTH sides — the one-time write shuffle replaces
    the per-query shuffle, which is the trade that wins when the fact
    table is re-joined more than once at 100 TB."""
    lineitem, orders = load_tables(spark, sf_dir, "lineitem", "orders")
    sinks.save_as_table(
        lineitem, "lineitem_bkt", bucket_by=(4, ["l_orderkey"])
    )
    sinks.save_as_table(orders, "orders_bkt", bucket_by=(4, ["o_orderkey"]))
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffle-join path: at test scale AQE would broadcast
        # the small side, hiding exactly the exchange this test audits
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li, od = spark.table("lineitem_bkt"), spark.table("orders_bkt")
        joined = li.join(
            od, F.col("l_orderkey") == F.col("o_orderkey"), "left"
        ).select("l_orderkey", "l_linenumber", "o_custkey")
        assert joined.count() == lineitem.count()  # 1:N fan-out = left rows
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        sinks.drop_table(spark, "lineitem_bkt")
        sinks.drop_table(spark, "orders_bkt")


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    (orders,) = load_tables(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_orc")
    orders.write.partitionBy("o_orderpriority").orc(out)
    back = spark.read.orc(out)
    assert back.count() == orders.count()
    # partition pruning reaches the ORC scan
    pruned = back.where(F.col("o_orderpriority") == "1-URGENT")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "partitionFilters" in plan.lower().replace(" ", "") or \
        "PartitionFilters: [isnotnull(o_orderpriority" in plan
    assert pruned.count() == orders.where(
        F.col("o_orderpriority") == "1-URGENT"
    ).count()
    # predicate pushdown on a data column
    sel = back.where(F.col("o_totalprice") > 300000.0)
    plan2 = sel._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan2 and "o_totalprice" in plan2


def test_zorder_layout_tightens_file_stats(spark, sf_dir, tmp_path):
    """Z-ordered files must carry tighter per-file bounding boxes on
    BOTH clustering dimensions than a hash layout — the min/max
    footer-stat property that lets scans filtered on either dimension
    prune files (the point of OPTIMIZE ZORDER)."""
    import glob

    from pyspark.sql import functions as F

    from _imdb_etl_spark.plans.events import _z_terms
    from _imdb_etl_spark.sources import load_tables

    (events,) = load_tables(spark, sf_dir, "events")
    dims = events.select(
        (F.col("user_id") % 256).alias("ua"),
        (
            (F.dayofmonth("ts").cast("long") * 24 + F.hour("ts").cast("long"))
            % 256
        ).alias("hb"),
    ).withColumn("zval", F.expr(_z_terms("ua", "hb", "div")))

    def avg_box_area(path: str) -> float:
        areas = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            stats = (
                spark.read.parquet(f)
                .agg(
                    F.max("ua") - F.min("ua"), F.max("hb") - F.min("hb")
                )
                .collect()[0]
            )
            areas.append((stats[0] + 1) * (stats[1] + 1))
        assert len(areas) >= 4
        return sum(areas) / len(areas)

    zpath, hpath = str(tmp_path / "zorder"), str(tmp_path / "hash")
    dims.repartitionByRange(8, "zval").write.parquet(zpath)
    dims.repartition(8).write.parquet(hpath)
    z_area, h_area = avg_box_area(zpath), avg_box_area(hpath)
    # hash layout sees the full 256x256 space per file; z-order files
    # must cover a materially smaller rectangle on average
    assert z_area < h_area / 2, (z_area, h_area)


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """The bucketing claim, pinned on the physical plan: with broadcast
    disabled, joining the two orderkey-bucketed tables produces ZERO
    Exchange nodes — bucket i joins bucket i directly (the ingest-time
    shuffle is the only shuffle, amortized over every later join)."""
    from _imdb_etl_spark.sources.partitioned import (
        _bucket_table,
        bucketed_orders_lineitem,
    )

    bucketed_orders_lineitem(spark, sf_dir)
    thresh_key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(thresh_key)
    spark.conf.set(thresh_key, "-1")
    try:
        o = spark.table(_bucket_table("o"))
        li = spark.table(_bucket_table("l"))
        joined = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # and the join actually returns the full fan-out
        assert joined.count() == li.count()
    finally:
        spark.conf.set(thresh_key, old)
