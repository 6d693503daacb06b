"""Stage-level profile of dedup_winnow_clusters (round 13): where do
the 1000x seconds go — the extraction ladder + postings write, the
rarity/contraction aggregates, the bucket forest GEMMs, or CC?

Times CUMULATIVE stages in one session (each stage includes its
predecessors' eager work exactly once — the postings/groups parquet
stages make the boundaries real):

  s1  postings index build (winnow ladder -> explode -> distinct ->
      parquet write) == _winnow_rare_postings' eager part
  s2  + rarity aggregate (df groupBy + cap filter), counted
  s3  + docsets/groups contraction written to parquet
  s4  + bucket explode + collect_list + mapInPandas spanning forests
      (edge count)
  s5  full registered face into the noop sink

Usage: python tools/profile_winnow_clusters.py [factor=100]
"""

from __future__ import annotations

import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)


def main() -> int:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    from pyspark.sql import functions as F

    import _imdb_etl_spark.plans  # noqa: F401  (registry first: import cycle)
    from _imdb_etl_spark.operators import text as T
    from _imdb_etl_spark.session import get_spark
    from _imdb_etl_spark.sources import scratch_dir
    from _imdb_etl_spark.sources.scaleup import ensure_scaled

    spark = get_spark(
        app_name=f"winnow_clusters_profile_{factor}",
        shuffle_partitions=8 * (os.cpu_count() or 8)
        if factor >= 1000
        else None,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    dst = os.path.join(_ROOT, ".benchdata", f"sf{factor // 10}")
    ensure_scaled(spark, "/root/testdata/sf0.1", dst, factor=factor)

    def mark(label, t0):
        d = time.time() - t0
        print(f"{label:58s} {d:8.1f}s", flush=True)
        return time.time()

    sc = spark.sparkContext
    t0 = time.time()
    sc.setJobDescription("s1: postings index build")
    fp, rp = T._winnow_rare_postings(spark, dst)
    t0 = mark("s1 postings index (ladder+explode+distinct+write)", t0)

    sc.setJobDescription("s2: rarity aggregate")
    n_rare = rp.count()
    t0 = mark(f"s2 rare postings count ({n_rare})", t0)

    sc.setJobDescription("s3: docsets + groups contraction")
    rpi = rp.select("doc_id", F.col("v").alias("vid"))
    docsets = (
        rpi.groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("vid")).alias("vs"))
        .where(F.size("vs") >= T._WIN_MIN_SHARED)
    )
    gpath = scratch_dir("winnow_profile_groups")
    (
        docsets.groupBy("vs")
        .agg(F.min("doc_id").alias("gid"), F.count(F.lit(1)).alias("members"))
        .write.mode("overwrite")
        .parquet(gpath)
    )
    gmap = spark.read.parquet(gpath)
    t0 = mark("s3 docsets + groups contraction (written)", t0)

    sc.setJobDescription("s4: bucket forests")
    from pyspark.sql.types import LongType, StructField, StructType

    gposts = gmap.select("gid", "vs", F.explode("vs").alias("vid"))
    buckets = (
        gposts.groupBy("vid")
        .agg(F.collect_list(F.struct("gid", "vs")).alias("ms"))
        .where(F.size("ms") >= 2)
        .select("ms")
    )
    edge_schema = StructType(
        [StructField("a", LongType()), StructField("b", LongType())]
    )
    n_groups = gmap.count()
    t0 = mark(f"s4a group count ({n_groups})", t0)
    # reuse the face's own forest kernel via the registered builder?
    # the kernel is a closure; re-derive edges through the face would
    # redo everything, so inline the same mapInPandas body by calling
    # the module-level helper if present; otherwise count bucket rows
    n_buckets = buckets.count()
    t0 = mark(f"s4b bucket count ({n_buckets})", t0)

    sc.setJobDescription("s5: full face")
    t5 = time.time()
    df = T.dedup_winnow_clusters(spark, dst)
    df.write.format("noop").mode("overwrite").save()
    print(f"{'s5 full face (fresh lineage, noop)':58s} {time.time() - t5:8.1f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
