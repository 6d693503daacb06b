"""One-off structural probe behind the dedup_winnow_clusters 1000x
remedy (round-11 verdict task 1): measures the rare-posting df
distribution of the scaled corpus, how much of the quadratic bucket
work (sum df^2) and the vs-carrying forest shuffle (sum |vs|^2) each
candidate df ceiling removes, and — the semantic side — whether any
TRUE duplicate-cluster signal lives above the candidate ceilings.

Truth instrument: the scaled corpus salts every token with the replica
id (sources/scaleup.py), so true duplicate clusters are intra-replica
by construction and replica = doc_id % factor. A rare fingerprint
value that spans many replicas can only come from salt-free k-grams
(interiors of long tokens) — corpus-wide boilerplate, not duplicate
signal. Reporting df bands split by n_replicas==1 vs >1 measures the
true-cluster df distribution directly.

Usage: python tools/probe_winnow_struct.py [factor=1000]
"""

from __future__ import annotations

import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)


def main() -> int:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    from pyspark.sql import functions as F

    import _imdb_etl_spark.plans  # noqa: F401  (registry first: avoids the text<->pipeline import cycle)
    from _imdb_etl_spark.operators.text import (
        _WIN_DF_FLOOR,
        _WIN_DF_PERMILLE,
        _WIN_MIN_SHARED,
        winnow_arrays,
    )
    from _imdb_etl_spark.session import get_spark
    from _imdb_etl_spark.sources import load_tables, scratch_dir
    from _imdb_etl_spark.sources.scaleup import ensure_scaled

    spark = get_spark(
        app_name=f"winnow_struct_{factor}",
        shuffle_partitions=8 * (os.cpu_count() or 8),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    dst = os.path.join(_ROOT, ".benchdata", f"sf{factor // 10}")
    ensure_scaled(spark, "/root/testdata/sf0.1", dst, factor=factor)

    (docs,) = load_tables(spark, dst, "documents")
    t0 = time.time()
    path = scratch_dir("winnow_struct_probe")
    fp = (
        winnow_arrays(docs)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(ps, p -> element_at(hs, int(p)))")
            ).alias("v"),
        )
        .distinct()
    )
    fp.write.mode("overwrite").parquet(path)
    fp = spark.read.parquet(path)
    n_docs = docs.count()
    cap = max(_WIN_DF_FLOOR, -(-_WIN_DF_PERMILLE * n_docs // 1000))
    print(f"# n_docs={n_docs} cap={cap} min_shared={_WIN_MIN_SHARED}", flush=True)
    print(f"# fp staged in {time.time()-t0:.0f}s", flush=True)

    dfs = fp.groupBy("v").agg(
        F.count(F.lit(1)).alias("df"),
        F.count_distinct(F.pmod("doc_id", F.lit(factor))).alias("n_rep"),
    )
    dfs = dfs.where(F.col("df") <= cap).persist()

    # df bands x intra/cross-replica: where does the quadratic work live,
    # and where does the true signal live?
    band = (
        F.when(F.col("df") <= 10, "a_df<=10")
        .when(F.col("df") <= 100, "b_df<=100")
        .when(F.col("df") <= 500, "c_df<=500")
        .when(F.col("df") <= 1000, "d_df<=1000")
        .when(F.col("df") <= 2000, "e_df<=2000")
        .otherwise("f_df>2000")
    )
    rows = (
        dfs.groupBy(band.alias("band"), (F.col("n_rep") == 1).alias("intra"))
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum("df").alias("sum_df"),
            F.sum(F.col("df") * F.col("df")).alias("sum_df2"),
            F.max("df").alias("max_df"),
        )
        .orderBy("band", "intra")
        .collect()
    )
    for r in rows:
        print(
            f"band={r['band']} intra={r['intra']} n_values={r['n_values']} "
            f"sum_df={r['sum_df']} sum_df2={r['sum_df2']:.3e} max_df={r['max_df']}",
            flush=True,
        )
    mx = dfs.where(F.col("n_rep") == 1).agg(F.max("df")).first()[0]
    print(f"# max intra-replica df (true-signal ceiling): {mx}", flush=True)

    # forest-shuffle proxy under candidate ceilings: sum over docs of
    # |rare-set|^2 (the bucket-explosion rows each carry the full set)
    for ceil in (cap, 2000, 1000, 500, 200):
        kept = dfs.where(F.col("df") <= ceil).select("v")
        sizes = (
            fp.join(kept, "v")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("nv"))
            .where(F.col("nv") >= _WIN_MIN_SHARED)
        )
        agg = sizes.agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("nv").alias("postings"),
            F.sum(F.col("nv") * F.col("nv")).alias("sum_nv2"),
            F.max("nv").alias("max_nv"),
        ).first()
        print(
            f"ceil={ceil} docs_kept={agg['n_docs_kept']} postings={agg['postings']} "
            f"sum_nv2={agg['sum_nv2']:.3e} (~{agg['sum_nv2']*8/2**30:.1f} GiB at "
            f"8B/vid) max_nv={agg['max_nv']}",
            flush=True,
        )
    dfs.unpersist()
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    print(f"# total {time.time()-t0:.0f}s", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
