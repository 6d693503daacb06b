"""Stage-level profile of the winnow_arrays extraction ladder
(round-11 verdict task 5): time cumulative prefixes of the pipeline at
a chosen scale factor so the per-stage constant is measured, not
guessed — is the 1000x cost md5 hashing, the struct ladder, or the
output assembly?

Usage: python tools/profile_winnow_ladder.py [factor=100]
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

    import _imdb_etl_spark.plans  # noqa: F401
    from _imdb_etl_spark.operators.text import _WIN_K, _WIN_W, winnow_arrays
    from _imdb_etl_spark.session import get_spark
    from _imdb_etl_spark.sources import load_tables, spread
    from _imdb_etl_spark.sources.scaleup import ensure_scaled

    spark = get_spark(
        app_name=f"winnow_ladder_{factor}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    dst = os.path.join(_ROOT, ".benchdata", f"sf{factor // 10}")
    ensure_scaled(spark, "/root/testdata/sf0.1", dst, factor=factor)
    (docs,) = load_tables(spark, dst, "documents")
    docs = spread(docs)

    def t(label, df, reps=2):
        best = None
        for _ in range(reps):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        print(f"{label}\t{best:.1f}s", flush=True)

    # warm-up: page cache + codegen paths
    docs.select(F.length("text")).write.format("noop").mode("overwrite").save()

    # stage 0: scan + length only (I/O floor). Stages SELECT the real
    # arrays (noop still materializes every UnsafeRow), never
    # size(transform(...)), which Catalyst folds to size(input).
    t("scan_len", docs.select("doc_id", F.length("text").alias("n")))

    # stage 1: k-gram md5 array (the hashing pass)
    hs = F.expr(
        f"if(length(text) < {_WIN_K}, array(),"
        f" transform(sequence(1, length(text) - {_WIN_K - 1}),"
        f" i -> md5(substr(text, i, {_WIN_K}))))"
    )
    base = docs.select("doc_id", hs.alias("hs"))
    t("hs_md5", base)

    # stage 2: + (v, p) struct zip
    s0 = F.expr(
        "transform(hs, (x, i) -> struct(x AS v, cast(i + 1 AS bigint) AS p))"
    )
    t("s0_struct", base.select("doc_id", s0.alias("s0")))

    # stage 3: + full doubling ladder to ps (carries hs through too,
    # exactly like the faces do)
    t("ladder_ps", winnow_arrays(docs))

    # stage 4: + fingerprint value extraction (what the dedup faces use)
    t(
        "fp_values",
        winnow_arrays(docs).select(
            "doc_id",
            F.expr("transform(ps, p -> element_at(hs, int(p)))").alias("vs"),
        ),
    )

    # stage 5: the registered face end-to-end (adds fp_md5 + orderBy)
    from _imdb_etl_spark.plans import REGISTRY

    t0 = time.time()
    REGISTRY["text_winnowing_fingerprints"].spark(spark, dst).write.format(
        "noop"
    ).mode("overwrite").save()
    print(f"face_full\t{time.time() - t0:.1f}s", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
