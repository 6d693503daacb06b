"""Scale probe: run registered queries at a scaled-up dataset with a
per-query wall-clock watchdog and print one timing line each.

The per-round 10x/100x posture evidence (COVERAGE.md's probe tables)
comes from this tool. Both 100x-class bugs ever found in this repo
(the fixed IVF centroid count in round 6, the BPE lineage wall in
round 7) were invisible at 10x — breadth at 100x is what surfaces
fixed constants, which is why the probe takes arbitrary query lists
instead of a hand-picked heaviest-N. `make probe` runs the standing
10x spot list and the hot-shingle run.

Usage:
  python tools/probe_scale.py <factor> [--watchdog S] [--partitions N]
                              [--hot-shingle] [query ...]

--partitions sets spark.sql.shuffle.partitions for the probe session;
when omitted it follows the session default (cores) below factor 1000
and 8x cores at factor >= 1000, where cores-count partitioning would
put ~GB per shuffle partition (AQE coalesces the small stages back
down). Heap for big factors comes from SPARK_DRIVER_MEMORY, e.g.
SPARK_DRIVER_MEMORY=48g for the 1000x sweep.

--hot-shingle probes a skewed copy of the scaled corpus: the same
documents with one boilerplate sentence appended to 30% of them. That
is the shape where a shared-shingle pair stage goes quadratic in the
hot-doc count, while candidate-bounded faces (LSH banding, rarity-
ordered prefixes, capped winnow postings) must stay flat. The copy
holds only documents.parquet, so name document-only queries.

<factor> is the replication factor over /root/testdata/sf0.1 (10 ->
.benchdata/sf1, 100 -> .benchdata/sf10); data is materialized once via
ensure_scaled and reused across rounds. With no query names, probes
every registered query; an unknown name is an error (exit 2) reported
before any session starts or any data is generated. Each query executes
into the noop sink (timings measure scan + shuffle + compute); a query
that outruns the watchdog has its job group cancelled and records "CAP".
"""

from __future__ import annotations

import os
import sys
import threading
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

_SRC = "/root/testdata/sf0.1"

_HOT_FRACTION_MOD = 10  # doc_id % 10 < 3 -> 30% of docs
_HOT_BOILERPLATE = "standard legal disclaimer applies to this document entirely"


def run_capped(spark, build, cap_s: float) -> tuple[str, float, str]:
    """Run build() into the noop sink under a wall-clock cap.

    Returns (status, seconds, message). status is "ok"; "CAP" when the
    watchdog cancelled the job group; or "FAIL" for any other error,
    with the error's first line as message. CAP is classified by the
    watchdog's own flag, not by elapsed time, so a genuine late failure
    (an OOM just before the cap) still reads FAIL. The flag is set
    before cancelJobGroup so the cancellation exception always sees it.

    Afterwards all three properties setJobGroup sets are unset: a left
    interruptOnCancel=true would make later cancellations from this
    thread interrupt executor task threads, and a left (even empty)
    group id or description would tag later jobs."""
    sc = spark.sparkContext
    group = f"probe-cap-{time.time_ns()}"
    sc.setJobGroup(group, f"capped at {cap_s:.0f}s", interruptOnCancel=True)
    done = threading.Event()
    cancelled = threading.Event()

    def watch() -> None:
        if not done.wait(cap_s):
            cancelled.set()
            sc.cancelJobGroup(group)

    threading.Thread(target=watch, daemon=True).start()
    t0 = time.time()
    try:
        build().write.format("noop").mode("overwrite").save()
        return "ok", time.time() - t0, ""
    except Exception as e:  # noqa: BLE001
        status = "CAP" if cancelled.is_set() else "FAIL"
        msg = (str(e).splitlines() or [type(e).__name__])[0]
        return status, time.time() - t0, msg
    finally:
        done.set()
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)


def hot_shingle_copy(spark, src_dir: str) -> str:
    """Write (once) and return <src_dir>_hotshingle: src_dir's documents
    with _HOT_BOILERPLATE appended to 30% of them."""
    from pyspark.sql import functions as F

    dst = src_dir + "_hotshingle"
    marker = os.path.join(dst, "_DONE")
    if not os.path.exists(marker):
        docs = spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
        docs.withColumn(
            "text",
            F.when(
                F.col("doc_id") % _HOT_FRACTION_MOD < 3,
                F.concat(F.col("text"), F.lit(" " + _HOT_BOILERPLATE)),
            ).otherwise(F.col("text")),
        ).write.mode("overwrite").parquet(os.path.join(dst, "documents.parquet"))
        open(marker, "w").close()
    return dst


def main() -> int:
    args = [a for a in sys.argv[1:]]
    factor = int(args.pop(0)) if args and args[0].isdigit() else 10
    watchdog = 90.0
    if "--watchdog" in args:
        i = args.index("--watchdog")
        watchdog = float(args[i + 1])
        del args[i : i + 2]
    # shuffle partitioning is scale-dependent: at 1000x a cores-count
    # partitioning puts ~GB per shuffle partition, so default to
    # 8x cores once factor >= 1000 and let AQE coalesce the small
    # stages back down (the brief's "size shuffle partitions so they
    # fit executor memory at the target SF", made concrete).
    partitions = None
    if "--partitions" in args:
        i = args.index("--partitions")
        partitions = int(args[i + 1])
        del args[i : i + 2]
    elif factor >= 1000:
        partitions = 8 * (os.cpu_count() or 8)
    hot = "--hot-shingle" in args
    if hot:
        args.remove("--hot-shingle")
    names = args

    from _imdb_etl_spark.plans import REGISTRY

    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    names = names or list(REGISTRY)

    from _imdb_etl_spark.session import get_spark
    from _imdb_etl_spark.sources.scaleup import ensure_scaled

    spark = get_spark(
        app_name=f"probe_scale_{factor}",
        shuffle_partitions=partitions,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    name = f"sf{factor // 10}" if factor % 10 == 0 else f"x{factor}"
    dst = os.path.join(_ROOT, ".benchdata", name)
    gen = ensure_scaled(spark, _SRC, dst, factor=factor)
    if gen is not None:
        print(f"# generated {dst} in {gen:.0f}s", flush=True)
    if hot:
        dst = hot_shingle_copy(spark, dst)

    capped = 0
    failed = 0
    for name in names:
        status, dt, msg = run_capped(
            spark, lambda: REGISTRY[name].spark(spark, dst), watchdog
        )
        if status == "ok":
            print(f"{name}\t{dt:.1f}s", flush=True)
        elif status == "CAP":
            capped += 1
            print(f"{name}\tCAP>{watchdog:.0f}s", flush=True)
        else:
            failed += 1
            print(f"{name}\tFAIL {dt:.1f}s {msg[:120]}", flush=True)
    print(
        f"# {len(names)} probed at factor {factor}"
        f"{' (hot-shingle)' if hot else ''}: "
        f"{len(names) - capped - failed} ok, {capped} capped, {failed} failed",
        flush=True,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
