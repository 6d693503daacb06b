"""Scale probe: run registered queries at a scaled-up dataset with a
per-query wall-clock watchdog and print one timing line each.

The per-round 10x/100x posture evidence (COVERAGE.md's probe tables)
comes from this tool. Both 100x-class bugs ever found in this repo
(the fixed IVF centroid count in round 6, the BPE lineage wall in
round 7) were invisible at 10x — breadth at 100x is what surfaces
fixed constants, which is why the probe takes arbitrary query lists
instead of a hand-picked heaviest-N.

Usage:
  python tools/probe_scale.py <factor> [--watchdog S] [--partitions N] [query ...]

--partitions sets spark.sql.shuffle.partitions for the probe session;
when omitted it follows the session default (cores) below factor 1000
and 8x cores at factor >= 1000, where cores-count partitioning would
put ~GB per shuffle partition (AQE coalesces the small stages back
down). Heap for big factors comes from SPARK_DRIVER_MEMORY, e.g.
SPARK_DRIVER_MEMORY=48g for the 1000x sweep.

<factor> is the replication factor over /root/testdata/sf0.1 (10 ->
.benchdata/sf1, 100 -> .benchdata/sf10); data is materialized once via
ensure_scaled and reused across rounds. With no query names, probes
every registered query. Each query executes into the noop sink
(timings measure scan + shuffle + compute); a query that outruns the
watchdog has its job group cancelled and records "CAP".
"""

from __future__ import annotations

import os
import sys
import threading
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

_SRC = "/root/testdata/sf0.1"


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
    names = args

    from _imdb_etl_spark.plans import REGISTRY
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

    if not names:
        names = list(REGISTRY)
    missing = [n for n in names if n not in REGISTRY]
    if missing:
        print(f"# unknown queries skipped: {missing}", flush=True)
        names = [n for n in names if n in REGISTRY]

    sc = spark.sparkContext
    capped = 0
    failed = 0
    for name in names:
        group = f"probe-{name}"
        sc.setJobGroup(group, name, interruptOnCancel=True)
        done = threading.Event()
        # CAP is classified by this flag, not by elapsed time: a
        # genuine late failure (OOM, analysis error surfacing after
        # watchdog-1 seconds) must print as FAIL with its message,
        # never silently masquerade as a perf cap-out in the probe
        # evidence. The flag is set BEFORE cancelJobGroup so the
        # cancellation exception always sees it.
        cancelled = threading.Event()

        def cancel() -> None:
            if not done.wait(watchdog):
                cancelled.set()
                sc.cancelJobGroup(group)

        watcher = threading.Thread(target=cancel, daemon=True)
        watcher.start()
        t0 = time.time()
        try:
            df = REGISTRY[name].spark(spark, dst)
            df.write.format("noop").mode("overwrite").save()
            print(f"{name}\t{time.time() - t0:.1f}s", flush=True)
        except Exception as e:  # noqa: BLE001
            dt = time.time() - t0
            if cancelled.is_set():
                capped += 1
                print(f"{name}\tCAP>{watchdog:.0f}s", flush=True)
            else:
                failed += 1
                msg = str(e).splitlines()[0][:120]
                print(f"{name}\tFAIL {dt:.1f}s {msg}", flush=True)
        finally:
            done.set()
            sc.setJobGroup("", "")
    print(
        f"# {len(names)} probed at factor {factor}: "
        f"{len(names) - capped - failed} ok, {capped} capped, {failed} failed",
        flush=True,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
