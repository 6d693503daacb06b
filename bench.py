"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line with per-query wall seconds.

Plans execute into the no-op sink (format("noop")) so timings measure
scan + shuffle + compute, not driver-side result materialization.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q4_order_priority",
    "tpch_q7_volume_shipping",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume",
    "tpch_q13_customer_distribution",
    "tpch_q19_discounted_revenue",
    "window_suite_customer_orders",
    "graf1_orders_by_priority",
    "graf2_avg_quantity_by_type",
    "graf3_top10_customers",
    "graf4_top3_customers_top3_nations",
    "graf5_top10_suppliers_by_items",
    "graf6_customers_by_nation",
    "dim_people_fanout_distinct",
    "fact_star_left_joins",
    "w1_top3_parts_per_brand",
    # LLM-pipeline extensions (scale paths only: the quadratic exact
    # verifiers stay at correctness scale)
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_jaccard_lsh",
    "sim_knn_bruteforce",
    "sim_knn_lsh",
    "dedup_embedding_cosine_ivf",
    "tokenizer_bpe_train_n",
    # same 8 merges, 2 driver barriers instead of 8 — the recorded
    # head-to-head for the batched-merge lever
    "tokenizer_bpe_train_batched",
    "imdb_reference_parity",
    "text_stats",
    "text_lang_id",
    "text_fingerprint",
    "events_hourly_rollup",
    "events_sessionize",
    "events_daily_pivot",
    "streaming_hourly_rollup",
    "multimodal_features",
    # ADDED round 12 (additive only — the driver contract forbids
    # removing/renaming entries): the round's headline optimization
    # (vectorized SimHash kernel + chunk-pair banding), benched so the
    # driver tracks it from now on
    "dedup_simhash",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from _imdb_etl_spark.plans import REGISTRY
    from _imdb_etl_spark.session import get_spark

    # console progress bars OFF: their \r-spam inflated the driver's
    # tail capture past its window and truncated the result JSON twice
    # (BENCH_r03/BENCH_r06 recorded "parsed": null) — the one line that
    # matters must be the one line that survives
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up: JVM codegen + parquet reader paths, so the first timed
    # query isn't charged for session bring-up
    try:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    except Exception as e:  # noqa: BLE001
        print(f"warmup failed: {e}", file=sys.stderr)

    # Refuse-and-retry on a loaded box (round-12 verdict task 1): the
    # r12 artifact's canary read 5.1x nominal and poisoned the whole
    # round-over-round comparison. Probe the fixed-work canary BEFORE
    # the timed loop; while it reads hot, wait (bounded) for the
    # noisy-neighbor episode to pass. Raw per-query recording and the
    # post-loop canary stay unchanged; this only moves WHEN the timed
    # loop starts. Disable with BENCH_QUIET_WAIT=0.
    quiet = wait_for_quiet_box(lambda: cpu_canary(spark))
    if quiet is not None:
        print(f"quiet-box wait: {quiet}", file=sys.stderr)

    names = [n for n in HEADLINE if n in REGISTRY]
    extra = os.environ.get("BENCH_EXTRA")
    if extra:
        names += [n for n in extra.split(",") if n in REGISTRY and n not in names]

    repeat = int(os.environ.get("BENCH_REPEAT", "3"))

    def run_once(name: str) -> float:
        t0 = time.time()
        df = REGISTRY[name].spark(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # Per-query fault isolation: one broken query must never zero the
    # whole bench (round 3 lost its entire number to a single input-
    # adapter bug). Failures record null and the JSON line still prints.
    # Each query's repeat samples are kept as a [min, median, max] band
    # (round-5 verdict task 3): with n=1 a +5% drift is
    # indistinguishable from machine load; the band makes the 2x gate
    # meaningful per-query.
    times: dict[str, float | None] = {}
    band: dict[str, list[float]] = {}
    for name in names:
        try:
            runs = sorted(run_once(name) for _ in range(repeat))
            times[name] = round(runs[0], 3)
            band[name] = [
                round(runs[0], 3),
                round(runs[len(runs) // 2], 3),
                round(runs[-1], 3),
            ]
        except Exception as e:  # noqa: BLE001
            print(f"bench query {name} failed: {e}", file=sys.stderr)
            times[name] = None

    # Transient box load (GC, co-tenant processes) can inflate a single
    # query 5-10x even best-of-N; re-measure outliers against the suite
    # median so the recorded number reflects the plan, not the noise.
    ok = sorted(t for t in times.values() if t is not None)
    med = ok[len(ok) // 2] if ok else 0.0
    for name, t in list(times.items()):
        if t is not None and t > max(3.0 * med, 2.5):
            try:
                times[name] = round(min(t, *(run_once(name) for _ in range(2))), 3)
                if name in band and times[name] < band[name][0]:
                    band[name][0] = times[name]
            except Exception:  # noqa: BLE001
                pass  # keep the original measurement

    total = round(sum(t for t in times.values() if t is not None), 3)
    failed = [n for n, t in times.items() if t is None]
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "band": band,
        "failed": failed,
        "sf": sf,
    }
    out["canary"] = cpu_canary(spark)
    out["regressions"] = regressions(times, out["canary"])
    spot = sf1_spot(spark)
    if spot is not None:
        out["sf1_spot"] = spot
    # the FULL artifact (bands, sf1/hot-shingle sections) goes to the
    # file the driver can read whole (round-6 verdict task 3) ...
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_LAST.json"),
            "w",
        ) as f:
            f.write(json.dumps(out) + "\n")
    except OSError as e:
        print(f"BENCH_LAST.json write failed: {e}", file=sys.stderr)
    # ... while stdout gets a line SIZED TO THE DRIVER'S TAIL CAPTURE
    # (2000 chars: BENCH_r06/r07 recorded "parsed": null because the
    # full line outgrew it — round-7 verdict task 5). Drop the
    # diagnostic sections, keep the contract keys, use compact
    # separators, and shed optional keys if the query set ever grows
    # the line past the window.
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": out["queries"],
        "failed": out["failed"],
        "regressions": out["regressions"],
        "canary": out["canary"],
        "sf": out["sf"],
    }
    line = json.dumps(compact, separators=(",", ":"))
    for drop in ("regressions", "failed"):
        if len(line) > _TAIL_SAFE and not compact[drop]:
            compact.pop(drop)
            line = json.dumps(compact, separators=(",", ":"))
    if len(line) > _TAIL_SAFE:  # 2dp query times
        compact["queries"] = {
            n: (round(t, 2) if t is not None else None)
            for n, t in compact["queries"].items()
        }
        line = json.dumps(compact, separators=(",", ":"))
    # Guaranteed-fit fallback: a run with several regressions PLUS
    # ~100 query timings can still outgrow the window even at 2dp —
    # exactly the runs the driver most needs to parse. Collapse the
    # diagnostic sections to counts and finally drop 'queries'
    # entirely (the full artifact is already in BENCH_LAST.json);
    # the contract keys (metric/value/unit/sf) always fit.
    if len(line) > _TAIL_SAFE:
        compact["regression_count"] = len(compact.pop("regressions", []))
        compact["failed_count"] = len(compact.pop("failed", []))
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > _TAIL_SAFE:
        compact["query_count"] = len(compact.pop("queries", {}))
        line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= _TAIL_SAFE, len(line)
    print(line)


_TAIL_SAFE = 1900  # driver tail window is 2000 chars; leave margin


def cpu_canary(spark) -> dict:
    """Fixed-work load canary (round-10 verdict task 5): the r10 run
    measured ~1.35x uniformly slower than r9 across queries whose code
    did not change — box load, but unprovable from the artifact alone.
    Recording the wall time of FIXED work next to the query times turns
    that into a measured normalization factor for cross-round deltas
    and the 2x gate. Two probes, each best-of-3:

    - gemm_sec: a 1024^3 numpy matmul (~2.1 GFLOP through the same
      BLAS the GEMM kernels use) — CPU + memory-bandwidth pressure.
    - jvm_sec: sum over spark.range(50M) — whole-stage-codegen loop on
      the executor threads; tracks JVM/core contention, which can move
      independently of the BLAS number.

    Deterministic inputs, no data dependence: a canary ratio between
    two rounds is pure machine state."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.random((1024, 1024))
    b = rng.random((1024, 1024))

    def once_gemm() -> float:
        t0 = time.time()
        (a @ b).sum()
        return time.time() - t0

    def once_jvm() -> float:
        t0 = time.time()
        spark.range(50_000_000).selectExpr("sum(id)").collect()
        return time.time() - t0

    return {
        "gemm_sec": round(min(once_gemm() for _ in range(3)), 4),
        "jvm_sec": round(min(once_jvm() for _ in range(3)), 4),
    }


# Quiet-box gate (round-12 verdict task 1). Proceed when the jvm canary
# is within _QUIET_FACTOR of nominal; otherwise sleep _QUIET_STEP_S and
# re-probe, up to _QUIET_MAX_WAIT_S total — then run anyway (the wait is
# bounded so a persistently loaded box still produces an artifact, with
# the load visible in the recorded canary).
_QUIET_FACTOR = 1.3
_QUIET_STEP_S = 45.0
_QUIET_MAX_WAIT_S = 600.0


def wait_for_quiet_box(
    probe,
    sleep=time.sleep,
    factor: float = _QUIET_FACTOR,
    step_s: float = _QUIET_STEP_S,
    max_wait_s: float = _QUIET_MAX_WAIT_S,
) -> dict | None:
    """Block (bounded) until the fixed-work canary reads quiet.

    probe() -> {"gemm_sec": .., "jvm_sec": ..}; sleep is injectable for
    tests. Returns a summary dict when any waiting happened or the box
    never went quiet ({"waited_sec", "probes", "quiet"}), None when the
    first probe was already quiet (the common case — zero overhead
    beyond one canary run). Never raises. Honors BENCH_QUIET_WAIT=0.
    """
    if os.environ.get("BENCH_QUIET_WAIT", "1") == "0":
        return None
    waited = 0.0
    probes: list[float] = []
    while True:
        try:
            c = probe()
            ratio = float(c["jvm_sec"]) / _CANARY_NOMINAL_JVM
        except Exception as e:  # noqa: BLE001
            print(f"quiet-box probe failed: {e}", file=sys.stderr)
            return None
        probes.append(round(ratio, 2))
        if ratio <= factor:
            if waited == 0.0:
                return None
            return {"waited_sec": round(waited, 1), "probes": probes,
                    "quiet": True}
        if waited >= max_wait_s:
            return {"waited_sec": round(waited, 1), "probes": probes,
                    "quiet": False}
        sleep(step_s)
        waited += step_s


_R1_BASELINE = "BENCH_r01.json"
_REGRESSION_FACTOR = 1.5
# Nominal canary values, measured on the unloaded box the round-11
# bench ran on (BENCH_r11.json; r1 itself predates the canary). The
# tripwire scales its threshold by the CURRENT canary's ratio to these,
# so a uniformly loaded box (the r10 false-alarm: ~1.35x on unchanged
# code) stops flagging. The factor is clamped to [1, 3]: it only ever
# LOOSENS the gate (a faster box keeps the raw 1.5x), and a >3x-loaded
# box still flags everything rather than hiding a real regression
# behind an unbounded excuse.
_CANARY_NOMINAL_JVM = 0.0858
_CANARY_FACTOR_MAX = 3.0


def load_factor(canary: dict | None) -> float:
    """Threshold multiplier from the fixed-work canary (round-11
    verdict task 4): current jvm probe over the recorded nominal,
    clamped to [1, _CANARY_FACTOR_MAX]. The jvm probe (codegen sum on
    the executor threads) is the one that tracks what the query suite
    experiences; the gemm probe stays recorded for diagnosis."""
    try:
        ratio = float(canary["jvm_sec"]) / _CANARY_NOMINAL_JVM
    except (TypeError, KeyError, ValueError, ZeroDivisionError):
        return 1.0
    return max(1.0, min(_CANARY_FACTOR_MAX, ratio))


def regressions(
    times: dict[str, float | None], canary: dict | None = None
) -> list[dict]:
    """Per-query tripwire vs the round-1 baseline (round-6 verdict task
    8): flag any query whose best-of-N this run exceeds 1.5x its r1
    time, with the threshold scaled by the canary load factor (round-11
    verdict task 4) so box-noise episodes don't flag. Automates the
    drift check the per-round judge was doing by hand; an empty list is
    the healthy signal. Never raises — a missing/unparsable baseline
    file reports nothing."""
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         _R1_BASELINE)
        ) as f:
            base = (json.load(f).get("parsed") or {}).get("queries") or {}
    except (OSError, ValueError):
        return []
    factor = load_factor(canary)
    flagged = []
    for name, t in times.items():
        b = base.get(name)
        if t is not None and b and t > _REGRESSION_FACTOR * factor * b:
            flagged.append(
                {"query": name, "r1_sec": b, "now_sec": t,
                 "ratio": round(t / b, 2),
                 "load_factor": round(factor, 2)}
            )
    return flagged


# One order of magnitude above the sf0.1 envelope: the heaviest headline
# queries re-run against a 10x synthetic scale-up (see sources/scaleup),
# giving the 100 TB design claims a measured scaling datapoint instead
# of pure extrapolation. Roughly linear per-query growth (~10x the
# sf0.1 time) is the healthy signal; super-linear growth flags a plan
# whose cost curve bends the wrong way.
SF1_SPOT = [
    "fact_star_left_joins",
    "dedup_minhash_lsh",
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "events_hourly_rollup",
    # round-5 corpus ops whose cost is the gram-keyed shuffle — the
    # pair that must prove linear growth, not just the join/agg shapes
    "text_duplicate_spans",
    "pipeline_pretrain_mix",
    # continuation additions: the CDC chunk pipeline (window + two
    # hash-agg shuffles) and BM25 (token agg + filtered postings)
    "dedup_cdc_chunks",
    "text_bm25_search",
    # epoch shuffle: shard-hash partition + per-shard window — the
    # permutation pattern whose only shuffle is the shard split
    "corpus_epoch_shuffle",
    # continuation evaluation/pipeline ops: corpus hash-agg into a
    # bounded window (AUC), map-side explode materialization
    # (upsample), chained windows behind one user exchange (funnel)
    "quality_score_auc",
    "corpus_upsample_epochs",
    "events_funnel_time_bound",
    # round-6 iterative trainer: 8 sequential (pair-agg -> replace)
    # rounds — the per-round shuffle must grow linearly with the
    # corpus, and round count must stay data-independent
    "tokenizer_bpe_train_n",
    # round-6 continuation: incremental near-dup (band probe vs the
    # corpus index), interval union (windowed islands), span-removal
    # rewrite (gram-keyed window + doc-keyed re-assembly), and the
    # mapInPandas decode pipeline — the four new shuffle shapes
    "dedup_incremental_minhash",
    "events_interval_coalesce",
    "text_remove_duplicate_spans",
    "multimodal_audio_segments",
]

_SF1_SRC = "/root/testdata/sf0.1"
_SF1_BUDGET_S = 240.0  # soft wall-clock cap for the whole spot section


def sf1_spot(spark) -> dict | None:
    """Run the SF1_SPOT queries at the 10x scale-up; never raises — a
    broken spot section records its error instead of zeroing the main
    bench number. Disable with BENCH_SF1=0."""
    if os.environ.get("BENCH_SF1", "1") == "0":
        return None
    if not os.path.isdir(_SF1_SRC):
        return {"error": f"source {_SF1_SRC} missing"}
    from _imdb_etl_spark.plans import REGISTRY

    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), ".benchdata", "sf1"),
    )
    section: dict = {"sf": 1.0, "queries": {}, "failed": []}
    try:
        from _imdb_etl_spark.sources.scaleup import ensure_scaled

        gen_s = ensure_scaled(spark, _SF1_SRC, sf1_dir, factor=10)
        if gen_s is not None:
            section["generated_sec"] = round(gen_s, 1)
    except Exception as e:  # noqa: BLE001
        section["error"] = f"scale-up generation failed: {e}"
        return section
    t_start = time.time()
    for name in SF1_SPOT:
        if name not in REGISTRY:
            continue
        if time.time() - t_start > _SF1_BUDGET_S:
            section["failed"].append(f"{name} (budget)")
            continue
        try:
            runs = []
            for _ in range(2):
                t0 = time.time()
                df = REGISTRY[name].spark(spark, sf1_dir)
                df.write.format("noop").mode("overwrite").save()
                runs.append(time.time() - t0)
            section["queries"][name] = round(min(runs), 3)
        except Exception as e:  # noqa: BLE001
            print(f"sf1 spot {name} failed: {e}", file=sys.stderr)
            section["failed"].append(name)
    section["total"] = round(sum(section["queries"].values()), 3)

    # Quadratic-verifier crossover (round-5 verdict task 5): the demoted
    # exact forms next to their registered LSH/IVF scale faces at 10x
    # data — the measured datapoint behind the dedup docstrings' 100 TB
    # claims. The quadratics are exactly the queries that CAN blow up
    # (one hot shingle makes the shared-shingle join quadratic in the
    # hot-doc count), so each run is wall-clock capped by a watchdog
    # that cancels its job group: a blown cap records "(timeout)"
    # instead of holding the whole bench hostage, and the section
    # respects the overall sf1 budget before starting anything.
    from _imdb_etl_spark.operators.dedup import dedup_ngram_jaccard
    from _imdb_etl_spark.operators.similarity import dedup_embedding_cosine

    quad = {}
    for qname, build, twin in (
        ("dedup_ngram_jaccard", dedup_ngram_jaccard, "dedup_jaccard_lsh"),
        ("dedup_embedding_cosine", dedup_embedding_cosine,
         "dedup_embedding_cosine_ivf"),
    ):
        for name, fn in ((qname, build), (twin, None)):
            if fn is None:
                fn = REGISTRY[name].spark
            if time.time() - t_start > _SF1_BUDGET_S + _XOVER_EXTRA_S:
                section["failed"].append(f"{name} (budget)")
                continue
            band = _capped_band(spark, fn, sf1_dir, _XOVER_REPEAT)
            if band is None:
                section["failed"].append(f"{name} (timeout/error)")
                quad[name] = None
            else:
                quad[name] = band
    section["quadratic_crossover"] = quad
    section["hot_shingle"] = hot_shingle_crossover(spark, sf1_dir)
    return section


# Crossover measurements are 3-repeat [min, median, max] bands (round-6
# verdict task 5): the r6 artifact recorded a single-shot 21.6 s for a
# query whose true band is ~5-8 s — single samples under co-tenant load
# cannot support the flagship scale-face claim.
_XOVER_REPEAT = 3
_XOVER_EXTRA_S = 120.0  # crossover+skew get their own slice of budget


def _capped_band(spark, fn, sf_dir: str, repeat: int) -> list[float] | None:
    """[min, median, max] of `repeat` capped runs; None if the FIRST
    run times out or errors (no point repeating a blown cap — the
    timeout IS the datapoint, recorded by the caller)."""
    runs: list[float] = []
    for _ in range(repeat):
        try:
            runs.append(
                _run_capped(spark, lambda: fn(spark, sf_dir), _QUAD_CAP_S)
            )
        except Exception as e:  # noqa: BLE001
            print(f"crossover run failed: {e}", file=sys.stderr)
            if not runs:
                return None
            break
    runs.sort()
    return [runs[0], runs[len(runs) // 2], runs[-1]]


# Hot-shingle skewed corpus (round-6 verdict task 5): the sf1 corpus
# with a fixed boilerplate sentence appended to 30% of documents — the
# adversarial shape where the exact shared-shingle self-join goes
# quadratic in the hot-doc count (the skew-stress pytest's corpus at
# bench scale) while LSH banding stays candidate-bounded. This is the
# datapoint where LSH must win ON THE CLOCK, not just combinatorially.
_HOT_FRACTION_MOD = 10  # doc_id % 10 < 3 -> 30% of docs
_HOT_BOILERPLATE = (
    "standard legal disclaimer applies to this document entirely"
)


def hot_shingle_crossover(spark, sf1_dir: str) -> dict:
    from pyspark.sql import functions as F

    # plans first: importing operators.dedup directly would hit the
    # package's circular-import guard (registration order lives in plans)
    from _imdb_etl_spark.plans import REGISTRY
    from _imdb_etl_spark.operators.dedup import (  # noqa: E402
        dedup_ngram_jaccard,
    )

    out: dict = {}
    try:
        hot_dir = os.path.join(os.path.dirname(sf1_dir), "sf1_hotshingle")
        marker = os.path.join(hot_dir, "_DONE")
        if not os.path.exists(marker):
            docs = spark.read.parquet(
                os.path.join(sf1_dir, "documents.parquet")
            )
            docs.withColumn(
                "text",
                F.when(
                    F.col("doc_id") % _HOT_FRACTION_MOD < 3,
                    F.concat(F.col("text"), F.lit(" " + _HOT_BOILERPLATE)),
                ).otherwise(F.col("text")),
            ).write.mode("overwrite").parquet(
                os.path.join(hot_dir, "documents.parquet")
            )
            open(marker, "w").close()
        for name, fn in (
            ("dedup_ngram_jaccard", dedup_ngram_jaccard),
            ("dedup_jaccard_lsh", REGISTRY["dedup_jaccard_lsh"].spark),
            # the LOSSLESS route under the same skew: rarity ordering
            # keeps the hot shingle out of prefixes, so the PPJoin
            # index face survives on the clock too (~2-3x the
            # probabilistic LSH cost, no false negatives)
            (
                "dedup_jaccard_prefix_persisted",
                REGISTRY["dedup_jaccard_prefix_persisted"].spark,
            ),
            # the winnow cluster face under the same skew (round-8
            # verdict task 4): the boilerplate sentence inflates
            # fingerprint document frequencies, exactly the shape the
            # corpus-relative rarity cap + identical-rare-set
            # contraction + per-bucket spanning forests exist for —
            # this records the cluster route's clock next to the
            # pair/LSH ladder
            (
                "dedup_winnow_clusters",
                REGISTRY["dedup_winnow_clusters"].spark,
            ),
        ):
            t0 = time.time()
            try:
                out[name] = _run_capped(
                    spark, lambda f=fn: f(spark, hot_dir), _QUAD_CAP_S
                )
            except Exception as e:  # noqa: BLE001
                kind = (
                    "timeout"
                    if time.time() - t0 >= 0.95 * _QUAD_CAP_S
                    else "error"
                )
                print(f"hot-shingle {name} {kind}: {e}", file=sys.stderr)
                out[name] = f"({kind})"
    except Exception as e:  # noqa: BLE001
        out["error"] = str(e)
    return out


_QUAD_CAP_S = 120.0


def _run_capped(spark, build, cap_s: float) -> float:
    """Execute build() into the noop sink under a wall-clock cap: a
    watchdog thread cancels the query's job group at cap_s, turning a
    pathological plan into a caught exception instead of an unbounded
    bench stall."""
    import threading

    sc = spark.sparkContext
    group = f"bench-cap-{time.time_ns()}"
    sc.setJobGroup(group, f"capped at {cap_s}s", interruptOnCancel=True)
    timer = threading.Timer(cap_s, lambda: sc.cancelJobGroup(group))
    timer.start()
    try:
        t0 = time.time()
        build().write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)
    finally:
        timer.cancel()
        # clear ALL THREE properties setJobGroup sets: leaving
        # interruptOnCancel=true would make every later cancellation
        # from this thread interrupt executor task threads (a mode
        # Spark defaults off because interrupts can wedge IO stacks),
        # and the stale description would mislabel later jobs
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


if __name__ == "__main__":
    main()
