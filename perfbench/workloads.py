"""The benchmark's workloads: seeded inputs, an untimed warm-up pass,
then timed passes. Every pass checks its outputs against the DuckDB oracle.

One client, closed loop, no think time: each operation starts when the
previous one has returned. A pass runs the workload's whole fixed set of
operations once, in an order drawn from the seed, so every pass does
the same work and per-pass counts repeat exactly.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback

import tpchgen

# per size: IMDB stage rows (movies = people) and the TPC-H-shaped scale
SIZES = {
    "full": {"imdb_n": 10_000, "sf": 0.01},
    "tiny": {"imdb_n": 500, "sf": 0.001},
}

# registered queries of the dashboard workload: a Graf-shaped dashboard,
# TPC-H Q1, and one query each for the dedup, similarity, text and
# tokenizer operators and the streaming engine. Every query runs once per
# pass. The other grafs and TPC-H queries and the costlier operator
# variants are left out so that a run fits about a minute on four cores.
DASHBOARD_QUERIES = (
    "graf1_orders_by_priority",
    "tpch_q1_pricing_summary",
    "dedup_exact",
    "sim_knn_bruteforce",
    "text_stats",
    "tokenizer_bpe_first_merges",
    "streaming_hourly_rollup",
)

STAR_TABLES = ("dim_movies", "dim_genres", "dim_people", "fact_movies")


def operator_layer(builder) -> str:
    """The layer a registered builder belongs to, from its module."""
    mod = builder.__module__
    family = mod.rsplit(".", 1)[-1]
    if mod.startswith("_imdb_etl_spark.operators."):
        return {
            "dedup": "operators.dedup",
            "similarity": "operators.similarity",
            "text": "operators.text",
            "corpus": "operators.tokenizer",
        }.get(family, "operators.other")
    if mod.startswith("_imdb_etl_spark.streaming"):
        return "streaming.run"
    return "plans.query"


def _ready(data_dir: str, marker: str) -> bool:
    try:
        with open(os.path.join(data_dir, "_DONE")) as f:
            return f.read() == marker
    except OSError:
        return False


def _generate(data_dir: str, marker: str, write) -> float:
    """Write inputs once per (size, seed); returns seconds spent, 0 when
    the directory already holds them."""
    if _ready(data_dir, marker):
        return 0.0
    t0 = time.perf_counter()
    shutil.rmtree(data_dir, ignore_errors=True)
    write(data_dir)
    with open(os.path.join(data_dir, "_DONE"), "w") as f:
        f.write(marker)
    return time.perf_counter() - t0


def _canon_hash(cols, rows) -> str:
    from _imdb_etl_spark.testing import canon_rows

    return canon_rows(list(cols), [tuple(r) for r in rows])[1]


class Run:
    """State of one benchmark run: the session, the tracer and what the
    passes measured."""

    def __init__(self, spark, tracer, seed: int, size: str, work_dir: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.seed = seed
        self.size = SIZES[size]
        self.work_dir = work_dir
        self.latency_ms: dict[str, list[float]] = {}  # per query: builder call to result
        self.etl_s: list[float] = []  # load + CTAS time of each pass
        self.check_s = 0.0  # star-table checks of the warm-up pass, kept out of set-up
        self.bytes_written_per_input_byte = 0.0
        self.attempted = 0
        self.failed = 0

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}: {detail}", file=sys.stderr, flush=True)

    def timed(self, what: str, ms: float) -> None:
        self.latency_ms.setdefault(what, []).append(ms)

    def check(self, what: str, got: str, want: str) -> None:
        if got != want:
            self.fail(what, f"result hash {got} != oracle {want}")


class ImdbEtl:
    """IMDB-shaped CSV stage -> COPY-INTO load -> CTAS of the star
    tables -> the six dashboard grafs -> drop."""

    name = "imdb_etl"
    nominal_pass_s = 8.0

    def __init__(self, run: Run) -> None:
        self.run = run
        n = run.size["imdb_n"]
        self.stage = os.path.join(run.work_dir, "data", "imdb_stage")
        self.marker = f"imdb n={n} seed={run.seed}\n"
        self.n = n

    def prepare(self) -> float:
        from tests import fixtures, oracle_imdb

        secs = _generate(
            self.stage,
            self.marker,
            lambda d: fixtures.generate(d, n=self.n, seed=self.run.seed),
        )
        con = oracle_imdb.build(self.stage)
        try:
            self.want = {}
            for name in STAR_TABLES:
                rel = con.sql(f"SELECT * FROM {name}")
                self.want[name] = _canon_hash([d[0] for d in rel.description], rel.fetchall())
            for name, sql in oracle_imdb.GRAF_SQL.items():
                rel = con.sql(sql)
                self.want[name] = _canon_hash([d[0] for d in rel.description], rel.fetchall())
        finally:
            con.close()
        self.stage_bytes = sum(
            os.path.getsize(os.path.join(self.stage, f))
            for f in os.listdir(self.stage)
            if f.endswith(".csv")
        )
        return secs

    def one_pass(self, first: bool) -> None:
        from _imdb_etl_spark.etl import grafs, star
        from _imdb_etl_spark.sources import sinks

        run, tr, spark = self.run, self.run.tracer, self.run.spark
        grafs_by_name = {
            "graf1": lambda t: grafs.graf1_usa_india_2019(t["dim_movies"]),
            "graf2": lambda t: grafs.graf2_avg_duration_by_genre(
                t["dim_genres"], t["fact_movies"]
            ),
            "graf3": lambda t: grafs.graf3_top10_directors(
                t["fact_movies"], t["dim_people"]
            ),
            "graf4": lambda t: grafs.graf4_top3_directors_top3_genres(
                t["fact_movies"], t["dim_people"], t["dim_genres"], t["ratings_staging"]
            ),
            "graf5": lambda t: grafs.graf5_top10_actors_by_roles(
                t["role_mapping_staging"], t["dim_people"]
            ),
            "graf6": lambda t: grafs.graf6_movies_by_country(t["dim_movies"]),
        }
        order = run.rng.sample(sorted(grafs_by_name), len(grafs_by_name))

        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("etl.materialize"):
                tables = star.materialize_pipeline(spark, self.stage)
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            run.fail("materialize_pipeline", traceback.format_exc())
            run.attempted += len(order)
            run.failed += len(order)
            return
        run.etl_s.append(time.perf_counter() - t0)

        if first:
            t_check = time.perf_counter()
            warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
            written = sum(
                os.path.getsize(os.path.join(d, f))
                for name in STAR_TABLES
                for d, _, files in os.walk(os.path.join(warehouse, name))
                for f in files
                if not f.startswith((".", "_"))
            )
            run.bytes_written_per_input_byte = written / self.stage_bytes
            for name in STAR_TABLES:  # once per run, untimed
                run.attempted += 1
                df = spark.table(name)
                run.check(name, _canon_hash(df.columns, df.collect()), self.want[name])
            run.check_s += time.perf_counter() - t_check

        for g in order:
            run.attempted += 1
            try:
                t1 = time.perf_counter()
                with tr.span("etl.grafs"):
                    df = grafs_by_name[g](tables)
                    with tr.span("exec.action"):
                        rows = df.collect()
                run.timed(g, (time.perf_counter() - t1) * 1e3)
            except Exception:  # noqa: BLE001
                run.fail(g, traceback.format_exc())
                continue
            run.check(g, _canon_hash(df.columns, rows), self.want[g])

        with tr.span("sources.drop"):
            for name in STAR_TABLES:
                sinks.drop_table(spark, name)
            star.drop_staging(spark)


class Dashboard:
    """One client running a fixed set of registered queries over
    TPC-H-shaped parquet tables, each result collected."""

    name = "dashboard"
    nominal_pass_s = 5.0

    def __init__(self, run: Run) -> None:
        self.run = run
        self.sf = run.size["sf"]
        self.sf_dir = os.path.join(run.work_dir, "data", "tpch")
        self.marker = f"tpch sf={self.sf} seed={run.seed}\n"

    def prepare(self) -> float:
        import duckdb

        from _imdb_etl_spark.plans import REGISTRY
        from _imdb_etl_spark.sources.catalog import DRIVER_TABLES

        secs = _generate(
            self.sf_dir, self.marker, lambda d: tpchgen.write(d, self.sf, self.run.seed)
        )
        con = duckdb.connect()
        try:
            for t in DRIVER_TABLES:
                con.sql(
                    f"CREATE VIEW {t} AS FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            self.want = {}
            for q in DASHBOARD_QUERIES:
                rel = con.sql(REGISTRY[q].oracle)
                self.want[q] = _canon_hash([d[0] for d in rel.description], rel.fetchall())
        finally:
            con.close()
        return secs

    def one_pass(self, first: bool) -> None:
        from _imdb_etl_spark.plans import REGISTRY

        run, tr, spark = self.run, self.run.tracer, self.run.spark
        for q in run.rng.sample(DASHBOARD_QUERIES, len(DASHBOARD_QUERIES)):
            spec = REGISTRY[q]
            run.attempted += 1
            try:
                t0 = time.perf_counter()
                with tr.span(operator_layer(spec.spark)):
                    with tr.span("plans.build"):
                        df = spec.spark(spark, self.sf_dir)
                    with tr.span("exec.action"):
                        rows = df.collect()
                run.timed(q, (time.perf_counter() - t0) * 1e3)
            except Exception:  # noqa: BLE001
                run.fail(q, traceback.format_exc())
                continue
            run.check(q, _canon_hash(df.columns, rows), self.want[q])


WORKLOADS = {w.name: w for w in (ImdbEtl, Dashboard)}
