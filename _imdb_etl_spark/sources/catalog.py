"""Parquet catalog over the driver's synthetic tables.

Maps the reference's named stage + COPY INTO world
(/root/reference/etl_imdb_db.sql:56-82) onto Spark's native columnar
scan: `spark.read.parquet` gives predicate pushdown, column pruning and
vectorized decoding for free — the analog of Snowflake micro-partitions.

The reference declares every table once in DDL and never works a
schema out again; here a plain `spark.read.parquet(path)` would launch
one schema-inference job per open. So opens go through one schema memo
(`parquet_schema`): a driver-table file's schema is inferred once per
(real path, st_mtime_ns, st_size, the session confs that change parquet
inference) and every later open passes it to `spark.read.schema`, which
launches no job. A rewritten file changes its stat key and is inferred
again. Only the schema is memoised, never the DataFrame: a query that
joins a table to itself needs distinct attribute IDs per open, and a
kept DataFrame would pin a stale file listing. Files this program
writes and reads straight back (`write_read_back`) reopen with the
writer's own schema instead, which is what inference would find in the
footer.

At cluster scale the same call fans out over all files under the prefix;
nothing here is local-mode-specific.
"""

from __future__ import annotations

import atexit
import contextlib as _contextlib
import itertools
import os
import re
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

DRIVER_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _tune(spark: SparkSession) -> None:
    # The driver owns the session; timezone is runtime-mutable and must be
    # UTC so timestamp semantics agree with the UTC-naive DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet has historically stored TIMESTAMP(NANOS), which
    # Spark's parquet reader rejects outright; with this conf such files
    # surface as bigint and normalize_event_ts converts below. Files that
    # store timestamp[us]/[ms] are unaffected by the conf.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Python data sources implementing pushFilters are rejected unless
    # this is on; runtime-mutable, so the driver-owned session gets it
    # here (the same home as the timezone pin)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp to TIMESTAMP regardless of the
    file's physical type.

    The testdata has shipped both TIMESTAMP(NANOS) (surfacing as bigint
    under nanosAsLong) and timestamp[us]; guard on the actual dtype so
    both work. nanos -> micros uses exact integer division (`div`, not
    `/`: float division loses precision above 2^53 ns), matching
    DuckDB's truncating NANOS -> TIMESTAMP(us) read of the same file.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if dtype == "timestamp_ntz":
        # session tz is pinned to UTC, so NTZ -> LTZ is a no-op rebase;
        # keep one logical type everywhere downstream.
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# The session confs that change what parquet schema inference returns;
# part of the memo key, so a session that flips one re-infers.
_SCHEMA_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
)
# (real path, conf values) -> ((st_mtime_ns, st_size), schema): one
# entry per file and conf setting, replaced when the file changes.
_SCHEMAS: dict[tuple, tuple[tuple[int, int], StructType]] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema `spark.read.parquet(path)` would infer, inferred at
    most once per (real path, st_mtime_ns, st_size, _SCHEMA_CONFS
    values). A directory is keyed by its own stat, which changes when
    its files are replaced (a Spark overwrite recreates it). A path the
    local file system cannot stat (a remote URI, a missing file) is
    inferred every time, so Spark reports its own errors."""
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
    except OSError:
        return spark.read.parquet(path).schema
    key = (real, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    stamp = (st.st_mtime_ns, st.st_size)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[key] = (stamp, schema)
    return schema


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Open one driver table as a fresh DataFrame. The schema comes
    from the `parquet_schema` memo (key: real path, st_mtime_ns,
    st_size and the parquet-inference confs), so only the first open of
    a file launches an inference job. The DataFrame itself is built anew
    on every call: each open gets its own attribute IDs (self-joins
    resolve) and its own file listing."""
    _tune(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    # table() owns the session tuning; no need to repeat it here
    return tuple(table(spark, sf_dir, n) for n in names)


def reap_stale_pid_dirs(base: str, prefix: str) -> None:
    """Best-effort GC of pid-suffixed dirs (``<prefix>-<pid>`` or
    ``<prefix>_<pid>``) under ``base`` left by finished processes — a
    dir is stale when its embedded pid is no longer alive."""
    if not os.path.isdir(base):
        return
    for entry in os.listdir(base):
        m = re.fullmatch(re.escape(prefix) + r"[-_](\d+)", entry)
        if not m or int(m.group(1)) == os.getpid():
            continue
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another uid — leave it


def _scratch_root() -> str:
    base = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0]
    return os.path.join(base or tempfile.gettempdir(), f"spark-graft-{os.getpid()}")


_scratch_lock = threading.Lock()
_scratch_claimed = False


def scratch_dir(tag: str) -> str:
    """``<root>/<tag>``: this process's scratch location for ``tag``.
    The root is ``spark-graft-<pid>`` under the first SPARK_LOCAL_DIRS
    entry (else the temp dir); it must be a local path, since this
    process deletes it and DuckDB oracles read from it. The root is tied
    to the process, not to a session, because the jsonl oracle embeds
    its path at import time, before any session exists. Tags that
    overwrite keep disk bounded during a session.

    Computing a path creates nothing (Python workers import the
    callers). The first call in a process reaps roots left by killed
    processes and registers removal of this process's root at exit."""
    global _scratch_claimed
    with _scratch_lock:
        if not _scratch_claimed:
            _scratch_claimed = True
            reap_stale_pid_dirs(os.path.dirname(_scratch_root()), "spark-graft")
            # the root is resolved at exit, so a forked child never
            # removes its parent's root
            atexit.register(lambda: shutil.rmtree(_scratch_root(), ignore_errors=True))
    return os.path.join(_scratch_root(), tag)


_RUN_SEQ = itertools.count()
_RUN_DIRS: dict[str, list[str]] = {}
# Runs kept per tag: the current one and its predecessor, whose
# DataFrames a caller may still hold.
_STAGE_RETAIN = 2


def scratch_run(tag: str) -> str:
    """A fresh ``<root>/<tag>_run<N>`` leaf, for staging that a still-
    referenced DataFrame from an earlier call must not see rewritten.
    The newest _STAGE_RETAIN runs per tag are kept; older ones are
    deleted. A frame held past that fails naming its ``<tag>_run<N>``
    path."""
    path = f"{scratch_dir(tag)}_run{next(_RUN_SEQ)}"
    with _scratch_lock:
        runs = _RUN_DIRS.setdefault(tag, [])
        runs.append(path)
        retired = runs[:-_STAGE_RETAIN]
        del runs[:-_STAGE_RETAIN]
    for old in retired:
        shutil.rmtree(old, ignore_errors=True)
    return path


@_contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Session-conf mutate/restore for the conf-scoped eager-staging
    pattern (runtime_bloom_filter_join, aqe_skew_join_events,
    recursive_cte_amortization, the dynamic-partition-overwrite
    writers) — centralized per ADVICE r10/r11 so the single-builder
    contract lives in ONE place:

    SINGLE-BUILDER CONTRACT. Session confs are process-global, so a
    face that plans under mutated confs is safe only when query
    builds on the session are sequential — which the driver, check.py,
    perfbench, and the probes all are. Concurrent BUILDS on one
    SparkSession are not a supported mode of this registry; if that
    ever changes, add a lock around this manager first. (Concurrent
    EXECUTION of already-built DataFrames is unaffected: the pattern
    always executes its work eagerly inside the scope.)

    Restore is exception-safe and distinguishes unset-before from
    set-before: a key the session never set is returned to UNSET
    (falling back to the cluster/SQLConf default), not pinned to the
    default's current string value. Pinned by
    test_scoped_conf_restores_on_exception."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def write_read_back(df: DataFrame, path: str) -> DataFrame:
    """Overwrite ``path`` with ``df`` as parquet (eager: one write job)
    and reopen it with the writer's schema, so the read-back launches
    no inference job. Inference would read that same schema back from
    the footer Spark wrote. Not for ``partitionBy`` or ``mergeSchema``
    output, whose types partition discovery decides."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def stage_to_parquet(df: DataFrame, tag: str) -> DataFrame:
    """Materialize a multi-consumer intermediate to parquet and read
    it back — the repo's lineage-truncation pattern, replacing
    localCheckpoint everywhere (round 10; the round-9 1000x probe
    measured localCheckpoint pinning its blocks in executor heap with
    no public release API, halving the heap for everything downstream
    in a long session). The write is EAGER (runs now, under whatever
    session confs are set) and the read-back is a plain columnar scan
    that re-plans from disk — exactly what a production pipeline's
    materialized intermediate table is at 100 TB.

    The leaf is a `scratch_run(tag)`: a DataFrame from an earlier
    call never re-reads files a later call rewrote, and the newest
    _STAGE_RETAIN runs per tag are kept.

    The read-back goes through `write_read_back`: it reopens with the
    writer's schema, so staging costs exactly one job, the write. The
    returned DataFrame is a fresh scan of this run's directory and is
    not memoised.
    """
    return write_read_back(df, scratch_run(tag))


def stage_sorted(df: DataFrame, tag: str, *order_cols: str) -> DataFrame:
    """Stage, then globally sort — for presentation ORDER BYs over
    expensive map-only (or post-shuffle Python) lineage. A global sort
    executes its child TWICE: once for the range partitioner's
    boundary sampling, once for the sort, and only work behind a
    shuffle boundary is reused between the two jobs — a mapInPandas
    decode, a UDTF, or a per-char lambda ladder above the last
    exchange runs again in full. Staging the (narrow) result first
    means the sampler re-scans parquet instead. Found on
    text_winnowing_fingerprints (578 -> 315 s at 1000x, round 12) and
    applied to the heavy Python-boundary faces; cheap scan-lineage
    faces keep the plain orderBy — for them the extra write costs
    more than the second scan."""
    return stage_to_parquet(df, tag).orderBy(*order_cols)


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Widen pathologically under-partitioned input without taxing
    already-parallel input.

    The local test tables are single parquet files — one scan partition —
    so CPU-heavy per-row operators (shingling, hashing, projections)
    would otherwise run on one core. A 100 TB table arrives in thousands
    of splits, where an unconditional repartition() would be a full
    corpus shuffle for nothing; so shuffle ONLY when the scan yields
    fewer partitions than the target parallelism.
    """
    spark = df.sparkSession
    target = min_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Estimate scan parallelism from the input file listing instead of
    # df.rdd.getNumPartitions(): the estimate is Connect-safe (no
    # SparkContext / RDD access) and errs on the side of NOT shuffling —
    # a frame with no input files (in-memory source) or enough
    # files/bytes to split at or past the target is left untouched.
    files = df.inputFiles()
    est = len(files)
    if 0 < est < target:
        # each file yields >= 1 partition; large files split further at
        # ~128 MiB (spark.sql.files.maxPartitionBytes default), which the
        # local-path stat refines so a few huge files don't trigger a
        # pointless full-table shuffle
        try:
            sizes = [
                os.stat(f.removeprefix("file:")).st_size
                for f in files
                if f.startswith("file:")
            ]
            if len(sizes) == len(files):
                est = sum(max(1, -(-s // (128 << 20))) for s in sizes)
        except OSError:
            pass
    if 0 < est < target:
        return df.repartition(target)
    return df
