"""The reference's star-schema ETL (etl_imdb_db.sql), one path:
``materialize_pipeline`` loads the six staging CSVs into in-memory
staging tables (COPY INTO) and writes the dims and the fact as catalog
tables (CTAS) built by the DataFrame -> DataFrame transforms below.

Reference quirks deliberately preserved (SURVEY.md §2.10):

1. ``fact_movies.director_id`` joins ``dim_people.known_for_movies`` to
   the movie id (etl_imdb_db.sql:141) — NOT director_mapping. The
   "director" is whoever is *known for* the movie.
2. ``dim_people`` stacks two 1:N left joins (roles x directorships,
   etl_imdb_db.sql:112-113) producing a fan-out only partially collapsed
   by DISTINCT.
3. Graf 4/5 read staging tables the ETL later drops
   (etl_imdb_db.sql:153-158), so the staging tables outlive the CTAS
   until ``drop_staging`` frees them explicitly; statement order is the
   reference's only dependency mechanism and we encode it as an
   explicit phase.

Scale posture: every transform is declarative (select/join/distinct),
and nothing here collects to the driver. ``materialize_pipeline`` passes
the inputs of each CTAS through ``functions.single_partition``: when the
row bound proves every input small (the loaded staging caches count
their rows, the stored dims their parquet footers), each is read as one
partition, so the DISTINCTs and the joins of the dims and the fact plan
no shuffle and each CTAS writes one file. When any input is unproven or
above ``ONE_PARTITION_ROWS_MAX`` rows (the measured size up to which one
task beats the parallel plan), none is coalesced: Catalyst plans
broadcast joins for the dim-sized sides and two-phase hash aggregates
for the DISTINCTs, as at any scale.
"""

from __future__ import annotations

import functools
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import single_partition
from _imdb_etl_spark.schemas import STAGING_LOADS
from _imdb_etl_spark.sources.csv_source import read_staging_csv

STAR_TABLES = ("dim_movies", "dim_genres", "dim_people", "fact_movies")


def build_dim_movies(movies_staging: DataFrame) -> DataFrame:
    """etl_imdb_db.sql:90-100 — distinct 8-col projection (drops the
    never-used gross-income string)."""
    return movies_staging.select(
        F.col("id").alias("movie_id"),
        "title",
        "year",
        "date_published",
        "duration",
        "country",
        "languages",
        "production_company",
    ).dropDuplicates()


def build_dim_genres(genres_staging: DataFrame) -> DataFrame:
    """etl_imdb_db.sql:120-124 — degenerate dimension: the genre string
    is both surrogate id and name."""
    return genres_staging.select(
        F.col("genre").alias("genre_id"),
        F.col("genre").alias("genre_name"),
    ).dropDuplicates()


def build_dim_people(
    name_staging: DataFrame,
    role_mapping_staging: DataFrame,
    director_mapping_staging: DataFrame,
) -> DataFrame:
    """etl_imdb_db.sql:103-113 — names ⟕ roles ⟕ directorships, DISTINCT.

    Both mapping sides are person-keyed 1:N, so a person with r role rows
    and d directed movies fans out to up to r x d rows (quirk 2)."""
    n = name_staging.alias("n")
    r = role_mapping_staging.alias("r")
    dms = director_mapping_staging.alias("dms")
    return (
        n.join(r, F.col("n.id") == F.col("r.name_id"), "left")
        .join(dms, F.col("n.id") == F.col("dms.name_id"), "left")
        .select(
            F.col("n.id").alias("person_id"),
            F.col("n.name").alias("name"),
            F.col("r.category").alias("role"),
            F.col("n.known_for_movies").alias("known_for_movies"),
            F.col("n.date_of_birth").alias("date_of_birth"),
            F.col("dms.movie_id").alias("directed_movie_id"),
        )
        .dropDuplicates()
    )


def build_fact_movies(
    movies_staging: DataFrame,
    ratings_staging: DataFrame,
    genres_staging: DataFrame,
    dim_genres: DataFrame,
    dim_people: DataFrame,
) -> DataFrame:
    """etl_imdb_db.sql:129-141 — movies ⟕ ratings ⟕ genres ⟕ dim_genres
    ⟕ dim_people(known_for_movies = movie id), DISTINCT.

    The last join (quirk 1) links through ``known_for_movies`` — the
    value column, not a key — so ``director_id`` means "person known for
    this movie"."""
    m = movies_staging.alias("m")
    r = ratings_staging.alias("r")
    g = genres_staging.alias("g")
    dg = dim_genres.alias("dg")
    dp = dim_people.alias("dp")
    return (
        m.join(r, F.col("m.id") == F.col("r.movie_id"), "left")
        .join(g, F.col("m.id") == F.col("g.movie_id"), "left")
        .join(dg, F.col("g.genre") == F.col("dg.genre_name"), "left")
        .join(dp, F.col("dp.known_for_movies") == F.col("m.id"), "left")
        .select(
            F.col("m.id").alias("movie_id"),
            F.col("dg.genre_id").alias("genre_id"),
            F.col("dp.person_id").alias("director_id"),
            F.col("r.total_votes").alias("total_votes"),
            F.col("r.avg_rating").alias("avg_rating"),
            F.col("m.duration").alias("duration"),
        )
        .dropDuplicates()
    )


def _concurrently(spark: SparkSession, steps: dict) -> dict:
    """Run independent zero-argument steps on one thread each and return
    their results by name. Each step is wrapped before it is submitted,
    so every job it launches carries the caller's job group, job
    description and tags. Waits for every step, then re-raises the
    first failure in step order."""
    with ThreadPoolExecutor(max_workers=len(steps)) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(step))
            for name, step in steps.items()
        }
    return {name: f.result() for name, f in futures.items()}


def _load_staging_table(
    spark: SparkSession, name: str, path: str, schema, drop_malformed: bool
) -> DataFrame:
    df = read_staging_csv(spark, path, schema, drop_malformed)
    df.createOrReplaceTempView(name)
    return df


def materialize_pipeline(spark: SparkSession, stage_dir: str) -> dict[str, DataFrame]:
    """The reference's actual COPY INTO + CTAS semantics
    (etl_imdb_db.sql:59-141), returning every table by name.

    Staging: each stage CSV is parsed exactly once, into an in-memory
    staging table registered as a temp view; the six loads run
    concurrently. A bad value in an aborting load (all but the names
    load, which skips bad rows) raises ``MalformedRowsError`` once every
    load has finished and before any star table is written, with the
    staging freed again.

    Star tables: dims/fact are physically written as catalog parquet
    tables, so queries scan stored data instead of re-deriving it, and
    the tables survive staging cleanup (and stage-file deletion). The
    three dims are written concurrently from the staging tables; then
    ``fact_movies`` is written from the staging tables and the stored
    ``dim_genres``/``dim_people``.

    Lifetime: the staging tables hold memory until ``drop_staging``;
    a new call frees the previous call's staging first. Concurrent jobs
    run under the caller's job group and tags."""
    from _imdb_etl_spark.sources.sinks import save_as_table

    drop_staging(spark)
    try:
        staging = _concurrently(
            spark,
            {
                name: functools.partial(
                    _load_staging_table,
                    spark,
                    name,
                    os.path.join(stage_dir, file_name),
                    schema,
                    drop_malformed,
                )
                for name, (file_name, schema, drop_malformed) in STAGING_LOADS.items()
            },
        )
        small = dict(zip(staging, single_partition(*staging.values())))
        dims = {
            "dim_movies": build_dim_movies(small["movies_staging"]),
            "dim_genres": build_dim_genres(small["genres_staging"]),
            "dim_people": build_dim_people(
                small["name_staging"],
                small["role_mapping_staging"],
                small["director_mapping_staging"],
            ),
        }
        _concurrently(
            spark,
            {name: functools.partial(save_as_table, df, name) for name, df in dims.items()},
        )
        fact = build_fact_movies(
            *single_partition(
                staging["movies_staging"],
                staging["ratings_staging"],
                staging["genres_staging"],
                spark.table("dim_genres"),
                spark.table("dim_people"),
            )
        )
        save_as_table(fact, "fact_movies")
    except BaseException:
        drop_staging(spark)
        raise
    out = dict(staging)
    out.update({name: spark.table(name) for name in STAR_TABLES})
    return out


def drop_staging(spark: SparkSession) -> None:
    """etl_imdb_db.sql:153-158 — the cleanup phase. Separate call so the
    dashboard queries can run first (quirk 3). Dropping a staging view
    also frees the in-memory rows ``materialize_pipeline`` cached for it
    (Spark uncaches a cached plan when its temp view is dropped)."""
    for name in STAGING_LOADS:
        spark.catalog.dropTempView(name)
