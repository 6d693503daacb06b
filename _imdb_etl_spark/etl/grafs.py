"""The six dashboard queries ("Graf 1-6") over the IMDB star schema,
faithful to /root/reference/dashboard_visualizations.sql, as idiomatic
DataFrame builders.

Inputs are the tables ``star.materialize_pipeline`` returns (dims/fact
plus the staging tables Graf 4/5 still read — reference quirk 3). Each builder
appends a deterministic tiebreaker to the reference's ORDER BY (quirk 5:
the reference's own top-k is nondeterministic under ties) so outputs are
reproducible and oracle-hashable; tests mirror the same tiebreakers in
the DuckDB oracle.

Each builder first passes its inputs through ``functions.single_partition``.
When the row bound proves every input within ``ONE_PARTITION_ROWS_MAX``
rows, the measured size up to which one task beats the parallel plan,
each is read as one partition: the aggregates, windows and closing sorts
above plan no exchange, and the joins broadcast their dim side beside a
one-partition streamed side, so a graf launches only its broadcast jobs
and one result job. When any input is unproven or larger, none is
coalesced and the builder plans the shuffles it always did.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from _imdb_etl_spark.functions import ordered, single_partition


def graf1_usa_india_2019(dim_movies: DataFrame) -> DataFrame:
    """dashboard_visualizations.sql:2-9."""
    (dim_movies,) = single_partition(dim_movies)
    return ordered(
        dim_movies.where(
            F.col("country").isin("USA", "India") & (F.col("year") == 2019)
        )
        .groupBy("country")
        .agg(F.count("movie_id").alias("number_of_movies")),
        F.desc("number_of_movies"),
        "country",
    )


def graf2_avg_duration_by_genre(dim_genres: DataFrame, fact_movies: DataFrame) -> DataFrame:
    """dashboard_visualizations.sql:13-22. AVG over int duration: exact
    long sum / count, one double division — matches any engine bitwise."""
    dim_genres, fact_movies = single_partition(dim_genres, fact_movies)
    dg = dim_genres.alias("dg")
    fm = fact_movies.alias("fm")
    return ordered(
        dg.join(fm, F.col("dg.genre_id") == F.col("fm.genre_id"), "inner")
        .groupBy(F.col("dg.genre_name").alias("genre"))
        .agg(
            F.round(
                F.sum(F.col("duration").cast("long")).cast("double")
                / F.count("duration"),
                2,
            ).alias("avg_duration")
        ),
        F.desc("avg_duration"),
        "genre",
    )


def graf3_top10_directors(fact_movies: DataFrame, dim_people: DataFrame) -> DataFrame:
    """dashboard_visualizations.sql:24-34."""
    fact_movies, dim_people = single_partition(fact_movies, dim_people)
    return (
        fact_movies.join(
            dim_people, fact_movies["director_id"] == dim_people["person_id"], "inner"
        )
        .groupBy(F.col("name").alias("director_name"))
        .agg(F.count("movie_id").alias("movie_count"))
        .orderBy(F.desc("movie_count"), "director_name")
        .limit(10)
    )


def graf4_top3_directors_top3_genres(
    fact_movies: DataFrame,
    dim_people: DataFrame,
    dim_genres: DataFrame,
    ratings_staging: DataFrame,
) -> DataFrame:
    """dashboard_visualizations.sql:36-70: CTE1 top-3 genres among
    rating>6 movies; CTE2 per-(director, genre) counts ranked by
    ROW_NUMBER; final rank<=3. Note it reads ratings_staging (quirk 3)
    and uses > 6 per the SQL, not the README's prose "> 8" (quirk 4)."""
    fact_movies, dim_people, dim_genres, ratings_staging = single_partition(
        fact_movies, dim_people, dim_genres, ratings_staging
    )
    fm = fact_movies.alias("fm")
    r = ratings_staging.alias("r")
    dg = dim_genres.alias("dg")
    dp = dim_people.alias("dp")

    rated = (
        fm.join(dg, F.col("fm.genre_id") == F.col("dg.genre_id"))
        .join(r, F.col("fm.movie_id") == F.col("r.movie_id"))
        .where(F.col("r.avg_rating") > 6)
    )
    top3_genre = (
        rated.groupBy(F.col("dg.genre_name").alias("genre"))
        .agg(F.count("fm.movie_id").alias("movie_count"))
        .orderBy(F.desc("movie_count"), "genre")
        .limit(3)
        .select("genre")
    )
    # no broadcast hint needed: the planner sizes a limit(3) at three rows
    # at any scale and broadcasts it
    per_director = (
        rated.join(dp, F.col("fm.director_id") == F.col("dp.person_id"))
        .join(top3_genre, F.col("dg.genre_name") == F.col("genre"), "left_semi")
        .groupBy(F.col("dp.name").alias("director_name"), F.col("dg.genre_name"))
        .agg(F.count("fm.movie_id").alias("movie_count"))
    )
    w = Window.partitionBy("genre_name").orderBy(
        F.desc("movie_count"), F.asc("director_name")
    )
    return ordered(
        per_director.withColumn("director_rank", F.row_number().over(w))
        .where(F.col("director_rank") <= 3)
        .select("director_name", "movie_count"),
        "director_name",
        "movie_count",
    )


def graf5_top10_actors_by_roles(
    role_mapping_staging: DataFrame, dim_people: DataFrame
) -> DataFrame:
    """dashboard_visualizations.sql:72-84 — reads role_mapping_staging
    (quirk 3); COUNT(*) counts the dim_people fan-out by design."""
    role_mapping_staging, dim_people = single_partition(
        role_mapping_staging, dim_people
    )
    return (
        role_mapping_staging.where(F.col("category").isin("actor", "actress"))
        .join(
            dim_people,
            role_mapping_staging["name_id"] == dim_people["person_id"],
            "inner",
        )
        .groupBy(F.col("name").alias("actor_name"))
        .agg(F.count(F.lit(1)).alias("total_roles"))
        .orderBy(F.desc("total_roles"), "actor_name")
        .limit(10)
    )


def graf6_movies_by_country(dim_movies: DataFrame) -> DataFrame:
    """dashboard_visualizations.sql:86-95 — the multi-valued country
    string is an atomic group key, as in the reference."""
    (dim_movies,) = single_partition(dim_movies)
    return (
        dim_movies.groupBy("country")
        .agg(F.count("movie_id").alias("movie_count"))
        .orderBy(F.desc("movie_count"), F.asc_nulls_first("country"))
        .limit(10)
    )
