"""Reference-parity as a driver-visible query (round 6, verdict task 7).

The single strongest parity proof in the repo — run the reference's full
ETL (COPY INTO staging -> CTAS star schema, etl_imdb_db.sql:59-141) plus
its richest dashboard query (Graf 4, dashboard_visualizations.sql:45-70)
on the reference repo's OWN CSV data — promoted from pytest
(tests/test_reference_data.py) into the driver's CORRECTNESS gate.

Spark side: the IMDB-faithful pipeline from _imdb_etl_spark/etl
(``materialize_pipeline``: in-memory staging tables and CTAS catalog
tables; quirks 1-6 preserved). The face collects its rows and then drops
the staging and the star tables it wrote, so it leaves no catalog
table or cached staging behind in the caller's session. Oracle side: one
self-contained DuckDB statement that read_csv's the same files with the
reference's COPY semantics (header, literal-NULL null string, quote "",
ON_ERROR=CONTINUE on names.csv) and replays the reference SQL as CTEs.
The sf_dir argument is deliberately unused: the input IS the reference
dataset, the same fixed path for every scale factor.

Graf 4's reference form has no outer ORDER BY (SURVEY §2.10 quirk 5 —
tie-nondeterminism); the driver compare is order-insensitive, and a
deterministic ORDER BY is appended on both sides anyway so local diffs
read stably.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from _imdb_etl_spark.registry import register

REF_DATA = "/root/reference/imdb_db"

_CSV_OPTS = "header=true, nullstr='NULL', quote='\"', escape='\"'"

_LOADS = [
    (
        "movies_staging",
        "movie.csv",
        "{'id':'VARCHAR','title':'VARCHAR','year':'INTEGER',"
        "'date_published':'DATE','duration':'INTEGER','country':'VARCHAR',"
        "'worlwide_gross_income':'VARCHAR','languages':'VARCHAR',"
        "'production_company':'VARCHAR'}",
        "",
    ),
    (
        "genres_staging",
        "ganre.csv",
        "{'movie_id':'VARCHAR','genre':'VARCHAR'}",
        "",
    ),
    (
        "name_staging",
        "names.csv",
        "{'id':'VARCHAR','name':'VARCHAR','height':'INTEGER',"
        "'date_of_birth':'DATE','known_for_movies':'VARCHAR'}",
        ", ignore_errors=true",  # ON_ERROR='CONTINUE', etl_imdb_db.sql:82
    ),
    (
        "ratings_staging",
        "ratings.csv",
        "{'movie_id':'VARCHAR','avg_rating':'DECIMAL(3,1)',"
        "'total_votes':'INTEGER','median_rating':'INTEGER'}",
        "",
    ),
    (
        "director_mapping_staging",
        "director_mapping.csv",
        "{'movie_id':'VARCHAR','name_id':'VARCHAR'}",
        "",
    ),
    (
        "role_mapping_staging",
        "role_mapping.csv",
        "{'movie_id':'VARCHAR','name_id':'VARCHAR','category':'VARCHAR'}",
        "",
    ),
]

_STAGING_CTES = ",\n".join(
    f"{table} AS (SELECT * FROM read_csv('{REF_DATA}/{fname}', "
    f"{_CSV_OPTS}{extra}, columns={columns}))"
    for table, fname, columns, extra in _LOADS
)

# etl_imdb_db.sql:90-141 CTAS bodies, as CTEs
_STAR_CTES = """
dim_movies AS (
  SELECT DISTINCT id AS movie_id, title, year, date_published, duration,
                  country, languages, production_company
  FROM movies_staging
),
dim_people AS (
  SELECT DISTINCT n.id AS person_id, n.name, r.category AS role,
                  n.known_for_movies, n.date_of_birth,
                  dms.movie_id AS directed_movie_id
  FROM name_staging n
  LEFT JOIN role_mapping_staging r ON n.id = r.name_id
  LEFT JOIN director_mapping_staging dms ON n.id = dms.name_id
),
dim_genres AS (
  SELECT DISTINCT genre AS genre_id, genre AS genre_name
  FROM genres_staging
),
fact_movies AS (
  SELECT DISTINCT m.id AS movie_id, dg.genre_id, dp.person_id AS director_id,
                  r.total_votes, r.avg_rating, m.duration
  FROM movies_staging m
  LEFT JOIN ratings_staging r ON m.id = r.movie_id
  LEFT JOIN genres_staging g ON m.id = g.movie_id
  LEFT JOIN dim_genres dg ON g.genre = dg.genre_name
  LEFT JOIN dim_people dp ON dp.known_for_movies = m.id
)
"""

# dashboard_visualizations.sql:45-70 (Graf 4) with the deterministic
# tiebreakers the Spark builder mirrors
_PARITY_SQL = f"""
WITH {_STAGING_CTES},
{_STAR_CTES},
top3_genre AS (
  SELECT dg.genre_name AS genre, COUNT(fm.movie_id) AS movie_count
  FROM fact_movies AS fm
  INNER JOIN dim_genres AS dg ON fm.genre_id = dg.genre_id
  INNER JOIN ratings_staging AS r ON fm.movie_id = r.movie_id
  WHERE r.avg_rating > 6
  GROUP BY dg.genre_name
  ORDER BY movie_count DESC, genre
  LIMIT 3
),
top3_director AS (
  SELECT dp.name AS director_name, COUNT(fm.movie_id) AS movie_count,
         ROW_NUMBER() OVER (
           PARTITION BY dg.genre_name
           ORDER BY COUNT(fm.movie_id) DESC, dp.name) AS director_rank
  FROM fact_movies AS fm
  INNER JOIN dim_people AS dp ON fm.director_id = dp.person_id
  INNER JOIN dim_genres AS dg ON fm.genre_id = dg.genre_id
  INNER JOIN ratings_staging AS r ON fm.movie_id = r.movie_id
  WHERE dg.genre_name IN (SELECT genre FROM top3_genre)
    AND r.avg_rating > 6
  GROUP BY dp.name, dg.genre_name
)
SELECT director_name, CAST(movie_count AS BIGINT) AS movie_count
FROM top3_director
WHERE director_rank <= 3
ORDER BY director_name, movie_count
"""


@register(
    "imdb_reference_parity",
    _PARITY_SQL,
    doc="Full reference ETL + Graf 4 on /root/reference/imdb_db's own "
    "CSVs, hash-matched against DuckDB replaying the reference SQL on "
    "the same files — the reference-parity pytest promoted to a driver "
    "gate row. Exercises S4/S5 CSV ingest (literal-NULL, quoted "
    "fields, ON_ERROR=CONTINUE), the four CTAS star tables with quirks "
    "1-2 (known_for-as-director join, fan-out DISTINCT), and the "
    "deepest dashboard DAG (CTE -> IN-subquery -> windowed top-3).",
)
def imdb_reference_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from _imdb_etl_spark.etl import grafs as g
    from _imdb_etl_spark.etl.star import STAR_TABLES, drop_staging, materialize_pipeline
    from _imdb_etl_spark.sources.sinks import drop_table

    try:
        tables = materialize_pipeline(spark, REF_DATA)
        out = g.graf4_top3_directors_top3_genres(
            tables["fact_movies"],
            tables["dim_people"],
            tables["dim_genres"],
            tables["ratings_staging"],
        ).select(
            "director_name", F.col("movie_count").cast("long").alias("movie_count")
        ).orderBy("director_name", "movie_count")
        rows = out.collect()
    finally:
        drop_staging(spark)
        for name in STAR_TABLES:
            drop_table(spark, name)
    return spark.createDataFrame(rows, out.schema)
