"""Reference-parity tests: the Spark ETL + Graf queries must agree with
DuckDB running the reference SQL (near-verbatim) on the same fixture
CSVs, and the FIXTURES.md invariants must hold.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from _imdb_etl_spark.etl import grafs as g
from _imdb_etl_spark.etl.star import STAR_TABLES, run_pipeline
from _imdb_etl_spark.testing import canon_rows, diff_samples
from tests import oracle_imdb


@pytest.fixture(scope="module")
def tables(spark, imdb_stage):
    return run_pipeline(spark, imdb_stage)


@pytest.fixture(scope="module")
def oracle(imdb_stage):
    con = oracle_imdb.build(imdb_stage)
    yield con
    con.close()


def assert_matches(sdf, rel, label=""):
    scanon, shash = canon_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    dcols = [d[0] for d in rel.description]
    dcanon, dhash = canon_rows(dcols, rel.fetchall())
    assert sorted(sdf.columns) == sorted(dcols), label
    assert shash == dhash, f"{label}\n{diff_samples(scanon, dcanon)}"


# --- ETL output parity (etl_imdb_db.sql:90-141) ---


@pytest.mark.parametrize(
    "name", ["dim_movies", "dim_genres", "dim_people", "fact_movies"]
)
def test_etl_tables_match_oracle(tables, oracle, name):
    assert_matches(tables[name], oracle.sql(f"SELECT * FROM {name}"), name)


@pytest.mark.parametrize(
    "name",
    [
        "movies_staging",
        "genres_staging",
        "name_staging",
        "ratings_staging",
        "director_mapping_staging",
        "role_mapping_staging",
    ],
)
def test_staging_loads_match_oracle(tables, oracle, name):
    assert_matches(tables[name], oracle.sql(f"SELECT * FROM {name}"), name)


# --- FIXTURES.md invariants ---


def test_materialize_survives_stage_deletion(spark, tmp_path):
    """CTAS semantics (S7): materialized dims outlive the stage files,
    exactly like the reference's physical tables outlive DROP-ped
    staging; the lazy pipeline would FileNotFound here."""
    import shutil

    from _imdb_etl_spark.etl.star import drop_staging, materialize_pipeline
    from tests import fixtures

    stage = str(tmp_path / "stage")
    fixtures.generate(stage, n=50, seed=3)
    t = materialize_pipeline(spark, stage)
    n_dims = t["dim_movies"].count()
    drop_staging(spark)
    shutil.rmtree(stage)
    assert spark.table("fact_movies").count() > 0
    assert spark.table("dim_movies").count() == n_dims == 50
    for name in ("dim_movies", "dim_genres", "dim_people", "fact_movies"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _drop_star(spark):
    for name in STAR_TABLES:
        spark.catalog.dropTempView(name)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_materialize_abort_writes_nothing(spark, tmp_path):
    """COPY INTO's ABORT_STATEMENT: one bad ratings value fails the
    load before any star table is written, and the staging loads that
    did succeed are freed again."""
    from _imdb_etl_spark.etl.star import materialize_pipeline
    from _imdb_etl_spark.schemas import STAGING_LOADS
    from _imdb_etl_spark.sources.csv_source import MalformedRowsError
    from tests import fixtures

    stage = tmp_path / "stage"
    fixtures.generate(str(stage), n=50, seed=5)
    ratings = stage / "ratings.csv"
    header, first, *rest = ratings.read_text().splitlines()
    cols = first.split(",")
    cols[1] = "high"  # avg_rating is DECIMAL(3,1)
    ratings.write_text("\n".join([header, ",".join(cols), *rest]) + "\n")

    _drop_star(spark)
    before = _persistent_rdds(spark)
    with pytest.raises(MalformedRowsError, match="ratings.csv"):
        materialize_pipeline(spark, str(stage))
    for name in (*STAR_TABLES, *STAGING_LOADS):
        assert not spark.catalog.tableExists(name), name
    assert _persistent_rdds(spark) == before


def test_materialize_cycles_free_staging(spark, imdb_stage, oracle):
    """Staging lives in memory from materialize_pipeline to
    drop_staging and no longer: repeated cycles in one session leave
    the persisted-RDD count where it started. The tables each cycle
    returns equal the oracle's."""
    from _imdb_etl_spark.etl.star import drop_staging, materialize_pipeline
    from _imdb_etl_spark.schemas import STAGING_LOADS

    start = _persistent_rdds(spark)
    try:
        for _ in range(3):
            t = materialize_pipeline(spark, imdb_stage)
            assert _persistent_rdds(spark) == start + len(STAGING_LOADS)
            for name in (*STAR_TABLES, *STAGING_LOADS):
                assert_matches(t[name], oracle.sql(f"SELECT * FROM {name}"), name)
            drop_staging(spark)
            assert _persistent_rdds(spark) == start
    finally:
        drop_staging(spark)
        _drop_star(spark)


def test_materialize_jobs_carry_caller_job_group(spark, tmp_path):
    """The concurrent loads and CTAS run on worker threads; every job
    they launch must still belong to the caller's job group."""
    import time

    from _imdb_etl_spark.etl.star import drop_staging, materialize_pipeline
    from tests import fixtures

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker_job(group: str) -> int:
        sc.setJobGroup(group, group)
        sc.parallelize([0], 1).count()
        deadline = time.monotonic() + 30
        while not (ids := tracker.getJobIdsForGroup(group)):
            assert time.monotonic() < deadline, f"job of {group} never reported"
            time.sleep(0.05)
        return ids[0]

    stage = str(tmp_path / "stage")
    fixtures.generate(stage, n=50, seed=6)
    try:
        first = marker_job("etl-before")
        sc.setJobGroup("etl-caller", "materialize under a caller's group")
        materialize_pipeline(spark, stage)
        last = marker_job("etl-after")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        drop_staging(spark)
        _drop_star(spark)
    launched = set(range(first + 1, last))
    assert launched
    assert launched == set(tracker.getJobIdsForGroup("etl-caller"))


def test_malformed_names_dropped(tables):
    # ON_ERROR='CONTINUE' semantics: the injected bad-date rows are gone
    assert tables["name_staging"].where(F.col("name").startswith("Broken")).count() == 0


def test_dim_genres_degenerate(tables):
    dg = tables["dim_genres"]
    n_genres = tables["genres_staging"].select("genre").distinct().count()
    assert dg.count() == n_genres
    assert dg.where(F.col("genre_id") != F.col("genre_name")).count() == 0


def test_dim_people_fanout_and_null_rows(tables):
    dp = tables["dim_people"]
    names = tables["name_staging"]
    # every person appears at least once, even with no role/directorship
    assert dp.select("person_id").distinct().count() == names.count()
    unmatched = dp.where(F.col("role").isNull() & F.col("directed_movie_id").isNull())
    assert unmatched.count() > 0  # sparse FKs guarantee some


def test_fact_director_is_known_for_not_mapping(tables):
    # quirk 1: director_id populated only via known_for_movies = movie_id
    fact = tables["fact_movies"].alias("f")
    dp = tables["dim_people"].alias("p")
    joined = fact.where(F.col("f.director_id").isNotNull()).join(
        dp, F.col("f.director_id") == F.col("p.person_id")
    )
    bad = joined.where(F.col("p.known_for_movies") != F.col("f.movie_id"))
    assert bad.count() == 0


def test_fact_movies_without_genre_have_null_genre(tables):
    fact = tables["fact_movies"]
    with_genre = tables["genres_staging"].select("movie_id").distinct()
    missing = fact.join(with_genre, "movie_id", "left_anti")
    assert missing.count() > 0
    assert missing.where(F.col("genre_id").isNotNull()).count() == 0


# --- Graf query parity (dashboard_visualizations.sql) ---


def test_graf1(tables, oracle):
    assert_matches(
        g.graf1_usa_india_2019(tables["dim_movies"]),
        oracle.sql(oracle_imdb.GRAF_SQL["graf1"]),
        "graf1",
    )


def test_graf2(tables, oracle):
    assert_matches(
        g.graf2_avg_duration_by_genre(tables["dim_genres"], tables["fact_movies"]),
        oracle.sql(oracle_imdb.GRAF_SQL["graf2"]),
        "graf2",
    )


def test_graf3(tables, oracle):
    assert_matches(
        g.graf3_top10_directors(tables["fact_movies"], tables["dim_people"]),
        oracle.sql(oracle_imdb.GRAF_SQL["graf3"]),
        "graf3",
    )


def test_graf4(tables, oracle):
    sdf = g.graf4_top3_directors_top3_genres(
        tables["fact_movies"],
        tables["dim_people"],
        tables["dim_genres"],
        tables["ratings_staging"],
    )
    assert sdf.count() > 0  # guard against a vacuous parity pass
    assert_matches(sdf, oracle.sql(oracle_imdb.GRAF_SQL["graf4"]), "graf4")


def test_graf5(tables, oracle):
    assert_matches(
        g.graf5_top10_actors_by_roles(
            tables["role_mapping_staging"], tables["dim_people"]
        ),
        oracle.sql(oracle_imdb.GRAF_SQL["graf5"]),
        "graf5",
    )


def test_graf6(tables, oracle):
    assert_matches(
        g.graf6_movies_by_country(tables["dim_movies"]),
        oracle.sql(oracle_imdb.GRAF_SQL["graf6"]),
        "graf6",
    )
