"""Reference-parity tests: the tables ``materialize_pipeline`` writes
and the Graf queries over them must agree with DuckDB running the
reference SQL (near-verbatim) on the same fixture CSVs, and the
FIXTURES.md invariants must hold. The ``tables`` and ``oracle`` fixtures
live in conftest.py; tests that rewrite the star tables are in
test_etl_materialize.py.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from _imdb_etl_spark.etl import grafs as g
from _imdb_etl_spark.testing import canon_rows
from tests import oracle_imdb


def diff_samples(a: list[str], b: list[str], k: int = 3) -> str:
    sa, sb = set(a), set(b)
    lines = [f"  left-only:  {r!r}" for r in list(sa - sb)[:k]]
    lines += [f"  right-only: {r!r}" for r in list(sb - sa)[:k]]
    return "\n".join(lines)


def shuffles(df) -> list[str]:
    """The exchanges in the frame's physical plan other than broadcasts."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln.strip() for ln in plan.splitlines() if re.search(r"(?<!Broadcast)Exchange ", ln)]


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


# --- closing sorts through functions.ordered ---


@pytest.mark.parametrize(
    "graf, inputs",
    [
        (g.graf1_usa_india_2019, ["dim_movies"]),
        (g.graf2_avg_duration_by_genre, ["dim_genres", "fact_movies"]),
        (
            g.graf4_top3_directors_top3_genres,
            ["fact_movies", "dim_people", "dim_genres", "ratings_staging"],
        ),
    ],
)
def test_graf_closing_sort_keeps_order(tables, monkeypatch, graf, inputs):
    """A graf routed through ``ordered`` returns the rows of the global
    sort in the same order; a cap of -1 forces the global sort. The
    oracle hash sorts rows first, so only this test sees the order."""
    from _imdb_etl_spark import functions

    got = [tuple(r) for r in graf(*(tables[t] for t in inputs)).collect()]
    monkeypatch.setattr(functions, "SMALL_ROWS_MAX", -1)
    plan = graf(*(tables[t] for t in inputs))
    assert "rangepartitioning" in plan._jdf.queryExecution().executedPlan().toString()
    assert got == [tuple(r) for r in plan.collect()]


# --- the small-input gate (functions.single_partition) ---

# each graf, its inputs and the jobs it launches once its inputs pass the
# gate: one per broadcast, then the result job
GRAFS = [
    (g.graf1_usa_india_2019, ["dim_movies"], 1),
    (g.graf2_avg_duration_by_genre, ["dim_genres", "fact_movies"], 2),
    (g.graf3_top10_directors, ["fact_movies", "dim_people"], 2),
    (
        g.graf4_top3_directors_top3_genres,
        ["fact_movies", "dim_people", "dim_genres", "ratings_staging"],
        7,
    ),
    (g.graf5_top10_actors_by_roles, ["role_mapping_staging", "dim_people"], 2),
    (g.graf6_movies_by_country, ["dim_movies"], 1),
]


@pytest.mark.parametrize("graf, inputs, jobs", GRAFS, ids=lambda v: getattr(v, "__name__", None))
def test_graf_runs_in_one_partition(spark, tables, graf, inputs, jobs):
    """At fixture scale every input is proven small, so a graf plans no
    hash or range exchange, only its broadcasts, and launches one job
    per broadcast plus the result job."""
    df = graf(*(tables[t] for t in inputs))
    assert shuffles(df) == []
    sc = spark.sparkContext
    group = f"graf-jobs-{graf.__name__}"
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
    assert shuffles(df) == []


@pytest.mark.parametrize("graf, inputs, jobs", GRAFS, ids=lambda v: getattr(v, "__name__", None))
def test_graf_without_gate_plans_shuffles_same_rows(tables, monkeypatch, graf, inputs, jobs):
    """With the gate's cap below any bound, nothing is coalesced: the
    graf plans its hash exchanges again and returns the same rows in
    the same order."""
    from _imdb_etl_spark import functions

    got = [tuple(r) for r in graf(*(tables[t] for t in inputs)).collect()]
    monkeypatch.setattr(functions, "SMALL_ROWS_MAX", -1)
    forced = graf(*(tables[t] for t in inputs))
    assert any("hashpartitioning" in ln for ln in shuffles(forced))
    assert got == [tuple(r) for r in forced.collect()]
