"""The strongest parity evidence: run the full ETL + all six Graf
queries on the reference repo's OWN CSV data (/root/reference/imdb_db,
read-only) and hash-match DuckDB executing the reference SQL on the
same files."""

from __future__ import annotations

import os

import pytest

from _imdb_etl_spark.etl import grafs as g
from _imdb_etl_spark.plans.parity import REF_DATA
from tests import oracle_imdb
from tests.test_etl_star import assert_matches

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_DATA), reason="reference data not present"
)


@pytest.fixture(scope="module")
def imdb_stage():
    """The reference's own CSVs stand in for the fixture stage, so the
    shared ``tables`` and ``oracle`` fixtures run over them."""
    return REF_DATA


@pytest.mark.parametrize(
    "name",
    ["dim_movies", "dim_genres", "dim_people", "fact_movies"],
)
def test_reference_etl_tables(tables, oracle, name):
    assert_matches(tables[name], oracle.sql(f"SELECT * FROM {name}"), name)


def test_reference_grafs(tables, oracle):
    outs = {
        "graf1": g.graf1_usa_india_2019(tables["dim_movies"]),
        "graf2": g.graf2_avg_duration_by_genre(
            tables["dim_genres"], tables["fact_movies"]
        ),
        "graf3": g.graf3_top10_directors(
            tables["fact_movies"], tables["dim_people"]
        ),
        "graf4": g.graf4_top3_directors_top3_genres(
            tables["fact_movies"],
            tables["dim_people"],
            tables["dim_genres"],
            tables["ratings_staging"],
        ),
        "graf5": g.graf5_top10_actors_by_roles(
            tables["role_mapping_staging"], tables["dim_people"]
        ),
        "graf6": g.graf6_movies_by_country(tables["dim_movies"]),
    }
    nonempty = 0
    for name, df in outs.items():
        rows = df.count()
        nonempty += rows > 0
        assert_matches(df, oracle.sql(oracle_imdb.GRAF_SQL[name]), name)
    assert nonempty >= 4  # the real data must actually exercise the queries
