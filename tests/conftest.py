from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from _imdb_etl_spark.etl.star import (  # noqa: E402
    STAR_TABLES,
    drop_staging,
    materialize_pipeline,
)
from _imdb_etl_spark.session import get_spark  # noqa: E402
from _imdb_etl_spark.sources.catalog import DRIVER_TABLES  # noqa: E402
from _imdb_etl_spark.sources.sinks import drop_table  # noqa: E402
from tests import fixtures, oracle_imdb  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def imdb_stage(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("imdb_stage")
    fixtures.generate(str(d), n=200, seed=42)
    return str(d)


@pytest.fixture(scope="module")
def tables(spark, imdb_stage):
    """The star ETL over ``imdb_stage``, as perfbench's ``imdb_etl``
    runs it: six cached staging tables plus the four star tables written
    to the catalog. Staging and star tables are dropped when the module
    ends. A test that rewrites or drops them belongs in a module that
    does not use this fixture (test_etl_materialize.py)."""
    yield materialize_pipeline(spark, imdb_stage)
    drop_staging(spark)
    for name in STAR_TABLES:
        drop_table(spark, name)


@pytest.fixture(scope="module")
def oracle(imdb_stage):
    """DuckDB holding ``imdb_stage``'s staging and star tables, built by
    the reference SQL."""
    con = oracle_imdb.build(imdb_stage)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def duck():
    """duck(sf_dir, sql) -> (cols, rows): run oracle SQL on DuckDB over
    the driver tables present in sf_dir, as tools/check.py does. A
    table may be a parquet file or a Spark-written parquet directory."""

    def run(sf_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
        con = duckdb.connect()
        try:
            for t in DRIVER_TABLES:
                p = os.path.join(sf_dir, f"{t}.parquet")
                if os.path.isdir(p):
                    p = os.path.join(p, "*.parquet")
                elif not os.path.exists(p):
                    continue
                con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{p}')")
            rel = con.sql(sql)
            return rel.columns, rel.fetchall()
        finally:
            con.close()

    return run
