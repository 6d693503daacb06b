from _imdb_etl_spark.sources.catalog import (
    load_tables,
    scoped_conf,
    scratch_dir,
    scratch_run,
    spread,
    stage_sorted,
    stage_to_parquet,
    table,
    write_read_back,
)
from _imdb_etl_spark.sources.csv_source import read_staging_csv

__all__ = [
    "load_tables",
    "scoped_conf",
    "scratch_dir",
    "scratch_run",
    "spread",
    "stage_sorted",
    "stage_to_parquet",
    "table",
    "write_read_back",
    "read_staging_csv",
]
