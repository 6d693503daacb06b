from _imdb_etl_spark.testing.compare import canon_rows, canon_value

__all__ = ["canon_rows", "canon_value"]
