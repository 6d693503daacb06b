"""PySpark-native analytics engine with the capabilities of the
veremchukivan/-IMDB-ETL reference (a Snowflake-SQL star-schema ETL +
dashboard-query project), rebuilt Spark-first.

Layout:
  session    - SparkSession factory (AQE, Arrow, UTC, sane shuffle parallelism)
  schemas    - explicit StructTypes for the IMDB staging tables + driver tables
  sources    - CSV (reference COPY INTO semantics) + Parquet catalog loaders
  etl        - the reference star-schema transforms (dim_*/fact_movies)
  registry   - REGISTRY of (builder, oracle SQL) pairs; imports only pyspark
  plans      - query library: reference Grafs, TPC-H-style analytics,
               operator-coverage queries over the driver's synthetic tables
  operators  - scale extensions: dedup, similarity search, text analysis,
               multimodal column plumbing
  functions  - shared column-expression helpers (exact decimal arithmetic)
  streaming  - Structured Streaming variants over the events table
"""

__version__ = "0.1.0"
