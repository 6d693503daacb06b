"""CSV ingestion with the reference's COPY INTO semantics.

Reference behavior being reproduced (cites into /root/reference):
- `COPY INTO ... FILE_FORMAT=(TYPE='CSV' FIELD_OPTIONALLY_ENCLOSED_BY='"'
  SKIP_HEADER=1)` x6 (etl_imdb_db.sql:59-82): header skipped, quoted
  fields, values loaded into explicitly typed staging columns. The
  Snowflake default on type errors is ON_ERROR='ABORT_STATEMENT' — a
  bad value fails the load loudly — and that is this reader's default.
- The CSVs encode missing values as the literal 4-char string ``NULL``
  (e.g. imdb_db/movie.csv:2); typed columns null them on parse.
  Spark equivalent: ``nullValue='NULL'``.
- `ON_ERROR = 'CONTINUE'` on the names load only (etl_imdb_db.sql:82):
  rows with type errors are skipped, not fatal (`drop_malformed=True`).

Implementation note: Spark's own malformed-row modes are unsuitable
here — ``DROPMALFORMED`` drops rows depending on which columns a given
query parses (projection pruning). So typing is done explicitly: read
every field as string, validate with ``try_cast`` (null raw value is
fine; non-null raw value that fails its cast marks the row), then
either abort or filter the marked rows. Structural malformation (wrong
field count) cannot be seen through the all-string schema — the
PERMISSIVE parse silently null-pads short rows and truncates long ones —
so the read also requests ``columnNameOfCorruptRecord`` and treats a
populated corrupt column as a bad row. Spark refuses scans whose pruned
schema is only the corrupt column, and Catalyst's constraint propagation
elides naive extra references, so the predicate carries a non-foldable
probe over the data columns to keep them in the scan.

``read_staging_csv`` is the physical staging table of the reference's
COPY INTO: one job parses the file, caches the typed rows and, under
abort, counts the bad rows through an ``Observation`` on that same scan.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


class MalformedRowsError(ValueError):
    """Raised by an aborting load when typed parsing fails for any row."""


def _bad_row_predicate(schema: StructType) -> Column | None:
    bad = [
        F.col(f.name).isNotNull() & F.col(f.name).try_cast(f.dataType).isNull()
        for f in schema.fields
        if not isinstance(f.dataType, StringType)
    ]
    return functools.reduce(operator.or_, bad) if bad else None


def _raw_read(
    spark: SparkSession, path: str, schema: StructType
) -> tuple[DataFrame, Column]:
    """The all-string PERMISSIVE scan of a staging CSV and the predicate
    that marks its bad rows (a typed or a structural parse failure)."""
    corrupt_col = "_corrupt_record"
    raw_schema = StructType(
        [StructField(f.name, StringType(), True) for f in schema.fields]
        + [StructField(corrupt_col, StringType(), True)]
    )
    raw = spark.read.csv(
        path,
        schema=raw_schema,
        header=True,
        quote='"',
        escape='"',
        nullValue="NULL",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=corrupt_col,
    )
    # wrong-field-count rows populate the corrupt column; the length
    # probe is always true but forces the data columns into the pruned
    # scan schema (corrupt-only scans are rejected, and constraint
    # propagation would elide a plain extra isNotNull reference)
    probe = (
        F.length(F.concat_ws("\x01", *[f.name for f in schema.fields])) >= 0
    )
    structural = F.col(corrupt_col).isNotNull() & probe
    typed = _bad_row_predicate(schema)
    return raw, structural if typed is None else structural | typed


def read_staging_csv(
    spark: SparkSession, path: str, schema: StructType, drop_malformed: bool = False
) -> DataFrame:
    """COPY INTO a physical staging table. By default a bad row fails
    the load (ABORT_STATEMENT); ``drop_malformed=True`` skips bad rows
    instead (ON_ERROR='CONTINUE'). One job parses the CSV and caches
    the typed rows in memory; when aborting, an ``Observation`` on that
    same scan counts the bad rows. Later queries read the cached rows,
    not the file. The caller frees them with ``unpersist()`` or by
    dropping a temp view made from the frame; on failure they are freed
    here."""
    raw, bad = _raw_read(spark, path, schema)
    seen = Observation()
    if drop_malformed:
        rows = raw.where(~bad)
    else:
        rows = raw.observe(seen, F.count_if(bad).alias("n_bad"))
    staged = rows.select(
        *[F.col(f.name).try_cast(f.dataType).alias(f.name) for f in schema.fields]
    ).cache()
    try:
        staged.write.format("noop").mode("overwrite").save()
        n_bad = 0 if drop_malformed else seen.get["n_bad"]
        if n_bad:
            sample = [r.asDict() for r in raw.where(bad).head(3)]
            raise MalformedRowsError(
                f"{n_bad} row(s) in {path} fail typed or structural "
                f"parsing (ABORT_STATEMENT); sample: {sample}"
            )
    except BaseException:
        staged.unpersist()
        raise
    return staged
