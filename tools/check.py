"""Local stand-in for the driver's correctness gate.

Runs every `queries()` entry on Spark and the matching `oracle_sql()`
on DuckDB over the same parquet tables, then compares row count, sorted
column names, and an order-insensitive canonical value hash. Strict
exact-value comparison (no float tolerance): the engine's decimal-sum
policy is supposed to make results bitwise-identical, and this harness
verifies that it does.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from _imdb_etl_spark.sources.catalog import DRIVER_TABLES  # noqa: E402
from _imdb_etl_spark.testing import canon_rows  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from _imdb_etl_spark.session import codegen_compiles, get_spark
    from tests.fixtures import stand_in_for_reference

    stand_in_for_reference()

    spark = get_spark(app_name="check")
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue

        problems = []
        # DuckDB integer SUMs widen to HUGEINT (INT128); pandas/arrow
        # converters downstream may render those as floats ("4.0" vs
        # "4"), which passed our str()-based canon but mismatched the
        # driver's hash two rounds running. Treat HUGEINT output as a
        # failure here so local green predicts gate green.
        try:
            dtypes = [str(t) for t in rel.types]
        except Exception:  # noqa: BLE001
            dtypes = []
        huge = [c for c, t in zip(dcols, dtypes) if "INT128" in t or "HUGEINT" in t]
        if huge:
            problems.append(f"oracle HUGEINT cols (cast to BIGINT): {huge}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema: spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount: spark={len(srows)} duck={len(drows)}")
        scanon, shash = canon_rows(scols, srows)
        dcanon, dhash = canon_rows(dcols, drows)
        if shash != dhash and not problems:
            problems.append("value-hash")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}  ({time.time()-t0:.1f}s)")
            sset, dset = set(scanon), set(dcanon)
            for r in list(sset - dset)[:3]:
                print(f"        spark-only: {r!r}")
            for r in list(dset - sset)[:3]:
                print(f"        duck-only:  {r!r}")
            failures.append(name)
        else:
            print(f"PASS  {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{ran - len(failures)}/{ran} passed ({len(qs)} registered)")
    # the run's codegen working set, to hold against session.CODEGEN_CACHE_ENTRIES
    compiled, compile_s = codegen_compiles(spark)
    print(f"codegen: {compiled} classes compiled in {compile_s:.1f} s")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
