"""Dump the optimized/physical plan for any registered query.

Usage: python tools/explain.py <query_name> [sf_dir] [mode]
  mode: formatted (default) | extended | cost | codegen
"""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)


def main() -> int:
    from _imdb_etl_spark.plans import REGISTRY
    from _imdb_etl_spark.session import get_spark

    if len(sys.argv) < 2 or sys.argv[1] not in REGISTRY:
        print("usage: python tools/explain.py <query> [sf_dir] [mode]")
        print("queries:", *sorted(REGISTRY), sep="\n  ")
        return 1
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    mode = sys.argv[3] if len(sys.argv) > 3 else "formatted"

    spark = get_spark(app_name="explain")
    spark.sparkContext.setLogLevel("ERROR")
    df = REGISTRY[name].spark(spark, sf_dir)
    print(f"-- {name}: {REGISTRY[name].doc}\n")
    df.explain(mode=mode)
    return 0


if __name__ == "__main__":
    sys.exit(main())
