"""Run the driver-style oracle comparison for selected queries.

Usage: python scripts/check_queries.py q132_corpus_curation [more...] [--sf DIR]
Defaults to /root/testdata/sf0.01 (the driver's correctness scale).
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from hive_feature_demo_spark.plans import REGISTRY  # noqa: E402
from hive_feature_demo_spark.session import get_spark  # noqa: E402
from tests.oracle import compare, duckdb_con  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    names = argv or sorted(REGISTRY)
    spark = get_spark()
    con = duckdb_con(sf_dir)
    failed = 0
    for name in names:
        q = REGISTRY[name]
        t0 = time.time()
        df = q.fn(spark, sf_dir)
        problems = compare(df, con, q.oracle)
        dt = time.time() - t0
        if problems:
            failed += 1
            print(f"{name}: FAIL ({dt:.1f}s)")
            for p in problems:
                print("   ", p[:500])
        else:
            print(f"{name}: ok ({dt:.1f}s)")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
