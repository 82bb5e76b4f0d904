"""Split per-query wall time into Spark-side vs DuckDB-oracle-side.

The full-registry sweeps time `compare()` as one number, so an expensive
oracle is indistinguishable from an expensive plan. This script times the
two sides separately (both fully materialized: Spark `collect()`, DuckDB
`fetchall()`), which is how the r12 graph-oracle MATERIALIZED fix was
found.

Usage: python scripts/profile_split.py q199_ivf_recall_sweep [...] [--sf DIR]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from hive_feature_demo_spark.plans import REGISTRY  # noqa: E402
from hive_feature_demo_spark.session import get_spark  # noqa: E402
from tests.oracle import duckdb_con  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    names = argv or sorted(REGISTRY)
    spark = get_spark()
    con = duckdb_con(sf_dir)
    print(f"{'query':42s} {'spark_s':>8s} {'oracle_s':>9s} {'rows':>8s}")
    for name in names:
        q = REGISTRY[name]
        t0 = time.time()
        rows = q.fn(spark, sf_dir).collect()
        t_spark = time.time() - t0
        t0 = time.time()
        con.sql(q.oracle).fetchall()
        t_oracle = time.time() - t0
        print(f"{name:42s} {t_spark:8.2f} {t_oracle:9.2f} {len(rows):8d}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
