"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query; ``queries()`` /``oracle_sql()``
expose the registry in ``hive_feature_demo_spark.plans`` (one entry per
implemented operator from SURVEY.md §2; oracle SQL runs in DuckDB over the
same parquet tables).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hive_feature_demo_spark.plans import oracle_sql_map, queries_map


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: pricing summary (scan +
    filter + grouped 8-agg rollup, the TPC-H Q1 shape)."""
    from hive_feature_demo_spark.plans.relational import q01_pricing_summary

    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return queries_map()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every query."""
    return oracle_sql_map()
