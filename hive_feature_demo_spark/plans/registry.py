"""Query registry: name -> (spark_fn, oracle_sql, category).

Contract (from the driver): every query is a callable
``(SparkSession, sf_dir) -> DataFrame``; the oracle is ANSI SQL DuckDB runs
over the same parquet files (views pre-registered per table name). Column
names must match exactly — the comparator sorts columns by name and hashes
values. Every query registers a non-empty oracle; ``register`` rejects
one without.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str
    category: str


REGISTRY: dict[str, Query] = {}


def register(name: str, *, oracle: str, category: str = "relational"):
    if not isinstance(oracle, str) or not oracle.strip():
        raise ValueError(f"{name}: register() needs a non-empty oracle SQL string")

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, category=category)
        return fn

    return deco


def queries_map() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in sorted(REGISTRY.items())}


def oracle_sql_map() -> dict[str, str]:
    return {name: q.oracle for name, q in sorted(REGISTRY.items())}
