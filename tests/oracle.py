"""Local replica of the driver's DuckDB-oracle comparison.

Mirrors the documented gate: run the Spark query and the oracle SQL on the
same parquet tables, compare row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted, values
canonicalized). Catching a mismatch here at sf0.001 is cheap; catching it
in CORRECTNESS_r{N}.json costs a round.
"""

from __future__ import annotations

import math
import os
from typing import Any

import duckdb

from hive_feature_demo_spark.catalog import TESTDATA_TABLES


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _canon(v: Any) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(bool(v)).lower()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canonical_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    return sorted(out)


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    """Return a list of mismatch descriptions (empty == match)."""
    return compare_counts(spark_df, con, sql)[0]


def compare_counts(
    spark_df, con: duckdb.DuckDBPyConnection, sql: str
) -> tuple[list[str], int, int]:
    """:func:`compare` plus the Spark and oracle row counts it collected."""
    problems: list[str] = []
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.sql(sql)
    d_cols = list(rel.columns)
    d_rows = [tuple(r) for r in rel.fetchall()]

    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"columns differ: spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        return problems, len(s_rows), len(d_rows)
    if len(s_rows) != len(d_rows):
        problems.append(f"row count differs: spark={len(s_rows)} duckdb={len(d_rows)}")
    sc = canonical_rows(s_cols, s_rows)
    dc = canonical_rows(d_cols, d_rows)
    if sc != dc:
        diffs = [i for i, (a, b) in enumerate(zip(sc, dc)) if a != b]
        sample = [(sc[i], dc[i]) for i in diffs[:3]]
        dc_set, sc_set = set(dc), set(sc)
        extra_s = [r for r in sc if r not in dc_set][:3]
        extra_d = [r for r in dc if r not in sc_set][:3]
        trailing = abs(len(sc) - len(dc))
        problems.append(
            f"values differ at {len(diffs)} aligned rows"
            + (f" (+{trailing} unaligned trailing rows)" if trailing else "")
            + f"; sample={sample}; spark-only={extra_s}; duckdb-only={extra_d}"
        )
    return problems, len(s_rows), len(d_rows)


def variant_problems(spark, sf_dir: str, variant_dir: str, tables: dict, names) -> dict:
    """Oracle mismatches of the registry queries ``names`` on a copy of
    ``sf_dir`` in which each ``tables`` entry (name -> pyarrow table)
    replaces that table and the others are symlinked; only the queries
    that mismatch are returned."""
    import pyarrow.parquet as pq

    from hive_feature_demo_spark.plans import REGISTRY

    os.makedirs(variant_dir)
    for f in set(os.listdir(sf_dir)) - {f"{t}.parquet" for t in tables}:
        os.symlink(os.path.join(sf_dir, f), os.path.join(variant_dir, f))
    for t, data in tables.items():
        pq.write_table(data, os.path.join(variant_dir, f"{t}.parquet"))
    con = duckdb_con(variant_dir)
    try:
        out = {n: compare(REGISTRY[n].fn(spark, variant_dir), con, REGISTRY[n].oracle) for n in names}
    finally:
        con.close()
    return {n: p for n, p in out.items() if p}
