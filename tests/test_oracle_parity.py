"""Every registered query must hash-match its DuckDB oracle at sf0.001.

This is the same gate the driver runs at sf0.01 (CORRECTNESS_r{N}.json),
replicated locally so regressions surface immediately.
"""

from __future__ import annotations

import pytest

from hive_feature_demo_spark.plans import REGISTRY


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_parity(name, registry_sweep):
    rec = registry_sweep[name]
    assert rec["error"] is None, f"{name} failed to run: {rec['error']}"
    assert not rec["problems"], f"{name}: " + " | ".join(rec["problems"])


@pytest.mark.parametrize("kwargs", [{}, {"oracle": None}, {"oracle": ""}, {"oracle": " \n "}])
def test_register_requires_an_oracle(kwargs):
    from hive_feature_demo_spark.plans.registry import register

    with pytest.raises((TypeError, ValueError)):
        register("q_no_oracle", **kwargs)
    assert "q_no_oracle" not in REGISTRY


def test_all_queries_return_rows(registry_sweep):
    # every query must at least build and run (the sweep fully executes
    # each one via the oracle compare); emptiness is allowed only for
    # queries whose semantics can legitimately produce zero rows
    for name, q in sorted(REGISTRY.items()):
        rec = registry_sweep[name]
        assert rec["error"] is None, f"{name} failed to run: {rec['error']}"
        assert rec["columns"], f"{name} has no columns"


def test_asof_join_null_value_column(spark):
    """The latest right row wins even when its value column is NULL — and
    (value, asof_time) always come from the SAME right row."""
    import datetime as dt

    from hive_feature_demo_spark.operators.relational_ext import asof_join

    t = lambda m: dt.datetime(2024, 6, 1, 10, m)  # noqa: E731
    left = spark.createDataFrame([(1, t(25))], "k long, lt timestamp")
    right = spark.createDataFrame(
        [(1, t(10), 5.0), (1, t(20), None)], "k long, rt timestamp, price double"
    )
    row = asof_join(
        left, right, "lt", "rt", "k", "k", value_cols=["price"]
    ).collect()[0]
    assert row["price"] is None          # the t=20 row won, null and all
    assert row["asof_time"] == t(20)     # internally consistent pair
