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


def test_q284_matches_oracle_on_empty_embeddings(spark, sf_dir, tmp_path):
    """A zero-row embeddings table replays zero micro-batches: the replay
    writes no r= directory and foreachBatch no partials, and q284 still
    matches the oracle (no rows)."""
    import os

    import pyarrow.parquet as pq

    from tests.oracle import variant_problems

    empty = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).slice(0, 0)
    names = ["q284_incremental_gram"]
    assert variant_problems(spark, sf_dir, str(tmp_path / "v"), {"embeddings": empty}, names) == {}


@pytest.mark.parametrize(
    "name",
    ["q119_partitioned_write_roundtrip", "q145_dpp_roundtrip", "q294_trending_terms",
     "q298_binned_ks_price_drift"],
)
def test_matches_oracle_on_all_empty_tables(spark, sf_dir, tmp_path, name):
    """With every table at zero rows these run and match the oracle. q119
    and q145 read their partitioned round trip under the writer's schema
    (an inferred read of the empty directory raises
    UNABLE_TO_INFER_SCHEMA); q294 and q298 keep the table's min and max in
    the plan (collected to the driver they were None + None and
    None - None)."""
    import os

    import pyarrow.parquet as pq

    from hive_feature_demo_spark.catalog import TESTDATA_TABLES
    from tests.oracle import variant_problems

    empty = {t: pq.read_table(os.path.join(sf_dir, f"{t}.parquet")).slice(0, 0) for t in TESTDATA_TABLES}
    assert variant_problems(spark, sf_dir, str(tmp_path / "v"), empty, [name]) == {}


def test_q171_skips_null_values_and_users(spark, sf_dir, tmp_path):
    """With 1 in 20 event values NULL (and 1 in 20 user ids, other rows),
    q171's grouped-map sums and distinct-user counts skip them as SQL's
    SUM and COUNT(DISTINCT) do, instead of summing NaN as -2^63 cents."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tests.oracle import variant_problems

    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    for name, offset in (("value", 0), ("user_id", 7)):
        col = events.schema.get_field_index(name)
        mask = pa.array([i % 20 == offset for i in range(events.num_rows)])
        nulled = pc.if_else(mask, pa.scalar(None, events.schema.field(col).type), events.column(col))
        events = events.set_column(col, name, nulled)
    names = ["q171_applyinarrow_groupstats"]
    assert variant_problems(spark, sf_dir, str(tmp_path / "v"), {"events": events}, names) == {}
