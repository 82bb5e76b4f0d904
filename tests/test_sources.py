"""Sources/sinks: schema-enforced ingest, partition pruning, bucketed
joins without shuffle, idempotent append."""

from __future__ import annotations

import json
import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_feature_demo_spark.sources import (
    FAN_SCHEMA,
    append_idempotent,
    read_csv,
    read_json,
    write_bucketed_table,
    write_partitioned,
)
from hive_feature_demo_spark.sources.readers import parse_fan_dates


def test_json_ingest_schema_and_failfast(spark, tmp_path):
    good = [
        {
            "id": "f001", "first_name": "A", "last_name": "B",
            "email": "a@b.c", "phone": "+1", "city": "Chicago", "state": "IL",
            "events_attended": ["X"], "genres": ["Jazz"],
            "last_purchase_date": "2024-08-15", "total_spent": 10.5,
            "email_open_rate": 0.5, "email_click_rate": 0.1, "subscribed": True,
        }
    ]
    p = tmp_path / "fans.json"
    p.write_text(json.dumps(good))
    df = parse_fan_dates(read_json(spark, str(p), FAN_SCHEMA))
    row = df.collect()[0]
    assert row["genres"] == ["Jazz"]
    assert str(row["last_purchase_date"]) == "2024-08-15"

    bad = tmp_path / "bad.json"
    bad.write_text('[{"id": "f001", "total_spent": "NOT_A_NUMBER"}]')
    with pytest.raises(Py4JJavaError):
        read_json(spark, str(bad), FAN_SCHEMA).collect()


def test_csv_ingest_roundtrip(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    p = tmp_path / "t.csv"
    p.write_text("k,v\n1,a\n2,b\n")
    assert [tuple(r) for r in read_csv(spark, str(p), schema).orderBy("k").collect()] == [
        (1, "a"),
        (2, "b"),
    ]


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    from hive_feature_demo_spark.catalog import table

    orders = table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_part")
    write_partitioned(orders, out, ["o_year"])
    years = {d for d in os.listdir(out) if d.startswith("o_year=")}
    assert len(years) > 1  # hive-style partition dirs materialized

    back = spark.read.parquet(out).filter(F.col("o_year") == 1995)
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the filter appears as PartitionFilters on the scan
    assert "PartitionFilters" in plan and "o_year" in plan.split("PartitionFilters")[1][:200]
    want = orders.filter(F.col("o_year") == 1995).count()
    assert back.count() == want


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    from hive_feature_demo_spark.catalog import table

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed_table(
        orders, "b_orders", ["o_orderkey"], 8, path=str(tmp_path / "bo"),
        sort_cols=["o_orderkey"],
    )
    write_bucketed_table(
        li, "b_lineitem", ["l_orderkey"], 8, path=str(tmp_path / "bl"),
        sort_cols=["l_orderkey"],
    )
    # force the large-table strategy: at test scale AQE would broadcast,
    # hiding exactly the shuffle that bucketing eliminates at 100 TB
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-bucketed: zero shuffle
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_append_idempotent(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS t_campaigns")
    rows = spark.createDataFrame(
        [("c1", "seg1", 10), ("c2", "seg2", 20)], "campaign_id string, segment_id string, n int"
    )
    assert append_idempotent(spark, rows, "t_campaigns", ["campaign_id"]) == 2
    # replay: no new rows
    assert append_idempotent(spark, rows, "t_campaigns", ["campaign_id"]) == 0
    more = spark.createDataFrame(
        [("c2", "seg2", 20), ("c3", "seg3", 30)], "campaign_id string, segment_id string, n int"
    )
    assert append_idempotent(spark, more, "t_campaigns", ["campaign_id"]) == 1
    assert spark.table("t_campaigns").count() == 3
    spark.sql("DROP TABLE IF EXISTS t_campaigns")


def test_salted_join_equals_plain_join(spark):
    from hive_feature_demo_spark.operators.skew import SALT_COL, salted_join

    # heavy skew: 90% of fact rows share key 1
    fact = spark.range(0, 5000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id") % 7).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.createDataFrame(
        [(i, f"name_{i}") for i in range(7)], "k long, name string"
    )
    plain = fact.join(dim, ["k"])
    salted = salted_join(fact, dim, ["k"], n_salts=8)
    assert salted.columns == plain.columns  # salt column dropped
    a = sorted(tuple(r) for r in plain.collect())
    b = sorted(tuple(r) for r in salted.collect())
    assert a == b
    # left join keeps unmatched large-side rows exactly once
    dim_partial = dim.filter(F.col("k") != 1)
    lp = sorted(tuple(r) for r in fact.join(dim_partial, ["k"], "left").collect())
    ls = sorted(
        tuple(r) for r in salted_join(fact, dim_partial, ["k"], n_salts=8, how="left").collect()
    )
    assert lp == ls


def test_fan_out_scan_gates_on_parallelism(spark):
    from hive_feature_demo_spark.operators.skew import fan_out_scan

    target = spark.sparkContext.defaultParallelism
    # single-split input: fans out to the session parallelism
    narrow = spark.range(0, 1000, 1, 1).select(F.col("id").alias("k"))
    assert narrow.rdd.getNumPartitions() == 1
    fanned = fan_out_scan(narrow, "k")
    assert fanned.rdd.getNumPartitions() == target
    # row-identical (per-row pipelines only, so set equality is the contract)
    assert sorted(r.k for r in fanned.collect()) == list(range(1000))
    # already-wide input: no-op, the repartition shuffle is NOT added
    wide = spark.range(0, 1000, 1, target).select(F.col("id").alias("k"))
    assert fan_out_scan(wide, "k") is wide


def test_write_compacted_sizes_file_count(spark, sf_dir, tmp_path):
    from hive_feature_demo_spark.catalog import table
    from hive_feature_demo_spark.sources.writers import write_compacted

    li = table(spark, sf_dir, "lineitem")
    big = write_compacted(li, str(tmp_path / "one"), target_file_mb=4096)
    assert big == 1
    n_parts = len([f for f in os.listdir(tmp_path / "one") if f.endswith(".parquet")])
    assert n_parts == 1
    small = write_compacted(li, str(tmp_path / "many"), target_file_mb=0.05)
    assert small > 1
    n_parts2 = len([f for f in os.listdir(tmp_path / "many") if f.endswith(".parquet")])
    assert n_parts2 == small
    assert spark.read.parquet(str(tmp_path / "many")).count() == li.count()


def test_merge_upsert_scd1(spark):
    from hive_feature_demo_spark.sources.writers import merge_upsert

    spark.sql("DROP TABLE IF EXISTS t_profiles")
    base = spark.createDataFrame(
        [("u1", "chicago", 10.0), ("u2", "aurora", 20.0)],
        "user_id string, city string, spend double",
    )
    merge_upsert(spark, "t_profiles", base, ["user_id"])
    upd = spark.createDataFrame(
        [("u2", "joliet", 25.0), ("u3", "peoria", 5.0)],
        "user_id string, city string, spend double",
    )
    merge_upsert(spark, "t_profiles", upd, ["user_id"])
    rows = sorted(tuple(r) for r in spark.table("t_profiles").collect())
    assert rows == [
        ("u1", "chicago", 10.0),
        ("u2", "joliet", 25.0),   # updated in place
        ("u3", "peoria", 5.0),    # inserted
    ]
    spark.sql("DROP TABLE IF EXISTS t_profiles")


def test_json_quarantine_split(spark, tmp_path):
    from hive_feature_demo_spark.sources.readers import read_json_quarantine

    schema = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("n", T.LongType())]
    )
    p = tmp_path / "mixed.jsonl"
    p.write_text('{"id": "a", "n": 1}\n{"id": "b", "n": "BAD"}\n{"id": "c", "n": 3}\n')
    good, bad = read_json_quarantine(spark, str(p), schema)
    assert sorted((r["id"], r["n"]) for r in good.collect()) == [("a", 1), ("c", 3)]
    quarantined = [r["_corrupt_record"] for r in bad.collect()]
    assert len(quarantined) == 1 and "BAD" in quarantined[0]


def test_morton_key_matches_python_reference(spark):
    from hive_feature_demo_spark.sources.writers import morton_key

    def morton_py(a, b, bits=16):
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    df = spark.createDataFrame(
        [(a, b) for a in [0, 1, 5, 255, 65535] for b in [0, 3, 7, 1024]],
        "a long, b long",
    )
    rows = df.select("a", "b", morton_key("a", "b").alias("z")).collect()
    for r in rows:
        assert r["z"] == morton_py(r["a"], r["b"]), (r["a"], r["b"])


def test_write_zordered_clusters_files(spark, sf_dir, tmp_path):
    """Each z-ordered file covers a compact 2-D tile: per-file min/max
    ranges of both columns are (on average) much narrower than the global
    range, which is exactly what parquet min/max skipping exploits."""
    from hive_feature_demo_spark.catalog import table
    from hive_feature_demo_spark.sources.writers import write_zordered

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    out = str(tmp_path / "zordered")
    write_zordered(li, out, "l_orderkey", "l_partkey", n_files=8)

    import pyarrow.parquet as pq

    spans = []
    glob_min, glob_max = None, None
    for f in os.listdir(out):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(out, f), columns=["l_orderkey"])
        col = t["l_orderkey"].to_pylist()
        if not col:
            continue
        spans.append(max(col) - min(col))
        lo, hi = min(col), max(col)
        glob_min = lo if glob_min is None else min(glob_min, lo)
        glob_max = hi if glob_max is None else max(glob_max, hi)
    assert len(spans) > 2
    avg_span = sum(spans) / len(spans)
    # files cover compact tiles: average per-file span well under global
    assert avg_span < 0.8 * (glob_max - glob_min)


def test_q129_survives_stale_unregistered_warehouse_location(
    spark, sf_dir, monkeypatch, tmp_path
):
    """Round-9 sweep incident: a killed earlier process left
    spark-warehouse/q129_customer_<suffix> on disk with NO catalog entry,
    and saveAsTable (whose mode=overwrite only drops REGISTERED tables)
    failed with LOCATION_ALREADY_EXISTS. q129 must clear a stale bare
    location before writing its managed table. Forces the collision by
    pinning the scratch suffix and pre-creating the location."""
    import os
    from urllib.parse import urlparse

    from hive_feature_demo_spark.plans import sourcesink

    fixed = tmp_path / "hfd_q129_stalecase"
    fixed.mkdir()
    monkeypatch.setattr(sourcesink, "scratch_dir", lambda prefix: str(fixed))

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(wh, "q129_customer_stalecase")
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "junk"), "w") as f:
        f.write("leftover from a crashed run")

    try:
        df = sourcesink.q129_scd1_merge_roundtrip(spark, sf_dir)
        rows = df.collect()
        assert {r["c_mktsegment"] for r in rows} >= {"MERGED-NEW", "MERGED-UPD"}
    finally:
        spark.sql("DROP TABLE IF EXISTS q129_customer_stalecase")
