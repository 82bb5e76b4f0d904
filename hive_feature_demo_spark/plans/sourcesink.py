"""Sources/sinks round-trip plans — driver-checkable writer coverage.

The writer surface (``sources/writers.py``) was pytest-only in round 1;
these queries put it behind the oracle gate: write the testdata through a
sink shape, read it BACK from disk, and aggregate the read-back data. The
oracle aggregates the original table directly, so a hash match proves the
sink+source round trip is lossless — including the hive-style partition
columns that exist only as directory names on disk.

Scale notes: partitioned layout is THE 100 TB prune mechanism (a reader
filtering on the partition key lists only matching dirs — verified here by
filtering the read-back side on a partition value); bucketed tables make
repeated equi-joins on the bucket key shuffle-free (verified by plan
inspection in ``tests/test_sources.py``).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_feature_demo_spark.catalog import table
from hive_feature_demo_spark.functions.numeric import (
    exact_sum_fixed,
    sql_exact_sum_fixed,
)
from hive_feature_demo_spark.scratch import scratch_dir
from hive_feature_demo_spark.plans.registry import register
from hive_feature_demo_spark.sources import writers


# ---------------------------------------------------------------------------
# q119 — partitioned-write round trip. Orders are written hive-partitioned
# by o_orderpriority (the value lives in the directory name, not the file),
# read back fresh, filtered to a partition subset (exercising partition
# pruning on the read), and aggregated. Oracle = same aggregate over the
# original table: a hash match proves (a) no rows/values were lost in the
# write, (b) the partition column round-trips from directory metadata,
# (c) the pruned read returns exactly the matching partitions.
# ---------------------------------------------------------------------------


@register(
    "q119_partitioned_write_roundtrip",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           {sql_exact_sum_fixed('o_totalprice', 2)} AS total_price
    FROM orders
    WHERE o_orderpriority <> '3-MEDIUM'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    category="sources",
)
def q119_partitioned_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    out = os.path.join(
        scratch_dir(prefix="hfd_q119_"), "orders_by_priority"
    )
    writers.write_partitioned(orders, out, ["o_orderpriority"])
    back = spark.read.schema(orders.schema).parquet(out)
    # the filter on the partition column prunes at the directory listing —
    # .explain shows PartitionFilters, zero data files of 3-MEDIUM are read
    return (
        back.filter(F.col("o_orderpriority") != "3-MEDIUM")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            exact_sum_fixed("o_totalprice", 2, "total_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q120 — bucketed-table round trip + co-located join. Orders and lineitem
# are saved as catalog tables bucketed on the SAME key with the SAME bucket
# count, then joined bucket-to-bucket (no Exchange on either side — plan
# asserted in tests/test_sources.py; here the oracle asserts the values).
# This is the layout that amortizes one shuffle into every future join at
# 100 TB.
# ---------------------------------------------------------------------------


@register(
    "q120_bucketed_join_roundtrip",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {sql_exact_sum_fixed('l.l_quantity', 2)} AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    category="sources",
)
def q120_bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    lineitem = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    base = scratch_dir(prefix="hfd_q120_")
    # unique table names per call: the driver may invoke on a session whose
    # catalog already has earlier runs' tables. The suffix is the FULL
    # mkdtemp random part — tempfile's name alphabet includes "_", so
    # split("_")[-1] could yield a near-empty fragment that collides
    # across runs (the q129 LOCATION_ALREADY_EXISTS incident, round 9)
    suffix = os.path.basename(base)[len("hfd_q120_"):]
    t_o, t_l = f"q120_orders_{suffix}", f"q120_lineitem_{suffix}"
    writers.write_bucketed_table(
        orders, t_o, ["o_orderkey"], 8, path=os.path.join(base, "o")
    )
    writers.write_bucketed_table(
        lineitem, t_l, ["l_orderkey"], 8, path=os.path.join(base, "l")
    )
    o_b, l_b = spark.table(t_o), spark.table(t_l)
    return (
        l_b.join(o_b, l_b.l_orderkey == o_b.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            exact_sum_fixed("l_quantity", 2, "total_qty"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q128 — z-order layout round trip: orders written range-partitioned +
# sorted on the Morton key of (o_custkey, o_orderkey), read back through a
# selective 2-D range filter, and aggregated. Each output file covers a
# compact 2-D tile, so parquet min/max row-group stats skip most files for
# this filter shape (physical skipping asserted in tests/test_sources.py;
# here the oracle asserts the values survive the layout round trip).
# ---------------------------------------------------------------------------


@register(
    "q128_zorder_roundtrip",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_exact_sum_fixed('o_totalprice', 2)} AS total_price
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 500
      AND o_orderkey BETWEEN 1000 AND 50000
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    category="sources",
)
def q128_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    out = os.path.join(scratch_dir(prefix="hfd_q128_"), "orders_z")
    writers.write_zordered(orders, out, "o_custkey", "o_orderkey", n_files=8)
    back = spark.read.schema(orders.schema).parquet(out)
    return (
        back.filter(
            F.col("o_custkey").between(100, 500)
            & F.col("o_orderkey").between(1000, 50000)
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum_fixed("o_totalprice", 2, "total_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q129 — SCD-1 MERGE round trip: customers saved as a catalog table, a
# deterministic update set merged in (every custkey % 10 == 0 gets a
# balance bump + segment rewrite; three synthetic new keys insert), the
# table read back and aggregated. The oracle replays the merge as a CASE
# over the source + UNION of the inserts — a hash match proves upsert
# semantics (update-in-place, insert-new, survivors untouched).
# ---------------------------------------------------------------------------

_Q129_NEW_ROWS = ((-1, 111.11), (-2, 222.22), (-3, 333.33))
_Q129_NEW_SQL = "\n      UNION ALL\n".join(
    f"      SELECT 'MERGED-NEW' AS seg, CAST({bal} AS DOUBLE) AS bal"
    for _, bal in _Q129_NEW_ROWS
)


@register(
    "q129_scd1_merge_roundtrip",
    oracle=f"""
    WITH merged AS (
      SELECT CASE WHEN c_custkey % 10 = 0 THEN 'MERGED-UPD' ELSE c_mktsegment END AS seg,
             CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0 ELSE c_acctbal END AS bal
      FROM customer
      UNION ALL
{_Q129_NEW_SQL}
    )
    SELECT seg AS c_mktsegment,
           COUNT(*) AS n_customers,
           {sql_exact_sum_fixed('bal', 2)} AS total_balance
    FROM merged
    GROUP BY seg
    ORDER BY seg
    """,
    category="sources",
)
def q129_scd1_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from urllib.parse import urlparse

    customer = table(spark, sf_dir, "customer")
    # full mkdtemp random part, NOT split("_")[-1]: tempfile's alphabet
    # includes "_", so the old derivation could produce an empty suffix —
    # and "q129_customer_" then collided with a leftover warehouse dir
    # from a killed earlier process (round-9 sweep ERR)
    suffix = os.path.basename(scratch_dir(prefix="hfd_q129_"))[len("hfd_q129_"):]
    t_name = f"q129_customer_{suffix}"
    # this is a MANAGED table: mode("overwrite") only drops a REGISTERED
    # table, while a crashed prior process can leave the bare location
    # under spark.sql.warehouse.dir with no catalog entry, which
    # saveAsTable rejects with LOCATION_ALREADY_EXISTS — clear it first
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, t_name), ignore_errors=True)
    customer.write.mode("overwrite").format("parquet").saveAsTable(t_name)

    updates = (
        customer.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
        .withColumn("c_mktsegment", F.lit("MERGED-UPD"))
    )
    new_rows = spark.createDataFrame(
        [(k, f"Customer#{k}", 0, bal, "MERGED-NEW") for k, bal in _Q129_NEW_ROWS],
        customer.schema,
    )
    writers.merge_upsert(
        spark, t_name, updates.unionByName(new_rows), key_cols=["c_custkey"]
    )
    return (
        spark.table(t_name)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            exact_sum_fixed("c_acctbal", 2, "total_balance"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q135 — compaction round trip: lineitem rewritten with file count derived
# from Catalyst's size estimate (write_compacted targets ~e.g. 8 MB files
# here so multiple files exist even at test scale), read back and
# aggregated. Guards the small-files pathology repair path end-to-end;
# the oracle proves the rewrite is lossless.
# ---------------------------------------------------------------------------


@register(
    "q135_compaction_roundtrip",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           {sql_exact_sum_fixed('l_extendedprice', 2)} AS total_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    category="sources",
)
def q135_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    out = os.path.join(scratch_dir(prefix="hfd_q135_"), "lineitem_compact")
    writers.write_compacted(lineitem, out, target_file_mb=8)
    back = spark.read.schema(lineitem.schema).parquet(out)
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            exact_sum_fixed("l_extendedprice", 2, "total_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# q145 — dynamic partition pruning round trip: lineitem is rewritten
# hive-partitioned by ship month, then joined to a tiny month dimension
# filtered to Q1 — the filter reaches the fact scan only at RUNTIME,
# through the join (DPP): Spark builds the broadcast side first and prunes
# fact partitions by the surviving join keys. THE mechanism that makes
# "fact JOIN filtered dim" read 3/12ths of a 100 TB table instead of all
# of it; `tests/test_scale_plans.py` asserts the plan carries
# `dynamicpruning` on the fact scan. Oracle filters the original table
# directly, proving the runtime-pruned read returns exactly Q1.
# ---------------------------------------------------------------------------


@register(
    "q145_dpp_roundtrip",
    oracle=f"""
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           COUNT(*) AS n_items,
           {sql_exact_sum_fixed('l_extendedprice', 2)} AS total_price
    FROM lineitem
    WHERE quarter(l_shipdate) = 1
    GROUP BY 1 ORDER BY 1
    """,
    category="sources",
)
def q145_dpp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    fact = lineitem.withColumn(
        "ship_month", F.date_format("l_shipdate", "yyyy-MM")
    )
    out = os.path.join(scratch_dir(prefix="hfd_q145_"), "lineitem_by_month")
    writers.write_partitioned(fact, out, partition_cols=["ship_month"])
    back = spark.read.schema(fact.schema).parquet(out)
    dim = (
        lineitem.select(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .distinct()
        .withColumn(
            "q", F.quarter(F.to_date(F.concat(F.col("ship_month"), F.lit("-01"))))
        )
    )
    return (
        back.join(F.broadcast(dim.filter(F.col("q") == 1)), "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count("*").alias("n_items"),
            exact_sum_fixed("l_extendedprice", 2, "total_price"),
        )
        .orderBy("ship_month")
    )


# ---------------------------------------------------------------------------
# q163 — ORC round trip: the Hive-native columnar format (the reference's
# ecosystem default; BASELINE "Spark SQL reading Hive tables"). Lineitem
# is written ORC with zlib + dictionary encoding, read back fresh with a
# pushed predicate (ORC reader supports predicate pushdown + column
# pruning like parquet), and aggregated; the oracle aggregates the
# original parquet directly, so a hash match proves the parquet->ORC->read
# conversion is value-lossless across every column type it touches
# (decimal-scaled doubles, dates, strings). Timestamp columns are the
# known cross-format hazard — events.ts round-trips through ORC's
# different epoch encoding in the test suite, not here, to keep this
# oracle type-simple.
# ---------------------------------------------------------------------------


@register(
    "q163_orc_roundtrip",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           {sql_exact_sum_fixed('l_extendedprice', 2)} AS total_price,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    category="sources",
)
def q163_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    out = os.path.join(scratch_dir(prefix="hfd_q163_"), "lineitem_orc")
    (
        li.write.mode("overwrite")
        .option("compression", "zlib")
        .orc(out)
    )
    back = spark.read.orc(out)
    return (
        back.filter(F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            exact_sum_fixed("l_extendedprice", 2, "total_price"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q164 — CSV round trip: orders written as headered CSV and read back with
# a DECLARED schema (inference is an extra scan and nondeterministic under
# drift — never acceptable on a lake source; sources/readers.py doctrine).
# The hazard exercised: text round-tripping of doubles and dates. Spark
# prints doubles in shortest-round-trip (Ryu) form, so parse(print(x))==x
# exactly, and the oracle over the ORIGINAL parquet hash-matching proves
# it held for every row.
# ---------------------------------------------------------------------------


@register(
    "q164_csv_roundtrip",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           {sql_exact_sum_fixed('o_totalprice', 2)} AS total_price,
           CAST(MIN(o_orderdate) AS VARCHAR) AS first_date,
           CAST(MAX(o_orderdate) AS VARCHAR) AS last_date
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    category="sources",
)
def q164_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from hive_feature_demo_spark.sources.readers import read_csv

    orders = table(spark, sf_dir, "orders")
    out = os.path.join(scratch_dir(prefix="hfd_q164_"), "orders_csv")
    orders.write.mode("overwrite").option("header", True).csv(out)
    schema = T.StructType(
        [
            T.StructField(f.name, f.dataType)
            for f in orders.schema.fields
        ]
    )
    back = read_csv(spark, out, schema)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum_fixed("o_totalprice", 2, "total_price"),
            F.min("o_orderdate").cast("string").alias("first_date"),
            F.max("o_orderdate").cast("string").alias("last_date"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# q165 — JSON-lines round trip with MICROSECOND timestamps: events written
# as JSONL with an explicit 6-fraction-digit timestampFormat (the default
# truncates sub-second precision differently across versions — pin it on
# BOTH write and read), read back with the declared schema, aggregated.
# Oracle over the original parquet: a hash match proves ts survives
# text round-tripping to the exact microsecond for every row.
# ---------------------------------------------------------------------------

_JSON_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


@register(
    "q165_json_roundtrip",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
           {sql_exact_sum_fixed('value', 4)} AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    category="sources",
)
def q165_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.sources.readers import read_json

    events = table(spark, sf_dir, "events")
    out = os.path.join(scratch_dir(prefix="hfd_q165_"), "events_jsonl")
    (
        events.write.mode("overwrite")
        .option("timestampFormat", _JSON_TS_FMT)
        .json(out)
    )
    back = (
        spark.read.schema(events.schema)
        .option("timestampFormat", _JSON_TS_FMT)
        .option("mode", "FAILFAST")
        .json(out)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("first_ts"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
            exact_sum_fixed("value", 4, "total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q170 — schema-evolution round trip: a dataset written in two generations
# (generation 1 without o_orderpriority, generation 2 with it) is read
# back under the evolved generation-2 schema — the lake-scale reality that
# columns get ADDED over time and historical files must surface them as
# NULL, not break the read. The aggregate buckets gen-1 rows under
# '<missing>' via coalesce; the oracle replays the generation split from
# the original table, so a hash match proves (a) a declared schema reads
# files lacking one of its columns, (b) NULL back-fill for them, (c) no
# row/value loss. The schema is declared as a metastore pins it
# (tests/test_hive_metastore.py); ``mergeSchema`` would be a Spark job
# over every footer at plan build.
# ---------------------------------------------------------------------------


@register(
    "q170_schema_evolution_roundtrip",
    oracle=f"""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<missing>'
                ELSE o_orderpriority END AS priority,
           COUNT(*) AS n_orders,
           {sql_exact_sum_fixed('o_totalprice', 2)} AS total_price
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
    category="sources",
)
def q170_schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"
    )
    out = os.path.join(scratch_dir(prefix="hfd_q170_"), "orders_evolving")
    gen1 = orders.filter(F.col("o_orderkey") % 2 == 0).drop("o_orderpriority")
    gen2 = orders.filter(F.col("o_orderkey") % 2 != 0)
    gen1.write.mode("overwrite").parquet(out)
    gen2.write.mode("append").parquet(out)
    back = spark.read.schema(orders.schema).parquet(out)
    return (
        back.groupBy(
            F.coalesce("o_orderpriority", F.lit("<missing>")).alias("priority")
        )
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum_fixed("o_totalprice", 2, "total_price"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# q207 — native XML round trip (Spark 4 ships the former spark-xml as a
# built-in format): customers written as <customer> row elements, read
# back with a declared schema, aggregated — completing the text-format
# matrix (CSV q164, JSONL q165, XML here). XML is the interchange format
# legacy enterprise feeds still speak; the declared-schema read keeps
# type fidelity (bigint keys, double balances) through the text hop.
# Double values survive because Spark writes them with Ryu shortest-
# round-trip representation, same as the CSV/JSONL paths.
# ---------------------------------------------------------------------------


@register(
    "q207_xml_roundtrip",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           {sql_exact_sum_fixed('c_acctbal', 2)} AS total_balance,
           CAST(MIN(c_custkey) AS BIGINT) AS min_key,
           CAST(MAX(c_custkey) AS BIGINT) AS max_key
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    category="sources",
)
def q207_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    out = os.path.join(scratch_dir(prefix="hfd_q207_"), "customer_xml")
    (
        customer.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "customers")
        .option("rowTag", "customer")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "customer")
        .schema(customer.schema)
        .load(out)
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            exact_sum_fixed("c_acctbal", 2, "total_balance"),
            F.min("c_custkey").cast("long").alias("min_key"),
            F.max("c_custkey").cast("long").alias("max_key"),
        )
        .orderBy("c_mktsegment")
    )
