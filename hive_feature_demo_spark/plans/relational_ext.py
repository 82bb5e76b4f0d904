"""Extended relational coverage: as-of join, range join, grouping sets,
exact percentiles, approx sketches, SQL front door, JSON parse+fallback."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_feature_demo_spark.catalog import register_testdata, table
from hive_feature_demo_spark.functions.numeric import round_det, sql_round_det
from hive_feature_demo_spark.operators.relational_ext import asof_join, range_join
from hive_feature_demo_spark.plans.registry import register
from hive_feature_demo_spark.plans.segment import FANS_PARQUET, fans_table

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

# ---------------------------------------------------------------------------
# q50 — as-of join: each event matched to the user's most recent order at or
# before the event time. Oracle = DuckDB's native ASOF JOIN; the Spark side
# is the union+carry-forward formulation (shuffle+sort, no row explosion).
# Orders are pre-reduced to one row per (custkey, date) so ties are defined.
# ---------------------------------------------------------------------------


@register(
    "q50_asof_join",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS last_orderkey
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, e.event_type,
           strftime(e.ts, '{_TS_FMT_DUCK}') AS event_ts,
           o.last_orderkey,
           strftime(o.o_orderdate, '{_TS_FMT_DUCK}') AS asof_order_ts
    FROM events e
    ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    ORDER BY e.event_id
    """,
)
def q50_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    o = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    joined = asof_join(
        e,
        o,
        left_time="ts",
        right_time="o_orderdate",
        left_by="user_id",
        right_by="o_custkey",
        value_cols=["last_orderkey"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", _TS_FMT).alias("event_ts"),
        "last_orderkey",
        F.date_format("asof_time", _TS_FMT).alias("asof_order_ts"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q51 — range (theta) join: orders bucketed into broadcast price tiers.
# ---------------------------------------------------------------------------

_TIERS = [("bronze", 0.0, 100_000.0), ("silver", 100_000.0, 300_000.0),
          ("gold", 300_000.0, 500_000.0), ("platinum", 500_000.0, 10_000_000.0)]

_TIERS_SQL = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _TIERS)


@register(
    "q51_range_join_tiers",
    oracle=f"""
    WITH tiers(tier, lo, hi) AS (VALUES {_TIERS_SQL})
    SELECT t.tier, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,10))) AS DOUBLE) AS total_value
    FROM orders o LEFT JOIN tiers t
      ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
    GROUP BY t.tier
    ORDER BY t.tier
    """,
)
def q51_range_join_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_totalprice")
    tiers = F.broadcast(
        o.sparkSession.createDataFrame(_TIERS, "tier string, lo double, hi double")
    )
    return (
        range_join(o, tiers, F.col("o_totalprice"))
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(25,10)")).cast("double").alias(
                "total_value"
            ),
        )
        .orderBy("tier")
    )


# ---------------------------------------------------------------------------
# q52 — GROUPING SETS via the SQL front door (identical text runs in DuckDB).
# ---------------------------------------------------------------------------

_Q52_SQL = """
    SELECT COALESCE(n.n_name, '__ALL__') AS nation_name,
           COALESCE(c.c_mktsegment, '__ALL__') AS segment,
           COUNT(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY GROUPING SETS ((n.n_name), (c.c_mktsegment), (n.n_name, c.c_mktsegment))
    ORDER BY nation_name, segment
"""

# Engine-side formulation (r11 Expand audit): pre-aggregate to the finest
# set (n_name, c_mktsegment) — map-side combine, one <=|nations x
# segments|-row shuffle — then run the grouping sets over the partial
# counts, so the Expand x3 multiplies ~125 rows instead of every joined
# customer row. COUNT(*) re-associates as SUM(partial) exactly. The
# oracle keeps the direct formulation (_Q52_SQL) so the driver compares
# two independent shapes.
_Q52_ENGINE_SQL = """
    WITH pre AS (
      SELECT n.n_name, c.c_mktsegment, COUNT(*) AS _n
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, c.c_mktsegment
    )
    SELECT COALESCE(n_name, '__ALL__') AS nation_name,
           COALESCE(c_mktsegment, '__ALL__') AS segment,
           SUM(_n) AS n_customers
    FROM pre
    GROUP BY GROUPING SETS ((n_name), (c_mktsegment), (n_name, c_mktsegment))
    ORDER BY nation_name, segment
"""


@register("q52_grouping_sets", oracle=_Q52_SQL)
def q52_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_testdata(spark, sf_dir)
    return spark.sql(_Q52_ENGINE_SQL)


# ---------------------------------------------------------------------------
# q53 — exact percentiles (interpolated) per market segment.
# ---------------------------------------------------------------------------


@register(
    "q53_percentiles",
    oracle=f"""
    SELECT c_mktsegment,
           {sql_round_det('quantile_cont(c_acctbal, 0.25)', 4)} AS p25,
           {sql_round_det('quantile_cont(c_acctbal, 0.50)', 4)} AS p50,
           {sql_round_det('quantile_cont(c_acctbal, 0.75)', 4)} AS p75
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q53_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            round_det(F.percentile("c_acctbal", 0.25), 4).alias("p25"),
            round_det(F.percentile("c_acctbal", 0.50), 4).alias("p50"),
            round_det(F.percentile("c_acctbal", 0.75), 4).alias("p75"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q54 — approximate sketches (HLL++ distinct, approx quantiles): the scale
# path for cardinality/quantile estimation. Sketch INTERNALS are not
# SQL-expressible, but their accuracy CONTRACTS are deterministic booleans:
# HLL++ at default rsd=0.05 must land within 10% of the exact count, and a
# 1/1000-accuracy quantile sketch's median must sit between the exact 45th
# and 55th percentiles. The query emits the exact counts (hash-checked
# value-for-value against DuckDB) plus the sketch-within-bounds booleans
# (the oracle pins them TRUE) — so the sketch path is driver-verified
# end-to-end, not rows-only.
# ---------------------------------------------------------------------------


@register(
    "q54_approx_sketches",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_partkey) AS n_parts,
           TRUE AS orders_sketch_ok,
           TRUE AS parts_sketch_ok,
           TRUE AS median_sketch_ok
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q54_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    rel_ok = lambda approx, exact: (  # noqa: E731
        F.abs(approx.cast("double") - exact) / exact <= F.lit(0.10)
    )
    # Two COUNT(DISTINCT)s mixed with sketch/percentile aggs plan an
    # Expand x3 — every fact row tripled BEFORE the shuffle, and the
    # sort-based percentile aggs then process the tripled stream (q02's
    # distinct-over-fact tax, no join needed to trigger it). Split: the
    # sketches/percentiles aggregate the raw rows once; each distinct
    # count pre-aggregates on (flag, key) map-side, then counts — no
    # Expand anywhere, 3-row broadcast joins reassemble. 9-12s -> 2-4s at
    # sf0.1; at 100 TB the shuffle carries 1x + two deduped key streams
    # instead of 3x the fact.
    plain = l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("_a_orders"),
        F.approx_count_distinct("l_partkey").alias("_a_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("_a_median"),
        F.percentile("l_extendedprice", 0.45).alias("_p45"),
        F.percentile("l_extendedprice", 0.55).alias("_p55"),
    )
    n_orders = (
        l.groupBy("l_returnflag", "l_orderkey")
        .agg(F.lit(1).alias("_one"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_orders"))
    )
    n_parts = (
        l.groupBy("l_returnflag", "l_partkey")
        .agg(F.lit(1).alias("_one"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_parts"))
    )
    return (
        plain.join(n_orders, "l_returnflag")
        .join(n_parts, "l_returnflag")
        .select(
            "l_returnflag",
            "n_orders",
            "n_parts",
            rel_ok(F.col("_a_orders"), F.col("n_orders")).alias("orders_sketch_ok"),
            rel_ok(F.col("_a_parts"), F.col("n_parts")).alias("parts_sketch_ok"),
            F.col("_a_median").between(F.col("_p45"), F.col("_p55")).alias(
                "median_sketch_ok"
            ),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q55 — SQL front door with a correlated subquery (identical ANSI text on
# both engines): customers above their nation's average balance.
# ---------------------------------------------------------------------------

_Q55_SQL = """
    SELECT c.c_custkey, c.c_name, c.c_acctbal
    FROM customer c
    WHERE c.c_acctbal > (
      SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*)
      FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
    )
    ORDER BY c.c_custkey
    LIMIT 50
"""


@register("q55_correlated_subquery", oracle=_Q55_SQL)
def q55_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_testdata(spark, sf_dir)
    return spark.sql(_Q55_SQL)


# ---------------------------------------------------------------------------
# q56 — schema-validated JSON parse with deterministic fallback: the
# generalized A13/A14 pattern (LLM structured-output parsing). Rows whose
# payload is corrupted parse to null and take the fallback value.
# ---------------------------------------------------------------------------


@register(
    "q56_json_parse_fallback",
    oracle="""
    WITH payloads AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 97 = 0
                  THEN regexp_replace(props, '[0-9]', 'z', 'g')
                  ELSE props END AS payload
      FROM events
    )
    SELECT event_id, event_type,
           COALESCE(TRY_CAST(regexp_extract(payload, '"k": ([0-9]+)', 1) AS BIGINT),
                    -1) AS k_value,
           TRY_CAST(regexp_extract(payload, '"k": ([0-9]+)', 1) AS BIGINT) IS NULL
             AS used_fallback
    FROM payloads
    ORDER BY event_id
    """,
)
def q56_json_parse_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 97 == 0, F.regexp_replace("props", "[0-9]", "z")
    ).otherwise(F.col("props"))
    parsed = F.from_json(payload, "k bigint")
    return (
        e.select(
            "event_id",
            "event_type",
            F.coalesce(parsed["k"], F.lit(-1)).alias("k_value"),
            parsed["k"].isNull().alias("used_fallback"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q57 — full ranking-window surface: rank / dense_rank / ntile / cume_dist.
# ---------------------------------------------------------------------------


@register(
    "q57_ranking_windows",
    oracle=f"""
    SELECT s_suppkey, s_nationkey, s_acctbal,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           {sql_round_det('CUME_DIST() OVER w', 6)} AS cdist
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
    ORDER BY s_nationkey, rnk, s_suppkey
    """,
)
def q57_ranking_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return (
        s.select(
            "s_suppkey",
            "s_nationkey",
            "s_acctbal",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
            round_det(F.cume_dist().over(w), 6).alias("cdist"),
        )
        .orderBy("s_nationkey", "rnk", "s_suppkey")
    )


# ---------------------------------------------------------------------------
# q58 — the 100 TB genre-index path: pre-exploded fan_genre table (the
# prunable replacement for arrays_overlap, SURVEY §4.2).
# ---------------------------------------------------------------------------


@register(
    "q58_fan_genre_index",
    oracle=f"""
    SELECT genre, COUNT(*) AS n_fans
    FROM (
      SELECT id AS fan_id, lower(unnest(genres)) AS genre
      FROM read_parquet('{FANS_PARQUET}')
    )
    GROUP BY genre
    ORDER BY genre
    """,
    category="segment",
)
def q58_fan_genre_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.operators.segment import explode_genres

    fans = fans_table(spark)
    return (
        explode_genres(fans)
        .groupBy("genre")
        .agg(F.count("*").alias("n_fans"))
        .orderBy("genre")
    )


# ---------------------------------------------------------------------------
# q99 — the genre index IN USE: the jazz segment resolved by semi-join
# against fan_genre instead of arrays_overlap. Same rows as the Layer A
# filter path, but the predicate now reaches storage (a partitioned/
# bucketed fan_genre table prunes; an array membership test cannot).
# ---------------------------------------------------------------------------


@register(
    "q99_genre_filter_via_index",
    oracle=f"""
    WITH fg AS (
      SELECT id AS fan_id, lower(unnest(genres)) AS genre
      FROM read_parquet('{FANS_PARQUET}')
    )
    SELECT f.id, f.first_name, f.last_name, f.city, f.total_spent
    FROM read_parquet('{FANS_PARQUET}') f
    WHERE f.id IN (SELECT fan_id FROM fg WHERE genre = 'jazz')
    ORDER BY f.id
    """,
    category="segment",
)
def q99_genre_filter_via_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.operators.segment import explode_genres

    fans = fans_table(spark)
    fan_genre = explode_genres(fans)
    jazz_ids = fan_genre.filter(F.col("genre") == "jazz").select("fan_id")
    return (
        fans.join(jazz_ids, fans.id == jazz_ids.fan_id, "left_semi")
        .select("id", "first_name", "last_name", "city", "total_spent")
        .orderBy("id")
    )


# ---------------------------------------------------------------------------
# q134 — FORWARD as-of join: each event attaches the user's NEXT order on
# or after the event (the "time-to-next-conversion" shape). Same
# union+carry plan as q50 with the time ordering reversed; oracle =
# DuckDB's native ASOF with the <= comparison.
# ---------------------------------------------------------------------------


@register(
    "q134_asof_join_forward",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS next_orderkey
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, e.event_type,
           strftime(e.ts, '{_TS_FMT_DUCK}') AS event_ts,
           o.next_orderkey,
           strftime(o.o_orderdate, '{_TS_FMT_DUCK}') AS next_order_ts
    FROM events e
    ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    ORDER BY e.event_id
    """,
)
def q134_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.catalog import table as _table

    e = _table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    o = (
        _table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("next_orderkey"))
    )
    joined = asof_join(
        e,
        o,
        left_time="ts",
        right_time="o_orderdate",
        left_by="user_id",
        right_by="o_custkey",
        value_cols=["next_orderkey"],
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", _TS_FMT).alias("event_ts"),
        "next_orderkey",
        F.date_format("asof_time", _TS_FMT).alias("next_order_ts"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q144 — semi-structured ingestion via the VARIANT type (Spark 4):
# ``parse_json`` turns the raw JSON payload column into a variant once at
# the scan, and ``variant_get`` does typed path extraction downstream —
# the open-schema ingest shape (store the payload, type it at query time)
# without string re-parsing per access. Extraction + aggregation stay
# whole-stage-codegen; one partial-agg shuffle on the extracted key.
# Complements q56, which is the schema_of_json/from_json FIXED-schema path.
# ---------------------------------------------------------------------------


@register(
    "q144_variant_json_extract",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(FLOOR(value * 100 + 0.5)) AS DOUBLE) / 100.0 AS total_value
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
    category="relational",
)
def q144_variant_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return (
        e.select(
            (k % 10).alias("k_bucket"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
        )
        .filter(F.col("k_bucket").isNotNull())
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum("cents").cast("double") / 100.0).alias("total_value"),
        )
        .orderBy("k_bucket")
    )


# ---------------------------------------------------------------------------
# q159 — instant-in-interval join with BOTH sides large: for every event,
# how many user sessions (gaps-and-islands, q42 bounds) contain its
# instant, total and from other users. range_join (q51) broadcasts the
# interval side and dies when intervals don't fit one executor; here time
# is binned into 1-hour grid cells, each session explodes into the cells
# it covers, each event maps to exactly ONE cell, and the join is a plain
# shuffled-hash equi-join on the cell id (no BroadcastNestedLoop, no
# cartesian, no post-join dedup) with the exact containment predicate
# filtering candidates — the 100 TB interval-join formulation
# (operators/relational_ext.instant_interval_join).
# ---------------------------------------------------------------------------


@register(
    "q159_concurrent_sessions",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), marked AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 30 * 60 * 1000000
                     THEN 1 ELSE 0 END AS is_new
      FROM seq
    ), sess AS (
      SELECT *, SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM marked
    ), s AS (
      SELECT user_id AS s_user, session_seq,
             MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM sess GROUP BY user_id, session_seq
    )
    SELECT e.event_id,
           CAST(COUNT(*) AS BIGINT) AS n_concurrent,
           CAST(SUM(CASE WHEN s.s_user <> e.user_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_other_users
    FROM events e JOIN s ON e.ts BETWEEN s.s_start AND s.s_end
    GROUP BY e.event_id
    ORDER BY e.event_id
    """,
    category="relational",
)
def q159_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.functions.temporal import epoch_micros
    from hive_feature_demo_spark.operators.relational_ext import instant_interval_join

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                epoch_micros(F.col("ts")) - epoch_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sessions = (
        marked.withColumn("session_seq", F.sum("is_new").over(run))
        .groupBy(F.col("user_id").alias("s_user"), "session_seq")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    points = e.select("event_id", "user_id", "ts")
    joined = instant_interval_join(
        points, sessions, "ts", "s_start", "s_end", cell_seconds=3600
    )
    return (
        joined.groupBy("event_id")
        .agg(
            F.count("*").alias("n_concurrent"),
            F.sum((F.col("s_user") != F.col("user_id")).cast("long")).alias(
                "n_other_users"
            ),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q160 — interval-interval OVERLAP join with both sides large: pairs of
# users whose sessions (q42 bounds) overlap in time, with pair counts.
# Extends q159's grid-cell binning with the first-common-cell trick:
# overlapping intervals share every cell their intersection touches, so a
# naive cell equi-join duplicates each pair once per shared cell; keeping
# a candidate only where cell == max(both start-cells) makes every
# overlapping pair survive exactly once — NO distinct/dedup shuffle. The
# self-join is u1 < u2 (cross-user, unordered pairs). At 100 TB this is
# the co-presence/concurrency primitive (ad attribution windows, fraud
# co-session detection) that a theta join can't plan without a cartesian.
# ---------------------------------------------------------------------------


@register(
    "q160_overlapping_session_pairs",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), marked AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 30 * 60 * 1000000
                     THEN 1 ELSE 0 END AS is_new
      FROM seq
    ), sess AS (
      SELECT *, SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM marked
    ), s AS (
      SELECT user_id, session_seq, MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM sess GROUP BY user_id, session_seq
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps
    FROM s a JOIN s b
      ON a.user_id < b.user_id
     AND a.s_start <= b.s_end AND b.s_start <= a.s_end
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    category="relational",
)
def q160_overlapping_session_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.functions.temporal import epoch_micros
    from hive_feature_demo_spark.operators.relational_ext import interval_overlap_join

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                epoch_micros(F.col("ts")) - epoch_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sessions = (
        marked.withColumn("session_seq", F.sum("is_new").over(run))
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    a = sessions.select(
        F.col("user_id").alias("user_a"),
        F.col("s_start").alias("a_start"),
        F.col("s_end").alias("a_end"),
    )
    b = sessions.select(
        F.col("user_id").alias("user_b"),
        F.col("s_start").alias("b_start"),
        F.col("s_end").alias("b_end"),
    )
    pairs = interval_overlap_join(
        a, b, "a_start", "a_end", "b_start", "b_end", cell_seconds=3600
    ).filter(F.col("user_a") < F.col("user_b"))
    return (
        pairs.groupBy("user_a", "user_b")
        .agg(F.count("*").alias("n_overlaps"))
        .orderBy("user_a", "user_b")
    )


# ---------------------------------------------------------------------------
# q162 — deterministic integer PageRank over the session-overlap graph
# (q160's edges, symmetrized; weight = overlap count): the iterative-
# algorithm family beyond connected components (q86/q127). Floating-point
# PageRank is NOT reproducible across engines (neighbor sums are
# order-dependent in IEEE arithmetic), so ranks are fixed-point integers
# with integer division at every step:
#
#   inflow(v) = SUM_u (r(u) * w(u,v)) div tot(u)
#   r'(v)     = (15 * SCALE) div 100 + (85 * inflow(v)) div 100
#
# — every operation exact, any summation order, any engine. 5 unrolled
# iterations (the oracle builds the same 5 CTE stages). Scale shape per
# iteration: one broadcast-or-shuffle join of ranks to edges + one
# partial-agg shuffle on the destination key — the standard distributed
# power-iteration step; edges are materialized once and reused.
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000
_PR_ITERS = 5


def _pr_oracle() -> str:
    sessions = """
    WITH seq AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), marked AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 30 * 60 * 1000000
                     THEN 1 ELSE 0 END AS is_new
      FROM seq
    ), sess AS (
      SELECT *, SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM marked
    ), s AS (
      SELECT user_id, session_seq, MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM sess GROUP BY user_id, session_seq
    ), pairs AS (
      SELECT a.user_id AS ua, b.user_id AS ub, CAST(COUNT(*) AS BIGINT) AS w
      FROM s a JOIN s b
        ON a.user_id < b.user_id
       AND a.s_start <= b.s_end AND b.s_start <= a.s_end
      GROUP BY 1, 2
    ), edges AS (
      SELECT ua AS src, ub AS dst, w FROM pairs
      UNION ALL
      SELECT ub AS src, ua AS dst, w FROM pairs
    ), tot AS (
      SELECT src, SUM(w) AS tw FROM edges GROUP BY src
    ), e AS (
      SELECT edges.src, edges.dst, edges.w, tot.tw FROM edges JOIN tot USING (src)
    ), nodes AS (
      SELECT DISTINCT user_id AS v FROM events
    ), r0 AS (
      SELECT v, CAST(1000000 AS BIGINT) AS r FROM nodes
    )"""
    steps = []
    for i in range(_PR_ITERS):
        steps.append(f""", r{i + 1} AS (
      SELECT n.v,
             CAST((15 * 1000000) // 100
                  + (85 * COALESCE(f.inflow, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS v, SUM((r{i}.r * e.w) // e.tw) AS inflow
        FROM e JOIN r{i} ON e.src = r{i}.v
        GROUP BY e.dst
      ) f ON n.v = f.v
    )""")
    return (
        sessions
        + "".join(steps)
        + f"""
    SELECT v AS user_id, r AS rank_units FROM r{_PR_ITERS}
    ORDER BY user_id
    """
    )


@register("q162_session_graph_pagerank", oracle=_pr_oracle(), category="relational")
def q162_session_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.plans.relational_ext import (
        q160_overlapping_session_pairs,
    )

    pairs = q160_overlapping_session_pairs(spark, sf_dir).select(
        F.col("user_a").alias("ua"), F.col("user_b").alias("ub"),
        F.col("n_overlaps").alias("w"),
    )
    edges = pairs.select(
        F.col("ua").alias("src"), F.col("ub").alias("dst"), "w"
    ).unionByName(
        pairs.select(F.col("ub").alias("src"), F.col("ua").alias("dst"), "w")
    )
    tot = edges.groupBy("src").agg(F.sum("w").alias("tw"))
    e = edges.join(tot, "src").localCheckpoint(eager=True)  # materialize once
    nodes = (
        table(spark, sf_dir, "events").select(F.col("user_id").alias("v")).distinct()
    )
    r = nodes.withColumn("r", F.lit(_PR_SCALE).cast("long"))
    for _ in range(_PR_ITERS):
        inflow = (
            e.join(r, e.src == r.v)
            .select("dst", F.expr("(r * w) div tw").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        r = (
            nodes.join(inflow, nodes.v == inflow.dst, "left")
            .select(
                "v",
                F.expr(
                    f"CAST((15 * {_PR_SCALE}) div 100"
                    " + (85 * coalesce(inflow, 0)) div 100 AS BIGINT)"
                ).alias("r"),
            )
        )
    return r.select(F.col("v").alias("user_id"), F.col("r").alias("rank_units")).orderBy(
        "user_id"
    )


# ---------------------------------------------------------------------------
# q166 — multi-touch attribution with position-based credit: every click
# in the 30-minute window before a purchase shares the conversion credit
# 40/20/40 (first/middles/last) in EXACT basis points — integer division
# with the remainder assigned to the first touch, so credits always sum
# to 10000 and hash-match any engine. Single click gets 10000; two clicks
# 5000/5000 (the 20% middle pool has no takers and splits to the ends).
# Composes the round's interval machinery: purchases become [ts-30min, ts)
# intervals and clicks are the points — instant_interval_join turns the
# per-purchase lookback into a shuffled equi-join on grid cells (the
# 100 TB shape; a per-purchase subquery or theta join cannot plan
# distributed). Credit positions come from an ordinary window per
# purchase — bounded by the horizon's click count, no global sort.
# ---------------------------------------------------------------------------


@register(
    "q166_multitouch_attribution",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ), touches AS (
      SELECT p.purchase_id, c.click_id, c.c_ts,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY c.c_ts, c.click_id) AS pos,
             COUNT(*) OVER (PARTITION BY p.purchase_id) AS k
      FROM p JOIN c
        ON p.user_id = c.user_id
       AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
       AND c.c_ts < p.p_ts
    )
    SELECT purchase_id, click_id,
           CAST(CASE
             WHEN k = 1 THEN 10000
             WHEN k = 2 THEN 5000
             WHEN pos = 1 THEN 4000 + (2000 - (2000 // (k - 2)) * (k - 2))
             WHEN pos = k THEN 4000
             ELSE 2000 // (k - 2)
           END AS BIGINT) AS credit_bp
    FROM touches
    ORDER BY purchase_id, click_id
    """,
    category="relational",
)
def q166_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.operators.relational_ext import instant_interval_join

    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("w_lo"),
        F.col("ts").alias("p_ts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    # half-open [p_ts - 30min, p_ts): instant_interval_join is inclusive on
    # both ends, so exclude the exact-purchase-instant click afterwards
    touches = (
        instant_interval_join(
            clicks, purchases, "c_ts", "w_lo", "p_ts", cell_seconds=3600
        )
        .filter((F.col("c_user") == F.col("p_user")) & (F.col("c_ts") < F.col("p_ts")))
    )
    w = Window.partitionBy("purchase_id")
    pos = F.row_number().over(w.orderBy("c_ts", "click_id"))
    k = F.count("*").over(w)
    mid = F.expr("2000 div (k - 2)")
    credit = (
        F.when(F.col("k") == 1, 10000)
        .when(F.col("k") == 2, 5000)
        .when(F.col("pos") == 1, F.lit(4000) + (F.lit(2000) - mid * (F.col("k") - 2)))
        .when(F.col("pos") == F.col("k"), 4000)
        .otherwise(mid)
    )
    return (
        touches.withColumn("pos", pos)
        .withColumn("k", k)
        .select(
            "purchase_id",
            "click_id",
            credit.cast("long").alias("credit_bp"),
        )
        .orderBy("purchase_id", "click_id")
    )


# ---------------------------------------------------------------------------
# q167 — as-of join with TOLERANCE (pandas merge_asof's `tolerance`): the
# nearest preceding order still counts only if it is within 30 days of
# the event; staler matches are nulled. Same union+carry-forward plan as
# q50 (one shuffle on the key, zero row explosion); tolerance is a pure
# post-projection on the carried asof_time — it adds NOTHING to the join
# cost, which is the reason to prefer nearest-then-filter over a
# bounded-range join that would re-shuffle. Output aggregates match
# status per event type (integer counts, hash-exact).
# ---------------------------------------------------------------------------

_ASOF_TOL_DAYS = 30


@register(
    "q167_asof_tolerance",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS last_orderkey
      FROM orders GROUP BY 1, 2
    ), j AS (
      SELECT e.event_id, e.event_type, e.ts, o.o_orderdate
      FROM events e
      ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN o_orderdate IS NOT NULL
                          AND o_orderdate >= ts - INTERVAL {_ASOF_TOL_DAYS} DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_tolerance,
           CAST(SUM(CASE WHEN o_orderdate IS NOT NULL
                          AND o_orderdate < ts - INTERVAL {_ASOF_TOL_DAYS} DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_stale_nulled,
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_no_history
    FROM j
    GROUP BY event_type
    ORDER BY event_type
    """,
    category="relational",
)
def q167_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    o = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    joined = asof_join(
        e,
        o,
        left_time="ts",
        right_time="o_orderdate",
        left_by="user_id",
        right_by="o_custkey",
        value_cols=["last_orderkey"],
    )
    within = F.col("asof_time").isNotNull() & (
        F.col("asof_time") >= F.col("ts") - F.expr(f"INTERVAL {_ASOF_TOL_DAYS} DAYS")
    )
    stale = F.col("asof_time").isNotNull() & (
        F.col("asof_time") < F.col("ts") - F.expr(f"INTERVAL {_ASOF_TOL_DAYS} DAYS")
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(within.cast("long")).alias("n_within_tolerance"),
            F.sum(stale.cast("long")).alias("n_stale_nulled"),
            F.sum(F.col("asof_time").isNull().cast("long")).alias("n_no_history"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q319 — percent_rank + nth_value, completing the window-function surface
# (q57 covers rank/dense_rank/ntile/cume_dist; q143 covers IGNORE-NULLS
# first/last): per order priority, each of the top-20 orders with its
# exact percent_rank among ALL the priority's orders and the partition's
# 2nd/3rd-highest prices via full-frame nth_value. percent_rank =
# (rank-1)/(n-1) is exact rational -> identical doubles; ordering ties
# broken by key.
# ---------------------------------------------------------------------------


@register(
    "q319_percent_rank_nth_value",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_orderkey,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             PERCENT_RANK() OVER (
               PARTITION BY o_orderpriority
               ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
                        o_orderkey) AS pr,
             NTH_VALUE(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT), 2) OVER (
               PARTITION BY o_orderpriority
               ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
                        o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_cents,
             NTH_VALUE(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT), 3) OVER (
               PARTITION BY o_orderpriority
               ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
                        o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS third_cents,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
                        o_orderkey) AS rn
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey,
           CAST(cents AS DOUBLE) / 100.0 AS price,
           round(floor(pr * 1000000 + 0.5) / 1000000, 6) AS pct_rank,
           CAST(second_cents AS DOUBLE) / 100.0 AS second_highest,
           CAST(third_cents AS DOUBLE) / 100.0 AS third_highest
    FROM ranked
    WHERE rn <= 20
    ORDER BY o_orderpriority, rn
    """,
    category="relational",
)
def q319_percent_rank_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("cents"), F.asc("o_orderkey")
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = (
        o.select("o_orderpriority", "o_orderkey", cents.alias("cents"))
        .withColumn("pr", F.percent_rank().over(w))
        .withColumn("second_cents", F.nth_value("cents", 2).over(wfull))
        .withColumn("third_cents", F.nth_value("cents", 3).over(wfull))
        .withColumn("rn", F.row_number().over(w))
    )
    return (
        ranked.filter(F.col("rn") <= 20)
        .select(
            "o_orderpriority",
            "o_orderkey",
            (F.col("cents").cast("double") / 100.0).alias("price"),
            F.round(F.floor(F.col("pr") * 1_000_000 + 0.5) / 1_000_000, 6).alias(
                "pct_rank"
            ),
            (F.col("second_cents").cast("double") / 100.0).alias("second_highest"),
            (F.col("third_cents").cast("double") / 100.0).alias("third_highest"),
        )
        .orderBy("o_orderpriority", F.desc("price"), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# q320 — map-typed higher-order functions (the last uncovered Spark SQL
# function family: map_from_entries / map_zip_with / map_filter /
# transform_values): per user, a MAP of event_type -> count zipped with
# a MAP of event_type -> exact value cents, filtered to active types
# (count >= 3), values tiered, then exploded back to rows. The oracle
# restates the semantics relationally (maps are plan-internal — the
# OUTPUT is the contract); map entries are built from array_sort'ed
# structs so map iteration order never leaks into results.
# ---------------------------------------------------------------------------


@register(
    "q320_map_higher_order",
    oracle="""
    SELECT user_id, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
           CASE WHEN COUNT(*) >= 10 THEN 'heavy'
                WHEN COUNT(*) >= 5 THEN 'regular'
                ELSE 'light' END AS tier
    FROM events
    WHERE user_id < 50
    GROUP BY user_id, event_type
    HAVING COUNT(*) >= 3
    ORDER BY user_id, event_type
    """,
    category="relational",
)
def q320_map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.catalog import table as _table

    e = _table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    per_type = e.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n"), F.sum(cents).alias("c")
    )
    # two maps per user, entries sorted by key for deterministic layout
    maps = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("m_n"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "c")))
        ).alias("m_c"),
    )
    zipped = maps.select(
        "user_id",
        F.map_zip_with(
            "m_n", "m_c", lambda k, n, c: F.struct(n.alias("n"), c.alias("c"))
        ).alias("m"),
    )
    active = zipped.select(
        "user_id", F.map_filter("m", lambda k, v: v["n"] >= 3).alias("m")
    )
    tiered = active.select(
        "user_id",
        F.transform_values(
            "m",
            lambda k, v: F.struct(
                v["n"].alias("n"),
                v["c"].alias("c"),
                F.when(v["n"] >= 10, "heavy")
                .when(v["n"] >= 5, "regular")
                .otherwise("light")
                .alias("tier"),
            ),
        ).alias("m"),
    )
    return (
        tiered.select("user_id", F.explode("m").alias("event_type", "v"))
        .select(
            "user_id",
            "event_type",
            F.col("v.n").alias("n_events"),
            F.col("v.c").cast("long").alias("cents"),
            F.col("v.tier").alias("tier"),
        )
        .orderBy("user_id", "event_type")
    )


# ---------------------------------------------------------------------------
# q327 — the CAPPED interval-overlap path (r6 verdict ask #1): q160's
# session-overlap join with interval_overlap_join(max_cell_width=16) —
# the density escape hatch for the "×10 traffic in the same time range"
# regime where per-cell pair space grows quadratically. The cap keeps
# each hour-cell's first 16 sessions in (s_start, s_end, user_id,
# session_seq) order — a total order, so the truncation is
# deterministic — and the DuckDB oracle replays the WHOLE capped
# pipeline: cell explosion (epoch_us // 3.6e9 == floor(unix_ts/3600) on
# positive epochs), the per-cell ROW_NUMBER prefix, the first-common-
# cell rule (cell == greatest of the two start cells — still applied to
# the SURVIVORS, so a pair dies when either member is cut from its
# first shared cell even if both survive later ones), and the exact
# overlap predicate. The cap genuinely bites at both correctness SFs
# (max hour-cell population 29 at sf0.01, 168 at sf0.1 vs cap 16), so
# an ordering/tie-break regression in the capped path cannot
# hash-match. q160 keeps replaying the exact (uncapped) semantics.
# ---------------------------------------------------------------------------

_Q327_CAP = 16
_Q327_CELL_US = 3600 * 1_000_000


@register(
    "q327_capped_session_overlap",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), marked AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 30 * 60 * 1000000
                     THEN 1 ELSE 0 END AS is_new
      FROM seq
    ), sess AS (
      SELECT *, SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM marked
    ), s AS (
      SELECT user_id, session_seq, MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM sess GROUP BY user_id, session_seq
    ), c AS (
      SELECT user_id, session_seq, s_start, s_end,
             epoch_us(s_start) // {_Q327_CELL_US} AS c0,
             unnest(generate_series(epoch_us(s_start) // {_Q327_CELL_US},
                                    epoch_us(s_end) // {_Q327_CELL_US})) AS cell
      FROM s
    ), capped AS (
      SELECT user_id, session_seq, s_start, s_end, c0, cell FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY cell
                 ORDER BY s_start, s_end, user_id, session_seq) AS rn
        FROM c
      ) WHERE rn <= {_Q327_CAP}
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps
    FROM capped a JOIN capped b
      ON a.cell = b.cell
     AND a.cell = GREATEST(a.c0, b.c0)
     AND a.s_start <= b.s_end AND b.s_start <= a.s_end
     AND a.user_id < b.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    category="relational",
)
def q327_capped_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.functions.temporal import epoch_micros
    from hive_feature_demo_spark.operators.relational_ext import interval_overlap_join

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                epoch_micros(F.col("ts")) - epoch_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sessions = (
        marked.withColumn("session_seq", F.sum("is_new").over(run))
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    a = sessions.select(
        F.col("user_id").alias("user_a"),
        F.col("session_seq").alias("a_seq"),
        F.col("s_start").alias("a_start"),
        F.col("s_end").alias("a_end"),
    )
    b = sessions.select(
        F.col("user_id").alias("user_b"),
        F.col("session_seq").alias("b_seq"),
        F.col("s_start").alias("b_start"),
        F.col("s_end").alias("b_end"),
    )
    pairs = interval_overlap_join(
        a,
        b,
        "a_start",
        "a_end",
        "b_start",
        "b_end",
        cell_seconds=3600,
        max_cell_width=_Q327_CAP,
        l_tiebreak=["user_a", "a_seq"],
        r_tiebreak=["user_b", "b_seq"],
    ).filter(F.col("user_a") < F.col("user_b"))
    return (
        pairs.groupBy("user_a", "user_b")
        .agg(F.count("*").alias("n_overlaps"))
        .orderBy("user_a", "user_b")
    )
