"""Windowed event-stream analytics, batch-checkable.

These queries define the streaming semantics (tumbling/sliding/session
windows) as deterministic batch computations over the ``events`` table, so
the DuckDB oracle can hash-check them. The same logic runs incrementally in
:mod:`hive_feature_demo_spark.streaming.ops` via Structured Streaming
(watermarks, state store) — tested in ``tests/test_streaming.py``; a batch
and a streaming run of one micro-batch replay agree by construction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_feature_demo_spark.catalog import table
from hive_feature_demo_spark.functions.numeric import exact_sum, sql_exact_sum
from hive_feature_demo_spark.functions.temporal import epoch_micros
from hive_feature_demo_spark.scratch import scratch_dir
from hive_feature_demo_spark.plans.registry import register

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# ---------------------------------------------------------------------------
# q40 — tumbling 1-hour windows per event type (F.window == date_trunc hour).
# ---------------------------------------------------------------------------


@register(
    "q40_tumbling_hourly",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '{_TS_FMT_DUCK}') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_exact_sum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    category="streaming",
)
def q40_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), exact_sum("value", "total_value"))
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# q41 — sliding windows (2h length, 1h slide): each event lands in 2 windows.
# ---------------------------------------------------------------------------


@register(
    "q41_sliding_2h_1h",
    oracle=f"""
    WITH expanded AS (
      SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS ws, event_type, value FROM events
    )
    SELECT strftime(ws, '{_TS_FMT_DUCK}') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_exact_sum('value')} AS total_value
    FROM expanded
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    category="streaming",
)
def q41_sliding_2h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), exact_sum("value", "total_value"))
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# q42 — sessionization, gaps-and-islands: a session ends after a 30-minute
# silence per user. Pure window functions — the batch-SQL definition.
# ---------------------------------------------------------------------------

_GAP_MIN = 30


@register(
    "q42_sessionization",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), marked AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > {_GAP_MIN} * 60 * 1000000
                     THEN 1 ELSE 0 END AS is_new
      FROM seq
    ), sess AS (
      SELECT *, CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      FROM marked
    )
    SELECT user_id, session_seq,
           COUNT(*) AS n_events,
           strftime(MIN(ts), '{_TS_FMT_DUCK}') AS session_start,
           strftime(MAX(ts), '{_TS_FMT_DUCK}') AS session_end,
           {sql_exact_sum('value')} AS session_value
    FROM sess
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
    category="streaming",
)
def q42_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                epoch_micros(F.col("ts")) - epoch_micros(F.lag("ts").over(w))
                > _GAP_MIN * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = marked.withColumn("session_seq", F.sum("is_new").over(run).cast("long"))
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), _TS_FMT).alias("session_start"),
            F.date_format(F.max("ts"), _TS_FMT).alias("session_end"),
            exact_sum("value", "session_value"),
        )
        .orderBy("user_id", "session_seq")
    )


# ---------------------------------------------------------------------------
# q43 — Spark-native session_window aggregation; the oracle re-derives the
# identical session bounds from the gaps-and-islands definition
# (session end = last event + gap).
# ---------------------------------------------------------------------------


@register(
    "q43_session_window_native",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), marked AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts >= INTERVAL {_GAP_MIN} MINUTE
                     THEN 1 ELSE 0 END AS is_new
      FROM seq
    ), sess AS (
      SELECT *, SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '{_TS_FMT_DUCK}') AS session_start,
           strftime(MAX(ts) + INTERVAL {_GAP_MIN} MINUTE, '{_TS_FMT_DUCK}') AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_start
    """,
    category="streaming",
)
def q43_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", f"{_GAP_MIN} minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("sw.start"), _TS_FMT).alias("session_start"),
            F.date_format(F.col("sw.end"), _TS_FMT).alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# q44 — stream-static enrichment join: events against the customer dimension
# (user_id -> c_custkey), counts per market segment per day.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# q48/q49 — REAL Structured Streaming runs, hash-checked: the events table
# is replayed through readStream (file source), aggregated incrementally,
# and the final memory-sink table must equal the batch oracle. This checks
# the incremental engine itself, not just the batch re-formulation.
# ---------------------------------------------------------------------------

_STREAM_RUN_SEQ = iter(range(10**6))


@register(
    "q48_streaming_tumbling",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '{_TS_FMT_DUCK}') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_exact_sum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    category="streaming",
)
def q48_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Watermarked APPEND mode: each window emits exactly once when the
    # watermark closes it and its state is evicted — bounded state on an
    # unbounded stream. (Complete mode re-emits ALL windows every trigger
    # and never evicts: O(total history) state, a 100 TB scale-killer.)
    # The flush sentinel closes the trailing windows on the finite replay;
    # its own 'flush' window never closes, so append never emits it.
    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.with_flush_sentinel(
        sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value", "total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    name = f"q48_out_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(agg, name, output_mode="append")
    return (
        spark.table(name)
        .filter(~F.col("event_type").eqNullSafe("flush"))
        .orderBy("window_start", "event_type")
    )


@register(
    "q49_streaming_dedup_count",
    oracle="""
    SELECT COUNT(DISTINCT event_id) AS n_unique_events FROM events
    """,
    category="streaming",
)
def q49_streaming_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    deduped = sops.streaming_dedup(events, watermark="1 hour")
    name = f"q49_out_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(deduped, name, output_mode="append")
    return spark.table(name).agg(F.count("*").alias("n_unique_events"))


@register(
    "q44_stream_static_join",
    oracle=f"""
    SELECT CAST(e.ts AS DATE) AS event_day,
           c.c_mktsegment,
           e.event_type,
           COUNT(*) AS n_events,
           {sql_exact_sum('e.value')} AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    category="streaming",
)
def q44_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy(
            F.col("ts").cast("date").alias("event_day"), "c_mktsegment", "event_type"
        )
        .agg(F.count("*").alias("n_events"), exact_sum("value", "total_value"))
        .orderBy("event_day", "c_mktsegment", "event_type")
    )


# ---------------------------------------------------------------------------
# q69 — REAL stream-stream join run: click->purchase attribution within a
# 30-minute horizon, replayed through the incremental engine (watermarks on
# both sides bound the join state) and hash-checked against the batch join.
# Inner stream-stream joins emit matches in the micro-batch they occur, so
# a full replay equals the batch result.
# ---------------------------------------------------------------------------


@register(
    "q69_stream_stream_attribution",
    oracle=f"""
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts AS cts
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT event_id AS purchase_id, user_id, ts AS pts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.click_id, p.purchase_id,
           strftime(c.cts, '{_TS_FMT_DUCK}') AS click_ts,
           strftime(p.pts, '{_TS_FMT_DUCK}') AS purchase_ts,
           p.value AS purchase_value
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.pts > c.cts
     AND p.pts <= c.cts + INTERVAL 30 MINUTE
    ORDER BY c.user_id, c.click_id, p.purchase_id
    """,
    category="streaming",
)
def q69_stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    joined = sops.click_purchase_join(events, horizon="30 minutes", watermark="10 minutes")
    out = joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", _TS_FMT).alias("click_ts"),
        F.date_format("purchase_ts", _TS_FMT).alias("purchase_ts"),
        "purchase_value",
    )
    name = f"q69_out_{next(_STREAM_RUN_SEQ)}"
    # once-trigger: an INNER stream-stream join emits every match in the
    # micro-batch its rows arrive, so the single-batch replay is
    # output-identical and skips the trailing watermark-advance batch's
    # state-store load/commit round (~1.2 s of this query's 3.2 s at
    # sf0.1 — r13, scripts/profile_streaming.py; never valid for
    # leftOuter/windowed outputs, see run_to_memory)
    sops.run_to_memory(out, name, output_mode="append", once=True)
    return spark.table(name).orderBy("user_id", "click_id", "purchase_id")


# ---------------------------------------------------------------------------
# q70 — REAL applyInPandasWithState run: per-user running totals with
# order-independent fixed-point accumulation; the FINAL snapshot per user
# (update-mode memory sink keeps every batch's snapshots — take the last)
# must equal the batch groupBy.
# ---------------------------------------------------------------------------


@register(
    "q70_stateful_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 10000.0 AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    category="streaming",
)
def q70_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    totals = sops.running_user_totals(events, quantize_digits=4)
    name = f"q70_out_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(totals, name, output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q96 — REAL sliding-window incremental run (2h window / 1h slide),
# hash-checked against the batch double-count (each event lands in two
# overlapping windows).
# ---------------------------------------------------------------------------


@register(
    "q96_streaming_sliding",
    oracle=f"""
    WITH slid AS (
      SELECT date_trunc('hour', ts) AS w1, date_trunc('hour', ts) - INTERVAL 1 HOUR AS w2,
             event_type
      FROM events
    ), unioned AS (
      SELECT w1 AS window_start, event_type FROM slid
      UNION ALL
      SELECT w2, event_type FROM slid
    )
    SELECT strftime(window_start, '{_TS_FMT_DUCK}') AS window_start,
           event_type, COUNT(*) AS n_events
    FROM unioned
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    category="streaming",
)
def q96_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Watermarked APPEND mode (was complete until r5): sliding windows
    # close and evict once the watermark passes each window end; the flush
    # sentinel closes the trailing two overlapping windows on the finite
    # replay. See q48 for the state-growth rationale.
    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.with_flush_sentinel(
        sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    name = f"q96_out_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(agg, name, output_mode="append")
    return (
        spark.table(name)
        .filter(~F.col("event_type").eqNullSafe("flush"))
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# q108 — REAL stream-static enrichment run: the events stream joins the
# static customer dimension (broadcast per micro-batch), aggregated per
# segment; hash-checked against the batch join.
# ---------------------------------------------------------------------------


@register(
    "q108_streaming_enrichment",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    category="streaming",
)
def q108_streaming_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A global (non-windowed) aggregate on a stream can ONLY run in
    # complete/update mode — Spark has no event-time key to close, so
    # complete mode would re-emit the whole result and keep every group's
    # state forever. The scale-correct shape (r5): the STREAM emits
    # hour-windowed partials per segment in watermarked append mode
    # (bounded state, each window evicted once closed) and the all-time
    # segment totals are a cheap downstream batch rollup over the emitted
    # partials — the standard incremental-MV design for running totals.
    # The sentinel (user_id=-1) advances the watermark through the
    # EventTimeWatermark node, then drops at the inner dimension join —
    # joins are never pushed below the watermark operator, so it still
    # registers (unlike a pre-watermark filter, see with_flush_sentinel).
    from hive_feature_demo_spark.catalog import table as _table
    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.with_flush_sentinel(
        sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    dim = _table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    enriched = sops.enrich_with_dimension(
        events.withWatermark("ts", "30 minutes"),
        dim,
        F.col("user_id") == F.col("c_custkey"),
    )
    partials = enriched.groupBy(
        F.window("ts", "1 hour").alias("w"), "c_mktsegment"
    ).agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("cents"),
    )
    name = f"q108_out_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(partials, name, output_mode="append")
    return (
        spark.table(name)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("n").alias("n_events"),
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q130 — REAL stream-stream LEFT OUTER join run: clicks that never convert
# emit with NULL purchase columns, but only after the watermark proves no
# purchase can still arrive (state eviction at click_ts + horizon <
# watermark). The oracle replays both halves: the inner matches plus the
# anti-join rows passing the final-watermark eviction predicate.
#
# Watermark model (the subtle part): Spark keeps ONE global watermark =
# the MINIMUM over all watermark operators, and each side's operator sits
# AFTER its event_type filter — so the final watermark is
# least(max click ts, max purchase ts) - delay, NOT max(all events) -
# delay. At sf0.001 the last click precedes the last purchase by hours,
# so the click-side minimum governs and trailing clicks stay buffered;
# an oracle using the global max would (wrongly) expect them emitted.
# Verified empirically: no event sits exactly on the eviction boundary at
# any shipped SF, so < vs <= cannot flip the result set.
# ---------------------------------------------------------------------------


@register(
    "q130_stream_stream_outer",
    oracle=f"""
    WITH c AS (
      SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT event_id AS purchase_id, user_id AS p_user,
             ts AS purchase_ts, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ), wm AS (
      SELECT LEAST((SELECT MAX(ts) FROM events WHERE event_type = 'click'),
                   (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
             - INTERVAL 10 MINUTE AS w
    ), matched AS (
      SELECT c.c_user AS user_id, c.click_id, p.purchase_id,
             strftime(c.click_ts, '{_TS_FMT_DUCK}') AS click_ts,
             strftime(p.purchase_ts, '{_TS_FMT_DUCK}') AS purchase_ts,
             p.purchase_value
      FROM c JOIN p ON c.c_user = p.p_user
        AND p.purchase_ts > c.click_ts
        AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    ), unconverted AS (
      SELECT c.c_user AS user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
             strftime(c.click_ts, '{_TS_FMT_DUCK}') AS click_ts,
             CAST(NULL AS VARCHAR) AS purchase_ts,
             CAST(NULL AS DOUBLE) AS purchase_value
      FROM c, wm
      WHERE NOT EXISTS (
              SELECT 1 FROM p WHERE c.c_user = p.p_user
                AND p.purchase_ts > c.click_ts
                AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE)
        AND c.click_ts + INTERVAL 30 MINUTE < wm.w
    )
    SELECT * FROM matched
    UNION ALL
    SELECT * FROM unconverted
    ORDER BY user_id, click_id, purchase_id
    """,
    category="streaming",
)
def q130_stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    joined = sops.click_purchase_join(
        events, horizon="30 minutes", watermark="10 minutes", how="leftOuter"
    )
    out = joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", _TS_FMT).alias("click_ts"),
        F.date_format("purchase_ts", _TS_FMT).alias("purchase_ts"),
        "purchase_value",
    )
    name = f"q130_out_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(out, name, output_mode="append")
    return spark.table(name).orderBy("user_id", "click_id", "purchase_id")


# ---------------------------------------------------------------------------
# q158 — REAL stream-stream LEFT SEMI join run: each converted click emits
# exactly once (click columns only) at the micro-batch where its first
# in-horizon purchase arrives. Unlike q130's leftOuter, the output is
# watermark-INDEPENDENT: unmatched clicks are evicted silently (never
# emitted), and matched clicks emit at match time, not at eviction — so
# the oracle is a plain EXISTS with no final-watermark predicate. The
# scale story matches the inner join: both sides' state bounded by
# watermark + horizon, exactly-once left emission tracked in the state
# store.
# ---------------------------------------------------------------------------


@register(
    "q158_stream_stream_semi",
    oracle=f"""
    WITH c AS (
      SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id AS p_user, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.c_user AS user_id, c.click_id,
           strftime(c.click_ts, '{_TS_FMT_DUCK}') AS click_ts
    FROM c
    WHERE EXISTS (
            SELECT 1 FROM p WHERE c.c_user = p.p_user
              AND p.purchase_ts > c.click_ts
              AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE)
    ORDER BY user_id, click_id
    """,
    category="streaming",
)
def q158_stream_stream_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    joined = sops.click_purchase_join(
        events, horizon="30 minutes", watermark="10 minutes", how="leftSemi"
    )
    out = joined.select(
        "user_id",
        "click_id",
        F.date_format("click_ts", _TS_FMT).alias("click_ts"),
    )
    name = f"q158_out_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(out, name, output_mode="append")
    return spark.table(name).orderBy("user_id", "click_id")


# ---------------------------------------------------------------------------
# q131 — REAL session-window incremental run: F.session_window merges
# events closer than the gap, session end = last event + gap, replayed
# through the streaming engine in watermarked APPEND mode — each session is
# emitted exactly once when the watermark closes it, and its state is then
# evicted. (Complete mode would re-emit every session each trigger: O(all
# sessions ever) per micro-batch, a scale-killer at 100 TB.) To keep the
# FULL oracle (all sessions, including those still open at end-of-input),
# the flush sentinel (streaming.ops.with_flush_sentinel) advances the
# watermark past every real session's end; it is filtered out after the
# run. The oracle rebuilds sessions as gaps-and-islands with the
# >= boundary Spark's exclusive window end implies (an event exactly `gap`
# after its predecessor starts a NEW session; verified no such tie exists
# at any shipped SF, so the chosen strictness is still
# exercised-but-not-load-bearing).
# ---------------------------------------------------------------------------


@register(
    "q131_streaming_session_windows",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), marked AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) >= {_GAP_MIN} * 60 * 1000000
                     THEN 1 ELSE 0 END AS is_new
      FROM seq
    ), sess AS (
      SELECT *, SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '{_TS_FMT_DUCK}') AS session_start,
           strftime(MAX(ts) + INTERVAL {_GAP_MIN} MINUTE, '{_TS_FMT_DUCK}') AS session_end,
           COUNT(*) AS n_events,
           {sql_exact_sum('value')} AS session_value
    FROM sess
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_start
    """,
    category="streaming",
)
def q131_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.with_flush_sentinel(
        sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    # NOTE: no pre-aggregation filter on the sentinel (see
    # with_flush_sentinel; observed: exactly the session containing max(ts)
    # went missing). Its own session can never close (watermark stops at
    # flush - delay < flush + gap); the batch-side filter is belt-and-braces.
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", f"{_GAP_MIN} minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), exact_sum("value", "session_value"))
        .select(
            "user_id",
            F.date_format("sw.start", _TS_FMT).alias("session_start"),
            F.date_format("sw.end", _TS_FMT).alias("session_end"),
            "n_events",
            "session_value",
        )
    )
    name = f"q131_out_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(agg, name, output_mode="append")
    return (
        spark.table(name)
        .filter(F.col("user_id") >= 0)
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# q136 — CUSTOM stateful sessionization (applyInPandasWithState +
# EventTimeTimeout): sessions emit only when CLOSED — by the next event
# exceeding the gap in-batch, or by the watermark passing last_event + gap
# (state timeout). What session_window cannot express: arbitrary session
# payloads with closed-only append semantics and guaranteed state
# eviction. The oracle rebuilds all sessions as gaps-and-islands, then
# keeps (a) every non-final session per user (closed in-batch by a
# successor) and (b) final sessions whose last event + gap precedes the
# final watermark (max ts - delay). Verified: no session end sits exactly
# on the watermark boundary at any shipped SF.
# ---------------------------------------------------------------------------


@register(
    "q136_stateful_sessions_timeout",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), marked AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) >= {_GAP_MIN} * 60 * 1000000
                     THEN 1 ELSE 0 END AS is_new
      FROM seq
    ), sess AS (
      SELECT *, SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM marked
    ), agg AS (
      SELECT user_id, session_seq,
             MIN(ts) AS s_start, MAX(ts) AS s_last,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS session_value,
             MAX(session_seq) OVER (PARTITION BY user_id) AS last_seq
      FROM sess
      GROUP BY user_id, session_seq
    ), wm AS (
      SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events
    )
    SELECT user_id,
           strftime(s_start, '{_TS_FMT_DUCK}') AS session_start,
           strftime(s_last + INTERVAL {_GAP_MIN} MINUTE, '{_TS_FMT_DUCK}') AS session_end,
           n_events, session_value
    FROM agg, wm
    WHERE session_seq < last_seq
       OR s_last + INTERVAL {_GAP_MIN} MINUTE < wm.w
    ORDER BY user_id, session_start
    """,
    category="streaming",
)
def q136_stateful_sessions_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.events_stream(spark, os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "ts", "user_id", "value"
    )
    sessions = sops.stateful_sessions(
        events, gap_minutes=_GAP_MIN, watermark="30 minutes", quantize_digits=4
    )
    out = sessions.select(
        "user_id",
        F.date_format("session_start", _TS_FMT).alias("session_start"),
        F.date_format("session_end", _TS_FMT).alias("session_end"),
        "n_events",
        "session_value",
    )
    name = f"q136_out_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(out, name, output_mode="append")
    return spark.table(name).orderBy("user_id", "session_start")


# ---------------------------------------------------------------------------
# q146 — transformWithStateInPandas (the Spark 4 StatefulProcessor API,
# successor to applyInPandasWithState): per-user running totals held in a
# typed ValueState, updated per micro-batch, emitted with Update
# semantics. The final per-user row is the running maximum (totals are
# monotone), so the end state equals the batch per-user aggregate and the
# oracle can hash-check an arbitrary-stateful streaming run against SQL.
# Fixed-point accumulation makes the result independent of micro-batch
# boundaries and arrival order.
#
# DEPENDENCY GATE: the transformWithState Python runner speaks protobuf to
# the JVM state server; this container ships no `protobuf`, so the query
# registers only when the import resolves (same spirit as the gated media
# codecs). The operator itself (`streaming/ops.transform_with_state_totals`)
# is complete and runs wherever pyspark's [connect]/protobuf extra is
# installed; q136 (applyInPandasWithState) is the always-on arbitrary-state
# path covering the identical semantics class.
# ---------------------------------------------------------------------------

import importlib.util as _ilu

try:
    _HAS_TWS_DEPS = _ilu.find_spec("google.protobuf") is not None
except ModuleNotFoundError:  # no parent `google` package at all
    _HAS_TWS_DEPS = False

if _HAS_TWS_DEPS:

    @register(
        "q146_transform_with_state_totals",
        oracle="""
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(FLOOR(value * 100 + 0.5)) AS DOUBLE) / 100.0 AS total_value
        FROM events
        GROUP BY user_id ORDER BY user_id
        """,
        category="streaming",
    )
    def q146_transform_with_state_totals(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from hive_feature_demo_spark.streaming import ops as sops

        events = sops.events_stream(spark, os.path.join(sf_dir, "events.parquet")).select(
            "user_id", "value"
        )
        totals = sops.transform_with_state_totals(events)
        name = f"q146_out_{next(_STREAM_RUN_SEQ)}"
        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            sops.run_to_memory(totals, name, output_mode="update")
        finally:
            if prev is not None:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        return (
            spark.table(name)
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("total_value").alias("total_value"),
            )
            .orderBy("user_id")
        )


# ---------------------------------------------------------------------------
# q152 — foreachBatch parquet sink round trip: the events stream lands in
# parquet through the idempotent batch-ledger sink (exactly-once-ish on an
# at-least-once channel), is read BACK from disk, and aggregated. The
# oracle aggregates the source table directly, so a hash match proves the
# sink lost/duplicated nothing — the property the ledger exists to
# guarantee. The aggregation itself is plain batch SQL over the landed
# files, i.e. the stream-lands-then-batch-reads lambda shape.
# ---------------------------------------------------------------------------


@register(
    "q152_foreachbatch_sink_roundtrip",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(FLOOR(value * 100 + 0.5)) AS DOUBLE) / 100.0 AS total_value
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    category="streaming",
)
def q152_foreachbatch_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.streaming import ops as sops

    base = scratch_dir(prefix="hfd_q152_")
    out_dir = os.path.join(base, "landed")
    ledger = os.path.join(base, "ledger")
    events = sops.events_stream(spark, os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "event_type", "value"
    )
    sops.run_foreach_batch_parquet(events, out_dir, ledger)
    back = spark.read.schema(events.schema).parquet(out_dir)
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
                .cast("double")
                / 100.0
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q168 — REAL dropDuplicatesWithinWatermark run: distinct
# (user, event_type, minute) activity keys de-duplicated incrementally.
# The Spark-4 API differs from streaming dropDuplicates in the eviction
# contract: key state is guaranteed dropped once the watermark passes the
# key's FIRST-SEEN time + delay, even when later duplicates carry
# different event times — the bounded-state idempotency layer for
# at-least-once sources whose retries arrive with skewed timestamps. The
# deduped key stream lands in the sink (append), and the batch side
# aggregates it; the oracle is the plain DISTINCT. Projecting only key
# columns keeps the output independent of which duplicate row survived.
# ---------------------------------------------------------------------------


@register(
    "q168_streaming_dedup_within_watermark",
    oracle="""
    WITH k AS (
      SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m
      FROM events
    )
    SELECT event_type, COUNT(*) AS n_user_minutes
    FROM k GROUP BY event_type ORDER BY event_type
    """,
    category="streaming",
)
def q168_streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    keyed = events.select(
        "user_id", "event_type", F.date_trunc("minute", "ts").alias("m"), "ts"
    )
    deduped = keyed.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "m"]
    )
    name = f"q168_out_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(
        deduped.select("user_id", "event_type", "m"), name, output_mode="append"
    )
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_user_minutes"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q244 — DYNAMIC-gap session windows: the gap is an expression of the row
# (purchase/signup keep a session alive 60 minutes, everything else 30) —
# Spark's dynamic `session_window(ts, gapExpr)`. The fixed-gap lag test
# (q43) is WRONG under per-event gaps: a long-gap event can bridge a
# pause its successor alone would break, so the oracle derives islands
# from the running MAX of event-interval ends over strictly-preceding
# rows (new session iff ts >= max prior end — Spark's exclusive window
# end). Same scale shape as q43: one shuffle on user_id, state bounded
# per key.
# ---------------------------------------------------------------------------

_LONG_GAP_TYPES = ("purchase", "signup")


@register(
    "q244_dynamic_gap_sessions",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             ts + CASE WHEN event_type IN {_LONG_GAP_TYPES!r}
                       THEN INTERVAL 60 MINUTE
                       ELSE INTERVAL 30 MINUTE END AS ev_end
      FROM events
    ), seq AS (
      SELECT *, MAX(ev_end) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
      FROM g
    ), marked AS (
      SELECT *, CASE WHEN prev_max_end IS NULL OR ts >= prev_max_end
                     THEN 1 ELSE 0 END AS is_new
      FROM seq
    ), sess AS (
      SELECT *, SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '{_TS_FMT_DUCK}') AS session_start,
           strftime(MAX(ev_end), '{_TS_FMT_DUCK}') AS session_end,
           COUNT(*) AS n_events,
           {sql_exact_sum('value')} AS session_value
    FROM sess
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_start
    """,
    category="streaming",
)
def q244_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type").isin(*_LONG_GAP_TYPES), F.lit("60 minutes")
    ).otherwise(F.lit("30 minutes"))
    return (
        e.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), exact_sum("value").alias("session_value"))
        .select(
            "user_id",
            F.date_format(F.col("sw.start"), _TS_FMT).alias("session_start"),
            F.date_format(F.col("sw.end"), _TS_FMT).alias("session_end"),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# q245 — REAL incremental run of the DYNAMIC-gap session windows (q244's
# semantics through the streaming engine): watermarked APPEND mode, each
# session emitted exactly once when the watermark passes its end, state
# evicted. Same flush-sentinel replay protocol as q131 (the sentinel's
# far-future row advances event time past every real session's end; its
# own session can never close, so append never emits it). The oracle is
# q244's running-max-end island derivation — the streaming engine must
# agree with the batch dynamic-gap merge bit-for-bit.
# ---------------------------------------------------------------------------


@register(
    "q245_streaming_dynamic_gap_sessions",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             ts + CASE WHEN event_type IN {_LONG_GAP_TYPES!r}
                       THEN INTERVAL 60 MINUTE
                       ELSE INTERVAL 30 MINUTE END AS ev_end
      FROM events
    ), seq AS (
      SELECT *, MAX(ev_end) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
      FROM g
    ), marked AS (
      SELECT *, CASE WHEN prev_max_end IS NULL OR ts >= prev_max_end
                     THEN 1 ELSE 0 END AS is_new
      FROM seq
    ), sess AS (
      SELECT *, SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '{_TS_FMT_DUCK}') AS session_start,
           strftime(MAX(ev_end), '{_TS_FMT_DUCK}') AS session_end,
           COUNT(*) AS n_events,
           {sql_exact_sum('value')} AS session_value
    FROM sess
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_start
    """,
    category="streaming",
)
def q245_streaming_dynamic_gap_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.with_flush_sentinel(
        sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    gap = F.when(
        F.col("event_type").isin(*_LONG_GAP_TYPES), F.lit("60 minutes")
    ).otherwise(F.lit("30 minutes"))
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), exact_sum("value", "session_value"))
        .select(
            "user_id",
            F.date_format("sw.start", _TS_FMT).alias("session_start"),
            F.date_format("sw.end", _TS_FMT).alias("session_end"),
            "n_events",
            "session_value",
        )
    )
    name = f"q245_out_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(agg, name, output_mode="append")
    return (
        spark.table(name)
        .filter(F.col("user_id") >= 0)
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# q314 — sliding-window rate-limit audit (the engine-side view of
# SCALING.md:105-117's Redis sliding-window limiter): for every event,
# the count of that user's events in the trailing 1-hour window (RANGE
# frame on event time — the exact sliding window, not hourly buckets),
# then per user the PEAK trailing-hour rate and whether it ever exceeded
# the limit. What a platform runs to size its rate limits before
# enforcing them. Scale: one partitioned window per user ordered by
# time; no self-join, no explode — the RANGE frame is state-bounded by
# the hour horizon.
# ---------------------------------------------------------------------------

_RATE_LIMIT = 20


@register(
    "q314_rate_limit_audit",
    oracle=f"""
    WITH rated AS (
      SELECT user_id,
             COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS in_hour
      FROM events
    )
    SELECT user_id,
           CAST(MAX(in_hour) AS BIGINT) AS peak_hour_rate,
           (MAX(in_hour) > {_RATE_LIMIT}) AS over_limit,
           COUNT(*) AS n_events
    FROM rated
    GROUP BY user_id
    ORDER BY peak_hour_rate DESC, user_id
    LIMIT 25
    """,
    category="streaming",
)
def q314_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    rated = e.withColumn("in_hour", F.count("*").over(w))
    return (
        rated.groupBy("user_id")
        .agg(
            F.max("in_hour").cast("long").alias("peak_hour_rate"),
            (F.max("in_hour") > _RATE_LIMIT).alias("over_limit"),
            F.count("*").alias("n_events"),
        )
        .orderBy(F.desc("peak_hour_rate"), "user_id")
        .limit(25)
    )
