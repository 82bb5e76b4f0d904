"""Round-4 streaming surface completions: update output mode (driven
through foreachBatch with a real multi-micro-batch replay), chained
stateful operators (window-over-window rollup, dedup-then-aggregate), and
chunk-level corpus dedup on the batch side.

The update-mode and chained queries replay events through the incremental
engine for real (file source, one file per micro-batch where the test
needs several), and their oracles replay the micro-batch structure in SQL
— the same discipline as q48/q130/q131.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_feature_demo_spark.catalog import table
from hive_feature_demo_spark.functions.numeric import sql_exact_sum, sql_hex_to_int
from hive_feature_demo_spark.functions.temporal import epoch_micros
from hive_feature_demo_spark.scratch import scratch_dir
from hive_feature_demo_spark.plans.registry import register
from hive_feature_demo_spark.plans.streaming_batch import _STREAM_RUN_SEQ

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# ---------------------------------------------------------------------------
# q191 — chunk-level exact dedup: split every document into consecutive
# 20-token chunks, canonicalize identical chunks to their first occurrence
# (min doc_id, then min chunk index), report per-document duplication.
# The sub-document counterpart of q30's whole-document dedup — the op that
# catches repeated boilerplate spans inside otherwise-unique documents.
# Scale: tokens never leave the JVM; the only wide exchange is the
# groupBy(chunk digest) over (16-byte md5, doc_id, chunk_id) triples.
# ---------------------------------------------------------------------------


@register(
    "q191_chunk_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             unnest(range(1, length(string_split(text, ' ')) + 1)) AS ord
      FROM documents
    ), chunks AS MATERIALIZED (
      -- MATERIALIZED: referenced by canon AND the final join; inlined,
      -- DuckDB re-tokenizes + re-aggregates the corpus per reference.
      SELECT doc_id,
             CAST((ord - 1) // 20 AS BIGINT) AS chunk_id,
             md5(string_agg(tok, ' ' ORDER BY ord)) AS h
      FROM toks
      GROUP BY doc_id, CAST((ord - 1) // 20 AS BIGINT)
    ), canon AS (
      SELECT h, MIN(doc_id * 1000000 + chunk_id) AS owner
      FROM chunks GROUP BY h
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           SUM(CASE WHEN c.doc_id * 1000000 + c.chunk_id <> canon.owner
                    THEN 1 ELSE 0 END) AS n_dup_chunks
    FROM chunks c JOIN canon ON c.h = canon.h
    GROUP BY c.doc_id
    ORDER BY c.doc_id
    """,
    category="curation",
)
def q191_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    chunks = (
        toks.groupBy(
            "doc_id", (F.col("pos") / 20).cast("long").alias("chunk_id")
        )
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s.tok,
                    ),
                )
            ).alias("h")
        )
        .withColumn("occ", F.col("doc_id") * 1_000_000 + F.col("chunk_id"))
    )
    # min-occurrence owner via a window over the digest: one shuffle on h,
    # no groupBy+join-back (which would evaluate the chunk subtree twice)
    canon_w = Window.partitionBy("h")
    return (
        chunks.withColumn("owner", F.min("occ").over(canon_w))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(
                F.when(F.col("occ") != F.col("owner"), 1).otherwise(0)
            ).alias("n_dup_chunks"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q192 — REAL update-mode run: per-type running totals, driven through
# foreachBatch over a four-micro-batch replay (the events table split into
# time quartiles, one file per trigger). Update mode re-emits a key only
# in batches where it changed, so the sink records the full update
# HISTORY; the final row per key must equal the batch aggregate and the
# update count per key must equal the number of quartiles the key appears
# in — both replayed exactly by the oracle's ntile(4) model. State is
# never watermark-evicted here (running totals are global); at 100 TB
# this is the pattern for a keyed KV sink (Redis/Delta merge) fed by
# foreachBatch, with key count = state size.
# ---------------------------------------------------------------------------


@register(
    "q192_streaming_update_totals",
    oracle=f"""
    WITH q AS (
      SELECT event_type, value,
             NTILE(4) OVER (ORDER BY ts, event_id) AS quartile
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_exact_sum('value')} AS value_sum,
           COUNT(DISTINCT quartile) AS n_updates
    FROM q
    GROUP BY event_type
    ORDER BY event_type
    """,
    category="streaming",
)
def q192_streaming_update_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.streaming import ops as sops

    e = table(spark, sf_dir, "events")
    replay_dir = scratch_dir(prefix="q192_replay_")
    out_dir = os.path.join(scratch_dir(prefix="q192_out_"), "updates")
    quartiled = e.withColumn(
        "quartile", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(1, 5):  # one file per quartile -> four micro-batches
        quartiled.filter(F.col("quartile") == i).drop("quartile").coalesce(
            1
        ).write.mode("append").parquet(replay_dir)
    stream = sops.events_stream(spark, replay_dir, max_files_per_trigger=1)
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,10)")).alias("value_sum_dec"),
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    sops.run_foreach_batch(agg, write_batch, output_mode="update")

    hist = spark.read.schema(agg.withColumn("batch_id", F.lit(0)).schema).parquet(out_dir)
    w = Window.partitionBy("event_type").orderBy(F.desc("batch_id"))
    return (
        hist.withColumn("rn", F.row_number().over(w))
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("n_events"))).alias("n_events"),
            F.max(F.when(F.col("rn") == 1, F.col("value_sum_dec")))
            .cast("double")
            .alias("value_sum"),
            F.count("*").alias("n_updates"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q196 — REAL stream-stream FULL OUTER join run, completing the join-type
# matrix (inner q69, leftOuter q130, leftSemi q158). Null-padded rows
# emit only at state eviction, and the two sides evict on DIFFERENT
# boundaries derived from the time-range condition
# click_ts < purchase_ts <= click_ts + horizon:
#   - a click can still match purchases until watermark > click_ts +
#     horizon (same predicate as q130);
#   - a purchase can only match clicks STRICTLY BEFORE it, so it is
#     unmatchable as soon as watermark > purchase_ts — no horizon term.
# Both boundaries verified empirically at sf0.001 and sf0.01 (candidate
# predicates pts-30min/pts/pts+30min diverge at sf0.01: 1958/1957/1955
# vs Spark's 1957). The watermark is the q130 global-minimum model:
# least(max click ts, max purchase ts) - delay.
# ---------------------------------------------------------------------------


@register(
    "q196_stream_stream_full_outer",
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
    ), click_only AS (
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
    ), purchase_only AS (
      SELECT p.p_user AS user_id, CAST(NULL AS BIGINT) AS click_id,
             p.purchase_id,
             CAST(NULL AS VARCHAR) AS click_ts,
             strftime(p.purchase_ts, '{_TS_FMT_DUCK}') AS purchase_ts,
             p.purchase_value
      FROM p, wm
      WHERE NOT EXISTS (
              SELECT 1 FROM c WHERE c.c_user = p.p_user
                AND p.purchase_ts > c.click_ts
                AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE)
        AND p.purchase_ts < wm.w
    )
    SELECT * FROM matched
    UNION ALL SELECT * FROM click_only
    UNION ALL SELECT * FROM purchase_only
    ORDER BY user_id, click_id, purchase_id
    """,
    category="streaming",
)
def q196_stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    joined = sops.click_purchase_join(
        events, horizon="30 minutes", watermark="10 minutes", how="fullOuter"
    )
    out = joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", _TS_FMT).alias("click_ts"),
        F.date_format("purchase_ts", _TS_FMT).alias("purchase_ts"),
        "purchase_value",
    )
    name = f"q196_out_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(out, name, output_mode="append")
    return spark.table(name).orderBy("user_id", "click_id", "purchase_id")


# ---------------------------------------------------------------------------
# q193 — chained stateful operators: 15-minute tumbling counts per type,
# re-aggregated into hourly rollups INSIDE the same streaming query
# (window-over-window via window_time — Spark's multi-stateful-operator
# support). Append mode end-to-end: a 15-min window flows into the hourly
# aggregate only once the watermark closes it, and the hourly window emits
# once the watermark passes the hour. The flush sentinel closes the tail;
# its own windows never emit. Scale: the second aggregate's input is the
# FIRST aggregate's output (4 types x 4/hour rows per hour), so the
# rollup's state is negligible — the canonical cheap downsample chain.
# ---------------------------------------------------------------------------


@register(
    "q193_chained_window_rollup",
    oracle=f"""
    WITH sub AS (
      SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS w15,
             event_type,
             COUNT(*) AS n
      FROM events
      GROUP BY 1, 2
    )
    SELECT strftime(date_trunc('hour', w15), '{_TS_FMT_DUCK}') AS hour_start,
           event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           COUNT(*) AS n_subwindows
    FROM sub
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    category="streaming",
)
def q193_chained_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.with_flush_sentinel(
        sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    sub = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    rolled = (
        sub.groupBy(
            F.window(F.window_time("w"), "1 hour").alias("hw"), "event_type"
        )
        .agg(F.sum("n").alias("n_events"), F.count("*").alias("n_subwindows"))
        .select(
            F.date_format(F.col("hw.start"), _TS_FMT).alias("hour_start"),
            "event_type",
            "n_events",
            "n_subwindows",
        )
    )
    name = f"q193_out_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(rolled, name, output_mode="append")
    return (
        spark.table(name)
        .filter(~F.col("event_type").eqNullSafe("flush"))
        .orderBy("hour_start", "event_type")
    )


# ---------------------------------------------------------------------------
# q194 — chained dedup -> windowed aggregate: exact distinct users per
# hour in one streaming query. dropDuplicates on (user_id, hour_start)
# keeps first-seen state; the downstream hourly count then needs no
# COUNT(DISTINCT) — the standard exact-distinct streaming pattern (the
# approximate alternative is a per-window HLL sketch, q54). Append mode +
# flush sentinel as in q193. Scale: dedup state = one entry per
# (user, hour) inside the watermark horizon; use
# dropDuplicatesWithinWatermark (q168) to make eviction explicit.
# ---------------------------------------------------------------------------


@register(
    "q194_streaming_distinct_users",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '{_TS_FMT_DUCK}') AS hour_start,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
    category="streaming",
)
def q194_streaming_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.with_flush_sentinel(
        sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    deduped = (
        events.withWatermark("ts", "30 minutes")
        .withColumn("hour_start", F.date_trunc("hour", "ts"))
        .dropDuplicates(["user_id", "hour_start"])
    )
    agg = (
        deduped.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_users"))
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("hour_start"),
            "n_users",
        )
    )
    name = f"q194_out_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(agg, name, output_mode="append")
    return spark.table(name).orderBy("hour_start")


# ---------------------------------------------------------------------------
# q212 — REAL stream-static SEMI and ANTI join runs: events split by
# membership in a static opt-in set (BUILDING-segment customers),
# counted per type — the allowlist/denylist filter every streaming
# pipeline runs against a dimension. Completes stream-static coverage
# beyond q44/q108's inner joins: left_semi keeps member events,
# left_anti keeps the rest; both sides re-broadcast the (filtered)
# dimension per micro-batch. The joins themselves are stateless; the
# per-type totals are produced as watermarked append-mode hour-windowed
# partials plus a batch rollup (r5 — was complete mode, which never
# evicts aggregation state).
# ---------------------------------------------------------------------------


@register(
    "q212_stream_static_semi_anti",
    oracle="""
    WITH optin AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    SELECT e.event_type,
           SUM(CASE WHEN e.user_id IN (SELECT c_custkey FROM optin)
                    THEN 1 ELSE 0 END) AS n_member_events,
           SUM(CASE WHEN e.user_id IN (SELECT c_custkey FROM optin)
                    THEN 0 ELSE 1 END) AS n_other_events
    FROM events e
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    category="streaming",
)
def q212_stream_static_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.streaming import ops as sops

    optin = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    # r5: the per-type totals are global (non-windowed) aggregates, which
    # only complete/update mode can run — and complete mode keeps every
    # group's state forever AND re-emits the full result each trigger.
    # Scale-correct shape: the stream emits hour-windowed partials per
    # type in watermarked APPEND mode (state evicted as windows close);
    # the all-time totals are a downstream batch rollup of the partials.
    # The semi join drops the sentinel (user -1 not opted in) AFTER it
    # registers in the watermark; the anti join keeps it, but its 'flush'
    # window never closes so append never emits it.
    def _windowed(joined: DataFrame, out_col: str) -> DataFrame:
        return joined.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(F.count("*").alias(out_col))

    path = os.path.join(sf_dir, "events.parquet")
    events = sops.with_flush_sentinel(sops.events_stream(spark, path))
    member = _windowed(
        events.withWatermark("ts", "30 minutes").join(
            F.broadcast(optin), F.col("user_id") == optin.c_custkey, "left_semi"
        ),
        "n",
    )
    other = _windowed(
        sops.with_flush_sentinel(sops.events_stream(spark, path))
        .withWatermark("ts", "30 minutes")
        .join(F.broadcast(optin), F.col("user_id") == optin.c_custkey, "left_anti"),
        "n",
    )
    m_name = f"q212m_{next(_STREAM_RUN_SEQ)}"
    o_name = f"q212o_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(member, m_name, output_mode="append")
    sops.run_to_memory(other, o_name, output_mode="append")

    def _rollup(name: str, out_col: str) -> DataFrame:
        return (
            spark.table(name)
            .filter(~F.col("event_type").eqNullSafe("flush"))
            .groupBy("event_type")
            .agg(F.sum("n").alias(out_col))
        )

    # null-safe full outer join: a NULL event_type is one group, not two
    m, o = _rollup(m_name, "n_member_events"), _rollup(o_name, "n_other_events")
    return (
        m.join(o, m.event_type.eqNullSafe(o.event_type), "full_outer")
        .select(
            F.coalesce(m.event_type, o.event_type).alias("event_type"),
            F.coalesce("n_member_events", F.lit(0)).alias("n_member_events"),
            F.coalesce("n_other_events", F.lit(0)).alias("n_other_events"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q310 — STREAMING windowed distinct-user estimate via the q307 HLL
# registers, replayed through the real incremental engine: level 1 keeps
# MAX(rank) per (hour window, register), level 2 folds the <= 64
# registers per window into the estimate inputs — CHAINED stateful
# aggregations (q193's pattern) in watermarked APPEND mode with the
# flush sentinel. This is THE scalable streaming distinct: q194's exact
# per-window dropDuplicates carries state proportional to true
# cardinality, while this caps state at 64 cells per open window
# whatever the traffic. Both levels evict with the watermark. The oracle
# replays the identical register math per window in batch SQL, so the
# ESTIMATES are hash-exact; exact distincts ride along from a batch scan
# for the error column.
# ---------------------------------------------------------------------------

_HLL310_FIRSTNZ = sql_hex_to_int(
    "ltrim(substr(md5(CAST(user_id AS VARCHAR)), 3, 15), '0')", "1", 1
)


@register(
    "q310_streaming_hll_distinct",
    oracle=f"""
    WITH ranked AS (
      SELECT DISTINCT date_trunc('hour', ts) AS ws,
             {sql_hex_to_int("md5(CAST(user_id AS VARCHAR))", "1", 2)} % 64 AS reg,
             CASE WHEN ltrim(substr(md5(CAST(user_id AS VARCHAR)), 3, 15), '0') = ''
                  THEN 61
                  ELSE (15 - length(ltrim(substr(md5(CAST(user_id AS VARCHAR)), 3, 15), '0'))) * 4
                       + (CASE WHEN {_HLL310_FIRSTNZ} >= 8 THEN 0
                               WHEN {_HLL310_FIRSTNZ} >= 4 THEN 1
                               WHEN {_HLL310_FIRSTNZ} >= 2 THEN 2 ELSE 3 END) + 1
             END AS rank
      FROM events
    ), regs AS (
      SELECT ws, reg, MAX(rank) AS m FROM ranked GROUP BY ws, reg
    ), agg AS (
      SELECT ws, COUNT(*) AS used, SUM(power(2.0, -m)) AS s
      FROM regs GROUP BY ws
    ), est AS (
      SELECT ws, used, 0.709 * 64 * 64 / (s + (64 - used)) AS raw FROM agg
    ), fin AS (
      SELECT ws, used,
             CASE WHEN raw <= 160.0 AND used < 64
                  THEN 64 * ln(64.0 / (64 - used)) ELSE raw END AS corrected
      FROM est
    ), exact AS (
      SELECT date_trunc('hour', ts) AS ws, COUNT(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT strftime(fin.ws, '{_TS_FMT_DUCK}') AS window_start,
           exact.exact_distinct,
           CAST(fin.used AS BIGINT) AS registers_used,
           round(floor(fin.corrected * 10000 + 0.5) / 10000, 4) AS hll_estimate
    FROM fin JOIN exact ON fin.ws = exact.ws
    ORDER BY window_start
    """,
    category="streaming",
)
def q310_streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.plans.sketch_ops import _HLL_ALPHA, _HLL_M, with_hll_reg_rank
    from hive_feature_demo_spark.streaming import ops as sops

    events = sops.with_flush_sentinel(
        sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    ranked = with_hll_reg_rank(events, "user_id")
    level1 = (
        ranked.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "reg")
        .agg(F.max("rank").alias("m"))
    )
    level2 = (
        level1.groupBy(F.window(F.window_time("w"), "1 hour").alias("hw"))
        .agg(
            F.count("*").alias("used"),
            F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("s"),
        )
        .select(
            F.date_format(F.col("hw.start"), _TS_FMT).alias("window_start"),
            "used",
            "s",
        )
    )
    name = f"q310_out_{next(_STREAM_RUN_SEQ)}"
    sops.run_to_memory(level2, name, output_mode="append")
    raw = F.lit(_HLL_ALPHA) * _HLL_M * _HLL_M / (
        F.col("s") + (F.lit(_HLL_M) - F.col("used"))
    )
    est = (
        spark.table(name)
        .withColumn("raw", raw)
        .withColumn(
            "corrected",
            F.when(
                (F.col("raw") <= 2.5 * _HLL_M) & (F.col("used") < _HLL_M),
                F.lit(_HLL_M)
                * F.log(F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col("used"))),
            ).otherwise(F.col("raw")),
        )
    )
    exact = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_format(F.date_trunc("hour", "ts"), _TS_FMT).alias("window_start"))
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return (
        est.join(exact, "window_start")  # inner join drops the sentinel window
        .select(
            "window_start",
            "exact_distinct",
            F.col("used").cast("long").alias("registers_used"),
            F.round(F.floor(F.col("corrected") * 10000 + 0.5) / 10000, 4).alias(
                "hll_estimate"
            ),
        )
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# q322 — STREAMING SCD-2 point-in-time enrichment: the events stream
# joins the customer dimension's version VALID AT EVENT TIME (validity
# windows split at the midpoint of the event range; the second version
# rotates the segment), so an event early in the stream and a late one
# from the same user enrich differently — the real slowly-changing-
# dimension semantics every streaming warehouse needs, vs q108's
# timeless dimension. The join stays stream-static (dimension broadcast
# per micro-batch) with an equi key + validity-range filter; totals come
# out as watermarked append hour-window partials + batch rollup (the
# q108 r5 pattern). The oracle rebuilds the same two-version dimension
# relationally and replays the as-of match.
# ---------------------------------------------------------------------------

#: alphabetical rotation of the five TPC-H segments (version-2 value)
_SCD2_ROT = {
    "AUTOMOBILE": "BUILDING",
    "BUILDING": "FURNITURE",
    "FURNITURE": "HOUSEHOLD",
    "HOUSEHOLD": "MACHINERY",
    "MACHINERY": "AUTOMOBILE",
}
_SCD2_ROT_SQL = (
    "CASE c_mktsegment "
    + " ".join(f"WHEN '{a}' THEN '{b}'" for a, b in _SCD2_ROT.items())
    + " END"
)


@register(
    "q322_streaming_scd2_enrichment",
    oracle=f"""
    WITH bounds AS (
      -- integer-microsecond midpoint: floor division in BOTH engines so
      -- boundary events classify identically
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid_us
      FROM events
    ),
    enriched AS (
      SELECT CASE WHEN epoch_us(e.ts) < b.mid_us THEN c.c_mktsegment
                  ELSE {_SCD2_ROT_SQL} END AS segment,
             e.value
      FROM events e
      JOIN customer c ON e.user_id = c.c_custkey
      CROSS JOIN bounds b
    )
    SELECT segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total_value
    FROM enriched
    GROUP BY segment
    ORDER BY segment
    """,
    category="streaming",
)
def q322_streaming_scd2_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.streaming import ops as sops

    # version boundary as integer epoch-micros, computed IN the plan (a
    # one-row crossJoin into the dimension): no build-time job, and empty
    # events give a NULL boundary instead of driver-side None arithmetic.
    # Cached, because the stream-static join re-evaluates the dimension on
    # every micro-batch: the first batch fills the cache, later batches
    # neither rescan events nor see the boundary move as the table grows.
    # Released once the run is drained. Never collect it as TimestampType:
    # collect() renders the host zone (r10 TZ=Asia/Kolkata sweep: +5:30 →
    # 5 segment totals off).
    bounds = (
        table(spark, sf_dir, "events")
        .agg(
            F.min(epoch_micros(F.col("ts"))).alias("t0"),
            F.max(epoch_micros(F.col("ts"))).alias("t1"),
        )
        .selectExpr("(t0 + t1) div 2 AS mid_us")
        .cache()
    )
    cust = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .crossJoin(bounds)
    )
    expr = None
    for a, b in _SCD2_ROT.items():
        c = F.when(F.col("c_mktsegment") == a, b)
        expr = c if expr is None else expr.when(F.col("c_mktsegment") == a, b)
    v1 = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(-(2**62)).alias("valid_from_us"),
        F.col("mid_us").alias("valid_to_us"),
    )
    v2 = cust.select(
        "c_custkey",
        expr.alias("segment"),
        F.col("mid_us").alias("valid_from_us"),
        F.lit(2**62).alias("valid_to_us"),
    )
    scd = v1.unionByName(v2)

    events = sops.with_flush_sentinel(
        sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    enriched = (
        events.withWatermark("ts", "30 minutes")
        .join(
            F.broadcast(scd),
            (F.col("user_id") == F.col("c_custkey"))
            & (epoch_micros(F.col("ts")) >= F.col("valid_from_us"))
            & (epoch_micros(F.col("ts")) < F.col("valid_to_us")),
        )
    )
    partials = enriched.groupBy(
        F.window("ts", "1 hour").alias("w"), "segment"
    ).agg(F.count("*").alias("n"), F.sum(cents).alias("cents"))
    name = f"q322_out_{next(_STREAM_RUN_SEQ)}"
    try:
        sops.run_to_memory(partials, name, output_mode="append")
    finally:
        bounds.unpersist()
    return (
        spark.table(name)
        .groupBy("segment")
        .agg(
            F.sum("n").alias("n_events"),
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("total_value"),
        )
        .orderBy("segment")
    )
