"""Data-audit operator family: Benford's-law screening, keyset pagination,
cross-table reconciliation, streak mining, boilerplate n-gram detection,
vocabulary-richness profiling, and SLA latency compliance.

Reference analogue: SURVEY.md §2.3 (Layer B data-quality / pipeline brief) —
the reference has no audit surface (`/root/reference/backend/tools.py:60-81`
is its whole analytic engine); these are the checks a production ingest of
the reference's star schema (`/root/reference/SCALING.md:24-32`) would run.

Determinism rules as everywhere in this repo: money sums in exact
decimal/fixed-point space, first digits extracted through integer/string
space (never via log10, whose floor can straddle a ULP), share metrics in
exact integer basis points, and final doubles floor-rounded via round_det
so Spark and the DuckDB oracle emit identical bits.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP as _ROUND_HALF_UP
from decimal import Decimal as _PyDecimal
from decimal import localcontext as _dec_localcontext

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_feature_demo_spark.catalog import table
from hive_feature_demo_spark.functions.numeric import (
    exact_sum_fixed,
    round_det,
    sql_exact_sum,
    sql_exact_sum_fixed,
    sql_hex_to_int,
    sql_round_det,
)
from hive_feature_demo_spark.scratch import scratch_dir
from hive_feature_demo_spark.plans.registry import register

_DEC = "decimal(25,10)"


# ---------------------------------------------------------------------------
# q260 — Benford first-digit audit of o_totalprice: observed first-digit
# distribution vs the Benford expectation log10(1 + 1/d). Fabricated or
# re-binned monetary columns drift from Benford; this is the standard
# one-pass forensic screen. The first digit is taken through integer ->
# string space (floor then substr), NOT floor(log10(x)) — on values a ULP
# below a power of ten the two engines' log10 could floor differently,
# while integer formatting is exact on both. Expected frequencies are
# 9 precomputed literals (broadcast), so the only wide op is one
# map-side-combinable groupBy over 9 keys; at 100 TB this is a scan plus
# a 9-row shuffle.
# ---------------------------------------------------------------------------

_BENFORD = [(d, math.floor(math.log10(1.0 + 1.0 / d) * 1e6 + 0.5) / 1e6) for d in range(1, 10)]
_BENFORD_VALUES = ", ".join(f"({d}, {e})" for d, e in _BENFORD)


@register(
    "q260_benford_audit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1.0
    ),
    obs AS (
      SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
    ),
    tot AS (SELECT SUM(n) AS total FROM obs)
    SELECT CAST(b.digit AS BIGINT) AS digit,
           COALESCE(o.n, 0) AS n,
           {sql_round_det("COALESCE(o.n, 0) / CAST(t.total AS DOUBLE)", 6)} AS observed,
           CAST(b.expected AS DOUBLE) AS expected,
           {sql_round_det("ABS(COALESCE(o.n, 0) / CAST(t.total AS DOUBLE) - b.expected)", 6)}
             AS abs_dev
    FROM (VALUES {_BENFORD_VALUES}) AS b(digit, expected)
    LEFT JOIN obs o ON o.digit = b.digit
    CROSS JOIN tot t
    ORDER BY b.digit
    """,
    category="stats",
)
def q260_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0)
    digits = o.select(
        F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count("*").alias("n"))
    total = obs.agg(F.sum("n").alias("total"))
    benford = spark.createDataFrame(_BENFORD, "digit long, expected double")
    return (
        benford.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            round_det(
                F.coalesce(F.col("n"), F.lit(0)) / F.col("total").cast("double"), 6
            ).alias("observed"),
            "expected",
            round_det(
                F.abs(
                    F.coalesce(F.col("n"), F.lit(0)) / F.col("total").cast("double")
                    - F.col("expected")
                ),
                6,
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# q261 — keyset pagination: fetch the 3rd 50-row page of orders in
# (o_orderdate, o_orderkey) order via a cursor predicate, not OFFSET.
# OFFSET-based paging sorts and discards `offset` rows from every
# partition on every page; keyset paging turns the page boundary into a
# pushable tuple predicate `(date, key) > (cursor_date, cursor_key)`, so
# parquet min/max row-group stats skip everything before the cursor and
# cost stays O(page) regardless of page number — the only paging pattern
# that survives a 100 TB fact. The cursor row (rank 100) is resolved
# first and collected to the driver (one row, bounded).
# ---------------------------------------------------------------------------


@register(
    "q261_keyset_pagination",
    oracle="""
    WITH cursor_row AS (
      SELECT o_orderdate AS cd, o_orderkey AS ck
      FROM orders
      ORDER BY o_orderdate, o_orderkey
      LIMIT 1 OFFSET 99
    )
    SELECT o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
           o.o_custkey, o.o_totalprice
    FROM orders o, cursor_row c
    WHERE o.o_orderdate > c.cd
       OR (o.o_orderdate = c.cd AND o.o_orderkey > c.ck)
    ORDER BY o.o_orderdate, o.o_orderkey
    LIMIT 50
    """,
    category="relational",
)
def q261_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cursor = (
        o.orderBy("o_orderdate", "o_orderkey")
        .select("o_orderdate", "o_orderkey")
        .limit(100)
        .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(1)
        .collect()[0]
    )
    cd, ck = cursor["o_orderdate"], cursor["o_orderkey"]
    page = o.filter(
        (F.col("o_orderdate") > F.lit(cd))
        | ((F.col("o_orderdate") == F.lit(cd)) & (F.col("o_orderkey") > F.lit(ck)))
    )
    # date_format, not the raw TimestampType column: PySpark's collect()
    # renders TimestampType in the PYTHON PROCESS's local zone
    # (datetime.fromtimestamp), so a raw timestamp output hash-matches the
    # naive DuckDB rendering only on a UTC host — found by the r10
    # TZ=Asia/Kolkata sweep (+5:30 on every row). Formatting engine-side
    # under the pinned UTC session zone is host-TZ-invariant.
    return (
        page.orderBy("o_orderdate", "o_orderkey")
        .limit(50)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
            "o_custkey",
            "o_totalprice",
        )
    )


# ---------------------------------------------------------------------------
# q262 — reconciliation diff: orders.o_totalprice vs the gross amount
# reconstructed from lineitem (sum of extendedprice, pre-discount), the
# standard two-system ledger tie-out. A FULL OUTER join on the order key
# classifies every key into match / amount_mismatch / missing_lineitems /
# orphan_lineitems and reports per-class counts plus the absolute delta,
# accumulated in exact decimal space. One co-partitioned shuffle on the
# join key; the per-order pre-aggregation is map-side combinable, so the
# join sees one row per order on each side at any scale.
# ---------------------------------------------------------------------------


@register(
    "q262_reconciliation_diff",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice AS DECIMAL(25,10))) AS li_gross
      FROM lineitem GROUP BY l_orderkey
    ),
    classified AS (
      SELECT CASE
               WHEN li.l_orderkey IS NULL THEN 'missing_lineitems'
               WHEN o.o_orderkey IS NULL THEN 'orphan_lineitems'
               WHEN CAST(o.o_totalprice AS DECIMAL(25,10)) = li.li_gross THEN 'match'
               ELSE 'amount_mismatch'
             END AS status,
             ABS(COALESCE(CAST(o.o_totalprice AS DECIMAL(25,10)), 0)
                 - COALESCE(li.li_gross, 0)) AS abs_delta
      FROM orders o FULL OUTER JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT status, COUNT(*) AS n,
           {sql_round_det("CAST(SUM(abs_delta) AS DOUBLE)", 2)} AS total_abs_delta
    FROM classified GROUP BY status ORDER BY status
    """,
    category="relational",
)
def q262_reconciliation_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_extendedprice").cast(_DEC)).alias("li_gross"))
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "full_outer")
    classified = j.select(
        F.when(F.col("l_orderkey").isNull(), "missing_lineitems")
        .when(F.col("o_orderkey").isNull(), "orphan_lineitems")
        .when(F.col("o_totalprice").cast(_DEC) == F.col("li_gross"), "match")
        .otherwise("amount_mismatch")
        .alias("status"),
        F.abs(
            F.coalesce(F.col("o_totalprice").cast(_DEC), F.lit(0).cast(_DEC))
            - F.coalesce(F.col("li_gross"), F.lit(0).cast(_DEC))
        ).alias("abs_delta"),
    )
    return (
        classified.groupBy("status")
        .agg(round_det(F.sum("abs_delta").cast("double"), 2).alias("total_abs_delta"), F.count("*").alias("n"))
        .select("status", "n", "total_abs_delta")
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# q263 — longest same-event-type streak per user: classic gaps-and-islands
# via the rn_overall - rn_per_type difference trick (two windows, both
# partitioned on user_id, fully tie-broken by (ts, event_id)), then one
# grouped count per island and a deterministic top-1 per user (longest,
# earliest start, then event_type). Everything shuffles once on user_id;
# island count per user is bounded by that user's event count, never by
# corpus size.
# ---------------------------------------------------------------------------


@register(
    "q263_event_streaks",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS island
      FROM events
    ),
    streaks AS (
      SELECT user_id, event_type, island,
             COUNT(*) AS streak_len, MIN(ts) AS started
      FROM marked GROUP BY user_id, event_type, island
    ),
    best AS (
      SELECT user_id, event_type, streak_len, started,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY streak_len DESC, started, event_type) AS rn
      FROM streaks
    )
    SELECT user_id, event_type, streak_len,
           strftime(started, '%Y-%m-%d %H:%M:%S.%f') AS started
    FROM best WHERE rn = 1 ORDER BY user_id
    """,
    category="stats",
)
def q263_event_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    marked = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("island"),
    )
    streaks = marked.groupBy("user_id", "event_type", "island").agg(
        F.count("*").alias("streak_len"), F.min("ts").alias("started")
    )
    w_best = Window.partitionBy("user_id").orderBy(
        F.desc("streak_len"), "started", "event_type"
    )
    # date_format (µs precision, both sides): raw TimestampType output is
    # rendered by collect() in the Python process's LOCAL zone — host-TZ
    # sweep finding, same class as q261.
    return (
        streaks.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "streak_len",
            F.date_format("started", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("started"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q264 — boilerplate detection: word 8-grams that repeat across many
# documents. Within-document repetition is q156's (Gopher) axis; this is
# the cross-corpus axis — template headers/footers repeated across docs,
# counted by DISTINCT containing doc so one spammy doc can't promote its
# own n-gram; any 8-gram shared by >= 2 distinct docs is flagged (long
# verbatim spans are near-certain boilerplate). The shingle explode is
# the only data-expansion (factor ~ tokens/doc); counting shuffles
# (ngram -> distinct doc) exactly like the MinHash shingle index. At
# 100 TB the distinct-doc count per n-gram is the standard two-level agg
# (ngram,doc) -> ngram, both map-side combinable.
# ---------------------------------------------------------------------------


@register(
    "q264_boilerplate_ngrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    shingles AS (
      SELECT doc_id,
             array_to_string(t[i:i+7], ' ') AS ngram
      FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)
      WHERE len(t) >= 8
    ),
    per_doc AS (
      SELECT DISTINCT doc_id, ngram FROM shingles
    ),
    counted AS (
      SELECT ngram, COUNT(*) AS n_docs FROM per_doc GROUP BY ngram
    )
    SELECT ngram, n_docs FROM counted
    WHERE n_docs >= 2
    ORDER BY n_docs DESC, ngram
    """,
    category="textstats",
)
def q264_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0)).alias("t"),
    ).filter(F.size("t") >= 8)
    shingles = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 8),
                lambda i: F.concat_ws(" ", F.slice("t", i + 1, 8)),
            )
        ).alias("ngram"),
    )
    per_doc = shingles.dropDuplicates(["doc_id", "ngram"])
    counted = per_doc.groupBy("ngram").agg(F.count("*").alias("n_docs"))
    return counted.filter(F.col("n_docs") >= 2).orderBy(F.desc("n_docs"), "ngram")


# ---------------------------------------------------------------------------
# q265 — vocabulary-richness profile per source: token volume, distinct
# vocabulary, hapax legomena (terms seen exactly once in that source),
# type-token ratio and hapax share. Template-generated text shows low
# TTR / low hapax share; the cheap lexical-health probe next to q231's
# Zipf slope. Two-level agg (source,term) -> source; shares in exact
# integer basis points so both engines emit identical bits.
# ---------------------------------------------------------------------------


@register(
    "q265_vocab_richness",
    oracle="""
    WITH terms AS (
      SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT source, term, COUNT(*) AS freq FROM terms GROUP BY source, term
    )
    SELECT source,
           SUM(freq) AS n_tokens,
           COUNT(*) AS n_types,
           SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS n_hapax,
           CAST(FLOOR(10000.0 * COUNT(*) / SUM(freq)) AS BIGINT) AS ttr_bps,
           CAST(FLOOR(10000.0 * SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END)
                      / COUNT(*)) AS BIGINT) AS hapax_bps
    FROM tf GROUP BY source ORDER BY source
    """,
    category="textstats",
)
def q265_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    terms = d.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("term"),
    )
    tf = terms.groupBy("source", "term").agg(F.count("*").alias("freq"))
    return (
        tf.groupBy("source")
        .agg(
            F.sum("freq").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(F.when(F.col("freq") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.floor(10000.0 * F.col("n_types") / F.col("n_tokens"))
            .cast("long")
            .alias("ttr_bps"),
            F.floor(10000.0 * F.col("n_hapax") / F.col("n_types"))
            .cast("long")
            .alias("hapax_bps"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q266 — SLA ship-latency compliance per order priority: share of
# lineitems shipped within 7 / 30 days of order placement, plus the mean
# latency, from one co-partitioned orders<->lineitem join. Shares are
# exact integer basis points (floor(10000*hits/total)); the mean is an
# exact long-days sum over a count. The join shuffles once on the order
# key; everything after is a 5-key map-side-combinable agg.
# ---------------------------------------------------------------------------


@register(
    "q266_sla_ship_latency",
    oracle=f"""
    WITH lat AS (
      SELECT o.o_orderpriority,
             DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS days
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(FLOOR(10000.0 * SUM(CASE WHEN days <= 7 THEN 1 ELSE 0 END)
                      / COUNT(*)) AS BIGINT) AS within_7d_bps,
           CAST(FLOOR(10000.0 * SUM(CASE WHEN days <= 30 THEN 1 ELSE 0 END)
                      / COUNT(*)) AS BIGINT) AS within_30d_bps,
           {sql_round_det("SUM(days) / CAST(COUNT(*) AS DOUBLE)", 4)} AS mean_days
    FROM lat GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    category="relational",
)
def q266_sla_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_orderdate").cast("date").alias("od")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    lat = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderpriority", F.datediff("sd", "od").alias("days")
    )
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.when(F.col("days") <= 7, 1).otherwise(0)).alias("w7"),
            F.sum(F.when(F.col("days") <= 30, 1).otherwise(0)).alias("w30"),
            F.sum("days").alias("sum_days"),
        )
        .select(
            "o_orderpriority",
            "n_items",
            F.floor(10000.0 * F.col("w7") / F.col("n_items"))
            .cast("long")
            .alias("within_7d_bps"),
            F.floor(10000.0 * F.col("w30") / F.col("n_items"))
            .cast("long")
            .alias("within_30d_bps"),
            round_det(F.col("sum_days") / F.col("n_items").cast("double"), 4).alias(
                "mean_days"
            ),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q267 — RAG text chunking with overlap: fixed 200-char windows at stride
# 150 (50-char overlap) over documents.text, emitting per-chunk offsets,
# lengths, and md5 fingerprints — the retrieval-indexing layer's chunker
# (q235 is the binary/multipart analogue; this is the text one). Pure
# scan -> sequence/posexplode -> project: zero shuffles, explode factor
# len/150 bounded per row, and the chunk text itself never leaves the
# projection (only its digest), so output width is constant at any scale.
# ---------------------------------------------------------------------------


@register(
    "q267_text_chunking",
    oracle="""
    SELECT doc_id,
           CAST((u.i - 1) // 150 AS BIGINT) AS chunk_idx,
           CAST(u.i AS BIGINT) AS start_pos,
           CAST(LENGTH(SUBSTR(text, CAST(u.i AS INTEGER), 200)) AS BIGINT)
             AS chunk_len,
           MD5(SUBSTR(text, CAST(u.i AS INTEGER), 200)) AS chunk_md5
    FROM documents,
         UNNEST(range(1, GREATEST(LENGTH(text), 1) + 1, 150)) AS u(i)
    ORDER BY doc_id, chunk_idx
    """,
    category="textstats",
)
def q267_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    starts = F.sequence(F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(150))
    exploded = d.select("doc_id", "text", F.posexplode(starts).alias("idx", "start"))
    chunk = F.substring(F.col("text"), F.col("start"), 200)
    return (
        exploded.select(
            "doc_id",
            F.col("idx").cast("long").alias("chunk_idx"),
            F.col("start").cast("long").alias("start_pos"),
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk.cast("binary")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ---------------------------------------------------------------------------
# q268 — label separability matrix: cosine between every pair of label
# centroids. q237 monitors each label against the global centroid; this
# is the pairwise companion — two labels whose centroids sit at
# cosine >= 0.95 are candidates for merging (or evidence of label noise).
# One (label, dim)-keyed pass over the fact builds the centroid table
# (|labels| x 64 rows, checkpointed); the pair join runs entirely on that
# tiny table, so cost is |labels|^2 x dims regardless of corpus size.
# 64-term dot products accumulate in exact decimal space.
# ---------------------------------------------------------------------------


@register(
    "q268_label_separability",
    oracle=f"""
    WITH d AS (
      SELECT label, g.i AS dim, embedding[g.i]::DOUBLE AS v
      FROM embeddings, generate_series(1, 64) g(i)
    ),
    cl AS (
      SELECT label, dim,
             CAST(SUM(CAST(v AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS c
      FROM d GROUP BY label, dim
    ),
    nrm AS (
      SELECT label, {sql_exact_sum("c * c")} AS cc FROM cl GROUP BY label
    ),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             {sql_exact_sum("a.c * b.c")} AS dot
      FROM cl a JOIN cl b ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT p.label_a, p.label_b,
           {sql_round_det("p.dot / (sqrt(na.cc) * sqrt(nb.cc))", 6)} AS cos_ab,
           (p.dot / (sqrt(na.cc) * sqrt(nb.cc)) >= 0.95) AS merge_candidate
    FROM pairs p
    JOIN nrm na ON na.label = p.label_a
    JOIN nrm nb ON nb.label = p.label_b
    ORDER BY p.label_a, p.label_b
    """,
    category="ann",
)
def q268_label_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    d = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    ).select("label", (F.col("pos") + 1).alias("dim"), "v")
    cl = (
        d.groupBy("label", "dim")
        .agg((F.sum(F.col("v").cast(_DEC)).cast("double") / F.count("*")).alias("c"))
        .localCheckpoint(eager=True)
    )
    nrm = cl.groupBy("label").agg(
        F.sum((F.col("c") * F.col("c")).cast(_DEC)).cast("double").alias("cc")
    )
    a = cl.select(
        F.col("label").alias("label_a"), "dim", F.col("c").alias("ca")
    )
    b = cl.select(
        F.col("label").alias("label_b"), "dim", F.col("c").alias("cb")
    )
    pairs = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum((F.col("ca") * F.col("cb")).cast(_DEC)).cast("double").alias("dot"))
    )
    na = nrm.select(F.col("label").alias("label_a"), F.col("cc").alias("cca"))
    nb = nrm.select(F.col("label").alias("label_b"), F.col("cc").alias("ccb"))
    cos = F.col("dot") / (F.sqrt("cca") * F.sqrt("ccb"))
    return (
        pairs.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            round_det(cos, 6).alias("cos_ab"),
            (cos >= 0.95).alias("merge_candidate"),
        )
        .orderBy("label_a", "label_b")
    )


# ---------------------------------------------------------------------------
# q269 — session bounce-rate by entry event type: sessions from q42's
# 30-minute gaps-and-islands, each reduced to (entry type, exit type,
# event count); a bounce is a single-event session. Grouping by the entry
# type answers "which landing action fails to retain" — the web-analytics
# staple re-expressed on the events stream. Shuffle profile: one
# user_id-partitioned window pass + one 5-key agg; shares in exact
# integer basis points.
# ---------------------------------------------------------------------------


@register(
    "q269_session_bounce_rate",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR CAST(ts AS TIMESTAMP) - CAST(LAG(ts) OVER w AS TIMESTAMP)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_seq
      FROM marked
    ),
    ranked AS (
      SELECT user_id, session_seq, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id, session_seq) AS n_events
      FROM sess
    ),
    sessions AS (
      SELECT user_id, session_seq, event_type AS entry_type, n_events
      FROM ranked WHERE rn = 1
    )
    SELECT entry_type,
           COUNT(*) AS n_sessions,
           SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS n_bounces,
           CAST(FLOOR(10000.0 * SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                      / COUNT(*)) AS BIGINT) AS bounce_bps
    FROM sessions GROUP BY entry_type ORDER BY entry_type
    """,
    category="streaming",
)
def q269_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.functions.temporal import epoch_micros

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
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
    sess = marked.withColumn("session_seq", F.sum("is_new").over(run))
    w_s = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    ranked = sess.select(
        "user_id",
        "session_seq",
        "event_type",
        F.row_number().over(w_s).alias("rn"),
        F.count("*").over(Window.partitionBy("user_id", "session_seq")).alias(
            "n_events"
        ),
    )
    sessions = ranked.filter(F.col("rn") == 1).select(
        F.col("event_type").alias("entry_type"), "n_events"
    )
    return (
        sessions.groupBy("entry_type")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("n_bounces"),
        )
        .select(
            "entry_type",
            "n_sessions",
            "n_bounces",
            F.floor(10000.0 * F.col("n_bounces") / F.col("n_sessions"))
            .cast("long")
            .alias("bounce_bps"),
        )
        .orderBy("entry_type")
    )


# ---------------------------------------------------------------------------
# q270 — supplier revenue concentration per nation (Herfindahl-Hirschman
# index): squared revenue shares summed per nation, plus the top
# supplier's share. q227's Gini measures customer inequality globally;
# HHI is the antitrust-style per-market concentration screen. Revenue
# aggregates per (nation, supplier) in exact decimal; shares divide two
# exact doubles; the HHI sum re-accumulates the squared shares in decimal
# so nothing depends on supplier order. Joins broadcast the supplier dim.
# ---------------------------------------------------------------------------


@register(
    "q270_supplier_hhi",
    oracle=f"""
    WITH rev AS (
      SELECT s.s_nationkey, l.l_suppkey,
             CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(25,10))) AS DOUBLE) AS r
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    ),
    tot AS (
      SELECT s_nationkey, {sql_exact_sum("r")} AS t, COUNT(*) AS n_suppliers
      FROM rev GROUP BY s_nationkey
    )
    SELECT rev.s_nationkey,
           MAX(tot.n_suppliers) AS n_suppliers,
           {sql_round_det("CAST(SUM(CAST((rev.r / tot.t) * (rev.r / tot.t) AS DECIMAL(25,10))) AS DOUBLE)", 6)}
             AS hhi,
           CAST(FLOOR(10000.0 * MAX(rev.r / tot.t)) AS BIGINT) AS top_share_bps
    FROM rev JOIN tot ON rev.s_nationkey = tot.s_nationkey
    GROUP BY rev.s_nationkey
    ORDER BY rev.s_nationkey
    """,
    category="stats",
)
def q270_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("amount"),
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(F.col("amount").cast(_DEC)).cast("double").alias("r"))
    )
    tot = rev.groupBy("s_nationkey").agg(
        F.sum(F.col("r").cast(_DEC)).cast("double").alias("t"),
        F.count("*").alias("n_suppliers"),
    )
    share = F.col("r") / F.col("t")
    return (
        rev.join(F.broadcast(tot), "s_nationkey")
        .groupBy("s_nationkey")
        .agg(
            F.max("n_suppliers").alias("n_suppliers"),
            round_det(F.sum((share * share).cast(_DEC)).cast("double"), 6).alias(
                "hhi"
            ),
            F.floor(10000.0 * F.max(share)).cast("long").alias("top_share_bps"),
        )
        .orderBy("s_nationkey")
    )


# ---------------------------------------------------------------------------
# q271 — ABC (Pareto) customer classification: customers ranked by
# revenue; the prefix covering <= 80% of total revenue is class A, up to
# 95% class B, the tail C. The inventory-management staple. The global
# prefix sum over revenue-ranked customers uses the distributed
# global_cumsum operator (value-grid cells + per-cell offsets, <= 1024
# scalars through the driver) — NO single-partition window over the
# customer table, so the plan holds when customers number in the
# billions. Revenue is exact integer cents throughout; class boundaries
# in integer basis points.
# ---------------------------------------------------------------------------


@register(
    "q271_abc_classification",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_incl,
             SUM(cents) OVER () AS total
      FROM cust
    ),
    classed AS (
      SELECT o_custkey, cents, total,
             CASE WHEN FLOOR(10000.0 * (CAST(cum_incl AS DOUBLE)
                                        / CAST(total AS DOUBLE))) <= 8000 THEN 'A'
                  WHEN FLOOR(10000.0 * (CAST(cum_incl AS DOUBLE)
                                        / CAST(total AS DOUBLE))) <= 9500 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM ranked
    )
    SELECT abc_class,
           COUNT(*) AS n_customers,
           CAST(FLOOR(10000.0 * (CAST(SUM(cents) AS DOUBLE)
                                 / CAST(MAX(total) AS DOUBLE))) AS BIGINT)
             AS revenue_bps,
           {sql_round_det("CAST(SUM(cents) AS DOUBLE) / 100", 2)} AS revenue
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
    category="relational",
)
def q271_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.operators.relational_ext import global_cumsum

    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias("cents")
    )
    with_neg = cust.withColumn("neg_cents", -F.col("cents"))
    cum = global_cumsum(
        with_neg, ["neg_cents", "o_custkey"], "cents", out_col="cum_before"
    )
    total_df = cust.agg(F.sum("cents").alias("total"))
    classed = cum.crossJoin(F.broadcast(total_df)).select(
        "o_custkey",
        "cents",
        "total",
        F.when(
            F.floor(
                10000.0
                * (
                    (F.col("cum_before") + F.col("cents")).cast("double")
                    / F.col("total").cast("double")
                )
            )
            <= 8000,
            "A",
        )
        .when(
            F.floor(
                10000.0
                * (
                    (F.col("cum_before") + F.col("cents")).cast("double")
                    / F.col("total").cast("double")
                )
            )
            <= 9500,
            "B",
        )
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_customers"),
            F.floor(
                10000.0
                * (F.sum("cents").cast("double") / F.max("total").cast("double"))
            )
            .cast("long")
            .alias("revenue_bps"),
            round_det(F.sum("cents").cast("double") / 100, 2).alias("revenue"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# q272 — unigram-LM perplexity quality filter (CCNet-style): score each
# document by its unigram cross-entropy under the corpus language model
# (-mean log2 p(term)), then profile per source: mean CE and the share
# of docs scoring above the corpus mean (templated/low-entropy sources
# sit below, noisy sources above). The term-keyed join of token
# instances to the frequency table is the one wide op — the same
# shuffle profile as TF-IDF (q64). Per-doc log sums accumulate in
# exact decimal space over deterministic doubles; log2 via an ln(2)
# literal so both engines divide by the identical constant.
# ---------------------------------------------------------------------------

_LN2 = "0.6931471805599453"


@register(
    "q272_unigram_perplexity",
    oracle=f"""
    WITH inst AS (
      SELECT doc_id, source,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT term, COUNT(*) AS freq FROM inst GROUP BY term),
    tot AS (SELECT SUM(freq) AS total FROM tf),
    scored AS (
      SELECT i.doc_id, i.source,
             ln(tf.freq / CAST(t.total AS DOUBLE)) AS lnp
      FROM inst i JOIN tf ON i.term = tf.term CROSS JOIN tot t
    ),
    per_doc AS (
      SELECT doc_id, source,
             {sql_round_det(f"-({sql_exact_sum('lnp')}) / COUNT(*) / {_LN2}", 8)}
               AS ce
      FROM scored GROUP BY doc_id, source
    ),
    corpus AS (
      SELECT {sql_exact_sum("ce")} / COUNT(*) AS mean_ce_all FROM per_doc
    )
    SELECT p.source,
           COUNT(*) AS n_docs,
           {sql_round_det(f"{sql_exact_sum('p.ce')} / COUNT(*)", 6)} AS mean_ce,
           CAST(FLOOR(10000.0 * SUM(CASE WHEN p.ce > c.mean_ce_all THEN 1 ELSE 0 END)
                      / COUNT(*)) AS BIGINT) AS above_corpus_mean_bps
    FROM per_doc p CROSS JOIN corpus c
    GROUP BY p.source ORDER BY p.source
    """,
    category="textstats",
)
def q272_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    inst = d.select(
        "doc_id",
        "source",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("term"),
    )
    tf = inst.groupBy("term").agg(F.count("*").alias("freq"))
    total = tf.agg(F.sum("freq").alias("total"))
    scored = (
        inst.join(tf, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "source",
            F.log(F.col("freq") / F.col("total").cast("double")).alias("lnp"),
        )
    )
    ln2 = float(_LN2)
    per_doc = scored.groupBy("doc_id", "source").agg(
        round_det(
            -(F.sum(F.col("lnp").cast(_DEC)).cast("double")) / F.count("*") / ln2, 8
        ).alias("ce")
    )
    corpus = per_doc.agg(
        (F.sum(F.col("ce").cast(_DEC)).cast("double") / F.count("*")).alias(
            "mean_ce_all"
        )
    )
    return (
        per_doc.crossJoin(F.broadcast(corpus))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            round_det(
                F.sum(F.col("ce").cast(_DEC)).cast("double") / F.count("*"), 6
            ).alias("mean_ce"),
            F.floor(
                10000.0
                * F.sum(F.when(F.col("ce") > F.col("mean_ce_all"), 1).otherwise(0))
                / F.count("*")
            )
            .cast("long")
            .alias("above_corpus_mean_bps"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q273 — embedding outliers by diagonal Mahalanobis distance: per-dim
# mean/variance from one exact-decimal pass, then each vector's
# sum((v - mu)^2 / var) — the covariance-scaled generalization of q105's
# z-scores to vector space, and the standard cheap screen for corrupt or
# out-of-distribution embeddings before ANN indexing. Dim stats
# (64 rows) broadcast back into the explode; per-vector sums accumulate
# in decimal; the top-20 ranking orders on the ROUNDED distance with a
# vec_id tiebreak so both engines cut the same boundary.
# ---------------------------------------------------------------------------


@register(
    "q273_mahalanobis_outliers",
    oracle=f"""
    WITH d AS (
      SELECT vec_id, label, g.i AS dim, embedding[g.i]::DOUBLE AS v
      FROM embeddings, generate_series(1, 64) g(i)
    ),
    st AS (
      SELECT dim,
             CAST(SUM(CAST(v AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS mu,
             CAST(SUM(CAST(v * v AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS ex2,
             COUNT(*) AS n
      FROM d GROUP BY dim
    ),
    stv AS (
      SELECT dim, mu,
             CASE WHEN ex2 - mu * mu > 0 THEN ex2 - mu * mu ELSE 1.0 END AS var
      FROM st
    ),
    dist AS (
      SELECT d.vec_id, MAX(d.label) AS label,
             {sql_round_det(sql_exact_sum("((d.v - s.mu) * (d.v - s.mu)) / s.var"), 6)}
               AS m_dist2
      FROM d JOIN stv s ON d.dim = s.dim
      GROUP BY d.vec_id
    )
    SELECT vec_id, label, m_dist2
    FROM dist ORDER BY m_dist2 DESC, vec_id LIMIT 20
    """,
    category="ann",
)
def q273_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    ).select("vec_id", "label", (F.col("pos") + 1).alias("dim"), "v")
    st = d.groupBy("dim").agg(
        (F.sum(F.col("v").cast(_DEC)).cast("double") / F.count("*")).alias("mu"),
        (F.sum((F.col("v") * F.col("v")).cast(_DEC)).cast("double") / F.count("*")).alias(
            "ex2"
        ),
    )
    stv = st.select(
        "dim",
        "mu",
        F.when(
            F.col("ex2") - F.col("mu") * F.col("mu") > 0,
            F.col("ex2") - F.col("mu") * F.col("mu"),
        )
        .otherwise(1.0)
        .alias("var"),
    )
    contrib = ((F.col("v") - F.col("mu")) * (F.col("v") - F.col("mu"))) / F.col("var")
    dist = (
        d.join(F.broadcast(stv), "dim")
        .groupBy("vec_id")
        .agg(
            F.max("label").alias("label"),
            round_det(F.sum(contrib.cast(_DEC)).cast("double"), 6).alias("m_dist2"),
        )
    )
    return dist.select("vec_id", "label", "m_dist2").orderBy(
        F.desc("m_dist2"), "vec_id"
    ).limit(20)


# ---------------------------------------------------------------------------
# q274 — bounded-round BFS hop distances from the smallest user in the
# session-overlap graph (q160's edge definition, shared with the
# CC/PageRank/k-core family): three rounds of frontier relaxation
# dist(v) = min(dist(v), min_nbr dist(u) + 1). Each round is one
# edge-keyed join + one min-agg over a checkpointed edge list — the
# fixed-round pattern this repo uses for every iterative graph op
# (engine-exact, no data-dependent iteration). The oracle unrolls the
# same three rounds as CTEs.
# ---------------------------------------------------------------------------


def _q274_oracle() -> str:
    from hive_feature_demo_spark.plans.advanced_ops import _SESS_SQL

    return f"""
    {_SESS_SQL},
    und AS MATERIALIZED (
      SELECT ua AS s, ub AS d FROM pairs
      UNION ALL SELECT ub, ua FROM pairs
    ),
    seed AS (SELECT MIN(ua) AS v FROM pairs),
    r0 AS (SELECT v, 0 AS hop FROM seed),
    f1 AS (SELECT u.d AS v, 1 AS hop FROM und u JOIN r0 ON u.s = r0.v),
    r1 AS MATERIALIZED (SELECT v, MIN(hop) AS hop
           FROM (SELECT * FROM r0 UNION ALL SELECT * FROM f1) GROUP BY v),
    f2 AS (SELECT u.d AS v, r1.hop + 1 AS hop FROM und u JOIN r1 ON u.s = r1.v),
    r2 AS MATERIALIZED (SELECT v, MIN(hop) AS hop
           FROM (SELECT * FROM r1 UNION ALL SELECT * FROM f2) GROUP BY v),
    f3 AS (SELECT u.d AS v, r2.hop + 1 AS hop FROM und u JOIN r2 ON u.s = r2.v),
    r3 AS (SELECT v, MIN(hop) AS hop
           FROM (SELECT * FROM r2 UNION ALL SELECT * FROM f3) GROUP BY v)
    SELECT v AS user_id, CAST(hop AS BIGINT) AS hops
    FROM r3 ORDER BY user_id
    """


@register("q274_bfs_hops", oracle=_q274_oracle(), category="relational")
def q274_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.plans.advanced_ops import _overlap_edges

    pairs = _overlap_edges(spark, sf_dir)
    und = (
        pairs.select(F.col("ua").alias("s"), F.col("ub").alias("d"))
        .unionAll(pairs.select(F.col("ub").alias("s"), F.col("ua").alias("d")))
        .localCheckpoint(eager=True)
    )
    seed = pairs.agg(F.min("ua").alias("v")).withColumn("hop", F.lit(0))
    reached = seed.select("v", "hop")
    for _ in range(3):
        expanded = (
            und.join(reached.withColumnRenamed("v", "s"), "s")
            .select(F.col("d").alias("v"), (F.col("hop") + 1).alias("hop"))
        )
        reached = (
            reached.unionAll(expanded)
            .groupBy("v")
            .agg(F.min("hop").alias("hop"))
            .localCheckpoint(eager=True)
        )
    return reached.select(
        F.col("v").alias("user_id"), F.col("hop").cast("long").alias("hops")
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# q275 — order denormalization: collapse each order's lineitems into ONE
# wide row (count, exact gross, and a sorted packed item list) — the
# nested-document materialization that feeds document stores / feature
# stores from a star schema. collect_list is unordered across partitions,
# so the packed item strings are array_sort-ed before joining (the repo's
# standard determinism rule for collected lists); amounts ride as integer
# cents inside the strings so both engines print identical bytes. One
# map-side-combinable groupBy on the order key + one co-partitioned join.
# ---------------------------------------------------------------------------


@register(
    "q275_order_denormalization",
    oracle=f"""
    WITH packed AS (
      SELECT l_orderkey,
             COUNT(*) AS n_items,
             SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS gross_cents,
             array_to_string(list_sort(list(
               CAST(l_linenumber AS VARCHAR) || ':' ||
               CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS VARCHAR) || ':' ||
               CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS VARCHAR)
             )), '|') AS items
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderkey, o.o_orderstatus, p.n_items,
           {sql_round_det("CAST(p.gross_cents AS DOUBLE) / 100", 2)} AS gross,
           p.items
    FROM orders o JOIN packed p ON o.o_orderkey = p.l_orderkey
    ORDER BY o.o_orderkey
    """,
    category="relational",
)
def q275_order_denormalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    cents = lambda c: F.floor(F.col(c) * 100 + 0.5).cast("long")  # noqa: E731
    item = F.concat_ws(
        ":",
        F.col("l_linenumber").cast("string"),
        cents("l_quantity").cast("string"),
        cents("l_extendedprice").cast("string"),
    )
    packed = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_items"),
        F.sum(cents("l_extendedprice")).alias("gross_cents"),
        F.concat_ws("|", F.array_sort(F.collect_list(item))).alias("items"),
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    return (
        o.join(packed, o.o_orderkey == packed.l_orderkey)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "n_items",
            round_det(F.col("gross_cents").cast("double") / 100, 2).alias("gross"),
            "items",
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# q276 — rolling 7-day active users (WAU) per day, with same-day DAU and
# the stickiness ratio DAU/WAU in basis points. The scale-safe
# formulation maps each distinct (day, user) pair to the <= 7 future days
# it keeps alive (a bounded explode) and counts distinct users per target
# day — an equi-keyed shuffle, NOT a range self-join; the oracle uses the
# naive BETWEEN join, which is fine at oracle scale and provably
# equivalent. Target days are clipped to days that actually occur.
# ---------------------------------------------------------------------------


@register(
    "q276_rolling_active_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    spine AS (SELECT DISTINCT day FROM du),
    wau AS (
      SELECT s.day, COUNT(DISTINCT du.user_id) AS wau
      FROM spine s JOIN du
        ON du.day BETWEEN s.day - 6 AND s.day
      GROUP BY s.day
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day)
    SELECT w.day, d.dau, w.wau,
           CAST(FLOOR(10000.0 * d.dau / w.wau) AS BIGINT) AS stickiness_bps
    FROM wau w JOIN dau d ON w.day = d.day
    ORDER BY w.day
    """,
    category="stats",
)
def q276_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    du = e.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    spine = du.select("day").distinct()
    contrib = du.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias(
            "target_day"
        ),
        "user_id",
    )
    wau = (
        contrib.join(
            F.broadcast(spine).withColumnRenamed("day", "target_day"),
            "target_day",
            "left_semi",
        )
        .groupBy("target_day")
        .agg(F.countDistinct("user_id").alias("wau"))
        .withColumnRenamed("target_day", "day")
    )
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    return (
        wau.join(dau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.floor(10000.0 * F.col("dau") / F.col("wau")).cast("long").alias(
                "stickiness_bps"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q277 — session handoff matrix: how users RE-ENTER — the last event type
# of one session vs the first event type of the user's next session,
# counted across all consecutive session pairs. q205's Markov matrix is
# the within-stream transition; this is the across-the-gap companion
# (what users come back to do). Sessions from q42's 30-minute islands;
# one user-partitioned window pass to order sessions, one lag, one
# bounded-key agg; shares in exact basis points of each exit row.
# ---------------------------------------------------------------------------


@register(
    "q277_session_handoff_matrix",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR CAST(ts AS TIMESTAMP) - CAST(LAG(ts) OVER w AS TIMESTAMP)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_seq
      FROM marked
    ),
    ranked AS (
      SELECT user_id, session_seq, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM sess
    ),
    sessions AS (
      SELECT user_id, session_seq,
             MAX(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
             MAX(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type
      FROM ranked GROUP BY user_id, session_seq
    ),
    handoffs AS (
      SELECT LAG(exit_type) OVER (PARTITION BY user_id ORDER BY session_seq)
               AS prev_exit,
             entry_type AS next_entry
      FROM sessions
    ),
    counted AS (
      SELECT prev_exit, next_entry, COUNT(*) AS n
      FROM handoffs WHERE prev_exit IS NOT NULL
      GROUP BY prev_exit, next_entry
    )
    SELECT prev_exit, next_entry, n,
           CAST(FLOOR(10000.0 * n / SUM(n) OVER (PARTITION BY prev_exit))
                AS BIGINT) AS row_share_bps
    FROM counted
    ORDER BY prev_exit, next_entry
    """,
    category="stats",
)
def q277_session_handoff_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.functions.temporal import epoch_micros

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
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
    sess = marked.withColumn("session_seq", F.sum("is_new").over(run))
    w_a = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    w_d = Window.partitionBy("user_id", "session_seq").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = sess.select(
        "user_id",
        "session_seq",
        "event_type",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    sessions = ranked.groupBy("user_id", "session_seq").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("event_type"))).alias("entry_type"),
        F.max(F.when(F.col("rn_d") == 1, F.col("event_type"))).alias("exit_type"),
    )
    w_sess = Window.partitionBy("user_id").orderBy("session_seq")
    handoffs = sessions.select(
        F.lag("exit_type").over(w_sess).alias("prev_exit"),
        F.col("entry_type").alias("next_entry"),
    ).filter(F.col("prev_exit").isNotNull())
    counted = handoffs.groupBy("prev_exit", "next_entry").agg(F.count("*").alias("n"))
    w_row = Window.partitionBy("prev_exit")
    return (
        counted.select(
            "prev_exit",
            "next_entry",
            "n",
            F.floor(10000.0 * F.col("n") / F.sum("n").over(w_row))
            .cast("long")
            .alias("row_share_bps"),
        )
        .orderBy("prev_exit", "next_entry")
    )


# ---------------------------------------------------------------------------
# q278 — TF-IDF document similarity: top-20 most-similar doc pairs by
# exact cosine in the PRUNED term space (terms with df <= 50; higher-df
# terms are quasi-stopwords that dominate pair cost while adding no
# discrimination). This is the vector-space complement to MinHash
# (set Jaccard, q45) and embedding cosine (q62): the classic
# inverted-index all-pairs similarity, where pair cost is
# sum_term(df^2) — bounded by the df cap, never by corpus size.
# Weights tf*ln(N/df) are deterministic doubles; pair dots and norms
# accumulate in exact decimal; the ranking orders on the rounded cosine.
# ---------------------------------------------------------------------------


@register(
    "q278_tfidf_doc_similarity",
    oracle=f"""
    WITH inst AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM inst GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS w
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
      WHERE df.df <= 50
    ),
    nrm AS (
      SELECT doc_id, sqrt({sql_exact_sum("w * w")}) AS nn
      FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             {sql_exact_sum("a.w * b.w")} AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.doc_a, d.doc_b,
           {sql_round_det("d.dot / (na.nn * nb.nn)", 6)} AS cosine
    FROM dots d
    JOIN nrm na ON na.doc_id = d.doc_a
    JOIN nrm nb ON nb.doc_id = d.doc_b
    ORDER BY cosine DESC, d.doc_a, d.doc_b
    LIMIT 20
    """,
    category="textstats",
)
def q278_tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    inst = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("term"),
    )
    tf = inst.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df")).filter(F.col("df") <= 50)
    n_docs = d.count()
    w = tf.join(df_t, "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("w"),
    ).localCheckpoint(eager=True)  # reused by both join sides + norms
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum((F.col("w") * F.col("w")).cast(_DEC)).cast("double")).alias("nn")
    )
    a = w.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum((F.col("wa") * F.col("wb")).cast(_DEC)).cast("double").alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nn").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nn").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            round_det(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "doc_a", "doc_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q279 — chi-square independence test of language vs source: is the
# language mix the same across sources? The categorical-drift screen for
# a multi-source corpus (a source whose language profile diverges skews
# mixture weights downstream). Observed counts from one grouped agg;
# expected counts from broadcast row/column marginals; the statistic
# accumulates (o-e)^2/e in exact decimal. Output: one row — chi2, the
# degrees of freedom, and the cell count that drove it.
# ---------------------------------------------------------------------------


@register(
    "q279_chisq_independence",
    oracle=f"""
    WITH obs AS (
      SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source
    ),
    rt AS (SELECT lang, SUM(o) AS r FROM obs GROUP BY lang),
    ct AS (SELECT source, SUM(o) AS c FROM obs GROUP BY source),
    n AS (SELECT SUM(o) AS total FROM obs),
    cells AS (
      -- FULL r x c grid (marginal cross join): a (lang, source) cell with
      -- zero observed count still contributes (0-e)^2/e = e, and dof
      -- counts the full grid — observed-cells-only understates chi2.
      SELECT COALESCE(obs.o, 0) AS o,
             (CAST(rt.r AS DOUBLE) * ct.c) / n.total AS e
      FROM rt CROSS JOIN ct CROSS JOIN n
      LEFT JOIN obs ON obs.lang = rt.lang AND obs.source = ct.source
    )
    SELECT {sql_round_det(sql_exact_sum("((o - e) * (o - e)) / e"), 4)} AS chi2,
           (SELECT (COUNT(*) - 1) FROM rt) * (SELECT (COUNT(*) - 1) FROM ct) AS dof,
           COUNT(*) AS n_cells
    FROM cells
    """,
    category="stats",
)
def q279_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rt = obs.groupBy("lang").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("total"))
    # Full r x c grid from the marginals (both broadcast-tiny): zero-
    # observed cells contribute (0-e)^2/e = e; without them chi2 is
    # understated while dof still assumes the full grid.
    cells = (
        rt.crossJoin(F.broadcast(ct))
        .join(F.broadcast(obs), ["lang", "source"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            ((F.col("r").cast("double") * F.col("c")) / F.col("total")).alias("e"),
        )
    )
    dof = (rt.count() - 1) * (ct.count() - 1)
    contrib = ((F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))) / F.col("e")
    return cells.agg(
        round_det(F.sum(contrib.cast(_DEC)).cast("double"), 4).alias("chi2"),
        F.lit(dof).cast("long").alias("dof"),
        F.count("*").alias("n_cells"),
    )


# ---------------------------------------------------------------------------
# q280 — centroid silhouette (lite): per vector, cosine to its OWN label
# centroid (a) vs the best cosine to any OTHER centroid (b); per label,
# the mean margin (a - b) and the share of vectors that sit closer to a
# foreign centroid (b > a) — the label-quality score that q268's
# centroid-pair matrix can't see (it measures centers, this measures
# members). The vector-to-centroid scoring explodes to N x k x 64 rows —
# the identical assignment shape as IVF coarse quantization (q63) with
# the 64 x k centroid table broadcast, so no shuffle touches the fact
# until the per-(vec, label) reduce. All dots/norms in exact decimal.
# ---------------------------------------------------------------------------


@register(
    "q280_centroid_silhouette",
    oracle=f"""
    WITH d AS (
      SELECT vec_id, label, g.i AS dim, embedding[g.i]::DOUBLE AS v
      FROM embeddings, generate_series(1, 64) g(i)
    ),
    cent AS (
      SELECT label AS clabel, dim,
             CAST(SUM(CAST(v AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS c
      FROM d GROUP BY label, dim
    ),
    cnorm AS (
      SELECT clabel, sqrt({sql_exact_sum("c * c")}) AS cn FROM cent GROUP BY clabel
    ),
    vnorm AS (
      SELECT vec_id, sqrt({sql_exact_sum("v * v")}) AS vn FROM d GROUP BY vec_id
    ),
    dots AS (
      SELECT d.vec_id, MAX(d.label) AS label, cent.clabel,
             {sql_exact_sum("d.v * cent.c")} AS dot
      FROM d JOIN cent ON d.dim = cent.dim
      GROUP BY d.vec_id, cent.clabel
    ),
    cosv AS (
      SELECT dots.vec_id, dots.label, dots.clabel,
             dots.dot / (vnorm.vn * cnorm.cn) AS cos
      FROM dots JOIN vnorm ON dots.vec_id = vnorm.vec_id
                JOIN cnorm ON dots.clabel = cnorm.clabel
    ),
    margins AS (
      SELECT vec_id, label,
             MAX(CASE WHEN clabel = label THEN cos END) AS a,
             MAX(CASE WHEN clabel <> label THEN cos END) AS b
      FROM cosv GROUP BY vec_id, label
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           {sql_round_det(f"{sql_exact_sum('a - b')} / COUNT(*)", 6)} AS mean_margin,
           CAST(FLOOR(10000.0 * SUM(CASE WHEN b > a THEN 1 ELSE 0 END) / COUNT(*))
                AS BIGINT) AS misassigned_bps
    FROM margins GROUP BY label ORDER BY label
    """,
    category="ann",
)
def q280_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    ).select("vec_id", "label", (F.col("pos") + 1).alias("dim"), "v")
    cent = d.groupBy(F.col("label").alias("clabel"), F.col("dim")).agg(
        (F.sum(F.col("v").cast(_DEC)).cast("double") / F.count("*")).alias("c")
    )
    cnorm = cent.groupBy("clabel").agg(
        F.sqrt(F.sum((F.col("c") * F.col("c")).cast(_DEC)).cast("double")).alias("cn")
    )
    vnorm = d.groupBy("vec_id").agg(
        F.sqrt(F.sum((F.col("v") * F.col("v")).cast(_DEC)).cast("double")).alias("vn")
    )
    dots = (
        d.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "clabel")
        .agg(
            F.max("label").alias("label"),
            F.sum((F.col("v") * F.col("c")).cast(_DEC)).cast("double").alias("dot"),
        )
    )
    cosv = (
        dots.join(vnorm, "vec_id")
        .join(F.broadcast(cnorm), "clabel")
        .select(
            "vec_id",
            "label",
            "clabel",
            (F.col("dot") / (F.col("vn") * F.col("cn"))).alias("cos"),
        )
    )
    margins = cosv.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("cos"))).alias("a"),
        F.max(F.when(F.col("clabel") != F.col("label"), F.col("cos"))).alias("b"),
    )
    return (
        margins.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            round_det(
                F.sum((F.col("a") - F.col("b")).cast(_DEC)).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_margin"),
            F.floor(
                10000.0
                * F.sum(F.when(F.col("b") > F.col("a"), 1).otherwise(0))
                / F.count("*")
            )
            .cast("long")
            .alias("misassigned_bps"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q281 — distributed PCA, first principal component by fixed-round power
# iteration: ONE Gram-matrix pass over the embeddings (the vec_id-keyed
# self-join explodes to N x 64 x 64 rows, but the (i,j)-keyed agg is
# map-side combinable down to 4096 cells — the canonical X^T X shape,
# the only stage that touches the fact), then SIXTY matrix-vector
# iterations on the collected 4096-double covariance, driver-side.
# Driver state is the d^2 = 4096-row matrix plus a 64-float iterate —
# the standard distributed-PCA split (one cluster pass builds X^T X;
# eigen-iterations are O(d^2) local math, independent of N). An earlier
# form ran each round as a Spark job over the checkpointed 4096-row
# table; the 60 x (join+agg+collect) jobs cost ~36 s of pure scheduling
# at every SF (42.9 s total at sf0.1 vs 10.4 s now, bit-identical output
# at sf0.001/0.01/0.1 — PERF.md "Round-6 close"). Round count: per-round error
# decays as (lambda2/lambda1)^k and the synthetic embeddings are
# near-isotropic (gap ~ 1.07 at sf0.001), so 60 rounds reach cosine >
# 0.99 to the true eigenvector (verified against numpy in tests); the
# round count is a FIXED engine contract, never data-dependent. Seed =
# 1/8 everywhere (1/sqrt(64), exactly representable). Determinism: each
# double product is quantized to DECIMAL(25,10) HALF_UP via its shortest
# round-trip decimal repr — exactly Spark's double->decimal cast
# (BigDecimal.valueOf) that the previous form applied per term — then
# summed exactly and cast back to double, so both engines round
# identically; the oracle unrolls the same 60 rounds as MATERIALIZED
# CTEs (DuckDB inlines plain CTEs, which would re-derive the Gram matrix
# per round). lambda1 is ||C v|| of the final normalized iterate;
# explained share = lambda1 / trace(C).
# ---------------------------------------------------------------------------


_PCA_ROUNDS = 60


def _q281_oracle() -> str:
    it = """
    w{k} AS (
      SELECT cov.i, CAST(SUM(CAST(cov.c * v{p}.v AS DECIMAL(25,10))) AS DOUBLE) AS w
      FROM cov JOIN v{p} ON cov.j = v{p}.i GROUP BY cov.i
    ),
    n{k} AS (SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(25,10))) AS DOUBLE)) AS n
             FROM w{k}),
    v{k} AS MATERIALIZED (
      SELECT w{k}.i, w{k}.w / n{k}.n AS v FROM w{k} CROSS JOIN n{k})"""
    rounds = "".join(
        "," + it.format(k=k, p=k - 1) for k in range(1, _PCA_ROUNDS + 1)
    )
    last = _PCA_ROUNDS
    return (
        """
    WITH d AS MATERIALIZED (
      SELECT vec_id, t.i AS i, embedding[t.i]::DOUBLE AS v
      FROM embeddings, generate_series(1, 64) t(i)
    ),
    mu AS MATERIALIZED (
      SELECT i, CAST(SUM(CAST(v AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS mu
      FROM d GROUP BY i
    ),
    g AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j,
             CAST(SUM(CAST(a.v * b.v AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS exy
      FROM d a JOIN d b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i
    ),
    cov AS MATERIALIZED (
      SELECT g.i, g.j, g.exy - ma.mu * mb.mu AS c
      FROM g JOIN mu ma ON g.i = ma.i JOIN mu mb ON g.j = mb.i
    ),
    v0 AS (SELECT t.i AS i, 0.125 AS v FROM generate_series(1, 64) t(i))"""
        + rounds
        + f""",
    tr AS (SELECT CAST(SUM(CAST(c AS DECIMAL(25,10))) AS DOUBLE) AS trace
           FROM cov WHERE i = j)
    SELECT CAST(v{last}.i AS BIGINT) AS dim,
           (FLOOR((v{last}.v) * 1000000.0 + 0.5) / 1000000.0) AS loading,
           (FLOOR((n{last}.n) * 1000000.0 + 0.5) / 1000000.0) AS lambda1,
           CAST(FLOOR(10000.0 * (n{last}.n / tr.trace)) AS BIGINT) AS explained_bps
    FROM v{last} CROSS JOIN n{last} CROSS JOIN tr
    ORDER BY dim
    """
    )


@register("q281_pca_power_iteration", oracle=_q281_oracle(), category="ann")
def q281_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # Map-side Gram (similarity.pairwise_dim_terms, shared with q284): the
    # former a.join(b, vec_id) shuffled the exploded table twice and ran
    # the d^2 join output through one task when the source arrived as a
    # single file/partition. Decimal sums are order-independent ->
    # bit-identical. Spark side 37.9s -> ~4s at sf0.1.
    from hive_feature_demo_spark.operators import similarity

    mu = similarity.dim_terms(emb, "embedding").groupBy("i").agg(
        (F.sum(F.col("xi").cast(_DEC)).cast("double") / F.count("*")).alias("mu")
    )
    g = similarity.pairwise_dim_terms(emb, "embedding").groupBy("i", "j").agg(
        (
            F.sum((F.col("xi") * F.col("xj")).cast(_DEC)).cast("double")
            / F.count("*")
        ).alias("exy")
    )
    ma = mu.select(F.col("i").alias("i"), F.col("mu").alias("mu_i"))
    mb = mu.select(F.col("i").alias("j"), F.col("mu").alias("mu_j"))
    cov_rows = (
        g.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .select("i", "j", (F.col("exy") - F.col("mu_i") * F.col("mu_j")).alias("c"))
        .collect()  # d^2 = 4096 rows — bounded driver state by construction
    )
    cov = {(r["i"], r["j"]): r["c"] for r in cov_rows}

    # _dec10 = Spark's CAST(double AS DECIMAL(25,10)): shortest round-trip
    # decimal repr (BigDecimal.valueOf semantics = repr(x)), HALF_UP at
    # the 10th fractional digit. Summing the quantized products exactly
    # and casting back to double replays the previous per-round Spark agg
    # term for term (bit-identical at all test SFs — PERF.md "Round-6 close").
    q10 = _PyDecimal("1e-10")

    def _dec10(x: float) -> "_PyDecimal":
        return _PyDecimal(repr(x)).quantize(q10, rounding=_ROUND_HALF_UP)

    with _dec_localcontext() as ctx:
        ctx.prec = 50
        v = {i: 0.125 for i in range(1, 65)}
        n = 0.0
        for _ in range(_PCA_ROUNDS):
            w = {
                i: float(sum(_dec10(cov[(i, j)] * v[j]) for j in range(1, 65)))
                for i in range(1, 65)
            }
            n = math.sqrt(float(sum(_dec10(wi * wi) for wi in w.values())))
            v = {i: w[i] / n for i in range(1, 65)}
        trace = float(sum(_dec10(cov[(i, i)]) for i in range(1, 65)))
    out = spark.createDataFrame([(i, v[i]) for i in range(1, 65)], "i int, v double")
    return out.select(
        F.col("i").cast("long").alias("dim"),
        round_det(F.col("v"), 6).alias("loading"),
        round_det(F.lit(n), 6).alias("lambda1"),
        F.floor(10000.0 * (F.lit(n) / F.lit(trace))).cast("long").alias(
            "explained_bps"
        ),
    ).orderBy("dim")


# ---------------------------------------------------------------------------
# q282 — seasonal-naive forecast backtest: predict each day's per-type
# revenue with the value 7 days earlier, then score MAPE and mean bias
# per event type — the sanity baseline every real forecaster must beat,
# and the cheapest drift alarm (MAPE jumping week-over-week = the
# seasonal pattern broke). Daily series aggregates once (day keys ~
# calendar, never data volume); the lag-7 join is a self-join on
# (event_type, day); error means accumulate in exact decimal over
# deterministic doubles.
# ---------------------------------------------------------------------------


@register(
    "q282_seasonal_backtest",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             {sql_round_det(sql_exact_sum("value"), 6)} AS rev
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    scored AS (
      SELECT a.event_type,
             ABS((a.rev - p.rev) / a.rev) AS ape,
             (a.rev - p.rev) / a.rev AS pe
      FROM daily a JOIN daily p
        ON a.event_type = p.event_type AND p.day = a.day - 7
      WHERE a.rev <> 0
    )
    SELECT event_type,
           COUNT(*) AS n_days,
           {sql_round_det(f"{sql_exact_sum('ape')} / COUNT(*)", 6)} AS mape,
           {sql_round_det(f"{sql_exact_sum('pe')} / COUNT(*)", 6)} AS mean_bias
    FROM scored GROUP BY event_type ORDER BY event_type
    """,
    category="stats",
)
def q282_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        round_det(F.sum(F.col("value").cast(_DEC)).cast("double"), 6).alias("rev")
    )
    a = daily.select("event_type", "day", F.col("rev").alias("actual"))
    p = daily.select(
        "event_type", F.date_add("day", 7).alias("day"), F.col("rev").alias("pred")
    )
    scored = (
        a.join(p, ["event_type", "day"])
        .filter(F.col("actual") != 0)
        .select(
            "event_type",
            F.abs((F.col("actual") - F.col("pred")) / F.col("actual")).alias("ape"),
            ((F.col("actual") - F.col("pred")) / F.col("actual")).alias("pe"),
        )
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            round_det(
                F.sum(F.col("ape").cast(_DEC)).cast("double") / F.count("*"), 6
            ).alias("mape"),
            round_det(
                F.sum(F.col("pe").cast(_DEC)).cast("double") / F.count("*"), 6
            ).alias("mean_bias"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q283 — snapshot diff: the row-level delta between two manifest
# versions of q200's snapshot log (commit 1 = orders before 1998,
# commit 2 = full table), computed as an anti-join of version 2 against
# version 1 on the primary key — exactly the increment a downstream
# consumer processes after a commit. Immutable data files make the diff
# cheap: only the delta files' rows survive the anti-join probe. The
# oracle reproduces the delta from the date split.
# ---------------------------------------------------------------------------


@register(
    "q283_snapshot_diff",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS rows_added,
           {{total}} AS value_added
    FROM orders WHERE o_orderdate >= DATE '1998-01-01'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """.format(total=sql_exact_sum_fixed("o_totalprice", 2)),
    category="sources",
)
def q283_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.plans.engine_features import (
        _snapshot_commit,
        _snapshot_read,
    )

    o = table(spark, sf_dir, "orders")
    base = scratch_dir(prefix="q283_snap_")
    _snapshot_commit(base, 1, o.filter(F.col("o_orderdate") < "1998-01-01"))
    _snapshot_commit(base, 2, o.filter(F.col("o_orderdate") >= "1998-01-01"))
    v1 = _snapshot_read(spark, base, 1)
    v2 = _snapshot_read(spark, base, 2)
    delta = v2.join(
        v1.select("o_orderkey"), "o_orderkey", "left_anti"
    )
    return (
        delta.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("rows_added"),
            exact_sum_fixed("o_totalprice", 2, "value_added"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q284 — streaming incremental covariance maintenance: the embeddings
# table replays as four micro-batches (vec_id % 4, one file per
# trigger); each foreachBatch computes that batch's PARTIAL Gram sums
# (per-(i,j) decimal sums + counts) and appends them to a state store;
# the final covariance merges the partials. Because decimal addition is
# associative, the merged second moments equal the direct one-pass
# computation BIT-FOR-BIT — the incremental==full contract (q201's MV
# refresh, q215's CDC apply) extended to the sufficient statistics of
# q281's PCA. The oracle computes everything from scratch; per-dim
# output = mean, variance, and the off-diagonal norm (proof the FULL
# matrix was maintained, not just the diagonal). At 100 TB this is how
# a feature-store keeps whitening/PCA stats fresh: 4096 decimal cells
# per batch, state size independent of stream length.
# ---------------------------------------------------------------------------


#: q284's per-batch partials as foreachBatch writes them.
_GRAM_PARTIALS = (
    "i int, j int, sxy decimal(35,10), cnt bigint, sx decimal(35,10), nx bigint, batch_id int"
)


@register(
    "q284_incremental_gram",
    oracle=f"""
    WITH d AS MATERIALIZED (
      SELECT vec_id, t.i AS i, embedding[t.i]::DOUBLE AS v
      FROM embeddings, generate_series(1, 64) t(i)
    ),
    mu AS MATERIALIZED (
      SELECT i, CAST(SUM(CAST(v AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS mu,
             COUNT(*) AS n
      FROM d GROUP BY i
    ),
    g AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j,
             CAST(SUM(CAST(a.v * b.v AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS exy
      FROM d a JOIN d b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i
    ),
    cov AS MATERIALIZED (
      SELECT g.i, g.j, g.exy - ma.mu * mb.mu AS c
      FROM g JOIN mu ma ON g.i = ma.i JOIN mu mb ON g.j = mb.i
    ),
    offd AS (
      SELECT i, sqrt({sql_exact_sum("c * c")}) AS offdiag_norm
      FROM cov WHERE i <> j GROUP BY i
    ),
    nb AS (SELECT COUNT(DISTINCT vec_id % 4) AS n_batches FROM embeddings)
    SELECT CAST(mu.i AS BIGINT) AS dim, mu.n AS n_vecs,
           {sql_round_det("mu.mu", 6)} AS mean,
           {sql_round_det("diag.c", 6)} AS variance,
           {sql_round_det("offd.offdiag_norm", 6)} AS offdiag_norm,
           nb.n_batches
    FROM mu
    JOIN cov diag ON diag.i = mu.i AND diag.j = mu.i
    JOIN offd ON offd.i = mu.i
    CROSS JOIN nb
    ORDER BY dim
    """,
    category="streaming",
)
def q284_incremental_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hive_feature_demo_spark.streaming.ops import run_foreach_batch

    emb = table(spark, sf_dir, "embeddings")
    replay_dir = scratch_dir(prefix="q284_replay_")
    state_dir = os.path.join(scratch_dir(prefix="q284_state_"), "partials")
    # One job writes all four residue files (was: four filter+coalesce(1)
    # jobs, i.e. FOUR full scans of the source — at 100 TB that's 4x the
    # scan cost). repartition(4, "r") puts each residue's rows in exactly
    # one task (hash(r) is deterministic), so every r= dir gets exactly
    # one file -> still four one-file micro-batches.
    (
        emb.withColumn("r", (F.col("vec_id") % 4).cast("int"))
        .repartition(4, "r")
        .write.partitionBy("r")
        .mode("overwrite")
        .parquet(replay_dir)
    )
    # Read under the table's own schema, which is what inference on the
    # glob gives (its roots are the r= dirs, so no r column): no inference
    # job, and an empty table, whose write makes no r= dir, still reads.
    replay_glob = replay_dir + "/r=*"
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_glob)
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Map-side Gram expansion: two chained posexplodes of the SAME row's
        # array generate every (i, j, v_i*v_j) without the former
        # a.join(b, vec_id) — which shuffled 64 rows/vector twice and joined
        # into a 4096-rows/vector intermediate. Here the d^2 expansion is
        # narrow; partial aggregation combines it to <=4096 cells per task
        # before the only (tiny) shuffle (similarity.pairwise_dim_terms,
        # shared with q281's PCA — widening, plan shape, and bit-identity
        # are pinned there). Gram stage A/B at sf0.1: 13-16s (join
        # formulation, 1 task) -> 2.0-2.6s.
        from hive_feature_demo_spark.operators import similarity

        dd = similarity.pairwise_dim_terms(batch_df, "embedding")
        partial = dd.groupBy("i", "j").agg(
            F.sum((F.col("xi") * F.col("xj")).cast("decimal(25,10)")).alias("sxy"),
            F.count("*").alias("cnt"),
        )
        sums = similarity.dim_terms(batch_df, "embedding").groupBy("i").agg(
            F.sum(F.col("xi").cast("decimal(25,10)")).alias("sx"),
            F.count("*").alias("nx"),
        )
        partial.join(sums, "i").withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(state_dir)

    run_foreach_batch(stream, write_batch)

    # an empty table replays zero micro-batches, which write no partials
    os.makedirs(state_dir, exist_ok=True)
    st = spark.read.schema(_GRAM_PARTIALS).parquet(state_dir)
    n_batches = st.select("batch_id").distinct().count()
    # merge partials: decimal addition is associative -> equals one-pass
    merged = st.groupBy("i", "j").agg(
        F.sum("sxy").alias("sxy"),
        F.sum("cnt").alias("cnt"),
    )
    # first moments ride duplicated on every (i, j) row of their i; the
    # diagonal slice carries each (batch, i) contribution exactly once
    firsts = (
        st.filter(F.col("j") == F.col("i"))
        .groupBy("i")
        .agg(F.sum("sx").alias("sx"), F.sum("nx").alias("nx"))
    )
    mu = firsts.select(
        "i",
        (F.col("sx").cast("double") / F.col("nx")).alias("mu"),
        F.col("nx").alias("n_vecs"),
    )
    exy = merged.select(
        "i", "j", (F.col("sxy").cast("double") / F.col("cnt")).alias("exy")
    )
    ma = mu.select(F.col("i"), F.col("mu").alias("mu_i"))
    mb = mu.select(F.col("i").alias("j"), F.col("mu").alias("mu_j"))
    cov = (
        exy.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .select("i", "j", (F.col("exy") - F.col("mu_i") * F.col("mu_j")).alias("c"))
    )
    offd = (
        cov.filter(F.col("i") != F.col("j"))
        .groupBy("i")
        .agg(
            F.sqrt(F.sum((F.col("c") * F.col("c")).cast(_DEC)).cast("double")).alias(
                "offdiag_norm"
            )
        )
    )
    diag = cov.filter(F.col("i") == F.col("j")).select("i", F.col("c").alias("variance"))
    return (
        mu.join(diag, "i")
        .join(offd, "i")
        .select(
            F.col("i").cast("long").alias("dim"),
            "n_vecs",
            round_det(F.col("mu"), 6).alias("mean"),
            round_det(F.col("variance"), 6).alias("variance"),
            round_det(F.col("offdiag_norm"), 6).alias("offdiag_norm"),
            F.lit(n_batches).cast("long").alias("n_batches"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# q285 — text-normalization audit: the standard cleaning pass (lowercase,
# strip non-alphanumeric-punctuation, collapse whitespace runs, trim)
# applied as pure column expressions, reported per source as characters
# saved and documents changed. The regex class is written identically for
# Java regex (Spark) and RE2 (DuckDB) — both dialects treat it the same;
# one narrow scan + 20-key agg, zero shuffles of text beyond the agg.
# ---------------------------------------------------------------------------


@register(
    "q285_text_normalization",
    oracle="""
    WITH norm AS (
      SELECT source, text,
             TRIM(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 .,!?'']', ' ', 'g'),
               ' +', ' ', 'g')) AS clean
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(CASE WHEN clean <> text THEN 1 ELSE 0 END) AS docs_changed,
           SUM(LENGTH(text)) AS chars_before,
           SUM(LENGTH(clean)) AS chars_after,
           CAST(FLOOR(10000.0 * (SUM(LENGTH(text)) - SUM(LENGTH(clean)))
                      / SUM(LENGTH(text))) AS BIGINT) AS savings_bps
    FROM norm GROUP BY source ORDER BY source
    """,
    category="textstats",
)
def q285_text_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 .,!?']", " "),
            " +",
            " ",
        )
    )
    norm = d.select("source", "text", clean.alias("clean"))
    return (
        norm.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("clean") != F.col("text"), 1).otherwise(0)).alias(
                "docs_changed"
            ),
            F.sum(F.length("text")).alias("chars_before"),
            F.sum(F.length("clean")).alias("chars_after"),
        )
        .select(
            "source",
            "n_docs",
            "docs_changed",
            "chars_before",
            "chars_after",
            F.floor(
                10000.0
                * (F.col("chars_before") - F.col("chars_after"))
                / F.col("chars_before")
            )
            .cast("long")
            .alias("savings_bps"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q286 — centered log-ratio (CLR) transform of the daily event-type mix:
# compositional-data analysis of "what share of the day each event type
# took", mapping shares out of the simplex so downstream stats
# (drift detection, PCA) behave linearly. clr = ln(share) - mean_day
# (ln share), computed over the types present that day; shares are exact
# count ratios, the per-day mean accumulates the <= |event types| log
# terms in decimal. Shuffle: one (day, type) agg + one day-partitioned
# window over calendar-bounded rows.
# ---------------------------------------------------------------------------


@register(
    "q286_clr_composition",
    oracle=f"""
    WITH c AS (
      SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
      FROM events GROUP BY CAST(ts AS DATE), event_type
    ),
    t AS (
      SELECT day, event_type, n,
             SUM(n) OVER (PARTITION BY day) AS day_total,
             ln(n / CAST(SUM(n) OVER (PARTITION BY day) AS DOUBLE)) AS ln_s
      FROM c
    ),
    m AS (
      SELECT day,
             CAST(SUM(CAST(ln_s AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS mean_ln
      FROM t GROUP BY day
    )
    SELECT t.day, t.event_type,
           CAST(FLOOR(10000.0 * t.n / t.day_total) AS BIGINT) AS share_bps,
           {sql_round_det("t.ln_s - m.mean_ln", 6)} AS clr
    FROM t JOIN m ON t.day = m.day
    ORDER BY t.day, t.event_type
    """,
    category="stats",
)
def q286_clr_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    c = e.groupBy(F.col("ts").cast("date").alias("day"), "event_type").agg(
        F.count("*").alias("n")
    )
    w_day = Window.partitionBy("day")
    t = c.select(
        "day",
        "event_type",
        "n",
        F.sum("n").over(w_day).alias("day_total"),
        F.log(F.col("n") / F.sum("n").over(w_day).cast("double")).alias("ln_s"),
    )
    m = t.groupBy("day").agg(
        (F.sum(F.col("ln_s").cast(_DEC)).cast("double") / F.count("*")).alias(
            "mean_ln"
        )
    )
    return (
        t.join(m, "day")
        .select(
            "day",
            "event_type",
            F.floor(10000.0 * F.col("n") / F.col("day_total"))
            .cast("long")
            .alias("share_bps"),
            round_det(F.col("ln_s") - F.col("mean_ln"), 6).alias("clr"),
        )
        .orderBy("day", "event_type")
    )


# ---------------------------------------------------------------------------
# q287 — customer migration matrix: spend terciles in the first half of
# the order history vs the second half (cut 1998-04-01), with band 0 for
# customers inactive in a half — the classic BI "segment movement" view.
# Terciles come from the distributed global_rank operator +
# ntile_from_rank (exact ANSI NTILE semantics WITHOUT a single-partition
# window — the same scale-safe machinery as q116/q161/q271); the oracle
# uses plain NTILE, which the operator provably reproduces. One
# full-outer join of the two half-tables, then a <= 16-key agg.
# ---------------------------------------------------------------------------

_H_CUT = "1998-04-01"


@register(
    "q287_customer_migration_matrix",
    oracle=f"""
    WITH h1 AS (
      SELECT o_custkey, SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
      FROM orders WHERE o_orderdate < DATE '{_H_CUT}' GROUP BY o_custkey
    ),
    h2 AS (
      SELECT o_custkey, SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
      FROM orders WHERE o_orderdate >= DATE '{_H_CUT}' GROUP BY o_custkey
    ),
    b1 AS (SELECT o_custkey, NTILE(3) OVER (ORDER BY cents, o_custkey) AS band FROM h1),
    b2 AS (SELECT o_custkey, NTILE(3) OVER (ORDER BY cents, o_custkey) AS band FROM h2),
    j AS (
      SELECT COALESCE(b1.band, 0) AS h1_band, COALESCE(b2.band, 0) AS h2_band
      FROM b1 FULL OUTER JOIN b2 ON b1.o_custkey = b2.o_custkey
    ),
    tot AS (SELECT COUNT(*) AS n FROM j)
    SELECT CAST(h1_band AS BIGINT) AS h1_band, CAST(h2_band AS BIGINT) AS h2_band,
           COUNT(*) AS n_customers,
           CAST(FLOOR(10000.0 * COUNT(*) / MAX(tot.n)) AS BIGINT) AS share_bps
    FROM j CROSS JOIN tot
    GROUP BY h1_band, h2_band
    ORDER BY h1_band, h2_band
    """,
    category="relational",
)
def q287_customer_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.operators.relational_ext import (
        global_rank,
        ntile_from_rank,
    )

    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")

    def half_bands(pred, alias):
        h = o.filter(pred).groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
        n = h.count()
        ranked = global_rank(h, ["cents", "o_custkey"], rank_col="r")
        return ranked.select(
            "o_custkey",
            ntile_from_rank(F.col("r"), n, 3).alias(alias),
        )

    b1 = half_bands(F.col("o_orderdate") < _H_CUT, "h1_band")
    b2 = half_bands(F.col("o_orderdate") >= _H_CUT, "h2_band")
    j = b1.join(b2, "o_custkey", "full_outer").select(
        F.coalesce("h1_band", F.lit(0)).cast("long").alias("h1_band"),
        F.coalesce("h2_band", F.lit(0)).cast("long").alias("h2_band"),
    )
    tot = j.agg(F.count("*").alias("n"))
    return (
        j.crossJoin(F.broadcast(tot))
        .groupBy("h1_band", "h2_band")
        .agg(
            F.count("*").alias("n_customers"),
            F.floor(10000.0 * F.count("*") / F.max("n")).cast("long").alias(
                "share_bps"
            ),
        )
        .orderBy("h1_band", "h2_band")
    )


# ---------------------------------------------------------------------------
# q288 — point-in-time feature join (feature-store correctness): for
# every order, the customer's event count and value sum STRICTLY BEFORE
# the order timestamp — the leakage-free training-feature computation
# (training-serving skew starts exactly where this op is done wrong).
# NOT a per-order subquery: orders and events union into one stream per
# user, a single user-partitioned running window computes the features
# for all orders in one pass (order rows sort BEFORE event rows at equal
# ts, so ties stay strictly-before). Cost: one shuffle on user_id,
# regardless of how many orders per user.
# ---------------------------------------------------------------------------


@register(
    "q288_point_in_time_features",
    oracle=f"""
    WITH u AS (
      SELECT user_id, ts, 1 AS at_tie, event_id AS rid, value,
             1 AS is_event, CAST(NULL AS BIGINT) AS o_orderkey
      FROM events
      UNION ALL
      SELECT o_custkey AS user_id, o_orderdate AS ts, 0 AS at_tie,
             o_orderkey AS rid, 0.0 AS value, 0 AS is_event, o_orderkey
      FROM orders
    ),
    runs AS (
      SELECT *,
             COALESCE(SUM(is_event) OVER w, 0) AS events_before,
             COALESCE(SUM(CAST(value AS DECIMAL(25,10))) OVER w, 0) AS value_dec
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, at_tie, rid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT o_orderkey, user_id AS o_custkey,
           CAST(events_before AS BIGINT) AS events_before,
           {sql_round_det("CAST(value_dec AS DOUBLE)", 6)} AS value_before
    FROM runs WHERE is_event = 0
    ORDER BY o_orderkey
    """,
    category="relational",
)
def q288_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.lit(1).alias("at_tie"),
        F.col("event_id").alias("rid"),
        "value",
        F.lit(1).alias("is_event"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
        F.lit(0).alias("at_tie"),
        F.col("o_orderkey").alias("rid"),
        F.lit(0.0).alias("value"),
        F.lit(0).alias("is_event"),
        "o_orderkey",
    )
    u = e.unionByName(o)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "at_tie", "rid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runs = u.select(
        "o_orderkey",
        "user_id",
        "is_event",
        F.coalesce(F.sum("is_event").over(w), F.lit(0)).alias("events_before"),
        F.coalesce(
            F.sum(F.col("value").cast(_DEC)).over(w), F.lit(0).cast(_DEC)
        ).alias("value_dec"),
    )
    return (
        runs.filter(F.col("is_event") == 0)
        .select(
            "o_orderkey",
            F.col("user_id").alias("o_custkey"),
            F.col("events_before").cast("long").alias("events_before"),
            round_det(F.col("value_dec").cast("double"), 6).alias("value_before"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# q289 — part-affinity mining: parts co-purchased within the same order,
# scored by support and lift — the retail market-basket complement to
# q220's session-basket rules (different fact, different basket key).
# Pair generation is the basket self-join (cost sum_order(items^2),
# bounded by basket size, never corpus size); per-part priors broadcast
# back into the pair table. Lift ratios are deterministic double
# divisions of exact integer counts; the report keeps pairs with
# support >= 5 orders.
# ---------------------------------------------------------------------------


@register(
    "q289_part_affinity",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM baskets),
    prior AS (
      SELECT l_partkey, COUNT(*) AS n_part FROM baskets GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_both
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT p.part_a, p.part_b, p.n_both,
           {sql_round_det(
               "(CAST(p.n_both AS DOUBLE) * n.n_orders) / (pa.n_part * CAST(pb.n_part AS DOUBLE))",
               6,
           )} AS lift
    FROM pairs p
    JOIN prior pa ON pa.l_partkey = p.part_a
    JOIN prior pb ON pb.l_partkey = p.part_b
    CROSS JOIN n
    WHERE p.n_both >= 5
    ORDER BY p.n_both DESC, p.part_a, p.part_b
    """,
    category="stats",
)
def q289_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = baskets.select("l_orderkey").distinct().count()
    prior = baskets.groupBy("l_partkey").agg(F.count("*").alias("n_part"))
    a = baskets.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = baskets.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 5)
    )
    pa = prior.select(F.col("l_partkey").alias("part_a"), F.col("n_part").alias("na"))
    pb = prior.select(F.col("l_partkey").alias("part_b"), F.col("n_part").alias("nb"))
    return (
        pairs.join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_both",
            round_det(
                (F.col("n_both").cast("double") * F.lit(n_orders))
                / (F.col("na") * F.col("nb").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_both"), "part_a", "part_b")
    )


# ---------------------------------------------------------------------------
# q290 — index of dispersion (variance-to-mean ratio) of orders per
# customer, by market segment: the overdispersion screen that tells a
# capacity planner whether demand is Poisson-like (VMR ~ 1) or bursty
# (VMR >> 1). Counts aggregate per customer (co-partitioned join keeps
# the segment), then a 5-key moment agg; variance from exact decimal
# power sums; includes zero-order customers via the dimension side so
# the mean is over ALL customers in the segment.
# ---------------------------------------------------------------------------


@register(
    "q290_dispersion_index",
    oracle=f"""
    WITH per_cust AS (
      SELECT c.c_mktsegment, c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, c.c_custkey
    ),
    mom AS (
      SELECT c_mktsegment,
             COUNT(*) AS n_customers,
             {sql_exact_sum("CAST(n_orders AS DOUBLE)")} AS s1,
             {sql_exact_sum("CAST(n_orders AS DOUBLE) * n_orders")} AS s2
      FROM per_cust GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n_customers,
           {sql_round_det("s1 / n_customers", 6)} AS mean_orders,
           {sql_round_det("s2 / n_customers - (s1 / n_customers) * (s1 / n_customers)", 6)}
             AS var_orders,
           {sql_round_det(
               "(s2 / n_customers - (s1 / n_customers) * (s1 / n_customers)) / (s1 / n_customers)",
               6,
           )} AS dispersion
    FROM mom ORDER BY c_mktsegment
    """,
    category="stats",
)
def q290_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    nd = F.col("n_orders").cast("double")
    mom = per_cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.sum(nd.cast(_DEC)).cast("double").alias("s1"),
        F.sum((nd * F.col("n_orders")).cast(_DEC)).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n_customers")
    var = F.col("s2") / F.col("n_customers") - mean * mean
    return mom.select(
        "c_mktsegment",
        "n_customers",
        round_det(mean, 6).alias("mean_orders"),
        round_det(var, 6).alias("var_orders"),
        round_det(var / mean, 6).alias("dispersion"),
    ).orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# q291 — Kolmogorov-Smirnov length-drift screen: for each source, the KS
# statistic between its doc-length ECDF and the rest-of-corpus ECDF —
# the standard two-sample distribution-shift alarm, nonparametric and
# scale-free. ECDFs evaluate on the (source x distinct-length) grid
# (bounded by value cardinality x sources, never corpus size); windows
# partition per source over that bounded grid; the statistic is an exact
# integer-count ratio difference reported in basis points.
# ---------------------------------------------------------------------------


@register(
    "q291_ks_length_drift",
    oracle="""
    WITH ct AS (
      SELECT n_chars AS v, COUNT(*) AS n FROM documents GROUP BY n_chars
    ),
    cs AS (
      SELECT source, n_chars AS v, COUNT(*) AS n
      FROM documents GROUP BY source, n_chars
    ),
    src AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source),
    tot AS (SELECT COUNT(*) AS n_all FROM documents),
    grid AS (
      SELECT s.source, s.n_src, c.v, COALESCE(cs.n, 0) AS n_s, c.n AS n_t
      FROM src s CROSS JOIN ct c
      LEFT JOIN cs ON cs.source = s.source AND cs.v = c.v
    ),
    cum AS (
      SELECT source, n_src, v,
             SUM(n_s) OVER w AS cum_s,
             SUM(n_t) OVER w AS cum_t
      FROM grid
      WINDOW w AS (PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT c.source, MAX(c.n_src) AS n_docs,
           CAST(FLOOR(10000.0 * MAX(ABS(
             c.cum_s / CAST(c.n_src AS DOUBLE)
             - (c.cum_t - c.cum_s) / CAST(t.n_all - c.n_src AS DOUBLE)
           ))) AS BIGINT) AS ks_bps
    FROM cum c CROSS JOIN tot t
    GROUP BY c.source ORDER BY c.source
    """,
    category="stats",
)
def q291_ks_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    ct = d.groupBy(F.col("n_chars").alias("v")).agg(F.count("*").alias("n_t"))
    cs = d.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count("*").alias("n_s")
    )
    src = d.groupBy("source").agg(F.count("*").alias("n_src"))
    n_all = d.count()
    grid = (
        src.crossJoin(F.broadcast(ct))
        .join(cs, ["source", "v"], "left")
        .select(
            "source", "n_src", "v", F.coalesce("n_s", F.lit(0)).alias("n_s"), "n_t"
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "source",
        "n_src",
        F.sum("n_s").over(w).alias("cum_s"),
        F.sum("n_t").over(w).alias("cum_t"),
    )
    diff = F.abs(
        F.col("cum_s") / F.col("n_src").cast("double")
        - (F.col("cum_t") - F.col("cum_s"))
        / (F.lit(n_all) - F.col("n_src")).cast("double")
    )
    return (
        cum.groupBy("source")
        .agg(
            F.max("n_src").alias("n_docs"),
            F.floor(10000.0 * F.max(diff)).cast("long").alias("ks_bps"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q292 — one-way ANOVA effect size (eta-squared) of event value across
# day-of-week groups, per event type: how much of the value variance the
# weekly cycle explains — the strength-of-seasonality companion to
# q252's anomaly detection (which assumes the cycle matters; this
# measures whether it does). Everything derives from exact decimal power
# sums per (type, dow) — one grouped pass, 7 x |types| cells.
# ---------------------------------------------------------------------------


@register(
    "q292_anova_eta2",
    oracle=f"""
    WITH cells AS (
      SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow,
             COUNT(*) AS n,
             {sql_exact_sum("value")} AS s1,
             {sql_exact_sum("value * value")} AS s2
      FROM events GROUP BY event_type, dayofweek(CAST(ts AS DATE))
    ),
    per_type AS (
      SELECT event_type,
             SUM(n) AS n_tot,
             {sql_exact_sum("s1")} AS s1_tot,
             {sql_exact_sum("s2")} AS s2_tot,
             {sql_exact_sum("(s1 / n) * s1")} AS sum_ng_mg2,
             COUNT(*) AS n_groups
      FROM cells GROUP BY event_type
    )
    SELECT event_type, n_tot AS n_events, n_groups,
           {sql_round_det(
               "(sum_ng_mg2 - (s1_tot / n_tot) * s1_tot)"
               " / (s2_tot - (s1_tot / n_tot) * s1_tot)",
               6,
           )} AS eta2
    FROM per_type ORDER BY event_type
    """,
    category="stats",
)
def q292_anova_eta2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", F.dayofweek(F.col("ts").cast("date")).alias("dow")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast(_DEC)).cast("double").alias("s2"),
    )
    per_type = cells.groupBy("event_type").agg(
        F.sum("n").alias("n_tot"),
        F.sum(F.col("s1").cast(_DEC)).cast("double").alias("s1_tot"),
        F.sum(F.col("s2").cast(_DEC)).cast("double").alias("s2_tot"),
        F.sum(((F.col("s1") / F.col("n")) * F.col("s1")).cast(_DEC))
        .cast("double")
        .alias("sum_ng_mg2"),
        F.count("*").alias("n_groups"),
    )
    ss_between = F.col("sum_ng_mg2") - (F.col("s1_tot") / F.col("n_tot")) * F.col(
        "s1_tot"
    )
    ss_total = F.col("s2_tot") - (F.col("s1_tot") / F.col("n_tot")) * F.col("s1_tot")
    return per_type.select(
        "event_type",
        F.col("n_tot").alias("n_events"),
        "n_groups",
        round_det(ss_between / ss_total, 6).alias("eta2"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q293 — embedding-coverage audit: per source, how many documents have a
# matching embedding row (doc_id = vec_id) and the mean L2 norm of those
# embeddings — the join-key health check between the text corpus and its
# vector index (a source with missing or degenerate-norm vectors breaks
# retrieval silently). Co-partitioned left join + per-vector decimal
# norm; coverage in exact basis points.
# ---------------------------------------------------------------------------


@register(
    "q293_embedding_coverage",
    oracle=f"""
    WITH norms AS (
      SELECT vec_id, sqrt({sql_exact_sum("embedding[t.i] * embedding[t.i]")}) AS nrm
      FROM embeddings, generate_series(1, 64) t(i)
      GROUP BY vec_id
    ),
    j AS (
      SELECT d.source, d.doc_id, n.nrm
      FROM documents d LEFT JOIN norms n ON d.doc_id = n.vec_id
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(nrm) AS n_with_embedding,
           CAST(FLOOR(10000.0 * COUNT(nrm) / COUNT(*)) AS BIGINT) AS coverage_bps,
           {sql_round_det(f"COALESCE({sql_exact_sum('nrm')} / COUNT(nrm), 0.0)", 6)}
             AS mean_norm
    FROM j GROUP BY source ORDER BY source
    """,
    category="ann",
)
def q293_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    norms = d.groupBy("vec_id").agg(
        F.sqrt(F.sum((F.col("v") * F.col("v")).cast(_DEC)).cast("double")).alias("nrm")
    )
    docs = table(spark, sf_dir, "documents").select("source", "doc_id")
    j = docs.join(norms, docs.doc_id == norms.vec_id, "left")
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("nrm").alias("n_with_embedding"),
            F.floor(10000.0 * F.count("nrm") / F.count("*"))
            .cast("long")
            .alias("coverage_bps"),
            round_det(
                F.coalesce(
                    F.sum(F.col("nrm").cast(_DEC)).cast("double") / F.count("nrm"),
                    F.lit(0.0),
                ),
                6,
            ).alias("mean_norm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q294 — trending terms: the vocabulary-drift movers between the first
# and second half of the corpus (doc_id below/above the midpoint — the
# ingestion-order proxy), ranked by absolute share change in basis
# points. The "what changed in this crawl" screen a curation pipeline
# runs per snapshot. Term counting is the standard two-level agg; a df
# floor (>= 20 total occurrences) keeps noise terms out before shares
# are compared; the top-20 ranks on the exact integer bps delta.
# ---------------------------------------------------------------------------


@register(
    "q294_trending_terms",
    oracle="""
    WITH mid AS (
      SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS m FROM documents
    ),
    inst AS (
      SELECT CASE WHEN d.doc_id <= mid.m THEN 1 ELSE 2 END AS half,
             unnest(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS term
      FROM documents d CROSS JOIN mid
    ),
    tf AS (SELECT half, term, COUNT(*) AS n FROM inst GROUP BY half, term),
    tot AS (SELECT half, SUM(n) AS t FROM tf GROUP BY half),
    shares AS (
      SELECT t1.term,
             COALESCE(a.n, 0) AS n1, COALESCE(b.n, 0) AS n2,
             CAST(FLOOR(10000.0 * COALESCE(a.n, 0) / ta.t) AS BIGINT) AS bps1,
             CAST(FLOOR(10000.0 * COALESCE(b.n, 0) / tb.t) AS BIGINT) AS bps2
      FROM (SELECT DISTINCT term FROM tf) t1
      LEFT JOIN tf a ON a.term = t1.term AND a.half = 1
      LEFT JOIN tf b ON b.term = t1.term AND b.half = 2
      CROSS JOIN (SELECT t FROM tot WHERE half = 1) ta
      CROSS JOIN (SELECT t FROM tot WHERE half = 2) tb
      WHERE COALESCE(a.n, 0) + COALESCE(b.n, 0) >= 20
    )
    SELECT term, n1, n2, bps1, bps2, (bps2 - bps1) AS delta_bps
    FROM shares
    ORDER BY ABS(bps2 - bps1) DESC, term
    LIMIT 20
    """,
    category="textstats",
)
def q294_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # midpoint as a one-row crossJoin, not a collect: no build-time job
    mid = d.agg(F.expr("(min(doc_id) + max(doc_id)) div 2").alias("mid"))
    inst = d.crossJoin(F.broadcast(mid)).select(
        F.when(F.col("doc_id") <= F.col("mid"), 1).otherwise(2).alias("half"),
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("term"),
    )
    tf = inst.groupBy("half", "term").agg(F.count("*").alias("n"))
    tot = {r["half"]: r["t"] for r in tf.groupBy("half").agg(F.sum("n").alias("t")).collect()}
    if not tot.get(1) or not tot.get(2):
        # a half with zero tokens has no term distribution to compare —
        # return the empty result (schema-stable) instead of a KeyError
        return spark.createDataFrame(
            [],
            "term string, n1 bigint, n2 bigint, bps1 bigint, bps2 bigint, "
            "delta_bps bigint",
        )
    a = tf.filter(F.col("half") == 1).select("term", F.col("n").alias("n1"))
    b = tf.filter(F.col("half") == 2).select("term", F.col("n").alias("n2"))
    shares = (
        a.join(b, "term", "full_outer")
        .select(
            "term",
            F.coalesce("n1", F.lit(0)).alias("n1"),
            F.coalesce("n2", F.lit(0)).alias("n2"),
        )
        .filter(F.col("n1") + F.col("n2") >= 20)
        .select(
            "term",
            "n1",
            "n2",
            F.floor(10000.0 * F.col("n1") / F.lit(float(tot[1])))
            .cast("long")
            .alias("bps1"),
            F.floor(10000.0 * F.col("n2") / F.lit(float(tot[2])))
            .cast("long")
            .alias("bps2"),
        )
    )
    return (
        shares.withColumn("delta_bps", F.col("bps2") - F.col("bps1"))
        .orderBy(F.abs(F.col("delta_bps")).desc(), "term")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q295 — chi-square cell diagnostics: the standardized residual
# (o - e) / sqrt(e) for every (lang, source) cell — q279 says WHETHER
# language mix depends on source; this says WHICH cells drive it (the
# |residual| > 2 cells are the anomalous source-language combinations).
# Same broadcast-marginal shape as q279; residuals are deterministic
# double arithmetic over exact integer counts, floor-rounded.
# ---------------------------------------------------------------------------


@register(
    "q295_chisq_residuals",
    oracle=f"""
    WITH obs AS (
      SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source
    ),
    rt AS (SELECT lang, SUM(o) AS r FROM obs GROUP BY lang),
    ct AS (SELECT source, SUM(o) AS c FROM obs GROUP BY source),
    n AS (SELECT SUM(o) AS total FROM obs),
    grid AS (
      -- full r x c grid: zero-observed cells get residual -sqrt(e)
      SELECT rt.lang, ct.source, COALESCE(obs.o, 0) AS o,
             (CAST(rt.r AS DOUBLE) * ct.c) / n.total AS e
      FROM rt CROSS JOIN ct CROSS JOIN n
      LEFT JOIN obs ON obs.lang = rt.lang AND obs.source = ct.source
    )
    SELECT lang, source, o,
           {sql_round_det("e", 4)} AS expected,
           {sql_round_det("(o - e) / sqrt(e)", 4)} AS std_residual,
           (ABS((o - e) / sqrt(e)) > 2.0) AS anomalous
    FROM grid
    ORDER BY lang, source
    """,
    category="stats",
)
def q295_chisq_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rt = obs.groupBy("lang").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("total"))
    e = (F.col("r").cast("double") * F.col("c")) / F.col("total")
    resid = (F.col("o") - e) / F.sqrt(e)
    return (
        rt.crossJoin(F.broadcast(ct))
        .join(F.broadcast(obs), ["lang", "source"], "left")
        .crossJoin(F.broadcast(n))
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
        .select(
            "lang",
            "source",
            "o",
            round_det(e, 4).alias("expected"),
            round_det(resid, 4).alias("std_residual"),
            (F.abs(resid) > 2.0).alias("anomalous"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# q296 — dedup ROI curve: corpus survival at Jaccard thresholds
# {0.5, 0.7, 0.9} from ONE exact n-gram pair table (q39's inverted
# index, computed once and checkpointed; only the verify filter varies),
# with the deterministic smaller-id-survives rule. The calibration view
# a curation pipeline needs before committing to a threshold: how much
# corpus each setting costs. Pair cost is paid once; each threshold is
# a filter + anti-join over the bounded pair set.
# ---------------------------------------------------------------------------


def _q296_oracle() -> str:
    from hive_feature_demo_spark.plans.llmops import _SHINGLES_CTE

    return f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS nc
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_b, CAST(nc AS DOUBLE) / (sa.ns + sb.ns - nc) AS jaccard
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(nc AS DOUBLE) / (sa.ns + sb.ns - nc) >= 0.5
    ),
    thr AS (SELECT CAST(t.threshold AS DOUBLE) AS threshold
            FROM (VALUES (0.5), (0.7), (0.9)) t(threshold)),
    removed AS (
      SELECT thr.threshold, p.id_b
      FROM thr JOIN pairs p ON p.jaccard >= thr.threshold
      GROUP BY thr.threshold, p.id_b
    ),
    tot AS (SELECT COUNT(*) AS n_docs, SUM(n_chars) AS chars FROM documents)
    SELECT thr.threshold,
           SUM(CASE WHEN r.id_b IS NULL THEN 1 ELSE 0 END) AS n_kept,
           SUM(CASE WHEN r.id_b IS NULL THEN d.n_chars ELSE 0 END) AS chars_kept,
           CAST(FLOOR(10000.0 * (t.chars -
             SUM(CASE WHEN r.id_b IS NULL THEN d.n_chars ELSE 0 END))
             / t.chars) AS BIGINT) AS savings_bps
    FROM thr CROSS JOIN documents d
    LEFT JOIN removed r ON r.threshold = thr.threshold AND r.id_b = d.doc_id
    CROSS JOIN tot t
    GROUP BY thr.threshold, t.chars
    ORDER BY thr.threshold
    """


@register("q296_dedup_roi_curve", oracle=_q296_oracle(), category="llmops")
def q296_dedup_roi_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.operators import dedup

    docs = table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).select(
        "id_b", "jaccard"
    ).localCheckpoint(eager=True)
    # broadcast the 3-row grid: un-hinted, Spark plans CartesianProduct
    # (right side re-evaluated per left partition); broadcast-NLJ streams
    # the big side exactly once (r12 plan audit, scripts/audit_plans.py)
    thr = F.broadcast(
        spark.createDataFrame([(0.5,), (0.7,), (0.9,)], "threshold double")
    )
    removed = (
        thr.crossJoin(pairs)
        .filter(F.col("jaccard") >= F.col("threshold"))
        .select(F.col("threshold").alias("r_thr"), "id_b")
        .distinct()
    )
    tot = docs.agg(F.sum("n_chars").alias("chars"))
    graded = (
        thr.crossJoin(docs.select("doc_id", "n_chars"))
        .join(
            removed,
            (F.col("id_b") == F.col("doc_id")) & (F.col("r_thr") == F.col("threshold")),
            "left",
        )
        .select(
            "threshold",
            "n_chars",
            F.col("id_b").isNull().alias("kept"),
        )
    )
    return (
        graded.groupBy("threshold")
        .agg(
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_chars")).otherwise(0)).alias(
                "chars_kept"
            ),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            "n_kept",
            "chars_kept",
            F.floor(
                10000.0 * (F.col("chars") - F.col("chars_kept")) / F.col("chars")
            )
            .cast("long")
            .alias("savings_bps"),
        )
        .orderBy("threshold")
    )


# ---------------------------------------------------------------------------
# q297 — mixture rebalancing plan: per-source character budgets and the
# keep-rate (in basis points) that equalizes every source to the
# smallest source's volume — the downsampling plan that q142's weighted
# mixture sampler would execute (this op PLANS, q142 SAMPLES; same
# relationship as q258's skew advisor to the salted join). All integer
# arithmetic: rates floor to bps, expected volumes floor from the rate.
# ---------------------------------------------------------------------------


@register(
    "q297_mixture_rebalance_plan",
    oracle="""
    WITH s AS (
      SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS chars
      FROM documents GROUP BY source
    ),
    m AS (SELECT MIN(chars) AS target FROM s)
    SELECT s.source, s.n_docs, s.chars,
           CAST(FLOOR(10000.0 * m.target / s.chars) AS BIGINT) AS keep_rate_bps,
           CAST(FLOOR(s.chars * FLOOR(10000.0 * m.target / s.chars) / 10000.0)
                AS BIGINT) AS expected_chars
    FROM s CROSS JOIN m
    ORDER BY s.source
    """,
    category="curation",
)
def q297_mixture_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars")
    )
    m = s.agg(F.min("chars").alias("target"))
    rate = F.floor(10000.0 * F.col("target") / F.col("chars"))
    return (
        s.crossJoin(F.broadcast(m))
        .select(
            "source",
            "n_docs",
            "chars",
            rate.cast("long").alias("keep_rate_bps"),
            F.floor(F.col("chars") * rate / 10000.0).cast("long").alias(
                "expected_chars"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q298 — binned two-sample KS on order values, first half vs second half
# of the order history: q291's KS needs the distinct-value grid, which is
# bounded for integer lengths but NOT for near-continuous money — so
# this variant bins values onto a fixed 1024-cell grid first (the same
# value-grid device as global_rank), making ECDF evaluation
# grid-bounded at any scale, at grid-resolution cost that is explicit in
# the name. Both engines floor the identical (p - min)/step division.
# ---------------------------------------------------------------------------


@register(
    "q298_binned_ks_price_drift",
    oracle=f"""
    WITH bounds AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    ),
    binned AS (
      SELECT CASE WHEN o.o_orderdate < DATE '{_H_CUT}' THEN 1 ELSE 2 END AS half,
             CAST(LEAST(1023, GREATEST(0,
               FLOOR((o.o_totalprice - b.lo) / ((b.hi - b.lo) / 1024.0))
             )) AS BIGINT) AS cell
      FROM orders o CROSS JOIN bounds b
    ),
    counts AS (
      SELECT cell,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS n2
      FROM binned GROUP BY cell
    ),
    tot AS (SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM counts),
    cum AS (
      SELECT SUM(n1) OVER (ORDER BY cell
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
             SUM(n2) OVER (ORDER BY cell
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
      FROM counts
    )
    SELECT MAX(t.t1) AS n_first_half, MAX(t.t2) AS n_second_half,
           1024 AS n_cells,
           CAST(FLOOR(10000.0 * MAX(ABS(
             c.c1 / CAST(t.t1 AS DOUBLE) - c.c2 / CAST(t.t2 AS DOUBLE)
           ))) AS BIGINT) AS ks_bps
    FROM cum c CROSS JOIN tot t
    """,
    category="stats",
)
def q298_binned_ks_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    # grid origin and step as a one-row crossJoin, not a collect: no
    # build-time job, and empty input gives DuckDB's one all-NULL row
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"),
        ((F.max("o_totalprice") - F.min("o_totalprice")) / 1024.0).alias("step"),
    )
    binned = o.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("o_orderdate") < _H_CUT, 1).otherwise(2).alias("half"),
        F.least(
            F.lit(1023),
            F.greatest(
                F.lit(0), F.floor((F.col("o_totalprice") - F.col("lo")) / F.col("step"))
            ),
        )
        .cast("long")
        .alias("cell"),
    )
    counts = binned.groupBy("cell").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0)).alias("n2"),
    )
    tot = counts.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    # the 1024-row cumulative runs on the bounded grid — single partition
    # is safe BY CONSTRUCTION (grid size, not data size)
    w = Window.orderBy("cell").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = counts.select(
        F.sum("n1").over(w).alias("c1"), F.sum("n2").over(w).alias("c2")
    )
    diff = F.abs(
        F.col("c1") / F.col("t1").cast("double")
        - F.col("c2") / F.col("t2").cast("double")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max("t1").alias("n_first_half"),
            F.max("t2").alias("n_second_half"),
            F.lit(1024).alias("n_cells"),
            F.floor(10000.0 * F.max(diff)).cast("long").alias("ks_bps"),
        )
    )


# ---------------------------------------------------------------------------
# q299 — Markov stationary distribution: the long-run share of each
# event type under q205's transition matrix, by 30 fixed power-iteration
# rounds of pi <- pi P on the |types| x |types| matrix (5x5 here) — the
# steady-state complement to q205's one-step probabilities, same
# fixed-round engine-exact contract as q162/q281. Transition
# probabilities are exact count ratios; every matrix-vector term sums in
# decimal; the oracle unrolls the same rounds as MATERIALIZED CTEs.
# ---------------------------------------------------------------------------

_MK_ROUNDS = 30


def _q299_oracle() -> str:
    it = """
    p{k} AS MATERIALIZED (
      SELECT tm.to_type AS t,
             CAST(SUM(CAST(p{j}.pr * tm.p AS DECIMAL(25,10))) AS DOUBLE) AS pr
      FROM tm JOIN p{j} ON tm.from_type = p{j}.t GROUP BY tm.to_type
    )"""
    rounds = "".join("," + it.format(k=k, j=k - 1) for k in range(1, _MK_ROUNDS + 1))
    return (
        """
    WITH seq AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    pairs AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type
    ),
    tm AS MATERIALIZED (
      SELECT from_type, to_type,
             n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      FROM pairs
    ),
    types AS MATERIALIZED (SELECT DISTINCT from_type AS t FROM pairs),
    nt AS (SELECT COUNT(*) AS k FROM types),
    p0 AS (SELECT types.t, 1.0 / nt.k AS pr FROM types CROSS JOIN nt)"""
        + rounds
        + f"""
    SELECT p{_MK_ROUNDS}.t AS event_type,
           (FLOOR(p{_MK_ROUNDS}.pr * 1000000.0 + 0.5) / 1000000.0) AS stationary,
           CAST(FLOOR(10000.0 * p{_MK_ROUNDS}.pr) AS BIGINT) AS stationary_bps
    FROM p{_MK_ROUNDS} ORDER BY event_type
    """
    )


@register("q299_markov_stationary", oracle=_q299_oracle(), category="stats")
def q299_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    w_row = Window.partitionBy("from_type")
    tm = pairs.select(
        "from_type",
        "to_type",
        (F.col("n") / F.sum("n").over(w_row).cast("double")).alias("p"),
    ).localCheckpoint(eager=True)
    types = [r["from_type"] for r in tm.select("from_type").distinct().collect()]
    k = len(types)
    pi = spark.createDataFrame([(t, 1.0 / k) for t in sorted(types)], "t string, pr double")
    for _ in range(_MK_ROUNDS):
        rows = (
            tm.join(pi, tm.from_type == pi.t)
            .groupBy(F.col("to_type").alias("nt"))
            .agg(
                F.sum((F.col("pr") * F.col("p")).cast(_DEC)).cast("double").alias(
                    "npr"
                )
            )
            .collect()
        )
        pi = spark.createDataFrame(
            [(r["nt"], float(r["npr"])) for r in rows], "t string, pr double"
        )
    return pi.select(
        F.col("t").alias("event_type"),
        round_det(F.col("pr"), 6).alias("stationary"),
        F.floor(10000.0 * F.col("pr")).cast("long").alias("stationary_bps"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q300 — curation waterfall: the end-to-end token-budget ledger of a
# training-data pipeline as ONE report — raw corpus, after exact dedup
# (md5, min-id survivor), after near-dup dedup (3-gram Jaccard >= 0.8,
# smaller-id survives, pairs computed among exact survivors), after
# quality bounds (100 <= n_chars <= 500), and the post-rebalance budget
# (q297's keep-rates applied to the surviving per-source volumes). Each
# stage reuses the engine's own operator semantics; the oracle replays
# every rule. The report a data lead reads before a training run:
# where the corpus went.
# ---------------------------------------------------------------------------


def _q300_oracle() -> str:
    return """
    WITH surv1 AS (
      SELECT d.* FROM documents d
      JOIN (SELECT md5(text) AS h, MIN(doc_id) AS keeper
            FROM documents GROUP BY md5(text)) k
        ON md5(d.text) = k.h AND d.doc_id = k.keeper
    ),
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM surv1
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(t) - 2),
               i -> array_to_string(t[i:i+2], ' ')))) AS shingle
      FROM toks WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id),
    removed2 AS (
      SELECT DISTINCT b.doc_id
      FROM sh a JOIN sh b USING (shingle)
      JOIN sizes sa ON sa.doc_id = a.doc_id
      JOIN sizes sb ON sb.doc_id = b.doc_id
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, sa.ns, sb.ns
      HAVING CAST(COUNT(*) AS DOUBLE) / (sa.ns + sb.ns - COUNT(*)) >= 0.8
    ),
    surv2 AS (
      SELECT * FROM surv1 WHERE doc_id NOT IN (SELECT doc_id FROM removed2)
    ),
    surv3 AS (
      SELECT * FROM surv2 WHERE n_chars BETWEEN 100 AND 500
    ),
    per_src AS (
      SELECT source, COUNT(*) AS n, SUM(n_chars) AS chars
      FROM surv3 GROUP BY source
    ),
    target AS (SELECT MIN(chars) AS t FROM per_src),
    rebal AS (
      SELECT SUM(CAST(FLOOR(p.n * FLOOR(10000.0 * tg.t / p.chars) / 10000.0)
                 AS BIGINT)) AS n,
             SUM(CAST(FLOOR(p.chars * FLOOR(10000.0 * tg.t / p.chars) / 10000.0)
                 AS BIGINT)) AS chars
      FROM per_src p CROSS JOIN target tg
    )
    SELECT * FROM (
      SELECT 1 AS stage_id, 'raw' AS stage,
             COUNT(*) AS n_docs, SUM(n_chars) AS chars FROM documents
      UNION ALL
      SELECT 2, 'exact_dedup', COUNT(*), SUM(n_chars) FROM surv1
      UNION ALL
      SELECT 3, 'near_dedup', COUNT(*), SUM(n_chars) FROM surv2
      UNION ALL
      SELECT 4, 'quality', COUNT(*), SUM(n_chars) FROM surv3
      UNION ALL
      SELECT 5, 'rebalanced', n, chars FROM rebal
    ) ORDER BY stage_id
    """


@register("q300_curation_waterfall", oracle=_q300_oracle(), category="curation")
def q300_curation_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.operators import dedup

    docs = table(spark, sf_dir, "documents")
    keepers = docs.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("keeper")
    )
    surv1 = docs.join(
        keepers,
        (F.md5(F.col("text").cast("binary")) == F.col("h"))
        & (F.col("doc_id") == F.col("keeper")),
    ).drop("h", "keeper").localCheckpoint(eager=True)
    removed2 = (
        dedup.jaccard_pairs(surv1, "doc_id", "text", n=3, threshold=0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    surv2 = surv1.join(removed2, "doc_id", "left_anti").localCheckpoint(eager=True)
    surv3 = surv2.filter(F.col("n_chars").between(100, 500))
    per_src = surv3.groupBy("source").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("chars")
    )
    target = per_src.agg(F.min("chars").alias("t"))
    rate = F.floor(10000.0 * F.col("t") / F.col("chars"))
    rebal = (
        per_src.crossJoin(F.broadcast(target))
        .select(
            F.floor(F.col("n") * rate / 10000.0).cast("long").alias("rn"),
            F.floor(F.col("chars") * rate / 10000.0).cast("long").alias("rc"),
        )
        .agg(F.sum("rn").alias("n"), F.sum("rc").alias("chars"))
    )

    def stage(df, sid, name):
        return df.agg(
            F.lit(sid).alias("stage_id"),
            F.lit(name).alias("stage"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("chars"),
        )

    out = (
        stage(docs, 1, "raw")
        .unionByName(stage(surv1, 2, "exact_dedup"))
        .unionByName(stage(surv2, 3, "near_dedup"))
        .unionByName(stage(surv3, 4, "quality"))
        .unionByName(
            rebal.select(
                F.lit(5).alias("stage_id"),
                F.lit("rebalanced").alias("stage"),
                F.col("n").alias("n_docs"),
                F.col("chars"),
            )
        )
    )
    return out.orderBy("stage_id")


# ---------------------------------------------------------------------------
# q301 — supplier on-time league table, ranked by the WILSON lower bound
# of the on-time proportion (ship within 30 days): ranking by raw share
# promotes tiny-sample suppliers with lucky 2/2 records; the Wilson
# score interval's lower bound is the standard small-sample-safe
# ranking statistic. One co-partitioned join + per-supplier counts; the
# closed-form bound is deterministic double arithmetic over exact
# integer counts (z = 1.96 literal); ranking on the rounded bound.
# ---------------------------------------------------------------------------

_Z = "1.96"


@register(
    "q301_wilson_ranking",
    oracle=f"""
    WITH lat AS (
      SELECT l.l_suppkey,
             CASE WHEN DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
                                 CAST(l.l_shipdate AS DATE)) <= 30
                  THEN 1 ELSE 0 END AS on_time
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    agg AS (
      SELECT l_suppkey, COUNT(*) AS n, SUM(on_time) AS k FROM lat
      GROUP BY l_suppkey
    ),
    scored AS (
      SELECT l_suppkey, n, k,
             (k / CAST(n AS DOUBLE)) AS p,
             ((k / CAST(n AS DOUBLE)) + {_Z}*{_Z} / (2.0 * n)
              - {_Z} * sqrt((k / CAST(n AS DOUBLE)) * (1.0 - k / CAST(n AS DOUBLE)) / n
                            + {_Z}*{_Z} / (4.0 * n * n)))
             / (1.0 + {_Z}*{_Z} / n) AS lb
      FROM agg
    )
    SELECT l_suppkey, n, k,
           CAST(FLOOR(10000.0 * p) AS BIGINT) AS on_time_bps,
           {sql_round_det("lb", 6)} AS wilson_lb
    FROM scored
    ORDER BY {sql_round_det("lb", 6)} DESC, l_suppkey
    LIMIT 20
    """,
    category="stats",
)
def q301_wilson_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    z = float(_Z)
    lat = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "l_suppkey",
        F.when(F.datediff("sd", "od") <= 30, 1).otherwise(0).alias("on_time"),
    )
    agg = lat.groupBy("l_suppkey").agg(
        F.count("*").alias("n"), F.sum("on_time").alias("k")
    )
    p = F.col("k") / F.col("n").cast("double")
    lb = (
        p
        + F.lit(z * z) / (2.0 * F.col("n"))
        - F.lit(z)
        * F.sqrt(p * (F.lit(1.0) - p) / F.col("n") + F.lit(z * z) / (4.0 * F.col("n") * F.col("n")))
    ) / (F.lit(1.0) + F.lit(z * z) / F.col("n"))
    return (
        agg.select(
            "l_suppkey",
            "n",
            "k",
            F.floor(10000.0 * p).cast("long").alias("on_time_bps"),
            round_det(lb, 6).alias("wilson_lb"),
        )
        .orderBy(F.desc("wilson_lb"), "l_suppkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q302 — Cohen's kappa between the labeled language column and q33's
# n-gram lang-ID heuristic: chance-corrected agreement, the metric that
# tells a pipeline whether its cheap classifier beats the marginal
# guesser (accuracy alone can't — q239's confusion matrix shows WHERE
# they disagree; kappa scores WHETHER the agreement is real). Reuses
# q33's prediction (and its oracle SQL verbatim as a nested CTE);
# marginal products accumulate in exact decimal.
# ---------------------------------------------------------------------------


def _q302_oracle() -> str:
    from hive_feature_demo_spark.plans.llmops import _lang_sql

    return f"""
    WITH pred AS ({_lang_sql()}),
    n AS (SELECT COUNT(*) AS total FROM pred),
    po AS (
      SELECT SUM(CASE WHEN lang_match THEN 1 ELSE 0 END) AS agree FROM pred
    ),
    marg AS (
      SELECT COALESCE(r.lab, c.lab) AS lab,
             COALESCE(r.r, 0) AS r, COALESCE(c.c, 0) AS c
      FROM (SELECT lang AS lab, COUNT(*) AS r FROM pred GROUP BY lang) r
      FULL OUTER JOIN (SELECT predicted_lang AS lab, COUNT(*) AS c
                       FROM pred GROUP BY predicted_lang) c
        ON r.lab = c.lab
    ),
    pe AS (
      SELECT CAST(SUM(CAST((CAST(r AS DOUBLE) / n.total)
                           * (c / CAST(n.total AS DOUBLE)) AS DECIMAL(25,10)))
                  AS DOUBLE) AS pe
      FROM marg CROSS JOIN n
    )
    SELECT n.total AS n_docs,
           {sql_round_det("po.agree / CAST(n.total AS DOUBLE)", 6)} AS po,
           {sql_round_det("pe.pe", 6)} AS pe,
           {sql_round_det(
               "(po.agree / CAST(n.total AS DOUBLE) - pe.pe) / (1.0 - pe.pe)", 6
           )} AS kappa
    FROM n CROSS JOIN po CROSS JOIN pe
    """


@register("q302_cohens_kappa", oracle=_q302_oracle(), category="textstats")
def q302_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.plans.llmops import q33_lang_id

    pred = q33_lang_id(spark, sf_dir).select("lang", "predicted_lang").localCheckpoint(
        eager=True
    )
    total = pred.count()
    agree = pred.filter(F.col("lang") == F.col("predicted_lang")).count()
    r = pred.groupBy(F.col("lang").alias("lab")).agg(F.count("*").alias("r"))
    c = pred.groupBy(F.col("predicted_lang").alias("lab")).agg(
        F.count("*").alias("c")
    )
    marg = r.join(c, "lab", "full_outer").select(
        F.coalesce("r", F.lit(0)).alias("r"), F.coalesce("c", F.lit(0)).alias("c")
    )
    pe_df = marg.agg(
        F.sum(
            (
                (F.col("r").cast("double") / F.lit(float(total)))
                * (F.col("c") / F.lit(float(total)))
            ).cast(_DEC)
        )
        .cast("double")
        .alias("pe")
    )
    po = agree / float(total)
    return pe_df.select(
        F.lit(total).cast("long").alias("n_docs"),
        round_det(F.lit(po), 6).alias("po"),
        round_det(F.col("pe"), 6).alias("pe"),
        round_det((F.lit(po) - F.col("pe")) / (F.lit(1.0) - F.col("pe")), 6).alias(
            "kappa"
        ),
    )


# ---------------------------------------------------------------------------
# q305 — Mann-Whitney U (Wilcoxon rank-sum) test: are document lengths
# (n_chars) from the first source family (src0-src9) drawn from the same
# distribution as the second (src10-src19)? The nonparametric two-sample
# location test a corpus audit reaches for when q298's KS needs a
# rank-based complement. Scale shape (q291's): ranks are NEVER assigned
# per row — the distinct-value grid carries per-group counts, a window
# over DISTINCT values (bounded by value cardinality, not corpus size)
# yields cumulative counts, and tie-averaged rank sums come out in exact
# INTEGER space: 2*R1 = sum n1_v * (2*cum_before + n_v + 1). The z-score
# applies the standard tie-corrected variance. No global per-row sort
# ever happens.
# ---------------------------------------------------------------------------


@register(
    "q305_mann_whitney_u",
    oracle=f"""
    WITH d AS (
      SELECT CASE WHEN CAST(SUBSTR(source, 4) AS INT) < 10 THEN 1 ELSE 2 END AS grp,
             n_chars AS v
      FROM documents
    ),
    grid AS (
      SELECT v,
             SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1v,
             COUNT(*) AS nv
      FROM d GROUP BY v
    ),
    cum AS (
      SELECT v, n1v, nv,
             COALESCE(SUM(nv) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM grid
    ),
    tots AS (
      SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
             CAST(SUM(nv - n1v) AS BIGINT) AS n2,
             CAST(SUM(n1v * (2 * cb + nv + 1)) AS BIGINT) AS r1_twice,
             CAST(SUM(nv * nv * nv - nv) AS BIGINT) AS tie_term,
             CAST(SUM(nv) AS BIGINT) AS n
      FROM cum
    )
    SELECT n1, n2,
           CAST(r1_twice AS DOUBLE) / 2.0 AS r1,
           (CAST(r1_twice AS DOUBLE) - n1 * (n1 + 1.0)) / 2.0 AS u1,
           n1 * CAST(n2 AS DOUBLE)
             - (CAST(r1_twice AS DOUBLE) - n1 * (n1 + 1.0)) / 2.0 AS u2,
           {sql_round_det(
               "((CAST(r1_twice AS DOUBLE) - n1 * (n1 + 1.0)) / 2.0"
               " - n1 * CAST(n2 AS DOUBLE) / 2.0)"
               " / sqrt(n1 * CAST(n2 AS DOUBLE) / 12.0"
               "   * ((n + 1.0) - CAST(tie_term AS DOUBLE) / (n * (n - 1.0))))",
               6,
           )} AS z_score
    FROM tots
    """,
    category="stats",
)
def q305_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        F.when(F.substring("source", 4, 10).cast("int") < 10, 1)
        .otherwise(2)
        .alias("grp"),
        F.col("n_chars").alias("v"),
    )
    grid = d.groupBy("v").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n1v"),
        F.count("*").alias("nv"),
    )
    # window over DISTINCT values — cardinality-bounded, same scale
    # argument as q291's ECDF grid
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = grid.withColumn("cb", F.coalesce(F.sum("nv").over(w), F.lit(0)))
    tots = cum.agg(
        F.sum("n1v").cast("long").alias("n1"),
        F.sum(F.col("nv") - F.col("n1v")).cast("long").alias("n2"),
        F.sum(F.col("n1v") * (2 * F.col("cb") + F.col("nv") + 1))
        .cast("long")
        .alias("r1_twice"),
        F.sum(F.col("nv") * F.col("nv") * F.col("nv") - F.col("nv"))
        .cast("long")
        .alias("tie_term"),
        F.sum("nv").cast("long").alias("n"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = F.col("n").cast("double")
    u1 = (F.col("r1_twice").cast("double") - n1d * (n1d + 1.0)) / 2.0
    var = (
        n1d * n2d / 12.0
        * ((nd + 1.0) - F.col("tie_term").cast("double") / (nd * (nd - 1.0)))
    )
    return tots.select(
        "n1",
        "n2",
        (F.col("r1_twice").cast("double") / 2.0).alias("r1"),
        u1.alias("u1"),
        (n1d * n2d - u1).alias("u2"),
        round_det((u1 - n1d * n2d / 2.0) / F.sqrt(var), 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# q308 — Theil-Sen robust trend of monthly revenue: the MEDIAN of all
# pairwise slopes between monthly totals (+ the median-residual
# intercept) — the outlier-proof alternative to q106's least-squares
# trend lines (one wild month can't move it, breakdown point 29%). Scale
# shape: the fact table reduces to the ~80-row MONTH grid first; the
# pairwise self-join and positional-median windows run on grid²/2 ≈ 3k
# rows — bounded by calendar cardinality, never corpus size (the q291
# grid argument). Monthly totals in exact cents; medians selected
# POSITIONALLY (avg of the two middle sorted values) so both engines
# pick identical doubles.
# ---------------------------------------------------------------------------


@register(
    "q308_theil_sen_trend",
    oracle=f"""
    WITH monthly AS (
      SELECT (EXTRACT(YEAR FROM o_orderdate) * 12
              + EXTRACT(MONTH FROM o_orderdate)) AS m,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT (b.cents - a.cents) / (1.0 * (b.m - a.m)) AS slope
      FROM monthly a JOIN monthly b ON a.m < b.m
    ),
    ranked AS (
      SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn, COUNT(*) OVER () AS n
      FROM pairs
    ),
    med_slope AS (
      SELECT AVG(slope) AS ts_slope FROM ranked
      WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
    ),
    resid AS (
      SELECT monthly.cents - med_slope.ts_slope * monthly.m AS r
      FROM monthly CROSS JOIN med_slope
    ),
    rranked AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn, COUNT(*) OVER () AS n
      FROM resid
    ),
    med_int AS (
      SELECT AVG(r) AS intercept FROM rranked
      WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM monthly) AS n_months,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_pairs,
           {sql_round_det("(SELECT ts_slope FROM med_slope) / 100.0", 4)}
             AS slope_per_month,
           {sql_round_det("(SELECT intercept FROM med_int) / 100.0", 4)}
             AS intercept
    """,
    category="stats",
)
def q308_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m")
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .localCheckpoint(eager=True)  # ~80 rows, feeds 3 consumers
    )
    a = monthly.select(F.col("m").alias("m1"), F.col("cents").alias("c1"))
    b = monthly.select(F.col("m").alias("m2"), F.col("cents").alias("c2"))
    pairs = (
        a.join(b, F.col("m1") < F.col("m2"))
        .select(
            ((F.col("c2") - F.col("c1")) / (1.0 * (F.col("m2") - F.col("m1"))))
            .alias("slope")
        )
    )

    def positional_median(df, col):
        # window over the bounded grid (<= months^2/2 rows) — not the fact
        w = Window.orderBy(col)
        ranked = df.withColumn("rn", F.row_number().over(w)).withColumn(
            "n", F.count("*").over(Window.partitionBy())
        )
        return ranked.filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
        ).agg(F.avg(col).alias("med"))

    med_slope = positional_median(pairs, "slope").select(
        F.col("med").alias("ts_slope")
    )
    resid = monthly.crossJoin(F.broadcast(med_slope)).select(
        (F.col("cents") - F.col("ts_slope") * F.col("m")).alias("r"), "ts_slope"
    )
    med_int = positional_median(resid.select("r"), "r").select(
        F.col("med").alias("intercept")
    )
    counts = monthly.agg(F.count("*").cast("long").alias("n_months"))
    npairs = pairs.agg(F.count("*").cast("long").alias("n_pairs"))
    return (
        counts.crossJoin(F.broadcast(npairs))
        .crossJoin(F.broadcast(med_slope))
        .crossJoin(F.broadcast(med_int))
        .select(
            "n_months",
            "n_pairs",
            round_det(F.col("ts_slope") / 100.0, 4).alias("slope_per_month"),
            round_det(F.col("intercept") / 100.0, 4).alias("intercept"),
        )
    )


# ---------------------------------------------------------------------------
# q315 — EXACT Shapley-value channel attribution: credit each
# non-purchase channel (click/error/signup/view) for conversions with
# the game-theoretic attribution q166's positional heuristics
# approximate. Characteristic function v(S) = number of converting
# users whose full touched-channel set fits inside S (a user converts
# only when all their touchpoints are enabled) — monotone and
# deterministic. With n=4 channels the 16 subsets enumerate exactly and
# every Shapley weight |S|!(n-1-|S|)!/n! has denominator 24, so credits
# are computed as INTEGERS scaled by 24 — hash-exact, no float
# marginals. Scale shape: the corpus reduces to <= 16 (mask ->
# converter-count) rows in one grouped pass; the subset lattice and the
# 32-row (channel, S, S+i) pair table are constants; everything after
# the first agg is grid-sized. The efficiency property
# (sum of credits == v(all) - v(empty)) is asserted in tests.
# ---------------------------------------------------------------------------

_SHAP_CHANNELS = ("click", "error", "signup", "view")
_SHAP_N = len(_SHAP_CHANNELS)
_SHAP_BIT = {c: 1 << i for i, c in enumerate(_SHAP_CHANNELS)}


def _shap_weight(s_size: int) -> int:
    import math

    return math.factorial(s_size) * math.factorial(_SHAP_N - 1 - s_size)


#: (channel, mask_without, mask_with, integer weight) for every channel x
#: subset-not-containing-it — 32 rows, embedded identically in both engines
_SHAP_PAIRS = [
    (c, s, s | _SHAP_BIT[c], _shap_weight(bin(s).count("1")))
    for c in _SHAP_CHANNELS
    for s in range(1 << _SHAP_N)
    if not s & _SHAP_BIT[c]
]

_SHAP_PAIRS_SQL = ", ".join(f"('{c}', {a}, {b}, {w})" for c, a, b, w in _SHAP_PAIRS)

_SHAP_MASK_SQL = " + ".join(
    f"MAX(CASE WHEN event_type = '{c}' THEN {_SHAP_BIT[c]} ELSE 0 END)"
    for c in _SHAP_CHANNELS
)


@register(
    "q315_shapley_attribution",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             {_SHAP_MASK_SQL} AS mask,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events
      GROUP BY user_id
    ),
    mask_counts AS (
      SELECT mask, CAST(SUM(converted) AS BIGINT) AS conv
      FROM per_user GROUP BY mask
    ),
    subsets AS (SELECT s FROM generate_series(0, {(1 << _SHAP_N) - 1}) g(s)),
    v AS (
      SELECT s.s AS mask, CAST(COALESCE(SUM(m.conv), 0) AS BIGINT) AS v
      FROM subsets s
      LEFT JOIN mask_counts m ON (m.mask & ~s.s) & {(1 << _SHAP_N) - 1} = 0
      GROUP BY s.s
    ),
    pairs(channel, s_without, s_with, w) AS (VALUES {_SHAP_PAIRS_SQL})
    SELECT p.channel,
           CAST(SUM(p.w * (vw.v - vo.v)) AS BIGINT) AS credit_x24,
           round(floor(CAST(SUM(p.w * (vw.v - vo.v)) AS DOUBLE)
                 / 24.0 * 1000000 + 0.5) / 1000000, 6)
             AS shapley_credit
    FROM pairs p
    JOIN v vo ON vo.mask = p.s_without
    JOIN v vw ON vw.mask = p.s_with
    GROUP BY p.channel
    ORDER BY p.channel
    """,
    category="stats",
)
def q315_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    mask = None
    for c in _SHAP_CHANNELS:
        term = F.max(
            F.when(F.col("event_type") == c, _SHAP_BIT[c]).otherwise(0)
        )
        mask = term if mask is None else mask + term
    per_user = e.groupBy("user_id").agg(
        mask.alias("mask"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        ),
    )
    mask_counts = per_user.groupBy("mask").agg(
        F.sum("converted").cast("long").alias("conv")
    )  # <= 16 rows
    full = (1 << _SHAP_N) - 1
    subsets = spark.range(0, 1 << _SHAP_N).select(F.col("id").cast("int").alias("s"))
    v = (
        subsets.join(
            F.broadcast(mask_counts),
            # mask & complement(s) == 0, i.e. mask fits inside s; for
            # s <= full the complement within the lattice is full - s
            (F.col("mask").bitwiseAND(F.lit(full) - F.col("s"))) == 0,
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("conv"), F.lit(0)).cast("long").alias("v"))
    )
    pairs = spark.createDataFrame(
        _SHAP_PAIRS, "channel string, s_without int, s_with int, w long"
    )
    import math

    n_fact = math.factorial(_SHAP_N)
    vo = v.select(F.col("s").alias("s_without"), F.col("v").alias("v_without"))
    vw = v.select(F.col("s").alias("s_with"), F.col("v").alias("v_with"))
    credit = F.sum(F.col("w") * (F.col("v_with") - F.col("v_without"))).cast("long")
    return (
        pairs.join(F.broadcast(vo), "s_without")
        .join(F.broadcast(vw), "s_with")
        .groupBy("channel")
        .agg(
            credit.alias("credit_x24"),
            F.round(
                F.floor(credit.cast("double") / n_fact * 1_000_000 + 0.5)
                / 1_000_000,
                6,
            ).alias("shapley_credit"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# q316 — split-conformal interval calibration for the seasonal-naive
# forecaster (q282's lag-7 predictor made deployable): residuals on a
# CALIBRATION window (first 12 scored days) yield the distribution-free
# 90% radius q_hat = the ceil(0.9*(n+1))-th smallest |residual|; the
# EVAL window (remaining days) then measures empirical coverage of
# pred ± q_hat. The standard finite-sample-valid uncertainty wrapper
# for any point forecaster — no distributional assumption, exact
# positional quantile (value-and-day tie-broken), coverage in integer
# basis points. All computation on the bounded (event_type x day) grid.
# ---------------------------------------------------------------------------


@register(
    "q316_conformal_backtest",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             {sql_round_det(sql_exact_sum("value"), 6)} AS rev
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    d0 AS (SELECT MIN(day) AS d0 FROM daily),
    scored AS (
      SELECT a.event_type, a.day, abs(a.rev - p.rev) AS absr
      FROM daily a
      JOIN daily p ON a.event_type = p.event_type AND a.day = p.day + 7
    ),
    cal AS (
      SELECT s.event_type, s.absr,
             ROW_NUMBER() OVER (PARTITION BY s.event_type
                                ORDER BY s.absr, s.day) AS rn,
             COUNT(*) OVER (PARTITION BY s.event_type) AS n_cal
      FROM scored s CROSS JOIN d0
      WHERE s.day < d0.d0 + 19
    ),
    qhat AS (
      SELECT event_type, n_cal, absr AS q_hat
      FROM cal WHERE rn = CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT)
    ),
    ev AS (
      SELECT s.event_type, s.absr FROM scored s CROSS JOIN d0
      WHERE s.day >= d0.d0 + 19
    )
    SELECT q.event_type,
           CAST(q.n_cal AS BIGINT) AS n_cal,
           COUNT(*) AS n_eval,
           {sql_round_det('q.q_hat', 6)} AS q_hat,
           CAST(FLOOR(10000.0 * SUM(CASE WHEN ev.absr <= q.q_hat
                                         THEN 1 ELSE 0 END) / COUNT(*)) AS BIGINT)
             AS coverage_bp
    FROM qhat q JOIN ev ON ev.event_type = q.event_type
    GROUP BY q.event_type, q.n_cal, q.q_hat
    ORDER BY q.event_type
    """,
    category="stats",
)
def q316_conformal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        round_det(F.sum(F.col("value").cast(_DEC)).cast("double"), 6).alias("rev")
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    a = daily.select("event_type", "day", F.col("rev").alias("actual"))
    p = daily.select(
        "event_type", F.date_add("day", 7).alias("day"), F.col("rev").alias("pred")
    )
    scored = (
        a.join(p, ["event_type", "day"])
        .crossJoin(F.broadcast(d0))
        .select(
            "event_type",
            "day",
            "d0",
            F.abs(F.col("actual") - F.col("pred")).alias("absr"),
        )
    )
    wcal = Window.partitionBy("event_type").orderBy("absr", "day")
    cal = (
        scored.filter(F.col("day") < F.date_add("d0", 19))
        .withColumn("rn", F.row_number().over(wcal))
        .withColumn("n_cal", F.count("*").over(Window.partitionBy("event_type")))
    )
    qhat = cal.filter(
        F.col("rn") == F.ceil(0.9 * (F.col("n_cal") + 1)).cast("long")
    ).select("event_type", "n_cal", F.col("absr").alias("q_hat"))
    ev = scored.filter(F.col("day") >= F.date_add("d0", 19)).select(
        "event_type", "absr"
    )
    return (
        qhat.join(ev, "event_type")
        .groupBy("event_type", "n_cal", "q_hat")
        .agg(
            F.count("*").alias("n_eval"),
            F.floor(
                10000.0
                * F.sum(F.when(F.col("absr") <= F.col("q_hat"), 1).otherwise(0))
                / F.count("*")
            )
            .cast("long")
            .alias("coverage_bp"),
        )
        .select(
            "event_type",
            F.col("n_cal").cast("long").alias("n_cal"),
            "n_eval",
            round_det(F.col("q_hat"), 6).alias("q_hat"),
            "coverage_bp",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q317 — population stability index (PSI) of order value, first half of
# the date range vs second: THE industry drift screen for a deployed
# model's input distribution (PSI < 0.1 stable, 0.1-0.25 shifting,
# > 0.25 retrain). Ten fixed-width bins over the global value range
# (deterministic grid, no quantile estimation), Laplace +0.5 smoothing
# so empty bins contribute finitely, per-bin contributions
# (pA - pB) * ln(pA / pB) emitted as data. The fact reduces to 10 bins x
# 2 halves in one grouped pass; the grid min/max is a broadcast scalar.
# ---------------------------------------------------------------------------

_PSI_BINS = 10


@register(
    "q317_psi_value_drift",
    oracle=f"""
    WITH bounds AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
             MIN(o_orderdate) AS d0, MAX(o_orderdate) AS d1
      FROM orders
    ),
    binned AS (
      SELECT LEAST({_PSI_BINS - 1}, GREATEST(0, CAST(FLOOR(
               (o.o_totalprice - b.lo) / ((b.hi - b.lo) / {_PSI_BINS}.0)
             ) AS INT))) AS bin,
             CASE WHEN o.o_orderdate < b.d0
                       + CAST(FLOOR(date_diff('day', b.d0, b.d1) / 2) AS INT)
                       * INTERVAL 1 DAY
                  THEN 1 ELSE 2 END AS half
      FROM orders o CROSS JOIN bounds b
    ),
    cells AS (
      SELECT g.b AS bin,
             CAST(COALESCE(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_first,
             CAST(COALESCE(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_second
      FROM generate_series(0, {_PSI_BINS - 1}) g(b)
      LEFT JOIN binned ON binned.bin = g.b
      GROUP BY g.b
    ),
    tot AS (
      SELECT SUM(n_first) AS t1, SUM(n_second) AS t2 FROM cells
    ),
    shares AS (
      SELECT bin, n_first, n_second,
             (n_first + 0.5) / (t1 + 0.5 * {_PSI_BINS}) AS p1,
             (n_second + 0.5) / (t2 + 0.5 * {_PSI_BINS}) AS p2
      FROM cells CROSS JOIN tot
    )
    SELECT bin, n_first, n_second,
           {sql_round_det("(p1 - p2) * ln(p1 / p2)", 6)} AS psi_contrib
    FROM shares
    ORDER BY bin
    """,
    category="stats",
)
def q317_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.min("o_orderdate").alias("d0"),
        F.max("o_orderdate").alias("d1"),
    )
    step = (F.col("hi") - F.col("lo")) / float(_PSI_BINS)
    pivot = F.date_add(
        F.col("d0"),
        F.floor(F.datediff(F.col("d1"), F.col("d0")) / 2).cast("int"),
    )
    binned = o.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(_PSI_BINS - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col("o_totalprice") - F.col("lo")) / step).cast("int"),
            ),
        ).alias("bin"),
        F.when(F.col("o_orderdate") < pivot.cast("timestamp"), 1)
        .otherwise(2)
        .alias("half"),
    )
    grid = spark.range(0, _PSI_BINS).select(F.col("id").cast("int").alias("bin"))
    cells = (
        grid.join(binned, "bin", "left")
        .groupBy("bin")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("half") == 1, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("n_first"),
            F.coalesce(
                F.sum(F.when(F.col("half") == 2, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("n_second"),
        )
    )
    tot = cells.agg(
        F.sum("n_first").alias("t1"), F.sum("n_second").alias("t2")
    )
    p1 = (F.col("n_first") + 0.5) / (F.col("t1") + 0.5 * _PSI_BINS)
    p2 = (F.col("n_second") + 0.5) / (F.col("t2") + 0.5 * _PSI_BINS)
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_first",
            "n_second",
            round_det((p1 - p2) * F.log(p1 / p2), 6).alias("psi_contrib"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q318 — Poisson-bootstrap confidence interval for mean order value: THE
# distributed bootstrap (Chamandy et al., "Estimating Uncertainty for
# Massive Data Streams") — classical resampling needs a global sample of
# n rows per replicate, impossible at 100 TB; the Poisson approximation
# gives every row an independent Poisson(1) weight per replicate, so all
# B replicates compute in ONE pass over the fact with a 40x column
# fan-out and a 40-group aggregate. Weights come from md5(order, b)
# uniforms through the exact Poisson(1) inverse-CDF CASE ladder —
# deterministic in both engines; replicate means use exact cents.
# CI = positional 2.5%/97.5% replicate means (k_lo = ceil(.025 B),
# k_hi = floor(.975 B); B = 40 -> ranks 1 and 39).
# ---------------------------------------------------------------------------

_BOOT_B = 40
#: P(Poisson(1) <= k) for k = 0..8, rounded to 9 dp — identical literals
#: in both engines so the inverse-CDF draw is exact
_POIS_CDF = (
    0.367879441, 0.735758882, 0.919698603, 0.981011843, 0.996340153,
    0.999405815, 0.999916758, 0.999989750, 0.999998874,
)


def _pois_case_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} <= {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {cases} ELSE 9 END"


@register(
    "q318_poisson_bootstrap_ci",
    oracle=f"""
    WITH reps AS (SELECT b FROM generate_series(0, {_BOOT_B - 1}) g(b)),
    -- md5 and the uniform are hoisted into their own subquery columns:
    -- inlining the md5 expression into the 15-digit hex parse and that
    -- into the 9-threshold CASE ladder re-evaluated the md5 ~135x/row
    -- (55 s at sf0.1 vs 5.5 s hoisted, identical values)
    weighted AS (
      SELECT b, {_pois_case_sql("u")} AS w, cents
      FROM (
        SELECT b, ({sql_hex_to_int("h", "1", 15)} + 0.5)
                  / 1152921504606846976.0 AS u, cents
        FROM (
          SELECT r.b,
                 md5(CAST(o.o_orderkey AS VARCHAR) || '_'
                     || CAST(r.b AS VARCHAR)) AS h,
                 CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM orders o CROSS JOIN reps r
        )
      )
    ),
    means AS (
      SELECT b,
             CAST(SUM(w * cents) AS DOUBLE) / (100.0 * SUM(w)) AS m
      FROM weighted GROUP BY b HAVING SUM(w) > 0
    ),
    ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn, COUNT(*) OVER () AS nb
      FROM means
    ),
    point AS (
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
               / (100.0 * COUNT(*)) AS mean_value
      FROM orders
    )
    SELECT point.n_rows,
           {sql_round_det('point.mean_value', 6)} AS mean_value,
           {sql_round_det(
               "(SELECT m FROM ranked WHERE rn = CAST(ceil(0.025 * nb) AS BIGINT))",
               6,
           )} AS boot_lo,
           {sql_round_det(
               "(SELECT m FROM ranked WHERE rn = CAST(floor(0.975 * nb) AS BIGINT))",
               6,
           )} AS boot_hi,
           (SELECT CAST(nb AS BIGINT) FROM ranked LIMIT 1) AS n_replicates
    FROM point
    """,
    category="stats",
)
def q318_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    # the per-(order, replicate) draw is the whole cost (B × |orders| md5s):
    # fan a single-split scan out before the replicate cross join (values
    # are per-(orderkey, b), partitioning-independent), and hoist md5 and
    # the uniform into their own projections — codegen does NOT CSE the
    # md5 across the 10 CASE-ladder branches (measured 10.8 s inline vs
    # 5.5 s hoisted at sf0.1, identical groups; oracle hoists identically)
    from hive_feature_demo_spark.operators.skew import fan_out_scan

    o = fan_out_scan(o, "o_orderkey")
    reps = spark.range(0, _BOOT_B).select(F.col("id").cast("int").alias("b"))
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    base = o.crossJoin(F.broadcast(reps)).select(
        "b",
        F.md5(
            F.concat_ws(
                "_", F.col("o_orderkey").cast("string"), F.col("b").cast("string")
            )
        ).alias("_h"),
        cents.alias("cents"),
    )
    hi = F.conv(F.substring("_h", 1, 15), 16, 10).cast("decimal(20,0)")
    base = base.select(
        "b", ((hi.cast("double") + 0.5) / F.lit(float(1 << 60))).alias("_u"), "cents"
    )
    w = F.lit(9)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(F.col("_u") <= _POIS_CDF[k], k).otherwise(w)
    weighted = base.select("b", w.alias("w"), "cents")
    means = (
        weighted.groupBy("b")
        .agg(F.sum(F.col("w") * F.col("cents")).alias("swc"), F.sum("w").alias("sw"))
        .filter(F.col("sw") > 0)
        .select("b", (F.col("swc").cast("double") / (100.0 * F.col("sw"))).alias("m"))
    )
    # B=40 rows: positional CI via a bounded window
    ranked = means.withColumn(
        "rn", F.row_number().over(Window.orderBy("m", "b"))
    ).withColumn("nb", F.count("*").over(Window.partitionBy()))
    lo = ranked.filter(
        F.col("rn") == F.ceil(0.025 * F.col("nb")).cast("long")
    ).select(F.col("m").alias("lo"))
    hi = ranked.filter(
        F.col("rn") == F.floor(0.975 * F.col("nb")).cast("long")
    ).select(F.col("m").alias("hi"))
    nb = ranked.agg(F.max("nb").cast("long").alias("n_replicates"))
    point = o.agg(
        F.count("*").alias("n_rows"),
        (F.sum(cents).cast("double") / (100.0 * F.count("*"))).alias("mean_value"),
    )
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .crossJoin(F.broadcast(nb))
        .select(
            "n_rows",
            round_det(F.col("mean_value"), 6).alias("mean_value"),
            round_det(F.col("lo"), 6).alias("boot_lo"),
            round_det(F.col("hi"), 6).alias("boot_hi"),
            "n_replicates",
        )
    )


# ---------------------------------------------------------------------------
# q323 — Markov next-event predictor backtest: train per-type transition
# counts on the FIRST half of the event range (argmax next type,
# alphabetical tie-break), measure top-1 accuracy on transitions in the
# SECOND half — the train/eval discipline q299's stationary analysis
# lacks, and the sanity check before anyone ships "next action"
# heuristics. Transitions from a per-user lead() over event time; both
# halves split at the exact integer-microsecond midpoint (q322's
# convention). Everything reduces to the |types|^2 transition grid.
# ---------------------------------------------------------------------------


@register(
    "q323_markov_backtest",
    oracle=f"""
    WITH bounds AS (
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid_us FROM events
    ),
    seq AS (
      SELECT user_id, event_type, ts, epoch_us(ts) AS ts_us,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_us
      FROM events
    ),
    train AS (
      SELECT s.event_type AS cur, s.next_type AS nxt, COUNT(*) AS n
      FROM seq s CROSS JOIN bounds b
      WHERE s.next_type IS NOT NULL AND s.next_us < b.mid_us
      GROUP BY 1, 2
    ),
    pred AS (
      SELECT cur, nxt AS predicted FROM (
        SELECT cur, nxt, ROW_NUMBER() OVER (
                 PARTITION BY cur ORDER BY n DESC, nxt) AS rk
        FROM train
      ) WHERE rk = 1
    ),
    eval_t AS (
      SELECT s.event_type AS cur, s.next_type AS actual
      FROM seq s CROSS JOIN bounds b
      WHERE s.next_type IS NOT NULL AND s.ts_us >= b.mid_us
    )
    SELECT e.cur AS event_type, p.predicted,
           COUNT(*) AS n_transitions,
           CAST(SUM(CASE WHEN e.actual = p.predicted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(FLOOR(10000.0 * SUM(CASE WHEN e.actual = p.predicted
                                         THEN 1 ELSE 0 END) / COUNT(*)) AS BIGINT)
             AS accuracy_bp
    FROM eval_t e JOIN pred p ON p.cur = e.cur
    GROUP BY e.cur, p.predicted
    ORDER BY e.cur
    """,
    category="stats",
)
def q323_markov_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_feature_demo_spark.functions.temporal import epoch_micros

    e = table(spark, sf_dir, "events")
    b = e.agg(
        ((epoch_micros(F.min("ts")) + epoch_micros(F.max("ts"))) / 2)
        .cast("long")
        .alias("mid_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        epoch_micros(F.col("ts")).alias("ts_us"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lead(epoch_micros(F.col("ts"))).over(w).alias("next_us"),
    ).crossJoin(F.broadcast(b))
    train = (
        seq.filter(F.col("next_type").isNotNull() & (F.col("next_us") < F.col("mid_us")))
        .groupBy(F.col("event_type").alias("cur"), F.col("next_type").alias("nxt"))
        .agg(F.count("*").alias("n"))
    )
    wp = Window.partitionBy("cur").orderBy(F.desc("n"), F.asc("nxt"))
    pred = (
        train.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") == 1)
        .select("cur", F.col("nxt").alias("predicted"))
    )
    ev = seq.filter(
        F.col("next_type").isNotNull() & (F.col("ts_us") >= F.col("mid_us"))
    ).select(F.col("event_type").alias("cur"), F.col("next_type").alias("actual"))
    return (
        ev.join(F.broadcast(pred), "cur")
        .groupBy(F.col("cur").alias("event_type"), "predicted")
        .agg(
            F.count("*").alias("n_transitions"),
            F.sum(F.when(F.col("actual") == F.col("predicted"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
            F.floor(
                10000.0
                * F.sum(F.when(F.col("actual") == F.col("predicted"), 1).otherwise(0))
                / F.count("*")
            )
            .cast("long")
            .alias("accuracy_bp"),
        )
        .orderBy("event_type")
    )
