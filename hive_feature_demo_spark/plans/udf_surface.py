"""Queries exercising every Python-UDF flavor (SURVEY.md §2.3 "UDF surface").

Each is hash-checked: the UDFs are written with order-independent integer
accumulation or op-for-op IEEE mirroring so Python results equal the
DuckDB oracle exactly, not just approximately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_feature_demo_spark.catalog import table
from hive_feature_demo_spark.functions import udfs
from hive_feature_demo_spark.plans.registry import register

# ---------------------------------------------------------------------------
# q71 — grouped-agg pandas UDF: quantity-weighted mean price per returnflag.
# ---------------------------------------------------------------------------


@register(
    "q71_grouped_agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           (CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                     * CAST(l_quantity AS BIGINT)) AS DOUBLE) / 100.0)
             / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS w_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    category="udf",
)
def q71_grouped_agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            udfs.weighted_avg_cents()("l_extendedprice", "l_quantity").alias(
                "w_avg_price"
            )
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q72 — Python UDTF via LATERAL join: text -> one row per sentence.
# ---------------------------------------------------------------------------


@register(
    "q72_udtf_sentences",
    oracle=r"""
    WITH lsts AS (
      SELECT doc_id, string_split(text, '.') AS lst FROM documents
    ), flat AS (
      SELECT doc_id,
             unnest([{'pos': i, 's': trim(lst[i])}
                     FOR i IN generate_series(1, len(lst))],
                    recursive := true)
      FROM lsts
    ), kept AS (
      SELECT doc_id, s,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1
                  AS INT) AS sent_idx
      FROM flat WHERE s != ''
    )
    SELECT doc_id, sent_idx, s AS sentence,
           CAST(len(regexp_split_to_array(s, '\s+')) AS INT) AS n_tokens
    FROM kept
    ORDER BY doc_id, sent_idx
    """,
    category="udf",
)
def q72_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "documents").createOrReplaceTempView("q72_documents")
    spark.udtf.register("split_sentences", udfs.make_sentence_udtf())
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence, s.n_tokens
        FROM q72_documents d, LATERAL split_sentences(d.text) s
        ORDER BY d.doc_id, s.sent_idx
        """
    )


# ---------------------------------------------------------------------------
# q73 — scalar pandas UDF: Arrow-vectorized per-row scoring.
# ---------------------------------------------------------------------------


@register(
    "q73_pandas_scalar_score",
    oracle="""
    SELECT event_id,
           FLOOR(ln(1 + value) * 10000.0 + 0.5) / 10000.0 AS score
    FROM events
    ORDER BY event_id
    """,
    category="udf",
)
def q73_pandas_scalar_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id", udfs.log1p_score()("value").alias("score")
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q153 — mapInArrow: the last UDF flavor (RecordBatch-level Arrow access,
# zero pandas materialization — the lowest-overhead Python crossing, the
# shape model-inference batching uses). Computes per-vector L2 norms with
# NumPy over Arrow columns. Cross-engine exactness: each element's square
# quantizes to 1e-9 fixed point BEFORE the sum (identical double ops both
# engines; integer sum is order-free), then sqrt/round are single
# deterministic ops. Per-label averages aggregate 1e-6-quantized norms as
# plain longs.
# ---------------------------------------------------------------------------


@register(
    "q153_mapinarrow_norms",
    oracle="""
    WITH n AS (
      SELECT label,
             CAST(FLOOR(sqrt(CAST(list_sum(list_transform(embedding,
                    x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9
                                    + 0.5) AS BIGINT))) AS DOUBLE) / 1e9)
                        * 1e6 + 0.5) AS BIGINT) AS norm_units
      FROM embeddings
    )
    SELECT label, COUNT(*) AS n_vectors,
           CAST(FLOOR(CAST(SUM(norm_units) AS DOUBLE) / COUNT(*) + 0.5) AS DOUBLE)
             / 1e6 AS avg_norm
    FROM n GROUP BY label ORDER BY label
    """,
    category="udf",
)
def q153_mapinarrow_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("label", "embedding")

    def batches(it):
        import numpy as np
        import pyarrow as pa

        for batch in it:
            tbl = batch.to_pydict()
            labels = tbl["label"]
            units = []
            for vec in tbl["embedding"]:
                x = np.asarray(vec, dtype=np.float32).astype(np.float64)
                sq = np.floor(x * x * 1e9 + 0.5).astype(np.int64).sum()
                nrm = float(np.sqrt(sq / 1e9))
                units.append(int(np.floor(nrm * 1e6 + 0.5)))
            yield pa.RecordBatch.from_pydict(
                {
                    "label": pa.array(labels, type=pa.int32()),
                    "norm_units": pa.array(units, type=pa.int64()),
                }
            )

    normed = emb.mapInArrow(batches, schema="label int, norm_units long")
    return (
        normed.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            (
                F.floor(
                    F.sum("norm_units").cast("double") / F.count("*") + F.lit(0.5)
                ).cast("double")
                / 1e6
            ).alias("avg_norm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q171 — grouped-map via applyInArrow (Spark 4): the zero-pandas grouped
# UDF — each group arrives as a pyarrow.Table, avoiding the
# arrow->pandas->arrow conversion tax that applyInPandas pays (numpy
# column math directly on arrow buffers). Per event_type: event count,
# user count, and a fixed-point value sum computed inside the UDF as
# integer cents — order-independent, so the grouped-map result
# hash-matches SQL exactly. Completes the UDF surface row: pandas
# scalar / grouped-agg / grouped-map / UDTF / mapInArrow / applyInArrow.
# ---------------------------------------------------------------------------


@register(
    "q171_applyinarrow_groupstats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    category="udf",
)
def q171_applyinarrow_groupstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select("event_type", "user_id", "value")

    def stats(key, tbl):
        import numpy as np
        import pyarrow as pa

        # NULLs drop out as in SQL SUM and COUNT(DISTINCT); through NumPy a
        # NULL value would turn NaN and then -2^63 cents
        values = np.asarray(tbl.column("value").drop_null(), dtype=np.float64)
        cents = np.floor(values * 100.0 + 0.5).astype(np.int64).sum()
        users = len(set(tbl.column("user_id").drop_null().to_pylist()))
        return pa.Table.from_pydict(
            {
                "event_type": pa.array([key[0]], type=pa.string()),
                "n_events": pa.array([tbl.num_rows], type=pa.int64()),
                "n_users": pa.array([users], type=pa.int64()),
                "total_value": pa.array(
                    [int(cents) / 100.0 if len(values) else None], type=pa.float64()
                ),
            }
        )

    return (
        e.groupBy("event_type")
        .applyInArrow(
            stats,
            schema="event_type string, n_events long, n_users long, total_value double",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q214 — iterator-form scalar pandas UDF (SCALAR_ITER): the variant that
# amortizes expensive per-worker initialization (model/tokenizer load)
# across ALL Arrow batches of a partition — init runs once per task when
# the iterator opens, not once per batch. The "model" here is a
# deterministic keyword scorer so the oracle can replay it in SQL; the
# real-world payload is the q60 llm_generate path. Integer outputs keep
# the hash check trivially stable.
# ---------------------------------------------------------------------------


@register(
    "q214_iter_pandas_udf",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(
             7 * (length(text) - length(replace(text, 'spark', '')))
                 // length('spark')
             + (length(text) - length(replace(text, 'join', '')))
                 // length('join')
           ) AS BIGINT) AS total_score
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    category="udf",
)
def q214_iter_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    keyword_score = udfs.make_keyword_score_udf()
    d = table(spark, sf_dir, "documents")
    return (
        d.withColumn("score", keyword_score(F.col("text")))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("score").cast("long").alias("total_score"),
        )
        .orderBy("source")
    )
