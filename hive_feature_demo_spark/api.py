"""The reference's three tool signatures, 1:1 (the drop-in surface).

A user of the reference interacts with exactly three callables
(``/root/reference/backend/tools.py:37-185``); this module exposes the
same names, parameters, defaults, and return shapes on top of the Spark
engine, so "switch to this repo" is a one-line import change:

    from hive_feature_demo_spark.api import (
        query_crm, generate_campaign_copy, schedule_campaign)

Deviations (documented in SURVEY §7.4): ids are content hashes instead of
uuid4 (deterministic / idempotent), ``today`` is an explicit parameter
instead of wall-clock (reproducible), and copy generation defaults to the
deterministic template (the reference's own fallback) with the LLM behind
an injectable batch function.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from hive_feature_demo_spark.operators import campaign as _campaign
from hive_feature_demo_spark.operators import segment as _segment


def _one_row(spark: SparkSession, **cols: tuple[str, object]) -> DataFrame:
    """A one-row input, ``name=(sql_type, value)``, as a parameterized
    inline ``VALUES`` relation, each value CAST to its type (so ``None``
    is a typed NULL). Catalyst folds a deterministic projection of it into
    a local relation, so ``.first()`` on the tool's output starts no Spark
    job and no Python worker. On a traced perfbench ``crm_mix`` run (4
    cores) a call took about 50 ms; with ``createDataFrame`` of a list it
    took 2 jobs and about 480 ms."""
    casts = ", ".join(f"CAST(:{name} AS {typ})" for name, (typ, _) in cols.items())
    return spark.sql(
        f"SELECT * FROM VALUES ({casts}) AS t({', '.join(cols)})",
        args={name: value for name, (_, value) in cols.items()},
    )


def query_crm(
    fans: DataFrame,
    genres: list[str] | None = None,
    min_months_since_purchase: float | None = None,
    max_months_since_purchase: float | None = None,
    min_total_spent: float | None = None,
    city: str | None = None,
    *,
    today: dt.date,
    limit: int = 5,
) -> dict:
    """``tools.py:38-81`` parity: filter fans, return the AudienceResult dict.

    All five filters optional and AND-ed; empty result returns the zero
    sentinel; preview = first ``limit`` matches in id order with the
    9-column projection.
    """
    filters = _segment.SegmentFilters(
        genres=tuple(genres) if genres else None,
        min_months_since_purchase=min_months_since_purchase,
        max_months_since_purchase=max_months_since_purchase,
        min_total_spent=min_total_spent,
        city=city,
    )
    return _segment.segment_query(fans, filters, today, limit)


def generate_campaign_copy(
    spark: SparkSession,
    audience_description: str,
    event_name: str,
    event_date: str,
    tone: str = "enthusiastic",
    llm_fn=None,
) -> dict:
    """``tools.py:84-154`` parity: email + SMS copy for one campaign.

    Deterministic template mode by default (the reference's fallback path,
    byte-identical); pass ``llm_fn`` for model-generated copy with
    schema-validated parse + the same fallback.
    """
    if tone not in ("enthusiastic", "exclusive", "casual"):
        tone = "enthusiastic"  # tools.py:95 enum default
    req = _one_row(
        spark,
        audience_description=("string", audience_description),
        event_name=("string", event_name),
        event_date=("string", event_date),
        tone=("string", tone),
    )
    row = _campaign.generate_copy(req, llm_fn=llm_fn).first()
    return {
        "email": {
            "subject": row["email"]["subject"],
            "preview_text": row["email"]["preview_text"],
            "body": row["email"]["body"],
        },
        "sms": {"body": row["sms"]["body"]},
    }


def schedule_campaign(
    spark: SparkSession,
    segment_id: str,
    event_name: str,
    audience_size: int,
    send_at: str,
) -> dict:
    """``tools.py:157-185`` parity: mint the campaign record.

    ``campaign_id`` is a content hash (idempotent re-schedule) instead of
    uuid4; shape matches the tool output exactly.
    """
    draft = _one_row(
        spark,
        segment_id=("string", segment_id),
        event_name=("string", event_name),
        audience_size=("bigint", audience_size),
        send_at=("string", send_at),
    )
    row = _campaign.schedule_campaign(draft).first()
    return {k: row[k] for k in
            ("campaign_id", "segment_id", "event_name", "audience_size",
             "send_at", "status")}
