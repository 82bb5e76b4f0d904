"""Campaign operators: deterministic copy template (A14) + idempotent
scheduling (A15). Template strings are the reference fallback verbatim
(``backend/tools.py:146-154``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_feature_demo_spark.operators.campaign import generate_copy, schedule_campaign


@pytest.fixture(scope="module")
def requests_df(spark):
    return spark.createDataFrame(
        [
            ("jazz fans lapsed 3 months", "Jazz Night", "2025-03-01", "enthusiastic"),
            ("high spenders", "VIP Gala", "2025-04-15", None),
        ],
        "audience_description string, event_name string, event_date string, tone string",
    )


def test_copy_template_exact(requests_df):
    rows = {r["event_name"]: r for r in generate_copy(requests_df).collect()}
    jn = rows["Jazz Night"]
    assert jn["email"]["subject"] == "You're invited: Jazz Night"
    assert jn["email"]["preview_text"] == "Don't miss Jazz Night on 2025-03-01"
    assert jn["sms"]["body"] == "Jazz Night — 2025-03-01. Get your tickets now!"
    assert jn["subject_ok"] is True
    assert jn["sms_ok"] is True


def test_copy_default_tone_in_body(requests_df):
    rows = {r["event_name"]: r for r in generate_copy(requests_df).collect()}
    # null tone defaults to 'enthusiastic' (tools.py tone enum default)
    assert "enthusiastic" in rows["VIP Gala"]["email"]["body"]


def test_copy_constraint_flags(spark):
    long_name = "X" * 80
    df = spark.createDataFrame(
        [("aud", long_name, "2025-01-01", "casual")],
        "audience_description string, event_name string, event_date string, tone string",
    )
    row = generate_copy(df).collect()[0]
    assert row["subject_ok"] is False  # subject >= 50 chars
    assert row["sms_ok"] is True  # 80+30 < 160? event+date+suffix


def test_schedule_idempotent_ids(spark):
    drafts = spark.createDataFrame(
        [("seg_abc12345", "Jazz Night", 42, "2025-03-01T10:00:00")],
        "segment_id string, event_name string, audience_size long, send_at string",
    )
    r1 = schedule_campaign(drafts).collect()[0]
    r2 = schedule_campaign(drafts).collect()[0]
    assert r1["campaign_id"] == r2["campaign_id"]
    assert r1["campaign_id"].startswith("cmp_")
    assert r1["status"] == "scheduled"
    assert r1["audience_size"] == 42
    # different send_at -> different id
    drafts2 = drafts.withColumn("send_at", F.lit("2025-03-02T10:00:00"))
    r3 = schedule_campaign(drafts2).collect()[0]
    assert r3["campaign_id"] != r1["campaign_id"]


# quotes, apostrophes and an em dash: the api's inputs reach Spark as
# bound parameters, never as SQL text
AUDIENCE = 'fans of "Rock \'n\' Roll" — since \'69'
EVENT = 'Joe\'s "Big" Night — Live'
SEND_AT = "2025-06-01T10:00:00"


def _reference_copy(audience: str, event: str, date: str, tone: str) -> dict:
    """The reference's deterministic template (FIXTURES.md section 3)."""
    return {
        "email": {
            "subject": f"You're invited: {event}",
            "preview_text": f"Don't miss {event} on {date}",
            "body": f"Hi there!\n\n{tone} — {event} is coming up on {date}. As one of our "
                    f"{audience} fans, we wanted you to hear it first.\n\nGet your tickets now!",
        },
        "sms": {"body": f"{event} — {date}. Get your tickets now!"},
    }


@pytest.mark.parametrize("tone, used", [("casual", "casual"), ("exclusive", "exclusive"),
                                        ("BOGUS", "enthusiastic")])
def test_api_copy_is_the_reference_template(spark, tone, used):
    from hive_feature_demo_spark.api import generate_campaign_copy

    got = generate_campaign_copy(spark, AUDIENCE, EVENT, "2025-06-21", tone=tone)
    assert got == _reference_copy(AUDIENCE, EVENT, "2025-06-21", used)


@pytest.mark.parametrize("segment_id, size", [("seg_1a2b3c4d", 2**40), (None, 42)])
def test_api_schedule_is_the_reference_record(spark, segment_id, size):
    """``cmp_`` + 8 hex of sha256 over ``segment_id|event|send_at``; a
    ``None`` segment id is skipped by ``concat_ws``, as it always was."""
    import hashlib

    from hive_feature_demo_spark.api import schedule_campaign

    content = "|".join(x for x in (segment_id, EVENT, SEND_AT) if x is not None)
    got = schedule_campaign(spark, segment_id, EVENT, size, SEND_AT)
    assert got == {
        "campaign_id": "cmp_" + hashlib.sha256(content.encode()).hexdigest()[:8],
        "segment_id": segment_id,
        "event_name": EVENT,
        "audience_size": size,
        "send_at": SEND_AT,
        "status": "scheduled",
    }


def test_api_copy_and_schedule_start_no_job(spark, count_jobs):
    """The one-row input is an inline VALUES relation that Catalyst folds
    with the template into a local relation: no Spark job per call."""
    from hive_feature_demo_spark.api import generate_campaign_copy, schedule_campaign

    _, copy_jobs = count_jobs(
        lambda: generate_campaign_copy(spark, AUDIENCE, EVENT, "2025-06-21", tone="casual"))
    _, schedule_jobs = count_jobs(
        lambda: schedule_campaign(spark, "seg_1a2b3c4d", EVENT, 42, SEND_AT))
    assert (copy_jobs, schedule_jobs) == (0, 0)


def test_llm_generate_mock_model_with_fallback(spark):
    """LLM mode: an Arrow-batched mock model answers valid JSON for even
    ids and garbage for odd ids; parsed rows keep the model reply, garbage
    rows take the fallback with used_fallback=True."""
    from pyspark.sql import functions as F

    from hive_feature_demo_spark.operators.llm import llm_generate

    df = spark.createDataFrame([(i, f"s{i}") for i in range(6)], "doc_id long, source string")

    def mock_llm(batches):
        import json

        for pdf in batches:
            replies = [
                json.dumps({"summary": f"model-{d}"}) if d % 2 == 0 else "NOT JSON"
                for d in pdf["doc_id"]
            ]
            pdf = pdf.copy()
            pdf["reply"] = replies
            yield pdf

    out = llm_generate(
        df,
        prompt_template="Summarize {doc_id}",
        reply_schema="summary string",
        fallback={"summary": F.format_string("fallback-%s", F.col("doc_id"))},
        llm_fn=mock_llm,
    ).orderBy("doc_id")
    rows = [(r["doc_id"], r["summary"], r["used_fallback"]) for r in out.collect()]
    assert rows == [
        (0, "model-0", False),
        (1, "fallback-1", True),
        (2, "model-2", False),
        (3, "fallback-3", True),
        (4, "model-4", False),
        (5, "fallback-5", True),
    ]


def test_render_prompt_literal_percent(spark):
    from pyspark.sql import functions as F

    from hive_feature_demo_spark.operators.llm import llm_generate

    df = spark.createDataFrame([("Ana",)], "name string")
    out = llm_generate(
        df,
        prompt_template="Offer {name} a 20% discount",
        reply_schema="msg string",
        fallback={"msg": F.lit("fb")},
    ).collect()
    assert out[0]["prompt"] == "Offer Ana a 20% discount"


def test_llm_generate_replaces_colliding_column(spark):
    from pyspark.sql import functions as F

    from hive_feature_demo_spark.operators.llm import llm_generate

    df = spark.createDataFrame([(1, "orig")], "doc_id long, lang string")
    out = llm_generate(
        df,
        prompt_template="Classify {doc_id}",
        reply_schema="lang string",
        fallback={"lang": F.lit("fallback-lang")},
    )
    assert out.columns.count("lang") == 1  # replaced, not duplicated
    assert out.collect()[0]["lang"] == "fallback-lang"
