"""Layer A parity: segment operators vs a pure-Python model of the
reference semantics (SURVEY §2.1 A2-A12, frozen ``today``).

The model below re-implements the *documented* semantics — dynamic AND of
optional predicates, case-insensitive ANY-of genre match, months =
days/30.44 inclusive bounds, substring city match, Python-round (banker's)
averages, first-5-by-id preview — independently of both the reference code
and the Spark implementation, so agreement is evidence, not tautology.
"""

from __future__ import annotations

import datetime as dt
import random
from decimal import ROUND_HALF_EVEN, Decimal

import pytest

from hive_feature_demo_spark.fixtures.fans import TODAY, build_fans
from hive_feature_demo_spark.functions.temporal import REF_TODAY
from hive_feature_demo_spark.operators.segment import (
    PREVIEW_COLUMNS,
    SegmentFilters,
    segment_id_for,
    segment_preview,
    segment_query,
    segment_stats,
)

FANS = build_fans()


def model_months_since(d: dt.date, today: dt.date) -> float:
    return (today - d).days / 30.44


def model_query(fans: list[dict], f: SegmentFilters, today: dt.date) -> dict:
    rows = []
    for fan in fans:
        if f.genres:
            fan_g = [g.lower() for g in fan["genres"]]
            if not any(g.lower() in fan_g for g in f.genres):
                continue
        m = model_months_since(fan["last_purchase_date"], today)
        if f.min_months_since_purchase is not None and m < f.min_months_since_purchase:
            continue
        if f.max_months_since_purchase is not None and m > f.max_months_since_purchase:
            continue
        if f.min_total_spent is not None and fan["total_spent"] < f.min_total_spent:
            continue
        if f.city and f.city.lower() not in fan["city"].lower():
            continue
        rows.append(fan)
    if not rows:
        return {"count": 0, "segment_id": "", "avg_spent": 0, "open_rate": 0, "fans": []}
    def _avg(key: str) -> float:
        # decimal-exact average + ROUND_HALF_EVEN == the engine contract
        # (and Python round on the exact value); float-sum order artifacts
        # would otherwise flip .005 boundaries
        total = sum(Decimal(str(r[key])) for r in rows)
        return float((total / len(rows)).quantize(Decimal("0.01"), ROUND_HALF_EVEN))

    return {
        "count": len(rows),
        "segment_id": segment_id_for(f, today),
        "avg_spent": _avg("total_spent"),
        "open_rate": _avg("email_open_rate"),
        "fans": [
            {k: r[k] for k in PREVIEW_COLUMNS}
            for r in sorted(rows, key=lambda r: r["id"])[:5]
        ],
    }


@pytest.fixture(scope="module")
def fans_df(spark):
    return spark.read.parquet("data/fans.parquet")


def _assert_match(spark_res: dict, model_res: dict):
    assert spark_res["count"] == model_res["count"]
    assert spark_res["segment_id"] == model_res["segment_id"]
    assert spark_res["avg_spent"] == pytest.approx(model_res["avg_spent"], abs=1e-9)
    assert spark_res["open_rate"] == pytest.approx(model_res["open_rate"], abs=1e-9)
    assert [f["id"] for f in spark_res["fans"]] == [f["id"] for f in model_res["fans"]]


def test_flagship_jazz_recency(fans_df):
    """README.md:72 — 'jazz fans who haven't bought in 3 months'."""
    f = SegmentFilters(genres=("jazz",), min_months_since_purchase=3)
    _assert_match(segment_query(fans_df, f, REF_TODAY), model_query(FANS, f, REF_TODAY))


def test_no_filters_returns_everyone(fans_df):
    res = segment_query(fans_df, SegmentFilters(), REF_TODAY)
    assert res["count"] == 80
    assert [f["id"] for f in res["fans"]] == ["f001", "f002", "f003", "f004", "f005"]


def test_empty_sentinel(fans_df):
    f = SegmentFilters(genres=("polka",))
    res = segment_query(fans_df, f, REF_TODAY)
    assert res == {"count": 0, "segment_id": "", "avg_spent": 0, "open_rate": 0, "fans": []}


def test_recency_boundary_91_92_days(fans_df):
    """f001 is 91 days back (2.99 months -> excluded by >=3); f002 is 92
    (3.02 -> included). Bounds are inclusive on the months value."""
    f = SegmentFilters(min_months_since_purchase=3)
    ids = {r["id"] for r in segment_query(fans_df, f, TODAY)["fans"]}
    matched = segment_preview(fans_df, f, TODAY, limit=100).collect()
    matched_ids = {r["id"] for r in matched}
    assert "f001" not in matched_ids
    assert "f002" in matched_ids
    assert ids <= matched_ids


def test_bankers_rounding_half_even(fans_df):
    """f005+f006 spend avg = (287.11+287.14)/2 = 287.125 -> 287.12 under
    Python round / F.bround (HALF_UP would give 287.13)."""
    f = SegmentFilters(genres=("r&b",))
    res = segment_query(fans_df, f, TODAY)
    model = model_query(FANS, f, TODAY)
    assert res["count"] == model["count"]
    assert res["avg_spent"] == model["avg_spent"]


def test_city_substring_case_insensitive(fans_df):
    f = SegmentFilters(city="CHIC")
    res = segment_query(fans_df, f, REF_TODAY)
    cities = {r["city"] for r in segment_preview(fans_df, f, REF_TODAY, 100).collect()}
    assert cities and cities <= {"Chicago", "West Chicago"}
    _assert_match(res, model_query(FANS, f, REF_TODAY))


def test_genre_case_insensitive_any_of(fans_df):
    for q in (("JAZZ",), ("jAzZ", "bLuEs"), ("EDM", "rap")):
        f = SegmentFilters(genres=q)
        _assert_match(segment_query(fans_df, f, REF_TODAY), model_query(FANS, f, REF_TODAY))


def test_preview_projection_is_nine_columns(fans_df):
    df = segment_preview(fans_df, SegmentFilters(), REF_TODAY)
    assert tuple(df.columns) == PREVIEW_COLUMNS


def test_segment_id_deterministic_and_input_sensitive():
    f1 = SegmentFilters(genres=("jazz",), min_total_spent=100)
    f2 = SegmentFilters(genres=("jazz",), min_total_spent=101)
    assert segment_id_for(f1, REF_TODAY) == segment_id_for(f1, REF_TODAY)
    assert segment_id_for(f1, REF_TODAY) != segment_id_for(f2, REF_TODAY)
    assert segment_id_for(f1, REF_TODAY) != segment_id_for(f1, TODAY - dt.timedelta(days=1))
    assert segment_id_for(f1, REF_TODAY).startswith("seg_")


def test_property_random_filter_combinations(fans_df):
    """30 random filter combos: Spark engine == pure-Python model."""
    rng = random.Random(7)
    genre_pool = ["Jazz", "blues", "ROCK", "Indie", "gospel", "EDM", "nope"]
    cities = ["chic", "Spring", "o", "zzz", None]
    combos = []
    for _ in range(30):
        combos.append(
            SegmentFilters(
                genres=tuple(rng.sample(genre_pool, rng.randint(1, 3)))
                if rng.random() < 0.7
                else None,
                min_months_since_purchase=rng.choice([None, 0, 1, 3, 6.5, 12]),
                max_months_since_purchase=rng.choice([None, 2, 6, 12, 24]),
                min_total_spent=rng.choice([None, 134.0, 200.0, 500.0, 934.0]),
                city=rng.choice(cities),
            )
        )
    # de-dup to keep runtime sane
    seen = set()
    for f in combos:
        key = f.canonical_json()
        if key in seen:
            continue
        seen.add(key)
        _assert_match(
            segment_query(fans_df, f, REF_TODAY), model_query(FANS, f, REF_TODAY)
        )


def test_stats_single_row_shape(fans_df):
    df = segment_stats(fans_df, SegmentFilters(genres=("jazz",)), REF_TODAY)
    assert df.columns == ["count", "segment_id", "avg_spent", "open_rate"]
    assert df.count() == 1


@pytest.mark.parametrize("limit", [5, 0])
def test_query_crm_runs_one_job(fans_df, count_jobs, limit):
    """One scan per call: the stats are observed on the job that collects
    the preview, below its sort and limit, so with no filters the count
    is all 80 fans, not the ``limit`` previewed. ``limit=0`` keeps its
    stats too (a LIMIT 0 plan folds to an empty relation, observation and
    all)."""
    res, jobs = count_jobs(lambda: segment_query(fans_df, SegmentFilters(), REF_TODAY, limit))
    assert jobs == 1
    assert res["count"] == 80 and len(res["fans"]) == limit


@pytest.mark.parametrize(
    "f",
    [
        SegmentFilters(),
        SegmentFilters(genres=("jazz",), min_months_since_purchase=3),
        SegmentFilters(city="chic"),
        SegmentFilters(min_total_spent=500, max_months_since_purchase=12),
        SegmentFilters(genres=("polka",)),
    ],
)
def test_query_crm_stats_equal_segment_stats(fans_df, f):
    res = segment_query(fans_df, f, REF_TODAY)
    stats = segment_stats(fans_df, f, REF_TODAY).first().asDict()
    assert {k: res[k] for k in stats} == stats


def test_query_crm_concurrent_calls_keep_their_own_stats(fans_df):
    """Concurrent calls on six threads (perfbench's warm-up runs three at
    once) each read their own observation, never another call's."""
    from concurrent.futures import ThreadPoolExecutor

    filters = [SegmentFilters(genres=("jazz",)), SegmentFilters(city="chic"),
               SegmentFilters(min_total_spent=500)]
    models = [model_query(FANS, f, REF_TODAY) for f in filters]
    assert len({m["count"] for m in models}) == 3  # a swapped answer shows
    with ThreadPoolExecutor(6) as pool:
        got = list(pool.map(lambda f: segment_query(fans_df, f, REF_TODAY), filters * 3, timeout=300))
    for res, model in zip(got, models * 3):
        _assert_match(res, model)


def test_api_facade_matches_reference_tool_shapes(spark, fans_df):
    """The drop-in api module: same signatures and return shapes as the
    reference's three tools (tools.py:37-185)."""
    import datetime as dt

    from hive_feature_demo_spark.api import (
        generate_campaign_copy,
        query_crm,
        schedule_campaign,
    )

    today = dt.date(2024, 11, 1)
    res = query_crm(
        fans_df, genres=["Jazz"], min_months_since_purchase=3, today=today
    )
    assert set(res) == {"count", "segment_id", "avg_spent", "open_rate", "fans"}
    assert res["count"] > 0 and res["segment_id"].startswith("seg_")
    assert len(res["fans"]) <= 5 and set(res["fans"][0]) == {
        "id", "first_name", "last_name", "city", "state", "genres",
        "last_purchase_date", "total_spent", "email_open_rate",
    }

    copy = generate_campaign_copy(
        spark, "jazz fans", "Summer Fest", "2025-06-21", tone="BOGUS"
    )
    assert copy["email"]["subject"] == "You're invited: Summer Fest"
    assert copy["sms"]["body"] == "Summer Fest — 2025-06-21. Get your tickets now!"

    sched = schedule_campaign(spark, res["segment_id"], "Summer Fest", res["count"], "2025-06-01T10:00:00")
    assert sched["status"] == "scheduled" and sched["campaign_id"].startswith("cmp_")
    # idempotent: same draft -> same id
    again = schedule_campaign(spark, res["segment_id"], "Summer Fest", res["count"], "2025-06-01T10:00:00")
    assert again["campaign_id"] == sched["campaign_id"]


def test_readme_front_door_chain(spark):
    """q303: the README's three prompts as one deterministic pipeline —
    the NL parse must yield exactly the jazz/3-month filters, and the
    minted campaign_id must be idempotent across re-runs (same content
    hash), closing the A16->A14->A15 chain as one tested unit."""
    from hive_feature_demo_spark.operators.nlquery import parse_nl_query
    from hive_feature_demo_spark.plans.segment import (
        README_PROMPT,
        q303_readme_front_door,
    )

    f = parse_nl_query(README_PROMPT)
    assert f.genres == ("jazz",)
    assert f.min_months_since_purchase == 3.0
    assert f.max_months_since_purchase is None and f.city is None

    r1 = q303_readme_front_door(spark, "unused").collect()
    r2 = q303_readme_front_door(spark, "unused").collect()
    assert len(r1) == 1 and r1 == r2  # idempotent content-hash id
    row = r1[0]
    assert row["campaign_id"].startswith("cmp_") and row["status"] == "scheduled"
    assert row["audience_size"] > 0
    assert row["email_subject"] == "You're invited: New Orleans Jazz Festival"
    assert row["subject_ok"] and row["sms_ok"]


def test_cache_key_canonicalization():
    """Equivalent spellings of the same audience share one cache key;
    semantically different filters never collide (SCALING.md's Redis
    pattern with case/order normalization)."""
    from hive_feature_demo_spark.operators.segment import SegmentFilters, cache_key_for

    a = cache_key_for(SegmentFilters(genres=("jazz",), min_months_since_purchase=3))
    b = cache_key_for(SegmentFilters(genres=("Jazz",), min_months_since_purchase=3))
    assert a == b
    c = cache_key_for(
        SegmentFilters(genres=("rock", "blues"), city="Chicago", min_total_spent=200)
    )
    d = cache_key_for(
        SegmentFilters(genres=("Blues", "ROCK"), city="chicago", min_total_spent=200)
    )
    assert c == d
    assert len({a, c, cache_key_for(SegmentFilters(min_total_spent=500))}) == 3
    # months value participates in the key (different recency = different query)
    e = cache_key_for(SegmentFilters(genres=("jazz",), min_months_since_purchase=4))
    assert e != a
    # int vs float spellings of the same threshold share a cache line
    # (build_predicate float()-coerces both — r5-verdict advice)
    f_int = cache_key_for(
        SegmentFilters(min_months_since_purchase=3, min_total_spent=200)
    )
    f_flt = cache_key_for(
        SegmentFilters(min_months_since_purchase=3.0, min_total_spent=200.0)
    )
    assert f_int == f_flt
