"""Layer A: the reference's audience-segmentation query as a Spark operator.

Reproduces ``query_crm`` (reference ``backend/tools.py:38-81``) exactly:

- A2  dynamic conjunctive predicate: each filter optional, omitted when None
- A3  genre ANY-of match, case-insensitive full-string, over an array column
- A4  recency range on ``months_since = datediff(today, last_purchase)/30.44``
      (``tools.py:31-34``; divisor exactly 30.44, both bounds inclusive)
- A5  ``total_spent >= min_total_spent`` (inclusive)
- A6  city substring match, case-insensitive (``'chic'`` matches Chicago)
- A7/A8 global COUNT + AVG rounded half-to-even (Python ``round`` ==
      ``F.bround``; ``F.round`` is HALF_UP and would mismatch, tools.py:75-76),
      observed on the same scan that yields the preview (one job per call)
- A9  empty-result sentinel (count=0 -> zeros + empty preview, tools.py:69-70)
- A10 9-of-14-column preview projection (tools.py:78)
- A11 preview = first 5 in ``id`` order (file order == id order; Spark limit
      without order is nondeterministic, so the contract makes ``id`` order
      explicit — SURVEY §7.4 trap 4)
- A12 deterministic ``segment_id`` — content hash of the canonical filter
      JSON + frozen date, replacing the reference's ``uuid4`` (tools.py:74)
      so results are reproducible/oracle-checkable (documented deviation)

Scale: the predicate is a single Catalyst conjunction -> pushed into the
parquet/Hive scan (min/max skipping on ``total_spent``/``last_purchase_date``,
partition pruning when the table is date/tenant-partitioned). The genre
ANY-of uses ``arrays_overlap`` on a lowered copy; at 100 TB the prunable form
is a pre-exploded ``fan_genre(fan_id, genre)`` bucketed table (SURVEY §4.2) —
provided by :func:`explode_genres`.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from dataclasses import asdict, dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from hive_feature_demo_spark.functions.numeric import money
from hive_feature_demo_spark.functions.temporal import months_since

#: A10 — the 9 preview columns (reference tools.py:78 / models.py:14-23).
PREVIEW_COLUMNS = (
    "id",
    "first_name",
    "last_name",
    "city",
    "state",
    "genres",
    "last_purchase_date",
    "total_spent",
    "email_open_rate",
)


@dataclass(frozen=True)
class SegmentFilters:
    """The five optional filters of ``query_crm`` (tools.py:38-43)."""

    genres: tuple[str, ...] | None = None
    min_months_since_purchase: float | None = None
    max_months_since_purchase: float | None = None
    min_total_spent: float | None = None
    city: str | None = None

    def canonical_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True, separators=(",", ":"))


def segment_id_for(filters: SegmentFilters, today: dt.date) -> str:
    """A12: deterministic ``seg_`` id — sha256 of canonical filters + date."""
    digest = hashlib.sha256(
        f"{filters.canonical_json()}|{today.isoformat()}".encode()
    ).hexdigest()
    return f"seg_{digest[:8]}"


def cache_key_for(filters: SegmentFilters) -> str:
    """Query-result cache key — the reference's Redis pattern
    (SCALING.md:91-98: ``md5(json.dumps(filters, sort_keys=True))``),
    with one engine-grade refinement: genres are lowercased AND sorted
    and city lowercased BEFORE hashing. The predicates are
    case-insensitive (A3/A6), so two spellings of the same audience are
    the same query — hashing the raw filters (as the reference sketches)
    would give them separate cache lines and silently halve hit rate.
    Numeric fields are float()-coerced the same way build_predicate
    coerces them (r5-verdict advice: min_months=3 and =3.0 produce the
    identical predicate and must share a cache line — json.dumps would
    otherwise render '3' vs '3.0')."""
    norm = SegmentFilters(
        genres=tuple(sorted(g.lower() for g in filters.genres))
        if filters.genres
        else None,
        min_months_since_purchase=(
            float(filters.min_months_since_purchase)
            if filters.min_months_since_purchase is not None
            else None
        ),
        max_months_since_purchase=(
            float(filters.max_months_since_purchase)
            if filters.max_months_since_purchase is not None
            else None
        ),
        min_total_spent=(
            float(filters.min_total_spent)
            if filters.min_total_spent is not None
            else None
        ),
        city=filters.city.lower() if filters.city else None,
    )
    return hashlib.md5(norm.canonical_json().encode()).hexdigest()


def build_predicate(filters: SegmentFilters, today: dt.date) -> Column:
    """A2: AND of all supplied filters; no filters -> TRUE (all rows pass)."""
    pred = F.lit(True)
    if filters.genres:
        # A3 — case-insensitive ANY-of between the requested genres and the
        # fan's genre array (tools.py:62). arrays_overlap is JVM-side and
        # codegen'd; no UDF.
        wanted = F.array(*[F.lit(g.lower()) for g in filters.genres])
        lowered = F.transform(F.col("genres"), lambda g: F.lower(g))
        pred = pred & F.arrays_overlap(lowered, wanted)
    if (
        filters.min_months_since_purchase is not None
        or filters.max_months_since_purchase is not None
    ):
        m = months_since("last_purchase_date", today)
        if filters.min_months_since_purchase is not None:  # A4, inclusive
            pred = pred & (m >= F.lit(float(filters.min_months_since_purchase)))
        if filters.max_months_since_purchase is not None:
            pred = pred & (m <= F.lit(float(filters.max_months_since_purchase)))
    if filters.min_total_spent is not None:  # A5, inclusive
        pred = pred & (F.col("total_spent") >= F.lit(float(filters.min_total_spent)))
    if filters.city:  # A6 — case-insensitive contains (tools.py:66)
        pred = pred & F.lower(F.col("city")).contains(filters.city.lower())
    return pred


def _stats_aggs() -> list[Column]:
    """A7/A8 aggregates over matched fans: ``count``, ``avg_spent`` and
    ``open_rate``; the averages read 0.0 when nothing matched (A9).

    The one definition of the stats, shared by :func:`segment_stats`'
    aggregate and :func:`segment_query`'s observation.
    """

    def _avg(col: str) -> Column:
        # exact decimal sum -> average -> HALF_EVEN round: deterministic
        # under any partitioning (a distributed float avg is order-dependent
        # in the last ulp, which flips banker's rounding on .005 boundaries)
        avg = money(F.sum(F.col(col).cast("decimal(25,10)")) / F.count(col)).cast("double")
        return F.coalesce(avg, F.lit(0.0))

    return [
        F.count("*").alias("count"),
        _avg("total_spent").alias("avg_spent"),
        _avg("email_open_rate").alias("open_rate"),
    ]


def segment_stats(fans: DataFrame, filters: SegmentFilters, today: dt.date) -> DataFrame:
    """A7/A8/A9 as one single-row DataFrame (one distributed aggregation).

    Columns: ``count`` (long), ``segment_id``, ``avg_spent``, ``open_rate``
    — the scalar part of ``AudienceResult`` (models.py:26-31). The empty
    sentinel (tools.py:69-70) is expressed with ``coalesce``/``when`` so no
    driver-side branch is needed.
    """
    seg_id = segment_id_for(filters, today)
    agg = fans.filter(build_predicate(filters, today)).agg(*_stats_aggs())
    return agg.select(
        "count",
        F.when(F.col("count") > 0, F.lit(seg_id)).otherwise(F.lit("")).alias("segment_id"),
        "avg_spent",
        "open_rate",
    )


def _first_by_id(matched: DataFrame, limit: int) -> DataFrame:
    return matched.select(*PREVIEW_COLUMNS).orderBy("id").limit(limit)


def segment_preview(
    fans: DataFrame, filters: SegmentFilters, today: dt.date, limit: int = 5
) -> DataFrame:
    """A10/A11: first ``limit`` matches in ``id`` order, 9-column projection."""
    return _first_by_id(fans.filter(build_predicate(filters, today)), limit)


def segment_query(
    fans: DataFrame, filters: SegmentFilters, today: dt.date, limit: int = 5
) -> dict:
    """Full ``query_crm`` parity: the ``AudienceResult`` dict (tools.py:69-81).

    One scan, one Spark job: the filtered frame carries the A7/A8 stats as
    a ``DataFrame.observe`` observation, and collecting the preview from it
    fills the observation. The observation sits below the sort and limit,
    so it sees every matched row, not only the previewed ones. Each call
    gets its own unnamed ``Observation``, so concurrent calls never share
    one. On a traced perfbench ``crm_mix`` run (4 cores) this took
    ``crm.query`` from 2.89 jobs and 421 ms per call (a stats aggregate,
    then a preview scan) to 1 job and 287 ms.
    """
    obs = Observation()
    matched = fans.filter(build_predicate(filters, today)).observe(obs, *_stats_aggs())
    # a LIMIT 0 plan folds to an empty relation, dropping the observation
    # with it, so limit=0 collects one row and previews none of it
    rows = _first_by_id(matched, limit or 1).collect()[:limit]
    stats = obs.get
    if stats["count"] == 0:
        return {"count": 0, "segment_id": "", "avg_spent": 0, "open_rate": 0, "fans": []}
    return {
        "count": stats["count"],
        "segment_id": segment_id_for(filters, today),
        "avg_spent": stats["avg_spent"],
        "open_rate": stats["open_rate"],
        "fans": [r.asDict() for r in rows],
    }


def explode_genres(fans: DataFrame) -> DataFrame:
    """The 100 TB-prunable genre index: ``fan_genre(fan_id, genre)``.

    ``arrays_overlap`` cannot prune a parquet scan; for web-scale the genre
    filter becomes a semi-join against this exploded, lowercased, bucketed
    table (SURVEY §4.2 — the reference's own aspiration of an index on
    ``(promoter_id, genre)``, SCALING.md:32).
    """
    return fans.select(
        F.col("id").alias("fan_id"),
        F.explode(F.transform("genres", lambda g: F.lower(g))).alias("genre"),
    )
