"""The benchmark's workloads: inputs, request lists and correctness checks.

Both workloads are closed loops with one client and one request in flight.
A workload's *pass* is its fixed request list; each pass runs the list in
an order drawn from the seed. Every request is checked: a wrong answer or
an exception is a failed request.

- ``olap_sf01``: registry queries on the engine's sf0.1 test corpus (a
  byte-identical copy in ``perfbench/corpus``), each run as the registry
  call plus a noop-write action. Mostly per-query fixed cost: catalog
  reads, plan build, Catalyst planning, job scheduling, and one micro-batch
  streaming replay. The seed sets only the request order.
- ``crm_mix``: the reference's analytic surface (``api.query_crm``,
  ``generate_campaign_copy``, ``schedule_campaign``) over a generated fans
  table, plus ``writers.append_idempotent`` appends that later reads must
  see.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from fractions import Fraction
from functools import partial

import duckdb
import numpy as np

import datagen

#: olap_sf01 request list: headline and micro-batch queries covering the
#: layers a fixed-cost change can move, with small results (the oracle
#: compare collects them) and light enough that a warm pass takes ~7 s on
#: 4 cores. q01 fans its scan out (skew.fan_out_scan); q04 reads five
#: tables through catalog.table; q168 replays events through a micro-batch
#: stream (streaming.ops.run_to_memory) with watermark state. Seven reads a
#: pass over four passes is 28 read samples, so ``req_tail_ms`` is p64. An
#: odd count keeps the median inside one query's samples: with six, it fell
#: between two queries' and its run-to-run spread grew by half.
OLAP_QUERIES = (
    "q01_pricing_summary",
    "q04_region_rollup",
    "q18_segment_customer_stats",
    "q30_dedup_exact_clusters",
    "q40_tumbling_hourly",
    "q90_event_funnel",
    "q168_streaming_dedup_within_watermark",
)

#: crm_mix read shapes, one query_crm call each per pass. Values are drawn
#: from the seed within ranges that keep each shape's selectivity alike
#: across seeds; ``empty`` always takes the empty-result sentinel path.
#: With copy and schedule that is 11 reads a pass, 44 read samples over
#: four passes, so ``req_tail_ms`` is p77.
CRM_SHAPES = ("genre", "genres_recent", "spent", "city", "genres_city", "window_spent", "all_five", "none", "empty")
CRM_TODAY = dt.date(2024, 11, 1)
#: Copies of the engine's test corpora (TESTDATA.md), checksums in SHA256SUMS.
CORPUS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")
_CITY_SUBSTRINGS = ("chic", "oak", "park", "rock", "spring", "aur", "jol", "evan", "naper", "peor")
_TONES = ("enthusiastic", "exclusive", "casual")


def concurrently(checks: list) -> list[str]:
    """Warm-up: run zero-argument checks three at a time and return the
    problems they report; an exception counts as one. A request's first
    runs, which are 2-3x slower than later ones, take about half the time
    this way on 4 cores, leaving room in the run budget for a sequential
    warm pass before timing starts."""
    def one(check) -> list[str]:
        try:
            return check()
        except Exception:  # noqa: BLE001 — counted as a failed check
            return [f"raised\n{traceback.format_exc()}"]

    with ThreadPoolExecutor(3) as pool:
        return [p for ps in pool.map(one, checks) for p in ps]


def checked_run(wl, key: str) -> list[str]:
    """One untimed run of a request; a wrong answer is a problem."""
    return [] if wl.run(key, 0)[2] else [f"{key}: wrong answer"]


class Ctx:
    """What every workload shares within one run."""

    def __init__(self, spark, tracer, tmp: str, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.tmp = tmp
        self.seed = seed
        self.rid = 0
        self.build_jobs: list[int] = []  # statusTracker job count per traced registry call
        self.phases: dict[str, float] = {}  # set-up phase -> seconds
        self.sink_tables = 0
        self.peak_rss_mb = 0.0

    def next_rid(self) -> int:
        self.rid += 1
        self.tracer.rid = self.rid
        return self.rid


# ---------------------------------------------------------------------------
# olap_sf01
# ---------------------------------------------------------------------------

class Olap:
    name = "olap_sf01"
    pass_estimate_s = 6.5

    def __init__(self, ctx: Ctx, corpus: str = "sf0.1", queries=OLAP_QUERIES) -> None:
        self.ctx = ctx
        self.queries = tuple(queries)
        self.sf_dir = os.path.join(CORPUS_DIR, corpus)
        self.expect: dict[str, int] = {}

    def requests(self) -> list[str]:
        return list(self.queries)

    def prepare(self) -> None:
        """Record each query's oracle row count, which every timed request
        is checked against. Nothing is generated: the corpus is read in
        place (the queries only read it; what they write goes to the run's
        temp dir)."""
        from hive_feature_demo_spark.plans import REGISTRY
        from tests.oracle import duckdb_con

        con = duckdb_con(self.sf_dir)
        try:
            for name in self.queries:
                self.expect[name] = con.sql(f"SELECT count(*) FROM ({REGISTRY[name].oracle})").fetchone()[0]
        finally:
            con.close()

    def first_run(self) -> tuple[int, list[str]]:
        """Each query's first two runs, untimed and concurrent (see
        ``concurrently``): one compares its full result with its DuckDB
        oracle by ``tests/oracle.py``'s ``compare``, the other is a checked
        request. Returns the number of checks and the problems found."""
        import bench
        from hive_feature_demo_spark.plans import REGISTRY
        from tests.oracle import compare, duckdb_con

        spark = self.ctx.spark
        con = duckdb_con(self.sf_dir)

        def oracle_check(name: str) -> list[str]:
            q, cur = REGISTRY[name], con.cursor()
            try:
                return [f"{name}: {p}" for p in compare(q.fn(spark, self.sf_dir), cur, q.oracle)]
            finally:
                cur.close()

        checks = [partial(oracle_check, n) for n in self.queries]
        checks += [partial(checked_run, self, n) for n in self.queries]
        before = bench._persistent_ids(spark)
        try:
            problems = concurrently(checks)
        finally:
            con.close()
            bench._unpersist_ids(spark, bench._persistent_ids(spark) - before)
        return len(checks), problems

    def run(self, key: str, pass_no: int) -> tuple[str, float, bool]:
        """One timed request: registry call + noop-write action. The row
        count rides along through ``observe``. Returns (kind, seconds,
        correct)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from hive_feature_demo_spark.plans import REGISTRY

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        sc = spark.sparkContext
        rid = ctx.next_rid()
        obs = Observation(f"rows_{rid}")
        t0 = time.perf_counter()
        with tr.span("request", key=key):
            if tr.enabled:
                sc.setJobGroup(f"r{rid}:build", key)
            with tr.span("plans.build"):
                df = REGISTRY[key].fn(spark, self.sf_dir)
            if tr.enabled:
                ctx.build_jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"r{rid}:build")))
                sc.setJobGroup(f"r{rid}:exec", key)
            out = df.observe(obs, F.count(F.lit(1)).alias("n"))
            if tr.enabled:
                with tr.span("spark.plan"):
                    out._jdf.queryExecution().executedPlan()
            with tr.span("exec.action"):
                out.write.format("noop").mode("overwrite").save()
        return "read", time.perf_counter() - t0, obs.get["n"] == self.expect[key]


# ---------------------------------------------------------------------------
# crm_mix
# ---------------------------------------------------------------------------

def _round_spark_avg(cents: int, n: int) -> float:
    """``segment_stats``' average of a 2-dp column: the exact decimal
    quotient at Spark's result scale (13, HALF_UP), then HALF_EVEN to 2."""
    q = Fraction(cents, 100 * n)
    q13 = Fraction(int(q * 10**13 + Fraction(1, 2)), 10**13)
    return float(round(q13, 2))


class Crm:
    name = "crm_mix"
    pass_estimate_s = 6.0
    table = "fans"

    def __init__(self, ctx: Ctx, n_fans: int = 100_000, append_new: int = 400, append_dup: int = 200) -> None:
        self.ctx = ctx
        self.n_fans = n_fans
        self.append_new = append_new
        self.append_dup = append_dup
        self.path = os.path.join(ctx.tmp, "fans_seed.parquet")
        rng = random.Random(f"{ctx.seed}:crm")
        self.calls = {shape: self._filters(shape, rng) for shape in CRM_SHAPES}
        event = f"{rng.choice(['Blue Note', 'Gospel Brunch', 'Indie Night', 'Rock Fest'])} {rng.randint(1, 99)}"
        date = (CRM_TODAY + dt.timedelta(days=rng.randint(7, 90))).isoformat()
        self.copy_args = (f"{rng.choice(list(datagen.GENRES))} lovers", event, date, rng.choice(_TONES))
        self.schedule_args = (f"seg_{rng.getrandbits(32):08x}", event, rng.randint(100, 50_000), f"{date}T19:00:00")
        self.table_files: list[int] = []
        self.offered = self.added = 0
        self.n_empty = self.n_queries = 0

    @staticmethod
    def _filters(shape: str, rng: random.Random) -> dict:
        # genres of alike frequency (7-11 of the fixture's 80 fans) and
        # narrow numeric ranges: the seed changes values, not selectivity
        mid = ("Indie", "Gospel", "Rock", "Hip-Hop", "Classical")

        def genre() -> str:
            g = rng.choice(mid)
            return rng.choice([g, g.lower(), g.upper()])

        city = rng.choice(_CITY_SUBSTRINGS)
        return {
            "genre": {"genres": [genre()]},
            "genres_recent": {"genres": [genre(), genre()], "min_months_since_purchase": round(rng.uniform(3, 4), 2)},
            "spent": {"min_total_spent": round(rng.uniform(450, 550), 2)},
            "city": {"city": rng.choice([city, city.upper()])},
            "genres_city": {"genres": [genre(), genre(), genre()], "city": rng.choice(_CITY_SUBSTRINGS)},
            "window_spent": {"max_months_since_purchase": round(rng.uniform(8, 10), 2),
                             "min_total_spent": round(rng.uniform(300, 400), 2)},
            "all_five": {"genres": [genre()], "min_months_since_purchase": round(rng.uniform(1, 2), 2),
                         "max_months_since_purchase": round(rng.uniform(11, 13), 2),
                         "min_total_spent": round(rng.uniform(250, 350), 2), "city": city},
            "none": {},
            "empty": {"city": f"{city}ville-{rng.randint(0, 999)}"},
        }[shape]

    def requests(self) -> list[str]:
        return [f"crm.{s}" for s in CRM_SHAPES] + ["copy", "schedule", "append"]

    def prepare(self) -> None:
        from hive_feature_demo_spark.sources import writers

        datagen.write_fans(self.path, self.ctx.seed, self.n_fans)
        spark = self.ctx.spark
        writers.append_idempotent(spark, spark.read.parquet(self.path), self.table, ["id"])
        self.location = os.path.join(self.ctx.tmp, "warehouse", self.table)
        self.schema = spark.read.parquet(self.path).schema

    def first_run(self) -> tuple[int, list[str]]:
        """Each read request's first two runs, checked, untimed and
        concurrent (see ``concurrently``); no append runs meanwhile, so
        every read sees the same table. Returns the number of checks and
        the problems found."""
        checks = [partial(checked_run, self, k) for k in self.requests() if k != "append"] * 2
        return len(checks), concurrently(checks)

    # -- one request ---------------------------------------------------------

    def run(self, key: str, pass_no: int) -> tuple[str, float, bool]:
        """One request; returns (kind, seconds of the tool call, correct).
        Only the call itself is timed, not building its input or checking
        its answer."""
        self.ctx.next_rid()
        if key == "append":
            return ("write", *self._append(pass_no))
        call = {"copy": self._copy, "schedule": self._schedule}.get(key)
        return ("read", *(call() if call else self._query(key.split(".", 1)[1])))

    def _timed(self, span: str, fn):
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("request", key=span), tr.span(span):
            got = fn()
        return got, time.perf_counter() - t0

    def _query(self, shape: str) -> tuple[float, bool]:
        from hive_feature_demo_spark import api

        spark, kw = self.ctx.spark, self.calls[shape]
        got, seconds = self._timed(
            "crm.query", lambda: api.query_crm(spark.table(self.table), **kw, today=CRM_TODAY))
        self.n_queries += 1
        self.n_empty += got["count"] == 0
        return seconds, got == self._oracle(kw)

    def _oracle(self, kw: dict) -> dict:
        """query_crm's answer computed by DuckDB over the table's parquet."""
        preds = ["TRUE"]
        if kw.get("genres"):
            wanted = ", ".join(f"'{g.lower()}'" for g in kw["genres"])
            preds.append(f"len(list_filter(genres, g -> lower(g) IN ({wanted}))) > 0")
        months = f"datediff('day', last_purchase_date, DATE '{CRM_TODAY}') / 30.44"
        if kw.get("min_months_since_purchase") is not None:
            preds.append(f"{months} >= {float(kw['min_months_since_purchase'])!r}")
        if kw.get("max_months_since_purchase") is not None:
            preds.append(f"{months} <= {float(kw['max_months_since_purchase'])!r}")
        if kw.get("min_total_spent") is not None:
            preds.append(f"total_spent >= {float(kw['min_total_spent'])!r}")
        if kw.get("city"):
            preds.append(f"contains(lower(city), '{kw['city'].lower()}')")
        src = f"read_parquet('{self.location}/*.parquet')"
        where = " AND ".join(preds)
        con = duckdb.connect()
        try:
            n, spent, opened = con.sql(
                f"SELECT count(*), sum(CAST(round(total_spent * 100) AS BIGINT)), "
                f"sum(CAST(round(email_open_rate * 100) AS BIGINT)) FROM {src} WHERE {where}"
            ).fetchone()
            if n == 0:
                return {"count": 0, "segment_id": "", "avg_spent": 0, "open_rate": 0, "fans": []}
            cols = ("id", "first_name", "last_name", "city", "state", "genres",
                    "last_purchase_date", "total_spent", "email_open_rate")
            rows = con.sql(f"SELECT {', '.join(cols)} FROM {src} WHERE {where} ORDER BY id LIMIT 5").fetchall()
        finally:
            con.close()
        from hive_feature_demo_spark.operators.segment import SegmentFilters, segment_id_for

        filters = SegmentFilters(
            genres=tuple(kw["genres"]) if kw.get("genres") else None,
            **{k: kw.get(k) for k in ("min_months_since_purchase", "max_months_since_purchase",
                                      "min_total_spent", "city")},
        )
        return {
            "count": n,
            "segment_id": segment_id_for(filters, CRM_TODAY),
            "avg_spent": _round_spark_avg(spent, n),
            "open_rate": _round_spark_avg(opened, n),
            "fans": [dict(zip(cols, r)) for r in rows],
        }

    def _copy(self) -> tuple[float, bool]:
        from hive_feature_demo_spark import api

        aud, event, date, tone = self.copy_args
        got, seconds = self._timed(
            "campaign.copy", lambda: api.generate_campaign_copy(self.ctx.spark, aud, event, date, tone))
        # the reference's deterministic template (FIXTURES.md section 3)
        return seconds, got == {
            "email": {
                "subject": f"You're invited: {event}",
                "preview_text": f"Don't miss {event} on {date}",
                "body": f"Hi there!\n\n{tone} — {event} is coming up on {date}. As one of our "
                        f"{aud} fans, we wanted you to hear it first.\n\nGet your tickets now!",
            },
            "sms": {"body": f"{event} — {date}. Get your tickets now!"},
        }

    def _schedule(self) -> tuple[float, bool]:
        from hive_feature_demo_spark import api

        seg, event, size, send_at = self.schedule_args
        got, seconds = self._timed(
            "campaign.schedule", lambda: api.schedule_campaign(self.ctx.spark, seg, event, size, send_at))
        digest = hashlib.sha256(f"{seg}|{event}|{send_at}".encode()).hexdigest()[:8]
        return seconds, got == {"campaign_id": f"cmp_{digest}", "segment_id": seg, "event_name": event,
                       "audience_size": size, "send_at": send_at, "status": "scheduled"}

    def _append(self, pass_no: int) -> tuple[float, bool]:
        """Offer new fans (ids unique to this pass) mixed with re-offered
        existing ids; only the new ones may land."""
        from hive_feature_demo_spark.sources import writers

        spark = self.ctx.spark
        rng = np.random.default_rng([self.ctx.seed, 7, pass_no])
        new = [f"g{pass_no:04d}{k:05d}" for k in range(self.append_new)]
        dups = [datagen.fan_id(int(i)) for i in rng.choice(self.n_fans, self.append_dup, replace=False) + 1]
        batch = spark.createDataFrame(datagen.fans_table(rng, new + dups).to_pandas(), schema=self.schema)
        added, seconds = self._timed(
            "writers.append", lambda: writers.append_idempotent(spark, batch, self.table, ["id"]))
        self.offered += len(new) + len(dups)
        self.added += added
        self.table_files.append(sum(f.endswith(".parquet") for f in os.listdir(self.location)))
        return seconds, added == len(new)


WORKLOADS = {Olap.name: Olap, Crm.name: Crm}
