from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_feature_demo_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), n)``: ``n`` is the number of Spark jobs
    ``fn`` started on the calling thread (its own statusTracker job group)."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        sc.setJobGroup(group := f"probe-{uuid.uuid4()}", "job count")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker lags the bus
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def registry_sweep(spark, sf_dir):
    """ONE pass over the full registry shared by every registry-wide gate.

    r12's suite built all 319 physical plans four separate times — oracle
    parity, the smoke sweep, the plan-shape audit, and the scan-pruning
    audit each called ``REGISTRY[name].fn`` + planning for every query —
    and the resulting ~39 min suite outran the driver's verification
    window (VERIFY_r12 ``tests_ok: false`` with zero failures, cut at
    ~81%). Planning is the dominant cost (the two plan-only audits were
    236 s + 294 s vs 365 s for the executing sweep), so building each
    query ONCE and letting every consumer read from the same
    QueryExecution removes ~900 s while keeping all four gates
    registry-wide — nothing is sampled.

    Per query: build the DataFrame, capture the PRE-execution simple +
    formatted plan strings (same text the old audits saw — explainString
    on the same QueryExecution plans once and caches), then run the
    driver-style oracle compare (which fully executes the query). Errors
    are recorded per query so one broken query fails its own test(s),
    not the fixture.
    """
    from hive_feature_demo_spark.plans import REGISTRY
    from tests.oracle import compare, duckdb_con

    jvm = spark._sc._jvm
    modes = {
        m: jvm.org.apache.spark.sql.execution.ExplainMode.fromString(m)
        for m in ("simple", "formatted")
    }
    out: dict[str, dict] = {}
    con = duckdb_con(sf_dir)
    try:
        for name, q in sorted(REGISTRY.items()):
            rec: dict = {
                "columns": None,
                "simple": None,
                "formatted": None,
                "problems": None,
                "error": None,
            }
            try:
                df = q.fn(spark, sf_dir)
                rec["columns"] = list(df.columns)
                qe = df._jdf.queryExecution()
                rec["simple"] = qe.explainString(modes["simple"])
                rec["formatted"] = qe.explainString(modes["formatted"])
                rec["problems"] = compare(df, con, q.oracle)
            except Exception as exc:  # noqa: BLE001 — recorded per query
                rec["error"] = f"{type(exc).__name__}: {exc}"
            out[name] = rec
    finally:
        con.close()
    return out
