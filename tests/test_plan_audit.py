"""Registry-wide plan-audit regression gate (r12).

scripts/audit_plans.py classifies every registered query's physical plan
for the shapes that hurt at 100 TB (CartesianProduct, non-bounded
BroadcastNestedLoopJoin, dim-side SortMergeJoin, nested same-key
Exchange, Expand). This test pins its verdicts: the set of flagged queries must
stay within the documented allowlist (PERF.md round-12 table), so a new
query or a rewrite cannot silently introduce an unreviewed cartesian or
a redundant shuffle. Runs plan-building only — nothing executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from audit_plans import _audit_plan  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from hive_feature_demo_spark.plans import REGISTRY

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Documented keeps (PERF.md "Round-12: registry-wide join/shuffle
# anti-pattern audit"). A query may appear here only with a verdict
# recorded in that table.
BNLJ_REVIEW_ALLOWED = {
    # ANN probe-set broadcasts: bounded query/centroid side by construction
    "q36_cosine_topk",
    "q63_ivf_topk",
    "q82_ivf_trained_topk",
    "q98_ivf_pq_topk",
    "q169_ann_recall_eval",
    "q199_ivf_recall_sweep",
    "q210_hard_negative_mining",
    "q211_knn_label_consistency",
    "q306_matryoshka_recall",
    "q312_hybrid_rrf_retrieval",
    # contingency/marginal grids over bounded categorical domains
    "q224_ab_exposure_lift",
    "q279_chisq_independence",
    "q291_ks_length_drift",
    "q295_chisq_residuals",
    # exact all-pairs ground-truth baseline (quadratic by definition)
    "q118_embedding_near_dup_exact",
}
SMJ_DIM_ALLOWED = {
    # FULL OUTER is unsupported by BroadcastHashJoin; SMJ is the only
    # strategy, and both sides are dims
    "q75_full_outer_reconcile",
}
# Expand keeps (PERF.md "Round-11: registry-wide Expand audit"). Rollup/
# cube/grouping-sets queries are pre-aggregated to their finest grouping
# set, so the Expand multiplies a bounded aggregate, never fact rows.
EXPAND_PREAGGREGATED = {
    "q04_region_rollup",
    "q09_status_priority_cube",
    "q52_grouping_sets",
}
EXPAND_ALLOWED = {
    # each event belongs to 2 overlapping hourly windows: the Expand IS
    # the operator
    "q41_sliding_2h_1h",
    # unpivot is definitionally row expansion
    "q147_unpivot_measures",
}


def test_registry_plan_audit_within_allowlist(registry_sweep):
    cartesian_bad: list[str] = []
    bnlj_bad: list[str] = []
    smj_bad: list[str] = []
    nested_bad: list[str] = []
    for name in sorted(REGISTRY):
        rec = registry_sweep[name]
        assert rec["error"] is None, f"{name} failed to plan: {rec['error']}"
        r = _audit_plan(rec["simple"])
        if any(c["class"] == "review" for c in r["cartesian"]):
            cartesian_bad.append(name)
        if (
            any(c["class"] == "review" for c in r["bnlj"])
            and name not in BNLJ_REVIEW_ALLOWED
        ):
            bnlj_bad.append(name)
        if r["smj_dim"] and name not in SMJ_DIM_ALLOWED:
            smj_bad.append(name)
        if r["nested_exchange"]:
            nested_bad.append(name)
    assert not cartesian_bad, f"unreviewed CartesianProduct: {cartesian_bad}"
    assert not bnlj_bad, f"unreviewed BroadcastNestedLoopJoin: {bnlj_bad}"
    assert not smj_bad, f"un-allowlisted dim-side SortMergeJoin: {smj_bad}"
    assert not nested_bad, f"nested same-key Exchange: {nested_bad}"


def test_registry_scan_pruning_within_allowlist(registry_sweep):
    """Column pruning must reach every parquet scan (guide §6): no query
    may scan EVERY column of a >=5-column table unless it semantically
    uses every column (documented allowlist). The fact table (lineitem,
    11 cols) has a zero-tolerance gate — at 100 TB a full-width fact scan
    multiplies scan bytes ~2-4x. Census at r12 HEAD: 319 plans, exactly
    the two allowlisted full-width scans (scripts/audit_scans.py)."""
    from audit_scans import full_width_scans, table_widths

    FULL_WIDTH_ALLOWED = {
        # q12 applies a scalar function to every one of part's 6 columns
        ("q12_scalar_functions", "part"),
        # q140 pseudonymizes/bands/aggregates all 5 customer columns
        ("q140_pii_anonymization", "customer"),
    }
    widths = table_widths(SF_DIR)
    bad = []
    for name in sorted(REGISTRY):
        rec = registry_sweep[name]
        assert rec["error"] is None, f"{name} failed to plan: {rec['error']}"
        plan = rec["formatted"]
        for table, ncols, w, _pushed in full_width_scans(plan, widths, 5):
            if (name, table) not in FULL_WIDTH_ALLOWED:
                bad.append((name, table, f"{ncols}/{w}"))
    assert not bad, f"un-allowlisted full-width scans: {bad}"


def test_registry_expand_within_allowlist(spark, registry_sweep):
    """Only the documented queries plan an Expand, and every grouping-sets
    Expand is fed by a HashAggregate. q91's three COUNT(DISTINCT)-shaped
    aggregates are a per-user MAX(flag) pre-aggregate: no Expand at all."""
    expands = {}
    for name in sorted(REGISTRY):
        rec = registry_sweep[name]
        assert rec["error"] is None, f"{name} failed to plan: {rec['error']}"
        found = _audit_plan(rec["simple"])["expand"]
        if found:
            expands[name] = found
    unexpected = set(expands) - EXPAND_PREAGGREGATED - EXPAND_ALLOWED
    assert not unexpected, f"un-allowlisted Expand: {unexpected}"
    assert "q91_retention_cohorts" not in expands
    for name in EXPAND_PREAGGREGATED:
        assert [e["kind"] for e in expands.get(name, [])] == ["grouping_sets"], name
        assert expands[name][0]["child"] == "HashAggregate", expands[name]
    # the classifier tells a multi-column COUNT(DISTINCT) Expand apart
    df = spark.range(8).selectExpr("id % 2 AS k", "id % 3 AS a", "id AS b")
    plan = df.groupBy("k").agg(F.countDistinct("a"), F.countDistinct("b"))._jdf
    mode = spark._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    kinds = [e["kind"] for e in _audit_plan(plan.queryExecution().explainString(mode))["expand"]]
    assert kinds == ["count_distinct"], kinds


def test_scan_gate_checks_fans_table():
    """The scan gate's widths include data/fans.parquet, and a full-width
    scan of any table in ``widths`` is flagged; a scratch round trip (no
    table in its Location) is still skipped."""
    from audit_scans import full_width_scans, table_widths

    assert table_widths(SF_DIR)["fans"] == 14
    plan = "(1) Scan parquet \nLocation: InMemoryFileIndex [file:{}]\nReadSchema: struct<{}>\n"
    full, widths = "id:string,city:string,state:string", {"fans": 3}
    flagged = [("fans", 3, 3, "[]")]
    assert full_width_scans(plan.format("/repo/data/fans.parquet", full), widths, 3) == flagged
    assert full_width_scans(plan.format("/repo/data/fans.parquet", "id:string"), widths, 3) == []
    assert full_width_scans(plan.format("/tmp/q192_replay_x", full), widths, 3) == []
