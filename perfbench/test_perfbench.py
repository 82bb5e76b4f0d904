"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench -q

The smoke test starts one local Spark session and runs both workloads at a
tiny size through the same code the benchmark runs (about a minute).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _ctx(seed: int, tmp: str = "/nonexistent") -> workloads.Ctx:
    return workloads.Ctx(None, tracing.Tracer(), tmp, seed)


def test_same_seed_same_inputs_and_requests():
    import numpy as np

    fa = datagen.fans_table(np.random.default_rng(3), ["f1", "f2", "f3"])
    assert fa.equals(datagen.fans_table(np.random.default_rng(3), ["f1", "f2", "f3"]))
    assert not fa.equals(datagen.fans_table(np.random.default_rng(4), ["f1", "f2", "f3"]))

    crm = [workloads.Crm(_ctx(s)) for s in (7, 7, 8)]
    assert crm[0].calls == crm[1].calls and crm[0].copy_args == crm[1].copy_args
    assert crm[0].calls != crm[2].calls
    keys = crm[0].requests()
    assert run.pass_orders(keys, 7, 3) == run.pass_orders(keys, 7, 3)
    assert run.pass_orders(keys, 7, 3) != run.pass_orders(keys, 8, 3)
    assert all(sorted(o) == sorted(keys) for o in run.pass_orders(keys, 7, 3))


def test_corpus_matches_its_checksums():
    import hashlib

    with open(os.path.join(workloads.CORPUS_DIR, "SHA256SUMS")) as f:
        sums = [line.split() for line in f if line.strip()]
    assert {p.split("/")[0] for _, p in sums} == {"sf0.001", "sf0.1"}
    for digest, rel in sums:
        with open(os.path.join(workloads.CORPUS_DIR, rel), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == digest, rel


def test_tail_rule():
    xs = list(range(1, 101))  # 1..100
    assert stats.tail(xs) == (90, 90, 10)  # 10 samples above the 90th
    assert stats.tail(list(range(1000))) == (99, 989, 10)
    assert stats.tail(list(range(24)))[::2] == (58, 10)  # n=24: p58 leaves exactly 10
    pct, value, beyond = stats.tail(list(range(12)))  # too few: median, shortfall shown
    assert (pct, beyond) == (50, 6)
    for n in (20, 27, 40, 50, 333):
        pct, _, beyond = stats.tail(list(range(n)))
        assert beyond >= 10
        higher = [p for p in stats.TAIL_LADDER if p > pct]
        assert all(n - max(1, -(-p * n // 100)) < 10 for p in higher)


def test_drift():
    assert stats.drift_pct([10.0, 10.0, 10.0]) == 0.0
    assert stats.drift_pct([12.0, 10.0, 8.0]) == pytest.approx(-40.0)


def test_every_metric_prints_name_and_unit():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    for units in (run.E2E_UNITS, run.LAYER_UNITS):
        line = json.loads(run.result_line(True, 3, 0, {k: 1.5 for k in units}, units))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["metrics"] == {k: {"value": 1.5, "unit": u} for k, u in units.items()}
        with pytest.raises(KeyError):
            run.result_line(True, 3, 0, {}, units)


def test_crm_average_rounding():
    # exact decimal quotient, HALF_EVEN to cents: 287.125 -> 287.12
    assert workloads._round_spark_avg(28711 + 28714, 2) == 287.12
    assert workloads._round_spark_avg(101, 2) == 0.5  # 0.505 -> 0.50
    assert workloads._round_spark_avg(103, 2) == 0.52  # 0.515 -> 0.52


@pytest.fixture(scope="module")
def tiny_ctx(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("perfbench"))
    run._isolate(tmp)
    from hive_feature_demo_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test", extra_conf=run._spark_conf(tmp, traced=True))
    ctx = workloads.Ctx(spark, tracing.Tracer(), tmp, seed=5)
    ctx.phases = {"session.start_s": 1.0, "setup.data_s": 1.0, "setup.warmup_s": 1.0}
    yield ctx
    spark.stop()


@pytest.mark.parametrize("make", [
    lambda ctx: workloads.Olap(ctx, corpus="sf0.001"),
    lambda ctx: workloads.Crm(ctx, n_fans=2_000, append_new=20, append_dup=10),
], ids=["olap_sf01", "crm_mix"])
def test_tiny_smoke_passes_correctness_gate(tiny_ctx, make):
    wl = make(tiny_ctx)
    import bench

    wl.prepare()
    assert wl.first_run()[1] == []
    persisted = bench._persistent_ids(tiny_ctx.spark)
    restore = tracing.install(tiny_ctx.tracer)
    try:
        orders = run.pass_orders(wl.requests(), 5, 2)
        samples, passes, failures = run.measure(wl, tiny_ctx.tracer, orders, 1, traced_run=True)
    finally:
        restore()
    assert failures == [] and all(s["ok"] for s in samples)
    # every block a request persisted (crm_mix: the appends' checkpoints) is released
    assert bench._persistent_ids(tiny_ctx.spark) <= persisted
    assert len(samples) == 2 * len(wl.requests())
    values = run.layer_metrics(tiny_ctx.tracer, wl, tiny_ctx, passes, log_dir=None)
    assert set(values) == set(run.LAYER_UNITS)
    if isinstance(wl, workloads.Olap):
        assert values["catalog.table_calls"] > 0 and values["stream.batches"] > 0
        assert values["skew.fan_out_calls"] > 0
    else:
        assert values["writers.added_ratio"] == pytest.approx(20 / 30)
        assert values["crm.empty_share"] == pytest.approx(1 / len(workloads.CRM_SHAPES))


def test_wrong_answer_is_a_failed_request(tiny_ctx):
    wl = workloads.Olap(tiny_ctx, corpus="sf0.001", queries=("q90_event_funnel",))
    wl.prepare()
    wl.expect["q90_event_funnel"] += 1
    orders = run.pass_orders(wl.requests(), 5, 2)
    samples, _, failures = run.measure(wl, tiny_ctx.tracer, orders, 1, traced_run=False)
    assert len(failures) == 2 and not any(s["ok"] for s in samples)


def test_layer_hooks_rebind_every_binding():
    tr = tracing.Tracer()
    import hive_feature_demo_spark.catalog as catalog
    import hive_feature_demo_spark.plans.relational as relational

    orig = catalog.table
    restore = tracing.install(tr)
    try:
        assert relational.table is catalog.table is not orig
        assert catalog.table.__wrapped__ is orig
    finally:
        restore()
    assert relational.table is orig and catalog.table is orig


def test_self_time_subtracts_children():
    tr = tracing.Tracer()
    tr.enabled = True
    tr.spans = [
        {"name": "request", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "plans.build", "start": 1.0, "end": 4.0, "parent": 0},
        {"name": "catalog.table", "start": 1.5, "end": 2.5, "parent": 1},
    ]
    assert tr.self_times() == [7.0, 2.0, 1.0]
    job = {"t": tr.epoch0 + 2.0}
    assert tracing.attribute_jobs(tr, [job]) == {2: [job]}


def test_unknown_workload_is_refused():
    with pytest.raises(SystemExit):
        run.main(["--workload", "nope", "--seed", "1", "--seconds", "1"])
