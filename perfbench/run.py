"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 30 --trace 0

Runs one workload in a fresh process against a fresh Spark session, with
inputs and request order drawn from ``--seed``, for about ``--seconds`` of
measured passes, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics from spans
and Spark's event log (see perfbench/README.md). The line before it is the
run record (machine, versions, seed, sample counts).

Everything the run writes lives under ``.perfbench_tmp/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "req_p50_ms": "ms", "req_tail_ms": "ms"}

LAYER_UNITS = {
    "session.start_s": "s", "setup.data_s": "s", "setup.warmup_s": "s",
    "plans.build_ms": "ms", "plans.build_jobs": "count",
    "catalog.table_calls": "count", "catalog.table_ms": "ms", "catalog.table_jobs": "count",
    "skew.fan_out_calls": "count", "skew.fan_out_ms": "ms",
    "spark.plan_ms": "ms", "exec.action_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count", "exec.cpu_util": "ratio",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.scan_mb": "MB", "exec.scan_rows": "count",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_fetch_wait_ms": "ms", "exec.spill_mb": "MB",
    "exec.gc_ms": "ms",
    "stream.run_ms": "ms", "stream.batches": "count", "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms", "stream.wal_commit_ms": "ms", "stream.state_commit_ms": "ms",
    "stream.state_rows": "count", "stream.dropped_rows": "count", "stream.sink_tables": "count",
    "crm.query_ms": "ms", "crm.jobs_per_call": "count", "campaign.copy_ms": "ms",
    "campaign.schedule_ms": "ms", "crm.empty_share": "ratio",
    "writers.append_ms": "ms", "writers.added_ratio": "ratio", "writers.table_files": "count",
    "mem.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
}


#: Untimed, checked passes after each request's first two, concurrent
#: runs (``first_run``), so timing starts at a request's fourth run. On 4
#: cores pass times fall for about five runs (olap_sf01: 10.0, 8.0, 6.9,
#: 6.1, 6.4 s after the first) before they level off; more warm passes do
#: not fit the run budget (perfbench/README.md, "Steadiness").
WARM_PASSES = 1


def traced_pass(i: int) -> bool:
    """Traced run: measured passes alternate traced/untraced in ABBA order,
    so warm-up drift does not bias the tracing-overhead comparison."""
    return i % 4 in (0, 3)


def result_line(correct: bool, attempted: int, failed: int, values: dict[str, float], units: dict[str, str]) -> str:
    missing = set(units) - set(values)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    })


def _isolate(tmp: str) -> None:
    """Point every scratch location the engine, Spark and Python use at
    ``tmp`` before anything starts."""
    for sub in ("py", "local", "java", "warehouse"):
        os.makedirs(os.path.join(tmp, sub))
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    tempfile.tempdir = None  # re-read TMPDIR


def _spark_conf(tmp: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        # no hsperfdata file in the system /tmp: the run writes only under tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'java')} -XX:-UsePerfData",
    }
    if traced:
        os.makedirs(os.path.join(tmp, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(tmp, "eventlog"),
            # Python's standard library has no zstd reader
            "spark.eventLog.compress": "false",
        })
    return conf


def _stop(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a hung JVM must not outlive the run
            proc.kill()
            proc.wait()


def _stream_progress(progress: list[dict]) -> dict[str, float]:
    out = {"batches": len(progress), "add_batch_ms": 0.0, "planning_ms": 0.0,
           "wal_commit_ms": 0.0, "state_commit_ms": 0.0, "state_rows": 0.0, "dropped_rows": 0.0}
    for p in progress:
        d = p.get("durationMs") or {}
        out["add_batch_ms"] += d.get("addBatch", 0)
        out["planning_ms"] += d.get("queryPlanning", 0)
        out["wal_commit_ms"] += d.get("walCommit", 0)
        for op in p.get("stateOperators") or []:
            out["state_commit_ms"] += op.get("commitTimeMs", 0)
            out["dropped_rows"] += op.get("numRowsDroppedByWatermark", 0)
    if progress:
        out["state_rows"] = sum(op.get("numRowsTotal", 0) for op in progress[-1].get("stateOperators") or [])
    return out


def layer_metrics(tr: tracing.Tracer, wl, ctx, passes: list[dict], log_dir: str | None) -> dict[str, float]:
    """Fold the traced passes' spans, stream progress and event log into the
    per-layer metrics (definitions in perfbench/README.md)."""
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    spans = tr.spans
    own = tr.self_times()
    idx_by = {}
    for i, s in enumerate(spans):
        idx_by.setdefault(s["name"], []).append(i)

    def root(i: int) -> int:
        while spans[i]["parent"] is not None:
            i = spans[i]["parent"]
        return i

    def per_pass(values_by_pass: dict[int, float]) -> float:
        return stats.median([values_by_pass.get(p["no"], 0.0) for p in traced]) if traced else 0.0

    def pass_sum(name: str) -> float:
        acc: dict[int, float] = {}
        for i in idx_by.get(name, []):
            acc[spans[i]["pass_no"]] = acc.get(spans[i]["pass_no"], 0.0) + 1000 * own[i]
        return per_pass(acc)

    def call_median(name: str) -> float:
        ds = [1000 * (spans[i]["end"] - spans[i]["start"]) for i in idx_by.get(name, [])]
        return stats.median(ds) if ds else 0.0

    def count_per_pass(name: str) -> float:
        acc: dict[int, float] = {}
        for i in idx_by.get(name, []):
            acc[spans[i]["pass_no"]] = acc.get(spans[i]["pass_no"], 0.0) + 1
        return per_pass(acc)

    jobs, stages = tracing.read_event_log(log_dir) if log_dir else ([], {})
    by_span = tracing.attribute_jobs(tr, jobs)
    jobs_in_request: dict[int, list[dict]] = {}
    jobs_under: dict[str, int] = {}
    for i, js in by_span.items():
        jobs_in_request.setdefault(root(i), []).extend(js)
        j = i
        while j is not None:  # count for the span and every ancestor layer
            jobs_under[spans[j]["name"]] = jobs_under.get(spans[j]["name"], 0) + len(js)
            j = spans[j]["parent"]
    n_requests = len(idx_by.get("request", []))
    seen_stages: set[int] = set()
    exec_pass: dict[int, dict[str, float]] = {}
    n_jobs = n_stages = n_tasks = 0
    for r, js in jobs_in_request.items():
        acc = exec_pass.setdefault(spans[r]["pass_no"], {})
        n_jobs += len(js)
        for job in js:
            for sid in job["stages"]:
                st = stages.get(sid)
                if st is None or sid in seen_stages:
                    continue  # skipped stage, or already counted for an earlier job
                seen_stages.add(sid)
                n_stages += 1
                n_tasks += st["tasks"]
                for k, v in st.items():
                    acc[k] = acc.get(k, 0.0) + v

    def exec_metric(key: str, scale: float = 1.0) -> float:
        return per_pass({p: a.get(key, 0.0) * scale for p, a in exec_pass.items()})

    stream_pass: dict[int, dict[str, float]] = {}
    for p in traced:
        for prog in p["stream"]:
            acc = stream_pass.setdefault(p["no"], {})
            for k, v in _stream_progress(prog).items():
                acc[k] = acc.get(k, 0.0) + v

    def stream_metric(key: str) -> float:
        return per_pass({p: a.get(key, 0.0) for p, a in stream_pass.items()})

    n_catalog = len(idx_by.get("catalog.table", []))
    n_crm = len(idx_by.get("crm.query", []))
    mb = 1.0 / (1 << 20)
    walls = lambda ps: stats.median([p["wall"] for p in ps])  # noqa: E731
    return {
        "session.start_s": ctx.phases["session.start_s"],
        "setup.data_s": ctx.phases["setup.data_s"],
        "setup.warmup_s": ctx.phases["setup.warmup_s"],
        "plans.build_ms": pass_sum("plans.build"),
        "plans.build_jobs": sum(ctx.build_jobs) / len(ctx.build_jobs) if ctx.build_jobs else 0.0,
        "catalog.table_calls": n_catalog / max(1, len(idx_by.get("plans.build", []))),
        "catalog.table_ms": call_median("catalog.table"),
        "catalog.table_jobs": jobs_under.get("catalog.table", 0) / max(1, n_catalog),
        "skew.fan_out_calls": count_per_pass("skew.fan_out"),
        "skew.fan_out_ms": pass_sum("skew.fan_out"),
        "spark.plan_ms": pass_sum("spark.plan"),
        "exec.action_ms": pass_sum("exec.action"),
        "exec.jobs": n_jobs / max(1, n_requests),
        "exec.stages": n_stages / max(1, n_requests),
        "exec.tasks": n_tasks / max(1, n_requests),
        "exec.cpu_util": stats.median([p["cpu"] / p["wall"] for p in traced]) if traced else 0.0,
        "exec.task_run_ms": exec_metric("run_ms"),
        "exec.task_cpu_ms": exec_metric("cpu_ms"),
        "exec.scan_mb": exec_metric("scan_b", mb),
        "exec.scan_rows": exec_metric("scan_rows"),
        "exec.shuffle_write_mb": exec_metric("shuffle_write_b", mb),
        "exec.shuffle_fetch_wait_ms": exec_metric("fetch_wait_ms"),
        "exec.spill_mb": exec_metric("spill_b", mb),
        "exec.gc_ms": exec_metric("gc_ms"),
        "stream.run_ms": pass_sum("stream.run"),
        "stream.batches": stream_metric("batches"),
        "stream.add_batch_ms": stream_metric("add_batch_ms"),
        "stream.planning_ms": stream_metric("planning_ms"),
        "stream.wal_commit_ms": stream_metric("wal_commit_ms"),
        "stream.state_commit_ms": stream_metric("state_commit_ms"),
        "stream.state_rows": stream_metric("state_rows"),
        "stream.dropped_rows": stream_metric("dropped_rows"),
        "stream.sink_tables": ctx.sink_tables,
        "crm.query_ms": call_median("crm.query"),
        "crm.jobs_per_call": jobs_under.get("crm.query", 0) / max(1, n_crm),
        "campaign.copy_ms": call_median("campaign.copy"),
        "campaign.schedule_ms": call_median("campaign.schedule"),
        "crm.empty_share": getattr(wl, "n_empty", 0) / max(1, getattr(wl, "n_queries", 0)),
        "writers.append_ms": call_median("writers.append"),
        "writers.added_ratio": getattr(wl, "added", 0) / max(1, getattr(wl, "offered", 0)),
        "writers.table_files": (getattr(wl, "table_files", None) or [0])[-1],
        "mem.peak_rss_mb": ctx.peak_rss_mb,
        "trace.overhead_pct": 100.0 * (walls(traced) / walls(untraced) - 1) if traced and untraced else 0.0,
    }


def pass_orders(keys: list[str], seed: int, n_passes: int) -> list[list[str]]:
    """The request order of each pass, drawn from the seed."""
    rng = random.Random(f"{seed}:order")
    out = []
    for _ in range(n_passes):
        keys = list(keys)
        rng.shuffle(keys)
        out.append(keys)
    return out


def measure(wl, tr: tracing.Tracer, orders: list[list[str]], first_no: int, traced_run: bool):
    """Run one pass per request order, numbered from ``first_no``. Returns
    the per-request samples, per-pass records and failure descriptions."""
    import bench
    from hive_feature_demo_spark.streaming import ops as sops

    spark = wl.ctx.spark
    samples: list[dict] = []
    passes: list[dict] = []
    failures: list[str] = []
    for i, keys in enumerate(orders):
        p = first_no + i
        tr.enabled = traced_run and traced_pass(i)
        tr.pass_no = p
        rec = {"no": p, "traced": tr.enabled, "stream": []}
        cpu0, w0 = tracing.cpu_seconds(os.getpid()), time.perf_counter()
        for key in keys:
            seen = set(sops.LAST_PROGRESS)
            before = bench._persistent_ids(spark)
            try:
                kind, seconds, ok = wl.run(key, p)
            except Exception:  # noqa: BLE001 — a failed request is counted, the run goes on
                kind, seconds, ok = "error", float("nan"), False
                print(f"perfbench: {key} raised:\n{traceback.format_exc()}", file=sys.stderr)
            # release the blocks the request persisted (operators' eager
            # localCheckpoints), as bench.py's suite runner does between runs
            bench._unpersist_ids(spark, bench._persistent_ids(spark) - before)
            if not ok:
                failures.append(f"pass {p}: {key}")
            samples.append({"key": key, "kind": kind, "pass": p, "s": seconds, "ok": ok})
            if tr.enabled:
                rec["stream"] += [sops.LAST_PROGRESS[k] for k in set(sops.LAST_PROGRESS) - seen]
        rec["wall"] = time.perf_counter() - w0
        rec["cpu"] = tracing.cpu_seconds(os.getpid()) - cpu0
        passes.append(rec)
    tr.enabled = False
    return samples, passes, failures


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine sizes its session from this at import time
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import bench  # noqa: E402 — imports the engine; fails outside a checkout

    # before any thread or JVM exists, so the calibration's fork pool is
    # safe; its time is left out of setup_s
    t0 = time.perf_counter()
    calib = bench._calibrate()
    setup_t0 = T_START + time.perf_counter() - t0
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}_", dir=base)
    try:
        record, line = run(args, tmp, calib, setup_t0)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps({"perfbench_record": record}, default=str))
    print(line, flush=True)
    return 0


def run(args, tmp: str, calib: dict, setup_t0: float) -> tuple[dict, str]:
    _isolate(tmp)
    from hive_feature_demo_spark.session import get_spark

    traced_run = bool(args.trace)
    tr = tracing.Tracer()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=_spark_conf(tmp, traced_run))
    jvm_pid = spark.sparkContext._gateway.proc.pid
    ctx = workloads.Ctx(spark, tr, tmp, args.seed)
    ctx.phases["session.start_s"] = time.perf_counter() - t0
    failures: list[str] = []
    try:
        wl = workloads.WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        wl.prepare()
        ctx.phases["setup.data_s"] = time.perf_counter() - t0
        n_passes = max(2, round(args.seconds / wl.pass_estimate_s))
        orders = pass_orders(wl.requests(), args.seed, WARM_PASSES + n_passes)
        t0 = time.perf_counter()
        checks, problems = wl.first_run()
        failures += problems
        warm_samples, warm, failed = measure(wl, tr, orders[:WARM_PASSES], 1, traced_run=False)
        ctx.phases["setup.warmup_s"] = time.perf_counter() - t0
        failures += failed

        restore = tracing.install(tr) if traced_run else (lambda: None)
        setup_s = time.perf_counter() - setup_t0
        samples, passes, failed = measure(wl, tr, orders[WARM_PASSES:], WARM_PASSES + 1, traced_run)
        failures += failed
        restore()
        rss = {"python": tracing.peak_rss_mb([os.getpid()]), "jvm": tracing.peak_rss_mb([jvm_pid])}
        ctx.peak_rss_mb = rss["python"] + rss["jvm"]
        ctx.sink_tables = sum(1 for t in spark.catalog.listTables() if t.isTemporary)
        versions = {"spark": spark.version,
                    "java": spark.sparkContext._jvm.System.getProperty("java.version")}
    finally:
        _stop(spark)

    good = [s for s in samples if s["ok"]]
    reads = [1000 * s["s"] for s in good if s["kind"] == "read"]
    by_key: dict[str, list[float]] = {}
    for s in good:
        by_key.setdefault(s["key"], []).append(s["s"])
    tail_pct, tail_ms, beyond = stats.tail(reads)
    pass_walls = [p["wall"] for p in passes if not p["traced"]]
    attempted = checks + len(warm_samples) + len(samples)
    failed = len(failures)
    correct = failed == 0 and len(by_key) == len(wl.requests())
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "calib": calib, "versions": versions,
        "warm_pass_wall_s": [round(p["wall"], 3) for p in warm],
        "passes": len(passes), "pass_wall_s": [round(p["wall"], 3) for p in passes],
        "pass_drift_pct": round(stats.drift_pct(pass_walls), 2),
        "steady": abs(stats.drift_pct(pass_walls)) <= 10.0,
        "samples": {"setup_s": 1, "pass_s": min(map(len, by_key.values()), default=0),
                    "req_p50_ms": len(reads), "req_tail_ms": len(reads),
                    "per_request": {k: len(v) for k, v in sorted(by_key.items())}},
        "req_tail": {"percentile": tail_pct, "samples_beyond": beyond},
        "request_median_s": {k: round(stats.median(v), 4) for k, v in sorted(by_key.items())},
        "phases_s": {k: round(v, 3) for k, v in ctx.phases.items()},
        "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
        "failures": failures[:50],
    }
    if args.trace:
        values = layer_metrics(tr, wl, ctx, passes, os.path.join(tmp, "eventlog"))
        units = LAYER_UNITS
        record["accounting"] = accounting(tr)
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": sum(stats.median(v) for v in by_key.values()),
            "req_p50_ms": stats.median(reads),
            "req_tail_ms": tail_ms,
        }
        units = E2E_UNITS
    return record, result_line(correct, attempted, failed, values, units)


def accounting(tr: tracing.Tracer) -> dict:
    """For each traced registry request: share of its latency covered by
    build + plan + action (the rest is the benchmark's own glue)."""
    spans = tr.spans
    cover: dict[int, float] = {}
    for s in spans:
        if s["name"] in ("plans.build", "spark.plan", "exec.action") and s["parent"] is not None:
            cover[s["parent"]] = cover.get(s["parent"], 0.0) + s["end"] - s["start"]
    shares = [cover[i] / (s["end"] - s["start"]) for i, s in enumerate(spans) if i in cover]
    return {"requests": len(shares), "min_share": round(min(shares), 4) if shares else None,
            "median_share": round(stats.median(shares), 4) if shares else None}


if __name__ == "__main__":
    sys.exit(main())
