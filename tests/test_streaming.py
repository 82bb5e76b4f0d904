"""Structured Streaming semantics: stream==batch agreement, watermark
late-data drop, streaming dedup, session windows, stream-static join.

Micro-batch replay: parquet files written one per batch + ``maxFilesPerTrigger
=1`` gives deterministic batch boundaries; a far-future flush event advances
the watermark so append-mode windows finalize.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from hive_feature_demo_spark.streaming import ops

T0 = dt.datetime(2024, 6, 1, 10, 0, 0)


def _ns(minutes: float) -> int:
    return int((T0 + dt.timedelta(minutes=minutes)).timestamp() * 1_000_000_000)


def _write_batch(spark, path: str, idx: int, rows: list[tuple]):
    df = spark.createDataFrame(rows, schema=ops.EVENTS_RAW_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, f"b{idx}"))


def _stream_dir(spark, tmp_path, batches: list[list[tuple]]) -> str:
    """Lay out one parquet dir per batch under a common glob-able root.

    Distinct mtimes per batch dir make the file source's oldest-first
    ordering deterministic.
    """
    import time

    root = str(tmp_path / "stream")
    os.makedirs(root, exist_ok=True)
    for i, rows in enumerate(batches):
        _write_batch(spark, root, i, rows)
        time.sleep(1.05)
    return os.path.join(root, "b*")


def test_stream_equals_batch_tumbling(spark, sf_dir, tmp_path):
    """Replaying the whole events table through the stream (complete mode)
    reproduces the batch tumbling aggregation exactly."""
    from hive_feature_demo_spark.catalog import table
    from hive_feature_demo_spark.plans.streaming_batch import q40_tumbling_hourly

    stream = ops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    agg = ops.tumbling_counts(stream, watermark="10 minutes")
    ops.run_to_memory(agg, "t_tumble", output_mode="complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in spark.table("t_tumble").collect()
    }
    want = {
        (
            dt.datetime.strptime(r["window_start"], "%Y-%m-%d %H:%M:%S"),
            r["event_type"],
        ): (r["n_events"], round(r["total_value"], 6))
        for r in q40_tumbling_hourly(spark, sf_dir).collect()
    }
    assert got == want


def test_events_stream_file_path_equals_directory(spark, sf_dir, tmp_path):
    """A single parquet file streams exactly like a directory holding only
    that file — the file's siblings (nine other tables in ``sf_dir``) are
    filtered out, not read."""
    import shutil

    stage = str(tmp_path / "events_dir")
    os.makedirs(stage)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), stage)
    got = {}
    for label, path in (("file", os.path.join(sf_dir, "events.parquet")), ("dir", stage)):
        ops.run_to_memory(ops.events_stream(spark, path), f"t_events_{label}", once=True)
        got[label] = spark.table(f"t_events_{label}")
    assert got["file"].columns == got["dir"].columns
    assert got["file"].count() > 0
    assert sorted(got["file"].collect()) == sorted(got["dir"].collect())


def test_watermark_drops_late_events(spark, tmp_path):
    """An event arriving after the watermark passed its window is dropped.

    Note the one-batch propagation lag: the watermark computed from batch
    N's max event time takes effect in batch N+1, and state eviction
    happens at end-of-batch — so an extra advancing batch sits between the
    watermark-raising event and the late event (observed Spark behavior:
    without it, the late row merges into still-live state).
    """
    batches = [
        # batch 0: two events in window [10:00,10:10)
        [(1, _ns(1), 1, "view", 1.0, "{}"), (2, _ns(5), 1, "view", 1.0, "{}")],
        # batch 1: advance event time to 10:40 -> watermark becomes 10:30
        [(3, _ns(40), 1, "view", 1.0, "{}")],
        # batch 2: wm=10:30 now in effect; window [10:00,10:10) evicted+emitted
        [(5, _ns(41), 1, "view", 1.0, "{}")],
        # batch 3: LATE event for 10:02 (state evicted, < watermark) -> dropped
        [(4, _ns(2), 1, "view", 1.0, "{}")],
        # batch 4: flush far future so every window finalizes
        [(9, _ns(600), 1, "view", 1.0, "{}")],
    ]
    path = _stream_dir(spark, tmp_path, batches)
    stream = ops.events_stream(spark, path, max_files_per_trigger=1)
    agg = ops.tumbling_counts(stream, window="10 minutes", watermark="10 minutes")
    ops.run_to_memory(agg, "t_late", output_mode="append")
    rows = {
        r["window_start"]: r["n_events"]
        for r in spark.table("t_late").collect()
    }
    first_window = T0 + dt.timedelta(minutes=0)
    # the late event #4 must NOT be counted: window [10:00,10:10) has 2 events
    assert rows[first_window] == 2


def test_streaming_dedup(spark, tmp_path):
    """Duplicate event_ids across micro-batches are dropped (state store)."""
    batches = [
        [(1, _ns(1), 1, "view", 1.0, "{}"), (2, _ns(2), 1, "view", 1.0, "{}")],
        [(2, _ns(2), 1, "view", 1.0, "{}"), (3, _ns(3), 1, "view", 1.0, "{}")],
    ]
    path = _stream_dir(spark, tmp_path, batches)
    stream = ops.events_stream(spark, path, max_files_per_trigger=1)
    ops.run_to_memory(ops.streaming_dedup(stream), "t_dedup", output_mode="append")
    ids = sorted(r["event_id"] for r in spark.table("t_dedup").collect())
    assert ids == [1, 2, 3]


def test_session_window_stream(spark, tmp_path):
    """Two bursts separated by > gap for one user -> two sessions."""
    batches = [
        [
            (1, _ns(0), 7, "view", 1.0, "{}"),
            (2, _ns(5), 7, "view", 1.0, "{}"),
            (3, _ns(60), 7, "view", 1.0, "{}"),  # > 30min gap -> new session
        ],
        [(9, _ns(600), 8, "view", 1.0, "{}")],  # flush
    ]
    path = _stream_dir(spark, tmp_path, batches)
    stream = ops.events_stream(spark, path, max_files_per_trigger=1)
    agg = ops.session_counts(stream, gap="30 minutes", watermark="10 minutes")
    ops.run_to_memory(agg, "t_sess", output_mode="append")
    sessions = [
        (r["session_start"], r["n_events"])
        for r in spark.table("t_sess").filter(F.col("user_id") == 7).orderBy("session_start").collect()
    ]
    assert [n for _, n in sessions] == [2, 1]
    assert sessions[0][0] == T0


def test_stream_static_join(spark, sf_dir, tmp_path):
    """Stream events enriched against the static customer dimension."""
    from hive_feature_demo_spark.catalog import table

    batches = [[(1, _ns(0), 1, "view", 1.0, "{}"), (2, _ns(1), 999999, "view", 1.0, "{}")]]
    path = _stream_dir(spark, tmp_path, batches)
    stream = ops.events_stream(spark, path)
    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ops.enrich_with_dimension(stream, dim, stream.user_id == dim.c_custkey)
    ops.run_to_memory(joined, "t_joined", output_mode="append")
    rows = spark.table("t_joined").collect()
    assert len(rows) == 1  # user 999999 has no dimension row
    assert rows[0]["c_mktsegment"] is not None


def test_stream_stream_join(spark, tmp_path):
    """Purchases join a prior same-user click within the horizon; outside
    the horizon (or wrong user) no attribution row is emitted."""
    batches = [
        [
            (1, _ns(0), 1, "click", 0.0, "{}"),
            (2, _ns(10), 1, "purchase", 50.0, "{}"),   # within 30min -> match
            (3, _ns(50), 1, "purchase", 70.0, "{}"),   # beyond horizon -> drop
            (4, _ns(11), 2, "purchase", 90.0, "{}"),   # no click for user 2
        ],
        [(9, _ns(600), 3, "view", 1.0, "{}")],  # flush: advance watermark
    ]
    path = _stream_dir(spark, tmp_path, batches)
    stream = ops.events_stream(spark, path, max_files_per_trigger=1)
    joined = ops.click_purchase_join(stream, horizon="30 minutes", watermark="10 minutes")
    ops.run_to_memory(joined, "t_attr", output_mode="append")
    rows = spark.table("t_attr").collect()
    assert [(r["click_id"], r["purchase_id"]) for r in rows] == [(1, 2)]
    assert rows[0]["purchase_value"] == 50.0


def test_stream_stream_join_once_trigger_matches_replay(spark, tmp_path):
    """r13 (q69): the once-trigger single-batch replay of an INNER
    stream-stream join is output-identical to the processAllAvailable
    replay — every match emits in the batch its rows arrive, so the
    trailing watermark-advance batch contributes nothing — and runs
    exactly ONE micro-batch (the saved state-store round is the point)."""
    batches = [
        [
            (1, _ns(0), 1, "click", 0.0, "{}"),
            (2, _ns(10), 1, "purchase", 50.0, "{}"),
            (3, _ns(50), 1, "purchase", 70.0, "{}"),
            (4, _ns(11), 2, "purchase", 90.0, "{}"),
            (5, _ns(12), 2, "click", 0.0, "{}"),
            (6, _ns(15), 2, "purchase", 30.0, "{}"),
        ],
    ]
    path = _stream_dir(spark, tmp_path, batches)

    def rows_for(**kw):
        stream = ops.events_stream(spark, path)
        joined = ops.click_purchase_join(
            stream, horizon="30 minutes", watermark="10 minutes"
        )
        name = "t_once_" + "_".join(f"{k}{v}" for k, v in kw.items())
        ops.run_to_memory(joined, name, output_mode="append", **kw)
        got = sorted(
            (r["click_id"], r["purchase_id"], r["purchase_value"])
            for r in spark.table(name).collect()
        )
        return got, len(ops.LAST_PROGRESS.get(name, []))

    base, base_batches = rows_for()
    once, once_batches = rows_for(once=True)
    assert once == base == [(1, 2, 50.0), (5, 6, 30.0)]
    assert base_batches == 2 and once_batches == 1, (base_batches, once_batches)


def test_stream_stream_semi_join(spark, tmp_path):
    """LEFT SEMI: a converted click emits exactly once (click columns
    only) even when several purchases match; unconverted clicks never
    emit. Matches arriving in a LATER micro-batch still trigger emission
    (the click waits in state until matched or evicted)."""
    batches = [
        [
            (1, _ns(0), 1, "click", 0.0, "{}"),
            (2, _ns(5), 1, "purchase", 50.0, "{}"),   # match 1 for click 1
            (5, _ns(3), 2, "click", 0.0, "{}"),       # user 2: no purchase
        ],
        [
            (3, _ns(10), 1, "purchase", 60.0, "{}"),  # match 2: must NOT re-emit
            (6, _ns(1), 3, "click", 0.0, "{}"),
        ],
        [(7, _ns(20), 3, "purchase", 10.0, "{}")],    # cross-batch match
        [(9, _ns(600), 4, "view", 1.0, "{}")],        # flush watermark
    ]
    path = _stream_dir(spark, tmp_path, batches)
    stream = ops.events_stream(spark, path, max_files_per_trigger=1)
    joined = ops.click_purchase_join(
        stream, horizon="30 minutes", watermark="10 minutes", how="leftSemi"
    )
    ops.run_to_memory(joined, "t_semi", output_mode="append")
    rows = sorted(
        (r["user_id"], r["click_id"]) for r in spark.table("t_semi").collect()
    )
    assert rows == [(1, 1), (3, 6)]


def test_running_user_totals_stateful(spark, tmp_path):
    """applyInPandasWithState keeps per-user running totals across batches,
    emitting one snapshot per touched user per batch."""
    batches = [
        [
            (1, _ns(0), 1, "view", 1.0, "{}"),
            (2, _ns(1), 1, "view", 2.0, "{}"),
            (3, _ns(2), 2, "view", 10.0, "{}"),
        ],
        [(4, _ns(3), 1, "view", 3.0, "{}")],
    ]
    path = _stream_dir(spark, tmp_path, batches)
    stream = ops.events_stream(spark, path, max_files_per_trigger=1)
    totals = ops.running_user_totals(stream)
    ops.run_to_memory(totals, "t_running", output_mode="update")
    snaps = [
        (r["user_id"], r["n_events"], r["total_value"])
        for r in spark.table("t_running").orderBy("n_events", "user_id").collect()
    ]
    # batch snapshots: u1 (2, 3.0) then (3, 6.0); u2 (1, 10.0)
    assert (1, 2, 3.0) in snaps and (1, 3, 6.0) in snaps and (2, 1, 10.0) in snaps


def test_foreach_batch_idempotent_sink(spark, tmp_path):
    """foreachBatch parquet sink: batches land once; a replayed ledger
    entry suppresses the duplicate write."""
    batches = [
        [(1, _ns(0), 1, "view", 1.0, "{}"), (2, _ns(1), 1, "view", 2.0, "{}")],
        [(3, _ns(2), 2, "view", 3.0, "{}")],
    ]
    path = _stream_dir(spark, tmp_path, batches)
    out = str(tmp_path / "sink")
    ledger = str(tmp_path / "ledger")
    stream = ops.events_stream(spark, path, max_files_per_trigger=1)
    ops.run_foreach_batch_parquet(stream, out, ledger)
    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3]
    n_markers = len(os.listdir(ledger))
    assert n_markers >= 1

    # simulate an at-least-once redelivery: a fresh stream over the same
    # input re-delivers batch ids already in the ledger -> no duplicates
    stream2 = ops.events_stream(spark, path, max_files_per_trigger=1)
    ops.run_foreach_batch_parquet(stream2, out, ledger)
    again = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert again == [1, 2, 3]


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """A restarted query resumes from its checkpoint: batches processed
    before the stop are not re-emitted, new batches are — exactly-once
    output without any application-level ledger."""
    import shutil

    root = str(tmp_path / "in")
    os.makedirs(root, exist_ok=True)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = ops.events_stream(spark, os.path.join(root, "b*"), max_files_per_trigger=1)
        q = (
            stream.writeStream.option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", out)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    _write_batch(spark, root, 0, [(1, _ns(0), 1, "view", 1.0, "{}"), (2, _ns(1), 1, "view", 2.0, "{}")])
    run_once()
    first = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert first == [1, 2]

    _write_batch(spark, root, 1, [(3, _ns(2), 2, "view", 3.0, "{}")])
    run_once()  # restart from checkpoint: only the new batch lands
    second = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert second == [1, 2, 3]


def test_transform_with_state_totals_gated(spark, sf_dir):
    """transformWithStateInPandas needs protobuf (state-server protocol);
    run the operator end-to-end where available, skip (documented gap)
    where the container lacks it."""
    import pytest as _pytest

    from hive_feature_demo_spark.plans.streaming_batch import _HAS_TWS_DEPS

    if not _HAS_TWS_DEPS:
        _pytest.skip("protobuf not installed: transformWithState runner unavailable")
    from hive_feature_demo_spark.plans.streaming_batch import (
        q146_transform_with_state_totals,
    )

    got = q146_transform_with_state_totals(spark, sf_dir).limit(3).collect()
    assert all(r["n_events"] >= 1 for r in got)


class _FakeValueState:
    """Dict-free stand-in for the JVM-backed ValueState of ONE key: the
    contract surface the StatefulProcessor actually touches
    (exists/get/update)."""

    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


class _FakeHandle:
    def __init__(self, store: dict, key):
        self._store, self._key = store, key

    def getValueState(self, name, schema, ttl_duration_ms=None):
        return self._store.setdefault((self._key, name), _FakeValueState())


def test_running_totals_processor_semantics(spark, sf_dir):
    """Runnable assertion for the transformWithState path in THIS container:
    drive the exact ``RunningTotals`` StatefulProcessor class (the one
    ``transformWithStateInPandas`` would ship to executors) through a fake
    state handle, replaying the sf events in several different micro-batch
    partitionings, and require the final per-user emission to equal the
    batch groupBy aggregate every time. The only piece NOT exercised is
    the protobuf wire protocol to the JVM state server — which carries,
    not computes, these values."""
    import pandas as pd

    from hive_feature_demo_spark import catalog
    from hive_feature_demo_spark.streaming.ops import make_running_totals_processor

    events = (
        catalog.table(spark, sf_dir, "events")
        .select("user_id", "value")
        .toPandas()
        .sort_values("user_id", kind="mergesort")
        .reset_index(drop=True)
    )
    expected = (
        events.assign(units=(events["value"] * 100 + 0.5).apply(__import__("math").floor))
        .groupby("user_id", sort=True)
        .agg(n_events=("value", "size"), units=("units", "sum"))
    )

    for n_batches, order in [(1, 1), (3, 1), (7, -1)]:
        store: dict = {}
        final: dict = {}
        # round-robin rows into micro-batches, optionally in reverse arrival order
        batches = [events.iloc[i::n_batches] for i in range(n_batches)][::order]
        for batch in batches:
            for uid, pdf in batch.groupby("user_id"):
                proc = make_running_totals_processor()
                proc.init(_FakeHandle(store, uid))
                (out,) = list(proc.handleInputRows((uid,), iter([pdf]), None))
                proc.close()
                final[uid] = out.iloc[0]
        assert set(final) == set(expected.index)
        for uid, row in expected.iterrows():
            got = final[uid]
            assert int(got["n_events"]) == int(row["n_events"])
            assert got["total_value"] == pytest.approx(int(row["units"]) / 100.0, abs=0)


def test_stateful_checkpoint_recovery_restores_agg_state(spark, tmp_path):
    """Restarting a STATEFUL query must restore aggregation state from
    the checkpoint: events arriving after the restart merge into counts
    accumulated before it (3, not 1, for the shared window) — the state
    store recovery that makes long-running windowed aggs fault-tolerant."""
    root = str(tmp_path / "in")
    os.makedirs(root, exist_ok=True)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = ops.events_stream(
            spark, os.path.join(root, "b*"), max_files_per_trigger=1
        )
        agg = (
            stream.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )

        def write_batch(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            agg.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(write_batch)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    # two events in the 10:00 hour before the "crash"
    _write_batch(
        spark, root, 0,
        [(1, _ns(0), 1, "view", 1.0, "{}"), (2, _ns(5), 1, "view", 2.0, "{}")],
    )
    run_once()
    # one more event in the SAME hour after the restart
    _write_batch(spark, root, 1, [(3, _ns(10), 2, "view", 3.0, "{}")])
    run_once()

    hist = spark.read.parquet(out).collect()
    latest = max(hist, key=lambda r: r["batch_id"])
    assert latest["n"] == 3, (
        f"state not restored: final count {latest['n']} (history: "
        f"{sorted((r['batch_id'], r['n']) for r in hist)})"
    )


# ---------------------------------------------------------------------------
# State-store boundedness: "watermarks evict state" as a tested invariant
# (VERDICT r4 items 1+4), measured from StreamingQueryProgress
# stateOperators metrics that run_to_memory now records per run.
# ---------------------------------------------------------------------------


def test_append_mode_state_evicts_across_replay(spark, tmp_path):
    """Across a 12-hour, one-batch-per-hour replay, the windowed-agg state
    store must PLATEAU (watermark evicts closed windows), not grow with
    total history — peak numRowsTotal stays near the watermark horizon
    while far more windows are emitted overall."""
    batches = [
        [
            (100 * h + i, _ns(60 * h + 7 * i), 1, "view", 1.0, "{}")
            for i in range(3)
        ]
        for h in range(12)
    ]
    # flush batch closes the trailing windows (append-mode finalization)
    batches.append([(9999, _ns(60 * 24 * 30), -1, "flush", 0.0, "{}")])
    path = _stream_dir(spark, tmp_path, batches)
    stream = ops.events_stream(spark, path, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .count()
    )
    ops.run_to_memory(agg, "t_state_bounded", output_mode="append")
    emitted = spark.table("t_state_bounded").filter(
        F.col("event_type") != "flush"
    ).count()
    assert emitted == 12  # every hourly window closed and emitted once

    (rows,) = ops.state_rows_history("t_state_bounded")
    assert rows, "no stateOperators progress recorded"
    # Peak live state: the open window + at most one closed-but-not-yet-
    # past-watermark window + the sentinel's window. If state grew with
    # history (complete-mode behavior) the peak would reach 12.
    assert max(rows) <= 4, f"state grew with history: {rows}"
    # and the final no-data micro-batch leaves only the sentinel's window
    assert rows[-1] <= 1, f"state not evicted at end of replay: {rows}"


def test_registered_streaming_queries_state_bounded(spark, sf_dir):
    """The REAL registered append-mode runs (tumbling q48, session-window
    q131, custom-stateful q136) end the replay with (near-)empty state:
    every emitted row's state was evicted by the watermark, not retained.
    Guards the r5 complete->append conversions against regression."""
    from hive_feature_demo_spark.plans.streaming_batch import (
        q48_streaming_tumbling,
        q131_streaming_session_windows,
        q136_stateful_sessions_timeout,
    )

    from hive_feature_demo_spark.plans.streaming_more import (
        q310_streaming_hll_distinct,
    )

    # per_row_cap = max state cells per EMITTED row: 1 for plain windowed
    # aggs; 64 for the HLL (its design bound is a 64-register sketch per
    # open window, so peak state <= 64 x windows however high the traffic)
    for fn, prefix, min_rows, per_row_cap in [
        (q48_streaming_tumbling, "q48_out", 10, 1),
        (q131_streaming_session_windows, "q131_out", 10, 1),
        (q136_stateful_sessions_timeout, "q136_out", 10, 1),
        (q310_streaming_hll_distinct, "q310_out", 10, 64),
    ]:
        n = fn(spark, sf_dir).count()
        assert n >= min_rows, f"{prefix}: unexpectedly small result ({n})"
        hist = [h for h in ops.state_rows_history(prefix) if h]
        assert hist, f"{prefix}: no state progress recorded"
        rows = hist[-1]
        # final state: at most the flush sentinel's never-closing window/
        # session (+1 slack for an open real window within the horizon;
        # chained queries carry one cell per stateful level)
        assert rows[-1] <= 4, f"{prefix}: state retained at end: {rows}"
        # state never exceeds the per-row design bound over the history
        assert max(rows) < per_row_cap * (n + 2), (
            f"{prefix}: state over design bound: {rows}"
        )


def test_q310_chained_levels_state_bounded(spark, sf_dir):
    """r5-verdict item 4: bound EACH stateful level of the chained q310
    HLL separately (state_rows_by_operator). Level-1 keys state by
    (hour window, register): <= 64 cells per open window by DESIGN,
    whatever the traffic; level-2 keys by hour window alone. On the
    finite replay: batch 1 holds every real window open (watermark
    still behind), the sentinel batch closes them all."""
    from hive_feature_demo_spark.plans.streaming_more import (
        q310_streaming_hll_distinct,
    )

    n = q310_streaming_hll_distinct(spark, sf_dir).count()
    assert n >= 1
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_hw = events.select(
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h")
    ).distinct().count()
    runs = [r for r in ops.state_rows_by_operator("q310_out") if r]
    assert runs, "no per-operator state progress recorded"
    batches = runs[-1]
    assert all(len(b) == 2 for b in batches), "expected 2 stateful levels"
    # identify levels by magnitude: level-1 (window, reg) dominates
    lvl1 = [max(b) for b in batches]
    lvl2 = [min(b) for b in batches]
    # level-1: <= 64 cells per open window (+1 for the sentinel window)
    assert max(lvl1) <= 64 * (n_hw + 1), (n_hw, batches)
    # level-2: one row per buffered hour window
    assert max(lvl2) <= n_hw + 1, (n_hw, batches)
    # after the sentinel advances the watermark, only ITS window remains
    assert lvl1[-1] <= 64 and lvl2[-1] <= 1, batches


def test_q322_scd2_state_bounded(spark, sf_dir):
    """r5-verdict item 4: q322's only stateful operator keys state by
    (hour window, segment) — bounded by windows x 5 TPC-H segments,
    NEVER by event count; the sentinel row is dropped by the dimension
    join before aggregation (its watermark effect happens upstream), so
    end-of-replay state drains to (near) zero."""
    from hive_feature_demo_spark.plans.streaming_more import (
        q322_streaming_scd2_enrichment,
    )

    n = q322_streaming_scd2_enrichment(spark, sf_dir).count()
    assert 1 <= n <= 5  # one row per mktsegment
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_hw = events.select(
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h")
    ).distinct().count()
    n_events = events.count()
    hist = [h for h in ops.state_rows_history("q322_out") if h]
    assert hist, "no state progress recorded"
    rows = hist[-1]
    assert max(rows) <= 5 * (n_hw + 1), (n_hw, rows)
    assert max(rows) < n_events, "state scaled with events, not windows"
    assert rows[-1] <= 1, f"state not evicted at end of replay: {rows}"


def test_q322_reads_its_version_boundary_once(spark, sf_dir, monkeypatch):
    """q322's stream-static join re-evaluates the SCD dimension on every
    micro-batch. Its version boundary (a min/max over all of events) must
    come from the cache, which the first batch fills, so a replay scans
    events for it once, not once per batch; and the cache is released
    when the run ends."""
    from hive_feature_demo_spark.plans.streaming_more import (
        q322_streaming_scd2_enrichment,
    )

    seen = []
    record = ops._record_progress

    def spy(name, q):
        plan = q._jsq.explainInternal(False)  # the last batch's physical plan
        seen.append((len(q.recentProgress), plan))
        record(name, q)

    monkeypatch.setattr(ops, "_record_progress", spy)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    q322_streaming_scd2_enrichment(spark, sf_dir).collect()
    ((n_batches, last_plan),) = seen
    assert n_batches >= 2, "the replay never re-evaluated the dimension"
    assert "InMemoryTableScan" in last_plan, last_plan
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


# ---------------------------------------------------------------------------
# The flush sentinel: job-free, safe on empty input, NULL-safe filters.
# ---------------------------------------------------------------------------


def test_flush_sentinel_starts_no_job(spark, sf_dir, count_jobs):
    """Building the events stream starts no Spark job (its schema comes
    from the footer), and neither does the sentinel: a constant row."""
    path = os.path.join(sf_dir, "events.parquet")
    assert count_jobs(lambda: ops.events_stream(spark, path))[1] == 0
    assert count_jobs(lambda: ops.with_flush_sentinel(ops.events_stream(spark, path)))[1] == 0


def _oracle_problems(spark, sf_dir, tmp_path, events, names=None) -> dict:
    """Oracle mismatches of ``names`` (default: every flush-sentinel query)
    on a copy of ``sf_dir`` whose events table is the pyarrow ``events``."""
    import inspect

    from hive_feature_demo_spark.plans import REGISTRY
    from tests.oracle import variant_problems

    if names is None:  # every query that closes its windows with the sentinel
        names = [n for n, q in REGISTRY.items() if "with_flush_sentinel" in inspect.getsource(q.fn)]
        assert len(names) == 10, names
    return variant_problems(spark, sf_dir, str(tmp_path / "variant"), {"events": events}, names)


def test_sentinel_queries_match_oracle_on_empty_events(spark, sf_dir, tmp_path):
    """On a zero-row events table all ten sentinel queries run and match the
    oracle: neither the sentinel nor q322's version boundary needs max(ts)."""
    import pyarrow.parquet as pq

    empty = pq.read_table(os.path.join(sf_dir, "events.parquet")).slice(0, 0)
    assert _oracle_problems(spark, sf_dir, tmp_path, empty) == {}


def test_flush_filters_keep_null_event_types(spark, sf_dir, tmp_path):
    """With 1 in 20 event types NULL, the batch-side flush filters (and
    q212's rollup join) keep the NULL group, as one group: a plain
    ``event_type != 'flush'`` is NULL, not true, on those rows."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    col = events.schema.get_field_index("event_type")
    mask = pa.array([i % 20 == 0 for i in range(events.num_rows)])
    nulled = pc.if_else(mask, pa.scalar(None, pa.string()), events.column(col))
    names = ["q48_streaming_tumbling", "q96_streaming_sliding",
             "q193_chained_window_rollup", "q212_stream_static_semi_anti"]
    variant = events.set_column(col, "event_type", nulled)
    assert _oracle_problems(spark, sf_dir, tmp_path, variant, names) == {}
