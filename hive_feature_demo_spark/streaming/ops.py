"""Structured Streaming operators over the events stream.

The batch definitions of these computations live in
``plans/streaming_batch.py`` (hash-checked against DuckDB); this module runs
the same logic incrementally with watermarks + the state store. Tests replay
parquet micro-batches through a file source (``maxFilesPerTrigger=1``) and
assert stream==batch agreement and watermark late-drop behavior.

Scale notes: watermarks bound state (windows/dedup keys older than the
watermark are evicted); ``session_window`` + watermark keeps per-user session
state finite; stream-static joins re-broadcast the dimension per micro-batch.
"""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Schema test fixtures write with (ts = epoch nanos as long). The stream
#: reader itself does not assume this layout — it reads the footer.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events normalized to session-zone timestamps.

    In production this is a Kafka source; the file source exercises the
    identical incremental semantics (micro-batches, watermark advance).

    The stored ``ts`` encoding has varied (INT64 nanos vs ``timestamp[us]``
    NTZ — see ``catalog._ts_convert_sql``), and a hardcoded read schema
    silently corrupts values when the encoding shifts (µs interpreted as ns
    lands every event in January 1970 with no error). So the stream reads
    under the schema the parquet footer declares
    (``catalog.parquet_schema``, no Spark job), and the shared catalog
    normalizer applies the matching conversion.

    ``path`` is a directory (or glob) of parquet files, or one parquet
    file. Spark's file stream source only takes directories, so a file is
    streamed as its directory filtered to the file's name.
    """
    from ..catalog import normalize_event_times, parquet_schema

    schema = parquet_schema(path)
    opts = {}
    if os.path.isfile(path):
        path, opts["pathGlobFilter"] = os.path.split(path)
    if max_files_per_trigger is not None:
        opts["maxFilesPerTrigger"] = max_files_per_trigger
    return normalize_event_times(spark.readStream.options(**opts).schema(schema).parquet(path))


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling-window counts/sums per event type with late-data drop."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows per user (state bounded by the watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once events by event_id within the watermark horizon.

    ``dropDuplicates`` over a streaming DataFrame keeps key state; the
    watermark evicts keys older than the horizon so state stays bounded —
    the standard at-scale idempotency layer in front of windowed aggs.
    """
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def enrich_with_dimension(events: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Stream-static join: each micro-batch joins the (broadcast) dimension."""
    return events.join(F.broadcast(dim), on, how)


#: Event time of the flush sentinel. Every representable timestamp except
#: the last day comes before it, so its watermark closes every real window
#: without first asking the data for its ``max(ts)``.
FLUSH_TS = dt.datetime(9999, 12, 30, tzinfo=dt.timezone.utc)


def with_flush_sentinel(events: DataFrame) -> DataFrame:
    """Union a far-future sentinel row so append-mode windows all close.

    Append-mode windowed aggregation only emits a window once the watermark
    passes its end — on a finite replay the trailing windows would stay
    buffered forever. This sentinel (user_id=-1, event_type='flush',
    ts = ``FLUSH_TS``) is the finite-replay analogue of a stream that
    keeps flowing: it advances the watermark past every real window's end;
    its OWN windows can never close (watermark stalls at flush - delay),
    so append mode never emits it. Do NOT filter the sentinel before the
    watermark operator — Catalyst pushes deterministic predicates below
    EventTimeWatermark and the flush row would vanish before registering
    in the watermark stats (observed: the final real window went missing).
    Filter ``event_type <=> 'flush'`` (null-safe: NULL types stay) or
    ``user_id >= 0`` out on the BATCH side after the run instead, as
    belt-and-braces. The row is constant, so building it runs no Spark
    job: pyarrow writes it to a scratch file (PySpark has no bounded
    in-memory stream source) in the schema of ``events``, read back under
    that same schema, so nothing is inferred.

    CONSTRAINT (r5-verdict advice): the unioned ``events`` stream must
    deliver all its data no later than the micro-batch that consumes the
    sentinel — i.e. do NOT throttle it with ``maxFilesPerTrigger``/rate
    limits. The sentinel is a separate single-file source; if the events
    source were split across later micro-batches, the sentinel's
    far-future timestamp would advance the watermark past the remaining
    real data and append mode would drop it as late. Every registered
    caller reads events as one unthrottled single-file source, which
    satisfies the constraint by construction.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..scratch import scratch_dir

    flush_dir = scratch_dir(prefix="flush_")
    row = {"event_id": -1, "ts": FLUSH_TS, "user_id": -1,
           "event_type": "flush", "value": 0.0, "props": "{}"}
    pq.write_table(
        pa.Table.from_pylist([row], schema=to_arrow_schema(events.schema)),
        os.path.join(flush_dir, "flush.parquet"),
    )
    sentinel = events.sparkSession.readStream.schema(events.schema).parquet(flush_dir)
    return events.unionByName(sentinel)


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = 8,
    once: bool = False,
) -> None:
    """Drive a streaming DataFrame to completion into an in-memory table.

    Synchronous: processes all available input, then stops. The result is
    readable as ``spark.table(name)``.

    ``shuffle_partitions`` sets the state-store partition count for this
    run (stateful streaming keys state by shuffle partition; unlike batch,
    AQE does not coalesce these, so the batch default of one-per-core is
    pure per-micro-batch scheduling overhead at test scale). Production
    sizes this to the cluster; results never depend on it.

    The default drain is ``processAllAvailable``+stop, whose final no-data
    micro-batch advances the watermark — which watermark-eviction outputs
    (leftOuter join releases, append-mode final windows) rely on for
    end-of-input flushing. (``Trigger.AvailableNow`` measured equal at
    sf0.1, PERF.md, so it is not offered.)

    ``once`` uses the legacy one-shot trigger, which processes ALL
    available input in a SINGLE micro-batch and terminates WITHOUT the
    trailing watermark-advance batch. ONLY valid for queries whose every
    output row is emitted in the batch its input arrives — inner/semi
    stream-stream joins, stateless projections/enrichment, dropDuplicates
    — never for watermark-EVICTION outputs (leftOuter releases,
    append-mode final windows, session closes), which would stay buffered
    in state and be silently dropped at stop. For an eligible query the
    result is identical (pinned by tests + the q69 oracle) and the replay
    skips one full state-store load/commit round: q69 at sf0.1 measured
    2.47–2.49 s (once) vs 3.6–3.96 s (processAllAvailable), ~1.2 s of
    which was the no-data batch's addBatch + state commit (r13,
    scripts/profile_streaming.py).
    """
    _run(stream_df, lambda w: w.format("memory").queryName(name),
         output_mode, shuffle_partitions, once, name)


def run_foreach_batch(stream_df: DataFrame, fn, output_mode: str = "append") -> None:
    """Drive a streaming DataFrame to completion through ``foreachBatch``:
    ``fn(batch_df, batch_id)`` runs once per micro-batch, with the loop and
    the 8-partition pin of :func:`run_to_memory`."""
    _run(stream_df, lambda w: w.foreachBatch(fn), output_mode, 8)


def _run(stream_df, sink, output_mode, shuffle_partitions, once=False, name=None) -> None:
    """The one start / drain / stop loop: pin ``shuffle.partitions``, start
    ``sink(writer)``, drain, record progress under ``name`` (memory-sink
    runs only), stop, restore the partition count."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        writer = sink(stream_df.writeStream.outputMode(output_mode))
        if once:
            writer = writer.trigger(once=True)
        q = writer.start()
        try:
            if once:
                q.awaitTermination()
            else:
                q.processAllAvailable()
            if name is not None:
                _record_progress(name, q)
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


#: Per-run StreamingQueryProgress history, keyed by memory-sink name —
#: populated by every run_to_memory call so tests can assert state-store
#: invariants (e.g. numRowsTotal stays bounded across the replay) against
#: the REAL registered streaming queries, not a parallel harness. Each
#: value is a list of plain progress dicts (one per micro-batch, up to
#: spark.sql.streaming.numRecentProgressUpdates).
LAST_PROGRESS: dict[str, list[dict]] = {}

#: Retention bound for LAST_PROGRESS (r5-verdict advice: without
#: eviction, a long-lived session running many registered streaming
#: queries accumulates progress lists forever). Oldest-inserted runs are
#: dropped beyond this; tests read their own run immediately after
#: run_to_memory so a generous bound is safe.
MAX_PROGRESS_RUNS = 256


def _record_progress(name: str, q) -> None:
    import json

    out: list[dict] = []
    for p in q.recentProgress:
        if isinstance(p, dict):
            out.append(p)
        else:  # StreamingQueryProgress object (PySpark >= 3.4)
            out.append(json.loads(p.json))
    LAST_PROGRESS[name] = out
    while len(LAST_PROGRESS) > MAX_PROGRESS_RUNS:
        # dicts preserve insertion order: evict the oldest run
        LAST_PROGRESS.pop(next(iter(LAST_PROGRESS)))


def state_rows_history(name_prefix: str) -> list[list[int]]:
    """Per-micro-batch state-store row totals for runs whose sink name
    starts with ``name_prefix`` (registered queries suffix a run sequence).

    Returns one list per matching run: ``sum(numRowsTotal over state
    operators)`` for each micro-batch that reported state. Empty inner
    lists mean the run was stateless.
    """
    hist = []
    for name, progresses in LAST_PROGRESS.items():
        if not name.startswith(name_prefix):
            continue
        rows = []
        for p in progresses:
            ops_ = p.get("stateOperators") or []
            if ops_:
                rows.append(sum(int(o.get("numRowsTotal", 0)) for o in ops_))
        hist.append(rows)
    return hist


def state_rows_by_operator(name_prefix: str) -> list[list[list[int]]]:
    """Per-micro-batch, PER-STATE-OPERATOR row totals for matching runs.

    Like :func:`state_rows_history` but without summing across state
    operators — needed to bound each level of a CHAINED stateful query
    separately (e.g. q310's level-1 (window, register) cells vs its
    level-2 hour windows). Returns one entry per matching run; each entry
    is a list of per-batch ``[numRowsTotal per operator]`` lists, in the
    plan's stateOperators order (stable within a run).
    """
    hist = []
    for name, progresses in LAST_PROGRESS.items():
        if not name.startswith(name_prefix):
            continue
        rows = []
        for p in progresses:
            ops_ = p.get("stateOperators") or []
            if ops_:
                rows.append([int(o.get("numRowsTotal", 0)) for o in ops_])
        hist.append(rows)
    return hist


def click_purchase_join(
    events: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: purchases attributed to a prior click per user.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can evict buffered rows once the watermark passes
    ``click.ts + horizon`` — state stays finite at any throughput. This is
    the canonical attribution join for campaign engagement (the reference's
    domain) at stream scale.

    ``how="leftOuter"`` additionally emits unconverted clicks (NULL
    purchase columns) — but only once the watermark proves no purchase can
    still arrive: a click row is released at state eviction, i.e. when
    ``click_ts + horizon < watermark``. Clicks younger than that at
    end-of-input are withheld (they could still match), which is the
    correct incremental semantics and exactly what the q130 oracle's
    eviction predicate replays.

    ``how="leftSemi"`` emits each CONVERTED click exactly once (click
    columns only), at the micro-batch where its first matching purchase
    arrives — "did this click convert?" without purchase payload
    duplication when several purchases match. Unmatched clicks are
    silently evicted at the watermark, never emitted, so unlike leftOuter
    the output is watermark-independent: all matched clicks appear
    regardless of where the watermark stops at end-of-input.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    joined = clicks.join(purchases, cond, how)
    if how == "leftSemi":
        return joined.select(
            F.col("c_user").alias("user_id"), "click_id", "click_ts"
        )
    if how == "fullOuter":
        # purchase-only rows have NULL click columns — the user key must
        # come from whichever side is present
        return joined.select(
            F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
            "click_id",
            "purchase_id",
            "click_ts",
            "purchase_ts",
            "purchase_value",
        )
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_RUNNING_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
)


def running_user_totals(events: DataFrame, quantize_digits: int | None = None) -> DataFrame:
    """Arbitrary stateful op via ``applyInPandasWithState``: per-user
    running event count + value sum, one snapshot row per user per batch.

    The built-in windowed aggs can't emit *running* (cross-batch
    cumulative) snapshots in append semantics; explicit state can. State is
    two scalars per user — bounded by the user population, the classic
    keyed-state sizing at cluster scale.

    With ``quantize_digits`` set, each value is first rounded to that many
    decimals (floor form, same IEEE ops as ``functions.numeric.round_det``)
    and accumulated as exact integers — the sum is then independent of
    arrival order and batch boundaries, i.e. hash-checkable.
    """
    import math

    def update(key, pdfs, state):
        if quantize_digits is None:
            n, total = state.get if state.exists else (0, 0.0)
            for pdf in pdfs:
                n += int(len(pdf))
                total += float(pdf["value"].sum())
        else:
            scale = 10**quantize_digits
            n, units = state.get if state.exists else (0, 0)
            units = int(units)
            for pdf in pdfs:
                n += int(len(pdf))
                units += int(sum(math.floor(v * scale + 0.5) for v in pdf["value"]))
            total = units / scale
            state.update((n, units))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )
            return
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=TOTALS_SCHEMA,
            stateStructType=_RUNNING_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def run_foreach_batch_parquet(stream_df: DataFrame, out_dir: str, ledger_dir: str) -> None:
    """Exactly-once-ish parquet sink via ``foreachBatch`` + a batch ledger.

    ``foreachBatch`` hands (batch_df, batch_id); on restart after a failure
    the same batch_id can be re-delivered, so the writer records completed
    ids in a ledger directory and skips replays — idempotent output on top
    of an at-least-once channel. This is the pattern for sinks without
    transactional tables; with Delta/Iceberg the txn log replaces the
    ledger.
    """
    os.makedirs(ledger_dir, exist_ok=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(ledger_dir, f"batch-{batch_id}.done")
        if os.path.exists(marker):  # replayed batch: already committed
            return
        batch_df.write.mode("append").parquet(out_dir)
        with open(marker, "w") as fh:
            fh.write("ok")

    run_foreach_batch(stream_df, write_batch)


SESSIONS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("session_value", T.DoubleType()),
    ]
)

_SESSIONS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("units", T.LongType()),
    ]
)


def stateful_sessions(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "30 minutes",
    quantize_digits: int = 4,
) -> DataFrame:
    """Custom sessionization via ``applyInPandasWithState`` + EVENT-TIME
    TIMEOUT: emits a session row only when the session CLOSES — either a
    later event opens the next session (gap exceeded in-batch) or the
    watermark passes ``last_event + gap`` and the state times out.

    This is what ``F.session_window`` cannot express: arbitrary per-session
    payloads (here a fixed-point value sum, but any custom accumulator
    drops in) with closed-session append semantics and state that is
    GUARANTEED evicted at watermark — the bounded-state contract at
    100 TB stream scale. Values quantize to ``quantize_digits`` and
    accumulate as integers, so sums are independent of batch boundaries
    and arrival order. An event exactly ``gap`` after its predecessor
    starts a NEW session (matching ``session_window``'s exclusive end).
    """
    import math

    gap_us = gap_minutes * 60 * 1_000_000
    scale = 10**quantize_digits

    def to_us(ts) -> int:
        return int(pd.Timestamp(ts).value // 1000)

    def update(key, pdfs, state):
        def emit(start_us, last_us, n, units):
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start_us * 1000)],
                    "session_end": [pd.Timestamp((last_us + gap_us) * 1000)],
                    "n_events": [n],
                    "session_value": [units / scale],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n, units = state.get
            state.remove()
            yield emit(start_us, last_us, n, units)
            return

        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        cur = list(state.get) if state.exists else None
        for ts, v in zip(rows["ts"], rows["value"]):
            t_us = to_us(ts)
            u = int(math.floor(float(v) * scale + 0.5))
            if cur is None:
                cur = [t_us, t_us, 1, u]
            elif t_us - cur[1] >= gap_us:
                yield emit(*cur)
                cur = [t_us, t_us, 1, u]
            else:
                cur[1] = max(cur[1], t_us)
                cur[2] += 1
                cur[3] += u
        state.update(tuple(cur))
        # close when the watermark proves no event can extend this session
        state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSIONS_SCHEMA,
            stateStructType=_SESSIONS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def make_running_totals_processor():
    """Build the ``RunningTotals`` StatefulProcessor (Spark 4
    ``transformWithStateInPandas`` API).

    Defined via a factory so the class is importable and unit-drivable in
    containers that lack the protobuf state-server runtime: the
    ``StatefulProcessor`` ABC itself has no protobuf dependency — only the
    executor-side runner does — so tests can instantiate this exact class,
    feed it a fake ``ValueState`` handle, and assert its semantics against
    the batch aggregate (tests/test_streaming.py). The class that ships to
    a real cluster is byte-for-byte the one exercised by that harness.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n BIGINT, units BIGINT"
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._totals.exists():
                n, units = self._totals.get()
            else:
                n, units = 0, 0
            for pdf in rows:
                n += len(pdf)
                import numpy as np

                units += int(
                    np.floor(pdf["value"].astype(float) * 100.0 + 0.5)
                    .astype("int64")
                    .sum()
                )
            self._totals.update((n, units))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [units / 100.0],
                }
            )

        def close(self) -> None:
            pass

    return RunningTotals()


def transform_with_state_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` — the
    Spark 4 arbitrary-stateful API (StatefulProcessor + typed state
    handles) that supersedes ``applyInPandasWithState``.

    Each micro-batch updates a per-key ValueState holding (count,
    fixed-point units) and emits the key's new running totals (Update
    semantics). Totals accumulate as integers so the result is identical
    under any micro-batch partitioning of the input — the same
    order-independence contract as the batch aggregates. State is one
    tuple per user: keyed-state size is O(population), not O(events).
    """
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make_running_totals_processor(),
        outputStructType=TOTALS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
