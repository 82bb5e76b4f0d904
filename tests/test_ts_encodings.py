"""Cross-encoding regression: every events-ts parquet encoding the driver
has shipped (INT64 nanos, timestamp[us] tz-naive NTZ, timestamp[us] tz-aware
LTZ) must read IDENTICALLY through both the batch catalog and the streaming
file source.

Round 3 post-mortem: the driver silently switched events.parquet from
INT64-nanos to µs-NTZ. The batch path then threw on ``unix_micros(ntz)``
while the streaming path — force-reading with a hardcoded LongType schema —
divided raw MICROsecond values by 1000 and landed every event in January
1970 with no error at all (q130/q131/q136 wrong-rows in CORRECTNESS_r03).
This test pins the fix: the catalog/stream readers probe the footer and
normalize per-encoding, so a future encoding shift fails loudly here
instead of silently corrupting watermarks.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hive_feature_demo_spark import catalog
from hive_feature_demo_spark.streaming import ops

N_ROWS = 500


@pytest.fixture(scope="module")
def sample(sf_dir):
    """First N_ROWS of the real events table as python values (µs epoch)."""
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet")).slice(0, N_ROWS)
    cols = {name: tbl.column(name) for name in tbl.column_names}
    ts = cols["ts"]
    if pa.types.is_timestamp(ts.type):
        us = ts.cast(pa.timestamp("us")).cast(pa.int64())
    else:  # already integer nanos
        us = pa.compute.divide(ts.cast(pa.int64()), 1000)
    return tbl, us


def _write_encoding(tmp_path, name: str, tbl: pa.Table, ts_array: pa.Array, ts_type):
    out_dir = tmp_path / name
    out_dir.mkdir()
    i = tbl.column_names.index("ts")
    recoded = tbl.set_column(i, "ts", ts_array.cast(pa.int64()).cast(ts_type))
    path = str(out_dir / "events.parquet")
    # version 2.6 keeps TIMESTAMP(NANOS) as nanos instead of down-casting
    pq.write_table(recoded, path, version="2.6", coerce_timestamps=None)
    return str(out_dir)


@pytest.fixture(scope="module")
def encoded_dirs(sample, tmp_path_factory):
    tbl, us = sample
    tmp_path = tmp_path_factory.mktemp("ts_encodings")
    ns = pa.compute.multiply(us.cast(pa.int64()), 1000)
    dirs = {
        "nanos_int64": _write_encoding(tmp_path, "nanos_int64", tbl, ns, pa.timestamp("ns")),
        "us_ntz": _write_encoding(tmp_path, "us_ntz", tbl, us, pa.timestamp("us")),
        "us_ltz": _write_encoding(tmp_path, "us_ltz", tbl, us, pa.timestamp("us", tz="UTC")),
    }
    # INT96 (legacy Hive/Impala physical type, r4-verdict item 8): stores
    # full nanosecond instants, so it joins the exact-equality family.
    int96_dir = tmp_path / "int96"
    int96_dir.mkdir()
    i = tbl.column_names.index("ts")
    recoded = tbl.set_column(i, "ts", ns.cast(pa.timestamp("ns")))
    pq.write_table(
        recoded,
        str(int96_dir / "events.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    dirs["int96"] = str(int96_dir)
    return dirs


@pytest.fixture(scope="module")
def millis_dir(sample, tmp_path_factory):
    """TIMESTAMP(MILLIS) — lossy vs the µs sample, so it gets its own
    truncation-aware assertions instead of joining the equality family."""
    tbl, us = sample
    tmp_path = tmp_path_factory.mktemp("ts_millis")
    ms = pa.array(
        [v // 1000 for v in us.cast(pa.int64()).to_pylist()], pa.int64()
    )
    return (
        _write_encoding(tmp_path, "ms_ntz", tbl, ms, pa.timestamp("ms")),
        ms,
    )


def _batch_minmax(spark, d):
    df = catalog.table(spark, d, "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp", (
        f"{d}: catalog must surface session-zone TIMESTAMP, got "
        f"{df.schema['ts'].dataType.simpleString()}"
    )
    row = df.selectExpr("min(ts) AS lo", "max(ts) AS hi", "count(*) AS n").first()
    return row["lo"], row["hi"], row["n"]


def _stream_minmax(spark, d):
    from pyspark.sql import functions as F

    stream = ops.events_stream(spark, d)
    assert stream.schema["ts"].dataType.simpleString() == "timestamp"
    agg = stream.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count("*").alias("n")
    )
    name = f"t_enc_{abs(hash(d)) % 10**8}"
    ops.run_to_memory(agg, name, output_mode="complete")
    row = spark.table(name).first()
    return row["lo"], row["hi"], row["n"]


def test_footer_schema_matches_spark_inference(spark, sf_dir, encoded_dirs, millis_dir):
    """``catalog.parquet_schema`` maps each footer to the schema Spark's
    inference gives: every testdata table, data/fans.parquet and every ts
    encoding (directory form), INT64 nanos as bigint and INT96 as
    timestamp although Arrow reads both as timestamp[ns]."""
    from hive_feature_demo_spark.plans.segment import FANS_PARQUET

    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in catalog.TESTDATA_TABLES]
    paths += [FANS_PARQUET, *encoded_dirs.values(), millis_dir[0]]
    for p in paths:
        assert catalog.parquet_schema(p) == spark.read.parquet(p).schema, p


def test_catalog_reads_start_no_job(spark, sf_dir, count_jobs):
    """Reading a table's schema from its footer starts no Spark job."""
    assert count_jobs(lambda: catalog.table(spark, sf_dir, "events"))[1] == 0
    assert count_jobs(lambda: catalog.register_testdata(spark, sf_dir))[1] == 0


def test_batch_reads_agree_across_encodings(spark, encoded_dirs):
    got = {k: _batch_minmax(spark, d) for k, d in encoded_dirs.items()}
    ref = got["us_ntz"]
    assert ref[2] == N_ROWS
    # sanity: a mis-scaled read lands in 1970; real data is post-2000
    assert ref[0] > dt.datetime(2000, 1, 1)
    for k, v in got.items():
        assert v == ref, f"batch read of {k} disagrees: {v} != {ref}"


def test_stream_reads_agree_with_batch(spark, encoded_dirs):
    for k, d in encoded_dirs.items():
        b = _batch_minmax(spark, d)
        s = _stream_minmax(spark, d)
        assert s == b, f"stream read of {k} disagrees with batch: {s} != {b}"
        assert s[0] > dt.datetime(2000, 1, 1), f"{k}: stream ts mis-scaled (1970 bug)"


def test_q42_hash_identical_across_encodings(spark, encoded_dirs):
    """The full sessionization query (lag-gap arithmetic on ts) produces
    byte-identical rows under every storage encoding."""
    from hive_feature_demo_spark.plans.streaming_batch import q42_sessionization

    results = {
        k: sorted(map(tuple, q42_sessionization(spark, d).collect()))
        for k, d in encoded_dirs.items()
    }
    ref = results["us_ntz"]
    assert len(ref) > 0
    for k, rows in results.items():
        assert rows == ref, f"q42 under {k} differs from us_ntz"


def test_orc_timestamp_roundtrip(spark, sf_dir, tmp_path):
    """Timestamps survive the parquet -> ORC -> read conversion exactly
    (ORC encodes epochs differently; q163 keeps its oracle type-simple and
    delegates the ts hazard here)."""
    e = catalog.table(spark, sf_dir, "events").filter("event_id < 500")
    want = e.selectExpr(
        "min(ts) AS lo", "max(ts) AS hi", "count(*) AS n", "sum(unix_micros(ts)) AS s"
    ).first()
    out = str(tmp_path / "events_orc")
    e.write.mode("overwrite").orc(out)
    got = (
        spark.read.orc(out)
        .selectExpr(
            "min(ts) AS lo", "max(ts) AS hi", "count(*) AS n",
            "sum(unix_micros(ts)) AS s",
        )
        .first()
    )
    assert tuple(got) == tuple(want) and got["n"] > 0


def test_millis_encoding_reads_truncation_exact(spark, encoded_dirs, millis_dir):
    """TIMESTAMP(MILLIS): batch and stream agree with each other, land in
    the right epoch, and differ from the µs reference only by sub-ms
    truncation — a mis-scaled read (ms as µs or ns) would be off by 1000×."""
    d, _ms = millis_dir
    b = _batch_minmax(spark, d)
    s = _stream_minmax(spark, d)
    assert s == b, f"stream read of ms encoding disagrees with batch: {s} != {b}"
    assert b[2] == N_ROWS
    assert b[0] > dt.datetime(2000, 1, 1), "ms ts mis-scaled (1970 bug)"
    ref = _batch_minmax(spark, encoded_dirs["us_ntz"])
    for got, want in [(b[0], ref[0]), (b[1], ref[1])]:
        delta = abs((want - got).total_seconds())
        assert delta < 0.001, f"ms truncation off: {got} vs {want} ({delta}s)"


def test_ntz_cast_is_utc_even_if_session_tz_drifts(spark):
    """ResolveTimeZone stamps the SESSION zone into the NTZ->TIMESTAMP cast
    at ANALYSIS time; normalize_event_times must pin UTC BEFORE building
    the cast or a non-UTC host bakes its offset into every event instant
    permanently (r10 TZ=Asia/Kolkata sweep: 9 streaming queries shifted
    -5:30). Simulates the virgin-session hazard by drifting the session
    zone, then asserts the normalized instant is wall@UTC, not wall@IST."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    wall = dt.datetime(2024, 1, 15, 12, 0, 0)  # naive wall time
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        df = spark.createDataFrame(
            [(wall,)], T.StructType([T.StructField("ts", T.TimestampNTZType())])
        )
        out = catalog.normalize_event_times(df)
        micros = out.select(F.unix_micros("ts").alias("m")).first()["m"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    want_utc = int(wall.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    assert micros == want_utc, (
        f"NTZ cast stamped with a non-UTC zone: got {micros}, want {want_utc} "
        f"(delta {(micros - want_utc) / 3.6e9:+.2f}h)"
    )
    assert spark.conf.get("spark.sql.session.timeZone") == prev


def test_no_raw_timestamp_outputs_in_fixed_queries(spark):
    """q261/q263 output schemas must not expose TimestampType: PySpark's
    collect() renders TimestampType via datetime.fromtimestamp — the HOST
    zone — so raw timestamp outputs hash-match a naive oracle rendering
    only on UTC hosts (r10 TZ sweep finding). Engine-side date_format under
    the pinned UTC session zone is the canonical output form."""
    from hive_feature_demo_spark.plans.audit_ops import (
        q261_keyset_pagination,
        q263_event_streaks,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    for fn in (q261_keyset_pagination, q263_event_streaks):
        schema = fn(spark, sf).schema
        bad = [f.name for f in schema.fields if f.dataType.simpleString() == "timestamp"]
        assert not bad, f"{fn.__name__} exposes raw TimestampType: {bad}"
