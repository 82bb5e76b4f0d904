"""Catalog: register driver testdata parquet files as queryable tables.

The reference loads its one table at process start
(``/root/reference/backend/tools.py:26-28``); our equivalent is registering
the star-schema parquet files as named tables once per session so every
operator addresses them via ``spark.table(name)`` / SQL.

At 100 TB these would be Hive-metastore external tables partitioned on
date/tenant keys; the register step is the same one-liner per table
(``CREATE EXTERNAL TABLE ... USING PARQUET LOCATION ...``), so everything
downstream is storage-agnostic. We use temp views here because the driver
hands us bare parquet dirs per scale factor.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Shuffle partitions when nothing else sizes them: the local core count the
# driver exports, 32 without it.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Confs every query depends on for correctness/determinism, all of which are
# runtime-settable. ``get_spark()`` (session.py) builds with this dict, but
# any externally-built SparkSession (e.g. a test harness constructing a vanilla
# ``SparkSession.builder.getOrCreate()``) must get them too, so the catalog —
# the single choke point every table read goes through — applies them at read
# time. Without ``nanosAsLong`` the events table (TIMESTAMP(NANOS) parquet)
# fails to read at all; without UTC the timestamp formatting drifts vs a
# µs-native engine reading the same file.
_RUNTIME_CONFS = {
    # events.parquet stores INT64 TIMESTAMP(NANOS), which Spark's reader
    # rejects unless told to surface it as long (normalize_event_times
    # converts it)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any SparkSession able to run the catalog's queries.

    Idempotent and cheap; results must not depend on which process built the
    session. Also right-sizes ``shuffle.partitions`` when it is still at
    Spark's out-of-the-box 200 (local-mode tests want ~#cores; at 100 TB a
    real deployment sets this — or relies on AQE coalescing — explicitly).
    """
    for key, value in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf unsupported in this build
            pass
    try:
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    except Exception:  # pragma: no cover
        pass


def register_testdata(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every testdata table (read by :func:`table`) as a temp view;
    return name -> DataFrame. Starts no Spark job.

    Parquet scans get predicate pushdown + column pruning from Catalyst for
    free; no caching here (at 100 TB you cannot cache the fact tables, and
    at test scale Spark's parquet reader is already fast).
    """
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            out[name] = table(spark, sf_dir, name)
            out[name].createOrReplaceTempView(name)
    return out


def register_hive_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, database: str = "star"
) -> None:
    """Register the testdata as Hive-metastore EXTERNAL parquet tables.

    The production deployment shape (BASELINE "Spark SQL reading Hive
    tables"): metadata in the metastore, data in place as parquet; at
    100 TB the same statement with PARTITIONED BY on the layout's
    date/tenant dirs gives metastore-driven partition pruning. Requires a
    session built with ``get_spark(hive=True)``.
    """
    ensure_session_confs(spark)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {database}.{name} "
            f"USING PARQUET LOCATION '{path}'"
        )
        # keep both registration paths schema-identical: event-time columns
        # stored as nanos-bigint or TIMESTAMP_NTZ (see _ts_convert_sql) get a
        # converting view on top of the raw external table, so
        # spark.table("db.events").ts is a session-zone timestamp here
        # exactly as in register_testdata
        raw = spark.table(f"{database}.{name}")
        if any(_ts_convert_sql(f) for f in raw.schema.fields):
            if not spark.catalog.tableExists(f"{database}.{name}_raw"):
                spark.sql(
                    f"ALTER TABLE {database}.{name} RENAME TO {database}.{name}_raw"
                )
            cols = []
            for field in raw.schema.fields:
                expr = _ts_convert_sql(field)
                if expr is not None:
                    cols.append(f"{expr} AS {field.name}")
                else:
                    cols.append(field.name)
            spark.sql(
                f"CREATE OR REPLACE VIEW {database}.{name} AS "
                f"SELECT {', '.join(cols)} FROM {database}.{name}_raw"
            )


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table directly (no view registration needed),
    under the schema its footer declares (:func:`parquet_schema`), so
    building the read starts no Spark job."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return normalize_event_times(spark.read.schema(parquet_schema(path)).parquet(path))


def parquet_schema(path: str) -> T.StructType:
    """Spark schema of stored parquet data, read from one footer: no
    Spark job, where ``spark.read.parquet(path)`` starts one to infer it.

    ``path`` is a parquet file, a directory of them or a glob of either;
    the first data file in name order speaks for all, as one file does for
    Spark's inference without ``mergeSchema``. Types map as that inference
    maps them: ``from_arrow_schema`` with tz-naive timestamps as
    TIMESTAMP_NTZ, except that Arrow reads both INT64 TIMESTAMP(NANOS) and
    INT96 as ``timestamp[ns]``, where Spark gives bigint (``nanosAsLong``,
    ``_RUNTIME_CONFS``) and TIMESTAMP.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    footer = pq.read_metadata(_first_data_file(path)).schema
    int64 = {footer.column(i).path for i in range(len(footer)) if footer.column(i).physical_type == "INT64"}
    arrow = footer.to_arrow_schema()
    nanos = {f.name for f in arrow if pa.types.is_timestamp(f.type) and f.type.unit == "ns"}
    return T.StructType([
        T.StructField(f.name, T.LongType() if f.name in int64 else T.TimestampType(), f.nullable)
        if f.name in nanos else f
        for f in from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    ])


def _first_data_file(path: str) -> str:
    """The file ``path`` names, else the first file of a directory or of a
    glob's matches, skipping ``_``/``.`` names as Spark's listing does."""
    for hit in sorted(glob.glob(path)):
        for f in [hit] if os.path.isfile(hit) else sorted(glob.glob(os.path.join(hit, "[!_.]*"))):
            if os.path.isfile(f):
                return f
    raise FileNotFoundError(f"no parquet data file at {path}")


def _ts_convert_sql(field) -> str | None:
    """SQL expression normalizing a stored event-time column to session-zone
    TIMESTAMP, or None when the column needs no conversion.

    The driver's testdata has shipped ``events.ts`` under different parquet
    encodings across rounds — INT64 TIMESTAMP(NANOS) (read as bigint under
    ``nanosAsLong``; round 1-2), plain ``timestamp[us]`` tz-naive (read as
    TIMESTAMP_NTZ; round 3+) — so the catalog probes the type it actually
    got and branches instead of hardcoding one encoding:

    - bigint nanos -> ``timestamp_micros(x div 1000)`` (integer div: epoch
      nanos ~1.8e18 exceed double's 2^53 mantissa; floor truncation matches
      how DuckDB or any µs-native engine reads the same file);
    - TIMESTAMP_NTZ -> ``cast(x as timestamp)`` — value-preserving because
      the session zone is pinned UTC (``_RUNTIME_CONFS``);
    - TIMESTAMP (tz-aware µs) -> already canonical, no-op.
    """
    t = field.dataType.simpleString()
    if field.name == "ts" and t == "bigint":
        return f"timestamp_micros({field.name} div 1000)"
    if t == "timestamp_ntz":
        return f"cast({field.name} as timestamp)"
    return None


def normalize_event_times(df: DataFrame) -> DataFrame:
    """Normalize every stored event-time encoding to session-zone TIMESTAMP
    (see ``_ts_convert_sql`` for the supported encodings); :func:`table`
    and the streaming file source apply it to what they read.

    Pins the session confs FIRST: Spark's ``ResolveTimeZone`` rule stamps
    the session timezone into timezone-aware expressions at ANALYSIS time,
    and the NTZ->TIMESTAMP cast built here is analyzed the moment
    ``withColumn`` constructs the new DataFrame. On a non-UTC host, a
    virgin session that hasn't been through ``ensure_session_confs`` yet
    would bake the HOST zone into the cast permanently (conf changes after
    analysis don't re-stamp), shifting every event instant by the host
    offset — found by the r10 TZ=Asia/Kolkata sweep (9 streaming queries,
    −5:30 on every window boundary)."""
    ensure_session_confs(df.sparkSession)
    for field in df.schema.fields:
        expr = _ts_convert_sql(field)
        if expr is not None:
            df = df.withColumn(field.name, F.expr(expr))
    return df


def analyze_tables(
    spark: SparkSession, database: str = "star", columns: dict[str, list[str]] | None = None
) -> None:
    """Populate metastore statistics for the cost-based optimizer.

    At 100 TB the CBO's join reordering and broadcast decisions are only
    as good as its stats; table-level rowCount/sizeInBytes plus column
    NDV/min/max histograms are what it consumes. Run after bulk loads.
    """
    for name in TESTDATA_TABLES:
        target = f"{database}.{name}"
        if spark.catalog.tableExists(f"{database}.{name}_raw"):
            target = f"{database}.{name}_raw"  # normalized tables are views
        elif not spark.catalog.tableExists(target):
            continue
        spark.sql(f"ANALYZE TABLE {target} COMPUTE STATISTICS")
        cols = (columns or {}).get(name)
        if cols:
            spark.sql(
                f"ANALYZE TABLE {target} COMPUTE STATISTICS "
                f"FOR COLUMNS {', '.join(cols)}"
            )
