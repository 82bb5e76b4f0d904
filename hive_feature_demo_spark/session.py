"""SparkSession factory.

One place to configure the session so every entry point (tests, bench,
driver contract) gets identical, scale-aware settings.

Scale notes (local[N] here, 1000-executor cluster in production):

- AQE on: runtime coalescing of shuffle partitions, broadcast-join
  conversion, and skew-join splitting are the main levers that survive a
  100x scale-up without re-tuning.
- ``spark.sql.shuffle.partitions`` is sized to local cores; on a real
  cluster this initial value matters less because AQE coalesces, but we set
  it explicitly rather than inheriting the 200 default.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled: every pandas UDF / toPandas crossing is Arrow-batched.
- Shuffle/spill/broadcast codec left at Spark's default, lz4 (PERF.md
  "Round-12 session 3: shuffle-codec A/B" and "Round-13: shuffle-codec A/B
  at the ×1000 tier"). zstd halved q02/q64 at x100 under IO pressure (q02
  min 7.7 s vs 16.4 s, q64 7.3 vs 10.0, q86 wash) but cost a consistent ~8%
  on the CPU-bound sf0.1 headline suite (lz4 49.4/50.5 s vs zstd
  53.6/55.1 s interleaved), and lz4 won every ×1000 pair on the dedup
  tier. On network/disk-bound clusters where shuffle bytes, not codec CPU,
  are the wall, pass ``extra_conf={"spark.io.compression.codec": "zstd"}``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from hive_feature_demo_spark.catalog import _RUNTIME_CONFS, DEFAULT_SHUFFLE_PARTITIONS


def get_spark(
    app_name: str = "hive-feature-demo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    hive: bool = False,
    warehouse_dir: str | None = None,
) -> SparkSession:
    """Build (or reuse) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract) or
    ``local[*]``. ``hive=True`` enables the Hive metastore catalog
    (embedded derby locally; a real metastore URI in production) — the
    "Spark SQL reading Hive tables" deployment shape; note
    ``catalogImplementation`` is fixed for the lifetime of the JVM, so the
    first ``get_spark`` call in a process decides.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # shuffle-reducer HEADROOM (r11 scale-4 finding): with AQE
        # coalescing on, every shuffle STARTS at this many partitions and
        # AQE merges small ones back (parallelismFirst=true keeps >=
        # core-count parallelism for small stages), but Spark can never
        # grow a shuffle ABOVE the initial number for aggregations — so a
        # fixed cores-sized value is a scale ceiling: the x1000 docs
        # corpus (2.5B-row shingle index) put ~80M rows / ~1.5M groups
        # into each of 32 reducer tasks and the signature aggregation
        # died with UNABLE_TO_ACQUIRE_MEMORY. 8x cores keeps per-task
        # aggregation state bounded through the fourth decade locally;
        # the same ratio (initialPartitionNum >> executors*cores) is the
        # standard AQE deployment shape on a real cluster.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(8 * n_shuffle),
        )
        # 8MB, deliberately BELOW Spark's 10MB default: un-hinted sides
        # bigger than this shuffle instead of broadcasting. Measured on
        # the ×100 bench corpus (q02): auto-broadcasting a 6M-row orders
        # projection cost 16.3 s against 6.1 s for the co-shuffled join —
        # the single-threaded broadcast hash build dominates long before
        # the relation stops fitting in memory, and on a real cluster a
        # >10 MB broadcast × 1000 executors is network cost with no
        # build-side win. Genuine dimension joins stay broadcast: every
        # dim join in this repo carries an explicit F.broadcast hint
        # (threshold-immune), tiny sides are under 8MB anyway, and AQE
        # still locally converts when runtime sizes allow.
        .config("spark.sql.autoBroadcastJoinThreshold", "8MB")
        .config("spark.ui.enabled", "false")
        # 16g deliberately: a 48g heap was trialed for the x1000 corpus
        # and REGRESSED heavy shuffles in long-lived sessions (q02 x100
        # 8-12s -> 90-183s in-bench; GC over a huge lazily-grown heap +
        # RSS crowding the page cache), while fixing nothing the
        # DISK_ONLY checkpoint policy didn't already fix — q86 at x1000
        # runs [312, 228]s on 16g vs [261, 372]s on 48g, zero OOM.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # let execution reclaim storage down to 30% (default 50%): the
        # dedup/ANN pipelines eagerly localCheckpoint multi-GB indexes
        # (MEMORY_AND_DISK), and at the x1000 corpus the protected half
        # of the unified region pinned enough checkpoint blocks that
        # 33 concurrent partial-aggregation tasks starved outright
        # (UNABLE_TO_ACQUIRE_MEMORY ... got 0). Checkpoint blocks evict
        # to local disk and re-read cheaply; stalled aggregations do not.
        .config("spark.memory.storageFraction", "0.3")
    )
    # timezone, arrow, parquet rebase and nanosAsLong: the same confs the
    # catalog applies to sessions built elsewhere
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if hive:
        wh = warehouse_dir or os.path.join(os.getcwd(), "spark-warehouse")
        builder = (
            builder.config("spark.sql.warehouse.dir", wh)
            .config(
                "spark.driver.extraJavaOptions", f"-Dderby.system.home={wh}"
            )
            .enableHiveSupport()
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
