"""Sinks: partitioned / bucketed layouts + idempotent append.

These encode the 100 TB storage decisions the reference only sketches
(``/root/reference/SCALING.md:24-32`` — star schema, indexes on
``(promoter_id, genre)``; ``SCALING.md:120`` — idempotent campaign writes):

- **Partitioning** (directory-level) gives Catalyst partition *pruning*: a
  filter on the partition key never touches non-matching files. Choose
  low-cardinality, always-filtered keys (date, tenant).
- **Bucketing** (file-level hash layout, metastore-recorded) pre-shuffles
  on the join/agg key at write time, so later joins between co-bucketed
  tables skip the Exchange entirely — the biggest single lever for
  repeated large-scale joins.
- **Idempotent append** = anti-join on the business key then append; the
  parquet-level stand-in for MERGE (Delta/Iceberg at production; plan
  shape is identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Write parquet partitioned by the given columns (hive-style dirs)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str | None = None,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Save as a bucketed (and optionally sorted) catalog table.

    Two tables bucketed identically on the join key join with ZERO shuffle
    (SortMergeJoin reads co-located buckets). ``n_buckets`` should target
    128 MB-1 GB per bucket file at production scale.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def append_idempotent(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    key_cols: list[str],
) -> int:
    """Insert-if-absent on the business key; returns rows actually added.

    Replays of the same batch are no-ops (the reference's aspiration for
    campaign scheduling, ``SCALING.md:120``). The anti-join touches only
    the key columns of the target (column-pruned scan).
    """
    if not spark.catalog.tableExists(table):
        df.write.format("parquet").saveAsTable(table)
        return spark.table(table).count()  # count what landed, not a re-scan
    existing = spark.table(table).select(*key_cols)
    # materialize the anti-join once: count-then-write would execute the
    # scan+join twice, and could disagree if the source gained files between
    fresh = df.join(existing, on=key_cols, how="left_anti").localCheckpoint(eager=True)
    n = fresh.count()
    if n:
        fresh.write.mode("append").format("parquet").saveAsTable(table)
    return n


def write_compacted(
    df: DataFrame,
    path: str,
    target_file_mb: float = 256,
    mode: str = "overwrite",
) -> int:
    """Write parquet with file count sized to a target file size.

    Small-file proliferation is the classic lake pathology (a 100 TB table
    in 4 KB files means metadata-bound scans); conversely one giant file
    caps parallelism. File count derives from Catalyst's logical size
    estimate, so compaction needs no extra pass over the data. Returns the
    chosen file count.
    """
    import math

    size_bytes = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    n_files = max(1, math.ceil(float(size_bytes) / (target_file_mb * 1024 * 1024)))
    df.repartition(n_files).write.mode(mode).parquet(path)
    return n_files


def merge_upsert(
    spark: SparkSession,
    target_table: str,
    updates: DataFrame,
    key_cols: list[str],
) -> None:
    """SCD-1 MERGE: update matching keys, insert new ones.

    Parquet tables have no row-level transactions, so the merge is
    re-materialization: anti-join the target against the update keys (rows
    that survive) + the updates (rows that win). On Delta/Iceberg this maps
    to a real ``MERGE INTO`` with the identical join shape; the anti-join
    touches only key columns (column-pruned scan). The rewrite is staged
    through a temp view to avoid reading the table being overwritten.
    """
    if not spark.catalog.tableExists(target_table):
        # overwrite: a stale on-disk location without catalog metadata (e.g.
        # from an aborted run) must not block creation
        updates.write.mode("overwrite").format("parquet").saveAsTable(target_table)
        return
    target = spark.table(target_table)
    survivors = target.join(updates.select(*key_cols), on=key_cols, how="left_anti")
    merged = survivors.unionByName(updates)
    # the merged plan reads the table being replaced, so it must be fully
    # materialized first — to a staging dir, not cache (DROP TABLE
    # invalidates dependent cached plans, forcing a re-scan of deleted
    # files); transactional formats (Delta/Iceberg) make this a real MERGE
    import os
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    stage = os.path.join(wh, f"_staging_{target_table.replace('.', '_')}")
    merged.write.mode("overwrite").parquet(stage)
    staged = spark.read.schema(merged.schema).parquet(stage)
    spark.sql(f"DROP TABLE {target_table}")
    staged.write.format("parquet").saveAsTable(target_table)
    shutil.rmtree(stage, ignore_errors=True)


def morton_key(a, b, bits: int = 16):
    """Z-order (Morton) interleave of two non-negative int columns.

    Sorting/range-partitioning on this key clusters rows that are close in
    BOTH dimensions into the same files, so parquet min/max pruning skips
    files for 2-D selective filters (the layout trick behind
    Delta/Iceberg OPTIMIZE ZORDER). Pure bit ops — JVM-side, codegen'd.
    """
    from pyspark.sql import Column, functions as F

    def _col(x):
        return F.col(x) if isinstance(x, str) else x

    a_c, b_c = _col(a).cast("long"), _col(b).cast("long")
    out = F.lit(0).cast("long")
    for i in range(bits):
        bit_a = F.shiftright(a_c, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b_c, i).bitwiseAND(F.lit(1))
        out = (
            out.bitwiseOR(F.shiftleft(bit_a, 2 * i))
            .bitwiseOR(F.shiftleft(bit_b, 2 * i + 1))
        )
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write parquet range-partitioned + sorted on the Morton key of two
    columns — each output file covers a compact 2-D tile, maximizing
    min/max skipping for filters on either or both dimensions."""
    from pyspark.sql import functions as F

    keyed = df.withColumn("__z__", morton_key(col_a, col_b, bits))
    (
        keyed.repartitionByRange(n_files, "__z__")
        .sortWithinPartitions("__z__")
        .drop("__z__")
        .write.mode(mode)
        .parquet(path)
    )
