"""Skew mitigation: salted joins.

AQE's skew-join (on in session.py) splits oversized sort-merge partitions
automatically and is the first line of defense. Salting is the explicit
fallback for the cases AQE can't fix — e.g. a broadcast-ineligible
dimension joined on a key where one value is 30% of a 100 TB fact table,
or skewed *aggregation* keys. The trade: the small side is replicated
``n_salts``-fold, the hot key's rows spread over ``n_salts`` tasks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt__"


def with_salt(df: DataFrame, n_salts: int, deterministic_from: list[str] | None = None) -> Column:
    """Per-row salt in [0, n_salts): deterministic hash of the given
    columns (or all columns), so retries/replays salt identically."""
    cols = deterministic_from or df.columns
    return F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(n_salts))


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to heavy key skew on the large side.

    The large side gets a deterministic per-row salt; the small side is
    exploded into ``n_salts`` replicas (one per salt value). The join key
    becomes ``on + [salt]``, so the hot key's rows land in ``n_salts``
    separate shuffle partitions instead of one straggler task. Result is
    row-identical to ``large.join(small, on, how)``.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salted_large = large.withColumn(SALT_COL, with_salt(large, n_salts))
    salted_small = small.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = salted_large.join(salted_small, on + [SALT_COL], how)
    return out.drop(SALT_COL)


def fan_out_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Spread a narrow-but-expensive pipeline's input across the cluster.

    A small table often arrives as ONE parquet scan split (a few MB), so
    everything up to the first shuffle — regex tokenization, shingling,
    per-row hashing, Python kernels — serializes on a single task no
    matter how many cores exist. Hash-repartition on ``key_cols`` only
    when the scan yields fewer splits than the session parallelism; at
    production scale splits already exceed cores and this is a no-op.
    Only for per-row computations (values independent of partitioning).

    Probe cost: ``df.rdd.getNumPartitions()`` forces one analysis +
    physical-planning pass of the upstream plan (no execution). Every
    current call site probes a just-read table scan exactly once per
    query, where that is microseconds.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df
