"""Engine-surface features: manifest-based snapshot time travel,
incremental materialized-view refresh, runtime metrics via observe(),
SQL LATERAL joins, and a Spark 4 Python DataSource connector.

Each is registered as an oracle-checked query so the feature is verified
end-to-end, not just demonstrated: the time-travel reads must reproduce
the date-split they committed, the incrementally-refreshed view must
equal the full recompute, the custom connector's rows must match the
oracle's closed-form regeneration of the same data.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_feature_demo_spark.catalog import register_testdata, table
from hive_feature_demo_spark.functions.numeric import (
    exact_sum_fixed,
    sql_exact_sum_fixed,
)
from hive_feature_demo_spark.scratch import scratch_dir
from hive_feature_demo_spark.plans.registry import register

# ---------------------------------------------------------------------------
# q200 — snapshot time travel over a manifest log (the mechanism behind
# Delta/Iceberg versioned reads, reduced to its essence): every commit
# writes new parquet files plus a manifest listing ALL files visible in
# that version and their schema; reading @v loads exactly manifest v's
# files under that schema (no inference). Commit 1 =
# orders before 1998; commit 2 appends the rest. The query reads BOTH
# versions and reports per-version totals — the oracle reproduces them
# from the date split. Scale: manifests are O(files) JSON on the side;
# data files are immutable and never rewritten on append (an append
# commit costs only its delta).
# ---------------------------------------------------------------------------

_CUT = "1998-01-01"


def _snapshot_commit(base: str, version: int, rows: DataFrame) -> None:
    """Append commit: write ``rows`` as new files, then manifest
    ``version``, listing the previous version's files plus these, and
    their schema."""
    new_dir = os.path.join(base, f"commit-{version}")
    rows.write.parquet(new_dir)
    files = []
    if version > 1:
        with open(os.path.join(base, f"manifest-v{version - 1}.json")) as fh:
            files = json.load(fh)["files"]
    files += [os.path.join(new_dir, f) for f in sorted(os.listdir(new_dir)) if f.endswith(".parquet")]
    manifest = {"version": version, "schema": rows.schema.jsonValue(), "files": files}
    with open(os.path.join(base, f"manifest-v{version}.json"), "w") as fh:
        json.dump(manifest, fh)


def _snapshot_read(spark: SparkSession, base: str, version: int) -> DataFrame:
    with open(os.path.join(base, f"manifest-v{version}.json")) as fh:
        manifest = json.load(fh)
    schema = T.StructType.fromJson(manifest["schema"])
    return spark.read.schema(schema).parquet(*manifest["files"])


@register(
    "q200_snapshot_time_travel",
    oracle=f"""
    WITH v1 AS (
      SELECT 1 AS version, COUNT(*) AS n_orders,
             {sql_exact_sum_fixed('o_totalprice', 2)} AS total_price
      FROM orders WHERE o_orderdate < DATE '{_CUT}'
    ), v2 AS (
      SELECT 2 AS version, COUNT(*) AS n_orders,
             {sql_exact_sum_fixed('o_totalprice', 2)} AS total_price
      FROM orders
    )
    SELECT * FROM v1 UNION ALL SELECT * FROM v2 ORDER BY version
    """,
    category="sources",
)
def q200_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    base = scratch_dir(prefix="q200_snap_")
    _snapshot_commit(base, 1, o.filter(F.col("o_orderdate") < _CUT))
    _snapshot_commit(base, 2, o.filter(F.col("o_orderdate") >= _CUT))

    outs = []
    for v in (1, 2):
        outs.append(
            _snapshot_read(spark, base, v).agg(
                F.lit(v).alias("version"),
                F.count("*").alias("n_orders"),
                exact_sum_fixed("o_totalprice", 2, "total_price"),
            )
        )
    return outs[0].unionByName(outs[1]).orderBy("version")


# ---------------------------------------------------------------------------
# q201 — incremental materialized-view refresh: a per-segment revenue MV
# built from the pre-cutoff orders is refreshed with ONLY the delta
# (post-cutoff orders) via full-outer merge of partial aggregates — and
# must equal the full recompute, which is exactly what the oracle
# computes. The merge works because the partial sums are scaled-long
# (associative, order-independent); this is the algebra every
# incremental-view maintenance engine relies on. Scale: refresh cost is
# O(delta + |MV|), never O(base).
# ---------------------------------------------------------------------------


@register(
    "q201_incremental_mv_refresh",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           {sql_exact_sum_fixed('o.o_totalprice', 2)} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    category="relational",
)
def q201_incremental_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    units = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")

    def partial(df: DataFrame) -> DataFrame:
        return (
            df.join(F.broadcast(c), df.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("pn"), F.sum(units).alias("pu"))
        )

    mv = partial(o.filter(F.col("o_orderdate") < _CUT))
    delta = partial(o.filter(F.col("o_orderdate") >= _CUT))
    merged = (
        mv.select(
            F.col("c_mktsegment").alias("seg_a"),
            F.col("pn").alias("pn_a"),
            F.col("pu").alias("pu_a"),
        )
        .join(
            delta.select(
                F.col("c_mktsegment").alias("seg_b"),
                F.col("pn").alias("pn_b"),
                F.col("pu").alias("pu_b"),
            ),
            F.col("seg_a") == F.col("seg_b"),
            "full_outer",
        )
        .select(
            F.coalesce("seg_a", "seg_b").alias("c_mktsegment"),
            (F.coalesce("pn_a", F.lit(0)) + F.coalesce("pn_b", F.lit(0))).alias(
                "n_orders"
            ),
            (
                (F.coalesce("pu_a", F.lit(0)) + F.coalesce("pu_b", F.lit(0)))
                .cast("double") / F.lit(100.0)
            ).alias("revenue"),
        )
    )
    return merged.orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# q202 — runtime metrics via observe(): the pipeline-instrumentation API
# that attaches named aggregates to a flowing DataFrame WITHOUT a second
# scan (metrics are collected as a side effect of the action). The query
# filters lineitem and reports rows-in/rows-out/filtered revenue from the
# observation — values the oracle recomputes declaratively. At 100 TB
# observe() is how row-count reconciliation runs for free inside an
# existing job instead of doubling the scan.
# ---------------------------------------------------------------------------


@register(
    "q202_observed_metrics",
    oracle=f"""
    SELECT COUNT(*) AS rows_in,
           SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS rows_out,
           {sql_exact_sum_fixed(
               "CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END", 2
           )} AS returned_revenue
    FROM lineitem
    """,
    category="relational",
)
def q202_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    l = table(spark, sf_dir, "lineitem")
    obs = Observation("q202")
    units = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    observed = l.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "rows_out"
        ),
        F.sum(F.when(F.col("l_returnflag") == "R", units).otherwise(0)).alias(
            "returned_units"
        ),
    )
    # one action drives the pipeline; metrics ride along with no extra scan
    observed.filter(F.col("l_returnflag") == "R").write.format("noop").mode(
        "overwrite"
    ).save()
    m = obs.get
    return spark.createDataFrame(
        [(m["rows_in"], m["rows_out"], m["returned_units"] / 100.0)],
        "rows_in bigint, rows_out bigint, returned_revenue double",
    )


# ---------------------------------------------------------------------------
# q203 — SQL LATERAL join: per-nation top-3 customers by balance via a
# correlated LATERAL subquery — the SQL spelling of "for each row, run
# this parameterized subquery". Catalyst decorrelates it into the same
# window/join plan a hand-written top-k-per-group builds, which is the
# point: the declarative form costs nothing. Oracle uses a window (DuckDB
# LATERAL exists but the window spelling is canonical there).
# ---------------------------------------------------------------------------


@register(
    "q203_lateral_topk",
    oracle="""
    SELECT nation_name, c_name, c_acctbal FROM (
      SELECT n.n_name AS nation_name, c.c_name, c.c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY n.n_name
                                ORDER BY c.c_acctbal DESC, c.c_name) AS rn
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    ) WHERE rn <= 3
    ORDER BY nation_name, c_acctbal DESC, c_name
    """,
    category="relational",
)
def q203_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_testdata(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name AS nation_name, t.c_name, t.c_acctbal
        FROM nation n,
        LATERAL (
          SELECT c.c_name, c.c_acctbal
          FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c.c_acctbal DESC, c.c_name
          LIMIT 3
        ) t
        ORDER BY nation_name, t.c_acctbal DESC, t.c_name
        """
    )


# ---------------------------------------------------------------------------
# q204 — Spark 4 Python DataSource connector: a custom partitioned batch
# source (deterministic synthetic ledger rows generated per partition
# from closed-form arithmetic) registered and read through the standard
# spark.read.format(...) path, then joined to a real table. This is the
# extension surface for reading systems Spark has no built-in connector
# for; partition planning happens in partitions(), row generation
# executor-side in read(partition) — nothing flows through the driver.
# The oracle regenerates the same rows from range() arithmetic.
# ---------------------------------------------------------------------------

_LEDGER_ROWS = 1000
_LEDGER_PARTS = 8


@register(
    "q204_python_datasource",
    oracle=f"""
    WITH ledger AS (
      SELECT r AS entry_id,
             r % 150 AS user_id,
             CAST((r * 37) % 1000 AS DOUBLE) / 10.0 AS amount
      FROM range({_LEDGER_ROWS}) t(r)
    )
    SELECT l.user_id,
           COUNT(*) AS n_entries,
           {sql_exact_sum_fixed('l.amount', 1)} AS total_amount
    FROM ledger l
    GROUP BY l.user_id
    ORDER BY l.user_id
    LIMIT 20
    """,
    category="sources",
)
def q204_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class LedgerReader(DataSourceReader):
        def __init__(self, options):
            self.n_rows = int(options.get("rows", _LEDGER_ROWS))
            self.n_parts = int(options.get("partitions", _LEDGER_PARTS))

        def partitions(self):
            per = (self.n_rows + self.n_parts - 1) // self.n_parts
            return [
                InputPartition((i * per, min((i + 1) * per, self.n_rows)))
                for i in range(self.n_parts)
            ]

        def read(self, partition):
            lo, hi = partition.value
            for r in range(lo, hi):
                yield (r, r % 150, ((r * 37) % 1000) / 10.0)

    class LedgerSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_ledger"

        def schema(self):
            return "entry_id bigint, user_id bigint, amount double"

        def reader(self, schema):
            return LedgerReader(self.options)

    try:
        spark.dataSource.register(LedgerSource)
    except Exception:
        pass  # already registered in this session
    ledger = (
        spark.read.format("synthetic_ledger")
        .option("rows", _LEDGER_ROWS)
        .option("partitions", _LEDGER_PARTS)
        .load()
    )
    return (
        ledger.groupBy("user_id")
        .agg(
            F.count("*").alias("n_entries"),
            exact_sum_fixed("amount", 1, "total_amount"),
        )
        .orderBy("user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q208 — recursive CTE (Spark 4.1): hierarchy rollup over the implicit
# binary tree on customer keys (parent = key // 2, root = key 1) — the
# org-chart/BOM traversal SQL could not express on Spark before
# recursion landed. Depth is data-derived, the recursion is acyclic by
# construction, and the oracle runs the identical WITH RECURSIVE in
# DuckDB. Scale note: each recursion step is one self-join — depth
# O(log n) for this tree; recursion on general graphs needs the
# iterative operators (q86/q127/q185) instead, where cycle handling and
# checkpointing are explicit.
# ---------------------------------------------------------------------------

_Q208_SQL = """
    WITH RECURSIVE walk(c_custkey, c_acctbal, depth) AS (
      SELECT c_custkey, c_acctbal, 0 FROM customer WHERE c_custkey = 1
      UNION ALL
      SELECT c.c_custkey, c.c_acctbal, w.depth + 1
      FROM customer c JOIN walk w ON c.c_custkey // 2 = w.c_custkey
    )
    SELECT depth, COUNT(*) AS n_customers,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total_balance
    FROM walk
    GROUP BY depth
    ORDER BY depth
"""


@register(
    "q208_recursive_hierarchy",
    oracle=_Q208_SQL,
    category="relational",
)
def q208_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_testdata(spark, sf_dir)
    # Spark spells integer division `div`, DuckDB `//` — same SQL otherwise
    return spark.sql(_Q208_SQL.replace("//", "div"))


# ---------------------------------------------------------------------------
# q209 — collation-aware grouping (Spark 4 collations): a mixed-case
# segment label grouped under UTF8_LCASE merges case variants WITHOUT
# rewriting the data through lower() — the collation rides the type, so
# every comparison/join/group downstream inherits it. The oracle models
# the same semantics with explicit lower(); the output canonicalizes the
# group key the same way on both engines (collated GROUP BY returns an
# arbitrary case representative, so the canonical form is what's stable).
# ---------------------------------------------------------------------------


@register(
    "q209_collated_grouping",
    oracle=f"""
    WITH mixed AS (
      SELECT CASE WHEN c_custkey % 2 = 0
                  THEN upper(c_mktsegment)
                  ELSE lower(c_mktsegment) END AS seg,
             c_acctbal
      FROM customer
    )
    SELECT lower(seg) AS segment,
           COUNT(*) AS n_customers,
           {sql_exact_sum_fixed('c_acctbal', 2)} AS total_balance
    FROM mixed
    GROUP BY lower(seg)
    ORDER BY segment
    """,
    category="relational",
)
def q209_collated_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    mixed = c.select(
        F.when(
            F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment")
        )
        .otherwise(F.lower("c_mktsegment"))
        .alias("seg"),
        "c_acctbal",
    )
    collated = mixed.select(
        F.expr("seg COLLATE UTF8_LCASE").alias("seg_ci"), "c_acctbal"
    )
    return (
        collated.groupBy("seg_ci")
        .agg(
            F.count("*").alias("n_customers"),
            exact_sum_fixed("c_acctbal", 2, "total_balance"),
        )
        # the group representative's case is engine-internal; canonicalize
        .select(
            F.lower(F.col("seg_ci").cast("string")).alias("segment"),
            "n_customers",
            "total_balance",
        )
        .orderBy("segment")
    )
