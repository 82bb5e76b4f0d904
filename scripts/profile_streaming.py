#!/usr/bin/env python
"""Phase-level attribution for the streaming micro-batch paths (r13,
verdict ask #3): where do q69's ~3.2 s go?

Splits one registered streaming query's wall into:

  build      DataFrame construction (no execution, no Spark job)
  run        writeStream start -> processAllAvailable -> stop
  batches    per-micro-batch durationMs + operator breakdown from the
             StreamingQueryProgress history (addBatch / getBatch /
             walCommit / stateOperators commit times)
  readback   the batch read + orderBy of the memory sink table

Usage: python scripts/profile_streaming.py [--sf DIR] [--runs N]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hive_feature_demo_spark.session import get_spark  # noqa: E402
from hive_feature_demo_spark.streaming import ops as sops  # noqa: E402


def profile_q69(spark, sf_dir: str, tag: str) -> dict:
    out: dict = {}
    t0 = time.perf_counter()
    events = sops.events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    joined = sops.click_purchase_join(
        events, horizon="30 minutes", watermark="10 minutes"
    )
    sel = joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "purchase_value",
    )
    out["build_sec"] = round(time.perf_counter() - t0, 3)

    name = f"prof69_{tag}"
    t0 = time.perf_counter()
    sops.run_to_memory(sel, name, output_mode="append")
    out["run_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    n = spark.table(name).orderBy("user_id", "click_id", "purchase_id").count()
    out["readback_sec"] = round(time.perf_counter() - t0, 3)
    out["rows"] = n

    batches = []
    for p in sops.LAST_PROGRESS.get(name, []):
        d = p.get("durationMs", {})
        batches.append(
            {
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                "durationMs": d,
                "state": [
                    {
                        k: o.get(k)
                        for k in (
                            "numRowsTotal",
                            "commitTimeMs",
                            "stateOnCurrentVersionSizeBytes",
                        )
                    }
                    for o in (p.get("stateOperators") or [])
                ],
            }
        )
    out["batches"] = batches
    return out


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    runs = 3
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
    spark = get_spark(app_name="profile-streaming")
    # same warmup as bench.py so run 1 is comparable to in-bench state
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    results = [profile_q69(spark, sf_dir, str(i)) for i in range(runs)]
    print(json.dumps({"sf_dir": sf_dir, "runs": results}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
