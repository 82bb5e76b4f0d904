"""Simulate the driver's harness: run the query registry on a VANILLA session.

The driver builds its own ``SparkSession`` without any of ``get_spark()``'s
confs, so every query must be self-sufficient (catalog.ensure_session_confs
is the mechanism). This script reproduces that environment: a bare
``SparkSession.builder.master("local[N]").getOrCreate()`` plus the same
DuckDB-oracle comparison used by the driver, over ALL registered queries.

Usage:  python scripts/bare_session_check.py [sf_dir] [only_query_prefix ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json-out" in argv:
        i = argv.index("--json-out")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = argv[1:]

    import __spark_entry__ as entry
    from hive_feature_demo_spark.catalog import DEFAULT_SHUFFLE_PARTITIONS
    from tests import oracle

    # Deliberately NO confs here — this is the point of the simulation.
    # Exception: SPARK_GRAFT_ANSI=1 runs the same harness with
    # spark.sql.ansi.enabled=true (r7 verdict ask #4: the default-mode
    # suite can't see ANSI hazards like arithmetic wraps or implicit-cast
    # strictness; this flag makes an ANSI sweep one env var away).
    builder = (
        SparkSession.builder.master(f"local[{DEFAULT_SHUFFLE_PARTITIONS}]")
        .appName("bare-session-check")
        .config("spark.ui.enabled", "false")
    )
    if os.environ.get("SPARK_GRAFT_ANSI", "0") == "1":
        builder = builder.config("spark.sql.ansi.enabled", "true")
    # SPARK_GRAFT_SHUFFLE_PARTITIONS forces a non-default partition count
    # (r8 verdict ask #6): hash-match correctness must be
    # partition-count-invariant — the determinism rules (integer-space
    # math, sorted collections) promise it, this flag sweeps it.
    sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if sp:
        builder = builder.config("spark.sql.shuffle.partitions", sp)
    spark = builder.getOrCreate()
    con = oracle.duckdb_con(sf_dir)
    queries = entry.queries()
    oracles = entry.oracle_sql()

    results: dict[str, dict] = {}
    n_pass = n_fail = n_err = 0
    for name, fn in sorted(queries.items()):
        if only and not any(name.startswith(p) for p in only):
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            problems = oracle.compare(df, con, oracles[name])
            if not problems:
                n_pass += 1
                results[name] = {"status": "pass"}
            else:
                n_fail += 1
                results[name] = {"status": "FAIL", "msg": "; ".join(problems)[:500]}
        except Exception:
            n_err += 1
            results[name] = {"status": "ERR", "err": traceback.format_exc()[-800:]}
        results[name]["sec"] = round(time.time() - t0, 2)
        tag = results[name]["status"]
        if tag != "pass":
            print(f"  {name}: {tag} {results[name].get('msg', results[name].get('err', ''))[:300]}")
        else:
            print(f"  {name}: pass ({results[name]['sec']}s)")

    print(
        json.dumps(
            {
                "pass": n_pass,
                "fail": n_fail,
                "err": n_err,
                "sf_dir": sf_dir,
                "tz": os.environ.get("TZ") or "host-default",
            }
        )
    )
    if json_out:
        with open(json_out, "w") as f:
            json.dump(results, f, indent=2)
    bad = {k: v for k, v in results.items() if v["status"] in ("FAIL", "ERR")}
    if bad:
        with open("/tmp/bare_check_failures.json", "w") as f:
            json.dump(bad, f, indent=2)
        print(f"failures written to /tmp/bare_check_failures.json ({len(bad)})")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
