"""Driver-parity self-check over EVERY registered query, emitted as JSON.

The driver's per-round correctness window covers ~50 queries; this runs the
whole registry at the driver's correctness scale (sf0.01) and writes
SELFCHECK_r{N}.json in the same shape as CORRECTNESS_r{N}.json, so the
never-driver-checked tail can't drift unnoticed (VERDICT r3, item 5).

Usage: python scripts/selfcheck.py [--sf DIR] [--out FILE]
"""

from __future__ import annotations

import json
import sys
import time
import traceback

sys.path.insert(0, ".")

from hive_feature_demo_spark.plans import REGISTRY  # noqa: E402
from hive_feature_demo_spark.session import get_spark  # noqa: E402
from tests.oracle import compare, duckdb_con  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    out_path = "SELFCHECK_r4.json"
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
    spark = get_spark()
    con = duckdb_con(sf_dir)
    results: dict[str, dict] = {}
    n_fail = 0
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        t0 = time.time()
        rec: dict = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            df = q.fn(spark, sf_dir)
            problems = compare(df, con, q.oracle)
            rec.update(
                rows_match=not any("row count" in p for p in problems),
                schema_match=not any("columns differ" in p for p in problems),
                hash_match=not problems,
            )
            if problems:
                n_fail += 1
                rec["err"] = "; ".join(p[:300] for p in problems)
        except Exception:
            n_fail += 1
            rec["err"] = traceback.format_exc()[-1500:]
        rec["secs"] = round(time.time() - t0, 1)
        results[name] = rec
        status = "ok" if rec["hash_match"] else (rec["err"] or "")[:120]
        print(f"{name}: {status} ({rec['secs']}s)", flush=True)
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=2)
    n = len(results)
    print(f"wrote {out_path}: {n - n_fail}/{n} pass")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
