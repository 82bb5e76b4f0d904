"""Deterministic rotating oracle sample over the driver-window gap
(r10 verdict ask #7).

The driver's per-round correctness window repeats mostly the same ~50
queries; the rest of the registry is covered by full sweeps but never by
a driver window. This script closes the gap from the builder's side: it
computes the set of registered queries that have NEVER appeared in any
CORRECTNESS_r*.json, orders it deterministically, takes a 15-query slice
that ROTATES with the round number (slice k = round - 1, wrapping), and
runs the driver-style oracle comparison on that slice. Three rounds cover
~45 tail queries; the chosen names + results go into PERF.md's round
summary so the judge can see which tail slice each round certified.

Usage: python scripts/rotating_sample.py ROUND [--sf DIR] [--n N]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_feature_demo_spark.plans import REGISTRY  # noqa: E402
from hive_feature_demo_spark.session import get_spark  # noqa: E402
from tests.oracle import compare, duckdb_con  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def windowed_names() -> set[str]:
    seen: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        try:
            with open(path) as fh:
                seen.update(json.load(fh).keys())
        except (OSError, ValueError):
            pass
    return seen


def sample_for_round(round_no: int, n: int = 15) -> list[str]:
    tail = sorted(set(REGISTRY) - windowed_names())
    if not tail:
        return []
    start = ((round_no - 1) * n) % len(tail)
    picked = tail[start : start + n]
    if len(picked) < n:  # wrap
        picked += tail[: n - len(picked)]
    return picked


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    n = 15
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    if "--n" in argv:
        i = argv.index("--n")
        n = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    round_no = int(argv[0])
    names = sample_for_round(round_no, n)
    print(f"round {round_no} rotating sample ({len(names)}):")
    for nm in names:
        print(" ", nm)
    spark = get_spark()
    con = duckdb_con(sf_dir)
    failed = 0
    for name in names:
        q = REGISTRY[name]
        t0 = time.time()
        df = q.fn(spark, sf_dir)
        problems = compare(df, con, q.oracle)
        dt = time.time() - t0
        if problems:
            failed += 1
            print(f"{name}: FAIL ({dt:.1f}s)")
            for p in problems:
                print("   ", p[:500])
        else:
            print(f"{name}: ok ({dt:.1f}s)")
    print(f"sample result: {len(names) - failed}/{len(names)} pass")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
