"""Registry-vs-DuckDB oracle sweep under the driver's harness.

The driver runs queries in fresh processes on its own bare ``SparkSession``
(none of ``get_spark()``'s confs), so every query must be self-sufficient.
This runner reproduces that: batches of 25 queries, and each ``streaming``
query alone, run in a fresh subprocess on ``SparkSession.builder.master(
"local[N]")``; each query is compared with its DuckDB oracle by
``tests.oracle`` and gets a record shaped like the driver's
CORRECTNESS_r{N}.json (``rows_match``, ``schema_match``, ``hash_match``,
``spark_rows``, ``oracle_rows``, ``err``) plus ``secs``.

``--only PREFIX ...`` keeps names with any prefix; ``--rotate ROUND`` takes
the round's 15-query slice (wrapping) of the names no ``CORRECTNESS_r*.json``
window has covered; the two compose. ``--sf`` defaults to sf0.01, the
driver's correctness scale; ``--out`` writes the summary JSON.

Sweep axes, inherited by every subprocess and recorded in the summary:
``SPARK_GRAFT_ANSI=1`` (ANSI mode), ``SPARK_GRAFT_SHUFFLE_PARTITIONS=N``
(hash-match correctness must be partition-count-invariant), ``TZ=<zone>``
(JVM, Python and DuckDB under a non-UTC host zone) and ``JAVA_TOOL_OPTIONS=
"-Duser.language=tr -Duser.country=TR" LANG=tr_TR.UTF-8`` (Turkish locale).

Usage: python scripts/oracle_sweep.py [--sf DIR] [--out FILE]
       [--only PREFIX ...] [--rotate ROUND]
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from hive_feature_demo_spark.plans import REGISTRY  # noqa: E402
from tests.oracle import compare_counts, duckdb_con  # noqa: E402

BATCH_SIZE = 25
ROTATE_SIZE = 15
#: categories whose state store / watermark behavior makes them the most
#: environment-sensitive — isolated one process per query
ISOLATED_CATEGORIES = {"streaming"}
#: per-query record fields, as in the driver's CORRECTNESS_r{N}.json
FIELDS = ("rows_match", "schema_match", "hash_match", "spark_rows", "oracle_rows", "err")


def parse_args(argv: list[str]) -> dict:
    """Parse the four flags. ``--only`` consumes operands up to the next
    ``--`` token, so it composes with the other flags in either order."""
    args = {"sf_dir": "/root/testdata/sf0.01", "out_path": None, "only": [], "rotate": None}
    if "--sf" in argv:
        args["sf_dir"] = argv[argv.index("--sf") + 1]
    if "--out" in argv:
        args["out_path"] = argv[argv.index("--out") + 1]
    if "--rotate" in argv:
        args["rotate"] = int(argv[argv.index("--rotate") + 1])
    if "--only" in argv:
        i = argv.index("--only") + 1
        while i < len(argv) and not argv[i].startswith("--"):
            args["only"].append(argv[i])
            i += 1
    return args


def windowed_names() -> set[str]:
    """Every query name that appeared in a driver correctness window."""
    seen: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            seen.update(json.load(fh))
    return seen


def rotation_slice(round_no: int) -> list[str]:
    tail = sorted(set(REGISTRY) - windowed_names())
    if not tail:
        return []
    start = ((round_no - 1) * ROTATE_SIZE) % len(tail)
    picked = tail[start : start + ROTATE_SIZE]
    return picked + tail[: ROTATE_SIZE - len(picked)]


def select(only: list[str], rotate: int | None) -> list[str]:
    names = rotation_slice(rotate) if rotate is not None else sorted(REGISTRY)
    return [n for n in names if not only or n.startswith(tuple(only))]


def batches(names: list[str]) -> list[list[str]]:
    isolated = [n for n in names if REGISTRY[n].category in ISOLATED_CATEGORIES]
    grouped = [n for n in names if n not in set(isolated)]
    return [[n] for n in isolated] + [
        grouped[i : i + BATCH_SIZE] for i in range(0, len(grouped), BATCH_SIZE)
    ]


def check(fn, spark, con, sf_dir: str, sql: str) -> dict:
    """One query's CORRECTNESS-shaped record."""
    t0 = time.time()
    rec: dict = dict.fromkeys(FIELDS)
    try:
        problems, spark_rows, oracle_rows = compare_counts(fn(spark, sf_dir), con, sql)
        rec.update(
            rows_match=spark_rows == oracle_rows,
            schema_match=not any(p.startswith("columns differ") for p in problems),
            hash_match=not problems,
            spark_rows=spark_rows,
            oracle_rows=oracle_rows,
            err="; ".join(p[:300] for p in problems) or None,
        )
    except Exception:  # noqa: BLE001 — recorded per query
        rec["err"] = traceback.format_exc()[-1500:]
    rec["secs"] = round(time.time() - t0, 1)
    return rec


def _worker() -> None:
    """Subprocess body: read ``{sf_dir, names, out}`` from stdin, run the
    names on a bare session, write their records to ``out``."""
    job = json.load(sys.stdin)
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from hive_feature_demo_spark.catalog import DEFAULT_SHUFFLE_PARTITIONS

    # deliberately no get_spark confs: that is the point of the harness
    builder = (
        SparkSession.builder.master(f"local[{DEFAULT_SHUFFLE_PARTITIONS}]")
        .appName("oracle-sweep")
        .config("spark.ui.enabled", "false")
    )
    if os.environ.get("SPARK_GRAFT_ANSI", "0") == "1":
        builder = builder.config("spark.sql.ansi.enabled", "true")
    sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if sp:
        builder = builder.config("spark.sql.shuffle.partitions", sp)
    spark = builder.getOrCreate()
    con = duckdb_con(job["sf_dir"])
    queries, oracles = entry.queries(), entry.oracle_sql()
    results = {
        name: check(queries[name], spark, con, job["sf_dir"], oracles[name])
        for name in job["names"]
    }
    with open(job["out"], "w") as fh:
        json.dump(results, fh)


def run_batch(sf_dir: str, names: list[str]) -> dict[str, dict]:
    """Run ``names`` in one fresh subprocess; a crashed process marks every
    name it held as an error."""
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
        tmp = tf.name
    code = f"import sys; sys.path.insert(0, {HERE!r}); import oracle_sweep; oracle_sweep._worker()"
    job = json.dumps({"sf_dir": sf_dir, "names": names, "out": tmp})
    proc = subprocess.run([sys.executable, "-c", code], input=job, capture_output=True, text=True)
    try:
        with open(tmp) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        err = f"batch subprocess rc={proc.returncode}: " + (proc.stderr or proc.stdout)[-600:]
        return {n: {**dict.fromkeys(FIELDS), "err": err} for n in names}
    finally:
        os.unlink(tmp)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sf_dir = args["sf_dir"]
    todo = batches(select(args["only"], args["rotate"]))
    results: dict[str, dict] = {}
    t_start = time.time()
    for bi, batch in enumerate(todo):
        t0 = time.time()
        results.update(run_batch(sf_dir, batch))
        bad = [n for n in batch if not results[n]["hash_match"]]
        label = batch[0] if len(batch) == 1 else f"{batch[0]}..{batch[-1]} ({len(batch)})"
        status = "OK" if not bad else f"{len(bad)} BAD"
        print(f"[{bi + 1}/{len(todo)}] {label}: {status} ({time.time() - t0:.0f}s)", flush=True)
        for n in bad:
            print(f"  {n}: {(results[n]['err'] or '')[:300]}", flush=True)

    n_pass = sum(1 for r in results.values() if r["hash_match"])
    n_err = sum(1 for r in results.values() if r["hash_match"] is None)
    summary = {
        "harness": "bare-session subprocess batches; streaming 1-per-process",
        "ansi": os.environ.get("SPARK_GRAFT_ANSI", "0") == "1",
        "shuffle_partitions": os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or "default",
        # requested host zone and the one that actually applied
        "tz": os.environ.get("TZ") or "host-default",
        "tzname": list(time.tzname),
        "java_tool_options": os.environ.get("JAVA_TOOL_OPTIONS") or "unset",
        "lang": os.environ.get("LANG") or "unset",
        "sf_dir": sf_dir,
        "n_queries": len(results),
        "pass": n_pass,
        "fail": len(results) - n_pass - n_err,
        "err": n_err,
        "total_sec": round(time.time() - t_start, 1),
        "results": results,
    }
    if args["out_path"]:
        with open(args["out_path"], "w") as fh:
            json.dump(summary, fh, indent=2)
    print(
        f"{summary['pass']} pass / {summary['fail']} fail / {summary['err']} err"
        + (f" -> {args['out_path']}" if args["out_path"] else "")
    )
    return 1 if n_pass < len(results) else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
