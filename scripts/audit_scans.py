"""Registry-wide scan-pruning audit (guide §6): for every registered
query, parse the formatted physical plan's `Scan parquet` nodes and
report ReadSchema width vs the table's on-disk width, plus whether any
filter was pushed. Flags scans that read every column of a wide table —
the signature of an opaque operation (UDF boundary, select("*")) that
defeats column pruning and, at 100 TB, multiplies scan bytes.

Usage: python scripts/audit_scans.py [--sf DIR] [--min-width N]
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_feature_demo_spark.catalog import parquet_schema  # noqa: E402
from hive_feature_demo_spark.plans import REGISTRY  # noqa: E402
from hive_feature_demo_spark.plans.segment import FANS_PARQUET  # noqa: E402
from hive_feature_demo_spark.session import get_spark  # noqa: E402

# formatted-plan node headers: "(N) NodeName". The details section lists one
# such block per operator; a scan's Location/PushedFilters/ReadSchema lines
# all live inside its own block, so the parse FIRST slices the plan into
# per-scan chunks and only then matches fields within each chunk (r12
# ADVICE: the old single multi-line regex could walk past a non-matching
# node into its neighbor and misattribute fields).
_ANY_NODE_RE = re.compile(r"^\(\d+\) ", re.M)
_SCAN_NODE_RE = re.compile(r"^\(\d+\) Scan parquet\b", re.M)
_LOC_TABLE_RE = re.compile(r"/(\w+)\.parquet[\],/]")


def _scan_chunks(plan: str):
    """Yield the details-section text of each `Scan parquet` node."""
    headers = [m.start() for m in _ANY_NODE_RE.finditer(plan)]
    for m in _SCAN_NODE_RE.finditer(plan):
        start = m.start()
        following = [h for h in headers if h > start]
        yield plan[start : following[0] if following else len(plan)]


def _top_level_fields(schema: str) -> int:
    """Number of TOP-LEVEL fields in a ReadSchema struct body (r12 ADVICE:
    counting ':' overcounts nested struct/map members; commas are counted
    only at bracket depth 0, so decimal(12,2) / struct<...> / map<...>
    internals don't inflate the width)."""
    depth = 0
    n_commas = 0
    has_content = False
    for ch in schema:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            n_commas += 1
        elif not ch.isspace():
            has_content = True
    return n_commas + 1 if has_content else 0


def table_widths(sf_dir: str) -> dict[str, int]:
    """Top-level column count of every ``<table>.parquet`` in ``sf_dir``
    plus ``fans`` (data/fans.parquet), from the footer schema the engine
    reads them under (``catalog.parquet_schema``)."""
    paths = {f[: -len(".parquet")]: os.path.join(sf_dir, f)
             for f in os.listdir(sf_dir) if f.endswith(".parquet")}
    paths["fans"] = FANS_PARQUET
    return {t: len(parquet_schema(p)) for t, p in sorted(paths.items())}


def full_width_scans(
    plan: str, widths: dict[str, int], min_width: int
) -> list[tuple[str, int, int, str]]:
    """(table, read_cols, table_cols, pushed) for each scan of a
    ``min_width``-plus-column table that reads EVERY column.

    A scan whose Location names no table in ``widths`` (a scratch round
    trip) is skipped; one that names several tables raises, since no
    single width applies to it."""
    out = []
    for chunk in _scan_chunks(plan):
        loc = re.search(r"^Location: .*$", chunk, re.M)
        tables = set(_LOC_TABLE_RE.findall(loc.group(0) + ",")) if loc else set()
        if not tables & set(widths):
            continue
        if len(tables) > 1:
            raise ValueError(f"scan Location names several tables: {sorted(tables)}")
        table = next(iter(tables))
        pushed_m = re.search(r"^PushedFilters: (\[.*\])", chunk, re.M)
        pushed = pushed_m.group(1) if pushed_m else "[]"
        # greedy to the LAST '>' on the line so nested structs don't
        # truncate the captured schema body
        schema_m = re.search(r"^ReadSchema: struct<(.*)>\s*$", chunk, re.M)
        ncols = _top_level_fields(schema_m.group(1)) if schema_m else 0
        w = widths.get(table)
        if w and ncols >= w and w >= min_width:
            out.append((table, ncols, w, pushed))
    return out


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.001"
    if "--sf" in argv:
        sf_dir = argv[argv.index("--sf") + 1]
    min_width = 8
    if "--min-width" in argv:
        min_width = int(argv[argv.index("--min-width") + 1])

    spark = get_spark(app_name="audit-scans")
    widths = table_widths(sf_dir)
    print(f"table widths: {widths}")

    full_width = Counter()
    offenders: list[tuple[str, str, int, int, str]] = []
    errors = 0
    explain_mode = (
        spark._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        try:
            df = q.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(explain_mode)
        except Exception as exc:  # noqa: BLE001
            errors += 1
            print(f"{name}: ERROR {type(exc).__name__}: {exc}"[:160])
            continue
        for table, ncols, w, pushed in full_width_scans(plan, widths, min_width):
            full_width[table] += 1
            offenders.append((name, table, ncols, w, pushed[:60]))
    print(f"\nplans audited: {len(REGISTRY)}, errors: {errors}")
    print(f"full-width scans of tables with >= {min_width} columns: {sum(full_width.values())}")
    print(f"by table: {dict(full_width)}")
    for name, table, ncols, w, pushed in offenders:
        print(f"  {name:42s} {table:12s} reads {ncols}/{w} pushed={pushed}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
