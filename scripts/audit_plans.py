"""Registry-wide physical-plan anti-pattern audit (r12).

For every registered query's plan (built at a small SF, never executed)
it reports the shapes that hurt at 100 TB:

- ``cartesian``: CartesianProduct nodes, classified ``scalar`` when either
  input subtree is a global aggregate (``HashAggregate(keys=[]`` -> 1 row,
  the broadcast-scalar idiom) and ``review`` otherwise;
- ``bnlj``: BroadcastNestedLoopJoin nodes, same scalar classification on
  the build side (a broadcast 1-row/limit side is the idiom; a big
  broadcast side is a bug);
- ``smj_dim``: SortMergeJoin nodes where one side's subtree scans ONLY
  dimension tables (region/nation/supplier/customer/part) — at any SF
  those sides are orders of magnitude smaller than the fact side and
  should broadcast (AQE may fix it at runtime; the audit shows where we
  rely on that);
- ``nested_exchange``: an Exchange whose subtree contains another Exchange
  over the SAME normalized keys with only partitioning-preserving unary
  nodes (Project/Filter/Sort) between them — a redundant shuffle;
- ``expand``: Expand nodes, each with its immediate ``child``, the
  ``joins_below`` it and a ``kind``: ``grouping_sets`` (rollup/cube/grouping
  sets NEED the Expand), ``count_distinct`` (a rewrite candidate when a fact
  join feeds it) or ``other``. Catalyst never pushes aggregates below joins,
  so an Expand over joined fact rows pays its xN on every joined row; a
  HashAggregate child means it multiplies bounded pre-aggregated rows;
- ``n_exchange`` / ``n_smj`` / ``n_sort``: census counts for the PERF.md
  top-offenders table.

Usage: python scripts/audit_plans.py [--sf DIR] [--out FILE] [names...]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_feature_demo_spark.plans import REGISTRY  # noqa: E402
from hive_feature_demo_spark.session import get_spark  # noqa: E402

DIM_TABLES = ("region", "nation", "supplier", "customer", "part")
FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")
# unary nodes that preserve hash partitioning between two Exchanges
_PARTITIONING_PRESERVING = (
    "Project",
    "Filter",
    "Sort",
    "ColumnarToRow",
    "InputAdapter",
    "WholeStageCodegen",
    "Coalesce",
)


def _node_depth(line: str) -> int | None:
    stripped = line.rstrip()
    if not stripped:
        return None
    i = 0
    while i < len(stripped) and stripped[i] in " :+-":
        i += 1
    if i >= len(stripped):
        return None
    return i


def _parse_nodes(plan: str) -> list[dict]:
    """Flatten a simple-mode plan into [{idx, depth, name, body}]."""
    nodes = []
    for idx, line in enumerate(plan.splitlines()):
        d = _node_depth(line)
        if d is None:
            continue
        body = line[d:].lstrip("*(0123456789) ")
        name = re.split(r"[\s(\[]", body, 1)[0]
        if not name:
            continue
        nodes.append({"idx": idx, "depth": d, "name": name, "body": body})
    return nodes


def _subtree(nodes: list[dict], i: int) -> list[dict]:
    """Nodes strictly below nodes[i] (deeper depth until the tree closes)."""
    d = nodes[i]["depth"]
    out = []
    for n in nodes[i + 1 :]:
        if n["depth"] <= d:
            break
        out.append(n)
    return out


def _children(nodes: list[dict], i: int) -> list[int]:
    """Indices (into the subtree list) of nodes[i]'s immediate children:
    subtree nodes at the minimal depth below nodes[i]."""
    sub = _subtree(nodes, i)
    if not sub:
        return []
    dmin = min(n["depth"] for n in sub)
    return [j for j, n in enumerate(sub) if n["depth"] == dmin]


def _child_subtrees(nodes: list[dict], i: int) -> list[list[dict]]:
    sub = _subtree(nodes, i)
    anchors = _children(nodes, i)
    trees = []
    for k, a in enumerate(anchors):
        end = anchors[k + 1] if k + 1 < len(anchors) else len(sub)
        trees.append(sub[a:end])
    return trees


_UNARY_PASSTHROUGH = (
    "Project",
    "Filter",
    "Sort",
    "ColumnarToRow",
    "InputAdapter",
    "WholeStageCodegen",
    "BroadcastExchange",
    "Exchange",
    "AQEShuffleRead",
    "ReusedExchange",
)


def _is_scalar_subtree(tree: list[dict]) -> bool:
    """True when the subtree is bounded by construction: a global
    aggregate / 1-row limit / literal relation reached through unary
    pass-through nodes, or a subtree whose ONLY leaves are literal
    relations (LocalTableScan / Range) — e.g. a createDataFrame grid."""
    for n in tree[:10]:
        if n["name"].startswith("HashAggregate") and "keys=[]" in n["body"]:
            return True
        if n["name"].startswith(("GlobalLimit", "LocalLimit")) and re.match(
            r"(Global|Local)Limit \d+\b", n["body"]
        ):
            return True
        if n["name"] == "Scan" and "OneRowRelation" in n["body"]:
            return True
    scans = [
        n
        for n in tree
        if n["name"].startswith(("Scan", "FileScan", "LocalTableScan", "Range"))
    ]
    if scans and all(
        n["name"].startswith(("LocalTableScan", "Range"))
        or "OneRowRelation" in n["body"]
        or "ExistingRDD" in n["body"]  # createDataFrame literal relation
        for n in scans
    ):
        return True
    return False


def _tables_in(tree: list[dict]) -> set[str]:
    tabs: set[str] = set()
    for n in tree:
        if "Scan" not in n["name"] and not n["name"].startswith("FileScan"):
            continue
        for t in DIM_TABLES + FACT_TABLES:
            if re.search(rf"\b{t}\b", n["body"]):
                tabs.add(t)
    return tabs


_KEY_RE = re.compile(r"hashpartitioning\(([^)]*)\)")


def _exchange_keys(body: str) -> str | None:
    m = _KEY_RE.search(body)
    if not m:
        return None
    cols = re.findall(r"(\w+)#\d+", m.group(1))
    return ",".join(sorted(set(cols))) if cols else None


def _expand_kind(body: str) -> str:
    """Classify an Expand by the attribute its rule appends to each
    projection: ``spark_grouping_id`` (ResolveGroupingAnalytics) or ``gid``
    (RewriteDistinctAggregates)."""
    if "spark_grouping_id#" in body:
        return "grouping_sets"
    if re.search(r"\bgid#\d+", body):
        return "count_distinct"
    return "other"


def _audit_plan(plan: str) -> dict:
    nodes = _parse_nodes(plan)
    res: dict = {
        "cartesian": [],
        "bnlj": [],
        "smj_dim": [],
        "nested_exchange": [],
        "expand": [],
        "n_exchange": 0,
        "n_smj": 0,
        "n_sort": 0,
    }
    for i, n in enumerate(nodes):
        name = n["name"]
        if name.startswith("Exchange"):
            res["n_exchange"] += 1
            keys = _exchange_keys(n["body"])
            if keys:
                blockers = 0
                for m in _subtree(nodes, i):
                    if m["name"].startswith("Exchange"):
                        if _exchange_keys(m["body"]) == keys and blockers == 0:
                            res["nested_exchange"].append(
                                {"keys": keys, "outer": n["body"][:120]}
                            )
                        break
                    if not m["name"].startswith(_PARTITIONING_PRESERVING):
                        blockers += 1
        elif name.startswith("SortMergeJoin"):
            res["n_smj"] += 1
            sides = _child_subtrees(nodes, i)
            for s, tree in enumerate(sides):
                tabs = _tables_in(tree)
                if tabs and tabs <= set(DIM_TABLES):
                    res["smj_dim"].append(
                        {
                            "side": s,
                            "tables": sorted(tabs),
                            "join": n["body"][:120],
                        }
                    )
        elif name.startswith("CartesianProduct"):
            sides = _child_subtrees(nodes, i)
            scalar = any(_is_scalar_subtree(t) for t in sides)
            res["cartesian"].append(
                {
                    "class": "scalar" if scalar else "review",
                    "children": [t[0]["name"] if t else "?" for t in sides],
                }
            )
        elif name.startswith("BroadcastNestedLoopJoin"):
            sides = _child_subtrees(nodes, i)
            # the broadcast side subtree starts with BroadcastExchange/
            # BroadcastQueryStage; scalar there is the idiom
            bcast = [
                t
                for t in sides
                if t and t[0]["name"].startswith(("BroadcastExchange", "ReusedExchange"))
            ]
            scalar = any(_is_scalar_subtree(t[1:] or t) for t in bcast) or any(
                _is_scalar_subtree(t) for t in sides
            )
            res["bnlj"].append(
                {
                    "class": "scalar" if scalar else "review",
                    "children": [t[0]["name"] if t else "?" for t in sides],
                }
            )
        elif name.startswith("Expand"):
            sub = _subtree(nodes, i)
            res["expand"].append(
                {
                    "kind": _expand_kind(n["body"]),
                    "child": sub[0]["name"] if sub else None,
                    "joins_below": [m["name"] for m in sub if "Join" in m["name"]],
                }
            )
        elif name.startswith("Sort"):
            res["n_sort"] += 1
    return res


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.001"
    out_file = None
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    if "--out" in argv:
        i = argv.index("--out")
        out_file = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    names = argv or sorted(REGISTRY)
    spark = get_spark()
    explain_mode = spark._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    results: dict[str, dict] = {}
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(explain_mode)
            results[name] = _audit_plan(plan)
        except Exception as exc:
            results[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}

    flagged: dict[str, list[str]] = {}
    for name, r in sorted(results.items()):
        if r.get("error"):
            flagged.setdefault(name, []).append("ERROR " + r["error"])
            continue
        for c in r["cartesian"]:
            if c["class"] == "review":
                flagged.setdefault(name, []).append(
                    f"cartesian(review) children={c['children']}"
                )
        for c in r["bnlj"]:
            if c["class"] == "review":
                flagged.setdefault(name, []).append(
                    f"bnlj(review) children={c['children']}"
                )
        for c in r["smj_dim"]:
            flagged.setdefault(name, []).append(
                f"smj dim-side={c['tables']} {c['join'][:80]}"
            )
        for c in r["nested_exchange"]:
            flagged.setdefault(name, []).append(f"nested_exchange keys={c['keys']}")
        for c in r["expand"]:
            flagged.setdefault(name, []).append(
                f"expand kind={c['kind']} child={c['child']} joins_below={c['joins_below']}"
            )

    census = sorted(
        (
            (r.get("n_exchange", 0), r.get("n_smj", 0), n)
            for n, r in results.items()
            if not r.get("error")
        ),
        reverse=True,
    )
    summary = {
        "sf_dir": sf_dir,
        "total": len(results),
        "flagged": flagged,
        "errors": sorted(n for n, r in results.items() if r.get("error")),
        "top_exchanges": [
            {"name": n, "n_exchange": e, "n_smj": s} for e, s, n in census[:15]
        ],
        "results": results,
    }
    if out_file:
        with open(out_file, "w") as fh:
            json.dump(summary, fh, indent=1)
    print(f"audited {len(results)} plans, {len(flagged)} flagged:")
    for name, items in sorted(flagged.items()):
        for it in items:
            print(f"  {name}: {it}")
    print("top exchange counts:")
    for e, s, n in census[:15]:
        print(f"  {n}: exchanges={e} smj={s}")
    return 0


if __name__ == "__main__":
    main()
