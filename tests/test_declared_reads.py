"""Every parquet read in the package declares its schema, so no read
starts a Spark schema-inference job while a plan is built: stored tables
read under their footer schema (``catalog.parquet_schema``), round trips
under the schema they were written with. A ``.parquet(`` call must write
(a ``write``/``writeStream`` chain) or read on a ``read``/``readStream``
chain that sets ``.schema(``; a call whose receiver cannot be told from
the chain (a reader held in a variable) fails too."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _chain(expr) -> list[str]:
    """Attribute names along a method chain, outermost first."""
    names = []
    while isinstance(expr, (ast.Call, ast.Attribute)):
        if isinstance(expr, ast.Call):
            expr = expr.func
        else:
            names.append(expr.attr)
            expr = expr.value
    return names


def undeclared_parquet_reads(source: str) -> list[int]:
    """Line numbers of the ``.parquet(`` calls in ``source`` that are not
    a write and not a read with a declared schema."""
    bad = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"):
            continue
        names = _chain(node.func.value)
        end = next((n for n in names if n in ("read", "readStream", "write", "writeStream")), None)
        if end in ("write", "writeStream"):
            continue
        if end is None or "schema" not in names[: names.index(end)]:
            bad.append(node.lineno)
    return bad


def test_package_parquet_reads_declare_a_schema():
    found = {
        f"{p.relative_to(ROOT).as_posix()}:{line}"
        for p in (ROOT / "hive_feature_demo_spark").rglob("*.py")
        for line in undeclared_parquet_reads(p.read_text())
    }
    assert not found, sorted(found)


def test_undeclared_read_detector():
    """The detector sees inferred reads in every spelling the package has
    used, and passes declared reads and writes."""
    inferred = [
        "spark.read.parquet(p)",
        "spark.read.option('mergeSchema', 'true').parquet(p)",
        "spark.readStream.options(**o).parquet(p)",
        "reader = spark.readStream.schema(s)\nreader.parquet(p)",
    ]
    declared = [
        "spark.read.schema(s).parquet(p)",
        "spark.readStream.options(**o).schema(s).parquet(p)",
        "df.write.mode('append').parquet(p)",
        "df.writeStream.format('parquet').start()",
    ]
    assert all(undeclared_parquet_reads(src) for src in inferred)
    assert not any(undeclared_parquet_reads(src) for src in declared)
