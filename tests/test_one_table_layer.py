"""Structural guard: one table layer per job.

Catalog tables are written only by ``sources/tables.py`` (the
medallion's ``TableIO``); compaction and upserts run only on the Delta
log (``sources/deltalog.py``), never as Delta SQL through a
delta-spark session.  Checked on the package's AST, so docstrings and
comments do not count.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / (
    "lakehouse_alchemy_bronze_to_gold_pipeline_spark"
)

#: SQL a ``spark.sql(...)`` call may not carry: the Delta commands the
#: Delta log replaces (``DeltaLogTable.upsert`` / ``optimize``)
DELTA_SQL = ("MERGE INTO", "OPTIMIZE")


def _strings(node: ast.AST) -> str:
    """All string literal text under ``node`` (f-string parts too)."""
    return " ".join(
        n.value for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    )


def _offenses(rel: str, tree: ast.AST) -> list[tuple[str, str]]:
    out = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Attribute) and n.attr in (
            "saveAsTable", "toTable"
        ) and rel != "sources/tables.py":
            out.append((rel, n.attr))
        name = (
            n.id if isinstance(n, ast.Name)
            else n.attr if isinstance(n, ast.Attribute)
            else n.name if isinstance(n, (ast.FunctionDef, ast.alias))
            else None
        )
        if name == "has_delta":
            out.append((rel, "has_delta"))
        if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
            continue
        if n.func.attr == "format" and [
            a.value for a in n.args if isinstance(a, ast.Constant)
        ] == ["delta"]:
            out.append((rel, 'format("delta")'))
        if n.func.attr == "sql":
            text = " ".join(_strings(a) for a in n.args).upper()
            out.extend((rel, cmd) for cmd in DELTA_SQL if cmd in text)
    return out


def test_one_table_layer_per_job():
    found = sorted({
        hit
        for path in sorted(PKG.rglob("*.py"))
        for hit in _offenses(
            path.relative_to(PKG).as_posix(), ast.parse(path.read_text())
        )
    })
    assert found == [], found
