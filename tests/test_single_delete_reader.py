"""Guard: outstanding deletes are applied by one reader. ``mor_scan`` (the
eq-delete join) is called only from ``IceliteTable.rewrite_reader``; every
other read that must see only live rows — scan, row DML, MERGE, compaction,
clustering — goes through that reader, so no hand-built copy of the
delete-application logic can drift and resurrect deleted rows.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "lakehouse_benchmark_ingestion_spark")


def _top_level_defs(tree: ast.Module):
    """(qualified name, node) of every module function and class method."""
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            yield node.name, node
        elif isinstance(node, ast.ClassDef):
            for item in node.body:
                if isinstance(item, ast.FunctionDef):
                    yield f"{node.name}.{item.name}", item


def _mor_scan_calls() -> list[str]:
    """``file:function`` once per call of ``mor_scan`` in the package."""
    calls = []
    for root, _dirs, names in os.walk(PKG):
        for name in sorted(names):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for qual, fn in _top_level_defs(tree):
                for node in ast.walk(fn):
                    if not isinstance(node, ast.Call):
                        continue
                    f = node.func
                    called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                    if called == "mor_scan":
                        calls.append(f"{os.path.relpath(path, PKG)}:{qual}")
    return calls


def test_mor_scan_is_called_only_by_rewrite_reader():
    assert _mor_scan_calls() == ["icelite/table.py:IceliteTable.rewrite_reader"]
