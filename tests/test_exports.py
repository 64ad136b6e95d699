"""Export lists: every package module that declares `__all__` names
each of its public top-level functions and classes in it (Spark-free:
parses the source, imports nothing)."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "flask_data_pipes_spark"


def _declared_all(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    return None


def test_all_names_every_public_def():
    """`plans/` is excluded: its modules hold catalog entries reached
    through the registry, not imports."""
    missing, checked = [], 0
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG)
        if rel.parts[0] == "plans":
            continue
        tree = ast.parse(path.read_text())
        exported = _declared_all(tree)
        if exported is None:
            continue
        checked += 1
        missing += [
            f"{rel}:{node.name}"
            for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and not node.name.startswith("_")
            and node.name not in exported
        ]
    assert checked >= 20, checked
    assert missing == []
