"""No function in the package imports a name it never uses. Function-local
imports are common here (heavy optional modules load only with the query
that needs them), and an unused one survives every edit of the function
body; ruff and pyflakes are not dependencies, so this walks the AST."""

from __future__ import annotations

import ast
import pathlib

import data_integration_project_spark

PACKAGE = pathlib.Path(data_integration_project_spark.__file__).parent


def _used_names(fn: ast.AST) -> set[str]:
    """Names a function body reads, including names inside string
    annotations such as ``"pd.DataFrame"``."""
    used = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.arg | ast.FunctionDef | ast.AsyncFunctionDef):
            ann = node.annotation if isinstance(node, ast.arg) else node.returns
            if isinstance(ann, ast.Constant) and isinstance(ann.value, str):
                used |= {
                    n.id for n in ast.walk(ast.parse(ann.value, mode="eval"))
                    if isinstance(n, ast.Name)
                }
    return used


def _unused_local_imports(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text(encoding="utf-8"))
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef | ast.AsyncFunctionDef):
            continue
        used = _used_names(fn)
        # imports in nested functions are checked with those functions
        nested = {
            id(n)
            for inner in ast.walk(fn)
            if inner is not fn and isinstance(inner, ast.FunctionDef | ast.AsyncFunctionDef)
            for n in ast.walk(inner)
        }
        for node in ast.walk(fn):
            if id(node) in nested or not isinstance(node, ast.Import | ast.ImportFrom):
                continue
            for alias in node.names:
                bound = alias.asname or alias.name.split(".")[0]
                if bound != "*" and bound not in used:
                    found.append(f"{path.relative_to(PACKAGE)}:{node.lineno} {fn.name}: {bound}")
    return found


def test_no_unused_function_local_imports():
    found = [hit for p in sorted(PACKAGE.rglob("*.py")) for hit in _unused_local_imports(p)]
    assert found == [], "\n".join(found)
