"""The commit protocol exists once: ``dbt_decodable_spark/commit.py`` is
the only package code that renames or replaces a path or names the
``_SUCCESS`` marker. A second copy of any protocol step would be a place
where recovery differs from the crash sweeps' model of it."""

from __future__ import annotations

import ast
import os

import dbt_decodable_spark

PKG = os.path.dirname(dbt_decodable_spark.__file__)


def _docstring_nodes(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add(id(body[0].value))
    return out


def _violations(path: str) -> list[str]:
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    docs = _docstring_nodes(tree)
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("rename", "replace")
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "os"
        ):
            found.append(f"{path}:{node.lineno} os.{node.func.attr}")
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "_SUCCESS" in node.value
            and id(node) not in docs
        ):
            found.append(f"{path}:{node.lineno} '_SUCCESS' literal")
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            names = {a.name for a in node.names}
            if names & {"rename", "replace"}:
                found.append(f"{path}:{node.lineno} from os import")
    return found


def test_only_commit_module_renames_or_checks_markers():
    bad = []
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            p = os.path.join(dirpath, f)
            if f.endswith(".py") and p != os.path.join(PKG, "commit.py"):
                bad += _violations(p)
    assert bad == []


def test_guard_sees_the_commit_module():
    # the walk is not vacuous: the one module it exempts does all three
    found = _violations(os.path.join(PKG, "commit.py"))
    assert any("os.rename" in v for v in found)
    assert any("os.replace" in v for v in found)
    assert any("_SUCCESS" in v for v in found)
