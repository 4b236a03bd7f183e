"""Every top-level ``def`` and ``class`` under ``dedoc_spark/`` is named
somewhere other than its own body: in the package, the tests, the
scripts, perfbench, ``bench*.py`` or ``__spark_entry__.py``. A helper
nothing names is dead code; delete it rather than keep it in step.

A name counts wherever it appears as an identifier, an attribute, an
imported name or a word inside a string literal (Spark UDF and query
tables look functions up by string)."""

from __future__ import annotations

import ast
import glob
import os
import re
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _sources():
    patterns = [
        "dedoc_spark/**/*.py",
        "tests/**/*.py",
        "scripts/**/*.py",
        "perfbench/**/*.py",
        "bench*.py",
        "__spark_entry__.py",
    ]
    for pattern in patterns:
        yield from sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True))


def _names(node):
    """Every name ``node`` mentions."""
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            yield sub.id
        elif isinstance(sub, ast.Attribute):
            yield sub.attr
        elif isinstance(sub, ast.alias):
            yield from sub.name.split(".")
        elif isinstance(sub, ast.Constant) and isinstance(sub.value, str):
            yield from _WORD.findall(sub.value)


def test_every_package_definition_is_named_elsewhere():
    defined = []  # (relative path, name)
    users = defaultdict(set)  # name -> {(path, enclosing top-level def or None)}
    for path in _sources():
        rel = os.path.relpath(path, ROOT)
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=rel)
        for stmt in tree.body:
            owner = None
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                owner = stmt.name
                if rel.startswith("dedoc_spark" + os.sep):
                    defined.append((rel, stmt.name))
            for name in _names(stmt):
                users[name].add((rel, owner))
    unnamed = [
        f"{rel}:{name}"
        for rel, name in defined
        if not any(use != (rel, name) for use in users[name])
    ]
    assert not unnamed, f"defined but never named elsewhere: {unnamed}"
