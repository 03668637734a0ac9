"""Dead-code guard: every module-level function or class of the package is
referenced by name somewhere — in the package itself, the benchmark
(``perfbench/``), the tests, the bench scripts or the two entry points.

A definition's references inside its own body (recursion) do not count.
References are AST names, attribute names and imported names, so an
f-string call counts and a mention in a docstring or comment does not.
"""

from __future__ import annotations

import ast
import collections
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "ta2_minmod_kg_spark")
REFERRERS = (
    "ta2_minmod_kg_spark",
    "perfbench",
    "tests",
    "bench.py",
    "bench_extra.py",
    "run_pipeline.py",
    "__spark_entry__.py",
)
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _py_files(path: str):
    if os.path.isfile(path):
        yield path
        return
    for d, _, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _referenced_names() -> collections.Counter:
    refs: collections.Counter = collections.Counter()
    for rel in REFERRERS:
        path = os.path.join(ROOT, rel)
        if not os.path.exists(path):
            continue
        for f in _py_files(path):
            for top in _parse(f).body:
                own = top.name if isinstance(top, DEFS) else None
                for n in ast.walk(top):
                    if isinstance(n, ast.Name):
                        name = n.id
                    elif isinstance(n, ast.Attribute):
                        name = n.attr
                    elif isinstance(n, ast.alias):
                        name = n.name.rsplit(".", 1)[-1]
                    else:
                        continue
                    if name != own:
                        refs[name] += 1
    return refs


def test_every_package_definition_is_referenced():
    refs = _referenced_names()
    dead = [
        f"{os.path.relpath(f, ROOT)}:{top.lineno} {top.name}"
        for f in _py_files(PKG)
        for top in _parse(f).body
        if isinstance(top, DEFS) and not refs[top.name]
    ]
    assert not dead, "definitions nothing references:\n" + "\n".join(dead)
