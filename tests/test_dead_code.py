"""Dead-code guard: every module-level function or class of the package is
referenced by name somewhere — in the package itself, the benchmark
(``perfbench/``), the tests, the bench scripts or the two entry points —
and every module-level constant is read somewhere there.

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


def _referrer_files():
    for rel in REFERRERS:
        path = os.path.join(ROOT, rel)
        if os.path.exists(path):
            yield from _py_files(path)


def _referenced_names() -> collections.Counter:
    refs: collections.Counter = collections.Counter()
    for f in _referrer_files():
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


def _loaded_names() -> collections.Counter:
    refs: collections.Counter = collections.Counter()
    for f in _referrer_files():
        for n in ast.walk(_parse(f)):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                refs[n.id] += 1
            elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
                refs[n.attr] += 1
    return refs


def test_every_package_constant_is_referenced():
    """Every module-level assignment of the package is read somewhere: a
    name that is only stored (or only imported) is dead."""
    refs = _loaded_names()
    dead = []
    for f in _py_files(PKG):
        for top in _parse(f).body:
            if isinstance(top, ast.Assign):
                targets = top.targets
            elif isinstance(top, ast.AnnAssign):
                targets = [top.target]
            else:
                continue
            for t in targets:
                for n in ast.walk(t):
                    if (
                        isinstance(n, ast.Name)
                        and not n.id.startswith("__")
                        and not refs[n.id]
                    ):
                        dead.append(f"{os.path.relpath(f, ROOT)}:{top.lineno} {n.id}")
    assert not dead, "constants nothing reads:\n" + "\n".join(dead)
