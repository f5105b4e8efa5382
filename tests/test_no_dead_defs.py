"""Static gate: every top-level def and class in the package is used.

Pure AST, no Spark.  A package-level function or class counts as used
when its name appears as a name, an attribute or an imported name in
the package, ``bench.py``, ``plans/``, ``perfbench/``,
``__spark_entry__.py`` or ``tests/``.  Its own definition does not
count, nor does an ``__init__`` re-export (an ``import`` in a
package ``__init__.py``): a re-export keeps a name reachable, not used.
A query counts as used through its ``@register`` decorator, which is
how the driver contract reaches it.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "ingest_pipeline_spark")
USERS = ("ingest_pipeline_spark", "bench.py", "plans", "perfbench",
         "__spark_entry__.py", "tests")


def _py_files(rel: str) -> list[str]:
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".py")
    )


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _is_register(dec: ast.expr) -> bool:
    node = dec.func if isinstance(dec, ast.Call) else dec
    name = node.id if isinstance(node, ast.Name) else getattr(node, "attr", "")
    return name == "register"


def _defs() -> dict[str, str]:
    """name -> defining file, for every unregistered top-level def."""
    out = {}
    for path in _py_files("ingest_pipeline_spark"):
        for node in _parse(path).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            if any(_is_register(d) for d in node.decorator_list):
                continue
            out[node.name] = os.path.relpath(path, ROOT)
    return out


def _references() -> set[str]:
    refs: set[str] = set()
    for rel in USERS:
        for path in _py_files(rel):
            reexports = os.path.basename(path) == "__init__.py" and (
                path.startswith(PKG + os.sep)
            )
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Name):
                    refs.add(node.id)
                elif isinstance(node, ast.Attribute):
                    refs.add(node.attr)
                elif isinstance(node, (ast.Import, ast.ImportFrom)):
                    if not reexports:
                        refs.update(
                            a.name.rsplit(".", 1)[-1] for a in node.names
                        )
    return refs


def test_every_package_def_is_referenced():
    refs = _references()
    dead = sorted(
        f"{path}:{name}" for name, path in _defs().items() if name not in refs
    )
    assert not dead, "defs nothing references:\n" + "\n".join(dead)
