"""Static check: no module of the package imports a name it never uses.

Stdlib only (`ast`): a name bound by `import` / `from ... import` at any
depth must be read somewhere in the same module.  `from __future__`
imports are exempt."""

import ast
import pathlib

import closure_html_spark

PKG = pathlib.Path(closure_html_spark.__file__).parent


def unused_imports(source: str) -> list[str]:
    tree = ast.parse(source)
    bound = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [(a.asname or a.name).split(".")[0] for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            names = [a.asname or a.name for a in node.names if a.name != "*"]
        else:
            continue
        for name in names:
            bound.setdefault(name, node.lineno)
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [f"{name} (line {line})" for name, line in sorted(bound.items())
            if name not in used]


def test_checker_flags_unused_and_keeps_used():
    src = ("from __future__ import annotations\n"
           "import os, re\n"
           "from x import (a,\n    b as c)\n"
           "def f():\n    import json\n    return re.compile(c)\n")
    assert unused_imports(src) == ["a (line 3)", "json (line 6)",
                                   "os (line 2)"]


def test_package_has_no_unused_imports():
    found = {}
    for path in sorted(PKG.rglob("*.py")):
        bad = unused_imports(path.read_text())
        if bad:
            found[str(path.relative_to(PKG))] = bad
    assert found == {}
