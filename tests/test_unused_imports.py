"""Static checks: no module of the package imports a name it never uses,
and no function of `spark/relational.py` or `spark/multimodal.py` takes
a parameter it never reads.

Stdlib only (`ast`): a name bound by `import` / `from ... import` at any
depth must be read somewhere in the same module.  `from __future__`
imports are exempt.  The parameter check covers `def` functions only:
lambdas handed to Spark (zip_with, aggregate, transform) must keep the
arity Spark calls them with."""

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


def unused_params(source: str) -> list[str]:
    tree = ast.parse(source)
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        a = fn.args
        params = [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]
        params += [p.arg for p in (a.vararg, a.kwarg) if p is not None]
        read = {n.id for stmt in fn.body for n in ast.walk(stmt)
                if isinstance(n, ast.Name)}
        found += [f"{fn.name}({p}) (line {fn.lineno})"
                  for p in params if p not in read]
    return found


def test_param_checker_flags_unused_and_keeps_used():
    src = ("def f(a, b, *args, c=1, **kw):\n"
           "    g = lambda x, y: x\n"
           "    def h(d):\n        return a + d\n"
           "    return h(c) + g(1, 2) + len(kw)\n")
    assert unused_params(src) == ["f(b) (line 1)", "f(args) (line 1)"]


def test_relational_has_no_unused_params():
    source = (PKG / "spark" / "relational.py").read_text()
    assert unused_params(source) == []


def test_multimodal_has_no_unused_params():
    source = (PKG / "spark" / "multimodal.py").read_text()
    assert unused_params(source) == []
