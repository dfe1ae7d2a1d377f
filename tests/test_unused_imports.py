"""Static checks: no module of the package imports a name it never uses,
no function of `spark/relational.py` or `spark/multimodal.py` takes a
parameter it never reads, and no defaulted parameter of the query
modules is a knob that every call leaves at one value.

Stdlib only (`ast`): a name bound by `import` / `from ... import` at any
depth must be read somewhere in the same module.  `from __future__`
imports are exempt.  The parameter check covers `def` functions only:
lambdas handed to Spark (zip_with, aggregate, transform) must keep the
arity Spark calls them with.  The knob check covers the defaulted
parameters of top-level `def`s: some call in the repo's `.py` files
outside `tests/` must pass each one a value whose source text differs
from its default, or the value belongs in a module constant.  A value
that only a test sets is no option; a test patches the constant."""

import ast
import collections
import pathlib

import closure_html_spark

PKG = pathlib.Path(closure_html_spark.__file__).parent
ROOT = pathlib.Path(__file__).resolve().parents[1]
# the modules whose queries, oracle builders and stages the knob check
# covers, relative to ROOT
KNOB_SCOPE = (
    "closure_html_spark/spark/relational.py",
    "closure_html_spark/spark/multimodal.py",
    "closure_html_spark/spark/pages.py",
    "closure_html_spark/spark/pipeline.py",
    "__spark_entry__.py",
)
# defaulted parameters the knob check lets stand with no caller: the
# per-document byte cap of extract_pages is the deployment memory bound
# that SCALE.md's worker-sizing rule is written in
KNOB_EXEMPT = ("extract_pages(max_doc_bytes=",)


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


def single_value_knobs(source: str, call_sources: list[str]) -> list[str]:
    """Defaulted parameters of the top-level defs in `source` that no
    call in `call_sources` passes a value whose source text differs from
    the default.  Calls match by callee name (`f(...)` or `mod.f(...)`),
    positional arguments by position; arguments after a `*args` are not
    counted, nor is a `**kwargs`."""
    passed = collections.defaultdict(set)
    for src in call_sources:
        for call in ast.walk(ast.parse(src)):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", getattr(call.func, "attr", None))
            for i, arg in enumerate(call.args):
                if isinstance(arg, ast.Starred):
                    break
                passed[name, i].add(ast.unparse(arg))
            for kw in call.keywords:
                if kw.arg is not None:
                    passed[name, kw.arg].add(ast.unparse(kw.value))
    found = []
    for fn in ast.parse(source).body:
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        a = fn.args
        pos = a.posonlyargs + a.args
        first = len(pos) - len(a.defaults)
        knobs = [(i, p, d) for i, (p, d)
                 in enumerate(zip(pos[first:], a.defaults), first)]
        knobs += [(p.arg, p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)
                  if d is not None]
        for i, p, d in knobs:
            default = ast.unparse(d)
            values = passed[fn.name, p.arg] | passed[fn.name, i]
            if not values - {default}:
                found.append(f"{fn.name}({p.arg}={default}) (line {fn.lineno})")
    return found


def _call_sources(root: pathlib.Path) -> list[str]:
    """The `.py` files under root whose calls count: none under a dot
    directory or under `tests/`."""
    out = []
    for p in sorted(root.rglob("*.py")):
        parts = p.relative_to(root).parts
        if parts[0] != "tests" and not any(d.startswith(".") for d in parts):
            out.append(p.read_text())
    return out


def test_knob_checker_flags_single_value_defaults(tmp_path):
    src = ("def f(a, b=1, *, c='x', d=None):\n    return a\n"
           "def g(x=2):\n    return x\n"
           "def _h(y=3):\n"
           "    def inner(z=4):\n        return z\n"
           "    return inner(y)\n")
    calls = ["f(0, 1, c='x')\nm.f(0, d=obj)\ng(*xs)\nm.g(x=5)\n"]
    assert single_value_knobs(src, calls) == [
        "f(b=1) (line 1)", "f(c='x') (line 1)", "_h(y=3) (line 5)"]
    # a call under tests/ does not count; one in any other file does
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_g.py").write_text("m.g(x=5)\n")
    (tmp_path / "tools").mkdir()
    (tmp_path / "tools" / "run.py").write_text("f(0, 2, c='y', d=obj)\n")
    assert single_value_knobs(src, _call_sources(tmp_path)) == [
        "g(x=2) (line 3)", "_h(y=3) (line 5)"]


def test_query_modules_have_no_single_value_knobs():
    calls = _call_sources(ROOT)
    found = {}
    for rel in KNOB_SCOPE:
        bad = [k for k in single_value_knobs((ROOT / rel).read_text(), calls)
               if not k.startswith(KNOB_EXEMPT)]
        if bad:
            found[rel] = bad
    assert found == {}
