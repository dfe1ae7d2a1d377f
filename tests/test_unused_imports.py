"""Static checks: no module of the package imports a name it never uses,
no function of `spark/relational.py` or `spark/multimodal.py` takes a
parameter it never reads, no defaulted parameter of the query modules is
a knob that every call leaves at one value, and no top-level name of the
package is read only by tests.

Stdlib only (`ast`): a name bound by `import` / `from ... import` at any
depth must be read somewhere in the same module.  `from __future__`
imports are exempt.  The parameter check covers `def` functions only:
lambdas handed to Spark (zip_with, aggregate, transform) must keep the
arity Spark calls them with.  The knob check covers the defaulted
parameters of top-level `def`s: some call in the repo's `.py` files
outside `tests/` must pass each one a value whose source text differs
from its default, or the value belongs in a module constant.  A value
that only a test sets is no option; a test patches the constant.  The
read check covers every top-level def, class and assigned name of the
package, private ones included: code outside `tests/` must read it, or
it is on the exemption list with a reason."""

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


def _sources(root: pathlib.Path) -> dict[str, str]:
    """Path relative to root -> text of the `.py` files under root whose
    calls and reads count: none under a dot directory or under `tests/`."""
    out = {}
    for p in sorted(root.rglob("*.py")):
        parts = p.relative_to(root).parts
        if parts[0] != "tests" and not any(d.startswith(".") for d in parts):
            out["/".join(parts)] = p.read_text()
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
    assert single_value_knobs(src, list(_sources(tmp_path).values())) == [
        "g(x=2) (line 3)", "_h(y=3) (line 5)"]


def test_query_modules_have_no_single_value_knobs():
    calls = list(_sources(ROOT).values())
    found = {}
    for rel in KNOB_SCOPE:
        bad = [k for k in single_value_knobs((ROOT / rel).read_text(), calls)
               if not k.startswith(KNOB_EXEMPT)]
        if bad:
            found[rel] = bad
    assert found == {}


# top-level names of the package that no code outside tests/ reads and
# that stay, keyed by module path relative to the package, each with its
# reason
UNREAD_EXEMPT = {
    # closure-html API reproductions that COVERAGE.md maps to reference
    # functions
    "serialize.doc_to_lhtml": "lhtml-builder and ppt; the golden tests' "
                              "format",
    "serialize.lhtml_to_doc": "serialize-lhtml's input direction, "
                              "lhtml.lisp:145-171",
    "serialize._escape_dtd_string": "the dtd-char escape table, defined "
                                    "and uncalled in the reference too",
    "author.with_html_output": "the with-html-output macros",
    "dtd.shortest_path": "shortest-path*",
    "mime.find_mime_type": "find-mime-type, net/mime.lisp",
    "mime.find_mime_type_from_extension": "find-mime-type-from-extension, "
                                          "net/mime.lisp",
    "parser.normalize.canon_value": "canon-value, which the reference "
                                    "defines and never calls",
    "parser.pda.check_saneness": "check-saneness",
    # references that tests compare the program against
    "parser.pda._sgml_parse_ref": "the char-machine twin of sgml_parse "
                                  "that the tokenizer fuzz pin replays",
    "spark.relational.q_winnow_fingerprint_expr": "the relational "
        "definition q_winnow_fingerprint's numpy kernel is checked against",
    "warc.split_warc_file": "the WARC reader that checks the WET sink and "
                            "the --py-files job's output",
    "spark.sinks.read_jsonl_sharded": "the reader that checks the JSONL "
                                      "sink",
}


def unread_top_level(sources: dict[str, str], package: str,
                     roots=()) -> list[str]:
    """Top-level defs, classes and assigned names of the modules under
    `package/` in `sources` (relative path -> text) that nothing reads
    but their own statement or that of another such name, as
    `module.name (line N)` with the module relative to the package.
    Names in `roots` count as read.  Reads match by name: a load of a
    bare name or an attribute, or the original name of an aliased
    `from ... import ... as`.  Dunder names are not counted."""
    defs = {}
    # name -> the key sets bound by the top-level statements reading it
    reads = collections.defaultdict(list)
    for rel, text in sources.items():
        module = None
        if rel.startswith(package + "/"):
            module = rel[len(package) + 1:-3].replace("/", ".") \
                .removesuffix("__init__").rstrip(".")
        for top in ast.parse(text).body:
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef,
                                ast.ClassDef)):
                names = [top.name]
            elif isinstance(top, (ast.Assign, ast.AnnAssign)):
                targets = (top.targets if isinstance(top, ast.Assign)
                           else [top.target])
                names = [n.id for t in targets for n in ast.walk(t)
                         if isinstance(n, ast.Name)]
            else:
                names = []
            owner = set()
            if module is not None:
                for name in names:
                    if not (name.startswith("__") and name.endswith("__")):
                        key = f"{module}.{name}".lstrip(".")
                        defs.setdefault(key, (name, module, top.lineno))
                        owner.add(key)
            for n in ast.walk(top):
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                    reads[n.id].append(owner)
                elif isinstance(n, ast.Attribute) and isinstance(n.ctx,
                                                                 ast.Load):
                    reads[n.attr].append(owner)
                elif isinstance(n, ast.ImportFrom):
                    for a in n.names:
                        if a.asname not in (None, a.name):
                            reads[a.name].append(owner)
    # a read counts when its statement binds no package name or binds
    # one already read: grow the read set from the roots to a fixed
    # point, so names that only read each other stay unread
    read = set(roots)
    while True:
        now = read | {key for key, (name, _, _) in defs.items()
                      if any(key not in owner and (not owner or owner & read)
                             for owner in reads[name])}
        if now == read:
            return [f"{key} (line {line})" for key, (_, _, line)
                    in sorted(defs.items(), key=lambda kv: kv[1][1:])
                    if key not in read]
        read = now


def stale_exemptions(sources: dict[str, str], package: str,
                     exempt) -> list[str]:
    """Entries of `exempt` that are not unread without it: the name is
    gone, or some code outside tests/ now reads it."""
    unread = {s.split(" ")[0] for s in unread_top_level(sources, package)}
    return sorted(set(exempt) - unread)


def test_unread_checker_flags_orphans_and_keeps_read():
    sources = {
        "pkg/a.py": ("X = 1\n_CACHE = None\n"
                     "def used():\n    return X\n"
                     "def orphan():\n    return helper()\n"
                     "def helper():\n    return orphan()\n"
                     "def load():\n    global _CACHE\n    _CACHE = 2\n"
                     "def kept():\n    return 3\n"),
        "pkg/sub/__init__.py": "Y = 4\n",
        "pkg/sub/b.py": "from ..a import used\n"
                        "def sib():\n    return used()\n",
        "tool.py": "import pkg.a\nfrom pkg.sub import b\n"
                   "b.sib()\npkg.a.load()\n",
    }
    # orphan and helper only read each other; _CACHE is written, never
    # read; Y is read by nothing; used, read by a sibling module, is
    # kept, and so is the X it reads
    assert unread_top_level(sources, "pkg") == [
        "a._CACHE (line 2)", "a.orphan (line 5)", "a.helper (line 7)",
        "a.kept (line 12)", "sub.Y (line 1)"]
    assert unread_top_level(sources, "pkg", roots={"a.orphan", "a.kept"}) \
        == ["a._CACHE (line 2)", "sub.Y (line 1)"]
    # an exemption rots when its name is gone or gains a reader
    assert stale_exemptions(sources, "pkg", {"a.kept", "a.gone"}) \
        == ["a.gone"]
    sources["tool.py"] += "pkg.a.kept()\n"
    assert stale_exemptions(sources, "pkg", {"a.kept"}) == ["a.kept"]


def test_package_has_no_unread_top_level_names():
    assert unread_top_level(_sources(ROOT), "closure_html_spark",
                            roots=UNREAD_EXEMPT) == []


def test_unread_exemptions_are_still_unread():
    assert stale_exemptions(_sources(ROOT), "closure_html_spark",
                            UNREAD_EXEMPT) == []
