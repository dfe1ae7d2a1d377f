"""Static checks: no module of the package imports a name it never uses,
no function of `spark/relational.py` or `spark/multimodal.py` takes a
parameter it never reads, no defaulted parameter of the package is a
knob that code outside `tests/` leaves at one value or never leaves at
its default, no top-level name of the package is read only by tests, and
no top-level name is bound in two of its modules.

Stdlib only (`ast`): a name bound by `import` / `from ... import` at any
depth must be read somewhere in the same module.  `from __future__`
imports are exempt.  The parameter check covers `def` functions only:
lambdas handed to Spark (zip_with, aggregate, transform) must keep the
arity Spark calls them with.  The knob check covers the defaulted
parameters of every top-level `def` of the package and of
`__spark_entry__.py`: the code outside `tests/` must take each default
somewhere and give the parameter more than one constant value, or the
value belongs in a module constant (a test patches the constant) or the
parameter is required.  The read check covers every top-level def, class
and assigned name of the package, private ones included: code outside
`tests/` must read it, or it is on the exemption list with a reason.
The read check resolves each read to the module it reads from (the
module's own file, an import from it, or an attribute of a name bound
to it), so a same-named name elsewhere keeps nothing alive.  The knob
check matches by name, which the one-binding-per-name check makes
unambiguous inside the package."""

import ast
import collections
import pathlib
import re

import closure_html_spark

PKG = pathlib.Path(closure_html_spark.__file__).parent
ROOT = pathlib.Path(__file__).resolve().parents[1]
# defaulted parameters the knob check lets stand, keyed
# `module.function(parameter)` with the module relative to the package,
# each with its reason.  Only two kinds of reason hold: a closure-html API
# the reference can execute, reproduced as COVERAGE.md maps it, or a call
# shape of the frozen benchmark (perfbench/).
KNOB_EXEMPT = {
    "serialize.serialize_doc(nid)": "serialize-pt serializes any pt node, "
                                    "not only the root",
    "serialize.serialize_doc(public_id)": "hax:start-document's doctype "
                                          "arguments, unparse.lisp:68-84",
    "serialize.serialize_doc(system_id)": "hax:start-document's doctype "
                                          "arguments, unparse.lisp:68-84",
    "serialize.serialize_doc(doctype_name)": "hax:start-document's doctype "
                                             "arguments, unparse.lisp:68-84",
    "serialize.doc_to_lhtml(nid)": "ppt and lhtml-builder render any pt "
                                   "node",
    "author.with_html_output(name)": "with-html-output's keyword "
                                     "arguments, unparse.lisp:247-262",
    "author.with_html_output(public_id)": "with-html-output's keyword "
                                          "arguments, unparse.lisp:247-262",
    "author.with_html_output(system_id)": "with-html-output's keyword "
                                          "arguments, unparse.lisp:247-262",
    "parser.normalize.canon_value(warn)": "canon-value's warnings, "
                                          "sgml-parse.lisp:866-896",
    "parser.charset.decode_html(default)": "perfbench/htmlwork.py:164 "
                                           "passes it positionally",
}


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


def _sources(root: pathlib.Path) -> dict[str, str]:
    """Path relative to root -> text of the `.py` files under root whose
    calls and reads count: none under a dot directory or under `tests/`."""
    out = {}
    for p in sorted(root.rglob("*.py")):
        parts = p.relative_to(root).parts
        if parts[0] != "tests" and not any(d.startswith(".") for d in parts):
            out["/".join(parts)] = p.read_text()
    return out


def _module_of(rel: str, package: str) -> str | None:
    """`rel`'s module name relative to `package` ("" for its __init__),
    or None for a file outside it."""
    if not rel.startswith(package + "/"):
        return None
    return rel[len(package) + 1:-3].replace("/", ".") \
        .removesuffix("__init__").rstrip(".")


def _params(fn) -> list[tuple]:
    """(position or None, name, default node or None) of each named
    parameter of `fn`; keyword-only parameters have no position."""
    a = fn.args
    pos = a.posonlyargs + a.args
    defaults = [None] * (len(pos) - len(a.defaults)) + a.defaults
    return ([(i, p.arg, d) for i, (p, d) in enumerate(zip(pos, defaults))]
            + [(None, p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)])


def _constant(text: str) -> bool:
    """A literal, a module constant (an UPPER_CASE name or attribute), or
    a tuple, list or arithmetic of those."""
    def const(n):
        if isinstance(n, ast.Constant):
            return True
        if isinstance(n, ast.Name):
            return n.id.isupper()
        if isinstance(n, ast.Attribute):
            return n.attr.isupper()
        if isinstance(n, (ast.Tuple, ast.List, ast.Set)):
            return all(map(const, n.elts))
        if isinstance(n, ast.UnaryOp):
            return const(n.operand)
        if isinstance(n, ast.BinOp):
            return const(n.left) and const(n.right)
        return False
    try:
        return const(ast.parse(text, mode="eval").body)
    except SyntaxError:  # a `*args` / `**kwargs` stand-in
        return False


def single_value_knobs(sources: dict[str, str], package: str,
                       extra=()) -> list[str]:
    """Defaulted parameters of the top-level defs of the modules under
    `package/` and of the files in `extra`, among `sources` (relative
    path -> text), that the code in `sources` does not use as options:
    `module.f(p) (line N): ...`, module relative to the package (an
    `extra` file by its stem).

    Every use of a def, matched by name, gives each parameter values.  A
    call (`f(...)` or `x.f(...)`, positional arguments by position) gives
    the source text of the argument it passes, or the default when it
    leaves the argument out; a reference that is not a call (a registry
    entry, a callback) takes every default.  An argument after a `*args`
    or beside a `**kwargs` is unknown and counts as varying.  An argument
    that is a bare parameter of the enclosing top-level def, never
    rebound in it, forwards that parameter's values, resolved to a fixed
    point.  A parameter fails when no use takes its default, or when it
    has one value and that value is a constant expression."""
    defs = {}
    for rel, text in sources.items():
        module = (_module_of(rel, package) if rel not in extra
                  else rel.removesuffix(".py"))
        if module is None:
            continue
        for fn in ast.parse(text).body:
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.setdefault(fn.name, []).append((module, fn))
    values = collections.defaultdict(set)    # (def, param) -> texts
    forwards = collections.defaultdict(set)  # (def, param) -> its sources
    taken = set()                            # (def, param) defaulted by a use

    def forwarded(arg, scopes):
        if not isinstance(arg, ast.Name):
            return None
        for fn in reversed(scopes):
            a = fn.args
            if arg.id in {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs
                          + [a.vararg, a.kwarg] if p is not None}:
                rebound = any(isinstance(n, ast.Name) and n.id == arg.id
                              and isinstance(n.ctx, ast.Store)
                              for n in ast.walk(fn))
                top = fn is scopes[0] and getattr(fn, "name", None) in defs
                return (fn.name, arg.id) if top and not rebound else None
        return None

    def use(name, call, scopes):
        given, star, stars = {}, None, None
        if call is not None:
            for i, arg in enumerate(call.args):
                if isinstance(arg, ast.Starred):
                    star = ast.unparse(arg)
                    break
                given[i] = arg
            for kw in call.keywords:
                if kw.arg is None:
                    stars = "**" + ast.unparse(kw.value)
                else:
                    given[kw.arg] = kw.value
        for i, p, d in _params(defs[name][0][1]):
            arg = given.get(p, given.get(i))
            unknown = stars if i is None else star or stars
            if arg is not None:
                src = forwarded(arg, scopes)
                if src is not None:
                    forwards[name, p].add(src)
                else:
                    values[name, p].add(ast.unparse(arg))
            elif unknown is not None:
                values[name, p].add(unknown)
            elif d is not None:
                values[name, p].add(ast.unparse(d))
                taken.add((name, p))

    def visit(node, scopes):
        children = list(ast.iter_child_nodes(node))
        if isinstance(node, ast.Call):
            callee = node.func
            name = getattr(callee, "id", getattr(callee, "attr", None))
            if name in defs:
                use(name, node, scopes)
            children.remove(callee)
            if isinstance(callee, ast.Attribute):
                children.append(callee.value)
        elif isinstance(node, (ast.Name, ast.Attribute)) \
                and isinstance(node.ctx, ast.Load):
            name = getattr(node, "id", getattr(node, "attr", None))
            if name in defs:
                use(name, None, scopes)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.Lambda)):
            scopes = scopes + [node]
        for child in children:
            visit(child, scopes)

    for text in sources.values():
        visit(ast.parse(text), [])
    changed = True
    while changed:
        changed = False
        for key, srcs in forwards.items():
            for src in srcs:
                if not values[src] <= values[key]:
                    values[key] |= values[src]
                    changed = True
    found = []
    for name, fns in defs.items():
        for module, fn in fns:
            for _, p, d in _params(fn):
                if d is None:
                    continue
                vals = sorted(values[name, p])
                if (name, p) not in taken:
                    why = "no use takes it"
                elif len(vals) == 1 and _constant(vals[0]):
                    why = "its one value"
                else:
                    continue
                found.append(f"{module}.{name}({p})".lstrip(".")
                             + f" (line {fn.lineno}): default "
                             f"{ast.unparse(d)}, {why}; {vals}")
    return found


def test_knob_checker_flags_single_value_defaults(tmp_path):
    sources = {
        "pkg/a.py": ("K = 4\n"
                     "def f(a, b=1, *, c='x', d=None):\n    return a\n"
                     "def wrap(v, width=None):\n    return pad(v, width)\n"
                     "def pad(v, width=None):\n"
                     "    def inner(z=4):\n        return z\n"
                     "    return inner(v)\n"
                     "def reg(s, w=8):\n    return s\n"
                     "def cli(p=None, *, q=K):\n    return p\n"),
        "tool.py": ("from pkg.a import f, wrap, pad, reg, cli\n"
                    "f(0, 1, c='x')\nm.f(0, d=obj)\n"
                    "wrap(1)\npad(3)\n"
                    "REGISTRY = {'q': reg}\nreg(0, w=16)\n"
                    "cli(args.path)\ncli(*xs)\ncli(q=K)\n"),
    }
    # b and c: every use gives the default's value.  width: wrap forwards
    # its own parameter, so pad's width is only ever wrap's default.  q:
    # a module constant is a constant expression, and *xs fills no
    # keyword-only parameter.  The registry entry takes reg's w=8 beside
    # the call's 16; cli's p varies with a computed value and *xs;
    # nested defs are not checked.
    assert single_value_knobs(sources, "pkg") == [
        "a.f(b) (line 2): default 1, its one value; ['1']",
        "a.f(c) (line 2): default 'x', its one value; [\"'x'\"]",
        "a.wrap(width) (line 4): default None, its one value; ['None']",
        "a.pad(width) (line 6): default None, its one value; ['None']",
        "a.cli(q) (line 12): default K, its one value; ['K']"]
    # a default that only a test takes: a call under tests/ does not
    # count, one in any other file does
    (tmp_path / "pkg").mkdir()
    (tmp_path / "pkg" / "b.py").write_text("def opt(x=2):\n    return x\n")
    (tmp_path / "tools").mkdir()
    (tmp_path / "tools" / "run.py").write_text("opt(x=5)\nopt(x=n)\n")
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_b.py").write_text("opt()\n")
    assert single_value_knobs(_sources(tmp_path), "pkg") == [
        "b.opt(x) (line 1): default 2, no use takes it; ['5', 'n']"]
    (tmp_path / "tools" / "run.py").write_text("opt(x=5)\nopt()\n")
    assert single_value_knobs(_sources(tmp_path), "pkg") == []


def _knobs(sources: dict[str, str]) -> list[str]:
    return single_value_knobs(sources, "closure_html_spark",
                              ("__spark_entry__.py",))


def test_query_modules_have_no_single_value_knobs():
    """Every top-level def of the package and of __spark_entry__.py."""
    assert [k for k in _knobs(_sources(ROOT))
            if k.split(" ")[0] not in KNOB_EXEMPT] == []


def test_knob_exemptions_are_still_knobs():
    found = {k.split(" ")[0] for k in _knobs(_sources(ROOT))}
    assert sorted(set(KNOB_EXEMPT) - found) == []


# top-level names of the package that no code outside tests/ reads and
# that stay, keyed by module path relative to the package, each with its
# reason.  Only one kind of reason holds: a closure-html API reproduction
# that COVERAGE.md maps to a reference function.  A reference that tests
# compare the program against lives in tests/references.py instead.
UNREAD_EXEMPT = {
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
}


def test_unread_exemptions_are_coverage_mapped():
    """An exemption is a reproduction of a closure-html function, so
    COVERAGE.md, which maps each reference function to ours, names it."""
    coverage = (ROOT / "COVERAGE.md").read_text()
    assert [key for key in UNREAD_EXEMPT
            if not re.search(r"(?<!\w)%s(?!\w)" % key.rsplit(".", 1)[1],
                             coverage)] == []


def _bound_names(top) -> list[str]:
    """The names a top-level statement binds by def, class or assignment,
    dunder names left out."""
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
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _import_source(node: ast.ImportFrom, rel: str, package: str) -> str | None:
    """The module, relative to `package`, that the `from ... import` in
    file `rel` reads from: relative imports resolved against the file's
    own package at any depth, absolute ones by prefix; None for a module
    outside the package."""
    if node.level == 0:
        name = node.module or ""
        if name != package and not name.startswith(package + "."):
            return None
        return name[len(package) + 1:]
    module = _module_of(rel, package)
    if module is None:
        return None
    parts = module.split(".") if module else []
    if not rel.endswith("/__init__.py"):
        parts = parts[:-1]  # a plain module's package is its parent
    if node.level - 1 > len(parts):
        return None
    parts = parts[:len(parts) - (node.level - 1)]
    return ".".join(parts + (node.module.split(".") if node.module else []))


def _join(module: str, name: str) -> str:
    return f"{module}.{name}".lstrip(".")


def _bindings(tree, rel: str, package: str, modules: set[str]):
    """What the imports of file `rel` bind, anywhere in the file: local
    name -> set of ("module", m) for a module of the package, or
    ("name", m, x) for the name x of module m (modules relative to the
    package)."""
    bound = collections.defaultdict(set)
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            for a in n.names:
                if a.asname is None:
                    if a.name.split(".")[0] == package:
                        bound[package].add(("module", ""))
                elif a.name == package or a.name.startswith(package + "."):
                    bound[a.asname].add(("module", a.name[len(package) + 1:]))
        elif isinstance(n, ast.ImportFrom):
            m = _import_source(n, rel, package)
            if m is None:
                continue
            for a in n.names:
                sub = _join(m, a.name)
                bound[a.asname or a.name].add(
                    ("module", sub) if sub in modules else ("name", m, a.name))
    return bound


def unread_top_level(sources: dict[str, str], package: str,
                     roots=()) -> list[str]:
    """Top-level defs, classes and assigned names of the modules under
    `package/` in `sources` (relative path -> text) that nothing reads
    but their own statement or that of another such name, as
    `module.name (line N)` with the module relative to the package.
    Names in `roots` count as read.  Dunder names are not counted.

    Reads resolve by module: a load of `x` reads `m.x` only when the
    loading file is module m and loads the bare name `x`, or loads a name
    that the file's imports bind to `x` of m (`from m import x [as y]`,
    relative imports resolved at any depth), or loads the attribute `x`
    of a name bound to module m (`R.x` with `R` bound to m by `import
    ... as R` or `from ... import m`, `pkg.m.x` after `import pkg.m`).
    A same-named `x` of another module, or an attribute `x` of anything
    else, reads nothing."""
    modules = {_module_of(rel, package) for rel in sources} - {None}
    defs = {}
    # key -> the key sets bound by the top-level statements reading it
    reads = collections.defaultdict(list)
    for rel, text in sources.items():
        module = _module_of(rel, package)
        tree = ast.parse(text)
        bound = _bindings(tree, rel, package, modules)

        def module_of(e):
            """The package modules expression `e` may name."""
            if isinstance(e, ast.Name):
                return {b[1] for b in bound[e.id] if b[0] == "module"}
            if isinstance(e, ast.Attribute):
                return {_join(m, e.attr) for m in module_of(e.value)} \
                    & modules
            return set()

        for top in tree.body:
            owner = set()
            if module is not None:
                for name in _bound_names(top):
                    key = _join(module, name)
                    defs.setdefault(key, (name, module, top.lineno))
                    owner.add(key)
            for n in ast.walk(top):
                if not isinstance(getattr(n, "ctx", None), ast.Load):
                    continue
                keys = set()
                if isinstance(n, ast.Name):
                    if module is not None:
                        keys.add(_join(module, n.id))
                    keys |= {_join(b[1], b[2]) for b in bound[n.id]
                             if b[0] == "name"}
                elif isinstance(n, ast.Attribute):
                    keys |= {_join(m, n.attr) for m in module_of(n.value)}
                for key in keys:
                    reads[key].append(owner)
    # a read counts when its statement binds no package name or binds
    # one already read: grow the read set from the roots to a fixed
    # point, so names that only read each other stay unread
    read = set(roots)
    while True:
        now = read | {key for key in defs
                      if any(key not in owner and (not owner or owner & read)
                             for owner in reads[key])}
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


def test_unread_checker_resolves_reads_by_module():
    sources = {
        "pkg/a.py": ("def main():\n    return 1\n"
                     "def run():\n    return 2\n"
                     "K = 3\nQ = 4\n"),
        "pkg/deep/er/c.py": ("from ...a import run as go\n"
                             "def f():\n    return go()\n"),
        "pkg/r.py": "def q_x():\n    return 0\ndef q_y():\n    return 0\n",
        "tool.py": ("def main():\n    return 0\n"
                    "from pkg.deep.er import c\nfrom pkg import r as R\n"
                    "c.f()\nR.q_x()\nobj.q_y()\nprint(K)\n"
                    "if __name__ == '__main__':\n    main()\n"),
    }
    # run is read through an aliased import three levels up, c.f through
    # the module c, q_x through the module alias R.  tool.py's main() calls
    # its own main, K is its own unbound name and obj is no module, so
    # a.main, a.K and r.q_y stay unread; nothing reads a.Q
    assert unread_top_level(sources, "pkg") == [
        "a.main (line 1)", "a.K (line 5)", "a.Q (line 6)", "r.q_y (line 3)"]


def test_package_has_no_unread_top_level_names():
    assert unread_top_level(_sources(ROOT), "closure_html_spark",
                            roots=UNREAD_EXEMPT) == []


def test_unread_exemptions_are_still_unread():
    assert stale_exemptions(_sources(ROOT), "closure_html_spark",
                            UNREAD_EXEMPT) == []


def duplicate_top_level(sources: dict[str, str], package: str) -> list[str]:
    """Top-level names that more than one module under `package/` binds
    by def, class or assignment, as `name: module, module, ...`.  An
    import of a name defined elsewhere binds nothing here."""
    where = collections.defaultdict(list)
    for rel, text in sources.items():
        module = _module_of(rel, package)
        if module is not None:
            for top in ast.parse(text).body:
                for name in _bound_names(top):
                    if module not in where[name]:
                        where[name].append(module)
    return [f"{name}: {', '.join(mods)}" for name, mods in sorted(where.items())
            if len(mods) > 1]


def test_duplicate_checker_flags_names_bound_twice():
    sources = {
        "pkg/a.py": "X = 1\nX = 2\ndef f():\n    return X\n",
        "pkg/sub/__init__.py": "from ..a import X\nclass f:\n    pass\n",
        "pkg/sub/b.py": "Y, (X, _z) = 1, (2, 3)\n__all__ = []\n",
        "pkg/c.py": "__all__ = []\n_z = 0\n",
        "tool.py": "X = f = 0\n",
    }
    assert duplicate_top_level(sources, "pkg") == [
        "X: a, sub.b", "_z: sub.b, c", "f: a, sub"]


def test_package_binds_each_top_level_name_once():
    assert duplicate_top_level(_sources(ROOT), "closure_html_spark") == []


# the one function of the package that may call mapInArrow or build a
# RecordBatch: every Python stage, the numpy kernels included, runs
# through it
ARROW_STAGE = "spark.pipeline.doc_stage"


def _call_name(func) -> str:
    """A called attribute's name, with `RecordBatch.` kept in front of
    from_arrays so that ListArray.from_arrays and the like are not
    counted as batch builds."""
    recv = func.value
    if func.attr == "from_arrays" and "RecordBatch" in (
            getattr(recv, "attr", None), getattr(recv, "id", None)):
        return "RecordBatch.from_arrays"
    return func.attr


def stage_calls(sources: dict[str, str], package: str,
                allowed: set[str]) -> list[str]:
    """How the top-level defs of the modules under `package/` in
    `sources` (relative path -> text) run Python over Arrow batches, as
    `module.f: ...` lines, module relative to the package: a def that
    calls mapInPandas, a def outside `allowed` that calls mapInArrow or
    RecordBatch.from_arrays, and an `allowed` def that no longer calls
    mapInArrow.  A call anywhere in a def's body, nested functions
    included, counts."""
    callers = collections.defaultdict(set)  # method -> qualified defs
    for rel, text in sources.items():
        module = _module_of(rel, package)
        if module is None:
            continue
        for top in ast.parse(text).body:
            if not isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for n in ast.walk(top):
                if isinstance(n, ast.Call) \
                        and isinstance(n.func, ast.Attribute):
                    callers[_call_name(n.func)].add(
                        f"{module}.{top.name}".lstrip("."))
    return sorted(
        [f"{f}: calls mapInPandas" for f in callers["mapInPandas"]]
        + [f"{f}: calls {m}"
           for m in ("mapInArrow", "RecordBatch.from_arrays")
           for f in callers[m] - allowed]
        + [f"{f}: no longer calls mapInArrow"
           for f in allowed - callers["mapInArrow"]])


def test_stage_checker_flags_stray_arrow_stages():
    sources = {
        "pkg/run.py": ("def stage(df, fn):\n"
                       "    return df.mapInArrow(fn, 'x int')\n"),
        "pkg/a.py": ("def ok(df):\n    return stage(df, None)\n"
                     "def shell(df):\n"
                     "    def fn(bs):\n        yield from bs\n"
                     "    return df.select('x').mapInArrow(fn, 'x int')\n"
                     "def pandas(df):\n"
                     "    return df.mapInPandas(lambda b: b, 'x int')\n"
                     "def gone(df):\n    return df\n"
                     "def batch(cols):\n"
                     "    pa.ListArray.from_arrays(cols[0], cols[1])\n"
                     "    return pa.RecordBatch.from_arrays(cols, ['x'])\n"
                     "def bare(cols):\n"
                     "    return RecordBatch.from_arrays(cols, ['x'])\n"
                     "def lists(cols):\n"
                     "    return pa.ListArray.from_arrays(*cols)\n"),
        "tool.py": "def f(df):\n    return df.mapInPandas(g, 'x int')\n",
    }
    assert stage_calls(sources, "pkg", {"run.stage", "a.gone"}) == [
        "a.bare: calls RecordBatch.from_arrays",
        "a.batch: calls RecordBatch.from_arrays",
        "a.gone: no longer calls mapInArrow",
        "a.pandas: calls mapInPandas",
        "a.shell: calls mapInArrow"]
    assert stage_calls(sources, "pkg", {"run.stage", "a.shell"}) == [
        "a.bare: calls RecordBatch.from_arrays",
        "a.batch: calls RecordBatch.from_arrays",
        "a.pandas: calls mapInPandas"]


def test_python_stages_run_through_doc_stage():
    assert stage_calls(_sources(ROOT), "closure_html_spark",
                       {ARROW_STAGE}) == []
