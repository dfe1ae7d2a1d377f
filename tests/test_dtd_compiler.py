"""The build-time DTD compiler, tools/dtd_compiler.py, against what it
produced.

The package loads its DTD tables from the four committed JSON artifacts
(closure_html_spark/dtd/); the compiler that wrote them lives outside the
package.  Two checks keep it honest:

  - re-derivation: the primary tables of each committed artifact
    (elements less #PCDATA, entities) go back through CompiledDtd, and
    the derived tables (resolve, roots, surclusion, eqv_class) must come
    out the same.  Ids and list order may differ only because the
    committed JSON sorts element names.
  - the CLI on a small DTD chain written here, which reaches the lexer
    and the grammar: a %param; entity, omitted-tag flags, +(...) and
    -(...), an enum ATTLIST with #IMPLIED, a PUBLIC entity file and an
    IGNORE marked section."""

import importlib.util
import json
import pathlib
import subprocess
import sys
import types

import pytest

from closure_html_spark.dtd import DTD_CATALOG, PCDATA

ROOT = pathlib.Path(__file__).resolve().parents[1]
TOOL = ROOT / "tools" / "dtd_compiler.py"
DTD_DIR = ROOT / "closure_html_spark" / "dtd"


def _compiler():
    spec = importlib.util.spec_from_file_location("dtd_compiler", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _classes(eqv: dict) -> list:
    """eqv_class as a partition, whatever the class ids."""
    groups = {}
    for name, cls in eqv.items():
        groups.setdefault(cls, set()).add(name)
    return sorted(sorted(g) for g in groups.values())


@pytest.mark.parametrize("fname", sorted(DTD_CATALOG.values()))
def test_compiler_rederives_committed_tables(fname):
    C = _compiler()
    data = json.loads((DTD_DIR / fname).read_text())
    elements = {}
    for name, v in data["elements"].items():
        if name == PCDATA:  # CompiledDtd adds the pseudo-element itself
            continue
        el = C.Element(name)
        el.include, el.exclude = v["include"], v["exclude"]
        el.obegin, el.oend = v["obegin"], v["oend"]
        el.attlist = [tuple(a) for a in v["attlist"]]
        elements[name] = el
    # DtdBuilder keeps its entities as an alist, newest first
    builder = types.SimpleNamespace(
        elements=elements, entities=list(reversed(data["entities"].items())))
    compiled = C.CompiledDtd(builder)
    compiled.calculate_resolve_info()
    out = compiled.to_json()
    for key in ("resolve", "roots", "elements", "entities"):
        assert out[key] == data[key], key
    assert _classes(out["eqv_class"]) == _classes(data["eqv_class"])
    assert {k: set(v) for k, v in out["surclusion"].items()} \
        == {k: set(v) for k, v in data["surclusion"].items()}


FRAMESET = """\
<!-- the top file; the catalog names it by its PUBLIC id -->
<!ENTITY % HTMLlat1 PUBLIC "-//W3C//ENTITIES Latin1//EN//HTML">
%HTMLlat1;
<!ENTITY % inline "B | I | A" -- text-level elements -->
<!ENTITY % block "P | DIV">
<!ENTITY % block "P" -- a parameter entity's first definition wins -->
<!ELEMENT HTML O O (HEAD, BODY)>
<!ELEMENT HEAD O O (TITLE) +(META)>
<!ELEMENT TITLE - - (#PCDATA) -(META)>
<!ELEMENT META - O EMPTY>
<!ELEMENT BODY O O (%block;)*>
<!ELEMENT P - O (#PCDATA | %inline;)*>
<!ELEMENT DIV - - (%block; | %inline;)*>
<!ELEMENT (B|I) - - (#PCDATA | %inline;)*>
<!ELEMENT A - - (#PCDATA | B | I)* -(A)>
<!ATTLIST P
  align (left|center|right) #IMPLIED
  id    ID                  #IMPLIED
  title CDATA               #IMPLIED>
<![ IGNORE [
  <!ELEMENT BLINK - - (#PCDATA)>
  <!ATTLIST DIV hidden (hidden) #IMPLIED>
]]>
"""

LATIN1 = """\
<!ENTITY nbsp   CDATA "&#160;" -- no-break space -->
<!ENTITY eacute CDATA "&#233;" -- small e, acute accent -->
"""


def test_compiler_cli_on_small_chain(tmp_path):
    src = tmp_path / "dtd"
    src.mkdir()
    (src / "DTD-HTML-4.0-Frameset").write_text(FRAMESET, encoding="latin-1")
    (src / "Entities-Latin1").write_text(LATIN1, encoding="latin-1")
    out = tmp_path / "out.json"
    run = subprocess.run([sys.executable, str(TOOL), str(src), str(out)],
                         capture_output=True, text=True, check=True)
    assert run.stdout.strip() == ("elements=11 entities=2 resolve=77 "
                                  "roots=['HTML']")
    data = json.loads(out.read_text())
    els = data["elements"]
    inline = ["#PCDATA", "B", "I", "A"]
    assert {k: v["include"] for k, v in els.items()} == {
        PCDATA: [], "HTML": ["HEAD", "BODY"], "HEAD": ["TITLE", "META"],
        "TITLE": ["#PCDATA"], "META": [], "BODY": ["P", "DIV"],
        "P": inline, "DIV": ["P", "DIV", "B", "I", "A"], "B": inline,
        "I": inline, "A": ["#PCDATA", "B", "I"]}
    assert {k: v["exclude"] for k, v in els.items() if v["exclude"]} == {
        "TITLE": ["META"], "A": ["A"]}
    assert sorted(k for k, v in els.items() if v["obegin"]) == [
        "BODY", "HEAD", "HTML"]
    assert sorted(k for k, v in els.items() if v["oend"]) == [
        "BODY", "HEAD", "HTML", "META", "P"]
    assert {k: v["attlist"] for k, v in els.items() if v["attlist"]} == {
        "P": [["ALIGN", ["LEFT", "CENTER", "RIGHT"]], ["ID", "ID"],
              ["TITLE", True]]}
    assert data["entities"] == {"nbsp": "\xa0", "eacute": "\xe9"}
    assert data["roots"] == ["HTML"]
    # implicit closes and opens
    assert data["resolve"]["P|S|P"] == ["E", "P"]
    assert data["resolve"]["HTML|S|P"] == ["S", "BODY"]
    assert data["resolve"]["%top|S|P"] == ["S", "HTML"]


def test_compiler_cli_requires_both_paths(tmp_path):
    run = subprocess.run([sys.executable, str(TOOL), str(tmp_path)],
                         capture_output=True, text=True)
    assert run.returncode != 0
    assert "usage: dtd_compiler.py RESOURCE_DIR OUT.json" in run.stderr
