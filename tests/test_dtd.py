"""DTD compilation spot-checks (SURVEY.md §7 step 2).

Expected values read off the DTD sources:
  BODY O O        DTD-HTML-4.0-Transitional (body optional tags)
  BR - O EMPTY
  A -(A)          anchors may not nest
  FORM -(FORM)
plus resolve-table entries driving the classic implicit closures."""

import hashlib
from importlib.resources import files

from closure_html_spark.dtd import DTD_CATALOG, load_dtd

DTD = load_dtd()


def test_roots():
    assert DTD.roots == {"HTML"}


def test_optional_tags():
    assert DTD.obegin["BODY"] and DTD.oend["BODY"]
    assert not DTD.obegin["BR"] and DTD.oend["BR"]
    assert DTD.obegin["HEAD"] and DTD.oend["HEAD"]
    assert not DTD.obegin["P"] and DTD.oend["P"]


def test_empty_elements():
    for e in ("BR", "HR", "IMG", "INPUT", "META", "LINK", "BASE", "FRAME",
              "COL", "ISINDEX", "PARAM", "AREA", "BASEFONT"):
        assert e in DTD.empty, e
    assert "P" not in DTD.empty
    assert "#PCDATA" in DTD.empty


def test_exclusions_parsed():
    assert DTD.exclude["A"] == {"A"}
    assert DTD.exclude["FORM"] == {"FORM"}


def test_resolve_entries():
    # <p> auto-closes on a following <p>
    assert DTD.resolve[("P", "S", "P")] == ("E", "P")
    # text at top level opens <html>
    assert DTD.resolve[("%top", "S", "#PCDATA")] == ("S", "HTML")
    assert DTD.resolve[("HTML", "S", "P")] == ("S", "BODY")
    # <option> implicit close
    assert DTD.resolve[("OPTION", "S", "OPTION")] == ("E", "OPTION")
    # li legal directly
    assert ("UL", "S", "LI") not in DTD.resolve  # already legal
    assert "LI" in DTD.include["UL"]


def test_entities_decoded():
    e = DTD.entities
    assert e["nbsp"] == "\xa0"
    assert e["amp"] == "&"
    assert e["lt"] == "<"
    assert e["euro"] == "€"
    assert e["Aacute"] == "\xc1"
    assert len(e) > 240


def test_attlists():
    al = dict(DTD.attlist["OPTION"])
    assert al["SELECTED"] == ["SELECTED"]
    assert al["ID"] == "ID"
    assert al["CLASS"] is True
    assert dict(DTD.attlist["TD"])["COLSPAN"] == "NUMBER"


def test_eqv_classes():
    # H1..H6 share inclusion but have distinct surclusions? sanity: an element
    # is equivalent to itself and P is not equivalent to TABLE
    assert DTD.eqv_eq("P", "P")
    assert not DTD.eqv_eq("P", "TABLE")
    # TH and TD have identical content model and parents
    assert DTD.eqv_eq("TH", "TD")


# sha256 of the committed DTD artifacts, the runtime's only DTD source;
# tools/dtd_compiler.py wrote them and tests/test_dtd_compiler.py
# re-derives their tables
DTD_SHA256 = {
    "dtd.json":
        "6f5a376a4b52ce0b0bde8ec5ce66c23885d60251743dd536090dad3e21318ca6",
    "dtd_html40_strict.json":
        "51548e7ff30503da3550470d2d449c47f2d73b82708fbb9965e7e74f55ba5ffc",
    "dtd_html40_transitional.json":
        "8b64ef6403cdcb9bd28cb6612dd78a5c41a9531d5decb57dbc639a51b56fac54",
    "dtd_netscape_bookmark.json":
        "99d70880e9ef3cb26b5df553182a1ff8bd27f1d04c9beb697a56eb2865bb2af1",
}


def test_dtd_artifacts_pinned():
    assert sorted(DTD_CATALOG.values()) == sorted(DTD_SHA256)
    pkg = files("closure_html_spark.dtd")
    assert {f: hashlib.sha256(pkg.joinpath(f).read_bytes()).hexdigest()
            for f in DTD_SHA256} == DTD_SHA256
