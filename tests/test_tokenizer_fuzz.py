"""Differential fuzz: the fused parse engine (pda.sgml_parse, the one
parse_html ships) must serialize identically to the reference loop
(_sgml_parse_ref over the exact char machine) and raise the same warning
multiset, whatever the piece split and the per-DTD memos hold."""

import json
import random
from collections import Counter
from importlib.resources import files

import pytest

from closure_html_spark.dtd import Dtd, load_dtd
from closure_html_spark.parser import pda
from closure_html_spark.parser.pda import (
    parse_html,
    post_mortem_fix_top_level,
    sgml_parse,
)
from closure_html_spark.parser.tokenizer import Tokenizer
from closure_html_spark.serialize import serialize_doc
from references import _sgml_parse_ref

DTD = load_dtd()

ALPHABETS = [
    "<>/=&;'\"abc &#xA d-._:%\n\t![]()",
    "<abc defgh=\"v'& ;\"'>/x ",
    "<a href= = / > \" ' x = 1 & ; !",
    "<>/=&;'\"ap div tble img href src=x &#38; &amp %\n\t![]()",
    # Non-ASCII stressors: Unicode whitespace (NBSP, VT, LS), Unicode
    # digits after '&#' ('²', '٣'), and multibyte letters -- the fast
    # path must reject exactly what the slow machine rejects.
    "<>/=&;'\"a div href=x \xa0\x0b 　 &#² ٣ 1 é漢\n\t",
    # round-5 hunt alphabets (84k-case extended run, 0 diffs): raw-text
    # elements + charset-relevant attrs, and comment/doctype/PI edge soup
    "<script style base meta href= charset=utf-8 > </ ! -- > x & ; \" '",
    "<!-- -- > <! doctype <? proc ?> ]]> <![ x",
]

# One case per piece shape or resync branch of the fused loop.
PIECE_CASES = [
    # quoted attribute value holding '>' and '<': one tag, three pieces
    '<p>a<a title="x>y<z" href=q>link</a>b',
    # comments holding tags or '--' (fallback, resync by piece walk)
    "x<!-- <b>bold</b> -->y<p>z",
    "x<!-- a -- b -->y<p>z<!---->w<!----->v",
    # '<!-->' and '<!>' followed by a tag
    "<!--><b>x</b>y",
    "<!><i>y</i>z<!>",
    # doctype (define tag) and processing instruction
    "<!DOCTYPE html><html><?pi x><p>t<?pi x>",
    # '<' at EOF and '<<'
    "a<",
    "a<<b>c<<",
    # bad char after '<': literal '<', rest of the piece read on
    "<p><3 x >text<b>y</b><3<3>",
    # ##BAD TAG## leaving the cursor mid-piece
    "<a =>text<i>z</i>",
    "</3>x<p>y",
    "<a b=c d e=>f<b>",
    "##BAD TAG##<p>",
    # unterminated start tag: '<' ends it, EOF in the literal
    "<p>t<a href=x<b>u",
    '<p>t<a href="x',
    # entity gaps: memoized decode, exact-machine fallback, EOF context
    "a &amp; b<p>&bogus; c<p>&#999999;<b>&#x41;&#65;</b>&",
    "<ul>x<table>y<td>z</form><tbody></form></tbody>",
]


def _fresh_dtd() -> Dtd:
    """A Dtd with cold memos (load_dtd's instance is shared and warm)."""
    return Dtd(json.loads(
        files("closure_html_spark.dtd").joinpath("dtd.json").read_text()))


def _assert_matches_ref(dtd, fx):
    doc = parse_html(dtd, fx)
    ref = _sgml_parse_ref(dtd, fx, Tokenizer(fx, dtd.entities))
    post_mortem_fix_top_level(ref)
    assert serialize_doc(doc, dtd) == serialize_doc(ref, dtd), fx
    assert Counter(doc.warnings) == Counter(ref.warnings), fx


@pytest.mark.parametrize("alphabet_idx", range(len(ALPHABETS)))
def test_fast_tokenizer_token_identical(alphabet_idx):
    """The shipping parse (parse_html) against the reference loop plus
    the same post-mortem, on every fuzz alphabet."""
    random.seed(alphabet_idx)
    chars = ALPHABETS[alphabet_idx]
    for _ in range(1500):
        fx = "".join(random.choice(chars)
                     for _ in range(random.randrange(1, 160)))
        _assert_matches_ref(DTD, fx)


def test_full_parse_serialization_identical():
    random.seed(99)
    chars = ALPHABETS[3]
    for _ in range(1000):
        fx = "".join(random.choice(chars)
                     for _ in range(random.randrange(1, 250)))
        fast = serialize_doc(parse_html(DTD, fx), DTD)
        doc = _sgml_parse_ref(DTD, fx, Tokenizer(fx, DTD.entities))
        post_mortem_fix_top_level(doc)
        slow = serialize_doc(doc, DTD)
        assert fast == slow, fx


def test_fused_warning_multiset_identical():
    """Entity-heavy differential: fused (memo + inline fast decode) vs the
    reference twin must agree on serialization AND on the warning multiset
    (fused interleaves tokenizer/PDA warnings in stream order, so exact
    order is not pinned -- content and counts are)."""
    random.seed(7)
    frag = ["&amp;", "&lt;", "&bogus;", "&#65;", "&#x41;", "&#999999;",
            "&", "&amp", "<b>", "</b>", "x", " ", "²", "&#x2F;", "&copy",
            ";", "&nb", "<p>", "</p>", "&#", "&#x"]
    for _ in range(3000):
        fx = "".join(random.choices(frag, k=random.randint(1, 30)))
        d1 = sgml_parse(DTD, fx)
        d2 = _sgml_parse_ref(DTD, fx, Tokenizer(fx, DTD.entities))
        assert serialize_doc(d1, DTD) == serialize_doc(d2, DTD), fx
        assert Counter(d1.warnings) == Counter(d2.warnings), fx


def test_pcdata_memo_not_poisoned_by_context():
    """Regression (round-3 find): a gap ending in an INCOMPLETE entity
    ('&', '&#', '&#x') warns differently before '<' vs at EOF; the round-2
    gap memo keyed on raw text alone replayed the first-seen warning for
    both contexts.  Such gaps must bypass the memo."""
    dtd = load_dtd()
    for mid, eof_warn, mid_warn in [
        ("a&", "EOF in entity", "after '&'"),
        ("a&#", "EOF in entity", "Bad character after '&#'"),
        ("a&#x", "EOF after '&#x'", "after '&#x'"),
    ]:
        # same raw gap, '<' context first, then EOF context (and reversed)
        d1 = sgml_parse(dtd, f"{mid}<b>x")
        d2 = sgml_parse(dtd, mid)
        assert any(mid_warn in m for _, m in d1.warnings), (mid, d1.warnings)
        assert any(eof_warn in m for _, m in d2.warnings), (mid, d2.warnings)


@pytest.mark.parametrize("window", [pda._WINDOW, 16])
def test_piece_boundary_cases(window, monkeypatch):
    """Every piece shape and resync branch against the reference, with
    cold and warm memos in both case orders (so a memo entry made in one
    context is replayed in others), at the shipping window and at a tiny
    one that makes the window refill and cross-window resync run."""
    monkeypatch.setattr(pda, "_WINDOW", window)
    for order in (PIECE_CASES, PIECE_CASES[::-1]):
        dtd = _fresh_dtd()
        for _ in range(2):  # cold, then warm
            for fx in order:
                _assert_matches_ref(dtd, fx)
    # the cases glued into one document cross every boundary again
    _assert_matches_ref(_fresh_dtd(), "".join(PIECE_CASES[:-1]) * 3)


def test_tiny_window_fuzz(monkeypatch):
    monkeypatch.setattr(pda, "_WINDOW", 16)
    random.seed(16)
    for chars in ALPHABETS:
        for _ in range(300):
            fx = "".join(random.choice(chars)
                         for _ in range(random.randrange(1, 400)))
            _assert_matches_ref(DTD, fx)


def test_piece_split_and_fallback_scan_linear(monkeypatch):
    """Characters split into pieces plus characters the char machine
    consumes stay within 3x the document length on a 1 MB document made
    of fallback pieces; a resync that re-splits behind the cursor fails
    here as soon as it crosses the bound."""
    unit = ('<3 x >lt storm <!-- <b>tag</b> in comment --> '
            '<a title="1>2" href=q>quoted gt</a><p>')
    doc = unit * (1_000_000 // len(unit))
    bound = 3 * len(doc)
    scanned = [0]

    class CountingSplit:
        def findall(self, s, start, end):
            scanned[0] += end - start
            assert scanned[0] <= bound, "piece split rescans the document"
            return real_split.findall(s, start, end)

    def counting_slow_token(dtd, tk, i):
        tok, j = real_slow(dtd, tk, i)
        scanned[0] += j - i
        assert scanned[0] <= bound, "char machine rescans the document"
        return tok, j

    real_split, real_slow = pda._PIECE, pda._slow_token
    monkeypatch.setattr(pda, "_PIECE", CountingSplit())
    monkeypatch.setattr(pda, "_slow_token", counting_slow_token)
    sgml_parse(DTD, doc)
    assert len(doc) <= scanned[0] <= bound


def test_tag_memo_keeps_out_one_off_junk():
    """10k unique '<3 word n>' pieces (literal '<' plus text, read by the
    char machine) must not enter the whole-piece tag memo: only the clean
    tags do, so junk cannot fill its 65536 cap for the worker's life."""
    dtd = _fresh_dtd()
    page = "".join(f"<p><3 word {j}>x</p>" for j in range(10_000))
    before = len(dtd.tag_cache)
    parse_html(dtd, page)
    assert len(dtd.tag_cache) - before <= 2  # '<p>' and '</p>'
