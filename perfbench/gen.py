"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (``random.Random(seed)`` and
``numpy.random.default_rng(seed)``), independent of the repository's own
synthesis code, so a change to the program can never change the inputs.
Each HTML page carries its ground truth next to the row the program sees:
the planted payload paragraphs (which must survive main-content extraction)
and the nav/footer boilerplate markers (which must not).
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

import numpy as np

# a fixed vocabulary: lowercase ASCII words, none of which contains the
# boilerplate markers below
_VOCAB = (
    "data table query stream batch index shard page crawl token parse "
    "node tree block span score text link title body head frame record "
    "vector merge join sort hash filter window group order value column "
    "row schema field string number array struct map key range limit "
    "offset cache spill memory worker driver stage task job plan scan "
    "write read load store copy move split trim clean dedup match cluster "
    "graph edge vertex path walk depth width height size count sum mean "
    "median quantile sample seed random noise signal model train test "
    "eval metric loss gain rate time wall clock cycle core thread lock "
    "queue heap stack list set bag tuple pair triple river mountain ocean "
    "forest desert valley harbor bridge castle garden market station "
    "library museum theater school college village city country island "
    "winter summer spring autumn morning evening night sunrise sunset "
    "storm breeze thunder rain snow cloud shadow light colour music "
    "rhythm melody chorus verse story novel poem letter journal diary "
    "history science physics chemistry biology geology astronomy "
    "economics politics culture language grammar syntax semantics"
).split()
_ACCENTED = ("café", "naïve", "déjà", "façade", "señor", "über", "crème",
             "fiancée", "résumé", "jalapeño")
_CP1252_ONLY = ("€", "—", "“quoted”", "‘single’", "…", "™")
# entity spelling -> decoded character, restricted to named entities of
# the HTML 4 DTD and decimal character references
_ENTITIES = (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
             ("&quot;", '"'), ("&eacute;", "é"), ("&copy;", "©"),
             ("&#233;", "é"), ("&#8364;", "€"), ("&uuml;", "ü"),
             ("&mdash;", "—"))

NAV_MARK = "zqnavmark"
FOOT_MARK = "zqfootmark"

KINDS = ("clean", "table_soup", "list_soup", "unclosed", "misnest",
         "entity", "script_comment", "hostile")
# page-kind mix of the crawl workloads; hostile pages are a few percent
_KIND_WEIGHTS = (0.30, 0.12, 0.10, 0.12, 0.10, 0.10, 0.12, 0.04)
HOSTILE_SHAPES = ("deep_nest", "pcdata_flood", "lt3_storm")


@dataclass
class Page:
    url: str
    html: bytes
    content_type: str | None
    kind: str
    charset: str              # the charset the bytes are encoded in
    title: str
    payload: list = field(default_factory=list)   # must be in main_text

    @property
    def row(self) -> tuple:
        return (self.url, self.html, self.content_type)


class _Text:
    """Sentence pool: paragraphs are drawn from a few thousand seeded
    sentences, which keeps generation fast at tens of MB per run."""

    def __init__(self, rng: random.Random, n_sentences: int = 2000):
        self.rng = rng
        self.sentences = []
        for _ in range(n_sentences):
            words = rng.choices(_VOCAB, k=rng.randint(6, 16))
            s = " ".join(words)
            self.sentences.append(s[0].upper() + s[1:] + ".")

    def paragraph(self, n_bytes: int) -> str:
        out, size = [], 0
        while size < n_bytes:
            s = self.rng.choice(self.sentences)
            out.append(s)
            size += len(s) + 1
        return " ".join(out)


def _lognormal_size(rng: random.Random, median: float, sigma: float,
                    lo: int, hi: int) -> int:
    return int(min(hi, max(lo, rng.lognormvariate(math.log(median), sigma))))


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _nav(rng: random.Random) -> str:
    links = " ".join(f"<a href=/s{rng.randint(0, 999)}>{NAV_MARK} "
                     f"{rng.choice(_VOCAB)}</a>" for _ in range(rng.randint(3, 8)))
    return f"<div id=nav>{links}</div>"


def _footer(rng: random.Random) -> str:
    return (f"<div class=footer><a href=/c>{FOOT_MARK} contact</a> "
            f"<a href=/t>{FOOT_MARK} terms</a> &copy; 2026</div>")


def _decorate(rng: random.Random, text: str, charset: str) -> tuple[str, str]:
    """Adds charset-specific characters (and entity spellings on entity
    pages) to a payload paragraph: returns (html_form, decoded_form)."""
    if charset == "utf-8":
        return _esc(text), text
    extras = _ACCENTED + (_CP1252_ONLY if charset == "windows-1252" else ())
    # one non-ASCII word after every sentence
    plain = " ".join(s + " " + rng.choice(extras)
                     for s in text.split(". "))
    return _esc(plain), plain


def _entity_paragraph(rng: random.Random, text: str) -> tuple[str, str]:
    html_w, plain_w = [], []
    for w in text.split(" "):
        if rng.random() < 0.3:
            ent, ch = rng.choice(_ENTITIES)
            html_w.append(ent + w)
            plain_w.append(ch + w)
        else:
            html_w.append(w)
            plain_w.append(w)
    return " ".join(html_w), " ".join(plain_w)


def _payload_block(kind: str, inner: str, rng: random.Random) -> str:
    """Wraps one payload paragraph in its page kind's markup.  The payload
    text always stays inside one P block so it forms one contiguous span."""
    if kind == "table_soup":
        return f"<table><tr><td><p>{inner}<td>{rng.choice(_VOCAB)}</table>"
    if kind == "list_soup":
        items = "".join(f"<li>{rng.choice(_VOCAB)}" for _ in range(3))
        return f"<ul>{items}</ul><p>{inner}"
    if kind == "unclosed":
        return f"<div><p>{inner}"
    if kind == "misnest":
        return f"<center><font size=2><p>{inner}</center></font>"
    return f"<p>{inner}</p>"


def _head_extras(kind: str, rng: random.Random) -> str:
    if kind == "script_comment":
        return ("<style>p { color: #333 } .nav > a { margin: 0 }</style>"
                "<script>var s = '<p>zqscript</p>'; if (a < b && c > d) "
                "{ run(); }</script><!-- <p>commented out</p> -->")
    return ""


def _body_extras(kind: str, rng: random.Random) -> str:
    if kind == "script_comment":
        return ("<script>document.write('<div>zqscript</div>');</script>"
                "<!-- tracking pixel <img src=/x.gif> -->")
    if kind == "table_soup":
        return ("<table width=100%><td>left<td><b>x</table>"
                "<table><form action=/s><tr><td><input name=q></table>")
    return ""


def _hostile_body(shape: str, target: int, text: _Text,
                  rng: random.Random) -> tuple[str, list]:
    if shape == "deep_nest":
        depth = rng.randint(300, 900)
        para = text.paragraph(200)
        body = ("<div>" * depth + f"<p>{_esc(para)}</p>" + "</div>" * depth)
        return body, [para]
    if shape == "pcdata_flood":
        para = text.paragraph(max(500, target - 600))
        return f"<p>{_esc(para)}</p>", [para]
    # '<3' storm: stray '<' before digits is character data, not markup
    reps = max(20, (target - 400) // 24)
    para = " ".join(f"i <3 {rng.choice(_VOCAB)} {i % 10}<2"
                    for i in range(reps))
    return f"<p>{para}</p>", [para]


def crawl_pages(seed: int, n: int) -> list[Page]:
    """The CC-style page mix: log-normal sizes (median ~5 KB, clipped to
    1-30 KB), eight page kinds, a non-UTF-8 share declared in <meta> or
    only in the Content-Type header."""
    rng = random.Random(seed)
    text = _Text(random.Random(seed ^ 0x5EED))
    pages = []
    for i in range(n):
        kind = rng.choices(KINDS, _KIND_WEIGHTS)[0]
        target = _lognormal_size(rng, 5000, 0.7, 1000, 30000)
        r = rng.random()
        # charset: 12% windows-1252, 6% iso-8859-1; declared either in a
        # <meta> or (one page in three) only in the HTTP header
        charset = ("windows-1252" if r < 0.12
                   else "iso-8859-1" if r < 0.18 else "utf-8")
        in_header = charset != "utf-8" and rng.random() < 1 / 3
        meta = ""
        if charset == "windows-1252" and not in_header:
            meta = ('<meta http-equiv="Content-Type" '
                    'content="text/html; charset=windows-1252">')
        elif charset == "iso-8859-1" and not in_header:
            meta = "<meta charset=iso-8859-1>"
        if in_header:
            ctype = f"text/html; charset={charset}"
        else:
            ctype = rng.choice(("text/html", "text/html; charset=utf-8",
                                None))
        title = f"{rng.choice(_VOCAB).title()} {rng.choice(_VOCAB)} {i}"
        head = (f"<html><head>{meta}<title>{_esc(title)}</title>"
                f"{_head_extras(kind, rng)}</head><body>")
        parts = [head, _nav(rng), _body_extras(kind, rng)]
        payload = []
        if kind == "hostile":
            shape = rng.choice(HOSTILE_SHAPES)
            body, payload = _hostile_body(shape, target, text, rng)
            parts.append(body)
        else:
            n_par = rng.randint(2, 6)
            fixed = sum(len(p) for p in parts) + 300
            per = max(120, (target - fixed) // n_par)
            for _ in range(n_par):
                para = text.paragraph(per)
                if kind == "entity":
                    inner, plain = _entity_paragraph(rng, para)
                else:
                    inner, plain = _decorate(rng, para, charset)
                parts.append(_payload_block(kind, inner, rng))
                payload.append(plain)
        parts.append(_footer(rng))
        parts.append("</body></html>")
        html = "".join(parts).encode(charset)
        pages.append(Page(url=f"https://host{rng.randint(0, 199)}.example/"
                              f"p/{seed}/{i}",
                          html=html, content_type=ctype, kind=kind,
                          charset=charset, title=title, payload=payload))
    return pages


# (shape, MB) rungs of the size ladder.  The span-heavy shape stops at
# 4 MB: main-content reassembly cost grows with span count, and larger
# rungs would make a single run too slow on a parent that is quadratic.
# The tag-dense shape stops at 4 MB: a 16 MB page is ~3M DOM nodes and
# ~9 s of single-core parsing, which would set the wall of every pass.
LADDER = (("span_heavy", 0.5), ("span_heavy", 1), ("span_heavy", 2),
          ("span_heavy", 4),
          ("tag_dense", 1), ("tag_dense", 2), ("tag_dense", 4),
          ("pcdata_dense", 1), ("pcdata_dense", 4), ("pcdata_dense", 16))
SPAN_BYTES = 6400          # span-heavy paragraph size: ~160 spans per MB


def _ladder_doc(shape: str, mb: float, text: _Text, rng: random.Random,
                seed: int, idx: int) -> Page:
    target = int(mb * 1024 * 1024)
    title = f"ladder {shape} {mb} MB"
    parts = [f"<html><head><title>{title}</title></head><body>",
             _nav(rng)]
    payload = []
    size = sum(len(p) for p in parts) + 200
    if shape == "span_heavy":
        while size < target:
            para = text.paragraph(SPAN_BYTES)
            parts.append(f"<p>{para}</p>")
            payload.append(para)
            size += len(para) + 7
    elif shape == "tag_dense":
        # inline markup around every word, 64 KB per block
        tags = ("b", "i", "em", "span", "strong", "code")
        while size < target:
            words = []
            blk = 0
            while blk < 65536:
                t = rng.choice(tags)
                w = rng.choice(_VOCAB)
                words.append(f"<{t}>{w}</{t}>")
                blk += 2 * len(t) + len(w) + 6
            block = f"<div><p>{' '.join(words)}</p></div>"
            parts.append(block)
            size += len(block)
    else:  # pcdata_dense: 8 paragraphs of plain text, whatever the size
        per = max(1024, (target - size) // 8)
        for _ in range(8):
            para = text.paragraph(per)
            parts.append(f"<p>{para}</p>")
            payload.append(para)
    parts.append(_footer(rng))
    parts.append("</body></html>")
    return Page(url=f"https://ladder.example/{seed}/{idx}/{shape}/{mb}",
                html="".join(parts).encode("utf-8"),
                content_type="text/html; charset=utf-8", kind=shape,
                charset="utf-8", title=title, payload=payload)


def ladder_pages(seed: int) -> list[Page]:
    rng = random.Random(seed)
    text = _Text(random.Random(seed ^ 0x1ADD), n_sentences=4000)
    return [_ladder_doc(shape, mb, text, rng, seed, i)
            for i, (shape, mb) in enumerate(LADDER)]


def page_stats(pages: list[Page]) -> dict:
    """Input properties printed with every run."""
    sizes = sorted(len(p.html) for p in pages)

    def q(f):
        return sizes[min(len(sizes) - 1, int(f * len(sizes)))]
    n = len(pages)
    return {
        "rows": n,
        "mb": round(sum(sizes) / 1e6, 3),
        "size_p10_p50_p90_max": [q(0.1), q(0.5), q(0.9), sizes[-1]],
        "non_utf8_share": round(sum(p.charset != "utf-8" for p in pages) / n, 4),
        "header_only_charset_share": round(sum(
            p.charset != "utf-8" and b"charset" not in p.html[:300]
            for p in pages) / n, 4),
        "soup_share": round(sum(p.kind in ("table_soup", "list_soup",
                                           "unclosed", "misnest")
                                for p in pages) / n, 4),
        "hostile_share": round(sum(p.kind == "hostile" for p in pages) / n, 4),
        "kinds": {k: sum(p.kind == k for p in pages)
                  for k in sorted({p.kind for p in pages})},
    }


# --- near-dup tables ------------------------------------------------------

EMB_DIM = 64


def _groups(rng: random.Random, n: int, share: float) -> list[int]:
    """Group sizes summing to n: near-dup clusters of 2-20 (a fixed size
    schedule, so every seed has the same cluster mix) covering about
    `share` of n, and singletons, in seeded order."""
    sizes, total, k = [], 0, 0
    while total + 2 <= share * n:
        size = 2 + (k * 7) % 19
        sizes.append(size)
        total += size
        k += 1
    sizes += [1] * (n - total)
    rng.shuffle(sizes)
    return sizes


def dedup_tables(seed: int, n_docs: int, n_vecs: int):
    """documents/embeddings tables with the testdata schemas.  About 20%
    of documents are perturbed copies in clusters of 2-20, plus one
    boilerplate mega-cluster of byte-identical pages, large enough to pass
    the shingle document-frequency cap.  Embeddings get the same cluster
    structure with small Gaussian perturbations (no exact ties)."""
    rng = random.Random(seed)
    text = _Text(random.Random(seed ^ 0xD0C5), n_sentences=4000)
    langs = ("en", "de", "fr", "zh", "es")
    mega = max(60, n_docs // 40)
    boiler = text.paragraph(300).lower().rstrip(".")
    docs = []
    for _ in range(mega):
        _add_doc(docs, boiler, langs, rng)
    groups = _groups(rng, n_docs - mega, 0.2)
    for size in groups:
        words = text.paragraph(rng.randint(40, 560)).lower().split(" ")
        for c in range(size):
            w = list(words)
            for _ in range(rng.randint(1, 3) if c else 0):
                w[rng.randrange(len(w))] = rng.choice(_VOCAB)
            _add_doc(docs, " ".join(w), langs, rng)
    nrng = np.random.default_rng(seed)
    vecs = np.empty((n_vecs, EMB_DIM), dtype=np.float32)
    labels = nrng.integers(0, 5, n_vecs).astype(np.int32)
    vgroups = _groups(rng, n_vecs, 0.2)
    i = 0
    for size in vgroups:
        base = nrng.normal(0, 1, EMB_DIM)
        for c in range(size):
            v = base + (nrng.normal(0, 0.15, EMB_DIM) if c else 0)
            vecs[i] = v / np.linalg.norm(v) * 0.9
            i += 1
    stats = {
        "documents_rows": len(docs), "embeddings_rows": n_vecs,
        "near_dup_doc_share": round(
            (mega + sum(g for g in groups if g > 1)) / len(docs), 4),
        "near_dup_vec_share": round(
            sum(g for g in vgroups if g > 1) / n_vecs, 4),
        "hot_cluster_size": mega,
        "cluster_count": sum(g > 1 for g in groups),
        "text_mb": round(sum(len(d[1]) for d in docs) / 1e6, 3),
    }
    return docs, vecs, labels, stats


def _add_doc(docs: list, body: str, langs: tuple, rng: random.Random):
    i = len(docs)
    docs.append((i, body, rng.choice(langs), f"src{i % 7}", len(body)))
