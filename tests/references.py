"""References the tests compare the program against.

Each is the plain or reference-faithful form of something the package
does a faster or fused way, or a reader for what a package sink writes.
None runs in production, so none ships in the package:

  - normalized_tokens and _sgml_parse_ref: the reference's read-token*
    and main loop (sgml-parse.lisp:921-957, 1025-1106) over the exact
    char machine, the twin pda.sgml_parse's fused engine is pinned
    against (tests/test_tokenizer_fuzz.py);
  - q_winnow_fingerprint_expr: the relational definition of
    q_winnow_fingerprint, which its numpy kernel must reproduce
    (tests/test_plans.py);
  - split_warc_file: a WARC file splitter, which reads back the WET sink
    and the --py-files job's output (tests/test_warc.py,
    tests/test_sinks.py, tests/test_spark_submit.py);
  - read_jsonl_sharded: the reader of the JSONL sink (tests/test_sinks.py).

No `test_` prefix, so pytest does not collect it; test modules import
from it by name (pytest puts tests/ on sys.path)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from closure_html_spark.dtd import PCDATA, PRESERVES_COMMENTS, TOP, Dtd
from closure_html_spark.parser.normalize import mungle_attlist
from closure_html_spark.parser.pda import (
    _MAX_STEPS_SLACK,
    Doc,
    _etag,
    _heuristic,
    _stag,
)
from closure_html_spark.parser.tokenizer import Tokenizer
from closure_html_spark.spark.relational import (
    WINNOW_K,
    WINNOW_W,
    _winnow_hash_expr,
)
from closure_html_spark.spark.tables import read_table
from closure_html_spark.warc import _CRLF2, _parse_headers


def normalized_tokens(tokenizer, dtd: Dtd):
    """Generator over normalized tokens, ending with ("E", "%top")."""
    warn = tokenizer.warn
    for tok in tokenizer.tokens():
        kind = tok[0]
        if kind == "pcdata":
            yield ("S", PCDATA, tok[1])
        elif kind == "start" or kind == "empty":
            if kind == "empty":
                # read-token* :empty-tag (sgml-parse.lisp:941)
                warn(2, "Oops -- there is an empty tag; but this is only HTML?!")
            name = tok[1]
            if dtd.tag_exists(name):
                yield ("S", name, mungle_attlist(dtd, name, tok[2], warn))
            else:
                warn(4, f"There is no such thing as <{name}> -- ignored.")
        elif kind == "end":
            name = tok[1]
            if dtd.tag_exists(name):
                yield ("E", name)
            else:
                warn(4, f"There is no such thing as </{name}> -- ignored.")
        elif kind == "comment":
            yield ("C", tok[1])
        elif kind == "pi":
            # read-token* :experimental-tag (sgml-parse.lisp:952)
            warn(2, f"Ignoreing processing instruction tag: '{tok[1]}'")
            continue
        elif kind == "define":
            continue
        elif kind == "eof":
            yield ("E", TOP)
            return


def _sgml_parse_ref(dtd: Dtd, text: str, tokenizer: Tokenizer) -> Doc:
    """Direct transcription of the reference main loop (sgml-parse.lisp:
    1025-1106); kept as the differential-testing twin of the fused engine."""
    toks = list(normalized_tokens(tokenizer, dtd))
    tk = tokenizer
    n_toks = len(toks)
    ti = 0

    doc = Doc()
    root = doc.add("%root", None, None, -1)
    s = root

    # local bindings for the hot loop (doc.add inlined below)
    d_name = doc.name
    d_attrs = doc.attrs
    d_text = doc.text
    d_parent = doc.parent
    d_end = doc.end

    stack = [_stag(TOP)]
    ein: list = []
    include_map = dtd.include
    roots = dtd.roots
    empty = dtd.empty
    resolve = dtd.resolve

    # runaway guard: transitions that never consume input are bounded
    budget = 10 * len(text) + _MAX_STEPS_SLACK

    while True:
        budget -= 1
        if budget < 0:
            tk.warn(5, "parser step budget exceeded -- document truncated")
            break
        while len(ein) < 2 and ti < n_toks:
            ein.append(toks[ti])
            ti += 1

        # ---- transition (sgml-parse.lisp:1111-1172), applied inline ----
        top = stack[-1] if stack else None
        if top is not None and top[1] == PCDATA:
            stack.pop()
            d_end[s] = len(d_name)
            s = d_parent[s]
            continue
        if not ein:
            break  # accept (stack empty) or error; either way we are done
        see = ein[0]
        kind = see[0]
        if kind == "C":
            del ein[0]
            if top is not None and top[1] in PRESERVES_COMMENTS:
                d_name.append(PCDATA)
                d_attrs.append(None)
                d_text.append(see[1])
                d_parent.append(s)
                d_end.append(len(d_name))
            continue
        if kind == "E" and top is not None and top[1] == see[1]:
            stack.pop()
            del ein[0]
            d_end[s] = len(d_name)
            s = d_parent[s]
            continue
        top_inc = None
        if top is not None:
            tn = top[1]
            top_inc = roots if tn == TOP else include_map[tn]
        if kind == "S" and top is not None and see[1] in top_inc:
            del ein[0]
            nid = len(d_name)
            if see[1] in empty:
                if see[1] == PCDATA:
                    d_name.append(PCDATA)
                    d_attrs.append(None)
                    d_text.append(see[2])
                else:
                    d_name.append(see[1])
                    d_attrs.append(see[2])
                    d_text.append(None)
                d_parent.append(s)
                d_end.append(nid + 1)
            else:
                stack.append(see)
                d_name.append(see[1])
                d_attrs.append(see[2])
                d_text.append(None)
                d_parent.append(s)
                d_end.append(0)
                s = nid
            continue
        if (kind == "S" and see[1] == PCDATA and top is not None
                and see[2].strip(" \t\n\r\x0c") == ""
                and PCDATA not in top_inc):
            del ein[0]  # ignorable whitespace (:1157-1161)
            continue
        if not stack:
            tk.warn(5, f"Oops empty stack in TRANSITION on {see!r}.")
            break
        x = resolve.get((top[1], kind, see[1]))
        if x is not None:
            ein.insert(0, _stag(x[1]) if x[0] == "S" else _etag(x[1]))
            continue
        ein = _heuristic(dtd, tk, top, ein)

    while s >= 0:  # nodes still open at EOF or on a break
        d_end[s] = len(d_name)
        s = d_parent[s]
    doc.warnings = tk.warnings
    doc.root = root
    return doc


def q_winnow_fingerprint_expr(spark, sf_dir):
    """The relational formulation of q_winnow_fingerprint (explode one row
    per char position + window min): kept as the executable DEFINITION the
    Arrow kernel is differentially tested against, not as the scale path."""
    docs = read_table(spark, sf_dir, "documents")
    grams = (docs
             .select("doc_id", "text",
                     F.explode(F.sequence(F.lit(1),
                                          F.length("text") - (WINNOW_K - 1)))
                      .alias("pos"))
             .filter(F.length("text") >= WINNOW_K)
             .select("doc_id", "pos",
                     F.expr(_winnow_hash_expr("pos")).alias("h")))
    win = Window.partitionBy("doc_id").orderBy("pos") \
                .rowsBetween(0, WINNOW_W - 1)
    fps = (grams.withColumn("wmin", F.min("h").over(win))
           .select("doc_id", F.col("wmin").alias("fp"))
           .distinct())
    return (fps.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_fps"),
                 F.min("fp").alias("min_fp"))
            .orderBy("doc_id"))


def _record_end_by_length(data: bytes, j: int) -> int | None:
    """Exclusive end index of the payload of the record whose WARC/
    magic sits at j, derived from its Content-Length header; None when
    the headers are truncated or the length is absent/broken/past EOF
    (the caller then falls back to magic resync)."""
    m = _CRLF2.search(data, j)
    if not m:
        return None
    head = data[j:m.start()]
    first_nl = head.find(b"\n")
    headers = _parse_headers(head[first_nl + 1:] if first_nl >= 0 else b"")
    try:
        clen = int(headers.get("content-length", ""))
    except ValueError:
        return None
    end = m.end() + clen
    if clen < 0 or end > len(data):
        return None
    return end


def split_warc_file(data: bytes) -> list[bytes]:
    """Split a (decompressed) .warc file into record slices.  Records
    are walked by their Content-Length header first (ISO 28500's own
    framing -- a payload containing blank lines or even an embedded
    "WARC/" magic cannot break the split); magic resync on the next
    blank-line + WARC/ boundary is the fallback when a length is
    absent, corrupt, or does not land on a record boundary, so one bad
    length cannot swallow the rest of the file."""
    out = []
    i = 0
    n = len(data)
    while i < n:
        j = data.find(b"WARC/", i)
        if j < 0:
            break
        end = _record_end_by_length(data, j)
        if end is not None:
            # consume the record-terminating blank lines (two CRLFs per
            # ISO 28500; tolerate bare LFs and sink-added newlines)
            k = end
            while k < n and data[k] in (0x0D, 0x0A):
                k += 1
            if k == n or data.startswith(b"WARC/", k):
                out.append(data[j:k])
                i = k
                continue
            # length did not land on a record boundary: corrupt length,
            # fall through to magic resync
        k = data.find(b"\r\n\r\nWARC/", j)
        if k < 0:
            k2 = data.find(b"\n\nWARC/", j)
            if k2 < 0:
                out.append(data[j:])
                break
            out.append(data[j:k2 + 2])
            i = k2 + 2
            continue
        out.append(data[j:k + 4])
        i = k + 4
    return out


def read_jsonl_sharded(spark: SparkSession, path: str,
                       schema: str) -> DataFrame:
    """Read a write_jsonl_sharded layout back: shard from the directory
    name, fields from the JSON lines."""
    raw = spark.read.text(f"{path}/shard=*")
    shard = F.regexp_extract(F.input_file_name(), r"shard=(\d+)", 1)
    return (raw.select(F.from_json("value", schema).alias("r"),
                       shard.cast("long").alias("shard"))
            .select("r.*", "shard"))
