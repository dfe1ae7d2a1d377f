"""The per-document loop every parse stage runs (pipeline._parsed_docs),
driven on hand-built Arrow batches without Spark."""

import gc

import pyarrow as pa
import pytest

from closure_html_spark.spark.pipeline import MAX_DOC_BYTES, _parsed_docs


@pytest.fixture(autouse=True)
def _unfreeze():
    """_parsed_docs freezes the heap (gc.freeze()); give the test process
    its collector back."""
    yield
    gc.unfreeze()


def _batch(htmls, content_types=None):
    cols = {"html": pa.array(htmls, pa.binary())}
    if content_types is not None:
        cols["content_type"] = pa.array(content_types, pa.string())
    return pa.RecordBatch.from_pydict(cols)


def test_null_html_yields_type_error_and_neighbours_unshifted():
    got = list(_parsed_docs(_batch([b"<p>a", None, b"<p>b"]),
                            lambda text: text, MAX_DOC_BYTES))
    assert got == [(0, "<p>a", "utf-8"), (1, None, "error:TypeError"),
                   (2, "<p>b", "utf-8")]


def test_oversize_row_is_truncated_and_marked():
    got = list(_parsed_docs(_batch([b"0123456789abcdef", b"short"]),
                            lambda text: text, max_doc_bytes=8))
    assert got == [(0, "01234567", "error:oversize"), (1, "short", "utf-8")]


def test_content_type_charset_seeds_the_decode():
    raw = "caf\xe9".encode("latin-1")
    seeded = list(_parsed_docs(_batch([raw], ["text/html; charset=latin-1"]),
                               lambda text: text, MAX_DOC_BYTES))
    assert seeded == [(0, "caf\xe9", "latin-1")]
    # without the column the default charset decodes, replacing the byte
    plain = list(_parsed_docs(_batch([raw]), lambda text: text,
                              MAX_DOC_BYTES))
    assert plain == [(0, "caf\ufffd", "utf-8")]


def test_raising_work_fails_only_its_row():
    def work(text):
        if "bad" in text:
            raise ZeroDivisionError
        return text.upper()

    got = list(_parsed_docs(_batch([b"ok", b"bad", b"fine"]), work,
                            MAX_DOC_BYTES))
    assert got == [(0, "OK", "utf-8"), (1, None, "error:ZeroDivisionError"),
                   (2, "FINE", "utf-8")]
