"""Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03)
as a SHUFFLE-FREE Arrow stage.

The fingerprint set is a pure per-document function, so it belongs in the
same place as the parser: one pipeline.doc_stage whose inner loop is
numpy-vectorized (rolling polynomial hash + sliding-window min), emitting
one row per document with no exchange anywhere in the plan.  A relational
formulation explodes one row per character position (~5,000 rows per 5 KB
doc) and sorts them through a shuffle.

The hash is an engine-portable rolling polynomial over Unicode code points
(h = fold (h*257 + cp) mod 1e9+7), so the relational formulation survives
as two replays of the same definition: the DuckDB oracle
(relational.ORACLE_WINNOW) and an in-Spark SQL twin
(q_winnow_fingerprint_expr in tests/references.py) that the tests diff
against this kernel row-for-row.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

WINNOW_B = 257
WINNOW_M = 1_000_000_007


def winnow_doc(text: str, k: int, w: int) -> np.ndarray | None:
    """Sorted distinct window-min fingerprints of one document, or None if
    the text is shorter than k (no k-gram exists -- the doc is absent from
    the output, matching the SQL formulation's empty UNNEST range).

    Windows at the trailing edge truncate (SQL: ROWS BETWEEN CURRENT ROW
    AND w-1 FOLLOWING), preserving winnowing's guarantee that any shared
    substring of length >= w+k-1 yields a shared fingerprint."""
    cps = np.frombuffer(text.encode("utf-32-le"),
                        dtype=np.uint32).astype(np.int64)
    npos = cps.size - k + 1
    if npos <= 0:
        return None
    h = np.zeros(npos, dtype=np.int64)
    for j in range(k):  # k=8 vectorized passes; values stay < 2^40
        h = (h * WINNOW_B + cps[j:j + npos]) % WINNOW_M
    if npos > w:
        full = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
        suffix = np.minimum.accumulate(h[::-1])[::-1]
        wmins = np.concatenate([full, suffix[npos - w + 1:]])
    else:
        wmins = np.minimum.accumulate(h[::-1])[::-1]
    return np.unique(wmins)


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, n_fps, min_fp) per document -- the q_winnow_fingerprint
    output contract -- computed entirely inside one Arrow batch stage,
    with relational's WINNOW_K-grams and WINNOW_W-windows."""
    from .pipeline import doc_stage
    from .relational import WINNOW_K as k, WINNOW_W as w

    def columns_of(batch):
        take, nfps, minfp = [], [], []
        for idx, text in enumerate(batch.column("text").to_pylist()):
            fps = winnow_doc(text or "", k, w)
            if fps is None:
                continue
            take.append(idx)
            nfps.append(len(fps))
            minfp.append(int(fps[0]))
        return take, [nfps, minfp]

    return doc_stage(docs, ("doc_id",), ["text"], "n_fps long, min_fp long",
                     columns_of)
