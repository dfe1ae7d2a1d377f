"""get_spark's session settings, and the worker daemon it names."""

import json
import pathlib
import subprocess
import sys

from closure_html_spark.spark.session import DAEMON_MODULE

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_dataframe_call_site_capture_is_off(spark):
    """get_spark turns off PySpark's per-Column call-site capture on the
    builder, before any Column method can cache the setting process-wide:
    with it on, every Column method walks the stack and makes ~10 py4j
    round trips."""
    from pyspark.errors.utils import is_debugging_enabled
    from pyspark.sql import functions as F
    F.col("x") + 1
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_daemon_module_preloads_then_freezes():
    """Importing the daemon module without running it as __main__ loads
    pyarrow and the parse stage but not pandas, makes pandas
    unimportable with the daemon's own message, loads the DTD and
    freezes the heap, and returns: PySpark's manager loop runs only
    under `python -m`."""
    code = (
        "import gc, json, sys\n"
        "want = ('pyarrow', 'pandas', 'closure_html_spark.spark.pipeline')\n"
        "before = [m for m in want if m in sys.modules]\n"
        f"import {DAEMON_MODULE}\n"
        "from closure_html_spark import dtd\n"
        "after = [m for m in want if m in sys.modules]\n"
        "try:\n"
        "    import pandas\n"
        "    err = None\n"
        "except ModuleNotFoundError as e:\n"
        "    err = str(e)\n"
        "print(json.dumps({'before': before, 'after': after, 'err': err,\n"
        "    'dtds': sorted(dtd._DTDS), 'frozen': gc.get_freeze_count()}))\n")
    res = subprocess.run([sys.executable, "-c", code], cwd=str(ROOT),
                         capture_output=True, text=True, timeout=120,
                         stdin=subprocess.DEVNULL)
    assert res.returncode == 0, res.stderr[-3000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    assert got["before"] == []
    assert got["after"] == ["pyarrow", "closure_html_spark.spark.pipeline"]
    assert got["err"] is not None and DAEMON_MODULE in got["err"] \
        and "mapInArrow" in got["err"], got["err"]
    assert got["dtds"] == ["html-4.0-frameset"]
    assert got["frozen"] > 0


def test_workers_fork_from_the_preload_daemon(spark):
    """get_spark names the daemon module in the session conf, and a Python
    worker's parent process is that daemon, started as `python -m
    closure_html_spark.spark.daemon`."""
    assert spark.conf.get("spark.python.daemon.module") == DAEMON_MODULE

    def probe(batches):
        import os

        import pyarrow as pa
        for _ in batches:
            pass
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            argv = [a.decode() for a in f.read().split(b"\0") if a]
        yield pa.RecordBatch.from_pydict({"argv": [argv]})

    got = (spark.range(2).repartition(2)
           .mapInArrow(probe, "argv array<string>").collect())
    assert len(got) == 2
    for r in got:
        argv = list(r["argv"])
        assert argv[argv.index("-m") + 1] == DAEMON_MODULE, argv


def _python_procs_under(pid: int) -> list[int]:
    """Every process descended from `pid`: the daemons and workers of a
    JVM."""
    children: dict[int, list[int]] = {}
    for stat in pathlib.Path("/proc").glob("[0-9]*/stat"):
        try:
            data = stat.read_text()
        except OSError:
            continue
        # the parent pid follows the parenthesised command name
        ppid = int(data[data.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(stat.parent.name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def test_no_worker_imports_pandas(spark):
    """Every Python stage shape runs without pandas in the worker: the
    HTML stages, pdf, warc and a numpy kernel whose
    Array.to_numpy(zero_copy_only=False) calls pyarrow's pandas probe.
    Afterwards a mapInArrow probe finds no pandas module in the workers,
    and no Python process under the JVM maps a pandas library."""
    import numpy as np
    from pyspark.sql import functions as F

    from closure_html_spark.spark import relational as R
    from closure_html_spark.spark.pdfs import pdf_extract_pages
    from closure_html_spark.spark.pipeline import (
        extract_pages,
        nodes_of,
        serialize_pages,
    )
    from closure_html_spark.spark.warcs import warc_records_to_pages

    pages = spark.createDataFrame(
        [(f"https://x.ex/{i}", bytearray(
            f"<title>t{i}</title><p>body {i}<a href=/a>a</a>".encode()))
         for i in range(8)], "url string, html binary").repartition(4)
    assert extract_pages(pages).count() == 8
    assert serialize_pages(pages).count() == 8
    assert nodes_of(pages).count() > 8

    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>hi"
    record = (b"WARC/1.0\r\nWARC-Type: response\r\n"
              b"WARC-Target-URI: https://x.ex/w\r\n"
              b"Content-Type: application/http; msgtype=response\r\n"
              b"Content-Length: " + str(len(http)).encode()
              + b"\r\n\r\n" + http)
    body = b"BT (hello) Tj ET"
    pdf = (b"%PDF-1.4\n4 0 obj<</Length " + str(len(body)).encode()
           + b">>stream\n" + body + b"\nendstream\nendobj\n%%EOF\n")
    recs = spark.createDataFrame([(i, bytearray(record), bytearray(pdf))
                                  for i in range(4)],
                                 "k long, record binary, pdf binary")
    assert [r.html for r in warc_records_to_pages(
        recs.repartition(4), ("k",)).collect()] == [b"<p>hi"] * 4
    assert [r.pdf_text for r in pdf_extract_pages(
        recs.repartition(4), ("k",)).collect()] == ["hello"] * 4

    mat = np.arange(4 * R._EMB_DIM, dtype=np.float32).reshape(4, -1)
    norms = np.sqrt((mat.astype(np.float64) ** 2).sum(axis=1))
    bc = spark.sparkContext.broadcast((np.arange(4), mat, norms))
    pairs = spark.range(4).select(F.col("id").alias("a"),
                                  ((F.col("id") + 1) % 4).alias("b"))
    assert R._np_pair_dot_bcast(pairs.repartition(4), bc, "a", "b") \
        .count() == 4

    def probe(batches):
        import os
        import sys
        import time

        import pyarrow as pa
        # hold the task so that each partition gets its own worker
        time.sleep(1.0)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "pandas": ["pandas" in sys.modules]})

    got = (spark.range(4).repartition(4)
           .mapInArrow(probe, "pid long, pandas boolean").collect())
    assert len({r.pid for r in got}) == 4
    assert not any(r.pandas for r in got), got

    jvm = spark.sparkContext._gateway.proc.pid
    mapped = {}
    for pid in _python_procs_under(jvm):
        try:
            maps = pathlib.Path(f"/proc/{pid}/maps").read_text()
        except OSError:
            continue
        if "/pandas/" in maps:
            mapped[pid] = pathlib.Path(f"/proc/{pid}/cmdline").read_bytes()
    assert mapped == {}
